"""Similarity-search queries on the embeddings table + duckdb oracles.

The LSH hyperplanes are fixed literals shared between the Spark plan and
the oracle SQL, so the approximate variants are value-exact reproducible.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from aristoteles_spark.queries.dedup import minlabel_chain
from aristoteles_spark.operators.barrier import audit_barrier
from aristoteles_spark.operators.similarity import (
    hyperplanes,
    knn_brute,
    knn_ivf,
    knn_lsh,
    neardup_pairs,
)
from aristoteles_spark.sources.parquet_source import fan_out, load_table

DIM = 64
K = 5
QUERY_MOD = 50  # query set = vec_id % 50 == 0 (10 queries at sf0.01)
NEARDUP_T = 0.35
TRI_T = 0.1  # looser edge threshold for the triangle census (denser graph)

# ADAPTIVE signature width — the inverse of the k-means-seed lesson
# (SURVEY §8.6): a FIXED plane count is a strategy parameter that must
# scale with data. With h fixed at 6 the 64 buckets each hold n/64
# vectors and the bucket self-join's candidate mass grows as n²/64 —
# the round-4 100× sweep measured gr2 at ×186 (bound ×150) from exactly
# this. h now grows one bit per corpus doubling toward a ~32-vector
# target bucket, clamped to [6, 12]; the formula is integer bin-length,
# bit-identical in Python and the SQL oracles (the px1 convention), and
# every oracle-checked scale (sf0.001/0.01/0.1) lands in the h=6 clamp
# so driver results are unchanged. Production LSH recovers the recall
# cost of narrower buckets with multiple plane tables (OR-
# amplification); sim6's recall census is the gauge that would size it.
N_PLANES_MIN = 6
N_PLANES_MAX = 12
LSH_TARGET_BUCKET = 32

# hyperplanes() draws rows sequentially from a seeded RNG, so the first
# 6 of 12 are bit-identical to the old hyperplanes(DIM, 6) literals
# (pinned in tests/test_extensions.py) — prefix slicing preserves every
# h=6 result.
PLANES = hyperplanes(DIM, N_PLANES_MAX)

_H_CACHE: dict[tuple[str, str], int] = {}


def _n_planes_for(n: int) -> int:
    m = max((n - 1) // LSH_TARGET_BUCKET, 0)
    return min(N_PLANES_MAX, max(N_PLANES_MIN, len(bin(m)[2:])))


def _planes_for(spark, sf_dir) -> list[list[float]]:
    import os

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    h = _H_CACHE.get(key)
    if h is None:
        h = _n_planes_for(_load(spark, sf_dir).count())
        _H_CACHE[key] = h
    return PLANES[:h]


def _load(spark, sf_dir):
    # fan_out: distance math is compute-bound; single-row-group scans
    # would otherwise run it on one core (see parquet_source.fan_out)
    return fan_out(load_table(spark, sf_dir, "embeddings"))


def q_knn_brute(spark, sf_dir):
    v = _load(spark, sf_dir)
    q = v.filter(F.col("vec_id") % QUERY_MOD == 0)
    return knn_brute(v, q, k=K).orderBy("query_id", "neighbor_id")


def q_knn_lsh(spark, sf_dir):
    v = _load(spark, sf_dir)
    q = v.filter(F.col("vec_id") % QUERY_MOD == 0)
    return knn_lsh(v, q, _planes_for(spark, sf_dir), k=K).orderBy("query_id", "neighbor_id")


CENT_MOD = 101  # centroid set = vec_id % 101 == 3 (5 cells at sf0.01)
CENT_OFF = 3
# id cap on the coarse quantizer — clustering.py's SEED_CAP rule
# back-ported (VERDICT r5): k must be a constant of the ALGORITHM, not
# the data size. Without the cap the centroid set, the driver collect,
# the UDF closure, and the per-row assignment cost all grow linearly
# with the corpus — O(n^2/101) total assignment work, the exact cliff
# the 10x sweep measured on pq1 before clustering.py capped its seeds.
# 5 centroids at sf0.01 (unchanged — ids < 2000), 20 from sf0.1 up.
CENT_CAP = 2000
NPROBE = 2
# fixed query budget (the ir2/sim6 discipline): with the quantizer
# capped, per-query probe cost is O(n / k_cent); a query set that
# grows with the corpus (% QUERY_MOD alone) would still make the whole
# query quadratic. Hash-smallest sampling keeps the set deterministic
# and scale-stable; the budget never binds at sf0.01 (10 candidates),
# so driver-checked results are unchanged there.
IVF_EVAL_QUERIES = 50


def _hash_query_ids(v, budget):
    """Fixed-size deterministic query sample: the hash-smallest
    ``budget`` ids among vec_id % QUERY_MOD == 0 (h32 order, id
    tie-break) — same integer md5-prefix expression the SQL oracles
    compute, so both engines pick the identical set."""
    from aristoteles_spark.functions.text import h32

    return (
        v.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select("vec_id", h32(F.col("vec_id").cast("string")).alias("hk"))
        .orderBy("hk", "vec_id")
        .limit(budget)
        .select("vec_id")
    )


def _ivf_centroids(v):
    """Collect the capped coarse quantizer as driver literals — tiny by
    CONSTRUCTION now (<= CENT_CAP/CENT_MOD + 1 rows at any corpus
    size), so cell assignment stays shuffle-free codegen and the
    collect/closure cost is scale-constant."""
    return sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in v.filter(
            (F.col("vec_id") % CENT_MOD == CENT_OFF)
            & (F.col("vec_id") < CENT_CAP)
        )
        .select("vec_id", "embedding")
        .collect()
    )


def q_knn_ivf(spark, sf_dir):
    v = _load(spark, sf_dir)
    q = v.join(F.broadcast(_hash_query_ids(v, IVF_EVAL_QUERIES)), "vec_id")
    return knn_ivf(v, q, _ivf_centroids(v), k=K, nprobe=NPROBE).orderBy(
        "query_id", "neighbor_id"
    )


def _shared_pairs(spark, sf_dir, threshold):
    """Embedding near-dup edge table (vec_a, vec_b, cos_sim) at the
    given threshold, materialized ONCE per session (operators/
    materialize.py) — the production shape: a pipeline writes its edge
    table once and every graph query reads it. Consumers: sim3/sim5 at
    NEARDUP_T; tc1/gr1/gr2/gr4/sim-sssp at TRI_T (through round 4 each
    re-ran the hyperplane bucket self-join — the expensive subtree)."""
    import os

    from aristoteles_spark.operators.materialize import shared_table

    def build():
        v = _load(spark, sf_dir)
        return neardup_pairs(v, _planes_for(spark, sf_dir), threshold=threshold)

    return shared_table(
        spark, ("neardup_edges", os.path.abspath(sf_dir), threshold), build
    )


def q_neardup(spark, sf_dir):
    return _shared_pairs(spark, sf_dir, NEARDUP_T).orderBy("vec_a", "vec_b")


def q_semantic_clusters(spark, sf_dir):
    """Semantic dedup clusters: embedding near-dup pairs (sim3) as edges,
    connected components (operators/graph.py) as the cluster labeling —
    the 'semantic dedup' stage of a pretraining pipeline (SemDeDup-style,
    but with an exact deterministic pair predicate)."""
    from aristoteles_spark.operators.barrier import barrier_disabled
    from aristoteles_spark.operators.graph import connected_components

    v = _load(spark, sf_dir)
    pairs = _shared_pairs(spark, sf_dir, NEARDUP_T)
    nodes = v.select(F.col("vec_id").alias("doc"))
    # the shared edge table is already a localCheckpoint barrier, so CC
    # must not re-materialize it per invocation (round 10; see
    # connected_components.edges_materialized). Under the plan audit
    # _shared_pairs returns the raw builder instead and CC keeps its own
    # barrier.
    return connected_components(
        nodes, pairs, src_col="vec_a", dst_col="vec_b",
        edges_materialized=not barrier_disabled(),
    ).orderBy("node")


def q_triangles(spark, sf_dir):
    """Triangle census over the embedding near-dup graph — the local
    clustering signal that separates tight duplicate cliques from
    chains of borderline matches (a dedup-quality diagnostic). Edges
    are sim3's LSH-bucketed near-dup pairs kept canonically a<b, so
    each triangle (a<b<c) is counted exactly once by the standard
    two-join enumeration: e1(a,b) ⋈ e2(b,c) ⋈ e3(a,c). Both joins are
    equi-joins on vertex ids; the near-dup edge set is orders of
    magnitude smaller than the corpus, and the canonical orientation
    is the classic mitigation that keeps hub vertices from exploding
    the wedge stage. Reports per-vertex triangle membership counts."""
    v = _load(spark, sf_dir)
    e = _shared_pairs(spark, sf_dir, TRI_T).select("vec_a", "vec_b")
    e1 = e.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    e2 = e.select(F.col("vec_a").alias("b"), F.col("vec_b").alias("c"))
    e3 = e.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    per_vertex = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_vertex.orderBy("node")


K_HOPS = 3
SEED_MOD = 100  # seed set = vec_id % 100 == 0
SSSP_HOPS = 3


def q_weighted_sssp(spark, sf_dir):
    """Weighted single-source shortest paths (bounded Bellman-Ford, 3
    relaxation rounds) from the seed set over the near-dup graph with
    edge weight 1 − cosine — "how semantically FAR is everything within
    the contamination blast radius", the weighted refinement of gr1's
    reachability. Each round is one equi-join of the persisted edge
    list against the current distance frame + a min-groupBy — O(edges)
    per round, a fixed number of shuffles, the textbook distributed
    Bellman-Ford. The DP is BIT-exact against the oracle's full path
    enumeration (recursive CTE): IEEE addition is monotone, so the
    min-reduced prefix always extends to the minimal full path — no
    tolerance needed, the doubles hash-match."""
    v = _load(spark, sf_dir)
    p = _shared_pairs(spark, sf_dir, TRI_T)
    e = p.select(
        "vec_a", "vec_b", (F.lit(1.0) - F.col("cos_sim")).alias("w")
    )
    edges = (
        e.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "w")
        .unionByName(
            e.select(
                F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "w"
            )
        )
        .persist()
    )
    edges.count()  # materialize the LSH subtree once (see q_khop_bfs)
    dist = (
        v.filter(F.col("vec_id") % SEED_MOD == 0)
        .select(F.col("vec_id").alias("node"), F.lit(0.0).alias("dist"))
        .persist()
    )
    temps = [dist]
    # shuffle_hash hint per round (guide §3.1): same rationale as
    # q_pagerank — both sides scale, broadcast is a small-scale artifact
    for _ in range(SSSP_HOPS):
        relax = dist.join(
            edges.hint("shuffle_hash"), dist["node"] == edges["src"]
        ).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .persist()
        )
        temps.append(dist)
    out = dist.select(
        "node", F.col("dist").alias("min_dist")
    ).orderBy("node")
    # cut lineage before freeing the caches (flag-aware shared barrier)
    return audit_barrier(out, *temps, edges)


def q_khop_bfs(spark, sf_dir):
    """K-hop reachability (frontier BFS, fixed 3 levels) from a seed set
    over the embedding near-dup graph — the blast-radius query of a
    dedup pipeline ("if these documents are contaminated, what else is
    transitively near them?"). Distributed frontier BFS: each level is
    one equi-join of the (persisted, LSH-pre-shrunk) symmetric edge list
    against the current frontier plus an anti-join against the reached
    set, so per-level cost is O(frontier-adjacent edges), never
    all-pairs; a fixed hop budget bounds the number of shuffles (the
    unbounded closure is dd7's contraction operator). Emits min-hop per
    reached node — BFS discovery order IS min-hop, no re-labeling."""
    v = _load(spark, sf_dir)
    e = _shared_pairs(spark, sf_dir, TRI_T).select("vec_a", "vec_b")
    edges = e.union(
        e.select(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"))
    ).persist()
    edges.count()  # materialize ONCE: a lazy persist would re-race the
    # symmetric expansion across the level joins that all consume it in
    # the single final job (the LSH subtree itself is session-shared)
    frontier = (
        v.filter(F.col("vec_id") % SEED_MOD == 0)
        .select(F.col("vec_id").alias("node"))
        .distinct()
    )
    temps = []
    reached = frontier.withColumn("hop", F.lit(0)).persist()
    temps.append(reached)
    # shuffle_hash hints per level (guide §3.1): frontier/edges/reached
    # scale with the graph — shuffle joins are the 100 TB plan, and
    # locally the hint removes per-level BroadcastExchange sub-jobs
    for hop in range(1, K_HOPS + 1):
        nbrs = (
            frontier.join(
                edges.hint("shuffle_hash"),
                frontier["node"] == edges["vec_a"],
            )
            .select(F.col("vec_b").alias("node"))
            .distinct()
        )
        new = (
            nbrs.join(
                reached.select("node").hint("shuffle_hash"),
                "node", "left_anti",
            )
            .withColumn("hop", F.lit(hop))
            .persist()
        )
        temps.append(new)
        reached = reached.union(new).persist()
        temps.append(reached)
        frontier = new.select("node")
    # cut lineage to the per-level caches, then free them — a repeated
    # BFS run must not leave K_HOPS generations of frames in block
    # storage evicting other queries' caches
    out = audit_barrier(reached.orderBy("node"), edges, *temps)
    return out


PR_ITERS = 3
PR_ONE = 1_000_000  # rank fixed-point scale: 1e6 ppm == rank 1.0


KCORE_K = 2
KCORE_ROUNDS = 3


def q_kcore(spark, sf_dir):
    """gr4 — bounded k-core peel (3 rounds, k=2) over the near-dup
    graph: iteratively drop nodes with degree < k and their incident
    edges — the density filter that separates genuine duplicate CLIQUES
    from chains of borderline matches (tc1's triangle census asks the
    local version; the core asks it globally). A fixed round budget
    bounds the shuffle count the way gr1's hop budget does; 3 rounds
    reach the fixpoint on this corpus and production tunes rounds to
    diameter.

    Scale shape: each round = one degree partial-agg over the surviving
    symmetric edge list + two semi-joins to drop incident edges —
    O(edges) shuffle per round, never all-pairs; edge frames persisted
    per round and freed after. Output: survivors' residual degrees —
    all integers, so the oracle (the same 3-round CTE chain) matches
    bit-for-bit."""
    v = _load(spark, sf_dir)
    e = _shared_pairs(spark, sf_dir, TRI_T).select("vec_a", "vec_b")
    edges = e.union(
        e.select(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"))
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")).persist()
    edges.count()  # materialize the symmetric expansion once (see q_khop_bfs)
    temps = [edges]
    deg = None
    # shuffle_hash hints per round (guide §3.1): the qualifying-vertex
    # set scales with the graph — shuffle semi-joins are the 100 TB
    # plan, and locally the hint removes per-round broadcast sub-jobs
    # (measured 4.4 -> 3.1 s, values identical)
    for _ in range(KCORE_ROUNDS):
        deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select("src").persist()
        edges = (
            edges.join(keep.hint("shuffle_hash"), "src", "semi")
            .join(
                keep.select(F.col("src").alias("dst")).hint("shuffle_hash"),
                "dst", "semi",
            )
            .persist()
        )
        temps.extend([keep, edges])
    out = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .filter(F.col("deg") >= KCORE_K)
        .select(F.col("src").alias("node"), "deg")
        .orderBy("node")
    )
    # cut lineage before freeing the caches (flag-aware shared barrier)
    return audit_barrier(out, *temps)


def q_pagerank(spark, sf_dir):
    """PageRank over the near-dup graph, in FIXED-POINT INTEGER
    arithmetic — the representative-picking signal for duplicate
    clusters (rank-weighted canonical docs), and the template for any
    iterative message-passing algorithm on this engine. Float PageRank
    cannot be oracle-hash-checked (summation order changes low bits);
    this formulation keeps every step exact and engine-portable:
    per-edge contribution = rank DIV degree (integer), damping applied
    as (85 * S) DIV 100, dangling nodes deterministically keep the
    teleport term. Fixed 3 iterations; each is one equi-join of the
    persisted edge list with current ranks + a partial-aggregated sum —
    the classic Pregel step as DataFrame ops, shuffle volume O(edges)
    per iteration, never all-pairs."""
    v = _load(spark, sf_dir)
    e = _shared_pairs(spark, sf_dir, TRI_T).select("vec_a", "vec_b")
    edges = (
        e.union(
            e.select(F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b"))
        )
        .withColumnRenamed("vec_a", "src")
        .withColumnRenamed("vec_b", "dst")
        .persist()
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).persist()
    deg.count()  # materializes edges + deg once (see q_khop_bfs note)
    nodes = v.select(F.col("vec_id").alias("node"))
    ranks = nodes.withColumn("rank", F.lit(PR_ONE).cast("long"))
    temps = []
    # shuffle_hash hints on every per-iteration join (guide §3.1): at
    # scale ranks/edges/contrib all grow with the graph, so these joins
    # are shuffle joins by necessity — and locally the hint removes the
    # per-iteration BroadcastExchange sub-jobs (driver collect + rebuild
    # per round; measured 4.2 -> 3.3 s on this query, values identical)
    for _ in range(PR_ITERS):
        contrib = (
            ranks.join(edges.hint("shuffle_hash"), ranks["node"] == edges["src"])
            .join(deg.hint("shuffle_hash"), "src")
            .select(F.col("dst").alias("node"), F.expr("rank DIV deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib.hint("shuffle_hash"), "node", "left")
            .select(
                "node",
                (
                    F.lit(150_000)
                    + F.expr("(85 * coalesce(s, 0)) DIV 100")
                ).cast("long").alias("rank"),
            )
            .persist()
        )
        temps.append(ranks)
    return audit_barrier(ranks.orderBy("node"), edges, deg, *temps)


ANN_EVAL_QUERIES = 50  # fixed recall-evaluation budget (hash-smallest)

# depth of the shared exact-cosine truth table — must cover the deepest
# slice any consumer takes (ir2's LEG_K = 20 > sim6's K = 5; asserted at
# the ir2 call site)
TRUTH_K = 20


def exact_knn_truth(spark, sf_dir):
    """Session-shared exact cosine top-TRUTH_K table over the UNION of
    the suite's evaluation query sets — sim6's hash-sample and ir2's
    fixed budget (VERDICT r9 item 6: the 'evaluation harness writes its
    truth table once' artifact, with the build cost charged/visible via
    operators/materialize.BUILD_LOG + bench one_time_build_sec).

    Columns (query_id, neighbor_id, cos_sim, rank); rank is row_number
    over (cos_sim DESC, neighbor_id ASC) — knn_brute's own total order,
    so a ``rank <= k`` slice of a query's rows is bit-identical to
    ``knn_brute(v, q, k)`` for any k <= TRUTH_K (prefix property of a
    total order; pinned by tests/test_extensions.py::TestSharedKnnTruth).
    Under the plan audit shared_table degrades to an inline build, so
    the strategy plan stays visible."""
    import os

    from aristoteles_spark.operators.materialize import shared_table

    def build():
        from aristoteles_spark.queries.retrieval import ir2_query_vec_ids

        v = _load(spark, sf_dir)
        ids = (
            _hash_query_ids(v, ANN_EVAL_QUERIES)
            .unionByName(ir2_query_vec_ids(spark, sf_dir))
            .distinct()
        )
        q = v.join(F.broadcast(ids), "vec_id")
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_sim").desc(), F.col("neighbor_id").asc()
        )
        return knn_brute(v, q, k=TRUTH_K).withColumn(
            "rank", F.row_number().over(w)
        )

    return shared_table(
        spark, ("exact_knn_truth", os.path.abspath(sf_dir), TRUTH_K), build
    )


def q_ann_recall(spark, sf_dir):
    """sim6 — ANN recall census (see _ann_recall_plan). Materializes the
    <=50-row result eagerly (localCheckpoint), then releases the query
    sample cache so it cannot leak into a 220-query session (gr4's
    pattern). Under ``no_barriers()`` the frame returned is
    _ann_recall_plan's pre-checkpoint plan, which tests/test_plans.py
    checks."""
    out, q = _ann_recall_plan(spark, sf_dir)
    return audit_barrier(out, q)


def _ann_recall_plan(spark, sf_dir):
    """sim6 — ANN recall census: per query, recall@k of the hyperplane-LSH
    (sim2) and IVF-nprobe (sim4) candidate paths against the exact
    brute-force top-k (sim1). The standard ANN evaluation artifact — the
    number that justifies an index's (planes, nprobe) before trusting it
    on a 100 TB embedding corpus.

    Scale design: candidate generation reuses the existing bucketed
    operators; the evaluation joins three <= |queries| x k row frames on
    (query_id, neighbor_id) — tiny regardless of corpus size. The query
    set is a FIXED-SIZE hash sample (TakeOrdered over h32 — the dd12
    discipline): brute-force truth is O(|queries| x corpus), so a query
    set that grew with the corpus would make the census quadratic by
    construction; a fixed budget keeps it one linear corpus pass.
    recall ppm = floor(1e6 * hits / n_true) on integer counts."""
    v = _load(spark, sf_dir)
    q = v.join(
        F.broadcast(_hash_query_ids(v, ANN_EVAL_QUERIES)), "vec_id"
    ).persist()
    q.count()  # materialize: three operators each issue internal jobs
    # exact truth = this query set's rank<=K slice of the shared truth
    # table (value-identical to knn_brute(v, q, K) — see exact_knn_truth)
    truth = (
        exact_knn_truth(spark, sf_dir)
        .join(
            F.broadcast(q.select(F.col("vec_id").alias("query_id"))),
            "query_id",
        )
        .filter(F.col("rank") <= K)
        .select("query_id", "neighbor_id")
    )
    lsh = knn_lsh(v, q, _planes_for(spark, sf_dir), k=K).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_l")
    )
    ivf = knn_ivf(v, q, _ivf_centroids(v), k=K, nprobe=NPROBE).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_i")
    )
    j = truth.join(lsh, ["query_id", "neighbor_id"], "left").join(
        ivf, ["query_id", "neighbor_id"], "left"
    )
    per = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce("in_l", F.lit(0))).cast("long").alias("lsh_hits"),
        F.sum(F.coalesce("in_i", F.lit(0))).cast("long").alias("ivf_hits"),
    )
    out = per.select(
        "query_id",
        "n_true",
        "lsh_hits",
        "ivf_hits",
        F.floor(F.col("lsh_hits") * F.lit(1.0e6) / F.col("n_true"))
        .cast("long")
        .alias("lsh_recall_ppm"),
        F.floor(F.col("ivf_hits") * F.lit(1.0e6) / F.col("n_true"))
        .cast("long")
        .alias("ivf_recall_ppm"),
    ).orderBy("query_id")
    return out, q


# sd2 text->embedding bridge constants. The clone family gives the
# near-dup path live data (random synthetic docs are mutually near-
# orthogonal under feature hashing): a 260-char excerpt keeps most of
# the source's feature bag, so source/clone pairs clear cos >= 0.5 while
# unrelated pairs stay far below. Replicated verbatim in the oracle.
SD2_MOD, SD2_OFF, SD2_BASE = 19, 7, 3_000_000
SD2_DIM = 64
SD2_BANDS, SD2_BW = 4, 16  # 4 bands x 16 sign bits = 65536 buckets/band


def _sd2_stats(emb):
    """(emb, n2, digs) struct computed with the single-evaluation lambda
    wrap (operators/similarity.py:hashed_feature_embedding's hygiene
    note): n2 is the squared L2 norm (exact integer); digs packs each
    16-dim band's sign bits into an integer bucket id via a Horner fold
    (bit i = emb[band*16+i] > 0), matching the oracle's 1<<i sum."""

    def build(e):
        n2 = F.aggregate(
            e, F.lit(0).cast("long"), lambda a, x: a + x * x
        )
        digs = F.transform(
            F.sequence(F.lit(0), F.lit(SD2_BANDS - 1)),
            lambda b: F.aggregate(
                F.sequence(F.lit(SD2_BW - 1), F.lit(0), F.lit(-1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc * 2
                + F.when(F.get(e, b * SD2_BW + i) > 0, F.lit(1)).otherwise(
                    F.lit(0)
                ),
            ),
        )
        return F.struct(
            e.alias("emb"), n2.alias("n2"), digs.alias("digs")
        )

    return F.get(F.transform(F.array(emb), build), 0)


def q_text_embed_neardup(spark, sf_dir):
    """sd2 — semantic near-dup from RAW TEXT alone: the featurization
    bridge (round-6 verdict item 3). qc1's unigram+bigram feature bag ->
    hashed signed embedding (operators/similarity.py:
    hashed_feature_embedding, in-row, zero shuffle) -> sign-bit banded
    LSH buckets -> SORTED-NEIGHBORHOOD within each bucket (each doc
    compares only to its doc_id successor, x4 bands of chances — the
    SemDeDup practical form, sd1's discipline) -> exact integer-cosine
    verify via cross-multiplication (dot > 0 AND 4*dot^2 >= n2a*n2b
    <=> cos >= 0.5; no sqrt, no float accumulation — bit-exact in the
    oracle). End-to-end: raw text -> vectors -> semantic dedup with no
    pre-provided embedding column.

    Why sorted-neighborhood and not a bucket SELF-JOIN: this synthetic
    corpus has a 31-word vocabulary, so bags-of-features of unrelated
    docs are genuinely similar — ~1% of ALL pairs clear cos >= 0.5,
    which makes any pair-enumeration design inherently quadratic (the
    first cut's 100x sweep timed out on exactly that). Adjacent-only
    candidates bound the mass at bands x n rows at ANY corpus size or
    entropy; the cost is census recall (a near-dup pair is reported
    only when some band makes it adjacent), the same trade sd1
    documents. Candidates from different bands dedup via one small
    groupBy on the (doc_a, doc_b) pair stream (<= 4n rows)."""
    from aristoteles_spark.queries.quality import classifier_features
    from aristoteles_spark.functions.text import tokens
    from aristoteles_spark.operators.similarity import (
        hashed_feature_embedding,
    )

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    c1 = d.filter(F.col("doc_id") % SD2_MOD == SD2_OFF).select(
        (F.col("doc_id") + SD2_BASE).alias("doc_id"),
        F.substring("text", 20, 260).alias("text"),
    )
    corpus = d.unionByName(c1)
    st = _sd2_stats(
        hashed_feature_embedding(
            classifier_features(tokens("text")), SD2_DIM
        )
    )
    # persist: the banded join consumes this frame on BOTH sides; the
    # persist is also the materialization barrier that stops the
    # optimizer re-expanding the embedding fold into its three consumers
    s = (
        corpus.select("doc_id", st.alias("st"))
        .select(
            "doc_id",
            F.col("st.emb").alias("emb"),
            F.col("st.n2").alias("n2"),
            F.col("st.digs").alias("digs"),
        )
        .persist()
    )
    ex = s.select(
        "doc_id", "emb", "n2",
        F.posexplode("digs").alias("band", "dig"),
    )
    w = Window.partitionBy("band", "dig").orderBy("doc_id")
    nb = ex.select(
        "doc_id",
        "emb",
        "n2",
        F.lead("doc_id").over(w).alias("doc_b"),
        F.lead("emb").over(w).alias("emb_b"),
        F.lead("n2").over(w).alias("n2_b"),
    ).filter(F.col("doc_b").isNotNull())
    dot = F.aggregate(
        F.zip_with("emb", "emb_b", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )
    # guard and ppm arithmetic run in DOUBLE on both engines: the bigint
    # form (4*dot*dot vs n2*n2_b) silently wraps int64 in non-ANSI Spark
    # while duckdb raises, i.e. the engines would diverge exactly at the
    # ~1M-token doc sizes the 100 TB shape cares about. dot < 2^53 is
    # exact in double, and both engines square the same double, so the
    # oracle hash still matches bit-for-bit.
    dot_d = F.col("dot").cast("double")
    n2prod = F.col("n2").cast("double") * F.col("n2_b").cast("double")
    v = nb.select(
        F.col("doc_id").alias("doc_a"),
        "doc_b",
        dot.alias("dot"),
        "n2",
        "n2_b",
    ).filter((F.col("dot") > 0) & (4.0 * dot_d * dot_d >= n2prod))
    out = (
        v.select(
            "doc_a",
            "doc_b",
            F.floor(dot_d * dot_d * F.lit(1.0e6) / n2prod)
            .cast("long")
            .alias("cos2_ppm"),
        )
        # the same pair can be adjacent in several bands with identical
        # cos — dedup the <= bands x n pair stream
        .groupBy("doc_a", "doc_b")
        .agg(F.max("cos2_ppm").alias("cos2_ppm"))
        .orderBy("doc_a", "doc_b")
    )
    return audit_barrier(out, s)


QUERIES = {
    "gr4_kcore": q_kcore,
    "sd2_text_embed_neardup": q_text_embed_neardup,
    "sim6_ann_recall": q_ann_recall,
    "tc1_triangles": q_triangles,
    "gr1_khop_bfs": q_khop_bfs,
    "gr3_weighted_sssp": q_weighted_sssp,
    "gr2_pagerank": q_pagerank,
    "sim1_knn_brute": q_knn_brute,
    "sim2_knn_lsh": q_knn_lsh,
    "sim3_neardup_pairs": q_neardup,
    "sim4_knn_ivf": q_knn_ivf,
    "sim5_semantic_clusters": q_semantic_clusters,
}

# ------------------------------------------------------------------ oracles

_DOT = "list_dot_product({a}, {b})"


def _plane_sql(plane: list[float]) -> str:
    return "[" + ", ".join(repr(v) for v in plane) + "]::DOUBLE[]"


# signature with ADAPTIVE width: term j contributes its bit only when
# j < h, where h (the corpus-sized plane count) rides along in the v
# CTE — the SQL mirror of _planes_for's Python slice
_SIG = "(" + " + ".join(
    f"CASE WHEN {j} < h AND {_DOT.format(a='{e}', b=_plane_sql(p))} > 0"
    f" THEN {1 << j} ELSE 0 END"
    for j, p in enumerate(PLANES)
) + ")"

_COS = (
    "CASE WHEN nq * nc > 0 THEN "
    + _DOT.format(a="q.e", b="c.e")
    + " / (nq * nc) ELSE 0.0 END"
)

# h = clamp(bitlen((n-1) div 32), 6, 12): one bit per corpus doubling
# toward a ~32-vector target bucket — identical to _n_planes_for
_HPARAM = (
    "SELECT LEAST(12, GREATEST(6, length(bin(GREATEST((count(*) - 1) // 32,"
    " 0))))) AS h FROM embeddings"
)

_V = (
    "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,"
    " sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[]))) AS nrm, h"
    f" FROM embeddings, ({_HPARAM})"
)

_IVF_ORACLE = f"""
WITH v AS ({{v}}),
qids AS (SELECT vec_id FROM v WHERE vec_id % {{query_mod}} = 0
         ORDER BY CAST(concat('0x', substr(md5(concat('0', ':', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT), vec_id
         LIMIT {{eval_queries}}),
cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM v
         WHERE vec_id % {{cent_mod}} = {{cent_off}} AND vec_id < {{cent_cap}}),
asg AS (
  SELECT v.vec_id, cid,
    row_number() OVER (PARTITION BY v.vec_id ORDER BY
      (CASE WHEN cn * nrm > 0 THEN list_dot_product(e, ce) / (cn * nrm)
            ELSE 0.0 END) DESC, cid) AS rn
  FROM v, cent
),
ccell AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
qcell AS (SELECT vec_id, cid AS cell FROM asg
          WHERE rn <= {{nprobe}} AND vec_id IN (SELECT vec_id FROM qids)),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CASE WHEN qv.nrm * cv.nrm > 0
         THEN list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm)
         ELSE 0.0 END AS cos_sim
  FROM qcell q JOIN ccell c ON c.cell = q.cell AND c.vec_id <> q.vec_id
  JOIN v qv ON qv.vec_id = q.vec_id
  JOIN v cv ON cv.vec_id = c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM sims
)
SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= {{k}}
ORDER BY query_id, neighbor_id
"""

_SD2_TOKS = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), "
    "x -> x <> '')"
)
_SD2_H32 = "CAST(concat('0x', substr(md5(concat('0', ':', x)), 1, 8)) AS BIGINT)"
ORACLE = {
    "sd2_text_embed_neardup": f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {SD2_BASE} AS doc_id, substr(text, 20, 260) AS text
  FROM documents WHERE doc_id % {SD2_MOD} = {SD2_OFF}
), t AS (
  SELECT doc_id, {_SD2_TOKS} AS toks FROM corpus
), f AS (
  SELECT doc_id, list_concat(toks, CASE WHEN len(toks) >= 2
      THEN list_transform(range(1, len(toks)),
                          i -> toks[i] || '_' || toks[i + 1])
      ELSE [] END) AS feats
  FROM t
), hsd AS (
  SELECT doc_id, list_transform(feats, x -> {_SD2_H32}) AS hs FROM f
), e AS (
  SELECT doc_id, list_transform(range(0, {SD2_DIM}), d ->
      coalesce(CAST(list_sum(list_transform(hs, h ->
        CASE WHEN h % {SD2_DIM} = d
             THEN CASE WHEN h % {2 * SD2_DIM} >= {SD2_DIM}
                       THEN -1 ELSE 1 END
             ELSE 0 END)) AS BIGINT), 0)) AS emb
  FROM hsd
), s AS (
  SELECT doc_id, emb,
         CAST(list_sum(list_transform(emb, x -> x * x)) AS BIGINT) AS n2,
         list_transform(range(0, {SD2_BANDS}), b ->
           coalesce(CAST(list_sum(list_transform(range(0, {SD2_BW}), i ->
             CASE WHEN emb[b * {SD2_BW} + i + 1] > 0
                  THEN (1 << i) ELSE 0 END)) AS BIGINT), 0)) AS digs
  FROM e
), ex AS (
  SELECT doc_id, emb, n2, u.band AS band, digs[u.band + 1] AS dig
  FROM s, LATERAL unnest(range(0, {SD2_BANDS})) u(band)
), nb AS (
  SELECT doc_id AS doc_a, emb, n2 AS n2a,
         lead(doc_id) OVER w AS doc_b,
         lead(emb) OVER w AS emb_b,
         lead(n2) OVER w AS n2b
  FROM ex WINDOW w AS (PARTITION BY band, dig ORDER BY doc_id)
), v AS (
  SELECT doc_a, doc_b,
         CAST(list_sum(list_transform(range(1, {SD2_DIM} + 1),
              i -> emb[i] * emb_b[i])) AS BIGINT) AS dot,
         n2a, n2b
  FROM nb WHERE doc_b IS NOT NULL
)
SELECT doc_a, doc_b,
       CAST(max(floor(CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE) * 1000000.0
                      / (CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE))))
            AS BIGINT) AS cos2_ppm
FROM v WHERE dot > 0
  AND 4.0 * CAST(dot AS DOUBLE) * CAST(dot AS DOUBLE)
      >= CAST(n2a AS DOUBLE) * CAST(n2b AS DOUBLE)
GROUP BY doc_a, doc_b
ORDER BY doc_a, doc_b
""",
    "gr3_weighted_sssp": f"""
WITH RECURSIVE v AS (
  SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM ({_V})
), e0 AS (
  SELECT a.vec_id AS va, b.vec_id AS vb,
         CASE WHEN a.nrm * b.nrm > 0
              THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
              ELSE 0.0 END AS cs
  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
), ef AS (
  SELECT va, vb, cs FROM e0 WHERE cs >= {TRI_T}
), edges AS (
  SELECT va AS src, vb AS dst, 1.0 - cs AS w FROM ef
  UNION ALL SELECT vb, va, 1.0 - cs FROM ef
), walk(node, dist, hops) AS (
  SELECT vec_id AS node, CAST(0.0 AS DOUBLE) AS dist, 0 AS hops
  FROM v WHERE vec_id % {SEED_MOD} = 0
  UNION ALL
  SELECT e.dst, w.dist + e.w, w.hops + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.hops < {SSSP_HOPS}
)
SELECT node, min(dist) AS min_dist FROM walk
GROUP BY node ORDER BY node
""",
    "tc1_triangles": f"""
WITH v AS (
  SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM ({_V})
), edges AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE CASE WHEN a.nrm * b.nrm > 0
        THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm) ELSE 0.0 END
        >= {TRI_T}
), tri AS (
  SELECT e1.va AS a, e1.vb AS b, e2.vb AS c
  FROM edges e1
  JOIN edges e2 ON e2.va = e1.vb
  JOIN edges e3 ON e3.va = e1.va AND e3.vb = e2.vb
)
SELECT node, count(*) AS n_triangles FROM (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
) GROUP BY node ORDER BY node
""",
    "gr2_pagerank": f"""
WITH v AS (
  SELECT vec_id, e, nrm, {{sig}} AS sig FROM ({{vsrc}})
), e0 AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE CASE WHEN a.nrm * b.nrm > 0
        THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm) ELSE 0.0 END
        >= {TRI_T}
), edges AS (
  SELECT va AS src, vb AS dst FROM e0
  UNION ALL SELECT vb, va FROM e0
), deg AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nodes AS (
  SELECT vec_id AS node FROM v
), r0 AS (
  SELECT node, CAST({PR_ONE} AS BIGINT) AS rank FROM nodes
){{iters}}
SELECT node, rank FROM r{PR_ITERS} ORDER BY node
""",
    "gr1_khop_bfs": f"""
WITH v AS (
  SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM ({_V})
), e0 AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE CASE WHEN a.nrm * b.nrm > 0
        THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm) ELSE 0.0 END
        >= {TRI_T}
), edges AS (
  SELECT va, vb FROM e0 UNION ALL SELECT vb, va FROM e0
), h0 AS (
  SELECT vec_id AS node FROM v WHERE vec_id % {SEED_MOD} = 0
), n1 AS (
  SELECT DISTINCT vb AS node FROM edges JOIN h0 ON va = h0.node
), s1 AS (
  SELECT node FROM h0 UNION SELECT node FROM n1
), n2 AS (
  SELECT DISTINCT vb AS node FROM edges JOIN s1 ON va = s1.node
), s2 AS (
  SELECT node FROM s1 UNION SELECT node FROM n2
), n3 AS (
  SELECT DISTINCT vb AS node FROM edges JOIN s2 ON va = s2.node
)
SELECT node, 0 AS hop FROM h0
UNION ALL
SELECT node, 1 FROM n1 WHERE node NOT IN (SELECT node FROM h0)
UNION ALL
SELECT node, 2 FROM n2 WHERE node NOT IN (SELECT node FROM s1)
UNION ALL
SELECT node, 3 FROM n3 WHERE node NOT IN (SELECT node FROM s2)
ORDER BY node
""",
    "sim1_knn_brute": f"""
WITH v AS ({_V}),
q AS (SELECT vec_id, e, nrm FROM v WHERE vec_id % {QUERY_MOD} = 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.nrm AS nq, c.nrm AS nc,
         q.e AS e, c.e AS ce
  FROM q JOIN v c ON c.vec_id <> q.vec_id
), sims AS (
  SELECT query_id, neighbor_id,
    CASE WHEN nq * nc > 0 THEN list_dot_product(e, ce) / (nq * nc) ELSE 0.0 END AS cos_sim
  FROM scored
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM sims
)
SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= {K}
ORDER BY query_id, neighbor_id
""",
    "sim2_knn_lsh": f"""
WITH v AS (
  SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM ({_V})
),
q AS (SELECT vec_id, e, nrm, sig FROM v WHERE vec_id % {QUERY_MOD} = 0),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CASE WHEN q.nrm * c.nrm > 0
         THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm) ELSE 0.0 END AS cos_sim
  FROM q JOIN v c ON c.sig = q.sig AND c.vec_id <> q.vec_id
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rn
  FROM sims
)
SELECT query_id, neighbor_id, cos_sim FROM ranked WHERE rn <= {K}
ORDER BY query_id, neighbor_id
""",
    "sim3_neardup_pairs": f"""
WITH v AS (
  SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM ({_V})
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  CASE WHEN a.nrm * b.nrm > 0
       THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm) ELSE 0.0 END AS cos_sim
FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
WHERE CASE WHEN a.nrm * b.nrm > 0
       THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm) ELSE 0.0 END >= {NEARDUP_T}
ORDER BY vec_a, vec_b
""",
    "sim4_knn_ivf": _IVF_ORACLE.format(
        v=_V, cent_mod=CENT_MOD, cent_off=CENT_OFF, cent_cap=CENT_CAP,
        nprobe=NPROBE, query_mod=QUERY_MOD, k=K,
        eval_queries=IVF_EVAL_QUERIES,
    ),
    "sim5_semantic_clusters": f"""
WITH RECURSIVE v AS (
  SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM ({_V})
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE CASE WHEN a.nrm * b.nrm > 0
        THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm) ELSE 0.0 END
        >= {NEARDUP_T}
), e AS MATERIALIZED (
  SELECT vec_a AS a, vec_b AS b FROM pairs
  UNION
  SELECT vec_b AS a, vec_a AS b FROM pairs
){minlabel_chain()}
SELECT vec_id AS node, coalesce(cluster, vec_id) AS cluster
FROM embeddings LEFT JOIN comp ON vec_id = comp.node
ORDER BY node
""",
}

# gr2's oracle: fill the signature/source fragments and generate the
# fixed-point iteration chain (one CTE per PageRank step, same integer
# ops as the Spark loop: contribution = rank // deg, damped by
# (85*S)//100, teleport 150000 ppm).
_PR_STEP = """, r{t} AS (
  SELECT n.node,
         CAST(150000 + (85 * coalesce(s.s, 0)) // 100 AS BIGINT) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, sum(r.rank // d.deg) AS s
    FROM r{p} r JOIN edges e ON e.src = r.node
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst) s ON s.node = n.node
)"""

ORACLE["gr2_pagerank"] = ORACLE["gr2_pagerank"].format(
    sig=_SIG.format(e="e"),
    vsrc=_V,
    iters="".join(_PR_STEP.format(t=t, p=t - 1) for t in range(1, PR_ITERS + 1)),
)

ORACLE["sim6_ann_recall"] = f"""
WITH v AS ({_V}),
vs AS (SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM v),
qids AS (SELECT vec_id FROM vs WHERE vec_id % {QUERY_MOD} = 0
         ORDER BY CAST(concat('0x', substr(md5(concat('0', ':', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT), vec_id
         LIMIT {ANN_EVAL_QUERIES}),
q AS (SELECT vs.vec_id, e, nrm, sig FROM vs JOIN qids USING (vec_id)),
bsims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CASE WHEN q.nrm * c.nrm > 0
         THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm) ELSE 0.0 END AS cos_sim
  FROM q JOIN vs c ON c.vec_id <> q.vec_id
), branked AS (
  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, neighbor_id) AS rn FROM bsims
), btop AS (SELECT query_id, neighbor_id FROM branked WHERE rn <= {K}),
lsims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    CASE WHEN q.nrm * c.nrm > 0
         THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm) ELSE 0.0 END AS cos_sim
  FROM q JOIN vs c ON c.sig = q.sig AND c.vec_id <> q.vec_id
), lranked AS (
  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, neighbor_id) AS rn FROM lsims
), ltop AS (SELECT query_id, neighbor_id FROM lranked WHERE rn <= {K}),
cent AS (SELECT vec_id AS cid, e AS ce, nrm AS cn FROM vs
         WHERE vec_id % {CENT_MOD} = {CENT_OFF} AND vec_id < {CENT_CAP}),
asg AS (
  SELECT vs.vec_id, cid,
    row_number() OVER (PARTITION BY vs.vec_id ORDER BY
      (CASE WHEN cn * nrm > 0 THEN list_dot_product(e, ce) / (cn * nrm)
            ELSE 0.0 END) DESC, cid) AS rn
  FROM vs, cent
),
ccell AS (SELECT vec_id, cid AS cell FROM asg WHERE rn = 1),
qcell AS (SELECT vec_id, cid AS cell FROM asg
          WHERE rn <= {NPROBE} AND vec_id IN (SELECT vec_id FROM qids)),
isims AS (
  SELECT qc.vec_id AS query_id, c.vec_id AS neighbor_id,
    CASE WHEN qv.nrm * cv.nrm > 0
         THEN list_dot_product(qv.e, cv.e) / (qv.nrm * cv.nrm)
         ELSE 0.0 END AS cos_sim
  FROM qcell qc JOIN ccell c ON c.cell = qc.cell AND c.vec_id <> qc.vec_id
  JOIN vs qv ON qv.vec_id = qc.vec_id
  JOIN vs cv ON cv.vec_id = c.vec_id
), iranked AS (
  SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id
         ORDER BY cos_sim DESC, neighbor_id) AS rn FROM isims
), itop AS (SELECT query_id, neighbor_id FROM iranked WHERE rn <= {K}),
per AS (
  SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_true,
    CAST(sum(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS lsh_hits,
    CAST(sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS ivf_hits
  FROM btop b
  LEFT JOIN ltop l ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
  LEFT JOIN itop i ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
  GROUP BY b.query_id
)
SELECT query_id, n_true, lsh_hits, ivf_hits,
       CAST(floor(lsh_hits * 1.0e6 / n_true) AS BIGINT) AS lsh_recall_ppm,
       CAST(floor(ivf_hits * 1.0e6 / n_true) AS BIGINT) AS ivf_recall_ppm
FROM per ORDER BY query_id
"""


_KCORE_ROUND = """, d{t} AS (
  SELECT src, count(*) AS deg FROM e{p} GROUP BY src
), k{t} AS (
  SELECT src FROM d{t} WHERE deg >= {k}
), e{t} AS (
  SELECT e.src, e.dst FROM e{p} e
  JOIN k{t} a ON e.src = a.src
  JOIN k{t} b ON e.dst = b.src
)"""

def _kcore_oracle() -> str:
    rounds = "".join(
        _KCORE_ROUND.format(t=t, p=t - 1, k=KCORE_K)
        for t in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
WITH v AS (
  SELECT vec_id, e, nrm, {_SIG.format(e='e')} AS sig FROM ({_V})
), p0 AS (
  SELECT a.vec_id AS va, b.vec_id AS vb
  FROM v a JOIN v b ON a.sig = b.sig AND a.vec_id < b.vec_id
  WHERE CASE WHEN a.nrm * b.nrm > 0
        THEN list_dot_product(a.e, b.e) / (a.nrm * b.nrm) ELSE 0.0 END
        >= {TRI_T}
), e0 AS (
  SELECT va AS src, vb AS dst FROM p0
  UNION ALL
  SELECT vb AS src, va AS dst FROM p0
){rounds}
SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
FROM e{KCORE_ROUNDS} GROUP BY src HAVING count(*) >= {KCORE_K}
ORDER BY node
"""

ORACLE["gr4_kcore"] = _kcore_oracle()
