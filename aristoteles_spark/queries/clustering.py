"""Distributed k-means queries over the embeddings table + duckdb oracles.

km1/km2 run genuine Lloyd iterations *inside the engine* — unlike sim4's
IVF coarse quantizer (which trains on a collected tiny sample), the
centroid state here never touches the driver: assignment is a broadcast
in-row argmin and the update is a (k x dim)-key partial aggregate. This
is the clustering primitive a 100 TB corpus needs for semantic dedup /
domain discovery / IVF training (reference scope check:
/root/reference/aristoteles/aristoteles.py:229-346 — scalar weather ETL,
no vector ops; SURVEY §7.4 extension).

Determinism: all arithmetic after the one quantization step
(floor(x * 1e6) -> int64) is integer — squared-L2 folds, lexicographic
argmin, floor-mean, decimal inertia sums — so Spark and duckdb agree
bit-for-bit with no float-accumulation or cast-rounding caveats. (The
double->DECIMAL(38,18) route was measured to differ between the engines
in the last ~2 digits — per-term cast rounding — which is why the
fixed-point formulation is load-bearing, not a style choice.)
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aristoteles_spark.operators.clustering import (
    SCALE,
    assign,
    pack_centroids,
    quantize,
    update,
)
from aristoteles_spark.sources.parquet_source import fan_out, load_table

DIM = 64
# deterministic k-means++-free init: every ~101st vector among the
# first SEED_CAP ids is a seed centroid (5 at sf0.01, 20 from sf0.1 up)
# — same literal predicate in both engines. The id cap is load-bearing
# for scale: without it k grows WITH the corpus and the O(n*k)
# assignment turns quadratic (the 10x sweep measured pq1 at 69x before
# the cap; k must be a constant of the ALGORITHM, not the data size).
CENT_MOD = 101
CENT_OFF = 3
SEED_CAP = 2000


def _vq(spark, sf_dir):
    # fan_out: the per-row argmin fold is compute-bound (k * dim integer
    # ops per vector); single-row-group scans would pin it to one core
    v = fan_out(load_table(spark, sf_dir, "embeddings"))
    return v.select("vec_id", quantize(F.col("embedding")).alias("xq"))


def _init_cents(vq, mod=CENT_MOD, off=CENT_OFF, cap=SEED_CAP):
    return vq.filter(
        (F.col("vec_id") % mod == off) & (F.col("vec_id") < cap)
    ).select(F.col("vec_id").alias("cid"), F.col("xq").alias("cq"))


def q_kmeans_centroids(spark, sf_dir):
    """One full Lloyd iteration; returns the updated centroid table
    (cluster_id, dim, centroid_q) tall, dim 1-based.

    Plan: corpus scan -> in-row argmin (broadcast centroid array, zero
    shuffle) -> posexplode to (cid, dim) -> partial-agg floor-mean. The
    single exchange carries k*64 keys' partial sums."""
    vq = _vq(spark, sf_dir)
    a1 = assign(vq, _init_cents(vq))
    return (
        update(a1)
        .select(F.col("cid").alias("cluster_id"), "dim", F.col("cq").alias("centroid_q"))
        .orderBy("cluster_id", "dim")
    )


def q_kmeans_lloyd(spark, sf_dir):
    """Two Lloyd iterations, then the per-cluster census
    (cluster_id, n_members, inertia_q): the convergence-tracking readout
    (inertia = exact integer sum of quantized squared distances, carried
    through DECIMAL(38,0) so it cannot overflow at any corpus size).

    Plan: two zero-shuffle assignment passes over the corpus, one tiny
    (k x dim) update exchange between them, one k-key final aggregate."""
    vq = _vq(spark, sf_dir)
    a1 = assign(vq, _init_cents(vq))
    c1 = pack_centroids(update(a1))
    a2 = assign(vq, c1)
    return (
        a2.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.col("d2q").cast("decimal(38,0)")).alias("inertia_q"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------- SemDeDup

# sd1 parameters: tau = 0.35 cosine (the corpus has no planted
# near-identical pairs — max pairwise cosine is ~0.51 — so the gate uses
# the same loose threshold the sim3 near-dup census does to stay
# non-vacuous); tau^2 * 1e4 = 1225 keeps the comparison integer-exact.
SEM_T2_E4 = 1225
SEM_W = 4  # sorted-neighborhood window width


def _dotq(a, b):
    """Exact integer dot product of two quantized vectors (in-row fold).

    |xq| <= ~6e5 for these unit-ish embeddings, so per-term products are
    < 4e11 and the 64-term sum < 3e13 — far inside int64."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, p: acc + p,
    )


def q_semdedup(spark, sf_dir):
    """sd1 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-
    space semantic dedup. Cluster the corpus with k-means, then inside
    each cluster drop every vector whose cosine to an earlier-kept
    member exceeds tau. The reference has no vector surface (scope
    check: /root/reference/aristoteles/aristoteles.py:229-346); SURVEY
    §7.4 extension.

    The paper's within-cluster step is all-pairs (O(m^2) per cluster,
    with k chosen so m stays bounded). Here the comparison set is made
    *linear by construction* with the sorted-neighborhood method: rank
    cluster members by (distance-to-centroid, id) and compare each
    member only to its SEM_W predecessors in that order. True
    near-duplicates have near-equal centroid distances, so they land on
    adjacent ranks; candidate pairs are exactly n*SEM_W regardless of
    cluster size — the skew-proof form of the paper's step.

    Plan: zero-shuffle broadcast argmin assignment (operators/
    clustering.assign) -> ONE exchange on cid; the W predecessors are
    fetched as lag(struct(xq, nrm), j) columns of the SAME rank window
    — no self-join, no second corpus pass (the first formulation
    equi-joined the ranked frame to itself: that join flipped
    broadcast->SortMergeJoin with input size in the 10x sweep, and
    re-shuffled the corpus; the lag form is exchange-stable by
    construction) -> in-row integer cosine gate -> one per-cluster
    census aggregate (n_members and n_dropped from the same groupBy).

    Determinism: the duplicate test is pure integer arithmetic on the
    quantized coordinates — drop x iff dot(x,y) > 0 and
    (100*dot)^2 >= 1225 * |x|^2 * |y|^2 (i.e. cos >= 0.35), evaluated
    in DECIMAL(38,0) (~4e35 max term; HUGEINT on the duckdb side) — so
    no sqrt, no division, no float comparison anywhere."""
    from pyspark.sql import Window

    vq = _vq(spark, sf_dir)
    a = assign(vq, _init_cents(vq))  # (vec_id, xq, cid, d2q)
    w = Window.partitionBy("cid").orderBy("d2q", "vec_id")
    r = a.withColumn("nrm", _dotq(F.col("xq"), F.col("xq"))).select(
        "cid",
        "xq",
        "nrm",
        *[
            F.lag(F.struct("xq", "nrm"), j).over(w).alias(f"y{j}")
            for j in range(1, SEM_W + 1)
        ],
    )

    def _dup_vs(yj):
        d100 = (_dotq(F.col("xq"), yj["xq"]) * 100).cast("decimal(38,0)")
        return (
            yj.isNotNull()
            & (d100 > 0)
            & (
                d100 * d100
                >= F.lit(SEM_T2_E4).cast("decimal(38,0)")
                * F.col("nrm").cast("decimal(38,0)")
                * yj["nrm"].cast("decimal(38,0)")
            )
        )

    dup = None
    for j in range(1, SEM_W + 1):
        c = _dup_vs(F.col(f"y{j}"))
        dup = c if dup is None else (dup | c)
    return (
        r.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(dup.cast("long")).cast("long").alias("n_dropped"),
            F.sum((~dup).cast("long")).cast("long").alias("n_kept"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------- oracles

_PREFIX = f"""
WITH vq AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {SCALE!r}) AS BIGINT)) AS xq
  FROM embeddings
), c0 AS (
  SELECT vec_id AS cid, xq AS cq FROM vq WHERE vec_id % {CENT_MOD} = {CENT_OFF} AND vec_id < {SEED_CAP}
), s1 AS (
  SELECT v.vec_id, v.xq, c.cid,
         CAST(list_sum(list_transform(range(1, {DIM + 1}),
              i -> (v.xq[i] - c.cq[i]) * (v.xq[i] - c.cq[i]))) AS BIGINT) AS d2q
  FROM vq v CROSS JOIN c0 c
), a1 AS (
  SELECT vec_id, xq, cid, d2q FROM s1
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) = 1
), u1 AS (
  SELECT cid, i AS dim,
         CAST(floor(CAST(sum(xq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cq
  FROM a1, range(1, {DIM + 1}) t(i)
  GROUP BY cid, i
)"""

# ---------------------------------------------------------------- PQ

N_SUB = 4
SUB_DIM = DIM // N_SUB  # 16 dims per subspace


def _fused_pq_codebooks(vq, mod=CENT_MOD, off=CENT_OFF, cap=SEED_CAP):
    """One-pass trainer for all N_SUB subspace codebooks (round 9,
    guide §1.2 "remove unnecessary passes"): the N_SUB subspace Lloyd
    trainings are independent, so the N_SUB separate assign scans
    collapse into ONE corpus scan computing every subspace's in-row
    argmin, and the N_SUB (cid, dim) update aggregates into ONE keyed
    by (sub, cid, dim). Value-identical to the per-subspace loop by
    construction: per subspace the member set, tie-break (struct min on
    (d2q, cid)) and floor-mean are exactly the per-slice forms
    ``pack_centroids(update(assign(sub, seeds)))`` ran — pinned by
    tests/test_extensions.py::test_fused_pq_codebooks_identical.
    Returns (sub, cid, cq array<long> of SUB_DIM)."""
    from aristoteles_spark.operators.clustering import dist2q

    seeds = F.broadcast(
        vq.filter((F.col("vec_id") % mod == off) & (F.col("vec_id") < cap))
        .select(F.struct(F.col("vec_id").alias("cid"), "xq").alias("c"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("c")).alias("cs"))
    )

    def argmin_for(s):
        sub_xq = F.slice("xq", s * SUB_DIM + 1, SUB_DIM)
        return F.array_min(
            F.transform(
                F.col("cs"),
                lambda c: F.struct(
                    dist2q(sub_xq, F.slice(c["xq"], s * SUB_DIM + 1, SUB_DIM))
                    .alias("d2q"),
                    c["cid"].alias("cid"),
                ),
            )
        )["cid"]

    assigned = vq.crossJoin(seeds).select(
        "xq",
        F.array(*[argmin_for(s) for s in range(N_SUB)]).alias("cids"),
    )
    tall = assigned.select(
        "cids", F.posexplode("xq").alias("pos", "xqv")
    ).select(
        (F.col("pos") / F.lit(SUB_DIM)).cast("int").alias("sub"),
        F.element_at(
            "cids", (F.col("pos") / F.lit(SUB_DIM)).cast("int") + 1
        ).alias("cid"),
        (F.col("pos") % SUB_DIM + 1).alias("dim"),
        "xqv",
    )
    return (
        tall.groupBy("sub", "cid", "dim")
        .agg(
            F.floor(F.sum("xqv").cast("double") / F.count(F.lit(1)))
            .cast("long")
            .alias("cq"),
        )
        .groupBy("sub", "cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "cq"))),
                lambda x: x["cq"],
            ).alias("cq")
        )
    )


def q_product_quantize(spark, sf_dir):
    """pq1 — product quantization: split each embedding into 4
    subvectors, train a per-subspace codebook with one Lloyd iteration,
    encode every vector as 4 codeword ids + its exact quantization
    error. The compression step behind IVF-PQ ANN indexes (what a 100 TB
    vector corpus actually stores: 4 small ints instead of 64 floats).

    Plan: codebook training is ONE fused corpus pass (all 4 subspace
    argmins in-row, one (sub, cid, dim)-keyed update aggregate — see
    _fused_pq_codebooks); the 4 trained codebooks form ONE ~20-row
    broadcast; encoding is a single corpus scan with 4 in-row argmins —
    no shuffle. (A production run would train on a sample rather than
    the full corpus; the plan shape is unchanged.)

    Determinism: same fixed-point integer arithmetic as km1/km2."""
    # vq is consumed by the train pass and the encode pass; materialize
    # the quantized vectors once — at corpus scale the int-array table
    # is exactly what a PQ index build stores
    from aristoteles_spark.operators.barrier import audit_barrier

    vq = audit_barrier(_vq(spark, sf_dir))
    # Fused training (round 9, guide §1.2 "remove unnecessary passes"):
    # 5 corpus passes become 2 (train + encode) — see _fused_pq_codebooks.
    allcb = _fused_pq_codebooks(vq)
    packed = F.broadcast(
        allcb.select(F.struct("sub", "cid", "cq").alias("c"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("c")).alias("cbs"))
    )

    def best_for(s):
        from aristoteles_spark.operators.clustering import dist2q

        sub_xq = F.slice("xq", s * SUB_DIM + 1, SUB_DIM)
        entries = F.filter("cbs", lambda b: b["sub"] == F.lit(s))
        return F.array_min(
            F.transform(
                entries,
                lambda b: F.struct(
                    dist2q(sub_xq, b["cq"]).alias("d2q"), b["cid"].alias("cid")
                ),
            )
        )

    enc = vq.crossJoin(packed)
    bests = [best_for(s) for s in range(N_SUB)]
    err = bests[0]["d2q"]
    for b in bests[1:]:
        err = err + b["d2q"]
    return enc.select(
        "vec_id",
        *[b["cid"].alias(f"code{s}") for s, b in enumerate(bests)],
        err.alias("err_q"),
    ).orderBy("vec_id")


def _pq_sub_ctes(
    s: int, mod: int = CENT_MOD, coff: int = CENT_OFF, cap: int = SEED_CAP
) -> str:
    """One subspace's train+encode CTE chain (mirrors km's oracle with
    the subvector slice as the vector). ``mod/coff/cap`` select the
    codebook seed set — pq1 keeps the km defaults; sim7/sim8 use a
    denser rule (more codewords)."""
    off = s * SUB_DIM
    d2 = (
        f"CAST(list_sum(list_transform(range(1, {SUB_DIM + 1}),"
        f" i -> (v.xq[i] - c.cq[i]) * (v.xq[i] - c.cq[i]))) AS BIGINT)"
    )
    return f"""sub{s} AS (
  SELECT vec_id, list_transform(range(1, {SUB_DIM + 1}), i -> xq[i + {off}]) AS xq
  FROM vq
), c0_{s} AS (
  SELECT vec_id AS cid, xq AS cq FROM sub{s} WHERE vec_id % {mod} = {coff} AND vec_id < {cap}
), s1_{s} AS (
  SELECT v.vec_id, v.xq, c.cid, {d2} AS d2q
  FROM sub{s} v CROSS JOIN c0_{s} c
), a1_{s} AS (
  SELECT vec_id, xq, cid FROM s1_{s}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) = 1
), u1_{s} AS (
  SELECT cid, i AS dim,
         CAST(floor(CAST(sum(xq[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cq
  FROM a1_{s}, range(1, {SUB_DIM + 1}) t(i)
  GROUP BY cid, i
), c1_{s} AS (
  SELECT cid, list(cq ORDER BY dim) AS cq FROM u1_{s} GROUP BY cid
), s2_{s} AS (
  SELECT v.vec_id, c.cid, {d2} AS d2q
  FROM sub{s} v CROSS JOIN c1_{s} c
), a2_{s} AS (
  SELECT vec_id, cid AS code{s}, d2q AS e{s} FROM s2_{s}
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) = 1
)"""


def _pq_oracle_sql() -> str:
    ctes = ",\n".join(_pq_sub_ctes(s) for s in range(N_SUB))
    joins = " ".join(f"JOIN a2_{s} USING (vec_id)" for s in range(1, N_SUB))
    codes = ", ".join(f"code{s}" for s in range(N_SUB))
    err = " + ".join(f"e{s}" for s in range(N_SUB))
    return f"""
WITH vq AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {SCALE!r}) AS BIGINT)) AS xq
  FROM embeddings
),
{ctes}
SELECT vec_id, {codes}, CAST({err} AS BIGINT) AS err_q
FROM a2_0 {joins}
ORDER BY vec_id
"""


# ------------------------------------------------------------- IVF-PQ ADC

# sim7/sim8 constants — constants of the algorithm (the CENT_CAP rule).
IVFPQ_NPROBE = 3
IVFPQ_K = 5
IVFPQ_QUERY_MOD = 50  # same candidate pool rule as sim1-sim6
IVFPQ_QUERIES = 50  # fixed evaluation budget (hash-smallest, sim6 rule)
# PQ codebook seed rule — DENSER than km/pq1's coarse rule: <= 286
# codewords per subspace at the cap (the production IVF-PQ codebook is
# 256/subspace; pq1's ~20 measured 8% recall — code distances carry no
# signal at that resolution on this corpus, see sim8's docstring).
# Still scale-CONSTANT: the cap keeps the assignment pass O(n * k) with
# k fixed, and the codebook broadcast bounded at any corpus size.
IVFPQ_CB_MOD = 7
IVFPQ_CB_OFF = 3
IVFPQ_CB_CAP = 2000


def _ivfpq_query_ids(vq):
    """Fixed-size deterministic query sample (the sim4/sim6 budget
    discipline): hash-smallest IVFPQ_QUERIES ids among
    vec_id % IVFPQ_QUERY_MOD == 0 — identical expression in the SQL."""
    from aristoteles_spark.functions.text import h32

    return (
        vq.filter(F.col("vec_id") % IVFPQ_QUERY_MOD == 0)
        .select("vec_id", h32(F.col("vec_id").cast("string")).alias("hk"))
        .orderBy("hk", "vec_id")
        .limit(IVFPQ_QUERIES)
        .select("vec_id")
    )


def _ivfpq_vq(spark, sf_dir):
    """Quantized-vector table shared across the sim7/sim8/sim9 family
    (operators/materialize.shared_table — the production shape: the
    int table is written once)."""
    import os

    from aristoteles_spark.operators.materialize import shared_table

    return shared_table(
        spark,
        ("ivfpq_vq", os.path.abspath(sf_dir)),
        lambda: _vq(spark, sf_dir),
    )


def _ivfpq_parts(spark, sf_dir):
    """Shared IVF-PQ build: returns (vq, index, qx) where

    - index = (neighbor_id, cell, code0..3): the coarse cell plus pq1's
      per-subspace codes — 6 small ints per vector, the ONLY thing the
      100 TB search path stores or scans (the memory play of IVF-PQ);
    - qx = (query_id, qcell, m0..3): each budgeted query exploded to its
      IVFPQ_NPROBE probe cells, carrying its four asymmetric-distance
      lookup tables (map codeword-id -> exact integer squared-L2 between
      the query's subvector and that codeword) — computed ONCE per
      query, O(k_codebook) entries, then every candidate costs 4 map
      lookups + 3 adds. This is the ADC trick of Jegou et al. 2011
      ("Product quantization for nearest neighbor search"): the query
      stays unquantized (asymmetric), the corpus is never touched.

    Plan (100 TB shape): codebook training is pq1's 4 subspace Lloyd
    passes; index encode is ONE corpus scan of in-row argmins (zero
    shuffle, both quantizers ride in broadcast arrays); the search joins
    the code table against a <= queries x nprobe row broadcast on the
    small int cell key and never reads the embedding column — scan
    width 6 ints, no shuffle before the final per-query top-k."""
    import os

    from aristoteles_spark.operators.clustering import dist2q
    from aristoteles_spark.operators.materialize import shared_table

    sfa = os.path.abspath(sf_dir)
    vq = _ivfpq_vq(spark, sf_dir)
    c0 = _init_cents(vq)
    packed_c0 = F.broadcast(
        c0.select(F.struct("cid", "cq").alias("c"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("c")).alias("cents"))
    )

    def build_allcb():
        # fused one-pass trainer (round 9): N_SUB assign scans -> 1
        return _fused_pq_codebooks(
            vq, IVFPQ_CB_MOD, IVFPQ_CB_OFF, IVFPQ_CB_CAP
        )

    # the trained codebook table (~4 x <=286 tiny rows, but its BUILD is
    # the 4 subspace Lloyd passes) is the second stored artifact —
    # training runs once per session, not once per family member
    allcb = shared_table(spark, ("ivfpq_cb", sfa), build_allcb)
    packed_cb = F.broadcast(
        allcb.select(F.struct("sub", "cid", "cq").alias("c"))
        .groupBy()
        .agg(F.array_sort(F.collect_list("c")).alias("cbs"))
    )

    cell_structs = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            dist2q(F.col("xq"), c["cq"]).alias("d2q"), c["cid"].alias("cid")
        ),
    )

    def code_for(s):
        sub_xq = F.slice("xq", s * SUB_DIM + 1, SUB_DIM)
        entries = F.filter("cbs", lambda b: b["sub"] == F.lit(s))
        return F.array_min(
            F.transform(
                entries,
                lambda b: F.struct(
                    dist2q(sub_xq, b["cq"]).alias("d2q"),
                    b["cid"].alias("cid"),
                ),
            )
        )["cid"]

    enc = vq.join(packed_c0).join(packed_cb)
    index_built = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.array_min(cell_structs)["cid"].alias("cell"),
        *[code_for(s).alias(f"code{s}") for s in range(N_SUB)],
    )

    def lut_for(s):
        sub_xq = F.slice("xq", s * SUB_DIM + 1, SUB_DIM)
        entries = F.filter("cbs", lambda b: b["sub"] == F.lit(s))
        return F.map_from_entries(
            F.transform(
                entries,
                lambda b: F.struct(b["cid"], dist2q(sub_xq, b["cq"])),
            )
        )

    q = vq.join(F.broadcast(_ivfpq_query_ids(vq)), "vec_id")
    qx = (
        q.join(packed_c0)
        .join(packed_cb)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.slice(F.array_sort(cell_structs), 1, IVFPQ_NPROBE)
            ).alias("pr"),
            *[lut_for(s).alias(f"m{s}") for s in range(N_SUB)],
        )
        .select(
            "query_id",
            F.col("pr")["cid"].alias("qcell"),
            *[f"m{s}" for s in range(N_SUB)],
        )
    )
    # the code table IS the stored index (what a deployment writes);
    # the exploded query/LUT frame is tiny — memoizing both makes
    # sim7/sim8/sim9 consume the same artifacts instead of re-encoding
    # the corpus per family member
    index = shared_table(
        spark, ("ivfpq_index", sfa), lambda: index_built
    )
    qx_built = qx
    qx = shared_table(spark, ("ivfpq_qx", sfa), lambda: qx_built)
    return vq, index, qx


def _ivfpq_topk(index, qx, k: int = IVFPQ_K):
    """ADC candidate scan + per-query top-k: (query_id, neighbor_id,
    adc_q)."""
    from pyspark.sql import Window

    adc = None
    for s in range(N_SUB):
        t = F.element_at(F.col(f"m{s}"), F.col(f"code{s}"))
        adc = t if adc is None else adc + t
    scored = (
        index.join(
            F.broadcast(qx),
            (F.col("cell") == F.col("qcell"))
            & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", adc.alias("adc_q"))
        # the same neighbor can surface via both probe cells only if
        # cells tie — dedup for safety, keeping the (identical) adc
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("adc_q").alias("adc_q"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_q").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(k))
        .select("query_id", "neighbor_id", "adc_q")
    )


def q_knn_ivfpq(spark, sf_dir):
    """sim7 — IVF-PQ asymmetric-distance search (Jegou et al. 2011):
    top-k per budgeted query answered ENTIRELY over the compressed code
    table (coarse cell + 4 PQ codes per vector, the production 100 TB
    ANN memory configuration) — the raw corpus vectors are only read at
    index-build time, never at query time. Closes the round-7 verdict's
    pq1->search loop. Reference scope check: /root/reference/
    aristoteles/aristoteles.py:229-346 — no vector surface; §7.4."""
    vq, index, qx = _ivfpq_parts(spark, sf_dir)
    return _ivfpq_topk(index, qx).orderBy("query_id", "neighbor_id")


def q_ivfpq_recall(spark, sf_dir):
    """sim8 — recall census of sim7's IVF-PQ path against the EXACT
    integer-L2 brute-force top-k over the same quantized vectors (the
    metric the index approximates — cosine truth would conflate metric
    mismatch with quantization loss). Fixed evaluation budget (sim6's
    discipline): per query, (n_true, pq_hits, pq_recall_ppm).

    Measured at sf0.01 (near-random synthetic embeddings — a hard,
    low-contrast corpus): pure-ADC recall@5 = 24% with the dense
    codebook rule, vs an exact-rerank ceiling of 64% at nprobe=3 (cell
    coverage bounds it) and 8% with pq1's ~20-codeword books — i.e. the
    census quantifies exactly the codebook-resolution and coverage
    trade the production (256-codeword, tuned-nprobe) configuration
    makes. sim6's sibling numbers for context: hyperplane-LSH 4%,
    IVF-with-exact-rerank 46% at nprobe=2. sim9 adds the refine stage
    that buys back most of the quantization loss."""
    vq, index, qx = _ivfpq_parts(spark, sf_dir)
    approx = _ivfpq_topk(index, qx).select(
        "query_id", "neighbor_id", F.lit(1).alias("in_pq")
    )
    truth = _ivfpq_truth(vq)
    j = truth.join(approx, ["query_id", "neighbor_id"], "left")
    per = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce("in_pq", F.lit(0))).cast("long").alias("pq_hits"),
    )
    return per.select(
        "query_id",
        "n_true",
        "pq_hits",
        F.floor(F.col("pq_hits") * F.lit(1.0e6) / F.col("n_true"))
        .cast("long")
        .alias("pq_recall_ppm"),
    ).orderBy("query_id")


# rerank budget multiplier: the refine stage re-scores the top R*k ADC
# candidates exactly. Measured recall@5 at sf0.01: pure ADC 24%; R=2 ->
# 40%, R=3 -> 42%, R=5 -> 46%; rerank of ALL probed-cell candidates
# (R -> inf) = the 64% coverage ceiling. R=3 is the shipped point:
# 15 vector fetches per query buys +18 recall points.
IVFPQ_RERANK = 3


def _ivfpq_truth(vq):
    """Exact integer-L2 brute-force top-k over the budgeted query set —
    the truth side shared by sim8 and sim9."""
    from pyspark.sql import Window

    from aristoteles_spark.operators.clustering import dist2q

    qv = vq.join(F.broadcast(_ivfpq_query_ids(vq)), "vec_id").select(
        F.col("vec_id").alias("query_id"), F.col("xq").alias("qxq")
    )
    pairs = vq.join(
        F.broadcast(qv), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        dist2q(F.col("xq"), F.col("qxq")).alias("d2q"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2q").asc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= IVFPQ_K)
        .select("query_id", "neighbor_id")
    )


def q_ivfpq_rerank(spark, sf_dir):
    """sim9 — IVF-PQ with exact RE-RANKING (the FAISS IVFPQR / refine
    pattern, round 8): the ADC scan nominates the top R*k candidates
    per query from the compressed codes alone, then ONLY those rows
    fetch their raw vectors for exact integer-L2 re-scoring — the
    production middle ground between pure ADC (zero vector reads,
    24% recall here) and exact IVF (reads every probed-cell vector,
    the 64% coverage ceiling). Output: the recall census of the
    re-ranked path (42% at the shipped R=3 — re-ranking recovers most
    quantization-induced ranking loss for 15 vector fetches/query).

    Plan: the refine join touches R*|queries| rows of the vector
    store (candidate list broadcast at this scale; a point-lookup
    pattern against the id-sorted store at 100 TB), then a tiny
    per-query top-k; truth is sim8's one linear corpus pass."""
    from pyspark.sql import Window

    from aristoteles_spark.operators.clustering import dist2q

    vq, index, qx = _ivfpq_parts(spark, sf_dir)
    radc = _ivfpq_topk(index, qx, k=IVFPQ_K * IVFPQ_RERANK).select(
        "query_id", "neighbor_id"
    )
    cand = (
        radc.join(
            vq.select(F.col("vec_id").alias("neighbor_id"), F.col("xq").alias("cxq")),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                vq.join(F.broadcast(_ivfpq_query_ids(vq)), "vec_id").select(
                    F.col("vec_id").alias("query_id"),
                    F.col("xq").alias("qxq"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            dist2q(F.col("cxq"), F.col("qxq")).alias("d2q"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2q").asc(), F.col("neighbor_id").asc()
    )
    rtop = (
        cand.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= IVFPQ_K)
        .select("query_id", "neighbor_id", F.lit(1).alias("in_rr"))
    )
    truth = _ivfpq_truth(vq)
    j = truth.join(rtop, ["query_id", "neighbor_id"], "left")
    per = j.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.coalesce("in_rr", F.lit(0))).cast("long").alias("rr_hits"),
    )
    return per.select(
        "query_id",
        "n_true",
        "rr_hits",
        F.floor(F.col("rr_hits") * F.lit(1.0e6) / F.col("n_true"))
        .cast("long")
        .alias("rr_recall_ppm"),
    ).orderBy("query_id")


QUERIES = {
    "km1_kmeans_centroids": q_kmeans_centroids,
    "km2_kmeans_lloyd": q_kmeans_lloyd,
    "pq1_product_quantize": q_product_quantize,
    "sd1_semdedup": q_semdedup,
    "sim7_knn_ivfpq": q_knn_ivfpq,
    "sim8_ivfpq_recall": q_ivfpq_recall,
    "sim9_ivfpq_rerank": q_ivfpq_rerank,
}

_SD1_DOT = (
    f"CAST(list_sum(list_transform(range(1, {DIM + 1}),"
    f" i -> x.xq[i] * y.xq[i])) AS BIGINT)"
)


def _ivfpq_cte() -> str:
    """Shared sim7/sim8 oracle prefix: pq1's per-subspace codebook/code
    chains + the coarse cell assignment + the budgeted query set + the
    ADC-scored, ranked candidate stream."""
    subs = ",\n".join(
        _pq_sub_ctes(s, IVFPQ_CB_MOD, IVFPQ_CB_OFF, IVFPQ_CB_CAP)
        for s in range(N_SUB)
    )
    joins = " ".join(f"JOIN a2_{s} USING (vec_id)" for s in range(1, N_SUB))
    code_cols = ", ".join(f"code{s}" for s in range(N_SUB))
    d2full = (
        f"CAST(list_sum(list_transform(range(1, {DIM + 1}),"
        f" i -> (v.xq[i] - c.cq[i]) * (v.xq[i] - c.cq[i]))) AS BIGINT)"
    )
    adc_terms = " + ".join(
        f"list_sum(list_transform(range(1, {SUB_DIM + 1}),"
        f" i -> (qv.xq[i + {s * SUB_DIM}] - b{s}.cq[i])"
        f" * (qv.xq[i + {s * SUB_DIM}] - b{s}.cq[i])))"
        for s in range(N_SUB)
    )
    cb_joins = " ".join(
        f"JOIN c1_{s} b{s} ON b{s}.cid = k.code{s}" for s in range(N_SUB)
    )
    return f"""
WITH vq AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {SCALE!r}) AS BIGINT)) AS xq
  FROM embeddings
),
{subs},
codes AS (SELECT vec_id, {code_cols} FROM a2_0 {joins}),
c0 AS (SELECT vec_id AS cid, xq AS cq FROM vq
       WHERE vec_id % {CENT_MOD} = {CENT_OFF} AND vec_id < {SEED_CAP}),
asgf AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) AS rn
  FROM (SELECT v.vec_id, c.cid, {d2full} AS d2q FROM vq v CROSS JOIN c0 c)
),
ccell AS (SELECT vec_id, cid AS cell FROM asgf WHERE rn = 1),
qids AS (SELECT vec_id FROM vq WHERE vec_id % {IVFPQ_QUERY_MOD} = 0
         ORDER BY CAST(concat('0x', substr(md5(concat('0', ':', CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT), vec_id
         LIMIT {IVFPQ_QUERIES}),
qcell AS (SELECT vec_id, cid AS cell FROM asgf
          WHERE rn <= {IVFPQ_NPROBE}
            AND vec_id IN (SELECT vec_id FROM qids)),
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qcell q JOIN ccell c ON c.cell = q.cell AND c.vec_id <> q.vec_id
),
adc AS (
  SELECT cand.query_id, cand.neighbor_id,
         CAST({adc_terms} AS BIGINT) AS adc_q
  FROM cand
  JOIN vq qv ON qv.vec_id = cand.query_id
  JOIN codes k ON k.vec_id = cand.neighbor_id
  {cb_joins}
),
ranked AS (
  SELECT query_id, neighbor_id, adc_q,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc_q, neighbor_id) AS rn
  FROM adc
)"""

ORACLE = {
    "sd1_semdedup": _PREFIX
    + f"""
, r AS (
  SELECT vec_id, xq, cid, d2q,
         CAST(list_sum(list_transform(range(1, {DIM + 1}),
              i -> xq[i] * xq[i])) AS BIGINT) AS nrm,
         row_number() OVER (PARTITION BY cid ORDER BY d2q, vec_id) AS rnk
  FROM a1
), pr AS (
  SELECT x.cid, x.vec_id AS vid_x,
         CAST(100 AS HUGEINT) * {_SD1_DOT} AS d100,
         x.nrm AS nx, y.nrm AS ny
  FROM r x JOIN r y
    ON x.cid = y.cid AND y.rnk BETWEEN x.rnk - {SEM_W} AND x.rnk - 1
), dropped AS (
  SELECT cid, count(DISTINCT vid_x) AS n_dropped
  FROM pr
  WHERE d100 > 0
    AND d100 * d100 >= CAST({SEM_T2_E4} AS HUGEINT) * CAST(nx AS HUGEINT) * CAST(ny AS HUGEINT)
  GROUP BY cid
), members AS (
  SELECT cid, count(*) AS n_members FROM a1 GROUP BY cid
)
SELECT m.cid AS cluster_id, m.n_members,
       CAST(COALESCE(d.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(m.n_members - COALESCE(d.n_dropped, 0) AS BIGINT) AS n_kept
FROM members m LEFT JOIN dropped d USING (cid)
ORDER BY cluster_id
""",
    "pq1_product_quantize": _pq_oracle_sql(),
    "sim7_knn_ivfpq": _ivfpq_cte()
    + f"""
SELECT query_id, neighbor_id, adc_q FROM ranked WHERE rn <= {IVFPQ_K}
ORDER BY query_id, neighbor_id
""",
    "sim9_ivfpq_rerank": _ivfpq_cte()
    + f""",
radc AS (SELECT query_id, neighbor_id FROM ranked
         WHERE rn <= {IVFPQ_K * IVFPQ_RERANK}),
rr AS (
  SELECT r.query_id, r.neighbor_id,
         CAST(list_sum(list_transform(range(1, {DIM + 1}),
              i -> (qv.xq[i] - cv.xq[i]) * (qv.xq[i] - cv.xq[i])))
              AS BIGINT) AS d2q
  FROM radc r JOIN vq qv ON qv.vec_id = r.query_id
              JOIN vq cv ON cv.vec_id = r.neighbor_id
), rtop AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY d2q, neighbor_id) AS rn
    FROM rr) WHERE rn <= {IVFPQ_K}
), bt AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d2q, neighbor_id) AS rn
  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, {DIM + 1}),
                    i -> (q.xq[i] - c.xq[i]) * (q.xq[i] - c.xq[i])))
                    AS BIGINT) AS d2q
        FROM vq q JOIN vq c ON c.vec_id <> q.vec_id
        WHERE q.vec_id IN (SELECT vec_id FROM qids))
), btop AS (SELECT query_id, neighbor_id FROM bt WHERE rn <= {IVFPQ_K})
SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS rr_hits,
       CAST(floor(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  * 1.0e6 / count(*)) AS BIGINT) AS rr_recall_ppm
FROM btop b LEFT JOIN rtop a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id ORDER BY b.query_id
""",
    "sim8_ivfpq_recall": _ivfpq_cte()
    + f""",
bt AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY d2q, neighbor_id) AS rn
  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(list_sum(list_transform(range(1, {DIM + 1}),
                    i -> (q.xq[i] - c.xq[i]) * (q.xq[i] - c.xq[i])))
                    AS BIGINT) AS d2q
        FROM vq q JOIN vq c ON c.vec_id <> q.vec_id
        WHERE q.vec_id IN (SELECT vec_id FROM qids))
),
btop AS (SELECT query_id, neighbor_id FROM bt WHERE rn <= {IVFPQ_K}),
atop AS (SELECT query_id, neighbor_id FROM ranked WHERE rn <= {IVFPQ_K})
SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS pq_hits,
       CAST(floor(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                  * 1.0e6 / count(*)) AS BIGINT) AS pq_recall_ppm
FROM btop b LEFT JOIN atop a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id ORDER BY b.query_id
""",
    "km1_kmeans_centroids": _PREFIX
    + """
SELECT cid AS cluster_id, dim, cq AS centroid_q
FROM u1 ORDER BY cluster_id, dim
""",
    "km2_kmeans_lloyd": _PREFIX
    + f"""
, c1 AS (
  SELECT cid, list(cq ORDER BY dim) AS cq FROM u1 GROUP BY cid
), s2 AS (
  SELECT v.vec_id, c.cid,
         CAST(list_sum(list_transform(range(1, {DIM + 1}),
              i -> (v.xq[i] - c.cq[i]) * (v.xq[i] - c.cq[i]))) AS BIGINT) AS d2q
  FROM vq v CROSS JOIN c1 c
), a2 AS (
  SELECT vec_id, cid, d2q FROM s2
  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY d2q, cid) = 1
)
SELECT cid AS cluster_id, count(*) AS n_members,
       CAST(CAST(sum(d2q) AS DECIMAL(38,0)) AS DOUBLE) AS inertia_q
FROM a2 GROUP BY cid ORDER BY cluster_id
""",
}
