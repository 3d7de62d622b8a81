"""Analytic extension queries: multi-level rollup aggregation and
deterministic sketches + duckdb oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from aristoteles_spark.operators.sketches import kmv_distinct_estimate
from aristoteles_spark.sources.parquet_source import load_table

KMV_K = 256


def q_rollup(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.grouping_id().alias("g_level"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total_price"),
        )
        .orderBy("g_level", "o_orderpriority", "o_orderstatus")
    )


def q_cube(spark, sf_dir):
    lf = load_table(spark, sf_dir, "lineitem")
    return (
        lf.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("g_level"),
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        )
        .orderBy("g_level", "l_returnflag", "l_linestatus")
    )


def q_kmv(spark, sf_dir):
    lf = load_table(spark, sf_dir, "lineitem")
    return kmv_distinct_estimate(lf, "l_orderkey", k=KMV_K)


def q_hll(spark, sf_dir):
    """sk5 — HyperLogLog distinct-orderkey sketch (p=8): the
    mergeable-register counterpart to sk1's KMV, bit-deterministic by
    integer register math (operators/sketches.py:hll_distinct_estimate).
    One scan, one <=256-key partial-agg exchange — at 100 TB this is the
    sketch you actually run (and merge across shards) instead of an
    exact count_distinct."""
    from aristoteles_spark.operators.sketches import hll_distinct_estimate

    lf = load_table(spark, sf_dir, "lineitem")
    return hll_distinct_estimate(lf, "l_orderkey")


SK6_K = 64


def q_kmv_per_source(spark, sf_dir):
    """sk6 — per-group KMV: distinct-users-per-event-type estimate
    (the "cardinality per segment" query). sk1's global orderBy+limit
    cannot be keyed; the group-wise form ranks hashes inside a
    per-group window, which Spark executes as WindowGroupLimit — every
    partition forwards at most k rows PER GROUP, so the exchange is
    O(groups * k) no matter how many distinct users a segment has.
    k=64 sits between the test scales on purpose: sf0.001 (15 users)
    exercises the exact under-k branch, sf0.01+ (150+) the estimator."""
    from aristoteles_spark.functions.text import h32
    from aristoteles_spark.operators.sketches import kmv_distinct_per_group

    e = load_table(spark, sf_dir, "events")
    return kmv_distinct_per_group(
        e, "event_type", h32(F.col("user_id").cast("string")), k=SK6_K
    ).orderBy("event_type")


DRIFT_B = 256


def q_distribution_drift(spark, sf_dir):
    """dr1 — corpus drift monitor: exact L1 / total-variation distance
    between the token-bucket distributions of two corpus halves (even-
    vs odd-numbered sources here; old-vs-new snapshot in production —
    the standard alarm for "this month's crawl looks different").

    Scale shape: ONE pass over the token stream into a 256-key partial
    aggregate with two conditional sums; the drift arithmetic runs on
    the 256-row result against a broadcast 1-row total. Determinism:
    the summand is the cross-multiplied integer |ca*tb - cb*ta|
    (order-independent exact sum, carried in DECIMAL(38,0)); the single
    double division happens once at the end (operands < 2^53)."""
    from aristoteles_spark.functions.text import h32, tokens
    from aristoteles_spark.sources.parquet_source import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    is_a = F.substring("source", 4, 10).cast("int") % 2 == 0
    tok = d.select(is_a.alias("is_a"), F.explode(tokens("text")).alias("t"))
    counts = (
        tok.groupBy((h32(F.col("t")) % DRIFT_B).alias("b"))
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).cast("long").alias("cb"),
        )
    )
    tot = counts.agg(
        F.sum("ca").cast("long").alias("ta"), F.sum("cb").cast("long").alias("tb")
    )
    num = F.abs(
        F.col("ca").cast("decimal(38,0)") * F.col("tb").cast("decimal(38,0)")
        - F.col("cb").cast("decimal(38,0)") * F.col("ta").cast("decimal(38,0)")
    )
    return (
        counts.join(F.broadcast(tot))
        .agg(
            F.max("ta").alias("ta"),
            F.max("tb").alias("tb"),
            F.sum(num).cast("long").alias("l1_num"),
        )
        .select(
            "ta",
            "tb",
            "l1_num",
            F.floor(
                F.col("l1_num").cast("double")
                * F.lit(1.0e6)
                / (F.lit(2) * F.col("ta") * F.col("tb")).cast("double")
            )
            .cast("long")
            .alias("tv_ppm"),
        )
    )


def q_json_extract(spark, sf_dir):
    """JSON scalar extraction from the events props column (string JSON).
    get_json_object is a codegen'd path expression — no Python, no parse
    of unused fields."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("long").alias("k"),
        )
        .orderBy("event_id")
    )


def q_three_way_split(spark, sf_dir):
    """Deterministic train/val/test assignment (80/10/10) by content
    hash of the doc id — the reproducible split every training pipeline
    needs (stable across runs, engines, and re-partitioning; rand()-based
    splits are none of those). Row-local hash + one partial-agg groupBy."""
    from aristoteles_spark.functions.text import h32

    d = load_table(spark, sf_dir, "documents")
    bucket = h32(F.col("doc_id").cast("string")) % 10
    split = (
        F.when(bucket < 8, "train").when(bucket == 8, "val").otherwise("test")
    )
    return (
        d.select("source", split.alias("split"), "doc_id", "n_chars")
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("source", "split")
    )


def q_variant_agg(spark, sf_dir):
    """Semi-structured aggregation over the VARIANT type (Spark 4):
    props parses once into the binary variant encoding, typed extraction
    happens per-field (try_variant_get — no full-document re-parse per
    access, unlike repeated get_json_object), and the result feeds a
    normal partial-agg groupBy. At 100 TB variant shredding keeps wide
    semi-structured columns scannable without a fixed schema."""
    e = load_table(spark, sf_dir, "events")
    # try_parse_json: a malformed row degrades to NULL (grouped under the
    # NULL decile) instead of failing the query — matching the oracle's
    # json_extract_string NULL propagation
    k = F.try_variant_get(F.try_parse_json("props"), "$.k", "long")
    return (
        e.select(k.alias("k"))
        .groupBy(F.floor(F.col("k") / 10).cast("int").alias("k_decile"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("sum_k"))
        .orderBy("k_decile")
    )


def q_hash_sample(spark, sf_dir):
    """Deterministic 5% sample by content hash — the reproducible sampling
    a training-data pipeline needs (same rows selected on every engine and
    every run, unlike rand()-based sampling)."""
    from aristoteles_spark.functions.text import h32

    lf = load_table(spark, sf_dir, "lineitem")
    key = F.concat_ws(":", F.col("l_orderkey"), F.col("l_linenumber"))
    return (
        lf.filter(h32(key) % 100 < 5)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty"),
        )
        .orderBy("l_returnflag")
    )


def q_multires_rollup(spark, sf_dir):
    """Hypertable-style multi-resolution time rollup: hour + day + month
    aggregates of the events stream in ONE scan via GROUPING SETS (the
    continuous-aggregate pattern; each finer level could also fold into
    the coarser one incrementally)."""
    from aristoteles_spark.plans.sql import register_views

    register_views(spark, sf_dir, ["events"])
    # NTZ-safe truncation in SQL: date_trunc would coerce the NTZ column
    # through the session timezone (functions/time.py:ntz_trunc notes)
    us = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    trunc_h = f"timestampadd(MICROSECOND, -CAST({us} % 3600000000 AS BIGINT), ts)"
    trunc_d = f"timestampadd(MICROSECOND, -CAST({us} % 86400000000 AS BIGINT), ts)"
    trunc_m = "make_timestamp_ntz(year(ts), month(ts), 1, 0, 0, 0)"
    return spark.sql(
        f"""
        SELECT {trunc_h} AS h, {trunc_d} AS d,
               {trunc_m} AS m,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
        FROM events
        GROUP BY GROUPING SETS (
          ({trunc_h}),
          ({trunc_d}),
          ({trunc_m})
        )
        ORDER BY h, d, m
        """
    )


def q_salted_token_df(spark, sf_dir):
    """Top-50 tokens by document frequency via explicit two-stage salted
    aggregation — the exact-result skew pattern for hot keys ('the'
    appears in every document; salting spreads it over 16 reducers)."""
    from aristoteles_spark.functions.text import distinct_tokens
    from aristoteles_spark.operators.skew import salted_agg

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.col("doc_id"), F.explode(distinct_tokens("text")).alias("token")
    )
    counts = salted_agg(
        toks,
        "token",
        {"df": (F.count(F.lit(1)), lambda c: F.sum(c))},
        salt_buckets=16,
        salt_on=F.col("doc_id"),
    )
    return counts.orderBy(F.col("df").desc(), "token").limit(50)


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling: per-stratum rates (rare strata
    kept at a higher rate) with a content-hash threshold, so the sample is
    reproducible across engines and runs — the rebalancing primitive for
    training-data mixes. One scan, no shuffle before the tiny groupBy."""
    from aristoteles_spark.functions.text import h32

    e = load_table(spark, sf_dir, "events")
    rate = (
        F.when(F.col("event_type") == "click", 5)
        .when(F.col("event_type") == "purchase", 50)
        .otherwise(20)
    )
    return (
        e.filter(h32(F.col("event_id").cast("string")) % 100 < rate)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value"),
        )
        .orderBy("event_type")
    )


def q_funnel(spark, sf_dir):
    """Ordered 3-stage funnel (view -> click -> purchase): users reaching
    each stage, first-touch chained (first click after first view, first
    purchase after that click). Three user_id aggregations — each stage
    output is per-user (tiny), joined back broadcast-style; the event scan
    dominates and every groupBy hashes on the same key."""
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("v_ts")
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    stages = (
        v.select(F.lit(1).alias("stage"), F.lit("view").alias("stage_name"), "user_id")
        .unionByName(
            c.select(F.lit(2).alias("stage"), F.lit("click").alias("stage_name"), "user_id")
        )
        .unionByName(
            p.select(F.lit(3).alias("stage"), F.lit("purchase").alias("stage_name"), "user_id")
        )
    )
    return (
        stages.groupBy("stage", "stage_name")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("stage")
    )


def q_quality_report(spark, sf_dir):
    """Data-quality audit (Deequ-style constraint suite) as one query:
    primary-key duplicate count, null counts, referential orphans
    (lineitem rows whose order is missing — left-anti), and domain-range
    violations. Null/range checks ride the same scan as one conditional
    aggregate (no extra pass); the PK check is a partial-agg groupBy; the
    orphan check is the only join. Returns a single-row report — the gate
    a pipeline evaluates before publishing a table."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    dup_pk = (
        li.groupBy("l_orderkey", "l_linenumber")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.count(F.lit(1)).alias("dup_pk"))
    )
    scan_checks = li.agg(
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias(
            "null_qty"
        ),
        F.sum(
            F.when(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1
            ).otherwise(0)
        ).alias("bad_discount"),
        F.sum(F.when(F.col("l_extendedprice") <= 0, 1).otherwise(0)).alias(
            "bad_price"
        ),
    )
    orphans = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(
        F.count(F.lit(1)).alias("orphan_lines")
    )
    return dup_pk.crossJoin(scan_checks).crossJoin(orphans)


def q_top_paths(spark, sf_dir):
    """Top-10 session event paths: sessionize per user (30-minute gap),
    concatenate the session's event types in time order, count paths
    corpus-wide. Path assembly is collect_list of (ts,event_id,type)
    structs + array_sort + in-row join — the sort happens inside each
    (already-shuffled) session group row, never as a global sort; the
    path census is a partial-agg groupBy and the top-10 is TakeOrdered."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    from aristoteles_spark.functions.time import epoch_us

    t_us = epoch_us(e, "ts")
    marked = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.when(
            (t_us - F.lag(t_us).over(w)) > gap_us, 1
        ).otherwise(F.when(F.lag(t_us).over(w).isNull(), 1).otherwise(0)).alias(
            "new_session"
        ),
    )
    sess = marked.withColumn(
        "sid", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = (
        sess.groupBy("user_id", "sid")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.array_join(
                F.transform("evs", lambda s: s.event_type), ">"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


def q_retention_cohorts(spark, sf_dir):
    """Weekly cohort retention: cohort = ISO week of the user's first
    event; cell (cohort_week, week_offset) counts distinct users from that
    cohort active that week. The first-seen table is one row per user —
    broadcast back onto the event scan; one countDistinct shuffle on the
    (small) cohort x offset grid."""
    from aristoteles_spark.functions.time import ntz_trunc

    e = load_table(spark, sf_dir, "events").select("user_id", "ts")
    first_seen = e.groupBy("user_id").agg(
        ntz_trunc("week", F.min("ts")).alias("cohort_week")
    )
    return (
        e.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(ntz_trunc("week", F.col("ts")), F.col("cohort_week"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
        .orderBy("cohort_week", "week_offset")
    )


def q_grouped_lists(spark, sf_dir):
    """Deterministic grouped collection: per priority, the sorted set of
    statuses seen and per-status order counts. collect_set is
    order-nondeterministic under parallelism — array_sort canonicalizes,
    which is the only way list-valued results are reproducible at scale."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.array_sort(F.collect_set("o_orderstatus")).alias("statuses"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_orderpriority")
    )


def q_approx_stats(spark, sf_dir):
    """Spark-native approximate sketches: HLL++ distinct counting and
    t-digest-style quantiles per group. Sketch values themselves cannot
    hash-match an oracle (duckdb implements different algorithms), so the
    query emits a TOLERANCE check instead: the exact values (oracle-
    comparable) plus booleans asserting each sketch estimate lands within
    5% of its exact counterpart — which the oracle states as literal TRUE.
    Spark's sketches are deterministic for a given input, so the booleans
    are stable; if a sketch ever degrades past the bound, the driver row
    goes red. Exact counterparts: g2/sk1 (distinct), g7 (percentiles)."""
    lf = load_table(spark, sf_dir, "lineitem")
    # two aggregations joined on the tiny group key, not one: combining
    # count_distinct's Expand with percentile buffers in a single
    # aggregate ran 12x slower (13.5s vs 1.1s at sf0.01 — the expanded
    # rows flow through every sketch/sort buffer twice).
    # rsd 1%: the default 5% sketch sits ON the 5% assertion bound and
    # crosses it for ~11k-key groups; 1% leaves 5x headroom.
    approx = lf.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", 0.01).alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median"),
    )
    exact = lf.groupBy("l_returnflag").agg(
        F.count_distinct("l_orderkey").alias("exact_orders"),
        F.percentile("l_extendedprice", F.lit(0.5)).alias("exact_median"),
    )
    agg = approx.join(exact, "l_returnflag")
    return (
        agg.select(
            "l_returnflag",
            "exact_orders",
            (
                F.abs(F.col("approx_orders") - F.col("exact_orders"))
                <= 0.05 * F.col("exact_orders")
            ).alias("distinct_within_5pct"),
            (
                F.abs(F.col("approx_median") - F.col("exact_median"))
                <= 0.05 * F.abs(F.col("exact_median"))
            ).alias("median_within_5pct"),
        )
        .orderBy("l_returnflag")
    )


def q_salted_join(spark, sf_dir):
    """Events joined to a per-type dimension through an explicit salted
    join (operators/skew.py): event_type has only a handful of values —
    the canonical hot-key join — so the big side scatters over 16
    (type, salt) sub-keys and the dim replicates 16x. The shuffle_hash
    hint stands in for a dimension too big to broadcast at scale; the
    result is exactly the plain join's."""
    from aristoteles_spark.operators.skew import salted_join

    e = load_table(spark, sf_dir, "events")
    dim = e.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(28,10)")).cast("double")
            / F.count("value")
        ).alias("type_avg")
    )
    joined = salted_join(
        e.select("event_id", "event_type", "value"),
        dim.hint("shuffle_hash"),
        "event_type",
        salt_buckets=16,
        salt_on=F.col("event_id"),
    )
    return (
        joined.filter(F.col("value") > F.col("type_avg"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_above"))
        .orderBy("event_type")
    )


MIX_BUDGET_NUM, MIX_BUDGET_DEN = 2, 5  # token budget = 2/5 of the corpus


def q_source_mixture(spark, sf_dir):
    """Training-mixture construction (the Dolma/Pile-style mixing stage):
    given per-source weights and a total token budget, deterministically
    sample each source at the rate that hits its share of the budget.

    Weights w_s = 1 + (source_number % 3); budget B = 2/5 of total
    corpus tokens. Per-source keep threshold (parts-per-million) is
    min(1e6, w_s*B*1e6 // (sum_w * T_s)) — ALL integer arithmetic, so
    both engines agree exactly — and a doc is kept iff
    h32(doc_id) % 1e6 < threshold (content-hash sampling: stable across
    runs, engines, partitioning; p5/p6's scheme). Plan: one partial-agg
    pass for per-source token totals T_s, the tiny totals aggregated to
    model constants and broadcast back; the corpus streams once more
    for selection — no wide shuffle of document rows at any point."""
    from aristoteles_spark.functions.text import h32, tokens
    from aristoteles_spark.sources.parquet_source import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_tok"),
        F.substring("source", 4, 10).cast("int").alias("src_num"),
    )
    totals = (
        d.groupBy("source")
        .agg(
            F.sum("n_tok").cast("long").alias("t_s"),
            (1 + F.min("src_num") % 3).cast("long").alias("w_s"),
        )
    )
    consts = totals.agg(
        F.sum(F.col("t_s")).alias("total_tok"), F.sum("w_s").alias("sum_w")
    )
    # budget + thresholds via floor(double division): numerators stay
    # below 2^52 (exact), and a true quotient is never within an ulp of
    # an integer unless it IS one, so floor is engine-exact. (Plain
    # casts are NOT: Spark cast(double as long) truncates, duckdb
    # rounds — floor() sidesteps that divergence.)
    budget = F.floor(
        F.col("total_tok") * MIX_BUDGET_NUM / F.lit(MIX_BUDGET_DEN)
    ).cast("long")
    model = totals.crossJoin(F.broadcast(consts)).select(
        "source",
        "t_s",
        "w_s",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.floor(
                F.col("w_s") * budget * 1_000_000
                / (F.col("sum_w") * F.col("t_s"))
            ).cast("long"),
        ).alias("thresh_ppm"),
    )
    keep = F.pmod(h32(F.col("doc_id").cast("string")), F.lit(1_000_000))
    return (
        d.join(F.broadcast(model), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep < F.col("thresh_ppm"), 1).otherwise(0))
            .cast("long")
            .alias("n_selected"),
            F.sum(F.when(keep < F.col("thresh_ppm"), F.col("n_tok")).otherwise(0))
            .cast("long")
            .alias("tokens_selected"),
            F.min("thresh_ppm").alias("thresh_ppm"),
        )
        .orderBy("source")
    )


def q_temperature_mixture(spark, sf_dir):
    """mx2 — temperature-weighted mixture (the multilingual/multi-source
    up-/down-sampling rule: sampling weight ∝ tokens^α, α = 0.5): small
    sources are up-weighted relative to their size, dominant sources
    down-weighted — the standard alternative to mx1's hand-set weights
    when the mixture should follow the data. Census per source: docs and
    tokens selected under a half-corpus token budget.

    Scale design (mx1's two-pass shape): one partial-agg pass for
    per-source token totals; the tiny totals frame folds to model
    constants broadcast back; the corpus streams once more for the
    content-hash selection — document rows never shuffle.

    Determinism of the ONE transcendental-free float chain: sqrt is
    IEEE-correctly-rounded in both engines (unlike ln — see px1), and
    Σ_j sqrt(t_j) is evaluated as a SORTED left fold over the collected
    per-source array (fixed order -> identical IEEE adds; the px1
    pattern), so thresh_ppm = floor(sqrt(t_s)·B·1e6 / (Σsqrt·t_s)) is
    bit-identical cross-engine with both sides stating the same
    expression tree."""
    from aristoteles_spark.functions.text import h32, tokens
    from aristoteles_spark.sources.parquet_source import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.size(tokens("text")).alias("n_tok"),
    )
    totals = d.groupBy("source").agg(
        F.sum("n_tok").cast("long").alias("t_s")
    )
    consts = totals.agg(
        F.sum("t_s").alias("total_tok"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("source", "t_s"))),
            F.lit(0.0),
            lambda acc, s: acc + F.sqrt(s["t_s"]),
        ).alias("sum_sqrt"),
    )
    budget = F.floor(F.col("total_tok") / F.lit(2)).cast("long")
    model = totals.crossJoin(F.broadcast(consts)).select(
        "source",
        "t_s",
        F.least(
            F.lit(1_000_000).cast("long"),
            F.floor(
                F.sqrt(F.col("t_s")) * budget * F.lit(1.0e6)
                / (F.col("sum_sqrt") * F.col("t_s"))
            ).cast("long"),
        ).alias("thresh_ppm"),
    )
    keep = F.pmod(h32(F.col("doc_id").cast("string")), F.lit(1_000_000))
    return (
        d.join(F.broadcast(model), "source")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep < F.col("thresh_ppm"), 1).otherwise(0))
            .cast("long")
            .alias("n_selected"),
            F.sum(
                F.when(keep < F.col("thresh_ppm"), F.col("n_tok")).otherwise(0)
            )
            .cast("long")
            .alias("tokens_selected"),
            F.min("thresh_ppm").alias("thresh_ppm"),
        )
        .orderBy("source")
    )


def q_outliers(spark, sf_dir):
    """Statistical outlier detection (3-sigma per group): per event
    type, fit mean/stddev and count values outside mean ± 3σ — the
    numeric data-quality screen next to dq1's constraint checks.

    Determinism: ``value`` is a 2-decimal price, so the moments are
    accumulated as EXACT integer cents (sum and sum-of-squares of
    bigints — commutative, no float in the aggregation; double→decimal
    casts of wide products were measured to round differently across
    engines, so they're avoided entirely). Mean/variance/σ then derive
    from those exact integers with IDENTICAL double formula text both
    sides: m = S/n/100, var = max(0,(Q - S*S/n)/(n-1)), σ =
    sqrt(var)/100 — every step a single correctly-rounded IEEE op.
    Plan: one partial-agg stats pass, the tiny per-type model broadcast
    back, one streaming outlier count — event rows never shuffle."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    stats = (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).cast("double").alias("s"),
            F.sum(cents * cents).cast("double").alias("q"),
        )
        .select(
            "event_type",
            "n",
            (F.col("s") / F.col("n") / 100).alias("mean_value"),
            (
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        (F.col("q") - F.col("s") * F.col("s") / F.col("n"))
                        / (F.col("n") - 1),
                    )
                )
                / 100
            ).alias("stddev_value"),
        )
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").alias("n"),
            F.min("mean_value").alias("mean_value"),
            F.min("stddev_value").alias("stddev_value"),
            F.sum(
                F.when(
                    F.abs(F.col("value") - F.col("mean_value"))
                    > 3 * F.col("stddev_value"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


def q_winsorize(spark, sf_dir):
    """Winsorization — clamp each group's numeric tail to its exact
    p05/p95 (the robust-statistics cleaning step next to an4's 3-sigma
    screen). Percentiles are EXACT sort-based quantiles (g7 proved
    F.percentile and duckdb quantile_cont interpolate identically);
    clamped values are either an original 2-dp price or an interpolated
    quantile of 2-dp prices (exactly representable at 4dp), so the
    clamped total goes through an exact DECIMAL(20,6) sum. Plan: one
    percentile pass per group (sort buffer per group), the tiny bounds
    broadcast back, one clamp+agg pass — event rows never shuffle."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    pcts = F.percentile("value", F.array(F.lit(0.05), F.lit(0.95)))
    bounds = (
        e.groupBy("event_type")
        .agg(pcts.alias("p"))
        .select(
            "event_type",
            F.col("p")[0].alias("lo"),
            F.col("p")[1].alias("hi"),
        )
    )
    clamped = F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi"))
    return (
        e.join(F.broadcast(bounds), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("lo").alias("p05"),
            F.min("hi").alias("p95"),
            F.sum(F.when(F.col("value") < F.col("lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_low"),
            F.sum(F.when(F.col("value") > F.col("hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clamped_high"),
            F.sum(clamped.cast("decimal(20,6)"))
            .cast("double")
            .alias("winsorized_sum"),
        )
        .orderBy("event_type")
    )


N_SHARDS = 16


def q_shard_plan(spark, sf_dir):
    """Training-shard assignment — the last stage of the curation
    pipeline (curate -> mix -> pack -> SHARD): every document lands in
    one of N output shards by content hash, so the shard layout is
    reproducible across runs/engines/partitioning and statistically
    balanced without any coordination (the property that lets 1000
    writers emit shards independently at 100 TB). Reports per-shard
    document/token totals and the id range — the shard manifest. One
    partial-agg shuffle on the tiny shard key."""
    from aristoteles_spark.functions.text import h32, tokens
    from aristoteles_spark.sources.parquet_source import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    shard = F.pmod(
        h32(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
        F.lit(N_SHARDS),
    ).cast("int")
    return (
        d.select(
            shard.alias("shard"),
            "doc_id",
            F.size(tokens("text")).alias("n_tok"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("shard_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard")
    )


def q_attribution(spark, sf_dir):
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent click within a 7-day lookback (channel =
    click_event % 5; no qualifying click -> channel -1), then revenue
    rolls up per channel. Composes the engine's as-of join operator
    (union + running last — no range-join explosion, one user_id
    shuffle) with the tolerance filter doing the lookback; the rollup
    shuffles only (channel, cents). Cents-exact revenue."""
    from aristoteles_spark.operators.temporal import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(
        purchases,
        clicks,
        on="user_id",
        right_cols={"event_id": "click_event"},
        tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    channel = (
        F.when(F.col("click_event").isNull(), F.lit(-1))
        .otherwise(F.col("click_event") % 5)
        .cast("int")
    )
    cents = (
        F.when(F.col("value").isNull(), F.lit(0))
        .otherwise(F.round(F.col("value") * 100))
        .cast("long")
    )
    return (
        j.select(channel.alias("channel"), cents.alias("cents"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").cast("long").alias("revenue_cents"),
        )
        .orderBy("channel")
    )


BLOOM_BITS = 256  # 8 words x 32 bits (32-bit words stay positive in BIGINT)
PROBE_MOD = 97  # probe token set = tokens of docs with doc_id % 97 == 0


KMV_OVERLAP_K = 64  # < sf0.01's ~150 users: the SKETCH branch runs
# at the driver's check scale, not just the exact-fallback branch


def q_kmv_overlap(spark, sf_dir):
    """Corpus-overlap estimation via mergeable KMV sketches
    (operators/sketches.py:kmv_set_overlap): how much do the 'click'
    and 'purchase' user populations overlap? The sketch-union/Jaccard/
    intersection estimates are deterministic over the portable hash, so
    all five estimates hash-match the oracle exactly — the
    contamination-estimation primitive (train vs eval overlap) at
    sketch cost instead of an exact distinct-join."""
    from aristoteles_spark.operators.sketches import kmv_set_overlap

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "purchase").select("user_id")
    return kmv_set_overlap(a, b, "user_id", k=KMV_OVERLAP_K)


CMS_D, CMS_W = 4, 256


def q_countmin(spark, sf_dir):
    """Count-Min sketch heavy-hitter frequency estimation over the
    event stream (operators/sketches.py:countmin_estimates): a 4x256
    counter grid over md5-derived hashes, probed for every 7th user.
    Because the hash family is engine-portable, the ESTIMATES themselves
    hash-match the oracle bit-for-bit (not a tolerance check), and the
    overestimate_ok column pins CMS's one-sided-error guarantee as a
    literal TRUE. One stream scan, grid is depth x width cells with
    map-side combine (heavy hitters absorbed before the shuffle),
    broadcast-joined probes — the stream never shuffles by value."""
    from aristoteles_spark.operators.sketches import countmin_estimates

    e = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
    )
    items = (
        e.filter(F.col("user_id") % 7 == 0).select("user_id").distinct()
    )
    exact = (
        e.join(F.broadcast(items), "user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    est = countmin_estimates(e, "user_id", items, depth=CMS_D, width=CMS_W)
    return (
        exact.join(
            est.withColumnRenamed("item", "user_id"), "user_id"
        )
        .select(
            "user_id",
            "exact_n",
            "cms_n",
            (F.col("cms_n") >= F.col("exact_n")).alias("overestimate_ok"),
        )
        .orderBy("user_id")
    )


def q_bloom_filter(spark, sf_dir):
    """Bloom-filter sketch as a first-class aggregate — the pre-filter a
    100 TB anti-join/decontamination pass ships to every executor
    instead of the full key set. Per source: a 256-bit Bloom filter over
    the source's token vocabulary, built with ``bit_or`` aggregation
    over two portable h32 hash positions (8x32-bit words, so no BIGINT
    sign edge); then a probe-token set is tested against every source's
    filter and compared with EXACT membership. Outputs per source:
    probes, Bloom hits, true members, false positives, and false
    negatives (which Bloom guarantees to be zero — the oracle computes
    the same zero rather than asserting it). Everything is integer
    arithmetic over the same md5-based h32 both engines share, so the
    sketch itself — normally 'engine-specific' state — is value-exact
    reproducible. Scale: build is one partial-aggregated groupBy (bit_or
    merges associatively map-side); the probe set is tiny and the filter
    table is sources x 8 longs — broadcast material."""
    from aristoteles_spark.functions.text import h32, tokens
    from aristoteles_spark.sources.parquet_source import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"))
    # vocabulary-bounded (distinct (source, token)) and consumed twice
    # (filter build + exact-membership side); materialize once instead
    # of re-running the corpus tokenize+explode per consumer
    from aristoteles_spark.operators.barrier import audit_barrier

    vocab = audit_barrier(
        d.select(
            "source", F.explode(F.array_distinct(tokens("text"))).alias("tok")
        ).distinct()
    )

    def with_positions(df):
        return df.withColumn(
            "p1", F.pmod(h32(F.col("tok"), 1), F.lit(BLOOM_BITS))
        ).withColumn("p2", F.pmod(h32(F.col("tok"), 2), F.lit(BLOOM_BITS)))

    def contrib(pos, w):
        return (
            f"CASE WHEN shiftright({pos}, 5) = {w} "
            f"THEN shiftleft(CAST(1 AS BIGINT), CAST({pos} & 31 AS INT)) "
            f"ELSE CAST(0 AS BIGINT) END"
        )

    bloom = with_positions(vocab).groupBy("source").agg(
        *[
            F.bit_or(F.expr(f"{contrib('p1', w)} | {contrib('p2', w)}")).alias(f"w{w}")
            for w in range(8)
        ]
    )

    probes = with_positions(
        d.filter(F.col("doc_id") % PROBE_MOD == 0)
        .select(F.explode(F.array_distinct(tokens("text"))).alias("tok"))
        .distinct()
    )
    actual = vocab.withColumn("actual", F.lit(1))

    def bit_set(pos):
        cases = " ".join(
            f"WHEN shiftright({pos}, 5) = {w} "
            f"THEN shiftright(w{w}, CAST({pos} & 31 AS INT))"
            for w in range(8)
        )
        return f"((CASE {cases} END) & 1)"

    tested = (
        probes.crossJoin(F.broadcast(bloom))
        .withColumn("hit", F.expr(f"CAST({bit_set('p1')} * {bit_set('p2')} = 1 AS INT)"))
        .join(F.broadcast(actual), ["source", "tok"], "left")
        .withColumn("actual", F.coalesce("actual", F.lit(0)))
    )
    return (
        tested.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("hit").cast("long").alias("n_bloom_hits"),
            F.sum("actual").cast("long").alias("n_members"),
            F.sum(
                F.when((F.col("hit") == 1) & (F.col("actual") == 0), 1).otherwise(0)
            ).cast("long").alias("n_false_pos"),
            F.sum(
                F.when((F.col("hit") == 0) & (F.col("actual") == 1), 1).otherwise(0)
            ).cast("long").alias("n_false_neg"),
        )
        .orderBy("source")
    )


N_DEPTH_BUCKETS = 8


def q_equidepth_histogram(spark, sf_dir):
    """Equi-depth (quantile) histogram of event values: ntile over a
    TOTAL deterministic order (value, event_id) — both engines define
    ntile identically (remainder rows go to the leading buckets), and
    the tiebreaker makes bucket membership exact, so min/max/count per
    bucket hash-match. The fixed-width counterpart is g10; equi-depth is
    what query optimizers and drift monitors actually want (equal mass,
    adaptive edges). Single global sort of (value,id) pairs only — at
    100 TB this would switch to approx_percentile edges + one grouped
    pass; this exact form is also the oracle for that approximation."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    w = Window.orderBy("cents", "event_id")
    b = e.select(cents.alias("cents"), "event_id").withColumn(
        "bucket", F.ntile(N_DEPTH_BUCKETS).over(w)
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("lo_cents"),
            F.max("cents").alias("hi_cents"),
        )
        .orderBy("bucket")
    )


GAP_THRESHOLD_US = 3_600_000_000  # 1 hour


def q_gap_report(spark, sf_dir):
    """Cadence-gap audit per user — the reference's completeness gate
    (288 samples/day, aristoteles/aristoteles.py:296-327) generalized to
    irregular streams: flag inter-event gaps over a threshold, report
    gap count, the largest gap, and total silent time. One lag window
    per user_id partition; integer microseconds throughout."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    from aristoteles_spark.functions.time import epoch_us

    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = (
        e.select("user_id", "event_id", epoch_us(e, "ts").alias("ts_us"))
        .withColumn("gap_us", F.col("ts_us") - F.lag("ts_us").over(w))
        .filter(F.col("gap_us").isNotNull())
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum(F.when(F.col("gap_us") > GAP_THRESHOLD_US, 1).otherwise(0))
            .cast("long")
            .alias("n_gaps"),
            F.max("gap_us").alias("max_gap_us"),
            F.sum(
                F.when(F.col("gap_us") > GAP_THRESHOLD_US, F.col("gap_us")).otherwise(0)
            ).cast("long").alias("silent_us"),
        )
        .orderBy("user_id")
    )


T0_EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z, inside the data span

_OLS_SLOPE = (
    "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
)
_OLS_ICEPT = (
    "(CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
)


def q_linear_trend(spark, sf_dir):
    """Per-group OLS linear trend (drift detection: is this metric
    rising?): closed-form least squares from the five sufficient
    statistics (n, Σx, Σy, Σx², Σxy) — accumulated as EXACT integers
    (x = whole seconds from a fixed epoch inside the span, y = cents),
    so the one shuffle carries five longs per group and the partial
    aggregation is order-independent. Slope/intercept come from ONE
    identical double expression tree on both engines: every operand is
    an exactly-represented integer, every multiply/divide is a single
    correctly-rounded IEEE op, so the doubles hash-match (same
    discipline as px1's no-transcendentals rule). The sufficient-
    statistics shape is THE scale pattern for distributed regression:
    model fit cost is O(groups), not O(rows)."""
    from aristoteles_spark.functions.time import epoch_us

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    stats = (
        e.select(
            "event_type",
            epoch_us(e, "ts").alias("us"),
            F.round(F.col("value") * 100).cast("long").alias("y"),
        )
        .withColumn("x", F.expr("us DIV 1000000") - F.lit(T0_EPOCH_S))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    return (
        stats.withColumn("slope", F.expr(_OLS_SLOPE))
        .withColumn("intercept", F.expr(_OLS_ICEPT))
        .select("event_type", "n", "slope", "intercept")
        .orderBy("event_type")
    )


def q_mode(spark, sf_dir):
    """Exact MODE per group (most frequent value, deterministic
    smallest-value tie-break) — the aggregate SQL gives you only
    approximately (approx_top_k) at scale. Two-level formulation:
    count per (group, value) — partial-aggregated, the only shuffle
    carrying (group, value, count) — then one argmax struct-max per
    group; no window, no sort, no value list materialized anywhere.
    Cents-exact values."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = F.round(F.col("value") * 100).cast("long")
    counts = (
        e.select("event_type", cents.alias("cents"))
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    best = F.max(
        F.struct(
            F.col("k").alias("k"),
            (-F.col("cents")).alias("neg"),
            F.col("cents").alias("cents"),
        )
    )
    return (
        counts.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            best.alias("b"),
        )
        .select(
            "event_type",
            "n_distinct",
            F.col("b.cents").alias("mode_cents"),
            F.col("b.k").alias("mode_count"),
        )
        .orderBy("event_type")
    )


def q_freshness(spark, sf_dir):
    """Data-freshness SLO report: per event stream, the last-seen
    event time, staleness against the newest event anywhere (integer
    microseconds — the monitoring number an on-call pages on), and the
    late-arrival profile (events per stream in the global last hour).
    One partial-agg pass for the per-type extrema; the 1-row global
    watermark broadcasts back — no second scan of the facts at 100 TB
    if the per-type maxima are maintained incrementally (mv1's
    pattern)."""
    e = load_table(spark, sf_dir, "events")
    from aristoteles_spark.functions.time import epoch_us

    per_type = e.groupBy("event_type").agg(
        F.max(epoch_us(e, "ts")).alias("last_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    global_max = per_type.agg(F.max("last_us").alias("g_us"))
    last_hour = (
        e.select("event_type", epoch_us(e, "ts").alias("us"))
        .crossJoin(F.broadcast(global_max))
        .filter(F.col("us") > F.col("g_us") - F.lit(3_600_000_000))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_last_hour"))
    )
    return (
        per_type.crossJoin(F.broadcast(global_max))
        .join(last_hour, "event_type", "left")
        .select(
            "event_type",
            "n_events",
            "last_us",
            (F.col("g_us") - F.col("last_us")).alias("staleness_us"),
            F.coalesce("n_last_hour", F.lit(0)).alias("n_last_hour"),
        )
        .orderBy("event_type")
    )


N_RANGE_SHARDS = 8


def q_range_shards(spark, sf_dir):
    """srt1 — range-partitioned global sort layout (the terasort shape,
    and the way a globally-ordered 100 TB corpus is actually laid out):
    pass 1 samples the sort key's distribution into shard boundaries;
    pass 2 assigns every row to its range shard; the manifest (per-shard
    count, key min/max, payload volume) is the checkable artifact. Here
    the key is document length — the curriculum/packing order — and the
    boundaries are exact dyadic quantiles (i/8), whose type-7 linear
    interpolation is EXACT in float64 for integer keys (dyadic fractions
    times <2^52 integers), so both engines state identical boundaries.

    Scale design: exactly two corpus passes, like terasort — a boundary
    pass (at 100 TB: approx_percentile or a sample, here exact dyadic
    percentile so the oracle can state it) and an assignment pass whose
    shard id is an in-row comparison fold against the broadcast 7-value
    boundary array. The physical write is repartitionByRange +
    sortWithinPartitions (pinned by tests/test_layout.py: per-file key
    ranges must not overlap); the exchange it costs is the range shuffle
    that IS the sort."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.col("n_chars").alias("k"))
    qs = [i / N_RANGE_SHARDS for i in range(1, N_RANGE_SHARDS)]
    bounds = keyed.agg(F.percentile("k", F.lit(qs)).alias("bs"))
    g = keyed.crossJoin(F.broadcast(bounds))
    shard = None
    for j in range(1, N_RANGE_SHARDS):
        term = (F.col("k") > F.element_at("bs", j)).cast("int")
        shard = term if shard is None else shard + term
    return (
        g.select(shard.alias("shard"), "k")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
            F.sum("k").cast("long").alias("sum_chars"),
        )
        .orderBy("shard")
    )


QUERIES = {
    "srt1_range_shards": q_range_shards,
    "mx1_source_mixture": q_source_mixture,
    "mx2_temperature_mixture": q_temperature_mixture,
    "an5_attribution": q_attribution,
    "sk2_bloom_filter": q_bloom_filter,
    "sk3_countmin_freq": q_countmin,
    "sk4_kmv_overlap": q_kmv_overlap,
    "g12_equidepth_histogram": q_equidepth_histogram,
    "dq2_gap_report": q_gap_report,
    "ml1_linear_trend": q_linear_trend,
    "g13_mode": q_mode,
    "dq3_freshness": q_freshness,
    "an4_outliers": q_outliers,
    "wz1_winsorize": q_winsorize,
    "sh1_shard_plan": q_shard_plan,
    "g4_rollup": q_rollup,
    "g5_cube": q_cube,
    "sk1_kmv_distinct": q_kmv,
    "sk5_hll_distinct": q_hll,
    "sk6_kmv_per_group": q_kmv_per_source,
    "dr1_distribution_drift": q_distribution_drift,
    "jx1_json_extract": q_json_extract,
    "p5_hash_sample": q_hash_sample,
    "wb4_multires_rollup": q_multires_rollup,
    "tk1_salted_token_df": q_salted_token_df,
    "tk2_salted_join": q_salted_join,
    "p6_stratified_sample": q_stratified_sample,
    "an1_funnel": q_funnel,
    "an2_retention_cohorts": q_retention_cohorts,
    "an3_top_paths": q_top_paths,
    "dq1_quality_report": q_quality_report,
    "jx2_variant_agg": q_variant_agg,
    "p7_three_way_split": q_three_way_split,
    "g8_grouped_lists": q_grouped_lists,
    "g9_approx_stats": q_approx_stats,
}

from aristoteles_spark.operators.sketches import (
    HLL_C as _HLL_C,
    HLL_M as _HLL_M,
    HLL_RMAX as _HLL_RMAX,
    HLL_W_BITS as _HLL_W_BITS,
)
_HLL_MASK = (1 << _HLL_W_BITS) - 1

_H32_KEY = (
    "CAST(concat('0x', substr(md5(concat('0:', CAST(l_orderkey AS VARCHAR))), 1, 8)) AS BIGINT)"
)

_BTOK = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _bloom_h(seed: int, expr: str = "tok") -> str:
    h = f"CAST(concat('0x', substr(md5(concat('{seed}:', {expr})), 1, 8)) AS BIGINT)"
    return f"({h} % {BLOOM_BITS})"


def _bloom_contrib(pos: str, w: int) -> str:
    return (
        f"CASE WHEN ({pos} >> 5) = {w} "
        f"THEN (CAST(1 AS BIGINT) << ({pos} & 31)) ELSE 0 END"
    )


def _bloom_bit(pos: str) -> str:
    cases = " ".join(
        f"WHEN ({pos} >> 5) = {w} THEN (w{w} >> CAST(({pos} & 31) AS INT))"
        for w in range(8)
    )
    return f"((CASE {cases} END) & 1)"


_BLOOM_WORDS_SQL = ", ".join(
    f"bit_or({_bloom_contrib(_bloom_h(1), w)} | {_bloom_contrib(_bloom_h(2), w)}) AS w{w}"
    for w in range(8)
)

_SRT1_QS = ", ".join(
    f"{i}/{N_RANGE_SHARDS}.0" for i in range(1, N_RANGE_SHARDS)
)
_SRT1_SHARD = " + ".join(
    f"(CASE WHEN k > bs[{j}] THEN 1 ELSE 0 END)"
    for j in range(1, N_RANGE_SHARDS)
)

ORACLE = {
    "mx2_temperature_mixture": """
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS n_tok
  FROM documents
), totals AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS t_s
  FROM d GROUP BY source
), consts AS (
  SELECT CAST(sum(t_s) AS BIGINT) AS total_tok,
         list_reduce(list(sqrt(t_s) ORDER BY source),
                     (a, b) -> a + b) AS sum_sqrt
  FROM totals
), model AS (
  SELECT source, t_s,
    least(1000000, CAST(floor(
      sqrt(t_s) * CAST(floor(total_tok / 2) AS BIGINT) * 1000000.0
      / (sum_sqrt * t_s)) AS BIGINT)) AS thresh_ppm
  FROM totals CROSS JOIN consts
), hashed AS (
  SELECT d.*, thresh_ppm,
    CAST(concat('0x', substr(md5(concat('0:', CAST(doc_id AS VARCHAR))),
         1, 8)) AS BIGINT) % 1000000 AS h
  FROM d JOIN model USING (source)
)
SELECT source, count(*) AS n_docs,
  CAST(sum(CASE WHEN h < thresh_ppm THEN 1 ELSE 0 END) AS BIGINT)
    AS n_selected,
  CAST(sum(CASE WHEN h < thresh_ppm THEN n_tok ELSE 0 END) AS BIGINT)
    AS tokens_selected,
  min(thresh_ppm) AS thresh_ppm
FROM hashed GROUP BY source ORDER BY source
""",
    "srt1_range_shards": f"""
WITH keyed AS (
  SELECT doc_id, n_chars AS k FROM documents
), b AS (
  SELECT quantile_cont(k, [{_SRT1_QS}]) AS bs FROM keyed
), a AS (
  SELECT CAST({_SRT1_SHARD} AS INTEGER) AS shard, k FROM keyed, b
)
SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
       min(k) AS min_k, max(k) AS max_k,
       CAST(sum(k) AS BIGINT) AS sum_chars
FROM a GROUP BY shard ORDER BY shard
""",
    "dq3_freshness": """
WITH per_type AS (
  SELECT event_type, max(epoch_us(ts)) AS last_us, count(*) AS n_events
  FROM events GROUP BY event_type
), g AS (
  SELECT max(last_us) AS g_us FROM per_type
), lh AS (
  SELECT event_type, count(*) AS n_last_hour
  FROM events CROSS JOIN g
  WHERE epoch_us(ts) > g_us - 3600000000
  GROUP BY event_type
)
SELECT p.event_type, p.n_events, p.last_us,
       (g.g_us - p.last_us) AS staleness_us,
       coalesce(lh.n_last_hour, 0) AS n_last_hour
FROM per_type p CROSS JOIN g
LEFT JOIN lh ON lh.event_type = p.event_type
ORDER BY p.event_type
""",
    "g13_mode": """
WITH counts AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
         count(*) AS k
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, cents
), ranked AS (
  SELECT event_type, cents, k,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY k DESC, cents ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_distinct
  FROM counts
)
SELECT event_type, CAST(n_distinct AS BIGINT) AS n_distinct,
       cents AS mode_cents, CAST(k AS BIGINT) AS mode_count
FROM ranked WHERE rn = 1 ORDER BY event_type
""",
    "ml1_linear_trend": f"""
WITH pts AS (
  SELECT event_type,
         (epoch_us(ts) // 1000000) - {T0_EPOCH_S} AS x,
         CAST(round(value * 100) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL
), stats AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(x * y) AS BIGINT) AS sxy
  FROM pts GROUP BY event_type
), fit AS (
  SELECT event_type, n, sx, sy,
         {_OLS_SLOPE} AS slope
  FROM stats
)
SELECT event_type, n, slope,
       {_OLS_ICEPT} AS intercept
FROM fit ORDER BY event_type
""",
    "g12_equidepth_histogram": f"""
WITH b AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id,
         ntile({N_DEPTH_BUCKETS}) OVER (ORDER BY CAST(round(value * 100)
           AS BIGINT), event_id) AS bucket
  FROM events WHERE value IS NOT NULL
)
SELECT CAST(bucket AS INT) AS bucket, count(*) AS n,
       min(cents) AS lo_cents, max(cents) AS hi_cents
FROM b GROUP BY bucket ORDER BY bucket
""",
    "dq2_gap_report": f"""
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
  FROM events
)
SELECT user_id, count(*) AS n_intervals,
       CAST(sum(CASE WHEN gap_us > {GAP_THRESHOLD_US} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_gaps,
       max(gap_us) AS max_gap_us,
       CAST(sum(CASE WHEN gap_us > {GAP_THRESHOLD_US} THEN gap_us ELSE 0 END)
            AS BIGINT) AS silent_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY user_id ORDER BY user_id
""",
    "sk4_kmv_overlap": f"""
WITH a AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(concat('0:',
    CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL AND event_type = 'click'
), b AS (
  SELECT DISTINCT CAST(concat('0x', substr(md5(concat('0:',
    CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS h
  FROM events WHERE user_id IS NOT NULL AND event_type = 'purchase'
),
ka AS (SELECT h FROM a ORDER BY h LIMIT {KMV_OVERLAP_K}),
kb AS (SELECT h FROM b ORDER BY h LIMIT {KMV_OVERLAP_K}),
ku AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
       ORDER BY h LIMIT {KMV_OVERLAP_K}),
ea AS (SELECT CASE WHEN count(*) < {KMV_OVERLAP_K}
         THEN CAST(count(*) AS DOUBLE)
         ELSE {KMV_OVERLAP_K - 1} * 4294967296.0 / max(h) END AS est_a
       FROM ka),
eb AS (SELECT CASE WHEN count(*) < {KMV_OVERLAP_K}
         THEN CAST(count(*) AS DOUBLE)
         ELSE {KMV_OVERLAP_K - 1} * 4294967296.0 / max(h) END AS est_b
       FROM kb),
eu AS (SELECT CASE WHEN count(*) < {KMV_OVERLAP_K}
         THEN CAST(count(*) AS DOUBLE)
         ELSE {KMV_OVERLAP_K - 1} * 4294967296.0 / max(h) END AS est_union,
         count(*) AS used
       FROM ku),
nb AS (SELECT count(*) AS n_both FROM ku
       WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb))
SELECT ea.est_a, eb.est_b, eu.est_union,
       CAST(nb.n_both AS BIGINT) AS n_both,
       CAST(nb.n_both AS DOUBLE) / CAST(eu.used AS DOUBLE) AS est_jaccard,
       (CAST(nb.n_both AS DOUBLE) / CAST(eu.used AS DOUBLE)) * eu.est_union
         AS est_intersection
FROM ea, eb, eu, nb
""",
    "sk3_countmin_freq": f"""
WITH e AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
seeds AS (SELECT unnest(range({CMS_D})) AS s),
cells AS (
  SELECT s, CAST(concat('0x', substr(md5(concat(s, ':',
           CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {CMS_W} AS b,
         count(*) AS c
  FROM e CROSS JOIN seeds GROUP BY s, b
),
items AS (
  SELECT user_id, count(*) AS exact_n FROM e
  WHERE user_id % 7 = 0 GROUP BY user_id
),
probes AS (
  SELECT i.user_id, i.exact_n, s.s,
         CAST(concat('0x', substr(md5(concat(s.s, ':',
           CAST(i.user_id AS VARCHAR))), 1, 8)) AS BIGINT) % {CMS_W} AS b
  FROM items i CROSS JOIN seeds s
),
est AS (
  SELECT p.user_id, p.exact_n, min(c.c) AS cms_n
  FROM probes p JOIN cells c ON c.s = p.s AND c.b = p.b
  GROUP BY p.user_id, p.exact_n
)
SELECT user_id, exact_n, CAST(cms_n AS BIGINT) AS cms_n,
       cms_n >= exact_n AS overestimate_ok
FROM est ORDER BY user_id
""",
    "sk2_bloom_filter": f"""
WITH vocab AS (
  SELECT DISTINCT source, tok FROM (
    SELECT source, unnest(list_distinct({_BTOK})) AS tok FROM documents)
), bloom AS (
  SELECT source, {_BLOOM_WORDS_SQL} FROM vocab GROUP BY source
), probes AS (
  SELECT DISTINCT tok FROM (
    SELECT unnest(list_distinct({_BTOK})) AS tok
    FROM documents WHERE doc_id % {PROBE_MOD} = 0)
), tested AS (
  SELECT b.source, p.tok,
         CASE WHEN {_bloom_bit(_bloom_h(1, 'p.tok'))}
                 * {_bloom_bit(_bloom_h(2, 'p.tok'))} = 1
              THEN 1 ELSE 0 END AS hit,
         CASE WHEN m.tok IS NOT NULL THEN 1 ELSE 0 END AS actual
  FROM probes p CROSS JOIN bloom b
  LEFT JOIN vocab m ON m.source = b.source AND m.tok = p.tok
)
SELECT source, count(*) AS n_probes,
       CAST(sum(hit) AS BIGINT) AS n_bloom_hits,
       CAST(sum(actual) AS BIGINT) AS n_members,
       CAST(sum(CASE WHEN hit = 1 AND actual = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos,
       CAST(sum(CASE WHEN hit = 0 AND actual = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_neg
FROM tested GROUP BY source ORDER BY source
""",
    "an5_attribution": """
WITH p AS (
  SELECT event_id, user_id, ts, value FROM events
  WHERE event_type = 'purchase'
), c0 AS (
  SELECT user_id, ts, event_id,
         row_number() OVER (PARTITION BY user_id, ts
                            ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type = 'click'
), j AS (
  SELECT p.ts, p.value, c.event_id AS click_event, c.ts AS click_ts
  FROM p ASOF LEFT JOIN
       (SELECT user_id, ts, event_id FROM c0 WHERE rn = 1) c
    ON p.user_id = c.user_id AND c.ts <= p.ts
), a AS (
  SELECT CASE WHEN click_event IS NULL
                OR click_ts < ts - INTERVAL 7 DAY
              THEN -1 ELSE CAST(click_event % 5 AS INT) END AS channel,
         CASE WHEN value IS NULL THEN 0
              ELSE CAST(round(value * 100) AS BIGINT) END AS cents
  FROM j
)
SELECT channel, count(*) AS n_purchases,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM a GROUP BY channel ORDER BY channel
""",
    "sh1_shard_plan": """
WITH d AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        x -> x <> '')) AS n_tok,
    CAST(CAST(concat('0x', substr(md5(concat('0:', concat('shard:',
      CAST(doc_id AS VARCHAR)))), 1, 8)) AS BIGINT) % 16 AS INT) AS shard
  FROM documents
)
SELECT shard, count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM d GROUP BY shard ORDER BY shard
""",
    "an4_outliers": """
WITH e AS (
  SELECT event_type, value,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE value IS NOT NULL
), stats AS (
  SELECT event_type, count(*) AS n,
         CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE) AS s,
         CAST(CAST(sum(cents * cents) AS BIGINT) AS DOUBLE) AS q
  FROM e GROUP BY event_type
), model AS (
  SELECT event_type, n, s / n / 100 AS mean_value,
         sqrt(greatest(0.0, (q - s * s / n) / (n - 1))) / 100
           AS stddev_value
  FROM stats
)
SELECT e.event_type, min(n) AS n, min(mean_value) AS mean_value,
       min(stddev_value) AS stddev_value,
       CAST(sum(CASE WHEN abs(value - mean_value) > 3 * stddev_value
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM e JOIN model USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
""",
    "wz1_winsorize": """
WITH e AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), b AS (
  SELECT event_type, quantile_cont(value, 0.05) AS lo,
         quantile_cont(value, 0.95) AS hi
  FROM e GROUP BY event_type
)
SELECT e.event_type, min(lo) AS p05, min(hi) AS p95,
  CAST(sum(CASE WHEN value < lo THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clamped_low,
  CAST(sum(CASE WHEN value > hi THEN 1 ELSE 0 END) AS BIGINT)
    AS n_clamped_high,
  CAST(sum(CAST(least(greatest(value, lo), hi) AS DECIMAL(20,6)))
    AS DOUBLE) AS winsorized_sum
FROM e JOIN b USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
""",
    "mx1_source_mixture": """
WITH d AS (
  SELECT doc_id, source,
         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
             x -> x <> '')) AS n_tok,
         CAST(substr(source, 4) AS INT) AS src_num
  FROM documents
), totals AS (
  SELECT source, CAST(sum(n_tok) AS BIGINT) AS t_s,
         CAST(1 + min(src_num) % 3 AS BIGINT) AS w_s
  FROM d GROUP BY source
), consts AS (
  SELECT CAST(sum(t_s) AS BIGINT) AS total_tok,
         CAST(sum(w_s) AS BIGINT) AS sum_w FROM totals
), model AS (
  SELECT source, t_s, w_s,
    least(1000000, CAST(floor(
      w_s * CAST(floor(total_tok * 2 / 5) AS BIGINT) * 1000000
      / (sum_w * t_s)) AS BIGINT)) AS thresh_ppm
  FROM totals CROSS JOIN consts
), hashed AS (
  SELECT d.*, thresh_ppm,
    CAST(concat('0x', substr(md5(concat('0:', CAST(doc_id AS VARCHAR))),
         1, 8)) AS BIGINT) % 1000000 AS h
  FROM d JOIN model USING (source)
)
SELECT source, count(*) AS n_docs,
  CAST(sum(CASE WHEN h < thresh_ppm THEN 1 ELSE 0 END) AS BIGINT)
    AS n_selected,
  CAST(sum(CASE WHEN h < thresh_ppm THEN n_tok ELSE 0 END) AS BIGINT)
    AS tokens_selected,
  min(thresh_ppm) AS thresh_ppm
FROM hashed GROUP BY source ORDER BY source
""",
    "g4_rollup": (
        "SELECT o_orderpriority, o_orderstatus, "
        "GROUPING(o_orderpriority, o_orderstatus) AS g_level, "
        "count(*) AS n_orders, "
        "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price "
        "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus) "
        "ORDER BY g_level, o_orderpriority, o_orderstatus"
    ),
    "g5_cube": (
        "SELECT l_returnflag, l_linestatus, "
        "GROUPING(l_returnflag, l_linestatus) AS g_level, "
        "count(*) AS n_items, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus) "
        "ORDER BY g_level, l_returnflag, l_linestatus"
    ),
    "sk5_hll_distinct": f"""
WITH h AS (
  SELECT DISTINCT {_H32_KEY} AS h FROM lineitem
), regs AS (
  SELECT h >> {_HLL_W_BITS} AS idx,
         max(CASE WHEN (h & {_HLL_MASK}) = 0 THEN {_HLL_RMAX}
                  ELSE {_HLL_RMAX} - length(bin(h & {_HLL_MASK})) END) AS rmax
  FROM h GROUP BY idx
), agg AS (
  SELECT count(*) AS m_used,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_RMAX} - rmax)) AS BIGINT) AS s_used
  FROM regs
)
SELECT m_used,
       CAST({_HLL_M} - m_used AS BIGINT) AS n_zero_registers,
       CAST(s_used + ({_HLL_M} - m_used) * {1 << _HLL_RMAX} AS BIGINT) AS s_scaled,
       {_HLL_C!r} / (s_used + ({_HLL_M} - m_used) * {1 << _HLL_RMAX}) AS est_distinct
FROM agg
""",
    "sk1_kmv_distinct": f"""
WITH h AS (
  SELECT DISTINCT {_H32_KEY} AS h FROM lineitem
), topk AS (
  SELECT h FROM h ORDER BY h LIMIT {KMV_K}
)
SELECT count(*) AS k_used, max(h) AS kth_min_hash,
  CASE WHEN count(*) < {KMV_K} THEN CAST(count(*) AS DOUBLE)
       ELSE {KMV_K - 1} * 4294967296.0 / max(h) END AS est_distinct
FROM topk
""",
    "sk6_kmv_per_group": f"""
WITH h AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(concat('0', ':',
              CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) AS h
  FROM events
), topk AS (
  SELECT event_type, h FROM h
  QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h) <= {SK6_K}
)
SELECT event_type, CAST(count(*) AS BIGINT) AS k_used, max(h) AS kth_min_hash,
  CASE WHEN count(*) < {SK6_K} THEN CAST(count(*) AS DOUBLE)
       ELSE {SK6_K - 1} * 4294967296.0 / max(h) END AS est_distinct
FROM topk GROUP BY event_type ORDER BY event_type
""",
    "dr1_distribution_drift": f"""
WITH tok AS (
  SELECT CAST(substr(source, 4, 10) AS INT) % 2 = 0 AS is_a,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                            x -> x <> '')) AS t
  FROM documents
), counts AS (
  SELECT CAST(concat('0x', substr(md5(concat('0', ':', t)), 1, 8)) AS BIGINT)
           % {DRIFT_B} AS b,
         CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS cb
  FROM tok GROUP BY b
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS ta, CAST(sum(cb) AS BIGINT) AS tb FROM counts
), agg AS (
  SELECT max(ta) AS ta, max(tb) AS tb,
         CAST(sum(abs(CAST(ca AS HUGEINT) * tb - CAST(cb AS HUGEINT) * ta))
              AS BIGINT) AS l1_num
  FROM counts, tot
)
SELECT ta, tb, l1_num,
       CAST(floor(CAST(l1_num AS DOUBLE) * 1e6
                  / CAST(2 * ta * tb AS DOUBLE)) AS BIGINT) AS tv_ppm
FROM agg
""",
    "jx1_json_extract": (
        "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
        "FROM events ORDER BY event_id"
    ),
    "p7_three_way_split": (
        "WITH s AS (SELECT source, n_chars, "
        "CAST(concat('0x', substr(md5(concat('0:', CAST(doc_id AS VARCHAR))), 1, 8)) "
        "AS BIGINT) % 10 AS b FROM documents) "
        "SELECT source, CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' "
        "ELSE 'test' END AS split, count(*) AS n_docs, "
        "CAST(sum(n_chars) AS BIGINT) AS total_chars "
        "FROM s GROUP BY source, split ORDER BY source, split"
    ),
    "jx2_variant_agg": (
        "WITH x AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
        "FROM events) "
        "SELECT CAST(floor(k / 10) AS INT) AS k_decile, count(*) AS n, "
        "CAST(sum(k) AS BIGINT) AS sum_k FROM x GROUP BY k_decile ORDER BY k_decile"
    ),
    "p5_hash_sample": (
        "SELECT l_returnflag, count(*) AS n_sampled, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
        "FROM lineitem "
        "WHERE CAST(concat('0x', substr(md5(concat('0:', "
        "concat(l_orderkey, ':', l_linenumber))), 1, 8)) AS BIGINT) % 100 < 5 "
        "GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "wb4_multires_rollup": """
SELECT date_trunc('hour', ts) AS h,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
       CAST(date_trunc('month', ts) AS TIMESTAMP) AS m,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) AS sum_value
FROM events
GROUP BY GROUPING SETS (
  (date_trunc('hour', ts)),
  (date_trunc('day', ts)),
  (date_trunc('month', ts))
)
ORDER BY h, d, m
""",
    "p6_stratified_sample": (
        "SELECT event_type, count(*) AS n_sampled, "
        "CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) AS sum_value "
        "FROM events "
        "WHERE CAST(concat('0x', substr(md5(concat('0:', "
        "CAST(event_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < "
        "(CASE WHEN event_type = 'click' THEN 5 "
        " WHEN event_type = 'purchase' THEN 50 ELSE 20 END) "
        "GROUP BY event_type ORDER BY event_type"
    ),
    "tk2_salted_join": (
        "WITH dim AS (SELECT event_type, "
        "  CAST(sum(CAST(value AS DECIMAL(28,10))) AS DOUBLE) / count(value) "
        "  AS type_avg FROM events GROUP BY event_type) "
        "SELECT e.event_type, count(*) AS n_above "
        "FROM events e JOIN dim d ON e.event_type = d.event_type "
        "WHERE e.value > d.type_avg "
        "GROUP BY e.event_type ORDER BY e.event_type"
    ),
    "tk1_salted_token_df": (
        "SELECT token, count(*) AS df FROM ("
        "  SELECT doc_id, unnest(list_distinct(list_filter("
        "    string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''))) AS token"
        "  FROM documents)"
        "GROUP BY token ORDER BY df DESC, token LIMIT 50"
    ),
    "g8_grouped_lists": (
        # statuses serialized via to_json to match the registry's terminal
        # container cast (_stable_output_types) — driver-canonicalizable.
        "SELECT o_orderpriority, "
        "CAST(to_json(list_sort(list(DISTINCT o_orderstatus))) AS VARCHAR)"
        " AS statuses, "
        "count(*) AS n_orders FROM orders "
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "an1_funnel": """
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(ts) AS c_ts FROM events e JOIN v USING (user_id)
  WHERE event_type = 'click' AND ts > v_ts GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(ts) AS p_ts FROM events e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND ts > c_ts GROUP BY e.user_id
)
SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n_users FROM v
UNION ALL SELECT 2, 'click', count(*) FROM c
UNION ALL SELECT 3, 'purchase', count(*) FROM p
ORDER BY stage
""",
    "an2_retention_cohorts": """
WITH first_seen AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events GROUP BY user_id
)
SELECT CAST(cohort_week AS TIMESTAMP) AS cohort_week,
       CAST(datediff('day', cohort_week, date_trunc('week', ts)) / 7 AS INT)
         AS week_offset,
       count(DISTINCT user_id) AS n_active
FROM events JOIN first_seen USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2
""",
    "dq1_quality_report": """
SELECT
  (SELECT count(*) FROM (
     SELECT l_orderkey, l_linenumber FROM lineitem
     GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)) AS dup_pk,
  (SELECT count(*) FROM lineitem WHERE l_quantity IS NULL) AS null_qty,
  (SELECT count(*) FROM lineitem
     WHERE l_discount < 0 OR l_discount > 1) AS bad_discount,
  (SELECT count(*) FROM lineitem WHERE l_extendedprice <= 0) AS bad_price,
  (SELECT count(*) FROM lineitem l
     LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
     WHERE o.o_orderkey IS NULL) AS orphan_lines
""",
    # tolerance oracle: exact values computed independently; the 5%-bound
    # booleans are TRUE by construction of a healthy sketch (see q_approx_stats)
    "g9_approx_stats": (
        "SELECT l_returnflag, count(DISTINCT l_orderkey) AS exact_orders, "
        "TRUE AS distinct_within_5pct, TRUE AS median_within_5pct "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "an3_top_paths": """
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM marked
), paths AS (
  SELECT string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sess GROUP BY user_id, sid
)
SELECT path, count(*) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 10
""",
}
