"""Core relational operators — SURVEY.md §2's canonical test queries plus
the join/aggregation breadth a complete engine needs.

Each Spark formulation is the plan we'd want at 100 TB:
- scans project only needed columns (Catalyst prunes to the parquet reader);
- filters are literal predicates (pushed to parquet row groups);
- small-dimension joins are broadcast (no shuffle of the fact table);
- aggregations rely on partial (map-side) aggregation before the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aristoteles_spark.sources.parquet_source import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- SURVEY §2.1 S2/A2: min probe (reference SQL #1, aristoteles.py:240-241)
def q_min_probe(spark, sf_dir):
    return _t(spark, sf_dir, "lineitem").agg(F.min("l_orderkey").alias("min_orderkey"))


# --- SURVEY §2.2 P1: static column projection (aristoteles.py:329-343)
def q_projection(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        # (l_orderkey, l_linenumber) is not unique in the synthetic data:
        # the projected columns break its ties, so tied rows are identical
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .limit(100)
    )


# --- SURVEY §2.2 P2: inclusive BETWEEN range predicate (aristoteles.py:303-306)
def q_range_count(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").between(1000, 2000))
        .agg(F.count("*").alias("cnt"))
    )


# --- SURVEY §2.4 A1: COUNT with range filter (the completeness probe shape)
def q_count_between(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").between(10, 20))
        .agg(F.count("*").alias("cnt"))
    )


# --- SURVEY §2.2 P3+P4: conditional conversion with the zero-skip guard.
# Same expression shape as the weather unit conversion (reference
# aristoteles.py:414-436), applied to the events table the driver registers.
def q_conditional_convert(spark, sf_dir):
    v = F.col("value")
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.when(
                (F.col("event_type") == "click") & v.isNotNull() & (v != 0.0),
                (v - 32) * 5 / 9,
            )
            .otherwise(v)
            .alias("value_c"),
        )
        .orderBy("event_id")
    )


# --- SURVEY §2.5 W1: tumbling 1-day UTC window (aristoteles.py:334)
def q_daily_counts(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("n"))
        .orderBy("d")
    )


# --- SURVEY §2.5 W3: intra-day ordering (aristoteles.py:343)
def q_ordering(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(500)
    )


# --- SURVEY §2.6: union of per-source streams (aristoteles.py:408-440)
def q_union_all(spark, sf_dir):
    n = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    r = _t(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    return n.unionByName(r).orderBy("name")


# --- breadth: broadcast-join star query (dims are tiny -> broadcast,
# fact table never shuffles for the join; one shuffle for the groupBy)
def q_join_agg(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("sum_bal"),
        )
        .orderBy("r_name")
    )


# --- breadth: TPC-H Q1-shaped pricing summary (partial agg -> shuffle ->
# final agg; decimal sums for order-independent exactness)
def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(28,4)")
    sum_qty = F.sum(dec(F.col("l_quantity"))).alias("sum_qty")
    sum_base = F.sum(dec(F.col("l_extendedprice"))).alias("sum_base_price")
    sum_disc = F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
        "sum_disc_price"
    )
    cnt = F.count("*").alias("count_order")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum_qty, sum_base, sum_disc, cnt)
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        "count_order",
    ).orderBy("l_returnflag", "l_linestatus")


# --- breadth: semi/anti joins (customers with no orders)
def q_anti_join(spark, sf_dir):
    # customers with no URGENT order — the filtered build side keeps the
    # anti join non-vacuous on the driver corpus (every customer has at
    # least one order, so an unfiltered NOT IN would select nothing)
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --- breadth: distinct (shuffle dedup on a low-cardinality key)
def q_distinct(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .distinct()
        .orderBy("o_orderstatus", "o_orderpriority")
    )


# --- breadth: grouped top-n via join back on aggregated max (no window
# needed; exercises self-join + broadcast of the small aggregate side)
def q_group_max(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.max(F.col("o_totalprice").cast("decimal(18,2)")).alias("max_price"),
            F.count("*").alias("n"),
        )
        .orderBy("o_orderpriority")
    )


# --- breadth: semi join (existence check without materializing the right)
def q_semi_join(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --- breadth: full outer join of two keyed aggregates
def q_full_outer(spark, sf_dir):
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
        .withColumnRenamed("c_nationkey", "nationkey")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"))
        .withColumnRenamed("s_nationkey", "nationkey")
    )
    # nullable BIGINT degrades to float64 through the driver's pandas
    # canonicalization on the oracle side only when a null is present
    # (the at1 hazard — surfaced by the sf0.001 sweep, where some
    # nations have no suppliers); nullable DOUBLE round-trips
    # identically on both sides, so ship the counts as double.
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            "nationkey",
            F.col("n_cust").cast("double").alias("n_cust"),
            F.col("n_supp").cast("double").alias("n_supp"),
        )
        .orderBy("nationkey")
    )


# --- breadth: pivot (wide aggregation; fixed value list so the plan is a
# single pass with no distinct-values pre-query)
def q_pivot(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "o_orderpriority",
            F.coalesce("F", F.lit(0)).alias("n_f"),
            F.coalesce("O", F.lit(0)).alias("n_o"),
            F.coalesce("P", F.lit(0)).alias("n_p"),
        )
        .orderBy("o_orderpriority")
    )


# --- breadth: exact percentiles (sort-based, deterministic — unlike
# approx_percentile, which is sketch-dependent and engine-specific)
def q_percentiles(spark, sf_dir):
    lf = _t(spark, sf_dir, "lineitem")
    # both quantiles from ONE percentile buffer (array arg) — the sort of
    # each group's values is paid once, not per-quantile
    pcts = F.percentile("l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)))
    return (
        lf.groupBy("l_returnflag")
        .agg(pcts.alias("p"))
        .select(
            "l_returnflag",
            F.col("p")[0].alias("median_price"),
            F.col("p")[1].alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


# --- breadth: fixed-width numeric histogram (binning aggregation). The
# bucket id is computed in codegen on the scan; one partial-agg'd shuffle
# over ~#buckets groups regardless of input size.
def q_histogram(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    bucket = F.floor(F.col("l_extendedprice") / 10000).cast("int")
    return (
        li.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


# --- breadth: UNPIVOT (wide -> long melt). Compiles to Expand — each input
# row emits one row per value column in a single pass, no shuffle beyond
# the source aggregation's.
def q_unpivot(spark, sf_dir):
    wide = q_pivot(spark, sf_dir)
    return (
        wide.unpivot(
            ["o_orderpriority"], ["n_f", "n_o", "n_p"], "status_col", "n"
        )
        .orderBy("o_orderpriority", "status_col")
    )


# --- breadth: INTERSECT / EXCEPT set ops (dedup semantics; both compile
# to an aggregate + join, shuffling only the projected key column)
def q_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s).orderBy("nationkey")


def q_except(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(F.col("p_size").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    return p.subtract(c).orderBy("k")


# --- breadth: TPC-H Q3-shaped 3-way join + grouped revenue + top-k.
# The two fact tables (orders, lineitem) shuffle-join on l_orderkey; the
# filtered customer side is small enough for AQE to pick broadcast at any
# scale where the segment filter is selective. Top-k is a TakeOrdered —
# no global sort materialization.
def q_multi_join_topk(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    ).alias("revenue")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(rev)
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --- breadth: TPC-H Q5-shaped 5-way star join. region/nation are broadcast
# (tiny dims); customer and supplier join the fact chain on their keys; the
# c_nationkey = s_nationkey condition closes the snowflake.
def q_star_join(spark, sf_dir):
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = F.sum(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(28,4)")
    ).alias("revenue")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(rev)
        .orderBy(F.desc("revenue"), "n_name")
    )


# --- breadth: TPC-H Q17-shaped correlated scalar subquery, decorrelated as
# an aggregate join: per-part avg quantity is computed once (partial agg
# before the shuffle), then joined back to the filtered lineitem. At scale
# the per-part aggregate is far smaller than lineitem -> broadcastable.
def q_scalar_subquery(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_q = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_limit")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(avg_q, li.l_partkey == avg_q.ap_partkey)
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(28,4)")) / F.lit(7.0)
            ).alias("avg_yearly")
        )
    )


# --- breadth: TPC-H Q13-shaped outer join + two-level aggregation. The
# LEFT join keeps customers with zero qualifying orders (count = 0 bucket);
# the first groupBy shuffles on the high-cardinality custkey, the second is
# a tiny re-aggregation over distinct counts. Both partial-agg map-side.
def q_outer_count_dist(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# --- breadth: TPC-H Q18-shaped HAVING-driven key subset join. The
# large-order key set (sum(qty) > 250) is tiny relative to lineitem, so it
# is broadcast back against the fact tables — no second fact-fact shuffle.
def q_large_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("o_sum_qty"))
        .filter(F.col("o_sum_qty") > 250)
    )
    return (
        li.join(F.broadcast(big.select("l_orderkey")), "l_orderkey")
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(28,4)")).alias("sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


# --- breadth: TPC-H Q21-shaped semi + anti self-joins on the fact table
# (adapted to this schema's l_returnflag: suppliers who were the ONLY
# supplier with a returned line on a multi-supplier order). Both the EXISTS
# and NOT EXISTS decorrelate to leftsemi/leftanti hash joins on l_orderkey;
# the non-equi suppkey<>suppkey rides along as the join residual, so the
# shuffle is a plain equi-join shuffle at scale.
def q_semi_anti_self(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    s = _t(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").alias("l3")
    cand = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "leftsemi",
    ).join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "leftanti",
    )
    return (
        cand.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


# one ANSI string, two engines: the literal SQL surface (plans/sql.py)
# is exercised by running the SAME text through spark.sql and the duckdb
# oracle — parser/analyzer/optimizer parity on shared dialect, the Spark
# analogue of the reference's pushed-down SQL statements
# (aristoteles/aristoteles.py:240,304,340-345).
_SQ1_SQL = (
    "SELECT o_orderpriority, count(*) AS n_orders, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price "
    "FROM orders "
    "WHERE o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01' "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority"
)


def q_sql_surface(spark, sf_dir):
    from aristoteles_spark.plans.sql import run_sql

    return run_sql(spark, sf_dir, _SQ1_SQL)


# the multi-statement SQL surface: CREATE TEMP VIEW chains through the
# catalog, final SELECT consumes them — the script-style workflow a
# SQL-first user actually runs. The oracle states the identical
# pipeline as CTEs (duckdb sees one statement; Spark sees three).
# Intermediates stay DECIMAL end-to-end; only the final output casts
# to DOUBLE (seg_spend ~1e9: 11 digits, inside duckdb's correctly-
# rounded int128->double range).
_SQ2_VIEWS = [
    (
        "CREATE OR REPLACE TEMPORARY VIEW sq2_big AS "
        "SELECT o_custkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p "
        "FROM {orders} WHERE o_totalprice > 100000"
    ),
    (
        "CREATE OR REPLACE TEMPORARY VIEW sq2_cust AS "
        "SELECT o_custkey, count(*) AS n_big, sum(p) AS spend "
        "FROM sq2_big GROUP BY o_custkey"
    ),
]
_SQ2_FINAL = (
    "SELECT c_mktsegment, count(*) AS n_cust, "
    "CAST(sum(n_big) AS BIGINT) AS n_orders, "
    "CAST(sum(spend) AS DOUBLE) AS seg_spend "
    "FROM sq2_cust JOIN {customer} ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment ORDER BY c_mktsegment"
)


def q_sql_pipeline(spark, sf_dir):
    from aristoteles_spark.sources.parquet_source import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sq2_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("sq2_customer")
    for stmt in _SQ2_VIEWS:
        spark.sql(stmt.format(orders="sq2_orders"))
    return spark.sql(_SQ2_FINAL.format(customer="sq2_customer"))


QUERIES = {
    "sq1_sql_surface": q_sql_surface,
    "sq2_sql_pipeline": q_sql_pipeline,
    "s2_min_probe": q_min_probe,
    "p1_projection": q_projection,
    "p2_range_count": q_range_count,
    "a1_count_between": q_count_between,
    "p4_conditional_convert": q_conditional_convert,
    "w1_daily_counts": q_daily_counts,
    "w3_ordering": q_ordering,
    "u1_union_all": q_union_all,
    "j1_join_agg": q_join_agg,
    "g1_pricing_summary": q_pricing_summary,
    "j2_anti_join": q_anti_join,
    "g2_distinct": q_distinct,
    "g3_group_max": q_group_max,
    "j3_semi_join": q_semi_join,
    "j4_full_outer": q_full_outer,
    "g6_pivot": q_pivot,
    "g7_percentiles": q_percentiles,
    "j5_multi_join_topk": q_multi_join_topk,
    "j6_star_join": q_star_join,
    "j7_scalar_subquery": q_scalar_subquery,
    "j8_outer_count_dist": q_outer_count_dist,
    "j9_large_orders": q_large_orders,
    "j10_semi_anti_self": q_semi_anti_self,
    "u2_intersect": q_intersect,
    "u3_except": q_except,
    "g10_histogram": q_histogram,
    "g11_unpivot": q_unpivot,
}

ORACLE = {
    "sq1_sql_surface": _SQ1_SQL,
    "sq2_sql_pipeline": (
        "WITH sq2_big AS ("
        + _SQ2_VIEWS[0].split(" AS ", 1)[1].format(orders="orders")
        + "), sq2_cust AS ("
        + _SQ2_VIEWS[1].split(" AS ", 1)[1]
        + ") "
        + _SQ2_FINAL.format(customer="customer")
    ),
    "s2_min_probe": "SELECT min(l_orderkey) AS min_orderkey FROM lineitem",
    "p1_projection": (
        "SELECT l_orderkey, l_quantity, l_extendedprice FROM lineitem "
        "ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice LIMIT 100"
    ),
    "p2_range_count": "SELECT count(*) AS cnt FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000",
    "a1_count_between": "SELECT count(*) AS cnt FROM lineitem WHERE l_quantity BETWEEN 10 AND 20",
    "p4_conditional_convert": (
        "SELECT event_id, CASE WHEN event_type = 'click' AND value IS NOT NULL "
        "AND value <> 0 THEN (value - 32) * 5 / 9 ELSE value END AS value_c "
        "FROM events ORDER BY event_id"
    ),
    "w1_daily_counts": (
        "SELECT CAST(ts AS DATE) AS d, count(*) AS n FROM events GROUP BY d ORDER BY d"
    ),
    "w3_ordering": (
        "SELECT l_orderkey, l_linenumber FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 500"
    ),
    "u1_union_all": (
        "SELECT n_name AS name FROM nation UNION ALL SELECT r_name AS name FROM region "
        "ORDER BY name"
    ),
    "j1_join_agg": (
        "SELECT r_name, count(*) AS n_cust, "
        "CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name"
    ),
    "g1_pricing_summary": (
        "SELECT l_returnflag, l_linestatus, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty, "
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS sum_base_price, "
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) / count(*) AS avg_qty, "
        "count(*) AS count_order "
        "FROM lineitem WHERE l_shipdate <= '1998-09-02' "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
    ),
    "j2_anti_join": (
        "SELECT c_custkey, c_name FROM customer "
        "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders "
        "WHERE o_orderpriority = '1-URGENT') ORDER BY c_custkey"
    ),
    "g2_distinct": (
        "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders "
        "ORDER BY o_orderstatus, o_orderpriority"
    ),
    "g3_group_max": (
        "SELECT o_orderpriority, "
        "CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price, "
        "count(*) AS n FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "j3_semi_join": (
        "SELECT c_custkey, c_name FROM customer "
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
        "ORDER BY c_custkey"
    ),
    "j4_full_outer": (
        "WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust "
        "           FROM customer GROUP BY 1), "
        "s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp "
        "      FROM supplier GROUP BY 1) "
        "SELECT coalesce(c.nationkey, s.nationkey) AS nationkey, "
        "CAST(n_cust AS DOUBLE) AS n_cust, CAST(n_supp AS DOUBLE) AS n_supp "
        "FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey ORDER BY nationkey"
    ),
    "g6_pivot": (
        "SELECT o_orderpriority, "
        "count(*) FILTER (o_orderstatus = 'F') AS n_f, "
        "count(*) FILTER (o_orderstatus = 'O') AS n_o, "
        "count(*) FILTER (o_orderstatus = 'P') AS n_p "
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"
    ),
    "g7_percentiles": (
        "SELECT l_returnflag, "
        "quantile_cont(l_extendedprice, 0.5) AS median_price, "
        "quantile_cont(l_extendedprice, 0.9) AS p90_price "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    "j5_multi_join_topk": (
        "SELECT l_orderkey, o_orderdate, o_orderpriority, "
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < '1995-03-15' "
        "AND l_shipdate > '1995-03-15' "
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
        "ORDER BY revenue DESC, l_orderkey LIMIT 10"
    ),
    "j6_star_join": (
        "SELECT n_name, "
        "CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue "
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
        "JOIN customer ON o_custkey = c_custkey "
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
        "JOIN nation ON s_nationkey = n_nationkey "
        "JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA' "
        "GROUP BY n_name ORDER BY revenue DESC, n_name"
    ),
    "u2_intersect": (
        "SELECT c_nationkey AS nationkey FROM customer "
        "INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey"
    ),
    "u3_except": (
        "SELECT p_size AS k FROM part "
        "EXCEPT SELECT c_nationkey AS k FROM customer ORDER BY k"
    ),
    "g10_histogram": (
        "SELECT CAST(floor(l_extendedprice / 10000) AS INT) AS bucket, "
        "count(*) AS n FROM lineitem GROUP BY bucket ORDER BY bucket"
    ),
    "g11_unpivot": (
        "WITH wide AS ("
        "  SELECT o_orderpriority, "
        "  count(*) FILTER (o_orderstatus = 'F') AS n_f, "
        "  count(*) FILTER (o_orderstatus = 'O') AS n_o, "
        "  count(*) FILTER (o_orderstatus = 'P') AS n_p "
        "  FROM orders GROUP BY o_orderpriority) "
        "SELECT o_orderpriority, status_col, n FROM ("
        "  SELECT o_orderpriority, 'n_f' AS status_col, n_f AS n FROM wide "
        "  UNION ALL SELECT o_orderpriority, 'n_o', n_o FROM wide "
        "  UNION ALL SELECT o_orderpriority, 'n_p', n_p FROM wide) "
        "ORDER BY o_orderpriority, status_col"
    ),
    "j7_scalar_subquery": (
        "SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) / 7.0 "
        "AS avg_yearly "
        "FROM lineitem JOIN part ON l_partkey = p_partkey "
        "WHERE p_brand = 'Brand#1' AND l_quantity < "
        "(SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"
    ),
    "j8_outer_count_dist": (
        "SELECT c_count, count(*) AS custdist FROM ("
        "  SELECT c_custkey, count(o_orderkey) AS c_count"
        "  FROM customer LEFT JOIN orders"
        "    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'"
        "  GROUP BY c_custkey) "
        "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"
    ),
    "j9_large_orders": (
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "CAST(sum(CAST(l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS sum_qty "
        "FROM customer JOIN orders ON c_custkey = o_custkey "
        "JOIN lineitem ON o_orderkey = l_orderkey "
        "WHERE o_orderkey IN ("
        "  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey"
        "  HAVING sum(l_quantity) > 250) "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
    ),
    "j10_semi_anti_self": (
        "SELECT s_name, count(*) AS numwait "
        "FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey "
        "WHERE l1.l_returnflag = 'R' "
        "AND EXISTS (SELECT 1 FROM lineitem l2 "
        "  WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) "
        "AND NOT EXISTS (SELECT 1 FROM lineitem l3 "
        "  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey "
        "  AND l3.l_returnflag = 'R') "
        "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20"
    ),
}
