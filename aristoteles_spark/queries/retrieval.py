"""Keyword and hybrid retrieval over the documents corpus.

The two retrieval directions a training-data / RAG pipeline needs and the
reference's query surface has no counterpart for (reference scope check:
/root/reference/aristoteles/aristoteles.py:229-346 — pure weather-ETL
SQL, no text retrieval):

* ir1 — multi-term keyword search: BM25-family scoring (Robertson's
  probabilistic relevance framework) of every document against a fixed
  query set, top-k per query.
* ir2 — hybrid query-by-example retrieval: a BM25 text leg and an exact
  cosine vector leg fused with Reciprocal Rank Fusion
  (Cormack/Clarke/Büttcher, SIGIR'09: score = sum 1/(K + rank)).

Determinism note (the engine-portability rule from tx6/px1): the idf is
the RAW odds ratio (N - df + 0.5)/(df + 0.5), not its log — JVM Math.log
and libm ln differ by 1 ulp on some inputs, so a log-idf score cannot be
value-hash-compared across engines. The ratio is a positive exact
rational of integer counts (one correctly-rounded division), is monotone
in the same direction as the log form, and therefore induces a valid
BM25-family ranking. Every other float op (saturation term, RRF sum) is
a fixed-order sequence of correctly-rounded IEEE ops, bit-identical in
Spark and duckdb.

Scale notes per query are on the docstrings; the common principle: the
query side is tiny and broadcast (or literal), the corpus side streams
through codegen once, and the only corpus-wide exchange is the partial
top-k (WindowGroupLimit) per query.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from aristoteles_spark.functions.text import tokens
from aristoteles_spark.sources.parquet_source import fan_out, load_table

# BM25 constants — exactly representable or identically-parsed doubles in
# both engines (string literal -> nearest float64 is deterministic).
K1 = 1.2
B = 0.75
TOP_K = 10

# fixed query set, vocabulary drawn from the corpus token distribution
IR_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["spark", "hash", "join"]),
    (1, ["vector", "window", "stream"]),
    (2, ["customer", "slow", "filter"]),
]

# ir2: query-by-example — every ~QUERY_MOD'th document, restricted to
# docs that also carry an embedding (hybrid needs both modalities).
# Q_BUDGET caps the query set at a FIXED count (first qualifying ids in
# doc_id order): a mod-only rule grows the query set linearly with the
# corpus, making both legs O(n_queries x corpus) = superlinear — the
# round-3 "evaluation harnesses must budget ground truth" lesson. The
# 100x sweep caught exactly this: the unbudgeted form ran 200 query
# documents against the 500k-doc replica and stalled in the
# query-vocabulary-joined scoring stage. At the oracle scales (<= sf0.1)
# at most ~20 ids qualify, so the small-scale results the budget can
# affect are only sf0.1's bench timing, not the sf0.01 correctness gate.
QUERY_MOD = 250
QUERY_OFF = 3
Q_BUDGET = 16
RRF_K = 60  # the SIGIR'09 constant
LEG_K = 20  # depth of each leg's candidate list


def ir2_query_vec_ids(spark, sf_dir):
    """ir2's fixed-budget query ids as a (vec_id) frame — the documents
    that qualify (% QUERY_MOD == QUERY_OFF), carry an embedding, first
    Q_BUDGET in doc_id order. Factored out so the session-shared exact
    truth table (queries/similarity.exact_knn_truth) can build over the
    UNION of ir2's and sim6's query sets; deterministic (doc_id is
    unique, the orderBy is total)."""
    d = load_table(spark, sf_dir, "documents")
    v = load_table(spark, sf_dir, "embeddings")
    return (
        d.select("doc_id")
        .where(F.col("doc_id") % QUERY_MOD == QUERY_OFF)
        .join(v.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .orderBy("doc_id")
        .limit(Q_BUDGET)
        .select(F.col("doc_id").alias("vec_id"))
    )


def _bm25_term(tf, dl, df, n_docs, avgdl):
    """One term's BM25 contribution; op order mirrored EXACTLY in the SQL
    oracles (parenthesization = evaluation order = bit-identical)."""
    idf = (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))
    sat = (tf * F.lit(K1 + 1.0)) / (
        tf + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * (dl / avgdl))
    )
    return idf * sat


def q_bm25_search(spark, sf_dir):
    """BM25 top-k for a fixed multi-term query set.

    Plan (the 100 TB shape): query terms are code constants, so BOTH
    passes are pure codegen over the scan with no corpus shuffle —
    pass 1 computes n_docs/sum_dl/per-term df in ONE map-side partial
    aggregate (a single tiny row, broadcast back); pass 2 computes
    per-document tf for each term IN-ROW (size(filter(toks, = t)) — no
    explode, no (doc,token) shuffle at all), scores every query as a
    column expression, and unpivots query scores via an inline array of
    structs. The only corpus-wide exchange is the per-query partial
    top-k (WindowGroupLimit: ~k rows per scan partition reach the
    single exchange)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    terms = sorted({t for _, ts in IR_QUERIES for t in ts})

    base = d.select("doc_id", tokens("text").alias("toks")).withColumn(
        "dl", F.size("toks")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.sum(F.array_contains("toks", t).cast("int")).alias(f"df_{t}")
            for t in terms
        ],
    )
    scored = base.crossJoin(F.broadcast(stats)).withColumn(
        "avgdl", F.col("sum_dl").cast("double") / F.col("n_docs")
    )
    def tf_of(term: str):
        # NB: a `lambda x, t=t:` two-parameter form would make PySpark
        # pass (element, index) — the closure keeps the lambda unary
        return F.size(F.filter("toks", lambda x: x == term))

    # one select, not a withColumn chain: each withColumn re-analyzes
    # the whole plan, and this query's tree is wide enough that the
    # chain's analyzer cost was ~12% of its wall (measured 1.75 -> 1.55s)
    scored = scored.select(
        "*", *[tf_of(t).alias(f"tf_{t}") for t in terms]
    )

    def qscore(ts: list[str]):
        parts = [
            _bm25_term(
                F.col(f"tf_{t}"),
                F.col("dl"),
                F.col(f"df_{t}"),
                F.col("n_docs"),
                F.col("avgdl"),
            )
            for t in ts
        ]
        s = parts[0]
        for p in parts[1:]:
            s = s + p
        # zero out docs matching no term (idf > 0 always for the ratio
        # form, so "matched" must be explicit, not score > 0)
        matched = None
        for t in ts:
            m = F.col(f"tf_{t}") > 0
            matched = m if matched is None else (matched | m)
        return F.when(matched, s)

    pairs = scored.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(qid).alias("query_id"),
                        qscore(ts).alias("score"),
                    )
                    for qid, ts in IR_QUERIES
                ]
            )
        ).alias("qs"),
    ).select("doc_id", "qs.query_id", "qs.score").where(F.col("score").isNotNull())
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )


def q_hybrid_rrf(spark, sf_dir):
    """Hybrid query-by-example retrieval with Reciprocal Rank Fusion.

    Text leg: the query documents' distinct tokens (data-derived, tiny,
    broadcast) score the corpus with the same BM25 form as ir1 — here tf
    comes from one explode + broadcast-semi-join (the query vocabulary
    prunes the token stream BEFORE the (doc,token) aggregation, so the
    shuffle carries only query-relevant tokens). Vector leg: exact
    cosine top-k, query side broadcast, corpus never shuffled in full
    (partial WindowGroupLimit, the sim1 operator). Fusion: full outer
    join of the two rank lists on (query_id, doc_id);
    rrf = 1/(K+rank_text) + 1/(K+rank_vec) with absent legs contributing
    0 — exact integer-derived rationals, engine-portable. The fused
    frame is at most 2*LEG_K rows per query."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    v = load_table(spark, sf_dir, "embeddings")
    # fixed-budget query set (tiny, consumed by three subtrees — the
    # eager barrier stops each consumer re-deriving it from two scans)
    from aristoteles_spark.operators.barrier import audit_barrier

    qids = audit_barrier(
        d.select("doc_id")
        .where(F.col("doc_id") % QUERY_MOD == QUERY_OFF)
        .join(v.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .orderBy("doc_id")
        .limit(Q_BUDGET)
    )

    base = d.select("doc_id", tokens("text").alias("toks")).withColumn(
        "dl", F.size("toks")
    )
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    # tiny (queries x their distinct tokens) and consumed twice (vocab
    # prune + the scored broadcast); barrier it so neither consumer
    # re-tokenizes the corpus to derive it
    qterms = audit_barrier(
        base.join(qids.withColumnRenamed("doc_id", "query_id"),
                  F.col("doc_id") == F.col("query_id"))
        .select("query_id", F.explode(F.array_distinct("toks")).alias("token"))
    )
    exploded = base.select(
        "doc_id", "dl", F.explode("toks").alias("token")
    )
    # prune to the query vocabulary BEFORE aggregating: the broadcast
    # semi-join keeps the (doc,token) shuffle proportional to matches
    vocab = qterms.select("token").distinct()
    # match-proportional by construction (the vocab prune is the point);
    # barrier it so the df aggregation and the scoring join don't each
    # re-run the corpus explode + prune
    tf = audit_barrier(
        exploded.join(F.broadcast(vocab), "token")
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(qterms), "token")
        .where(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("avgdl", F.col("sum_dl").cast("double") / F.col("n_docs"))
        .groupBy("query_id", "doc_id")
        .agg(
            # per-term doubles summed through DECIMAL: double addition is
            # order-dependent and groupBy order differs across engines;
            # the decimal sum is exact and order-free (registry rule)
            F.sum(
                _bm25_term(
                    F.col("tf"), F.col("dl"), F.col("df"),
                    F.col("n_docs"), F.col("avgdl"),
                ).cast("decimal(38,18)")
            ).alias("bm25")
        )
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    text_leg = (
        scored.withColumn("rank_text", F.row_number().over(wt))
        .where(F.col("rank_text") <= LEG_K)
        .select("query_id", "doc_id", "rank_text")
    )

    # vector leg: this query set's rank<=LEG_K slice of the session-
    # shared exact truth table (round 10, VERDICT r9 item 6) — value-
    # identical to knn_brute(v, qvec, LEG_K) + the rank window it
    # replaced (same total order; see exact_knn_truth and
    # tests/test_extensions.py::TestSharedKnnTruth). Also removes ir2's
    # redundant second row_number over knn_brute's own window (the
    # round-9 "withColumn→select where measured" item for ir2).
    from aristoteles_spark.queries.similarity import TRUTH_K, exact_knn_truth

    if LEG_K > TRUTH_K:
        raise ValueError("shared truth table shallower than ir2's leg")
    vec_leg = (
        exact_knn_truth(spark, sf_dir)
        .join(
            F.broadcast(qids.select(F.col("doc_id").alias("query_id"))),
            "query_id",
        )
        .where(F.col("rank") <= LEG_K)
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("rank_vec"),
        )
    )

    fused = (
        text_leg.join(vec_leg, ["query_id", "doc_id"], "full_outer")
        .withColumn(
            "rrf",
            F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_text")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_vec")), F.lit(0.0)
            ),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .where(F.col("rank") <= TOP_K)
        .select(
            "query_id",
            "rank",
            "doc_id",
            "rrf",
            # 0 = absent from that leg: keeps the column non-null INT on
            # both sides (pandas turns a nullable BIGINT into float64,
            # which would hash-mismatch '1' vs '1.0')
            F.coalesce("rank_text", F.lit(0)).alias("rank_text"),
            F.coalesce("rank_vec", F.lit(0)).alias("rank_vec"),
        )
        .orderBy("query_id", "rank")
    )


# ------------------------------------------------------------------ oracles

_TOKS = "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')"


def _term_sql(tf: str, dl: str, df: str, n: str, avgdl: str) -> str:
    """Same op order as _bm25_term (parenthesization preserved).

    Constants are written in e-notation: duckdb types a bare `2.2` as
    DECIMAL(2,1) and computes `tf * 2.2` in exact decimal — a DIFFERENT
    value than the double product Spark computes (caught as a 2-ulp
    score mismatch at sf0.01). `2.2e0` is typed DOUBLE, making both
    engines run the identical IEEE op sequence."""
    return (
        f"(({n} - {df} + 0.5e0) / ({df} + 0.5e0)) * "
        f"(({tf} * {K1 + 1.0!r}e0) / "
        f"({tf} + {K1!r}e0 * ({1.0 - B!r}e0 + {B!r}e0 * ({dl} / avgdl))))"
    )


def _ir1_sql() -> str:
    terms = sorted({t for _, ts in IR_QUERIES for t in ts})
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains(t, '{x}') THEN 1 ELSE 0 END) AS df_{x}"
        for x in terms
    )
    tf_cols = ", ".join(
        f"len(list_filter(t, x -> x = '{x}')) AS tf_{x}" for x in terms
    )
    arms = []
    for qid, ts in IR_QUERIES:
        expr = " + ".join(
            _term_sql(f"tf_{x}", "dl", f"df_{x}", "n_docs", "avgdl")
            for x in ts
        )
        matched = " OR ".join(f"tf_{x} > 0" for x in ts)
        arms.append(
            f"SELECT doc_id, {qid} AS query_id, ({expr}) AS score "
            f"FROM scored WHERE {matched}"
        )
    union = " UNION ALL ".join(arms)
    return f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS dl FROM documents
), st AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl, {df_cols} FROM base
), scored AS (
  SELECT doc_id, dl, {tf_cols}, st.*,
         CAST(sum_dl AS DOUBLE) / n_docs AS avgdl
  FROM base, st
), pairs AS ({union}),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM pairs
)
SELECT query_id, rank, doc_id, score FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


def _ir2_sql() -> str:
    term = _term_sql("tf", "dl", "df", "n_docs", "avgdl")
    return f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS t, len({_TOKS}) AS dl FROM documents
), qids AS (
  SELECT doc_id FROM documents
  WHERE doc_id % {QUERY_MOD} = {QUERY_OFF}
    AND doc_id IN (SELECT vec_id FROM embeddings)
  ORDER BY doc_id LIMIT {Q_BUDGET}
), st AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM base),
qterms AS (
  SELECT b.doc_id AS query_id, unnest(list_distinct(b.t)) AS token
  FROM base b JOIN qids q ON b.doc_id = q.doc_id
),
tf AS (
  SELECT e.doc_id, e.token, count(*) AS tf, max(e.dl) AS dl
  FROM (SELECT doc_id, dl, unnest(t) AS token FROM base) e
  JOIN (SELECT DISTINCT token FROM qterms) v ON e.token = v.token
  GROUP BY e.doc_id, e.token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
scored AS (
  SELECT q.query_id, tf.doc_id,
         sum(CAST({term} AS DECIMAL(38,18))) AS bm25
  FROM tf
  JOIN qterms q ON tf.token = q.token
  JOIN dfreq ON tf.token = dfreq.token,
  (SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl FROM st) s
  WHERE tf.doc_id <> q.query_id
  GROUP BY q.query_id, tf.doc_id
),
text_leg AS (
  SELECT query_id, doc_id, rank_text FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY bm25 DESC, doc_id) AS rank_text
    FROM scored) WHERE rank_text <= {LEG_K}
),
v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
),
vec_leg AS (
  SELECT query_id, doc_id, rank_vec FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             (CASE WHEN q.nrm * c.nrm > 0
                   THEN list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                   ELSE 0.0 END) DESC, c.vec_id) AS rank_vec
    FROM v q JOIN v c ON c.vec_id <> q.vec_id
    WHERE q.vec_id IN (SELECT doc_id FROM qids))
  WHERE rank_vec <= {LEG_K}
),
fused AS (
  SELECT coalesce(t.query_id, x.query_id) AS query_id,
         coalesce(t.doc_id, x.doc_id) AS doc_id,
         coalesce(1.0e0 / ({RRF_K} + rank_text), 0.0e0)
         + coalesce(1.0e0 / ({RRF_K} + rank_vec), 0.0e0) AS rrf,
         rank_text, rank_vec
  FROM text_leg t FULL OUTER JOIN vec_leg x
    ON t.query_id = x.query_id AND t.doc_id = x.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf DESC, doc_id) AS rank
  FROM fused
)
SELECT query_id, rank, doc_id, rrf,
       coalesce(rank_text, 0) AS rank_text,
       coalesce(rank_vec, 0) AS rank_vec
FROM ranked
WHERE rank <= {TOP_K} ORDER BY query_id, rank
"""


TOP_DOCS = 10


def q_inverted_index(spark, sf_dir):
    """ir3 — posting-list construction: per term, document frequency,
    collection frequency, and the tf-ranked top-10 posting head. The
    index build behind ir1's search (an explicit materialized inverted
    index is what a production BM25 serves from; reference scope check:
    /root/reference/aristoteles/aristoteles.py:229-346 — no text ops).

    Plan (100 TB shape): explode -> (term, doc_id) partial-agg count
    (map-side combined, the standard shuffle of an index build);
    df/cf are a second partial agg on term alone; the posting head is a
    per-term rank window that Spark 3.5+ executes as WindowGroupLimit
    (each scan partition forwards only its local top-10 per term), so a
    degenerate stop-word term ships ~10 rows per partition, not its
    whole posting list — the skew cap that keeps the build alive at
    scale. Final join is tiny-key term==term between two aggregates of
    the SAME shuffle output (exchange reuse)."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tf = (
        d.select("doc_id", F.explode(tokens("text")).alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    w = Window.partitionBy("term").orderBy(F.col("tf").desc(), F.col("doc_id"))
    top = (
        tf.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_DOCS)
        .groupBy("term")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "doc_id"))),
                lambda s: s["doc_id"],
            ).alias("top_docs")
        )
    )
    return stats.join(top, "term").orderBy("term")


def _ir3_sql() -> str:
    from aristoteles_spark.queries.text import _TOKENS

    return f"""
WITH t AS (SELECT doc_id, {_TOKENS} AS toks FROM documents),
tf AS (
  SELECT term, doc_id, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM t)
  GROUP BY term, doc_id
), stats AS (
  SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY term
), top AS (
  SELECT term, list(doc_id ORDER BY tf DESC, doc_id) AS top_docs
  FROM (SELECT * FROM tf
        QUALIFY row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) <= {TOP_DOCS})
  GROUP BY term
)
SELECT s.term, df, cf,
       CAST(to_json(top_docs) AS VARCHAR) AS top_docs
FROM stats s JOIN top USING (term) ORDER BY term
"""


QUERIES = {
    "ir1_bm25_search": q_bm25_search,
    "ir2_hybrid_rrf": q_hybrid_rrf,
    "ir3_inverted_index": q_inverted_index,
}

ORACLE = {
    "ir1_bm25_search": _ir1_sql(),
    "ir2_hybrid_rrf": _ir2_sql(),
    "ir3_inverted_index": _ir3_sql(),
}
