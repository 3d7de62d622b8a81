"""End-to-end pretraining-data release pipeline (rl1).

The full curation chain a data-release run executes, composed from the
engine's own operators into ONE DataFrame DAG — quality gate (qc1's
classifier), language gate (tx3's langid), exact dedup (first
occurrence per content digest), near-dup filter (dd4's banded minhash,
earlier-doc-wins), verbatim-duplication gate (round 8: fp1's winnowing
fingerprints generate the candidates, ln2's exact-substring dedup
verifies the extents, docs >= 25% duplicated drop — catches excerpt
clones that sit BELOW the near-dup Jaccard threshold), eval-set
decontamination (ct1's 8-gram overlap), and content-hash shard
assignment (sh1's coordination-free sharding) — with a per-shard
release manifest as the output. This is the "a user of the
reference could run their whole pipeline here" composition query; every
stage reuses the already-oracle-checked building block rather than a
re-implementation. (Reference scope: aristoteles/aristoteles.py is
weather ETL with no text surface; SURVEY §7.4 extension.)

Scale shape per stage (nothing here is new machinery — see the donor
operators' docstrings): gates are in-row codegen on the scan; exact
dedup is one digest-keyed partial agg; the near-dup filter is the
banded equi-join as a SEMI join (only "has an earlier match" is needed
— no pair materialization, no transitivity, the standard curation
filter); decontamination is a gram-hash semi-join (eval grams are the
small side); the shard manifest is a tiny-key partial agg. Integer
outputs only.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from aristoteles_spark.functions.text import h32, langid_predict, tokens
from aristoteles_spark.operators.barrier import audit_barrier
from aristoteles_spark.queries.quality import classifier_score, score_sql
from aristoteles_spark.sources.parquet_source import fan_out, load_table

EVAL_MOD = 7  # doc_id % 7 == 0 is the held-out eval set (as ct1)
N_SHARDS = 8
# shared with queries/dedup BY IMPORT (ADVICE r9): rl1 slices the
# session-shared minhash_sig_table, whose signature width is dedup's
# NUM_HASHES — an independent constant here could silently diverge and
# unionByName would accept different-length sig arrays (element_at past
# the shorter array yields nulls that quietly drop near-dup matches).
from aristoteles_spark.queries.dedup import BANDS, NUM_HASHES  # noqa: E402
# rl1 clone seeding (round 8): a straight-excerpt clone family gives the
# substring-duplication gate live data — random synthetic text never
# repeats a 16-token window (ln2's lesson), so without seeding the new
# stage would be structurally vacuous. Mirrored verbatim in the oracle.
RL_CLONE_MOD, RL_CLONE_OFF, RL_CLONE_BASE = 13, 4, 4_000_000
# drop rule: >= 25% of the doc's tokens inside cross-doc duplicated
# spans (integer cross-multiply; Lee et al.'s "heavily duplicated
# documents" curation rule)
RL_DUP_NUM, RL_DUP_DEN = 1, 4
RL_SUBSTR_W = 16  # ln2's minimum duplicated-run length

# (applicationId, sf_dir) -> checked flag; see _assert_clone_id_space
_ID_SPACE_OK: dict[tuple[str, str], bool] = {}


def _assert_clone_id_space(spark, sf_dir, raw) -> None:
    """ADVICE r9: the base/clone routing keys on doc_id < RL_CLONE_BASE,
    and clone ids are base + RL_CLONE_BASE. If base doc ids ever reach
    RL_CLONE_BASE, base docs silently take the fresh-sign clone path
    (values still correct, reuse lost) and clone ids collide with real
    ids (values WRONG). Assert the precondition once per (session,
    sf_dir) instead of trusting it; ValueError if it does not hold."""
    import os

    key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir))
    if _ID_SPACE_OK.get(key):
        return
    hi = raw.agg(F.max("doc_id")).first()[0]
    if hi is not None and hi >= RL_CLONE_BASE:
        raise ValueError(
            f"rl1: max base doc_id {hi} >= RL_CLONE_BASE {RL_CLONE_BASE}; "
            "clone ids would collide with real ids — raise RL_CLONE_BASE "
            "(mirrored in the oracle SQL) before running at this scale"
        )
    _ID_SPACE_OK[key] = True


def q_release_pipeline(spark, sf_dir):
    from aristoteles_spark.operators.dedup import minhash_signatures
    from aristoteles_spark.queries.text import _gram_hashes

    raw = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "text"
    )
    _assert_clone_id_space(spark, sf_dir, raw)
    clones = raw.filter(F.col("doc_id") % RL_CLONE_MOD == RL_CLONE_OFF).select(
        (F.col("doc_id") + RL_CLONE_BASE).alias("doc_id"),
        F.substring("text", 30, 200).alias("text"),
    )
    d = raw.unionByName(clones)
    train = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    evald = d.filter(F.col("doc_id") % EVAL_MOD == 0)

    # 1+2: quality + language gates — pure codegen on the scan
    cand = train.filter(
        (classifier_score(tokens("text")) > 0)
        & (langid_predict(tokens("text")) == "en")
    )

    # Stage materialization: every downstream stage branches off the
    # gated candidate set, and Spark recomputes a branched subtree per
    # consumer — here that means re-running the classifier/langid gates
    # (and later the minhash joins) up to 3x. A production pipeline
    # writes each stage to storage between steps; localCheckpoint is the
    # single-session equivalent (measured: 25.5s -> single-digit wall at
    # sf0.1 for the whole pipeline). Only (doc_id, text) survives the
    # gates, so the materialized footprint is the filtered corpus slice.
    cand = audit_barrier(cand.select("doc_id", "text"), eager=False)

    # 3: exact dedup — keep the first occurrence per content digest
    firsts = (
        cand.select("doc_id", F.md5(F.col("text").cast("binary")).alias("dg"))
        .groupBy("dg")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    c2 = cand.join(firsts, "doc_id")

    # 4: near-dup filter at GROUP granularity (round 7, the probe-
    # census collapse applied to the earlier-doc-wins SEMI filter):
    # est_sim is a pure function of the signature pair, so the filter
    # reduces exactly to group arithmetic — within an identical-
    # signature group every doc except the min id has an earlier
    # est_sim=1 match (identical sigs share all bands); across groups,
    # a group's min survives iff no band-colliding group with
    # est_sim >= 0.5 has a smaller min. The banded self-join therefore
    # runs over DISTINCT signatures (dup-factor^2 fewer candidate rows
    # — ~6.7x on this corpus), multi-band pair duplicates collapse in
    # the min-agg (no first-band bookkeeping), and the doc-level pair
    # stream never exists. Provably identical to the pair-level form:
    # any earlier match e of d is either same-sig (then gmin <= e < d)
    # or in a qualifying group B (then gmin_B <= e < d), and conversely
    # both group conditions exhibit a real qualifying earlier pair.
    rpb = NUM_HASHES // BANDS
    # materialized: the signature pass is the pipeline's priciest map.
    # Round 9: base-corpus signatures come from the session-shared
    # signature index (queries/dedup.minhash_sig_table — same
    # NUM_HASHES, bit-identical per-row pure values, so a doc_id slice
    # equals re-signing); only the ~n/13 synthetic clone rows, which
    # exist nowhere but this query, are signed fresh. Under the scale
    # sweep / plan-audit regimes the shared table degrades to an inline
    # build, keeping growth ratios and strategy plans honest.
    from aristoteles_spark.queries.dedup import minhash_sig_table

    base_sigs = minhash_sig_table(spark, sf_dir).join(
        c2.filter(F.col("doc_id") < RL_CLONE_BASE)
        .select(F.col("doc_id").alias("doc")),
        "doc",
    )
    clone_sigs = minhash_signatures(
        c2.filter(F.col("doc_id") >= RL_CLONE_BASE), "text", "doc_id",
        NUM_HASHES,
    )
    sigs = audit_barrier(
        base_sigs.unionByName(clone_sigs), eager=False
    )
    groups = sigs.groupBy("sig").agg(F.min("doc").alias("gmin"))

    def g_banded(side):
        return groups.select(
            F.col("sig").alias(f"sig_{side}"),
            F.col("gmin").alias(f"gmin_{side}"),
            F.explode(
                F.array(
                    *[
                        F.xxhash64(
                            F.lit(bi), F.slice("sig", bi * rpb + 1, rpb)
                        )
                        for bi in range(BANDS)
                    ]
                )
            ).alias("digest"),
        )

    matches = None
    for i in range(1, NUM_HASHES + 1):
        m = (F.element_at("sig_a", i) == F.element_at("sig_b", i)).cast("int")
        matches = m if matches is None else matches + m
    threat = (
        g_banded("a").join(g_banded("b"), "digest")
        .filter(F.col("sig_a") != F.col("sig_b"))
        .withColumn("est_sim", matches / F.lit(float(NUM_HASHES)))
        .filter(F.col("est_sim") >= 0.5)
        .groupBy("sig_a")
        .agg(F.min("gmin_b").alias("threat"))
    )
    survivors = (
        groups.join(threat, groups["sig"] == threat["sig_a"], "left")
        .filter(F.col("threat").isNull() | (F.col("threat") > F.col("gmin")))
        .select(F.col("gmin").alias("doc_id"))
    )
    # second stage boundary: c3 feeds the decontamination probe AND the
    # two consumers below it — without this the banded-LSH joins re-run
    # per consumer (see the stage-materialization note above)
    c3 = audit_barrier(c2.join(survivors, "doc_id"), eager=False)

    # 4.5 (round 8): verbatim-duplication gate — the round-7 operators
    # composed the production way: winnowing fingerprints (fp1) find
    # WHO to compare (any shared run >= FP_W + FP_K - 1 = 7 tokens
    # shares a fingerprint, so for the 16-token rule the pre-filter is
    # provably lossless for CROSS-doc spans); exact-substring dedup
    # (ln2) verifies the extents over candidates only; docs with
    # >= 25% of tokens inside cross-doc duplicated spans drop (the
    # excerpt clones that slipped past the near-dup stage: a 200-char
    # excerpt is ~100% duplicated content but < 0.5 Jaccard).
    # Within-doc repetition is qr2's territory, not this gate's.
    from aristoteles_spark.operators.dedup import exact_substring_dedup
    from aristoteles_spark.queries.dedup import winnow_fp_table, winnow_per_doc

    # materialized: the winnow fold is consumed by BOTH the doc-freq agg
    # and the candidate join-back — unbarriered it runs twice.
    # Round 9: base-corpus fingerprints are a doc_id slice of the
    # session-shared winnowing table (per-row pure, slice == recompute);
    # only the surviving clone rows run the winnow fold fresh.
    base_w = winnow_fp_table(spark, sf_dir).select("doc_id", "fps").join(
        c3.filter(F.col("doc_id") < RL_CLONE_BASE).select("doc_id"), "doc_id"
    )
    clone_w = winnow_per_doc(
        c3.filter(F.col("doc_id") >= RL_CLONE_BASE)
    ).select("doc_id", "fps")
    fps_ex = audit_barrier(
        base_w.unionByName(clone_w)
        .select("doc_id", F.explode("fps").alias("fp")),
        eager=False,
    )
    shared_fp = (
        fps_ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("dfx"))
        .filter(F.col("dfx") >= 2)
        .select("fp")
    )
    cand_docs = fps_ex.join(shared_fp, "fp").select("doc_id").distinct()
    dup_spans = exact_substring_dedup(
        c3.join(cand_docs, "doc_id"), "text", "doc_id",
        min_len=RL_SUBSTR_W,
    )
    too_dup = dup_spans.filter(
        F.col("removed_tokens") * RL_DUP_DEN
        >= F.col("n_tokens") * RL_DUP_NUM
    ).select(F.col("doc").alias("doc_id"))
    # third stage boundary: the winnow+substring subtree must not
    # re-run per downstream consumer
    c4 = audit_barrier(c3.join(too_dup, "doc_id", "left_anti"), eager=False)

    # 5: decontamination — any shared 8-gram with the eval set drops it
    eval_grams = (
        evald.select(F.explode(_gram_hashes(tokens("text"))).alias("g")).distinct()
    )
    contaminated = (
        c4.select("doc_id", F.explode(_gram_hashes(tokens("text"))).alias("g"))
        .join(eval_grams, "g")
        .select("doc_id")
        .distinct()
    )
    clean = c4.join(contaminated, "doc_id", "left_anti")

    # 6: shard manifest — content-hash sharding, tiny-key partial agg
    return (
        clean.select(
            (h32(F.col("doc_id").cast("string")) % N_SHARDS).alias("shard"),
            F.size(tokens("text")).alias("n_toks"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        .orderBy("shard")
    )


def _rl1_sql() -> str:
    from aristoteles_spark.queries.dedup import (
        FP_K,
        FP_W,
        _band_cols,
        _band_match,
        _est_sim,
        _FP_POLY,
        _h32,
        _sig_cols,
    )
    from aristoteles_spark.queries.text import _GRAM, _PRED, _TOKENS

    grams = (
        f"list_distinct(list_transform(range(1, len(toks) - {_GRAM - 2}), s -> "
        f"md5(array_to_string(list_slice(toks, s, s + {_GRAM - 1}), ' '))))"
    )
    W = RL_SUBSTR_W
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {RL_CLONE_BASE} AS doc_id, substr(text, 30, 200) AS text
  FROM documents WHERE doc_id % {RL_CLONE_MOD} = {RL_CLONE_OFF}
), base AS (
  SELECT doc_id, text, {_TOKENS} AS toks FROM corpus
), cand AS (
  SELECT doc_id, text, toks FROM base
  WHERE doc_id % {EVAL_MOD} <> 0
    AND {score_sql('toks')} > 0
    AND {_PRED} = 'en'
), firsts AS (
  SELECT min(doc_id) AS doc_id FROM cand GROUP BY md5(text)
), c2 AS (
  SELECT cand.* FROM cand JOIN firsts USING (doc_id)
), hashed AS (
  SELECT doc_id AS doc, list_transform(list_distinct(toks), t -> {_h32('t')}) AS base_h
  FROM c2
), sigs AS (
  SELECT doc,
    {_sig_cols}
  FROM hashed
), banded AS (
  SELECT *,
    {_band_cols}
  FROM sigs
), dup AS (
  SELECT DISTINCT b.doc AS doc_id
  FROM banded a JOIN banded b ON a.doc < b.doc AND ({_band_match})
  WHERE {_est_sim} >= 0.5
), c3 AS (
  SELECT * FROM c2 WHERE doc_id NOT IN (SELECT doc_id FROM dup)
), wtoks AS (
  SELECT doc_id, string_split(text, ' ') AS wt FROM c3
), wth AS (
  SELECT doc_id, len(wt) AS n, list_transform(wt, t -> {_h32('t')}) AS th
  FROM wtoks
), wg AS (
  SELECT doc_id,
         list_transform(range(1, n - {FP_K} + 2), i -> {_FP_POLY}) AS gh
  FROM wth WHERE n >= {FP_K}
), ww AS (
  SELECT doc_id, gh,
         list_distinct(list_transform(range(1, len(gh) - {FP_W} + 2), j ->
           list_max(list_transform(range(0, {FP_W}), o ->
             CASE WHEN gh[j + o] = list_min(gh[j : j + {FP_W} - 1])
                  THEN j + o ELSE 0 END)))) AS sel
  FROM wg WHERE len(gh) >= {FP_W}
), wex AS (
  SELECT doc_id, unnest(list_distinct(list_transform(sel, p -> gh[p]))) AS fp
  FROM ww
), wshared AS (
  SELECT fp FROM wex GROUP BY fp HAVING count(*) >= 2
), wcand AS (
  SELECT DISTINCT doc_id FROM wex JOIN wshared USING (fp)
), swins AS (
  SELECT w.doc_id, CAST(len(wt) AS BIGINT) AS n_tokens, CAST(i AS INT) AS pos,
         md5(array_to_string(wt[i + 1 : i + {W}], ' ')) AS wh
  FROM wtoks w JOIN wcand USING (doc_id),
       LATERAL unnest(range(CAST(len(wt) - {W - 1} AS BIGINT))) u(i)
  WHERE len(wt) >= {W}
), sflag AS (
  SELECT doc_id, n_tokens, pos FROM (
    SELECT doc_id, n_tokens, pos,
           row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
    FROM swins
  ) WHERE rn > 1
), sbrk AS (
  SELECT doc_id, n_tokens, pos,
         CASE WHEN pos > coalesce(max(pos + {W}) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS b
  FROM sflag
), sg AS (
  SELECT doc_id, n_tokens, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS isl
  FROM sbrk
), sspans AS (
  SELECT doc_id, min(n_tokens) AS n_tokens,
         min(pos) AS s, max(pos) + {W} AS e
  FROM sg GROUP BY doc_id, isl
), toodup AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(n_tokens) AS n_tokens, sum(e - s) AS removed
    FROM sspans GROUP BY doc_id
  ) WHERE removed * {RL_DUP_DEN} >= n_tokens * {RL_DUP_NUM}
), c4 AS (
  SELECT * FROM c3 WHERE doc_id NOT IN (SELECT doc_id FROM toodup)
), eg AS (
  SELECT DISTINCT unnest({grams}) AS g
  FROM base WHERE doc_id % {EVAL_MOD} = 0 AND len(toks) >= {_GRAM}
), contaminated AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({grams}) AS g
        FROM c4 WHERE len(toks) >= {_GRAM}) dg
  JOIN eg USING (g)
), clean AS (
  SELECT * FROM c4 WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT {_h32("CAST(doc_id AS VARCHAR)")} % {N_SHARDS} AS shard,
       count(*) AS n_docs,
       CAST(sum(len(toks)) AS BIGINT) AS total_tokens
FROM clean GROUP BY shard ORDER BY shard
"""


QUERIES = {"rl1_release_pipeline": q_release_pipeline}

ORACLE = {"rl1_release_pipeline": _rl1_sql()}
