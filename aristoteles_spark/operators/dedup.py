"""Deduplication operators for large-scale document corpora.

Every variant is a DataFrame composition designed for the 100 TB shape:

- exact:       hash-groupBy on a content digest — one shuffle on the digest,
               map-side partial agg keeps it skew-tolerant (identical docs
               hash to one key; a hot key means real duplicates, which the
               min-aggregation handles without collecting rows).
- ngram Jaccard: inverted-index self-join (doc,token) — the classic
               candidate-generation shuffle keyed by token; frequent-token
               pruning caps the worst-case fanout.
- MinHash+LSH: per-doc signatures computed IN-ROW (no shuffle), then one
               explode×bands shuffle to bucket candidates; pair verification
               on the signature, not the raw text.
- SimHash:     per-doc 32-bit sketch in-row; near-dup pairs via banded
               prefix blocking + Hamming filter.

Hashes are md5-derived (functions/text.py:h32) so results are engine-
portable and oracle-checkable bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aristoteles_spark.functions.text import (
    distinct_tokens,
    fingerprint,
    h32,
    minhash_signature,
    simhash32,
)
from aristoteles_spark.operators.barrier import audit_barrier, barrier_disabled


# membership tables are broadcast only when MEASURED small (the count is
# free — the frame is already persisted for reuse): AQE cannot size cached
# frames, and an unconditional hint would ship the full corpus's membership
# to every executor at 100 TB
_BROADCAST_MAX_ROWS = 2_000_000


def _maybe_broadcast(frame: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(frame) if n_rows <= _BROADCAST_MAX_ROWS else frame


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group by content digest; keep the min id as the representative.

    Returns (digest, n_docs, keep_id). One shuffle on the digest.
    """
    return (
        df.select(F.md5(F.col(text_col).cast("binary")).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def normalized_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the normalized-token fingerprint (case/punct/ws
    insensitive)."""
    return (
        df.select(fingerprint(text_col).alias("digest"), F.col(id_col))
        .groupBy("digest")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    max_token_freq: int | None = None,
    dict_bitmap_max_vocab: int = 4096,
    allpairs_set_cap: int = 65536,
    gather_dict_max_bytes: int = 512 << 20,
) -> DataFrame:
    """Candidate pairs by token-inverted-index join + exact Jaccard.

    ``allpairs_set_cap`` bounds the distinct-set cartesian (round 4):
    with the popcount verify in codegen, the cartesian costs ~M^2/2
    cheap size-prefilter evaluations (popcount only on size-compatible
    pairs) and no shuffle — at the 10x replica (M = 39k) it measured
    ~4x faster than the prefix equi-join (35 s vs 141 s), and at
    M = 65536 its 2.1e9 enumerations are tens of seconds of register
    work on 32 cores. Above the cap M^2 growth must eventually lose to
    the candidate-proportional prefix join; on a Zipfian real-corpus
    vocabulary the prefix blocking is selective and the crossover is
    far below the cap, while this benchmark's 31-token synthetic
    vocabulary is the prefix join's worst case (census: 1.4e9
    candidates at 100x — dense by corpus construction). The interpreted
    popcount that originally made the cartesian pace to ~13 h at 100x
    is gone either way (explicit W-term bit_count sum, see below).

    jaccard(A,B) = |A∩B| / (|A|+|B|-|A∩B|) over distinct token sets.
    ``max_token_freq`` drops tokens appearing in more than that many docs
    (stopword-like tokens explode the join at scale; dropping them only
    loses pairs whose entire overlap is ubiquitous tokens).
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Adaptive plan: when the global vocabulary fits in
    ``dict_bitmap_max_vocab`` tokens, each doc's token set is
    dictionary-encoded IN-ROW into a fixed-width bitset (array of 64-bit
    words; the dictionary is collected driver-side like any column
    dictionary — a tiny "train" step). Docs then collapse into DISTINCT
    bitsets (a dup-heavy corpus has far fewer sets than docs), distinct
    sets are compared all-pairs with popcount(a AND b) — embarrassingly
    parallel codegen, no explode, no inverted-index shuffle — and
    qualifying set pairs expand back to doc pairs through broadcast
    membership joins. Jaccard depends only on the token set, so this is
    exact. Large vocabularies fall back to the AllPairs prefix-filtered
    inverted-index join with rarity-sorted array intersect.
    """
    # AllPairs/PPJoin prefix filtering — EXACT for the given threshold.
    # A naive token-inverted-index join explodes on ubiquitous tokens
    # (a token present in all N docs contributes N^2 candidate rows).
    # Instead, sort each doc's tokens by global rarity and index only the
    # first |A| - ceil(t*|A|) + 1 (the "prefix"): any pair with J >= t
    # provably shares its globally-smallest common token within both
    # prefixes, and prefix tokens are the RAREST ones, so the index join
    # fans out minimally. Verification is an in-row array_intersect.
    toks = df.select(
        F.col(id_col).alias("doc"), F.explode(distinct_tokens(text_col)).alias("token")
    )
    if max_token_freq is not None:
        freq0 = toks.groupBy("token").agg(F.count("*").alias("df"))
        toks = toks.join(
            freq0.filter(F.col("df") <= max_token_freq).select("token"), "token"
        )
    # persist: consumed by the df-count aggregation AND the probe side of
    # the rarity join — without it the tokenize+explode runs twice
    toks = toks.persist()

    vocab = toks.select("token").distinct().limit(dict_bitmap_max_vocab + 1).collect()
    if len(vocab) <= dict_bitmap_max_vocab:
        out = _jaccard_pairs_bitset(
            df,
            [r["token"] for r in vocab],
            text_col,
            id_col,
            threshold,
            max_token_freq,
            allpairs_set_cap=allpairs_set_cap,
            gather_dict_max_bytes=gather_dict_max_bytes,
        )
        toks.unpersist()  # the bitset path re-tokenizes in-row; toks is done
        return out

    freq = toks.groupBy("token").agg(F.count("*").alias("df"))
    # per-doc token array sorted by (rarity, token): struct sort is
    # lexicographic on fields, giving one global total order. The rarity
    # join is left to Catalyst/AQE (measured: forcing a broadcast of freq
    # was slower here — the probe side re-shuffles by doc right after
    # anyway, so saving the token shuffle buys nothing).
    docs = (
        toks.join(freq, "token")
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list(F.struct("df", "token"))).alias("st"))
        .select(
            "doc",
            F.transform("st", lambda x: x["token"]).alias("toks"),
            F.size("st").alias("sz"),
        )
        .persist()  # consumed by the prefix index and twice in verify
    )
    prefix_len = F.col("sz") - F.ceil(F.col("sz") * threshold).cast("int") + 1
    index = docs.select(
        "doc", "sz", F.explode(F.slice("toks", 1, prefix_len)).alias("token")
    )
    a, b = index.alias("a"), index.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc") < F.col("b.doc"))
            # size filter: J >= t forces t*max(|A|,|B|) <= min(|A|,|B|)
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (F.col("b.sz") >= threshold * F.col("a.sz")),
        )
        .select(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    da = docs.select(F.col("doc").alias("doc_a"), F.col("toks").alias("toks_a"), F.col("sz").alias("sz_a"))
    db = docs.select(F.col("doc").alias("doc_b"), F.col("toks").alias("toks_b"), F.col("sz").alias("sz_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return audit_barrier(
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .withColumn(
            "jaccard",
            inter / (F.col("sz_a") + F.col("sz_b") - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard"),
        toks,
        docs,
    )


def _jaccard_pairs_bitset(
    df: DataFrame,
    vocab: list[str],
    text_col: str,
    id_col: str,
    threshold: float,
    max_token_freq: int | None,
    allpairs_set_cap: int = 4096,
    gather_dict_max_bytes: int = 512 << 20,
) -> DataFrame:
    """Small-dictionary exact Jaccard pairs (see ngram_jaccard_pairs).

    Plan: in-row bitset encode -> collapse to distinct sets -> set-pair
    generation -> expand to doc pairs via broadcast membership joins.
    Identical sets short-circuit to jaccard = 1.0 without comparison.

    Set-pair generation is adaptive on M = |distinct sets| (the 100x
    sweep's round-4 catch: the vocab gate alone does NOT bound M — a
    31-token corpus replicated 100x stays under the 4096-token gate
    while M grows linearly with the corpus, so the all-pairs compare is
    M^2*W/2 register ops = quadratic in corpus size; measured: the
    cartesian stage was pacing to ~13 h at 100x):

    * M <= ``allpairs_set_cap``: all-pairs popcount(AND) over distinct
      sets — a blocked nested-loop join of longs, perfectly parallel
      and shuffle-free with the small side broadcast. Right plan for
      dup-heavy corpora whose distinct-set count is genuinely small.
    * M > cap: AllPairs prefix-filtered equi-join over the DISTINCT
      SETS — each set indexes only its (sz - ceil(t*sz) + 1) globally
      rarest tokens (any J >= t pair provably shares a token within
      both prefixes under one global order), candidates equi-join on
      that token with the size-ratio prefilter. The join emits NARROW
      (sid_a, sid_b) rows; verification gathers both masks from a
      broadcast distinct-set dictionary inside an Arrow kernel
      (vectorized uint64 AND + uint8-LUT popcount) — carrying the mask
      arrays through the join output was the measured 100x wall. Above
      the dictionary-broadcast gate (``gather_dict_max_bytes``) the
      masks ride the join with a codegen popcount kept out of the join
      condition. Work is candidate-proportional (linear for
      cross-copy-disjoint growth), not M^2. Equivalence to the
      all-pairs compare is pytest-pinned (tests/test_extensions.py
      test_set_prefix_path_matches_set_allpairs).
    """
    n_words = (len(vocab) + 63) // 64 or 1
    # Arrow-batched dictionary encode (round 5). The previous in-row
    # encode — one aggregate() HOF per 64-bit word, each fold step a
    # GetMapValue over a 64-entry CreateMap — re-built the literal map
    # per step per row in the INTERPRETER (HOFs never codegen), so the
    # members materialization ALONE paced past 10 minutes on the 100x
    # replica (W = 49 words x ~25 tokens x 500k docs; at sf0.1 W = 1 and
    # the cost was invisible). One hash-dict get per token + uint64 ORs
    # in numpy does the identical encode Arrow-in/Arrow-out, no shuffle,
    # bit-identical masks (uint64 buffer viewed as signed int64).
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    tok_entry = {t: (i // 64, np.uint64(1 << (i % 64))) for i, t in enumerate(vocab)}

    # no type hints: the module's future-annotations turn hints into
    # strings pandas_udf cannot resolve, so pass returnType explicitly
    def _encode(toks_col):
        out = []
        for toks_row in toks_col:
            if toks_row is None:
                # null text -> tokens() null-propagates -> null mask, same
                # as the pre-round-5 aggregate() HOF encode: the doc stays
                # pairless (null masks never equi-join and the nonempty
                # filter excludes them) instead of crashing the batch
                # (ADVICE r5).
                out.append(None)
                continue
            words = np.zeros(n_words, dtype=np.uint64)
            for t in toks_row:
                e = tok_entry.get(t)
                if e is not None:
                    words[e[0]] |= e[1]
            out.append(words.view(np.int64).tolist())
        return pd.Series(out)

    encode_udf = pandas_udf(_encode, "array<long>")
    # one representative token array per set rides to `uniq` so the
    # prefix branch can rarity-order WITHOUT a per-bit decode of the
    # mask (a <=4096-step higher-order lambda per row — the
    # interpreted-lambda cliff SURVEY §8.7 documents). The array MUST
    # match the FILTERED vocabulary the mask encodes (ADVICE r4): with
    # max_token_freq set, a dropped token that sorts early in the rarity
    # order would otherwise occupy a prefix slot (prefix_len is computed
    # from the filtered sz but sliced from the longer unfiltered array)
    # and could displace the one shared prefix token of a qualifying
    # pair — a silent false negative. Filtering also makes the set a
    # pure function of the mask, so F.first over same-mask docs is
    # deterministic.
    tok_set = distinct_tokens(text_col)
    if max_token_freq is not None:
        tok_set = F.array_intersect(tok_set, F.lit(vocab).cast("array<string>"))
    members = (
        df.select(
            F.col(id_col).alias("doc"),
            tok_set.alias("toks"),
        )
        .withColumn("mask", encode_udf(F.col("toks")))
        .select("doc", "mask", "toks")
        .persist()
    )
    n_members = members.count()
    uniq = (
        members.groupBy("mask")
        .agg(F.count("*").alias("n"), F.first("toks").alias("toks"))
        # |set| = popcount(mask) by construction (toks is the filtered
        # distinct token set the mask encodes) — F.size beats a 49-step
        # interpreted bit_count fold per distinct set
        .withColumn("sz", F.size("toks"))
        .persist()
    )

    # |A AND B| as an EXPLICIT W-term sum of codegen bit_counts, not an
    # aggregate(zip_with(...)) fold: higher-order functions do not
    # participate in codegen — they interpret per candidate pair
    # (the §8.8 cliff class; a thread dump of the 100x run showed every
    # worker inside ArrayAggregate.eval under the generated predicate).
    # W = ceil(vocab/64) is a driver-side constant, so the unrolled sum
    # is a plain arithmetic expression tree.
    inter = None
    for w in range(1, n_words + 1):
        term = F.bit_count(
            F.element_at("mask_a", w).bitwiseAND(F.element_at("mask_b", w))
        )
        inter = term if inter is None else inter + term
    # Fallback-path guard (see the prefix branch): the verify must stay
    # OUT of a high-fanout JOIN CONDITION at large W — when
    # PushPredicateThroughJoin sinks the jaccard filter into the join,
    # the ~150-node popcount tree lands FIRST in the And-conjunct order
    # and every enumerated candidate pays it BEFORE the cheap
    # size/positional conjuncts (measured round 5 at W = 49: 47+ min
    # with 0/32 tasks done). The always-true rand() guard marks the
    # expression nondeterministic — the one thing the optimizer will not
    # push through a join; the value is always `inter` (rand in
    # [0,1) < 2). The CARTESIAN branch keeps the raw expression: there
    # the pushed condition is the GOOD plan (qualifying pairs never
    # materialize join-output rows, W is small in every regime that
    # reaches it, and 10x measured it at 35 s for 760M enumerations).
    inter_nd = F.when(F.rand(7) < 2.0, inter)
    verify = (
        F.when(
            (F.col("sz_a") + F.col("sz_b") - F.col("i")) > 0,
            F.col("i") / (F.col("sz_a") + F.col("sz_b") - F.col("i")).cast("double"),
        )
    )
    dict_bc = None  # broadcast dictionary, released after the final audit_barrier
    M = uniq.count()
    if M <= allpairs_set_cap:
        # distinct-set all-pairs: popcount(AND) with the cheap size-ratio
        # prefilter first (J >= t forces t*max(sz) <= min(sz))
        a = uniq.select(
            F.col("mask").alias("mask_a"), F.col("sz").alias("sz_a")
        )
        b = uniq.select(
            F.col("mask").alias("mask_b"), F.col("sz").alias("sz_b")
        )
        set_pairs = (
            a.join(
                b,
                (F.col("mask_a") < F.col("mask_b"))
                & (F.col("sz_a") >= threshold * F.col("sz_b"))
                & (F.col("sz_b") >= threshold * F.col("sz_a")),
            )
            .withColumn("i", inter)
            .withColumn("jaccard", verify)
            .filter(F.col("jaccard") >= threshold)
            .select("mask_a", "mask_b", "jaccard")
        )
        # expand set pairs to doc pairs; doc order normalized least/greatest
        m1 = _maybe_broadcast(
            members.select(F.col("doc").alias("da"), F.col("mask").alias("mask_a")),
            n_members,
        )
        m2 = _maybe_broadcast(
            members.select(F.col("doc").alias("db"), F.col("mask").alias("mask_b")),
            n_members,
        )
        cross = (
            set_pairs.join(m1, "mask_a")
            .join(m2, "mask_b")
            .select(
                F.least("da", "db").alias("doc_a"),
                F.greatest("da", "db").alias("doc_b"),
                "jaccard",
            )
        )
    else:
        # AllPairs prefix filtering over the distinct sets: one global
        # token order (rarity by distinct-set df, token string as the
        # tie-break) makes "the smallest common token of any J >= t
        # pair lies in both prefixes" exact; prefix tokens are the
        # rarest, so the blocking equi-join fans out minimally.
        #
        # Two 100x-measured design rules baked in here:
        # * every row that crosses a shuffle or enters the dedup hash map
        #   is keyed by a compact surrogate set id (sid), never by the
        #   W-long mask array — deduping 70M survivors on two ~800-byte
        #   array keys was the measured wall (and memory killer) of the
        #   first formulation;
        # * a PPJoin-style positional upper bound gates the popcount:
        #   for the smallest common token at rarity positions (pos_a,
        #   pos_b), overlap <= 1 + min(sz_a-1-pos_a, sz_b-1-pos_b), and
        #   J >= t needs overlap >= t/(1+t)*(sz_a+sz_b). A qualifying
        #   pair always survives via its smallest common token (the
        #   bound is exact there), and dedup keeps it once; the cheap
        #   int conjunct skips the W-term popcount for the bulk of the
        #   enumerated candidates.
        # sid only needs uniqueness and a total order, not dense ranks —
        # monotonically_increasing_id gives both without the single-task
        # global sort a row_number() over an unpartitioned window forces
        # (this branch runs only when M > allpairs_set_cap, i.e. >65k
        # wide mask-array rows through one task; ADVICE r4). ids are
        # stable for the run because `uniq` is persisted and already
        # materialized by the branch-deciding count() above.
        # null masks (null-text docs) are structurally pairless — their
        # token explode yields no prefix rows — but they would poison the
        # Arrow dictionary snapshot (a null mask breaks the fixed-width
        # (M, W) reshape), so drop them before sid assignment
        uniq2 = uniq.filter(F.col("mask").isNotNull()).withColumn(
            "sid", F.monotonically_increasing_id()
        )
        tokdf = (
            uniq.select(F.explode("toks").alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("tdf"))
        )
        ordered = (
            uniq2.select("sid", "mask", "sz", F.explode("toks").alias("token"))
            .join(F.broadcast(tokdf), "token")  # vocab <= dict gate: tiny
            .groupBy("sid", "mask", "sz")
            .agg(F.array_sort(F.collect_list(F.struct("tdf", "token"))).alias("ob"))
        )
        prefix_len = F.col("sz") - F.ceil(F.col("sz") * threshold).cast("int") + 1
        pidx = ordered.select(
            "sid",
            "mask",
            "sz",
            F.posexplode(
                F.transform(F.slice("ob", 1, prefix_len), lambda s: s["token"])
            ).alias("pos", "token"),
        )
        pa, pb = pidx.alias("pa"), pidx.alias("pb")
        overlap_cap = F.lit(1) + F.least(
            F.col("pa.sz") - 1 - F.col("pa.pos"),
            F.col("pb.sz") - 1 - F.col("pb.pos"),
        )
        overlap_need = (
            F.lit(threshold / (1.0 + threshold))
            * (F.col("pa.sz") + F.col("pb.sz"))
        )
        cand_cond = (
            (F.col("pa.token") == F.col("pb.token"))
            & (F.col("pa.sid") < F.col("pb.sid"))
            & (F.col("pa.sz") >= threshold * F.col("pb.sz"))
            & (F.col("pb.sz") >= threshold * F.col("pa.sz"))
            & (overlap_cap >= overlap_need)
        )
        dict_bytes = M * (n_words * 8 + 24)
        if dict_bytes <= gather_dict_max_bytes:
            # Broadcast-dictionary verify (round 5). The candidate join
            # must emit NARROW rows: carrying the two W-long mask arrays
            # through the join output was the measured 100x wall — 635M
            # cheap-surviving candidates x ~850 B of UnsafeRow array
            # copying (~540 GB of row traffic; the identical join counted
            # in 5.6 s once column pruning dropped the masks). Instead the
            # distinct-set dictionary (sid -> mask, sz; M x (8W+24) B,
            # gated at 512 MB ~ 1.3M sets at W = 49) ships ONCE as a
            # broadcast, candidates cross as two longs, and an
            # Arrow-batched kernel verifies each batch with vectorized
            # numpy: fancy-index gather, uint64 AND, uint8-LUT popcount.
            # float64 division matches the JVM expression path bit-exactly
            # (IEEE 754), pinned by the prefix==allpairs equivalence test.
            tbl = uniq2.select("sid", "sz", "mask").toArrow()
            sid_np = tbl.column("sid").to_numpy()
            order = np.argsort(sid_np)
            sid_sorted = sid_np[order]
            sz_np = tbl.column("sz").to_numpy()[order].astype(np.int64)
            mask_col = tbl.column("mask").combine_chunks()
            masks_np = (
                mask_col.flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
                .view(np.uint64)
                .reshape(len(sid_np), n_words)[order]
            )
            bc = dict_bc = df.sparkSession.sparkContext.broadcast(
                (sid_sorted, masks_np, sz_np)
            )
            popc_lut = np.array(
                [bin(i).count("1") for i in range(256)], dtype=np.uint8
            )
            thr = threshold

            def _verify_pairs(it):
                sids_, masks_, szs_ = bc.value
                for pdf in it:
                    if not len(pdf):
                        continue
                    sa = pdf["sid_a"].to_numpy()
                    sb = pdf["sid_b"].to_numpy()
                    a = np.searchsorted(sids_, sa)
                    b = np.searchsorted(sids_, sb)
                    # sid-drift tripwire (ADVICE r5): the candidate join
                    # recomputes sids in a separate job from the driver
                    # snapshot; monotonically_increasing_id is only stable
                    # while the persisted `uniq` partitions survive. A
                    # recomputed partition (cache eviction + executor loss)
                    # would gather the WRONG mask silently — validate the
                    # searchsorted hit against its key so drift fails loudly.
                    if (
                        (a >= len(sids_)).any()
                        or (b >= len(sids_)).any()
                        or (sids_[np.minimum(a, len(sids_) - 1)] != sa).any()
                        or (sids_[np.minimum(b, len(sids_) - 1)] != sb).any()
                    ):
                        raise RuntimeError(
                            "ngram_jaccard_pairs: candidate sid absent from "
                            "the broadcast distinct-set dictionary — "
                            "monotonically_increasing_id drift after a "
                            "cache recomputation; rerun the query"
                        )
                    anded = masks_[a] & masks_[b]
                    inter_ = popc_lut[anded.view(np.uint8)].sum(
                        axis=1, dtype=np.int64
                    )
                    union = szs_[a] + szs_[b] - inter_
                    jac = np.where(
                        union > 0, inter_ / np.maximum(union, 1), 0.0
                    )
                    keep = jac >= thr
                    if keep.any():
                        yield pd.DataFrame(
                            {
                                "sid_a": pdf["sid_a"].to_numpy()[keep],
                                "sid_b": pdf["sid_b"].to_numpy()[keep],
                                "jaccard": jac[keep],
                            }
                        )

            set_pairs = (
                pa.join(pb, cand_cond)
                .select(
                    F.col("pa.sid").alias("sid_a"),
                    F.col("pb.sid").alias("sid_b"),
                )
                .mapInPandas(
                    _verify_pairs, "sid_a long, sid_b long, jaccard double"
                )
                # dedup only the tiny VERIFIED pair set on its INT keys —
                # the raw candidate stream never shuffles
                .dropDuplicates(["sid_a", "sid_b"])
            )
        else:
            # dictionary exceeds broadcast capacity: fall back to
            # carrying the masks through the join and verifying with the
            # codegen popcount sum, kept OUT of the join condition by the
            # nondeterministic guard (see inter_nd above). Honest cost
            # note: at this M on a <=4096-token vocabulary the corpus is
            # in the dense regime where exact Jaccard is inherently
            # candidate-bound; the scalable near-dup path is MinHash-LSH
            # (dd4).
            set_pairs = (
                pa.join(pb, cand_cond)
                .select(
                    F.col("pa.sid").alias("sid_a"),
                    F.col("pa.mask").alias("mask_a"),
                    F.col("pa.sz").alias("sz_a"),
                    F.col("pb.sid").alias("sid_b"),
                    F.col("pb.mask").alias("mask_b"),
                    F.col("pb.sz").alias("sz_b"),
                )
                .withColumn("i", inter_nd)
                .withColumn("jaccard", verify)
                .filter(F.col("jaccard") >= threshold)
                .dropDuplicates(["sid_a", "sid_b"])
                .select("sid_a", "sid_b", "jaccard")
            )
        # expansion joins ride the int sid too (the mask array never
        # leaves the distinct-set frame)
        mem_s = members.join(uniq2.select("mask", "sid"), "mask").select(
            "doc", "sid"
        )
        s1 = _maybe_broadcast(
            mem_s.select(F.col("doc").alias("da"), F.col("sid").alias("sid_a")),
            n_members,
        )
        s2 = _maybe_broadcast(
            mem_s.select(F.col("doc").alias("db"), F.col("sid").alias("sid_b")),
            n_members,
        )
        cross = (
            set_pairs.join(s1, "sid_a")
            .join(s2, "sid_b")
            .select(
                F.least("da", "db").alias("doc_a"),
                F.greatest("da", "db").alias("doc_b"),
                "jaccard",
            )
        )
    # identical sets: every intra-group pair has jaccard exactly 1.0
    # (empty sets excluded — no shared token means no pair; size(toks)
    # is popcount(mask) by construction, checked BEFORE the self-join)
    nonempty = members.filter(F.size("toks") > 0)
    g1 = nonempty.select(F.col("doc").alias("da"), "mask")
    g2 = _maybe_broadcast(nonempty.select(F.col("doc").alias("db"), "mask"), n_members)
    intra = (
        g1.join(g2, "mask")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    out = audit_barrier(cross.unionByName(intra), members, uniq)
    if dict_bc is not None and not barrier_disabled():
        # the eager localCheckpoint above materialized every consumer of
        # the verify kernel, so the dictionary broadcast (up to the
        # 512 MB gate x N queries per session) is dead weight — release
        # it like the cached intermediates (ADVICE r5). Skipped in audit
        # mode, where the un-barriered plan still references it.
        dict_bc.destroy()
    return out


def _small_vocab_hash_fn(df: DataFrame, text_col: str, max_vocab: int = 256):
    """If the corpus vocabulary fits ``max_vocab``, return a token->h32
    lookup backed by a literal map (hashes computed driver-side — Python
    md5 is bit-identical to the engine's md5, see functions/text.py:h32).
    Replaces per-token md5 inside interpreted higher-order lambdas, which
    dominates signature cost. Returns None for large vocabularies.

    The cap is deliberately SMALL: Spark's GetMapValue on a map literal
    is a LINEAR SCAN per lookup, so an n-entry map costs O(n) per token
    — at the 100x sweep a ~3000-entry map (the replica's suffixed
    vocabulary still fit the old 4096 cap) turned the signature stage
    into ~1.5e11 comparisons (~3 min); the md5 fallback is flat per
    token and beats the map well before a few hundred entries."""
    import hashlib

    rows = (
        df.select(F.explode(distinct_tokens(text_col)).alias("token"))
        .distinct()
        .limit(max_vocab + 1)
        .collect()
    )
    if len(rows) > max_vocab or not rows:
        # empty corpus: create_map() with zero entries types its values
        # VOID and the lookup fails analysis (round-6 empty-input sweep);
        # the md5 fallback handles the no-rows plan fine
        return None
    entries = []
    for r in rows:
        t = r["token"]
        h = int(hashlib.md5(f"0:{t}".encode()).hexdigest()[:8], 16)
        entries += [F.lit(t), F.lit(h).cast("long")]
    m = F.create_map(*entries)

    def lookup(t):
        return m[t]

    return lookup


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    use_small_vocab: bool = True,
) -> DataFrame:
    """(id, sig array<long>) — computed in-row, zero shuffle.

    ``use_small_vocab=False`` skips the driver-side vocabulary probe
    (a distinct+limit+collect job). The probe is a pure optimization —
    the literal-map lookup returns bit-identical md5-derived values —
    so callers that sign many SMALL frames (a streaming probe signs
    every microbatch; round 5 measured the probe as a full extra Spark
    job per trigger) turn it off without affecting results."""
    hash_fn = _small_vocab_hash_fn(df, text_col) if use_small_vocab else None
    return df.select(
        F.col(id_col).alias("doc"),
        minhash_signature(distinct_tokens(text_col), num_hashes, hash_fn=hash_fn).alias(
            "sig"
        ),
    )


def _minhash_sig_pairs(
    uniq: DataFrame,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_allpairs_sigs: int,
) -> DataFrame:
    """(sig_a, sig_b, est_sim) over DISTINCT signatures — the adaptive
    all-pairs / banded-equi-join core shared by ``minhash_lsh_pairs`` and
    ``minhash_cluster_edges`` (strategy notes on the former)."""
    rows_per_band = num_hashes // bands
    n_uniq = uniq.count()
    # position-agreement count as a FLAT codegen sum (element_at chain),
    # not F.aggregate: higher-order lambdas evaluate interpreted per
    # candidate pair, and the banded path streams O(sum bucket^2) pairs
    # through this expression — at the 100x sweep the interpreted form
    # was a measurable slice of a 997s runtime. Null propagation is
    # identical (any null position nulls the sum -> pair filtered).
    matches = None
    for i in range(1, num_hashes + 1):
        m = (F.element_at("sig_a", i) == F.element_at("sig_b", i)).cast("int")
        matches = m if matches is None else matches + m
    if n_uniq <= max_allpairs_sigs:
        a = uniq.select(F.col("sig").alias("sig_a"))
        b_ = uniq.select(F.col("sig").alias("sig_b"))
        band_match = None
        for bi in range(bands):
            eq = F.slice("sig_a", bi * rows_per_band + 1, rows_per_band) == F.slice(
                "sig_b", bi * rows_per_band + 1, rows_per_band
            )
            band_match = eq if band_match is None else (band_match | eq)
        cand = a.join(b_, (F.col("sig_a") < F.col("sig_b")) & band_match)
        barrier = False
    else:
        # Banded equi-join with EMIT-ON-FIRST-MATCHING-BAND dedup. The
        # former shape shuffled the joined pair stream (sum of
        # bucket-size^2 rows, each carrying TWO full signature arrays)
        # through a .distinct() — on a low-entropy corpus whose band
        # buckets are huge (this synthetic vocab puts ~45% of docs in
        # one bucket; candidate pairs grow linearly but number ~1.2e9
        # at the 100x sweep) that exchange was the whole runtime
        # (336x measured at 100x data, vs ~linear after this change).
        # Instead each pair is emitted exactly once, at its FIRST
        # colliding band: the join output is consumed by in-row codegen
        # predicates (earlier-band slice equality + est_sim) and only
        # final pairs ever reach an exchange. Candidate-pair mass
        # itself is the LSH tuning knob (dd11 makes it visible) — this
        # keeps the per-candidate cost at a few dozen codegen ops.
        banded = uniq.select(
            "sig",
            F.posexplode(
                F.array(
                    *[
                        F.xxhash64(
                            F.lit(bi), F.slice("sig", bi * rows_per_band + 1, rows_per_band)
                        )
                        for bi in range(bands)
                    ]
                )
            ).alias("band", "band_digest"),
        )
        x = banded.select(F.col("sig").alias("sig_a"), "band", "band_digest")
        y = banded.select(F.col("sig").alias("sig_b"), "band", "band_digest")
        earlier = None  # an earlier band ALSO collides -> emitted there
        for bi in range(bands - 1):
            eq = (F.col("band") > bi) & (
                F.slice("sig_a", bi * rows_per_band + 1, rows_per_band)
                == F.slice("sig_b", bi * rows_per_band + 1, rows_per_band)
            )
            earlier = eq if earlier is None else (earlier | eq)
        if earlier is None:  # bands == 1: every pair joins exactly once
            earlier = F.lit(False)
        cand = (
            x.join(y, ["band", "band_digest"])
            .filter((F.col("sig_a") < F.col("sig_b")) & ~earlier)
            .select("sig_a", "sig_b")
        )
        barrier = True
    out = (
        cand.withColumn("est_sim", matches / F.lit(float(num_hashes)))
        .filter(F.col("est_sim") >= threshold)
        .select("sig_a", "sig_b", "est_sim")
    )
    if barrier:
        # materialization barrier on the SCALE path: est_sim crosses into
        # the consumers as a VALUE. Whole-stage codegen passes a Project's
        # output expressions to the parent as inlined CODE, evaluated at
        # point of USE — for a downstream broadcast join that point is the
        # build-side match loop, so the 32-element_at agreement sum gets
        # re-evaluated per EXPANDED doc pair (measured at the 100x sweep:
        # count() of dd4's final agg, which prunes est_sim, 80s; collect()
        # 981s — ~900s re-evaluating element_at chains over 581M rows).
        # A repartition() barrier does NOT survive: AQE's re-planning
        # elides the user REPARTITION_BY_NUM exchange here (verified:
        # sparkPlan has it, executedPlan does not), so the barrier is a
        # persist — an InMemoryRelation is a stage boundary codegen cannot
        # inline through, and it is the in-engine form of what a
        # production pipeline does anyway at this seam (write the scored
        # candidate-pair table to storage between stages — the rl1
        # stage-materialization pattern). The all-pairs branch is exempt:
        # u <= max_allpairs_sigs bounds its pair stream, the deferred
        # expression is a bounded constant factor there, and the extra
        # stage boundary measured +4.5s of pure overhead at sf0.1.
        out = out.persist()
    return out


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_allpairs_sigs: int = 4096,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """LSH-banded candidate pairs with signature-estimated similarity.

    Signature rows are grouped into ``bands`` bands of num_hashes/bands
    values; docs sharing any band's digest become candidates; est_sim =
    matching signature positions / num_hashes. Returns
    (doc_a, doc_b, est_sim), doc_a < doc_b.

    ADAPTIVE physical strategy (same result either way; chosen from the
    measured distinct-signature count, which the persist pays for anyway):

    - **all-pairs** (distinct sigs <= ``max_allpairs_sigs``): dup-heavy
      corpora collapse to few distinct signatures; a broadcast
      nested-loop of in-row array compares beats the explode-by-bands
      shuffle and needs no candidate dedup. O(u^2) in distinct sigs —
      at u~33k all-pairs is 22x slower than banded (140s vs 6.3s on
      the 10x scale sweep), while at u~5k on THIS corpus all-pairs wins
      4.3s vs 23s — the synthetic vocab puts ~45% of distinct sigs in
      one band bucket, so the banded join's pair mass lands in a single
      straggler task while the BNLJ spreads u^2/2 compares evenly. At
      production scale that skew is AQE's job (skewed-SMJ chunk split);
      below AQE's size thresholds the even BNLJ is the right plan.
    - **banded equi-join** (above the threshold — the 100 TB path on a
      mostly-unique corpus where u ~ n): each signature explodes into
      ``bands`` (band, xxhash64(band slice)) keys, candidates come from a
      plain HASH join on the digest (shuffle keyed by the band digest, no
      quadratic compare anywhere), then distinct + est_sim verification.
      Cost is O(n·bands) shuffle + per-bucket pair expansion — exactly
      what LSH bucket sizing controls.

    ``sigs`` (optional): a precomputed ``minhash_signatures()`` frame
    (doc, sig) for exactly ``df``'s rows — the stored signature-index
    table of a production pipeline (round 9: the suite materializes it
    once per session and every minhash consumer reads it instead of
    re-hashing the corpus). Signatures are pure per-row functions of the
    text, so results are identical either way.
    """
    members = (
        sigs
        if sigs is not None
        else minhash_signatures(df, text_col, id_col, num_hashes)
    ).persist()
    n_members = members.count()
    uniq = members.groupBy("sig").agg(F.count("*").alias("n")).persist()
    sig_pairs = _minhash_sig_pairs(uniq, num_hashes, bands, threshold, max_allpairs_sigs)
    m1 = _maybe_broadcast(
        members.select(F.col("doc").alias("da"), F.col("sig").alias("sig_a")),
        n_members,
    )
    m2 = _maybe_broadcast(
        members.select(F.col("doc").alias("db"), F.col("sig").alias("sig_b")),
        n_members,
    )
    cross = (
        sig_pairs.join(m1, "sig_a")
        .join(m2, "sig_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "est_sim",
        )
    )
    # identical signatures: all bands collide and est_sim is exactly 1.0
    # (empty docs carry null signature entries and never pair — matches
    # the null-propagation of the agreement count on the cross path)
    g2 = _maybe_broadcast(members.select(F.col("doc").alias("db"), "sig"), n_members)
    intra = (
        members.select(F.col("doc").alias("da"), "sig")
        .join(g2, "sig")
        .filter(
            (F.col("da") < F.col("db"))
            & F.forall("sig", lambda x: x.isNotNull())
        )
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.lit(1.0).alias("est_sim"),
        )
    )
    return audit_barrier(cross.unionByName(intra), members, uniq, sig_pairs)


def minhash_cluster_edges(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    max_allpairs_sigs: int = 4096,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b) edge set with the SAME connected components as
    ``minhash_lsh_pairs`` but without clique expansion.

    ``minhash_lsh_pairs`` materializes every qualifying doc pair — a
    signature group of k identical docs contributes k·(k-1)/2 edges, and a
    matching group pair |A|x|B| edges. Connectivity needs none of that: a
    STAR from each group's minimum doc id to its members plus ONE bridge
    between the representatives of each matching signature pair spans the
    exact same components. On dup-heavy corpora this cuts the edge set
    from O(sum k^2) to O(n + #sig_pairs) — at sf0.1 measured 5.4M -> ~5k
    edges — which is the difference between shuffling the clique blowup
    and shuffling the corpus once at 100 TB.

    Null-signature docs (empty token sets) never pair in
    ``minhash_lsh_pairs`` — the agreement count null-propagates and the
    identical-signature path filters them — so they get no star edges
    here either and stay isolated, keeping components identical.

    ``sigs``: optional precomputed signature frame (see
    ``minhash_lsh_pairs``) — identical results, no re-hash pass.
    """
    members = (
        sigs
        if sigs is not None
        else minhash_signatures(df, text_col, id_col, num_hashes)
    ).persist()
    members.count()
    full = members.filter(F.forall("sig", lambda x: x.isNotNull()))
    uniq = members.groupBy("sig").agg(F.count("*").alias("n")).persist()
    sig_pairs = _minhash_sig_pairs(uniq, num_hashes, bands, threshold, max_allpairs_sigs)
    reps = full.groupBy("sig").agg(F.min("doc").alias("rep")).persist()
    star = (
        full.join(reps, "sig")
        .filter(F.col("doc") != F.col("rep"))
        .select(F.col("rep").alias("doc_a"), F.col("doc").alias("doc_b"))
    )
    ra = reps.select(F.col("sig").alias("sig_a"), F.col("rep").alias("rep_a"))
    rb = reps.select(F.col("sig").alias("sig_b"), F.col("rep").alias("rep_b"))
    bridge = (
        sig_pairs.join(ra, "sig_a")
        .join(rb, "sig_b")
        .select(F.col("rep_a").alias("doc_a"), F.col("rep_b").alias("doc_b"))
    )
    return audit_barrier(star.unionByName(bridge), members, uniq, reps, sig_pairs)


def simhash_sketches(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash bigint) — 32-bit sketch per doc, in-row."""
    hash_fn = _small_vocab_hash_fn(df, text_col)
    return df.select(
        F.col(id_col).alias("doc"),
        simhash32(distinct_tokens(text_col), hash_fn=hash_fn).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_allpairs_sketches: int = 65536,
    sketches: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance with banded blocking.

    The 32-bit sketch splits into (max_hamming+1) blocks; by pigeonhole any
    pair within max_hamming agrees on >=1 whole block. Returns
    (doc_a, doc_b, hamming), doc_a < doc_b.

    Adaptive like ``minhash_lsh_pairs``: docs collapse to DISTINCT
    sketches; a small distinct set (dup-heavy corpus) is compared
    all-pairs (one XOR+popcount per pair in a broadcast nested loop); a
    large one (100 TB mostly-unique corpus, distinct ~ n) generates
    candidates with a plain HASH join keyed by (block_idx, block_value) —
    O(n·blocks) shuffle, no quadratic compare.
    """
    nblocks = max_hamming + 1
    width = 32 // nblocks + (1 if 32 % nblocks else 0)
    # ``sketches``: optional precomputed (doc, simhash) frame — sketches
    # are per-row pure, so a shared table is bit-identical to re-hashing.
    # The caller-supplied frame gets a DETACHED persist via select('*')
    # (ADVICE r9): persisting/unpersisting the shared table object itself
    # would silently evict a caller's own cache through audit_barrier below.
    members = (
        sketches.select("*")
        if sketches is not None
        else simhash_sketches(df, text_col, id_col)
    ).persist()
    n_members = members.count()
    uniq = members.groupBy("simhash").agg(F.count("*").alias("n")).persist()
    n_uniq = uniq.count()

    def _block(col, i):
        return F.shiftright(F.col(col), i * width).bitwiseAND(F.lit((1 << width) - 1))

    if n_uniq <= max_allpairs_sketches:
        a = uniq.select(F.col("simhash").alias("sk_a"))
        b = uniq.select(F.col("simhash").alias("sk_b"))
        block_match = None
        for i in range(nblocks):
            eq = _block("sk_a", i) == _block("sk_b", i)
            block_match = eq if block_match is None else (block_match | eq)
        cand = a.join(b, (F.col("sk_a") < F.col("sk_b")) & block_match)
    else:
        blocks = uniq.select(
            "simhash",
            F.posexplode(
                F.array(*[_block("simhash", i) for i in range(nblocks)])
            ).alias("block_idx", "block_val"),
        )
        x = blocks.select(F.col("simhash").alias("sk_a"), "block_idx", "block_val")
        y = blocks.select(F.col("simhash").alias("sk_b"), "block_idx", "block_val")
        cand = (
            x.join(y, ["block_idx", "block_val"])
            .filter(F.col("sk_a") < F.col("sk_b"))
            .select("sk_a", "sk_b")
            .distinct()  # a pair may agree on several blocks
        )
    sk_pairs = cand.withColumn(
        "hamming", F.bit_count(F.col("sk_a").bitwiseXOR(F.col("sk_b")))
    ).filter(F.col("hamming") <= max_hamming)
    m1 = _maybe_broadcast(
        members.select(F.col("doc").alias("da"), F.col("simhash").alias("sk_a")),
        n_members,
    )
    m2 = _maybe_broadcast(
        members.select(F.col("doc").alias("db"), F.col("simhash").alias("sk_b")),
        n_members,
    )
    cross = (
        sk_pairs.join(m1, "sk_a")
        .join(m2, "sk_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    g2 = _maybe_broadcast(
        members.select(F.col("doc").alias("db"), "simhash"), n_members
    )
    intra = (
        members.select(F.col("doc").alias("da"), "simhash")
        .join(g2, "simhash")
        .filter(F.col("da") < F.col("db"))
        .select(
            F.col("da").alias("doc_a"),
            F.col("db").alias("doc_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return audit_barrier(cross.unionByName(intra), members, uniq)


def minhash_banded(
    df: DataFrame,
    side: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    use_small_vocab: bool = True,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(doc_<side>, sig_<side>, band, digest) — the stored form of a
    banded LSH index: each doc's signature exploded into its per-band
    digests. In production this frame is materialized ONCE (bucketed on
    the digest) and incremental batches hash-join straight into it; the
    streaming probe (st13) persists it across microbatches for exactly
    that reason. ``sigs``: optional precomputed signature frame (see
    ``minhash_lsh_pairs``) — identical results, no re-hash pass."""
    rpb = num_hashes // bands
    s = (
        sigs
        if sigs is not None
        else minhash_signatures(df, text_col, id_col, num_hashes, use_small_vocab)
    )
    return s.select(
        F.col("doc").alias(f"doc_{side}"),
        F.col("sig").alias(f"sig_{side}"),
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.lit(bi), F.slice("sig", bi * rpb + 1, rpb))
                    for bi in range(bands)
                ]
            )
        ).alias("band", "digest"),
    )


def compact_latest_wins(
    dailies: list[DataFrame],
    tombstones: DataFrame,
    key: str = "doc_id",
    ver_col: str = "ver",
) -> DataFrame:
    """Latest-version-wins compaction for indexes whose per-doc payload
    is a variable-size ROW SET (e.g. one row per winnowing fingerprint,
    xm2) rather than a fixed per-key record: an older version's rows
    must drop as a UNIT, so version resolution is per-doc — ONE
    partial-aggregated max(ver) per key plus an equi-join filter — not
    compact_banded_indexes' per-row max(struct) (which would keep stale
    fingerprints a newer version no longer selects). Tombstone LEFT
    ANTI join strategy left to AQE (xm1's rule: the tombstone set grows
    with the corpus). Requires a non-empty frame list (zero-ROW frames
    are fine); a doc appears at most once per daily index by
    construction, so ver ties are impossible."""
    u = dailies[0]
    for x in dailies[1:]:
        u = u.unionByName(x)
    mx = u.groupBy(key).agg(F.max(ver_col).alias("_mx"))
    live = (
        u.join(mx, key).filter(F.col(ver_col) == F.col("_mx")).drop("_mx")
    )
    return live.join(tombstones, key, "left_anti")


def compact_banded_indexes(
    dailies: list[DataFrame],
    tombstones: DataFrame,
) -> DataFrame:
    """Merge N daily banded LSH indexes into ONE compacted index:
    the latest ingest version of each doc wins, tombstoned docs drop —
    the upkeep job behind nd1/st13's "probe the stored index"
    assumption (an index that only ever accretes daily deltas degrades:
    stale versions inflate every bucket and deleted docs keep matching).

    Inputs: each daily frame is ``minhash_banded()`` output
    (doc_i, sig_i, band, digest) plus an integer ``ver`` ingest-day
    column; ``tombstones`` is a (doc) frame of deleted ids.

    Plan (100 TB shape): union of the stored banded frames (no
    re-signing — signatures are pure functions of text, so the stored
    rows are reused as-is), tombstone LEFT ANTI join (NOT broadcast-
    hinted: the tombstone set grows with the corpus, so the join
    strategy is left to AQE — at daily-delta scale it broadcasts, at
    backfill scale it shuffles, both correct), then ONE partial-
    aggregated groupBy on (doc, band) taking max(struct(ver, ...)) —
    latest version wins, ties impossible by construction (a doc appears
    at most once per daily index). Output is bit-equal to a fresh
    ``minhash_banded()`` build over the live corpus (pytest-pinned;
    xm1's oracle recomputes the fresh build in SQL)."""
    if not dailies:
        # no-op-on-empty contract (round 6) extends to the empty LIST:
        # zero daily indexes compact to an empty index with the
        # contract schema (ADVICE r6 — dailies[0] raised IndexError)
        spark = tombstones.sparkSession
        return spark.createDataFrame(
            [],
            "doc long, band int, digest bigint, sig array<bigint>",
        )
    u = dailies[0]
    for x in dailies[1:]:
        u = u.unionByName(x)
    u = u.select(
        F.col("doc_i").alias("doc"),
        F.col("sig_i").alias("sig"),
        "band",
        "digest",
        "ver",
    )
    live = u.join(tombstones, "doc", "left_anti")
    w = live.groupBy("doc", "band").agg(
        F.max(F.struct("ver", "digest", "sig")).alias("w")
    )
    return w.select(
        "doc",
        "band",
        F.col("w.digest").alias("digest"),
        F.col("w.sig").alias("sig"),
    )


def minhash_index_probe(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    index_banded: DataFrame | None = None,
    batch_small_vocab: bool = True,
    batch_banded: DataFrame | None = None,
) -> DataFrame:
    """Probe a NEW batch of documents against an EXISTING corpus's LSH
    index: (batch_doc, index_doc, est_sim) for every banded-LSH
    candidate above ``threshold``. The incremental-ingest shape of
    near-dup dedup — at 100 TB you never re-pair the historical corpus;
    the index side's (band, digest) explosion IS the stored index (in
    production, materialized once and bucketed on the digest so daily
    batches hash-join straight into it with no index-side shuffle).

    Same banded equi-join + emit-on-first-matching-band discipline as
    ``_minhash_sig_pairs``' scale path (each candidate pair is emitted at
    its FIRST colliding band and consumed entirely by in-row codegen
    predicates); asymmetric sides, so no a<b dedup is needed. Cost:
    O(batch x bands) probe rows against the bucketed index."""
    rpb = num_hashes // bands
    xi = (
        index_banded
        if index_banded is not None
        else minhash_banded(index, "i", text_col, id_col, num_hashes, bands)
    )
    xb = (
        # caller-materialized batch side (the streaming probe eager-
        # checkpoints one tiny frame per trigger so the signature fold
        # runs ONCE instead of once per band-digest consumer)
        batch_banded
        if batch_banded is not None
        else minhash_banded(
            batch, "b", text_col, id_col, num_hashes, bands,
            batch_small_vocab,
        )
    )
    earlier = None
    for bi in range(bands - 1):
        eq = (F.col("band") > bi) & (
            F.slice("sig_i", bi * rpb + 1, rpb) == F.slice("sig_b", bi * rpb + 1, rpb)
        )
        earlier = eq if earlier is None else (earlier | eq)
    if earlier is None:
        earlier = F.lit(False)
    matches = None
    for i in range(1, num_hashes + 1):
        m = (F.element_at("sig_i", i) == F.element_at("sig_b", i)).cast("int")
        matches = m if matches is None else matches + m
    return (
        xb.join(xi, ["band", "digest"])
        .filter(~earlier)
        .withColumn("est_sim", matches / F.lit(float(num_hashes)))
        .filter(F.col("est_sim") >= threshold)
        .select(
            F.col("doc_b").alias("batch_doc"),
            F.col("doc_i").alias("index_doc"),
            "est_sim",
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 16,
    keep_first: bool = True,
    pos_bits: int = 21,
) -> DataFrame:
    """Variable-length exact repeated-substring dedup — the ExactSubstr
    family of Lee et al. 2021 ("Deduplicating Training Data Makes
    Language Models Better"), keep-first variant: any token run of
    length >= ``min_len`` that occurs more than once in the corpus
    (across documents OR within one) is removed from every occurrence
    EXCEPT the globally first (min (doc, pos)). The published
    suffix-array tool removes every occurrence including the first —
    ``keep_first=False`` reproduces that exact semantics (and skips
    the keeper bookkeeping: any window with count >= 2 flags all its
    occurrences); keep-first is the curation-friendly default and
    matches ln1's block-level convention. Reference parity: n/a — the reference
    (aristoteles/aristoteles.py) has no dedup at all; this extends the
    SURVEY §7.4 dedup family per the round-6 verdict.

    Reduction to fixed windows: a duplicated run of length M >= W
    (W = min_len) duplicates all M-W+1 of its W-token windows, so
    flagging every non-first occurrence of a duplicated W-window and
    merging overlapping/adjacent windows per doc reconstructs the FULL
    maximal span — variable length via fixed-width analysis, no suffix
    array, no driver state.

    Plan (100 TB shape): window digests are built IN-ROW (transform
    over an index sequence + md5 of the joined slice — md5 for
    value-parity with the duckdb oracle; a production deployment would
    swap in xxhash64 for an 8-byte shuffle key, same topology).
    Measured-both-ways note (round 7, AB_BENCH.json): fp1's
    string-free token-hash + 40-bit polynomial combine was tried here
    too and LOST — at W=16 the polynomial is 16 interpreted
    multiply-add-mask steps per window while the join+md5 runs as two
    JVM intrinsics (A/B at sf0.1: polynomial 1.02-1.11x SLOWER; at the
    100x replica 42s vs 26s). The crossover is gram width: at fp1's
    K=4 the polynomial measured 3x FASTER. Then
    ONE corpus-wide shuffle keyed by digest computes global
    first-occurrence as a count + min(doc*2^21+pos) PARTIAL agg — a
    plain HashAggregate, map-side combined, skew-immune (a window
    duplicated a million times still reduces to one (count, min) row,
    unlike a collect_list formulation) and sort-free (min over a
    STRUCT would compile to a SortAggregate, i.e. two sorts of the
    full window stream). Non-keeper occurrences come from an
    equi-join of the window stream against the count>=2 digest set
    (tiny for real corpora -> AQE broadcasts it; at backfill scale it
    demotes to SMJ, both correct). The per-doc span merge is a
    groupBy(doc) over FLAGGED rows only (a small fraction of the
    corpus) with the gaps-and-islands fold run in-row by a codegen
    ``aggregate`` over the sorted position list — no second
    corpus-wide window sort. Total: one full shuffle of (digest, doc,
    pos) rows — the same O(total tokens) cost profile as the published
    suffix-array pipeline, partitioned instead of single-node.

    Returns one row per document that had at least one removal:
    (doc, n_tokens, spans array<struct<s,e>> token-index half-open,
    n_spans, removed_tokens, span_digest).
    """
    W = int(min_len)
    wins = _substr_windows(df, text_col, id_col, W)
    if keep_first:
        code = _guarded_code(pos_bits)
        dup = wins.groupBy("wh").agg(
            F.count(F.lit(1)).alias("c"),
            F.min(code).alias("keep_code"),
        ).filter(F.col("c") >= 2)
    else:
        dup = (
            wins.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= 2)
        )
    flagged = wins.join(dup, "wh")
    if keep_first:
        flagged = flagged.filter(code != F.col("keep_code"))
    return _substr_spans(flagged.select("doc", "n_tokens", "pos"), W)


def _substr_windows(
    df: DataFrame, text_col: str, id_col: str, W: int
) -> DataFrame:
    """(doc, n_tokens, pos, wh): every W-token window digest, built
    IN-ROW (transform over an index sequence + md5 of the joined slice)
    then posexploded — the shared front end of the ExactSubstr family."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    digests = F.when(
        n >= W,
        F.transform(
            F.sequence(F.lit(0), n - W),
            lambda i: F.md5(
                F.array_join(F.slice(toks, i + 1, W), " ").cast("binary")
            ),
        ),
    ).otherwise(F.expr("CAST(array() AS array<string>)"))
    return df.select(
        F.col(id_col).alias("doc"),
        n.cast("long").alias("n_tokens"),
        F.posexplode(digests).alias("pos", "wh"),
    )


def _guarded_code(pos_bits: int):
    """(doc, pos) packed into ONE bigint: min(struct) would compile to a
    SortAggregate (per-partition sort of the full window stream, twice
    — partial + final); min(bigint) is a plain HashAggregate, no
    corpus-wide sort. The packing is only injective (and only
    lexicographic) for 0 <= pos < 2^pos_bits AND doc >= 0 — outside
    that range codes COLLIDE ACROSS DOCUMENTS, so a keep-first decision
    could silently spare a wrong occurrence in another doc. Rather than
    return a wrong answer, the guard raises in-row on the first
    out-of-range row (one codegen comparison per row; remove-all mode
    never consults the code, so it skips both the guard and the min).
    Callers with >2M-token docs widen pos_bits: doc < 2^(63-pos_bits)
    must still hold, e.g. pos_bits=32 -> 4B-token docs, 2^31 doc ids."""
    shift = 1 << int(pos_bits)
    code = F.col("doc") * F.lit(shift) + F.col("pos")
    return F.when(
        (F.col("pos") < shift) & (F.col("doc") >= 0), code
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "exact_substring_dedup: (doc,pos) packing out of "
                    f"range (need 0<=pos<2^{int(pos_bits)} and doc>=0; "
                    "widen pos_bits) — doc="
                ),
                F.col("doc").cast("string"),
                F.lit(" pos="),
                F.col("pos").cast("string"),
            )
        ).cast("long")
    )


def _substr_spans(flagged: DataFrame, W: int) -> DataFrame:
    """Per-doc span merge over FLAGGED (doc, n_tokens, pos) rows — a
    small fraction of the corpus — with the gaps-and-islands fold run
    in-row by a codegen ``aggregate`` over the sorted position list (no
    second corpus-wide window sort)."""
    per = flagged.groupBy("doc").agg(
        F.min("n_tokens").alias("n_tokens"),
        F.sort_array(F.collect_list("pos")).alias("ps"),
    )
    # gaps-and-islands in-row: fold sorted window starts into maximal
    # half-open token spans [s, e). CASE branches evaluate lazily, so
    # element_at(acc, -1) never runs on the empty accumulator (ANSI-safe)
    spans = F.expr(
        f"""aggregate(ps, CAST(array() AS array<struct<s:int,e:int>>),
      (acc, p) -> CASE
        WHEN size(acc) = 0
          THEN array(named_struct('s', p, 'e', p + {W}))
        WHEN p > element_at(acc, -1).e
          THEN concat(acc, array(named_struct('s', p, 'e', p + {W})))
        ELSE concat(
          slice(acc, 1, size(acc) - 1),
          array(named_struct(
            's', element_at(acc, -1).s,
            'e', greatest(element_at(acc, -1).e, p + {W}))))
      END)"""
    )
    return per.select("doc", "n_tokens", spans.alias("spans")).select(
        "doc",
        "n_tokens",
        "spans",
        F.size("spans").cast("long").alias("n_spans"),
        F.expr(
            "aggregate(spans, 0L, (a, x) -> a + CAST(x.e - x.s AS BIGINT))"
        ).alias("removed_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.col("spans"),
                    lambda x: F.concat(
                        x["s"].cast("string"),
                        F.lit(":"),
                        x["e"].cast("string"),
                    ),
                ),
                ",",
            ).cast("binary")
        ).alias("span_digest"),
    )


def exact_substring_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 16,
    pos_bits: int = 21,
) -> DataFrame:
    """The stored window-digest index of a historical corpus: ONE row
    per distinct W-token window digest, (wh, c_hist, keep_hist) =
    occurrence count + first-occurrence packed (doc,pos) code. This is
    ln2's corpus shuffle SAVED instead of thrown away — the maintenance
    artifact the round-7 verdict asked for (nd1/st13/xm1's discipline
    applied to ExactSubstr): build once over 100 TB, then every ingest
    batch probes it without re-touching history. Every digest is kept
    (count 1 included): a single historical occurrence plus one batch
    occurrence IS a duplicate."""
    wins = _substr_windows(df, text_col, id_col, int(min_len))
    return wins.groupBy("wh").agg(
        F.count(F.lit(1)).alias("c_hist"),
        F.min(_guarded_code(pos_bits)).alias("keep_hist"),
    )


def exact_substring_probe(
    index: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 16,
    pos_bits: int = 21,
    batch_internal: bool = True,
) -> DataFrame:
    """Incremental ExactSubstr probe: spans in BATCH documents that
    duplicate the indexed history — without re-scanning history.

    ``batch_internal=True`` (the batch mode, ln4): also counts repeats
    WITHIN the batch, merging batch-local (count, min-code) aggregates
    with the index's, so the result EQUALS a fresh keep-first
    ``exact_substring_dedup`` over history UNION batch restricted to
    batch docs (the oracle identity the driver checks).

    ``batch_internal=False`` (the streaming mode, st14): flags only
    (a) windows present in the index (every batch occurrence removed —
    history precedes the batch in keep-first order by definition of
    ingest) and (b) repeats within one document (non-first removed).
    Each doc's result is then a pure function of (doc, index) — no
    cross-doc batch state — so a microbatch split CANNOT change the
    answer (st13's replay-safe discipline); cross-doc batch-internal
    duplicates are caught by the next index compaction, exactly as in
    the minhash maintenance loop.

    Plan (100 TB shape): batch windows are built in-row and aggregated
    batch-locally (tiny); the single big operation is the equi-join of
    the batch digest set against the stored index on wh — in
    production the index table is bucketed by wh, making the probe a
    co-located join that never shuffles history."""
    W = int(min_len)
    wins = _substr_windows(batch, text_col, id_col, W)
    code = _guarded_code(pos_bits)
    if batch_internal:
        bagg = wins.groupBy("wh").agg(
            F.count(F.lit(1)).alias("c_b"),
            F.min(code).alias("keep_b"),
        )
        m = bagg.join(index, "wh", "left")
        total = F.col("c_b") + F.coalesce(F.col("c_hist"), F.lit(0))
        keeper = F.least(
            F.col("keep_b"),
            F.coalesce(F.col("keep_hist"), F.lit((1 << 63) - 1)),
        )
        dup = m.filter(total >= 2).select("wh", keeper.alias("keep_code"))
        flagged = (
            wins.join(dup, "wh")
            .filter(code != F.col("keep_code"))
            .select("doc", "n_tokens", "pos")
        )
    else:
        # per-doc first occurrence of each window, batch-local in ONE
        # (doc, wh) aggregate — no cross-doc state
        firsts = wins.groupBy("doc", "wh").agg(
            F.min("pos").alias("first_pos")
        )
        j = wins.join(firsts, ["doc", "wh"]).join(
            index.select("wh", "c_hist"), "wh", "left"
        )
        flagged = j.filter(
            (F.col("c_hist").isNotNull())
            | (F.col("pos") != F.col("first_pos"))
        ).select("doc", "n_tokens", "pos")
    return _substr_spans(flagged, W)


def banded_index_grouped(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    use_small_vocab: bool = True,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """(sig_i, band, digest, cnt_i) — the banded LSH index collapsed to
    DISTINCT signatures with per-signature doc counts: the stored
    probe-side form (round 7). est_sim is a pure function of the
    signature pair, so identical-signature docs (the common case in a
    dup-heavy corpus — 2.6x on the synthetic one) collapse once here
    instead of multiplying every probe's candidate join. ``sigs``:
    optional precomputed signature frame (see ``minhash_lsh_pairs``)."""
    return (
        minhash_banded(
            docs, "i", text_col, id_col, num_hashes, bands, use_small_vocab,
            sigs=sigs,
        )
        .groupBy("sig_i", "band", "digest")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt_i"))
    )


def minhash_probe_census(
    index_grouped: DataFrame,
    batch_sigs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """(batch_doc, n_matches, max_est_sim, is_novel) for EVERY batch
    doc — the census form of ``minhash_index_probe``, run at
    DISTINCT-SIGNATURE granularity against a ``banded_index_grouped``
    index. Exact: each (sig_b, sig_i) pair still emits at its first
    matching band; n_matches recovers per-doc index counts as
    sum(cnt_i); batch docs re-expand through a signature join.
    Measured at sf0.1: candidate rows 1.82M -> ~0.4M per probe on the
    degenerate 31-word corpus (st13's round-7 profile). ``batch_sigs``
    is ``minhash_signatures()`` output (doc, sig) and is consumed by
    BOTH the distinct pass and the re-expansion join — persist or
    eager-checkpoint it at the caller."""
    rpb = num_hashes // bands
    bgb = batch_sigs.select("sig").distinct().select(
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(F.lit(bi), F.slice("sig", bi * rpb + 1, rpb))
                    for bi in range(bands)
                ]
            )
        ).alias("band", "digest"),
    )
    j = bgb.join(index_grouped, ["band", "digest"])
    earlier = None
    for bi in range(bands - 1):
        eq = (F.col("band") > bi) & (
            F.slice("sig", bi * rpb + 1, rpb)
            == F.slice("sig_i", bi * rpb + 1, rpb)
        )
        earlier = eq if earlier is None else (earlier | eq)
    if earlier is None:
        earlier = F.lit(False)
    matches = None
    for i in range(1, num_hashes + 1):
        m = (F.element_at("sig", i) == F.element_at("sig_i", i)).cast("int")
        matches = m if matches is None else matches + m
    per_sig = (
        j.filter(~earlier)
        .withColumn("est_sim", matches / F.lit(float(num_hashes)))
        .filter(F.col("est_sim") >= threshold)
        .groupBy("sig")
        .agg(
            F.sum("cnt_i").cast("long").alias("n_matches"),
            F.max("est_sim").alias("max_est_sim"),
        )
    )
    return batch_sigs.join(per_sig, "sig", "left").select(
        F.col("doc").alias("batch_doc"),
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        F.coalesce("max_est_sim", F.lit(0.0)).alias("max_est_sim"),
        F.col("n_matches").isNull().cast("int").alias("is_novel"),
    )
