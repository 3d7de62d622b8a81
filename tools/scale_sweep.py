"""Scale sweep: headline queries at sf0.1 vs a generated 10x replica.

The sf0.1 bench cannot surface driver-side or skew cliffs, so this tool
(a) materializes a deterministic 10x scale-up of the fact tables
(documents, embeddings, events, lineitem, orders — dims stay 1x, the
realistic shape), (b) runs the 15 headline queries at both scales, and
(c) asserts

  * wall-time grows at most ~linearly (ratio <= SCALE_FACTOR * SLACK), and
  * the physical plan is EXCHANGE-STABLE: the number of shuffle
    exchanges in the pre-execution plan is identical at both scales
    (a plan that adds exchanges as data grows re-plans itself into
    extra shuffles at 100 TB).

Shared tables (operators/materialize.shared_table) are memoized per
(session, sf_dir), so each scale builds its own. A query's time at a
scale is its timed call plus the seconds its untimed warm-up call added
to materialize.BUILD_LOG: the growth ratio charges the shared builds,
each to the first headline query that needs it. Before that, one call
over a symlinked alias of the small data JIT-compiles the query's code
paths; the memo is keyed by path, so it stays cold for the charged
calls, and the small scale does not pay first-use compile time in its
build seconds when the big scale does not. The plan is counted
inside operators.barrier.no_barriers(), so shared builds and
localCheckpoint barriers stay inline and their exchanges are counted.

Scale-up construction — the part that makes the sweep honest:
a naive 10x row copy would make every document an exact 10-way
duplicate, turning dedup/similarity outputs QUADRATIC by construction
(each near-dup cluster of size k becomes 10k -> 100x the pairs) and
the sweep meaningless. Instead each copy i is an isomorphic but
cross-copy-disjoint world:

  * all keys (doc_id, vec_id, event_id, user_id, o_orderkey,
    l_orderkey) shift by i * STRIDE — no cross-copy key collisions;
  * document text gets a per-copy suffix on every alphanumeric token
    (copy 0 = original): within-copy shingle/gram structure is
    isomorphic to the original, cross-copy Jaccard ~ 0;
  * embeddings get a per-copy deterministic SIGN-FLIP pattern plus a
    circular roll: within-copy dot/cosine geometry is EXACTLY preserved
    (s_k^2 = 1 and permutation invariance), while cross-copy similarity
    collapses to ~1/sqrt(d). A roll alone was NOT enough — corpus
    vectors share per-dimension structure, so roll(x, i) vs roll(x, j)
    kept high autocorrelation and the near-dup graph densified
    QUADRATICALLY across copies (sim3's true-pair count grew 100x,
    which is what round 3's first sweep flagged on tc1);
  * timestamps/values stay as-is: event-time density grows 10x, which
    is precisely the state-pressure a streaming operator must absorb.

Output: BENCH_SCALE.json at the repo root. Run:
    python tools/scale_sweep.py [--regen] [query ...]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SMALL = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default 10x; --factor 100 materializes a ~2 GB replica (fits /dev/shm)
# and stresses two extra orders of magnitude — the "would this survive a
# 100x scale-up" question asked directly
SCALE_FACTOR = int(os.environ.get("SPARK_GRAFT_SCALE_FACTOR", "10"))
# linear growth + generous constant-overhead slack; a quadratic operator
# would land at ~SCALE_FACTOR^2 and fail loudly
RATIO_MAX = SCALE_FACTOR * 1.5
_SHM = "/dev/shm" if os.access("/dev/shm", os.W_OK) else "/tmp"
BIG = os.path.join(_SHM, "aristoteles_scale", f"sf1x{SCALE_FACTOR}")
STRIDE = 100_000_000

HEADLINE = [
    "dd4_minhash_lsh_pairs",
    "dd7_dup_clusters",
    "dd10_containment",
    "sim2_knn_lsh",
    "sim4_knn_ivf",
    "ct2_bloom_decontamination",
    "gr1_khop_bfs",
    "gr2_pagerank",
    "p8_leakage_free_split",
    "tx6_tfidf_top_terms",
    "st4_stream_stream_join",
    "st10_stream_left_outer",
    "iv1_interval_coalesce",
    "uf4_grouped_map_deltas",
    "io4_bucketed_join",
    # late round-3 additions with corpus-wide joins/iteration
    "km2_kmeans_lloyd",
    "pq1_product_quantize",
    "ir3_inverted_index",
    "nd1_incremental_neardup",
    "qc1_quality_classifier",
    "tx14_bpe_encode",
    "sk5_hll_distinct",
    # round-3 curation additions: cluster-window join, broadcast-fold
    # scoring, and regexp-chain census
    "sd1_semdedup",
    "ds1_dsir_select",
    "url1_url_canonicalize",
    "sk6_kmv_per_group",
    "dr1_distribution_drift",
    "qr1_gopher_rules",
]

_DIMS = ["region", "nation", "customer", "supplier", "part"]

# Queries whose measured ratio legitimately exceeds RATIO_MAX, each with
# the verified reason; they report linear_ok=True plus the note (an
# unexplained exceedance still fails).
KNOWN_BENIGN = {
    "dd3_jaccard_pairs": (
        "candidate-proportional, not superlinear: the 31-token synthetic "
        "vocabulary makes EVERY pair of docs share tokens, so the "
        "prefix-blocked candidate stream is dense by corpus construction "
        "(real Zipfian vocabularies block far harder); within the "
        "set-AllPairs strategy growth tracks the true candidate count, "
        "and the verify is an inline popcount, never a shuffle."
    ),
    "uf2_udtf_chunks": (
        "output-proportional: the replica's token suffixes lengthen "
        "documents ~25%, so chunk rows grow 12.7x rather than 10x; "
        "per-output-row cost is flat."
    ),
    "sim1_knn_brute": (
        "quadratic by design: the documented brute-force baseline the "
        "LSH (sim2) and IVF (sim4) scale paths are judged against."
    ),
}

# Queries whose EXCHANGE COUNT legitimately differs across scales
# because a documented adaptive strategy flips (both strategies are
# tested equivalent); an unexplained exchange change still fails.
KNOWN_STRATEGY_SWITCH = {
    "dd3_jaccard_pairs": (
        "adaptive set-pair strategy inside the bitset plan: sf0.1/10x "
        "stay under the 65536 distinct-set cap and take the all-pairs "
        "popcount compare; the 100x replica (393k distinct sets) takes "
        "the AllPairs prefix equi-join emitting narrow sid pairs, "
        "verified against the broadcast distinct-set dictionary in an "
        "Arrow kernel (round 5, SURVEY 8.11). Measured 100x: 378 s, "
        "ratio 91.5, exchanges stable. Equivalence is pytest-pinned "
        "(test_set_prefix_path_matches_set_allpairs)."
    ),
    "dd4_minhash_lsh_pairs": (
        "adaptive pair-generation strategy: sf0.1 collapses to ~1.9k "
        "distinct signatures (<= the 4096 all-pairs cap) and takes the "
        "broadcast nested-loop compare (28 exchanges, evenly spread "
        "u^2/2 in-row work); the 10x/100x replicas have 23k/220k "
        "distinct sigs and take the banded equi-join whose scored pair "
        "stream is persisted as the stage barrier (40 exchanges). "
        "Equivalence is pytest-pinned "
        "(test_banded_equijoin_matches_allpairs); within the banded "
        "strategy growth is linear: 23.7s at 10x -> 179.4s at 100x "
        "(7.6x wall on 10x data between the rungs, pair rows exactly "
        "10x)."
    ),
    "dd12_lsh_quality": (
        "inherits dd4's adaptive pair-generation flip on its candidate "
        "side (all-pairs below 4096 distinct signatures, banded "
        "equi-join with the persisted pair barrier above — equivalence "
        "pytest-pinned); the exact-truth side is bounded to a fixed "
        "LSHQ_SAMPLE so its cost is constant in corpus size."
    ),
    "dd7_dup_clusters": (
        "adaptive CC strategy: the contracted edge set fits the 250k "
        "driver union-find guard at the small scale (2 exchanges) and "
        "takes the distributed label-propagation loop above it "
        "(operators/graph.py:143); equivalence is pytest-pinned and "
        "the 100x ratio (10.9x on 100x data) shows the distributed "
        "path is the sublinear one."
    ),
    "p8_leakage_free_split": (
        "inherits dd7's adaptive CC strategy flip: the split is keyed "
        "by near-dup cluster labels from the same connected_components "
        "operator, whose contracted edge set fits the 250k driver "
        "union-find guard at the small scale and takes the distributed "
        "label-propagation loop (more exchanges) above it — equivalence "
        "pytest-pinned on dd7; p8's own aggregation after the labeling "
        "is one tiny-key partial-agg shuffle at every scale."
    ),
}


def generate(force: bool = False) -> str:
    marker = os.path.join(BIG, ".complete")
    if os.path.exists(marker) and not force:
        return BIG
    import shutil

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(BIG, exist_ok=True)
    if os.path.exists(marker):
        os.remove(marker)
    con = duckdb.connect()
    copies = f"(SELECT unnest(range({SCALE_FACTOR})) AS i) c"

    def emit(name: str, sql: str) -> None:
        out = os.path.join(BIG, f"{name}.parquet")
        con.execute(
            f"COPY ({sql}) TO '{out}' (FORMAT PARQUET, COMPRESSION SNAPPY)"
        )

    for d in _DIMS:  # dims stay 1x
        shutil.copy(os.path.join(SMALL, f"{d}.parquet"),
                    os.path.join(BIG, f"{d}.parquet"))

    ev = os.path.join(SMALL, "events.parquet")
    emit(
        "events",
        f"""
        SELECT event_id + c.i * {STRIDE} AS event_id, ts,
               user_id + c.i * {STRIDE} AS user_id,
               event_type, value,
               props
        FROM read_parquet('{ev}'), {copies}
        ORDER BY c.i, event_id
        """,
    )

    doc = os.path.join(SMALL, "documents.parquet")
    emit(
        "documents",
        f"""
        SELECT doc_id + c.i * {STRIDE} AS doc_id,
               CASE WHEN c.i = 0 THEN text
                    ELSE regexp_replace(text, '([A-Za-z0-9]+)',
                                        '\\1x' || c.i::VARCHAR, 'g')
               END AS text,
               lang, source,
               CAST(length(CASE WHEN c.i = 0 THEN text
                    ELSE regexp_replace(text, '([A-Za-z0-9]+)',
                                        '\\1x' || c.i::VARCHAR, 'g')
               END) AS BIGINT) AS n_chars
        FROM read_parquet('{doc}'), {copies}
        ORDER BY c.i, doc_id
        """,
    )

    lt = os.path.join(SMALL, "lineitem.parquet")
    emit(
        "lineitem",
        f"""
        SELECT l_orderkey + c.i * {STRIDE} AS l_orderkey,
               l_partkey, l_suppkey, l_linenumber, l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag,
               l_linestatus, l_shipdate
        FROM read_parquet('{lt}'), {copies}
        ORDER BY c.i, l_orderkey, l_linenumber
        """,
    )

    od = os.path.join(SMALL, "orders.parquet")
    emit(
        "orders",
        f"""
        SELECT o_orderkey + c.i * {STRIDE} AS o_orderkey,
               o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority
        FROM read_parquet('{od}'), {copies}
        ORDER BY c.i, o_orderkey
        """,
    )
    con.close()

    # embeddings: numpy sign-flip + roll per copy (duckdb list ops can't
    # express an exact float32-preserving transform tersely)
    t = pq.read_table(os.path.join(SMALL, "embeddings.parquet"))
    vec = np.asarray(t.column("embedding").to_pylist(), dtype=np.float32)
    ids = t.column("vec_id").to_numpy()
    labels = t.column("label").to_numpy()
    dim = vec.shape[1]
    sign_rng = np.random.default_rng(20260814)  # fixed seed: deterministic
    parts = []
    for i in range(SCALE_FACTOR):
        if i == 0:
            v_i = vec  # copy 0 stays byte-identical to the original
        else:
            signs = sign_rng.choice(
                np.array([-1.0, 1.0], dtype=np.float32), size=dim
            )
            v_i = (np.roll(vec, i, axis=1) * signs).astype(np.float32)
        parts.append(
            pa.table(
                {
                    "vec_id": pa.array(ids + i * STRIDE, pa.int64()),
                    "embedding": pa.array(
                        list(v_i), pa.list_(pa.float32())
                    ),
                    "label": pa.array(labels, pa.int32()),
                }
            )
        )
    pq.write_table(
        pa.concat_tables(parts), os.path.join(BIG, "embeddings.parquet")
    )

    open(marker, "w").write("ok\n")
    return BIG


def _explain(df) -> str:
    """``df.explain("formatted")`` as a string."""
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _plan_counts(fn, spark, sf_dir: str) -> tuple[int, int, int]:
    """(exchanges, broadcast hash joins, sort-merge joins) in the
    pre-execution strategy plan of ``fn`` at ``sf_dir``."""
    from aristoteles_spark.operators.barrier import no_barriers

    with no_barriers():
        s = _explain(fn(spark, sf_dir))
    return (
        len(re.findall(r"\bExchange\b", s)),
        len(re.findall(r"BroadcastHashJoin", s)),
        len(re.findall(r"SortMergeJoin", s)),
    )


def _small_alias() -> str:
    """A second path to SMALL's data, next to the big replica."""
    alias = os.path.join(os.path.dirname(BIG), "small_alias")
    target = os.path.abspath(SMALL)
    if os.path.islink(alias) and os.readlink(alias) != target:
        os.remove(alias)
    if not os.path.lexists(alias):
        os.symlink(target, alias)
    return alias


def _charged_run(fn, spark, sf_dir: str) -> tuple[float, int]:
    """(seconds, rows) of one timed call of ``fn`` at ``sf_dir``, plus
    the shared-table build seconds its untimed warm-up call (builds,
    broadcast paths, file caches) added to BUILD_LOG."""
    from aristoteles_spark.operators.materialize import BUILD_LOG

    logged = sum(BUILD_LOG.values())
    fn(spark, sf_dir).collect()
    build_s = sum(BUILD_LOG.values()) - logged
    t0 = time.time()
    rows = len(fn(spark, sf_dir).collect())
    return time.time() - t0 + build_s, rows


def _demotion_note(small: tuple[int, int, int], big: tuple[int, int, int]):
    """Recognize the one exchange-count change that is CORRECT at scale:
    the static planner demoting broadcast hash joins to sort-merge joins
    because the build side outgrew autoBroadcastJoinThreshold (each
    demoted join adds up to 2 shuffle exchanges). Broadcasting a side
    that grows with the data would be the actual 100 TB bug, so this
    flip is evidence the plan adapts the right way — verified round 5 on
    h8/h9/j6/j9/j10/wb5: BHJ count drop exactly equals SMJ count rise
    and the exchange delta stays within 2 per demoted join. Any other
    exchange instability still fails."""
    ex_s, bhj_s, smj_s = small
    ex_b, bhj_b, smj_b = big
    demoted = bhj_s - bhj_b
    if demoted > 0 and smj_b - smj_s == demoted and 0 < ex_b - ex_s <= 2 * demoted:
        return (
            f"{demoted} broadcast hash join(s) demoted to sort-merge at "
            f"the big scale (build side outgrew "
            f"autoBroadcastJoinThreshold): BHJ {bhj_s}->{bhj_b}, "
            f"SMJ {smj_s}->{smj_b}, exchanges {ex_s}->{ex_b} — the "
            f"correct planner adaptation at scale."
        )
    return None


def main() -> int:
    global SCALE_FACTOR, RATIO_MAX, BIG
    ap = argparse.ArgumentParser()
    ap.add_argument("--regen", action="store_true")
    ap.add_argument("--factor", type=int, default=SCALE_FACTOR)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    SCALE_FACTOR = args.factor
    RATIO_MAX = SCALE_FACTOR * 1.5
    BIG = os.path.join(_SHM, "aristoteles_scale", f"sf1x{SCALE_FACTOR}")

    names = args.names or HEADLINE
    big = generate(force=args.regen)
    print(f"scaled data at {big}")

    import __spark_entry__ as entrymod
    from aristoteles_spark.session import get_spark, host_driver_mem

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", host_driver_mem())
    os.environ.setdefault("SPARK_GRAFT_PERIODIC_GC", "12h")

    spark = get_spark("scale_sweep")
    qs = entrymod.queries()
    warm_dir = _small_alias()

    results: dict[str, dict] = {}
    n_bad = 0

    def _flush() -> None:
        # write after EVERY query: a multi-hour sweep interrupted at
        # query 30 keeps 29 results instead of losing the whole run
        _write_results(results)

    for name in names:
        fn = qs[name]
        fn(spark, warm_dir).collect()
        t_small, rows_s = _charged_run(fn, spark, SMALL)
        counts_small = _plan_counts(fn, spark, SMALL)
        ex_small = counts_small[0]

        t_big, rows_b = _charged_run(fn, spark, big)
        counts_big = _plan_counts(fn, spark, big)
        ex_big = counts_big[0]

        ratio = t_big / max(t_small, 1e-9)
        benign = KNOWN_BENIGN.get(name)
        switch = KNOWN_STRATEGY_SWITCH.get(name)
        demotion = (
            _demotion_note(counts_small, counts_big)
            if ex_big != ex_small
            else None
        )
        linear_ok = ratio <= RATIO_MAX or benign is not None
        exchange_ok = ex_big == ex_small or switch is not None or demotion is not None
        ok = linear_ok and exchange_ok
        n_bad += 0 if ok else 1
        results[name] = {
            "t_small_sec": round(t_small, 3),
            "t_big_sec": round(t_big, 3),
            "ratio": round(ratio, 2),
            "rows_small": rows_s,
            "rows_big": rows_b,
            "exchanges_small": ex_small,
            "exchanges_big": ex_big,
            "linear_ok": linear_ok,
            "exchange_stable": exchange_ok,
        }
        if benign is not None and ratio > RATIO_MAX:
            results[name]["benign_note"] = benign
        if switch is not None and ex_big != ex_small:
            results[name]["strategy_switch_note"] = switch
        elif demotion is not None:
            results[name]["strategy_switch_note"] = demotion
        flag = "ok " if ok else "BAD"
        print(
            f"{flag} {name}: {t_small:.2f}s -> {t_big:.2f}s "
            f"(x{ratio:.1f}, exch {ex_small}->{ex_big}, "
            f"rows {rows_s}->{rows_b})"
        )
        _flush()

    print(json.dumps({"scale_sweep_bad": n_bad}))
    return 1 if n_bad else 0


def _write_results(results: dict[str, dict]) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # one evidence file per factor: the 10x full-suite sweep lives in
    # BENCH_SCALE.json; larger factors (e.g. --factor 100) get their own
    # file so a headline-only rerun never clobbers the full-suite record
    suffix = "" if SCALE_FACTOR == 10 else str(SCALE_FACTOR)
    out_path = os.path.join(root, f"BENCH_SCALE{suffix}.json")
    # merge with prior sweeps: a partial re-run (after fixing one query)
    # must not discard the other queries' evidence
    merged: dict[str, dict] = {}
    try:
        with open(out_path) as f:
            prior = json.load(f)
        if prior.get("scale_factor") == SCALE_FACTOR:
            merged.update(prior.get("queries", {}))
    except (OSError, ValueError):
        pass
    merged.update(results)
    out = {
        "metric": "scale_sweep",
        "scale_factor": SCALE_FACTOR,
        "ratio_max": RATIO_MAX,
        "small": SMALL,
        "big": BIG,
        "queries": merged,
        "n_bad": sum(
            1
            for r in merged.values()
            if not (r["linear_ok"] and r["exchange_stable"])
        ),
    }
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    os.replace(tmp, out_path)  # atomic: a reader never sees a torn file


if __name__ == "__main__":
    sys.exit(main())
