"""Declared query inventory: each module exports QUERIES (name ->
callable(spark, sf_dir) -> DataFrame) and ORACLE (name -> duckdb SQL).

Every SURVEY.md §2 operator has an entry here; __spark_entry__.py merges
the dicts for the driver's correctness gate.

Determinism rules (so Spark and duckdb value-hashes agree exactly):
- double SUMs go through DECIMAL casts (order-independent, exact);
- AVGs are computed as CAST(decimal_sum AS DOUBLE) / count — a single
  deterministic double division, no engine-rounding in play;
- every computed column is aliased identically on both sides;
- any LIMIT is preceded by a total ORDER BY on a unique key
  (tests/test_oracle_limits.py fails on any tie at the cut).
"""

from __future__ import annotations

from importlib import import_module

_MODULES = [
    "dedup",
    "similarity",
    "text",
    "multimodal",
    "streaming",
    "temporal",
    "analytics",
    "arrays",
    "versioning",
    "udfs",
    "windows",
    "maintenance",
    "relational",
    "tpch_shapes",
    "io_formats",
    "retrieval",
    "web",
    "clustering",
    "quality",
    "release",
    "importance",
]

# Declaration order matters: the driver's correctness gate checks the
# FIRST ~50 entries of queries() each round. The order is computed from
# the driver's own CORRECTNESS_r*.json history (_history_order below):
# queries whose LAST driver check failed come first (re-checks flip
# reds), then never-driver-checked queries (new coverage), then green
# ones stalest-first (rotating re-verification). Ties keep the
# _PRIORITY/declaration order. _PRIORITY is the round-2 hand seeding
# (16 re-typed round-1 reds, then the never-checked LLM-pipeline
# families) and the fallback when no history file exists.
_PRIORITY = [
    # round-3 seed: pull the ENTIRE multimodal family into the round-3
    # window (VERDICT r2 item 7 — don't strand mm* at the tail)
    "mm1_binary_stats", "mm2_decode_features", "mm3_frame_sample",
    "mm4_perceptual_buckets", "mm5_resize", "mm6_real_codec",
    "mm7_real_resize", "mm8_real_audio", "mm9_real_video",
    "mm10_real_jpeg", "mm11_real_gif", "mm12_real_tiff",
    "io8_webdataset_tar",  # changed this round — must be re-proven
    # round-1 red rows, re-typed — must re-enter the check window
    "j1_join_agg", "g1_pricing_summary", "j5_multi_join_topk",
    "j6_star_join", "j9_large_orders", "h6_forecast_revenue",
    "h7_nation_volume", "h8_market_share", "h9_profit",
    "h10_returned_items", "h11_important_parts", "h12_late_shipments",
    "h15_top_supplier", "h19_disjunctive", "wf3_running_sum",
    "wb1_tumbling_hour",
    # never-driver-checked LLM-pipeline families (34 slots)
    "dd1_exact_groups", "dd2_normalized_groups", "dd3_jaccard_pairs",
    "dd4_minhash_lsh_pairs", "dd5_simhash_sketches", "dd6_simhash_pairs",
    "dd7_dup_clusters", "dd8_repetition_scrub",
    "dd9_cluster_representatives", "fz1_fuzzy_name_match",
    "sim1_knn_brute", "sim2_knn_lsh", "sim3_neardup_pairs",
    "sim4_knn_ivf", "sim5_semantic_clusters",
    "tx1_token_stats", "tx2_quality", "tx3_langid", "tx4_fingerprint",
    "tx5_regex_features", "tx6_tfidf_top_terms", "tx7_bpe_token_count",
    "ct1_contamination", "pk1_sequence_packing", "cp1_curation_pipeline",
    "st1_stream_hourly", "st2_stream_user_totals", "st3_stream_dedup",
    "st4_stream_stream_join", "st5_stream_sessions",
    "st6_stream_sink_parquet", "st7_stream_static_join",
    "at1_asof_join", "at2_interval_join",
]


def _stable_output_types(fn):
    """Terminal cast of any DECIMAL output column to DOUBLE, and of any
    container-typed (array/map/struct) output column to its JSON string.

    DECIMAL: internal accumulation stays decimal (order-independent,
    exact); only the final schema changes. Round 1 showed the driver
    canonicalizes the oracle side through a float path (pandas:
    DECIMAL -> float64), so a Spark DECIMAL output ("1400362.00")
    hash-mismatches a numerically identical oracle value ("1400362.0").
    Every oracle SQL correspondingly wraps its decimal outputs in
    CAST(... AS DOUBLE), making both sides bit-identical float64.

    Containers: round 3 showed the driver's canonicalizer (pandas
    lexsort over all columns) raises ``TypeError: unhashable type:
    'list'`` on any array-valued column (ar2/g8 reds). Terminal
    ``to_json`` turns the container into a deterministic string —
    verified byte-identical between Spark's ``to_json`` and duckdb's
    ``CAST(to_json(...) AS VARCHAR)`` for int/bigint/string arrays,
    including empty arrays, embedded nulls, and NULL containers. The
    matching oracles wrap the same column in to_json. Both casts are
    applied here, at the registry, so no individual query can forget.
    """

    def wrapped(spark, sf_dir):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = fn(spark, sf_dir)
        container = (T.ArrayType, T.MapType, T.StructType)
        if any(
            isinstance(f.dataType, (T.DecimalType, *container))
            for f in df.schema.fields
        ):
            def _out(f):
                if isinstance(f.dataType, T.DecimalType):
                    return F.col(f.name).cast("double").alias(f.name)
                if isinstance(f.dataType, container):
                    return F.to_json(F.col(f.name)).alias(f.name)
                return F.col(f.name)

            df = df.select(*[_out(f) for f in df.schema.fields])
        return df

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def _history_order(names: list[str]) -> list[str]:
    """Order by driver-verification history (CORRECTNESS_r*.json at the
    repo root): last-check-failed first, never-checked second, green
    last (stalest round first). Deterministic; falls back to the seeded
    _PRIORITY order when no history is readable."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    last: dict[str, tuple[int, bool]] = {}  # name -> (round, green)
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict):
                continue
            green = bool(
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match", True)
            )
            prev = last.get(name)
            if prev is None or rnd >= prev[0]:
                last[name] = (rnd, green)

    seed = {n: i for i, n in enumerate(_PRIORITY)}

    def key(n: str):
        rec = last.get(n)
        if rec is not None and not rec[1]:
            cls, rnd = 0, rec[0]  # failed last check: re-verify first
        elif rec is None:
            cls, rnd = 1, 0      # never driver-checked
        else:
            cls, rnd = 2, rec[0]  # green: stalest first
        # final tie-break on the NAME (not dict position) so queries()
        # and oracle_sql() order identically even though the module
        # QUERIES/ORACLE dicts declare entries in different orders
        return (cls, rnd, seed.get(n, len(seed)), n)

    return sorted(names, key=key)


def _ordered(d: dict) -> dict:
    return {n: d[n] for n in _history_order(list(d))}


def all_queries() -> dict:
    out = {}
    for m in _MODULES:
        mod = import_module(f"aristoteles_spark.queries.{m}")
        for name, fn in mod.QUERIES.items():
            out[name] = _stable_output_types(fn)
    return _ordered(out)


def all_oracle_sql() -> dict[str, str]:
    out = {}
    for m in _MODULES:
        out.update(import_module(f"aristoteles_spark.queries.{m}").ORACLE)
    return _ordered(out)
