"""Physical-plan properties the design depends on: pushed filters, pruned
scans, map-side partial aggregates, broadcasts, partial top-k and no
Python in the hot path.

Each declared query below is built at sf0.001 inside
``operators.barrier.no_barriers()``, so localCheckpoint barriers and the
shared-table memo stay inline and the explained plan is the strategy
plan a barrier would materialize. Only ``explain("formatted")`` runs;
nothing is collected. A ``!``-prefixed pattern is a property that must
be absent (e.g. zero-shuffle claims assert the absence of any
Exchange).
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest

from tests.conftest import SF_SMOKE

# query -> [(regex, why it must appear)]
EXPECTATIONS: dict[str, list[tuple[str, str]]] = {
    "p1_projection": [
        (r"ReadSchema: [^\n]*l_orderkey", "scan reads only projected columns"),
    ],
    "p2_range_count": [
        (r"PushedFilters: \[.*GreaterThanOrEqual|PushedFilters: \[.*Between", "range predicate pushed to parquet"),
        (r"HashAggregate", "count compiles to hash aggregate"),
    ],
    "j1_join_agg": [
        (r"BroadcastHashJoin", "small dims broadcast — fact side never shuffled for the join"),
    ],
    "g1_pricing_summary": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "partial (map-side) agg before the shuffle"),
        (r"PushedFilters: \[IsNotNull\(l_shipdate\), LessThanOrEqual", "date filter pushed to scan"),
    ],
    "sim1_knn_brute": [
        (r"BroadcastNestedLoopJoin", "query side broadcast; corpus scanned once"),
        (r"WindowGroupLimit", "rank<=k pushed into partial (map-side) top-k"),
    ],
    "wf4_dense_rank": [
        (r"BroadcastHashJoin", "rank table broadcast back — no global-window single partition"),
    ],
    "dd4_minhash_lsh_pairs": [
        (r"InMemoryTableScan", "signatures persisted — tokenize+hash subtree computed once"),
        (r"BroadcastNestedLoopJoin", "distinct signatures compared all-pairs with the small side broadcast"),
    ],
    "fp1_winnowing_fps": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "fingerprint doc-frequency is a partial-agged groupBy on the selected hashes (~grams/W rows), never pairs"),
        (r"ReadSchema: struct<doc_id:bigint,text:string>", "scan reads only id+text"),
    ],
    "ln2_substring_dedup": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "first-occurrence min is a PARTIAL hash agg (packed bigint key, no SortAggregate) before the one corpus shuffle"),
        (r"(?s)ObjectHashAggregate.*Exchange.*ObjectHashAggregate", "per-doc span fold collects flagged positions with map-side partial collect_list"),
        (r"ReadSchema: struct<doc_id:bigint,text:string>", "scan reads only id+text"),
    ],
    "sd2_text_embed_neardup": [
        (r"InMemoryTableScan", "embedding/norm/band frame persisted — featurization computed once for all four bands"),
        (r"(?s)Window.*Sort.*Exchange", "sorted-neighborhood via lead() over (band, digest) — candidate mass is bands x n, no bucket self-join"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "cross-band pair dedup is a partial-agged groupBy"),
    ],
    "dd3_jaccard_pairs": [
        (r"BroadcastNestedLoopJoin", "distinct bitsets compared all-pairs, popcount in codegen, no inverted-index shuffle"),
        (r"InMemoryTableScan", "membership persisted — tokenize+encode computed once"),
    ],
    "at1_asof_join": [
        (r"(?s)Union.*Window", "as-of via union + running window, no range-join explosion"),
    ],
    "iv1_interval_coalesce": [
        (r"(?s)HashAggregate.*Window.*Window.*Exchange",
         "both windows and the island rollup sit above ONE data exchange"),
        (r"Arguments: hashpartitioning\(user_id#\d+L?, \d+\)",
         "the single data shuffle is on user_id"),
        (r"!hashpartitioning\([^)]*island",
         "groupBy(user_id, island) reuses the window partitioning — no re-shuffle"),
    ],
    "sc1_scd2_history": [
        (r"(?s)Window.*Window.*Exchange",
         "lag-filter and lead/row_number share one shuffle + sort"),
        (r"Arguments: hashpartitioning\(user_id#\d+L?, \d+\)",
         "that shuffle is on user_id"),
    ],
    "cd3_apply_changelog": [
        (r"(?s)SortAggregate.*Exchange.*SortAggregate",
         "map-side partial aggregate before the single user_id shuffle"),
        (r"Arguments: hashpartitioning\(user_id#\d+L?, \d+\)",
         "the aggregate shuffle is on user_id"),
        (r"!\(\d+\) Window", "last-write-wins is an aggregate, not a per-key window over history"),
    ],
    "an5_attribution": [
        (r"WindowGroupLimit", "right-side tie dedup (rn=1) pushed into partial group-limit"),
        (r"!SortMergeJoin", "as-of composition uses union + running window — no join operator"),
        (r"!BroadcastNestedLoopJoin", "no candidate-pair explosion anywhere"),
    ],
    "dd10_containment": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate",
         "gram document-frequency census partial-aggregated before its shuffle"),
    ],
    "mv1_incremental_rollup": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate",
         "delta partials combine map-side before the merge shuffle"),
    ],
    "sk2_bloom_filter": [
        (r"BroadcastNestedLoopJoin",
         "tiny probe x filter-table cross join is broadcast — corpus never reshuffles for the probe"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate",
         "bit_or filter build partial-aggregates map-side (associative)"),
    ],
    "mm10_real_jpeg": [
        (r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas",
         "codec runs in the Arrow-batched Python seam"),
        (r"!hashpartitioning",
         "decode is a pure map stage — no hash shuffle; only fan-out round-robin and the presentation sort"),
    ],
    "mm11_real_gif": [
        (r"!hashpartitioning",
         "decode is a pure map stage — no hash shuffle anywhere"),
    ],
    "fs1_feature_snapshot": [
        (r"(?s)Window.*Union", "as-of steps are union + running window"),
        (r"!Join", "no join operator of any kind — both feature attachments avoid range-join explosion"),
    ],
    "uf4_grouped_map_deltas": [
        (r"FlatMapGroupsInPandas", "grouped-map runs per-key pandas via Arrow"),
        (r"Arguments: hashpartitioning\(user_id#\d+L?, \d+\)",
         "one user_id shuffle feeds the kernel"),
    ],
    "g13_mode": [
        (r"(?s)HashAggregate.*HashAggregate.*Exchange",
         "two-level mode: value census partial-aggregates before its shuffle"),
        (r"!\(\d+\) Window", "argmax is a struct-max aggregate, not a ranking window"),
    ],
    "ml1_linear_trend": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate",
         "sufficient statistics partial-aggregate map-side — 5 longs per group shuffle"),
        (r"!EvalPython", "closed-form fit is pure codegen"),
    ],
    "dq2_gap_report": [
        (r"(?s)HashAggregate.*Window.*Exchange",
         "one lag window + rollup on one user_id exchange"),
    ],
    "io8_webdataset_tar": [
        (r"MapInPandas|ArrowEvalPython",
         "tar extraction runs in the Arrow-batched Python seam"),
        (r"!Exchange hashpartitioning\([^)]*content",
         "shard blobs never shuffle — only the per-doc stats aggregate"),
    ],
    "io10_avro_roundtrip": [
        (r"MapInPandas|ArrowEvalPython",
         "avro decode runs in the Arrow-batched Python seam"),
        (r"!Exchange hashpartitioning\([^)]*content",
         "container blobs never shuffle — only the daily aggregate"),
    ],
    "io11_warc_roundtrip": [
        (r"MapInPandas|ArrowEvalPython",
         "warc member parse runs in the Arrow-batched Python seam"),
        (r"!Exchange hashpartitioning\([^)]*content",
         "warc blobs never shuffle — only the per-source stats"),
    ],
    "gr1_khop_bfs": [
        # round 6: barriers route through audit_barrier, so the real
        # iterative plans are auditable (previously checkpoint scans).
        (r"LeftAnti",
         "each BFS level drops already-reached nodes with a LEFT ANTI join, not a distinct over the union"),
        (r"InMemoryTableScan",
         "the persisted edge table and per-level frontiers are reused, not recomputed"),
    ],
    "gr2_pagerank": [
        (r"(?s)(Hash|Sort)Aggregate.*Exchange.*(Hash|Sort)Aggregate",
         "per-round contribution sums partial-aggregate map-side before the dst shuffle"),
        (r"InMemoryTableScan",
         "the persisted edge/degree/rank frames are reused across rounds"),
    ],
    "gr4_kcore": [
        (r"LeftSemi",
         "each peel round keeps surviving edges via SEMI joins on the qualifying-vertex set"),
        (r"InMemoryTableScan",
         "the shared TRI_T edge table and per-round survivors are reused, not recomputed"),
    ],
    "gr3_weighted_sssp": [
        # round 6: the final barrier routes through audit_barrier, so
        # the audit now sees the real bounded-Bellman-Ford plan instead
        # of a checkpoint scan.
        (r"(?s)HashAggregate.*Exchange.*HashAggregate",
         "per-round min(dist) partial-aggregates map-side before its shuffle"),
        (r"BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin",
         "each relaxation round is an equi-join of the edge table against the distance frame"),
        (r"InMemoryTableScan",
         "the persisted per-round distance frames are reused, not recomputed"),
    ],
    "qr2_repetition_rules": [
        # round-6 second pass: metrics never leave the row — the only
        # exchanges are fan_out's round-robin scan spread and the final
        # presentation sort's range partitioning
        (r"!Exchange hashpartitioning",
         "no hash shuffle anywhere — the gram stream never crosses the network"),
        (r"!Generate",
         "no explode: grams build, sort, fold and filter entirely in-row"),
        (r"!EvalPython",
         "gram construction, run folds and coverage are engine expressions"),
    ],
    "xm1_index_compaction": [
        (r"(?s)(Hash|Sort)Aggregate.*Exchange.*(Hash|Sort)Aggregate",
         "latest-version-wins max(struct) partial-aggregates map-side before the one (doc, band) shuffle (SortAggregate: array-typed agg values cannot hash-agg)"),
        (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*LeftAnti|LeftAnti",
         "tombstones drop via LEFT ANTI join, strategy left to AQE (tombstone set grows with the corpus)"),
        (r"Union", "the stored daily banded frames union without re-signing"),
    ],
    "sk3_countmin_freq": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate",
         "grid cells partial-aggregate map-side (heavy hitters absorbed pre-shuffle)"),
        (r"BroadcastHashJoin|BroadcastExchange",
         "probe rows join the broadcast grid — the stream never shuffles by value"),
    ],
    "sk4_kmv_overlap": [
        (r"TakeOrderedAndProject",
         "per-side top-k heaps, no global sort"),
    ],
    "io13_protobuf_log": [
        (r"MapInPandas|ArrowEvalPython",
         "wire decode runs in the Arrow-batched Python seam"),
        (r"!Exchange hashpartitioning\([^)]*content",
         "log blobs never shuffle — only the daily aggregate"),
    ],
    "io12_zorder_pruning": [
        (r"PartitionFilters: \[[^\]]*zc",
         "z-cell IN list pushed as a PARTITION filter — out-of-box cells never listed or read"),
        (r"PushedFilters: \[[^\]]*IsNotNull",
         "residual predicate still pushed to the parquet scan"),
    ],
    "p8_leakage_free_split": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate",
         "split rollup partial-aggregates before its shuffle"),
        (r"BroadcastNestedLoopJoin|BroadcastExchange",
         "the 1-row leak census attaches by broadcast"),
    ],
    "j5_multi_join_topk": [
        (r"TakeOrderedAndProject", "top-k via TakeOrdered — no global sort materialization"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "partial agg before the revenue shuffle"),
    ],
    "j6_star_join": [
        (r"BroadcastHashJoin", "tiny dims broadcast — fact chain never shuffles for them"),
    ],
    "j7_scalar_subquery": [
        (r"BroadcastHashJoin", "filtered part side broadcast into the lineitem scan"),
    ],
    "sim4_knn_ivf": [
        (r"ArrowEvalPython|BatchEvalPython|PythonUDF", "coarse-quantizer assignment is Arrow-batched (one matmul per batch)"),
        (r"BroadcastHashJoin", "probed-cell candidates via broadcast equi-join on the cell id"),
        (r"TakeOrderedAndProject", "the fixed IVF_EVAL_QUERIES budget is a partial top-k over h32 (round 6: query set no longer grows with the corpus)"),
    ],
    "cp1_curation_pipeline": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "digest dedup is partial-aggregated before its shuffle"),
    ],
    "j8_outer_count_dist": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-customer count partial-aggregated before the shuffle"),
    ],
    "j9_large_orders": [
        (r"BroadcastHashJoin", "HAVING-filtered key subset broadcast back to the fact tables"),
        (r"TakeOrderedAndProject", "top-100 via TakeOrdered — no global sort"),
    ],
    "j10_semi_anti_self": [
        (r"LeftSemi", "EXISTS decorrelates to a semi join (equi on l_orderkey)"),
        (r"LeftAnti", "NOT EXISTS decorrelates to an anti join (equi on l_orderkey)"),
    ],
    "an1_funnel": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "stage minima partial-aggregated before the user_id shuffle"),
    ],
    "an2_retention_cohorts": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "distinct-user counting is two-phase, partial before shuffle"),
    ],
    "tx8_bigram_topk": [
        (r"TakeOrderedAndProject", "top-50 via TakeOrdered — no global sort"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "hot bigrams absorbed by map-side partial agg"),
        (r"(?s)Generate.*explode", "bigrams built in-row, exploded lazily — no Python"),
    ],
    "h2_min_cost_supplier": [
        (r"BroadcastHashJoin", "filtered parts and per-part minima broadcast — lineitem never shuffles"),
        (r"PushedFilters: \[.*EqualTo\(p_size,15\)", "part dimension filter pushed to its scan"),
    ],
    "h4_priority_exists": [
        (r"LeftSemi", "EXISTS decorrelates to a left-semi join, no probe-side dedup"),
        (r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)", "returnflag filter pushed into the lineitem scan"),
    ],
    "h7_nation_volume": [
        (r"BroadcastHashJoin", "nation broadcast under both roles (supplier/customer side)"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "revenue grid partial-aggregated before the shuffle"),
    ],
    "h9_profit": [
        (r"PushedFilters: \[.*StringContains\(p_name,red\)", "LIKE '%red%' pushed to the part scan as StringContains"),
        (r"BroadcastHashJoin", "LIKE-pruned part dimension broadcast"),
    ],
    "h11_important_parts": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-part value partial-aggregated before the shuffle"),
    ],
    "h15_top_supplier": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "supplier revenue partial-aggregated before the shuffle"),
    ],
    "h16_supplier_cnt": [
        (r"LeftAnti", "NOT IN blacklist as a left-anti hash join"),
        (r"BroadcastHashJoin", "filtered part attribute set broadcast"),
    ],
    "h19_disjunctive": [
        (r"BroadcastHashJoin", "part side broadcast; OR-of-conjunctions evaluated in codegen"),
        (r"PushedFilters: \[.*Or\(", "disjunctive l_quantity bounds pushed to the parquet scan"),
    ],
    "h22_idle_customers": [
        (r"LeftAnti", "NOT EXISTS recent-order check as a left-anti join"),
        (r"PushedFilters: \[.*In\(c_nationkey", "nation-set filter pushed to the customer scan"),
    ],
    "h6_forecast_revenue": [
        (r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", "date lower bound pushed to the parquet scan"),
        (r"PushedFilters: \[.*LessThan\(l_quantity,24", "quantity bound pushed to the parquet scan"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "single-row sum is map-side partial first"),
    ],
    "h10_returned_items": [
        (r"TakeOrderedAndProject", "top-20 via TakeOrdered over the aggregated revenues — no global sort"),
        (r"BroadcastHashJoin", "the 20 winners broadcast back to customer/nation — dims never shuffle"),
        (r"PushedFilters: \[.*EqualTo\(l_returnflag,R\)", "returnflag filter pushed into the lineitem scan"),
    ],
    "h12_late_shipments": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "conditional counts partial-aggregated before the tiny final shuffle"),
        (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "orderkey equi-join planned as a hash/merge join, never nested-loop"),
    ],
    "h20_dominant_suppliers": [
        (r"LeftSemi", "dominant-supplier key set applied to supplier as a semi join"),
        (r"BroadcastHashJoin", "filtered part keys and per-part totals broadcast — lineitem never shuffles for the join"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "pair quantities partial-aggregated before the (partkey,suppkey) shuffle"),
    ],
    "tk2_salted_join": [
        (r"ShuffledHashJoin", "salted join is a shuffle hash join — the scale stand-in for a dim too big to broadcast"),
        (r"hashpartitioning\(event_type#\d+, _salt", "hot join key spread over (key, salt) sub-keys"),
    ],
    "at3_time_weighted_avg": [
        (r"(?s)hashpartitioning\(user_id.*Window", "one user_id shuffle feeds the lead() window"),
        (r"(?s)Window.*HashAggregate", "final agg reuses the window's user_id partitioning"),
    ],
    "at4_ohlc_downsample": [
        # min_by/max_by carry a struct buffer -> SortAggregate; the partial
        # (map-side) aggregate before the exchange is what matters
        (r"(?s)(Hash|Sort)Aggregate.*Exchange.*(Hash|Sort)Aggregate", "OHLC bars partial-aggregated before the (user,bucket) shuffle"),
        (r"!Window", "no per-bucket window/sort — open/close come from min_by/max_by aggregates"),
    ],
    "an3_top_paths": [
        (r"TakeOrderedAndProject", "top-10 paths via TakeOrdered — no global sort"),
        (r"(?s)Window.*HashAggregate", "session ids from the user_id window feed the path aggregate directly"),
    ],
    # the trailing orderBy (oracle determinism) is a rangepartitioning
    # exchange; the zero-shuffle claim is the absence of HASH shuffles
    "ar2_vector_quantize": [
        (r"!hashpartitioning", "quantization is row-local — no hash shuffle anywhere in the plan"),
        (r"!EvalPython", "pure codegen array expressions — no Python in the hot path"),
    ],
    "ar3_random_projection": [
        (r"!hashpartitioning", "projection sketch is row-local — no hash shuffle anywhere in the plan"),
    ],
    "dd8_repetition_scrub": [
        (r"!hashpartitioning", "repetition scrub is row-local — no hash shuffle anywhere in the plan"),
    ],
    "wb5_gapfill_locf": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "hourly slot aggregate is partial-aggregated before its shuffle"),
        (r"BroadcastNestedLoopJoin|BroadcastHashJoin", "the generated slot grid broadcasts — the fact table never joins by shuffle"),
    ],
    "fz1_fuzzy_name_match": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "distinct names via two-phase aggregate before any compare"),
        (r"levenshtein", "edit distance runs as a codegen expression, not a UDF"),
    ],
    "mm6_real_codec": [
        (r"MapInPandas|ArrowEvalPython", "real PNG codec runs Arrow-batched (mapInPandas), never row-at-a-time"),
        (r"!hashpartitioning", "decode is a pure map stage — no hash shuffle; only the fan-out round-robin and the presentation sort"),
    ],
    "tx12_pii_redaction": [
        (r"!hashpartitioning", "redaction is row-local regexp codegen — no hash shuffle anywhere"),
        (r"!EvalPython", "no Python in the hot path"),
    ],
    "px1_perplexity_filter": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "LM count tables partial-aggregated before their shuffles"),
        (r"!EvalPython", "scoring is pure codegen (divisions + in-row fold), no Python"),
    ],
    "cd1_snapshot_diff": [
        (r"(SortMergeJoin|ShuffledHashJoin) FullOuter", "snapshot diff is a keyed full-outer join — only (key, digest) shuffles, never text"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "status counts partial-aggregated before the (source,status) shuffle"),
    ],
    "cd2_content_manifest": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "commutative hash-sum manifest partial-aggregated before its shuffle"),
        (r"!EvalPython", "row hashing is codegen md5/conv — no Python"),
    ],
    "nv1_ngram_novelty": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "gram frequencies partial-aggregated before the gram shuffle"),
        (r"Window", "gram frequency is a count window over the gram key — one exploded pass"),
        (r"!(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "no join-back re-running the tokenize+shingle subtree"),
    ],
    "wz1_winsorize": [
        (r"BroadcastHashJoin", "per-group quantile bounds broadcast back — event rows never shuffle for the join"),
    ],
    "uf1_pandas_udf_cents": [
        (r"ArrowEvalPython", "scalar pandas UDF runs Arrow-batched, not row-at-a-time"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "cents totals partial-aggregated before the shuffle"),
    ],
    "mx1_source_mixture": [
        (r"BroadcastHashJoin", "the tiny per-source model broadcasts back — document rows never shuffle for the join"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "token totals and selection stats partial-aggregated before their shuffles"),
    ],
    "ir1_bm25_search": [
        (r"BroadcastNestedLoopJoin", "one-row corpus stats (N, sum_dl, per-term df) broadcast back — documents never shuffle for scoring"),
        (r"WindowGroupLimit", "per-query top-k is a partial (map-side) rank — only ~k rows per scan partition reach the exchange"),
        (r"!\(\d+\) Generate[^\n]*explode\(split", "tf comes from in-row size(filter(...)), not a token explode — no (doc,token) shuffle exists"),
        (r"!EvalPython", "BM25 scoring is pure codegen"),
    ],
    "ir2_hybrid_rrf": [
        (r"BroadcastHashJoin", "query vocabulary broadcast — token stream pruned before the (doc,token) aggregation"),
        (r"WindowGroupLimit", "both legs take partial top-k before their single exchange"),
        (r"BroadcastNestedLoopJoin", "vector-leg query side broadcast; corpus embeddings never shuffled in full"),
        (r"!EvalPython", "BM25, cosine, and RRF fusion are all pure codegen"),
    ],
    "hx1_html_extract": [
        (r"!Exchange hashpartitioning", "page build + extraction is per-row codegen — the only exchanges are the explicit fan_out and the output ordering"),
        (r"!\(\d+\) Window", "no ranking/window anywhere — scan-speed pipeline"),
        (r"!EvalPython", "the whole extractor is regexp/replace codegen"),
    ],
    "km2_kmeans_lloyd": [
        (r"BroadcastNestedLoopJoin", "centroids attach as ONE broadcast array-of-structs row — assignment is zero-shuffle in-row argmin"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "the (k x dim) centroid update partial-aggregates map-side before its tiny exchange"),
        (r"!EvalPython", "quantize, distance folds, argmin, floor-mean are all codegen"),
    ],
    "pq1_product_quantize": [
        (r"BroadcastNestedLoopJoin", "the unioned ~20-row codebook broadcasts; encoding is one corpus scan with 4 in-row argmins"),
        (r"!EvalPython", "subspace slicing + argmin folds are codegen"),
    ],
    "qc1_quality_classifier": [
        (r"!Exchange hashpartitioning", "scoring is per-row codegen — no exchange except fan_out/order"),
        (r"!\(\d+\) Generate", "bigram features built by in-row transform over an index sequence, not explode"),
        (r"!EvalPython", "hashing and the weight fold are codegen"),
    ],
    "ir3_inverted_index": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "(term,doc) tf counts partial-aggregate map-side before the index shuffle"),
        (r"WindowGroupLimit", "the posting head is a partial (map-side) rank — a stop-word term ships ~10 rows per partition, not its posting list"),
    ],
    "nd1_incremental_neardup": [
        (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "batch probes hash-join into the banded index on (band, digest) — no quadratic compare"),
        (r"!EvalPython", "signature + band digests + agreement count are codegen"),
    ],
    "sd1_semdedup": [
        (r"BroadcastNestedLoopJoin", "centroid row broadcast — assignment is zero-shuffle in-row argmin"),
        (r"\(\d+\) Window", "the ONE cid exchange: predecessors arrive as lag(struct) columns of the rank window"),
        (r"!(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "no self-join — the lag form replaced the probe join that flipped broadcast->SMJ with input size (10x sweep catch)"),
        (r"!\(\d+\) Generate", "no probe-side explode either — W candidates are W lag columns"),
        (r"!EvalPython", "quantization, dot products and the cosine gate are integer codegen"),
    ],
    "ds1_dsir_select": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "bucket counts partial-aggregate map-side; the exchange carries <=512 keys' partials"),
        (r"BroadcastNestedLoopJoin", "512-entry score array attached as a broadcast single-row — per-doc scoring is an in-row fold"),
        (r"!\(\d+\) Window", "selection threshold is data-independent — no global ranking window anywhere"),
        (r"!EvalPython", "hashing and the weight fold are codegen"),
    ],
    "url1_url_canonicalize": [
        (r"ReadSchema: struct<doc_id:[^\n]*source", "scan reads only (doc_id, source)"),
        (r"!ReadSchema: [^\n]*text", "the text column is never read — URL dedup costs metadata IO only"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "census partial-aggregates map-side before the (domain,curl) exchange"),
        (r"!EvalPython", "the whole canonicalizer chain is regexp/split/sort codegen"),
        (r"!\(\d+\) Generate", "query-param sort is in-row array_sort, not explode"),
    ],
    "ar4_gram_matrix": [
        (r"MapInPandas", "per-batch partial X^T X through the Arrow seam — constant-size output per batch"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "global gram sum partial-aggregates map-side; the exchange carries <=2080 (i,j) keys"),
        (r"!\(\d+\) Generate", "no explode of data rows — the tall triangle is emitted per BATCH, not per row"),
        (r"!(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "single-table reduction, no join"),
    ],
    "qr1_gopher_rules": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-source rule census partial-aggregates map-side"),
        (r"!\(\d+\) Generate", "all seven rules are in-row token/line folds and filters — no explode"),
        (r"!EvalPython", "cross-multiplied integer comparisons are codegen"),
        (r"!Join", "no join operator anywhere"),
    ],
    "sk6_kmv_per_group": [
        (r"WindowGroupLimit", "per-group k smallest hashes rank map-side — each partition ships <=k rows PER GROUP"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "distinct (group, hash) partial-aggregates before its exchange"),
        (r"!EvalPython", "hashing and the estimator are codegen"),
    ],
    "dr1_distribution_drift": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "bucket counts partial-aggregate map-side; the exchange carries <=256 keys' partials"),
        (r"BroadcastNestedLoopJoin", "1-row totals broadcast back onto the 256-row bucket frame"),
        (r"!(SortMergeJoin|ShuffledHashJoin)", "no keyed join anywhere — drift is two aggregates"),
        (r"!EvalPython", "cross-multiplied integer L1 is codegen decimal math"),
    ],
    "sk5_hll_distinct": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "register maxima partial-aggregate map-side; the exchange carries <=256 keys' partials"),
        (r"!EvalPython", "register math is integer codegen (bin() bitlength, shifts)"),
    ],
    "tx14_bpe_encode": [
        (r"!Exchange hashpartitioning", "the merge chain is per-row codegen — no exchange except fan_out/order"),
        (r"!EvalPython", "every merge pass is a codegen replace()"),
        (r"!\(\d+\) Generate", "no explode anywhere — the token stream never leaves the row"),
    ],
    "rl1_release_pipeline": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "exact-dedup digest groupBy and the shard manifest partial-aggregate map-side"),
        (r"LeftAnti", "near-dup and contamination filters are anti joins — no pair stream materialized"),
        (r"!EvalPython", "all six stages are codegen expressions"),
    ],
    "vo1_oov_census": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-(source,lang) totals partial-aggregate map-side"),
        (r"!EvalPython", "vocabulary membership is an in-row codegen array filter"),
        (r"!\(\d+\) Generate", "no explode — the token stream never leaves the row"),
        (r"!Join", "the vocabulary is a literal array, not a join"),
    ],
    "mx2_temperature_mixture": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-source totals partial-aggregate map-side"),
        (r"BroadcastHashJoin|BroadcastNestedLoopJoin", "the tiny threshold model broadcast back — document rows never shuffle for the join"),
        (r"!EvalPython", "sqrt fold + ppm thresholds are codegen"),
    ],
    # st13 is audited by pytest instead (tests/test_streaming.py): its
    # returned frame is a batch read of the streaming sink, so the
    # interesting plan (persisted index join inside foreachBatch) never
    # appears in the returned DataFrame's explain.
    "mm15_phash_buckets": [
        (r"MapInPandas", "decode+hash in the Arrow seam — image bytes never leave the scan task"),
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "dhash census partial-aggregates map-side; the exchange carries (dhash, partials) only"),
        (r"!\(\d+\) Generate", "no explode — one 12-bit int per doc"),
    ],
    "qc2_threshold_yield": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "yield grid partial-aggregates map-side to |sources| x |grid| rows before the exchange"),
        (r"!EvalPython", "classifier scoring + grid explode are codegen"),
        (r"!(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "no join — the grid is an in-row literal array explode"),
    ],
    "tv1_tokenizer_fertility": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-(source,lang) totals partial-aggregate map-side"),
        (r"!EvalPython", "the BPE merge chain is codegen replace()"),
        (r"!\(\d+\) Generate", "no explode — token counts are in-row folds"),
    ],
    "srt1_range_shards": [
        (r"BroadcastNestedLoopJoin", "the 7-value boundary row broadcast onto the corpus — assignment is an in-row fold"),
        (r"!EvalPython", "boundary math and shard assignment are codegen"),
        # formatted plans split the node name and its Arguments onto
        # separate lines, so match the Arguments form; exactly ONE
        # rangepartitioning is allowed (the final output-ordering
        # orderBy) — a second would mean a global sort inside the query
        (r"!(?s)Arguments: rangepartitioning.*Arguments: rangepartitioning", "no global sort beyond the final output-ordering exchange; the physical sorted WRITE (repartitionByRange) is pinned by tests/test_layout.py"),
    ],
    "dd12_lsh_quality": [
        (r"TakeOrderedAndProject", "the fixed-size evaluation sample is a partial top-k, not a full sort"),
        (r"InMemoryTableScan", "the 500-row sample persisted — pair operators' internal jobs reuse it"),
        (r"FullOuter", "TP/FP/FN from ONE full-outer join of the two pair streams"),
    ],
    "sim6_ann_recall": [
        (r"TakeOrderedAndProject", "the fixed 50-query budget is a partial top-k over h32"),
        (r"InMemoryTableScan", "query sample persisted across the three candidate operators"),
        (r"WindowGroupLimit", "per-query rank<=k executes as partial (map-side) top-k in the knn operators"),
    ],
    "ln1_span_dedup": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "first-occurrence min(struct) partial-aggregates map-side before the block-hash shuffle"),
        (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "keepers join back on the block-hash key"),
        (r"!EvalPython", "block building + digests are codegen"),
    ],
    # ---- round 8 additions
    "qc3_logreg_train": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-iteration gradient is a partial (map-side combined) 512-key aggregate — the only corpus-sized exchange"),
        (r"BroadcastNestedLoopJoin", "the 512-weight array rides a 1-row broadcast; the margin fold is in-row, zero shuffle per scan"),
        (r"!EvalPython", "hard-sigmoid GD is entirely codegen integer arithmetic"),
    ],
    "qc4_logreg_accuracy": [
        (r"ReadSchema: struct<text:string>", "scan reads only text (qc4 ignores the shared frame's doc_id-keyed split column)"),
        (r"BroadcastNestedLoopJoin", "trained weights broadcast for the in-row scoring pass"),
    ],
    "qc5_logreg_holdout": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "gradient and census both partial-aggregate map-side"),
        (r"BroadcastNestedLoopJoin", "trained weights broadcast for the all-slices scoring pass"),
    ],
    "sim7_knn_ivfpq": [
        (r"WindowGroupLimit", "per-query rank<=k executes as partial (map-side) top-k"),
        (r"BroadcastHashJoin", "code table joins the queries-x-nprobe broadcast on the small int cell key — corpus never shuffled"),
        (r"BroadcastNestedLoopJoin", "packed codebook/centroid arrays ride 1-row broadcasts; encode + LUTs are in-row"),
        (r"!EvalPython", "ADC is codegen integer arithmetic (map lookups + adds)"),
    ],
    "sim8_ivfpq_recall": [
        (r"WindowGroupLimit", "both truth and ADC top-k run as partial top-k"),
        (r"TakeOrderedAndProject", "the fixed 50-query budget is a partial top-k over h32"),
    ],
    "sim9_ivfpq_rerank": [
        (r"WindowGroupLimit", "both the R*k ADC nomination and the exact re-rank run as partial top-k"),
        (r"BroadcastHashJoin", "the R*|queries|-row candidate list broadcasts against the vector store (point-lookup pattern at 100 TB)"),
    ],
    "ln4_substring_probe": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "batch-local (count, min-code) aggregates partial-combine map-side before merging with the stored index"),
        (r"BroadcastHashJoin", "the small batch digest set broadcasts against the index join at this scale (AQE decides; bucketed co-location at 100 TB)"),
        (r"ReadSchema: struct<doc_id:bigint,text:string>", "scan reads only id+text"),
    ],
    "tx15_bpe_roundtrip": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "round-trip census partial-aggregates on the tiny source key"),
        (r"ReadSchema: struct<text:string,source:string>", "scan reads only text+source"),
        (r"!EvalPython", "encode chain and decode (join/split/join) are codegen"),
    ],
    "xm2_winnow_compaction": [
        (r"(?s)HashAggregate.*Exchange.*HashAggregate", "per-doc max(ver) is a partial (map-side combined) aggregate"),
        (r"Join type: LeftAnti", "tombstones drop via anti-join, strategy left to AQE (the tombstone set grows with the corpus)"),
        (r"ObjectHashAggregate", "per-doc fingerprint digest folds with map-side partial collect_list"),
    ],
}


def _holds(pattern: str, plan: str) -> bool:
    if pattern.startswith("!"):
        return re.search(pattern[1:], plan) is None
    return re.search(pattern, plan) is not None


@pytest.fixture(scope="module")
def registry():
    import __spark_entry__ as entrymod

    return entrymod.queries()


@pytest.mark.parametrize("name", list(EXPECTATIONS))
def test_plan_properties(spark, registry, name):
    from aristoteles_spark.operators.barrier import no_barriers

    buf = io.StringIO()
    with no_barriers(), redirect_stdout(buf):
        registry[name](spark, SF_SMOKE).explain("formatted")
    plan = buf.getvalue()
    missing = [
        f"{pattern} — {why}"
        for pattern, why in EXPECTATIONS[name]
        if not _holds(pattern, plan)
    ]
    assert not missing, f"{name}: plan properties not met:\n" + "\n".join(missing)
