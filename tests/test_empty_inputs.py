"""Empty-input contract (round 6): every operator must treat a 0-row
(schema-correct) input as a valid no-op — the reference's own
empty-input-skip semantics (SURVEY P5), and a daily reality at 100 TB
(empty partitions, empty ingest days, quiet streams).

A full-suite sweep found 23 genuine crashes (+3 harness artifacts):
an empty create_map() typing its lookup VOID (every small-vocab
MinHash consumer), an empty IVF quantizer crashing the assignment
kernel, parquet read-backs of 0-file writes failing schema inference
(explicit schemas now), the io container writers asserting
unconditionally on 0-member output (now input-aware), ns1's driver-side
% 0, and sk4's ANSI divide-by-zero on an empty union sketch. This test
re-runs exactly that crash set against a generated empty fixture.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from aristoteles_spark.sources.parquet_source import TABLES

SRC = "/root/testdata/sf0.001"

# the queries the round-6 sweep caught crashing (one per root cause
# class plus every distinct consumer, so a regression in any fix class
# fails here); the rest of the suite was swept clean once and is
# re-swept out-of-band (tools notes in SURVEY 8.13)
CRASHED = [
    "dd4_minhash_lsh_pairs",   # empty create_map -> VOID lookup
    "dd5_simhash_sketches",
    "dd6_simhash_pairs",
    "dd7_dup_clusters",
    "dd11_lsh_tuning",
    "dd12_lsh_quality",
    "nd1_incremental_neardup",
    "p8_leakage_free_split",
    "rl1_release_pipeline",
    "xc1_lsh_bucket_census",
    "xm1_index_compaction",
    "sim4_knn_ivf",            # empty IVF quantizer
    "sim6_ann_recall",
    "ns1_negative_samples",    # driver-side % 0
    "sk4_kmv_overlap",         # ANSI divide-by-zero, empty union sketch
    "io6_compaction_roundtrip",  # 0-file parquet read-backs
    "io12_zorder_pruning",
    "mg1_merge_upsert",
    "st6_stream_sink_parquet",
    "st12_stream_cdc_upsert",
    "st13_stream_neardup",
    "io8_webdataset_tar",      # container writers: 0-member output
    "io10_avro_roundtrip",
    "io11_warc_roundtrip",
    "io13_protobuf_log",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        p = f"{SRC}/{t}.parquet"
        if os.path.exists(p):
            pq.write_table(pq.read_schema(p).empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.mark.parametrize("name", CRASHED)
def test_empty_input_is_a_valid_no_op(spark, empty_sf, name):
    import __spark_entry__ as entrymod

    fn = entrymod.queries()[name]
    rows = fn(spark, empty_sf).collect()
    assert rows == [] or all(r is not None for r in rows)
