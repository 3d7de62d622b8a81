"""Empty-input contract (round 6): every declared query must treat 0-row
(schema-correct) tables as a valid no-op — the reference's own
empty-input-skip semantics (SURVEY P5), and a daily reality at 100 TB
(empty partitions, empty ingest days, quiet streams).

The first sweep found 23 genuine crashes: an empty create_map() typing
its lookup VOID (every small-vocab MinHash consumer), an empty IVF
quantizer crashing the assignment kernel, parquet read-backs of 0-file
writes failing schema inference (explicit schemas now), the io container
writers asserting unconditionally on 0-member output (now input-aware),
ns1's driver-side % 0, and sk4's ANSI divide-by-zero on an empty union
sketch. One test per declared query, so a new query is checked too.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entrymod
from aristoteles_spark.sources.parquet_source import TABLES

SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        p = f"{SRC}/{t}.parquet"
        if os.path.exists(p):
            pq.write_table(pq.read_schema(p).empty_table(), str(d / f"{t}.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def registry():
    return entrymod.queries()


@pytest.mark.parametrize("name", list(entrymod.queries()))
def test_empty_input_is_a_valid_no_op(spark, registry, empty_sf, name):
    rows = registry[name](spark, empty_sf).collect()
    assert rows == [] or all(r is not None for r in rows)
