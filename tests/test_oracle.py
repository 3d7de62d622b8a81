"""Every declared query matches its ``oracle_sql()`` through duckdb, in the
driver's strict canonical form (``tools/check_correctness.mismatch``):
the same column names, the same row count, the same cell strings without
float re-rounding, and at least one row.

One test per declared query, at sf0.01 in the shared session: the regime
the bench times is the regime this verifies. ``-k <query>`` runs one
query; ``SPARK_GRAFT_ORACLE_DIR`` points the file at another scale
(sf0.001 surfaces null-bearing outputs, sf0.1 scale-dependent bugs).
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_ORACLE
from tools.check_correctness import mismatch, oracle_con

ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def con():
    c = oracle_con(SF_ORACLE)
    yield c
    c.close()


@pytest.fixture(scope="module")
def registry():
    return entrymod.queries()


@pytest.mark.parametrize("name", list(ORACLES))
def test_matches_oracle(spark, registry, con, name):
    why = mismatch(registry[name](spark, SF_ORACLE), con.execute(ORACLES[name]))
    assert why is None, f"{name}: {why}"
