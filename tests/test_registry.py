"""Driver-contract registry invariants (__spark_entry__ / queries/
__init__.py): every declared query must carry an oracle, both dicts
must iterate in the SAME order (the driver zips them), and the
history-driven ordering must put never-driver-checked queries ahead of
green ones — the properties the correctness gate silently depends on."""

from __future__ import annotations

import glob
import json
import os

import pytest

from tests.conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registries():
    from aristoteles_spark.queries import all_oracle_sql, all_queries

    return all_queries(), all_oracle_sql()


def test_every_query_has_an_oracle():
    qs, oracles = _registries()
    assert set(qs) == set(oracles)
    assert all(isinstance(s, str) and s.strip() for s in oracles.values())


def test_iteration_order_identical():
    qs, oracles = _registries()
    assert list(qs) == list(oracles)


def test_ordering_prioritizes_unchecked_queries():
    _, oracles = _registries()
    names = list(oracles)
    checked: dict[str, bool] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            for name, rec in json.load(f).items():
                checked[name] = bool(
                    rec.get("rows_match")
                    and rec.get("schema_match")
                    and rec.get("hash_match", True)
                )
    if not checked:
        return  # round 1: nothing to assert
    # class order must be: failed-last-check, never-checked, green
    def cls(n):
        if n in checked and not checked[n]:
            return 0
        if n not in checked:
            return 1
        return 2

    classes = [cls(n) for n in names]
    assert classes == sorted(classes), (
        "ordering regression: a green query sorts ahead of a "
        "never-driver-checked one — the driver's ~50-query window "
        "would re-check proven rows instead of widening coverage"
    )


def test_names_unique_and_wellformed():
    _, oracles = _registries()
    names = list(oracles)
    assert len(names) == len(set(names))
    for n in names:
        assert n.replace("_", "").isalnum() and n == n.lower(), n


def test_entry_module_exports():
    import __spark_entry__ as e

    assert callable(e.entry)
    assert callable(e.queries)
    assert callable(e.oracle_sql)


def test_final_schemas_driver_canonicalizable(spark):
    """Round-4 contract test (VERDICT r3 item 5): the driver's compare
    pulls both sides through a pandas lexsort over all columns, which
    raises ``TypeError: unhashable type: 'list'`` on container cells and
    string-mismatches on DECIMAL. So no declared query may emit a
    DECIMAL or container-typed (array/map/struct) FINAL column — the
    registry's _stable_output_types terminal cast guarantees it; this
    test proves the guarantee over the whole inventory at sf0.001.
    Would have caught the round-3 ar2/g8 reds before submission."""
    from pyspark.sql import types as T

    import __spark_entry__ as e

    banned = (T.DecimalType, T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name, fn in e.queries().items():
        df = fn(spark, SF_SMOKE)
        for f in df.schema.fields:
            if isinstance(f.dataType, banned):
                offenders.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not offenders, (
        "driver-uncanonicalizable final columns (add a terminal "
        "to_json/double cast + matching oracle): " + "; ".join(offenders)
    )


def test_missing_query_module_fails_loudly(monkeypatch):
    import aristoteles_spark.queries as registry

    monkeypatch.setattr(
        registry, "_MODULES", [*registry._MODULES, "no_such_module"]
    )
    with pytest.raises(ModuleNotFoundError):
        registry.all_queries()
    with pytest.raises(ModuleNotFoundError):
        registry.all_oracle_sql()
