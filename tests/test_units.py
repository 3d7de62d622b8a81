"""Unit-conversion semantics: factors, the 0.0-skip quirk, NULLs, per-row flag.

Reference behavior under test: aristoteles/aristoteles.py:414-436
(conversion), :418-419 (falsy-skip quirk).
"""

import math

import pytest
from pyspark.sql import Row

from aristoteles_spark.functions.units import (
    IN_TO_MM,
    INHG_TO_HPA,
    MPH_TO_KMH,
    conversion_exprs,
    convert_dataframe,
    convert_measure,
)
from aristoteles_spark.schema import ARCHIVE_SCHEMA, MEASURES


def _frame(spark, rows):
    return spark.createDataFrame(rows, schema=ARCHIVE_SCHEMA)


def _row(dateTime=0, usUnits=1, **overrides):
    vals = {m: None for m in MEASURES}
    vals.update(overrides)
    return (dateTime, usUnits, *[vals[m] for m in MEASURES])


def test_temperature_factor(spark):
    df = _frame(spark, [_row(usUnits=1, outTemp=212.0)])
    out = df.select(convert_measure("outTemp", "temperature")).first()[0]
    assert out == pytest.approx(100.0, abs=1e-9)


def test_pressure_speed_rain_factors(spark):
    df = _frame(spark, [_row(usUnits=1, barometer=1.0, windSpeed=1.0, rain=1.0, rainRate=2.0)])
    r = df.select(
        convert_measure("barometer", "pressure").alias("b"),
        convert_measure("windSpeed", "speed").alias("w"),
        convert_measure("rain", "amount").alias("r"),
        convert_measure("rainRate", "rate").alias("rr"),
    ).first()
    assert r["b"] == pytest.approx(INHG_TO_HPA, abs=1e-9)
    assert r["w"] == pytest.approx(MPH_TO_KMH, abs=1e-9)
    assert r["r"] == pytest.approx(IN_TO_MM, abs=1e-9)
    assert r["rr"] == pytest.approx(2 * IN_TO_MM, abs=1e-9)


def test_metric_rows_untouched(spark):
    df = _frame(spark, [_row(usUnits=0, outTemp=212.0, barometer=30.0)])
    r = df.select(
        convert_measure("outTemp", "temperature").alias("t"),
        convert_measure("barometer", "pressure").alias("b"),
    ).first()
    assert r["t"] == 212.0 and r["b"] == 30.0


def test_zero_skip_quirk_strict(spark):
    """0 degF must STAY 0 (reference's falsy-cell skip)."""
    df = _frame(spark, [_row(usUnits=1, outTemp=0.0)])
    assert df.select(convert_measure("outTemp", "temperature")).first()[0] == 0.0


def test_null_passes_through(spark):
    df = _frame(spark, [_row(usUnits=1, outTemp=None)])
    assert df.select(convert_measure("outTemp", "temperature")).first()[0] is None


def test_unit_agnostic_columns(spark):
    df = _frame(spark, [_row(usUnits=1, outHumidity=55.0, windDir=270.0)])
    r = df.select(
        convert_measure("outHumidity", "percent").alias("h"),
        convert_measure("windDir", "direction").alias("d"),
    ).first()
    assert r["h"] == 55.0 and r["d"] == 270.0


def test_nan_converts_to_nan(spark):
    """NaN passes the reference's truthiness check and converts to NaN."""
    df = _frame(spark, [_row(usUnits=1, outTemp=float("nan"))])
    assert math.isnan(df.select(convert_measure("outTemp", "temperature")).first()[0])


def test_convert_dataframe_keeps_passthrough_and_row_flag(spark):
    df = _frame(
        spark,
        [_row(dateTime=100, usUnits=1, outTemp=32.0), _row(dateTime=400, usUnits=0, outTemp=32.0)],
    )
    out = {r["dateTime"]: r for r in convert_dataframe(df).collect()}
    assert out[100]["outTemp"] == pytest.approx(0.0, abs=1e-9)  # US row converted
    assert out[400]["outTemp"] == 32.0  # metric row untouched
    assert out[100]["usUnits"] == 1


def test_conversion_exprs_built_once(spark):
    """The expressions are built once per process, and the cached tuple
    serves every later frame."""
    exprs = conversion_exprs()
    assert isinstance(exprs, tuple) and len(exprs) == len(MEASURES)
    assert conversion_exprs() is exprs
    df = _frame(spark, [_row(usUnits=1, outTemp=212.0)])
    assert convert_dataframe(df).first()["outTemp"] == pytest.approx(100.0, abs=1e-9)


def test_plan_is_codegen_only(spark):
    """Conversion must compile to pure expressions: no UDF, no shuffle."""
    df = _frame(spark, [_row()])
    plan = convert_dataframe(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
