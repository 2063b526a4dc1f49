"""Explicit source schemas + drift detection (SURVEY.md §1.2: "declare
explicit StructType per source table and fail loudly on drift" — the
reference reads all-string, README.md:114, and its one declared schema,
mergeHistoricalWeather.py:71-91, is never applied)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from energydatalake_spark.io.schemas import (
    SOURCE_SCHEMAS,
    SchemaDriftError,
    apply_schema,
)


def test_apply_schema_types_and_order(spark):
    df = spark.createDataFrame(
        [("12.345", "2024-03-01 00:00:00", "2024-03-01 00:00:00",
          "2024-03-01 00:05:00")],
        ["load", "time", "interval_start", "interval_end"],  # shuffled order
    )
    out = apply_schema(df, "load")
    assert out.columns == ["time", "interval_start", "interval_end", "load"]
    types = dict(out.dtypes)
    assert types["load"] == "decimal(10,2)"
    assert types["time"] == "timestamp"
    # decimal(10,2) rounds HALF_UP, per README.md:115 of the reference
    assert out.collect()[0]["load"] == Decimal("12.35")

    # offset-stamped feeds parse through SOURCE_TS_FMT to the UTC instant
    ts = "2024-01-02 03:04:05-05:00"
    spp = spark.createDataFrame(
        [("HB_NORTH", "9.87", ts, ts, ts)],
        ["location", "spp", "time", "interval_start", "interval_end"],
    )
    row = apply_schema(spp, "spp").collect()[0]
    assert row["interval_start"] == dt.datetime(2024, 1, 2, 8, 4, 5)  # session tz UTC
    assert abs(row["spp"] - 9.87) < 1e-5


def test_missing_column_fails_loudly(spark):
    df = spark.createDataFrame(
        [("2024-03-01 00:00:00",)], ["time"]
    )
    with pytest.raises(SchemaDriftError) as ei:
        apply_schema(df, "load")
    assert "load" in ei.value.missing and "interval_start" in ei.value.missing


def test_extra_column_fails_loudly(spark):
    cols = [f.name for f in SOURCE_SCHEMAS["load"].fields]
    df = spark.createDataFrame([tuple("x" for _ in cols) + ("y",)], cols + ["surprise"])
    with pytest.raises(SchemaDriftError) as ei:
        apply_schema(df, "load")
    assert ei.value.extra == ["surprise"]


def test_renamed_column_reports_both_sides(spark):
    cols = [f.name for f in SOURCE_SCHEMAS["load"].fields]
    renamed = ["demand" if c == "load" else c for c in cols]
    df = spark.createDataFrame([tuple("x" for _ in renamed)], renamed)
    with pytest.raises(SchemaDriftError) as ei:
        apply_schema(df, "load")
    assert ei.value.missing == ["load"] and ei.value.extra == ["demand"]


def test_unparseable_cells_become_null_not_error(spark):
    df = spark.createDataFrame(
        [("not-a-number", "not-a-time", "2024-03-01 00:00:00",
          "2024-03-01 00:05:00")],
        ["load", "time", "interval_start", "interval_end"],
    )
    row = apply_schema(df, "load").collect()[0]
    assert row["load"] is None and row["time"] is None
    assert row["interval_start"] is not None


def test_weather_historical_measures_are_float(spark, tmp_path):
    """Verdict r1 item 5: the 15 hourly measures must land typed in the
    warehouse, per the reference's declared FLOAT schema (mhw:72-89)."""
    from energydatalake_spark.pipelines import ercot
    from energydatalake_spark.pipelines.fixtures import generate_all

    layout = generate_all(str(tmp_path / "src"))
    cfg = ercot.PipelineConfig(
        source_dir=layout["weather_historical"],
        sink_path=str(tmp_path / "warehouse" / "hist_weather"),
        archive_dir=str(tmp_path / "archive" / "hist_weather"),
    )
    rep = ercot.merge_historical_weather(spark, cfg)
    assert rep is not None and rep["rows"] > 0
    types = dict(spark.read.parquet(cfg.sink_path).dtypes)
    for c in ("temperature_2m", "wind_gusts_10m", "dew_point_2m", "latitude"):
        assert types[c] == "float", (c, types[c])
    assert types["date"] == "timestamp"
    assert types["zone"] == "string"
