"""Explicit per-source schemas (SURVEY.md §1.2 rebuild decision).

The reference reads every CSV header-driven with all-string columns
(README.md:114 admits "The schema of the csv files was interpreted as
strings by Pyspark") and declares exactly one schema in the whole repo
— the 19-field BigQuery list at ``PySpark Scripts/
mergeHistoricalWeather.py:71-91`` — which it then never passes to the
writer. Here every source table gets a declared ``StructType``
(recovered from the reference's cast sites, SURVEY.md §1.3) and a
loud drift check: a missing, extra, or renamed column raises
``SchemaDriftError`` naming the offending columns instead of silently
producing null-cast data.

Why validate-then-cast instead of passing the schema to ``spark.read``:
with ``header=true`` + explicit schema, Spark binds columns by
POSITION, so a feed whose column order differs from the declared one
would land values in the wrong columns — and the declared names are
the normalized ones (``interval_start``), not the feed's (``Interval
Start``). Instead ``read_csv_folder`` reads the first file's header on
the driver (no Spark job) and passes it as an all-string schema with
``enforceSchema=false``, so Spark checks every file's header against
it and a reordered or renamed file fails loudly; this module then
binds the declared schema BY NAME and casts. The casts are ``try_``-
variants so unparseable cells become null and flow into the pipelines'
drop-null stage (P3+F1 interaction), matching the reference's
pre-ANSI cast semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DecimalType,
    FloatType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

#: Offset-aware feeds stringify timestamps as "yyyy-MM-dd HH:mm:ss-06:00"
#: (ercot_spp_csv.py:28-30, open_weather_live_data.py:66).
OFFSET_TS_FMT = "yyyy-MM-dd HH:mm:ssXXX"

_TS = TimestampType()
_DEC = DecimalType(10, 2)
_FLT = FloatType()
_STR = StringType()


def _struct(fields: list[tuple[str, object]]) -> StructType:
    return StructType([StructField(n, t) for n, t in fields])


#: fuel_mix (merge:91-99): 3 timestamps + 8 generation-source MW columns.
FUEL_MIX = _struct(
    [("time", _TS), ("interval_start", _TS), ("interval_end", _TS)]
    + [
        (c, _DEC)
        for c in (
            "coal_and_lignite",
            "hydro",
            "nuclear",
            "power_storage",
            "solar",
            "wind",
            "natural_gas",
            "other",
        )
    ]
)

#: load_latest / load_historical (latest:58-66, hist:56-64).
LOAD = _struct(
    [
        ("time", _TS),
        ("interval_start", _TS),
        ("interval_end", _TS),
        ("load", _DEC),
    ]
)

#: load_forecast (fcst:60-69) — publish_time is the forecast vintage.
LOAD_FORECAST = _struct(
    [
        ("time", _TS),
        ("interval_start", _TS),
        ("interval_end", _TS),
        ("publish_time", _TS),
        ("north", _DEC),
        ("south", _DEC),
        ("west", _DEC),
        ("houston", _DEC),
        ("system_total", _DEC),
    ]
)

#: spp (spp:49-51, 64-74) — offset-stamped timestamps, float price.
SPP = _struct(
    [
        ("location", _STR),
        ("spp", _FLT),
        ("time", _TS),
        ("interval_start", _TS),
        ("interval_end", _TS),
    ]
)

#: weather_live (open_weather_live_data.py:58-67; casts spp:64-71).
WEATHER_LIVE = _struct(
    [
        ("location", _STR),
        ("temperature", _FLT),
        ("temp_min", _FLT),
        ("temp_max", _FLT),
        ("pressure", _FLT),
        ("humidity", _FLT),
        ("wind_speed", _FLT),
        ("date", _TS),
    ]
)

#: weather_historical — the reference's one declared schema
#: (mergeHistoricalWeather.py:71-91): zone/lat/lon/date + 15 hourly
#: FLOAT variables (historicalHourlyWeather.py:68-71).
WEATHER_HISTORICAL = _struct(
    [
        ("zone", _STR),
        ("latitude", _FLT),
        ("longitude", _FLT),
        ("date", _TS),
    ]
    + [
        (c, _FLT)
        for c in (
            "temperature_2m",
            "relative_humidity_2m",
            "dew_point_2m",
            "precipitation",
            "rain",
            "snowfall",
            "cloud_cover",
            "cloud_cover_low",
            "cloud_cover_mid",
            "cloud_cover_high",
            "wind_speed_10m",
            "wind_speed_100m",
            "wind_direction_10m",
            "wind_direction_100m",
            "wind_gusts_10m",
        )
    ]
)

SOURCE_SCHEMAS: dict[str, StructType] = {
    "fuel_mix": FUEL_MIX,
    "load": LOAD,
    "load_forecast": LOAD_FORECAST,
    "spp": SPP,
    "weather_live": WEATHER_LIVE,
    "weather_historical": WEATHER_HISTORICAL,
}

#: Sources whose timestamps carry explicit UTC offsets.
SOURCE_TS_FMT: dict[str, str | None] = {
    "spp": OFFSET_TS_FMT,
    "weather_live": OFFSET_TS_FMT,
}


class SchemaDriftError(ValueError):
    """A source's columns diverged from its declared schema."""

    def __init__(self, source: str, missing: list[str], extra: list[str]):
        self.source, self.missing, self.extra = source, missing, extra
        super().__init__(
            f"schema drift in source {source!r}: "
            f"missing columns {missing or '[]'}, unexpected columns {extra or '[]'}"
        )


def validate_columns(df: DataFrame, source: str) -> StructType:
    """Fail loudly on drift: the (normalized) column SET must equal the
    declared schema's. Order-insensitive — CSV column order is not a
    contract; names are. Returns the schema for chaining."""
    schema = SOURCE_SCHEMAS[source]
    declared = [f.name for f in schema.fields]
    have = list(df.columns)
    missing = [c for c in declared if c not in have]
    extra = [c for c in have if c not in declared]
    if missing or extra:
        raise SchemaDriftError(source, missing, extra)
    return schema


def apply_schema(df: DataFrame, source: str) -> DataFrame:
    """Validate column names, then impose the declared types and column
    order. ``try_``-casts: unparseable → null (P3 semantics; the
    pipelines' drop-null stage then removes the row, matching the
    reference's unparseable→null→dropped flow)."""
    schema = validate_columns(df, source)
    fmt = SOURCE_TS_FMT.get(source)
    cols = []
    for field in schema.fields:
        c = F.col(field.name)
        if isinstance(field.dataType, TimestampType):
            c = F.try_to_timestamp(c, F.lit(fmt)) if fmt else F.try_to_timestamp(c)
        elif not isinstance(field.dataType, StringType):
            c = c.try_cast(field.dataType)
        cols.append(c.alias(field.name))
    return df.select(*cols)
