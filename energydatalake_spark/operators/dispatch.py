"""Shared plan-dispatch probes for the temporal joins — SURVEY.md §2.4.

The r18 join probe measured that the DEFAULT plans of both temporal
joins degenerate on exactly the reference's real key shape (4 ERCOT
zones, ``Cloud Functions/open_weather_live_data.py:16-21``): the keyed
as-of window serializes each key's timeline through one task (α 1.08
superlinear, 242.6 s at x1000) and the plain band SMJ funnels all data
through 4 streams (143× the bucketed cost at x100). Both operators
ship measured, result-identical mitigations — but until r19 they were
OPT-IN kwargs, so the engine picked the scale-killer plan unless the
caller knew better.

This module is the fix: a model-sized key-cardinality probe that lets
each operator self-dispatch. ``approx_count_distinct`` over the key
column(s) of the RIGHT side (the smaller feed in both reference
pipelines — weather observations / load series) is one column-pruned
aggregate job: at 100 TB the scan reads only the key column's pages
and returns a single row, so the probe costs a scan-fraction of the
join it protects. The decision is a pure performance heuristic —
both tiers are property-tested result-identical — so the ±5 % HLL
error cannot affect correctness, only which (correct) plan runs.

The threshold defaults to ``spark.sql.shuffle.partitions`` — the
engine's own notion of target parallelism: a key count below it means
the keyed shuffle cannot fill the cluster, which is precisely when the
time-bucketed tiers win. Override per operator via
``spark.graft.asof.autoBucketMaxKeys`` /
``spark.graft.band.autoBucketMaxKeys`` (0 disables auto-bucketing).

Streaming inputs cannot run the probe (an aggregate job on an
unstarted stream is illegal), so auto mode degrades to the plain plan
there — streaming callers pass the tier explicitly, as
streaming/asof.py's incremental design does by construction.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from energydatalake_spark.portable import memo_put, memo_reset_on_new_context

ASOF_AUTO_CONF = "spark.graft.asof.autoBucketMaxKeys"
BAND_AUTO_CONF = "spark.graft.band.autoBucketMaxKeys"


def auto_key_threshold(spark, conf_key: str) -> int:
    """The key-cardinality boundary below which the bucketed tier is
    auto-selected: the operator's conf if set, else the session's
    ``spark.sql.shuffle.partitions`` (target parallelism). ``<= 0``
    disables auto-dispatch. A non-numeric operator conf fails loudly
    (it is OUR knob — garbage is a misconfiguration); a non-numeric
    shuffle-partitions value (some platforms manage it as ``"auto"``
    under AQE) falls back to Spark's stock default of 200 rather than
    breaking every default-dispatched join."""
    v = spark.conf.get(conf_key, None)
    if v is not None:
        return int(v)
    sp = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        return int(sp)
    except ValueError:
        return 200


def axis_double(df: DataFrame, col, name: str):
    """A time/numeric axis column as a double (bucket math, width
    arithmetic). DATE and TIMESTAMP_NTZ cannot cast to double
    directly; route them through session-tz TIMESTAMP — the session
    pins UTC, so the instant is unchanged. Numeric and LTZ axes cast
    directly. The SINGLE definition shared by asof's bucket grid,
    band's width probe, and the join-probe diagnostics (r19 review:
    two parallel axis helpers could drift independently)."""
    if isinstance(df.schema[name].dataType, (T.DateType, T.TimestampNTZType)):
        col = col.cast("timestamp")
    return col.cast("double")


def key_tuple(keys: Sequence[str]):
    """The key tuple as ONE column — ALWAYS a struct, even for a single
    key (r19 review pass 2): ``approx_count_distinct`` over a bare
    column IGNORES nulls, but NULL is a real key group downstream
    (the window fill's partitionBy and the null-safe carry grid both
    group NULLs), so the probe must count it. ``struct(col)`` turns a
    NULL key into a non-null struct value, counted identically at any
    key arity."""
    return F.struct(*[F.col(k) for k in keys])


#: Session-scoped probe memo (VERDICT r19 #6): the five asof/band
#: registry queries probe semantically identical right sides, so the
#: cardinality job ran five times per suite for one decision. Keyed on
#: the ANALYZED-PLAN semantic hash + key tuple — equal plans (same
#: source, same filters/projections) share one probe; a different
#: filter is a different hash. The key does NOT see the input's
#: contents: rewriting the same parquet path within one session keeps
#: the analyzed-plan hash, so the memo then serves the OLD file's
#: cardinality. The blast radius is the tier choice only — both tiers
#: are property-tested to give identical results, so a stale entry
#: (or a hash collision) can cost speed, never correctness. Keying on
#: an input snapshot (file listing + sizes) would close this gap.
#: Lifecycle: cleared when the owning SparkContext object changes, and
#: capped with oldest-first eviction, both shared with
#: ``portable.cached_expr``. Decisions, not results, are cached — every
#: query still computes from the parquet inputs.
_PROBE_CACHE: dict[tuple[int, tuple[str, ...]], int] = {}
_PROBE_CACHE_SC: list = [None]


def key_count_estimate(df: DataFrame, keys: Sequence[str]) -> int:
    """Approximate distinct count of the key tuple — ONE column-pruned
    aggregate job, model-sized result, memoized per (analyzed-plan
    semantic hash, keys) within a session. NULL keys count as one value
    (they form a real window/join group downstream, so they deserve a
    parallelism slot like any other key — see ``key_tuple``)."""
    memo_reset_on_new_context(
        _PROBE_CACHE, _PROBE_CACHE_SC, df.sparkSession.sparkContext
    )
    try:
        memo_key = (df.semanticHash(), tuple(keys))
    except Exception:
        memo_key = None
    if memo_key is not None and memo_key in _PROBE_CACHE:
        return _PROBE_CACHE[memo_key]
    row = df.agg(F.approx_count_distinct(key_tuple(keys)).alias("n")).first()
    n = int(row["n"] or 0)
    if memo_key is not None:
        memo_put(_PROBE_CACHE, memo_key, n)
    return n


def keys_below_threshold(
    left: DataFrame, right: DataFrame, keys: Sequence[str], conf_key: str
) -> bool:
    """True when the probed key cardinality is under the auto-dispatch
    threshold — the low-cardinality regime where the time-bucketed
    tiers are the measured win. False for streaming inputs (probe
    illegal) and when the threshold conf disables auto (``<= 0``)."""
    if left.isStreaming or right.isStreaming:
        return False
    threshold = auto_key_threshold(right.sparkSession, conf_key)
    if threshold <= 0:
        return False
    return key_count_estimate(right, keys) < threshold
