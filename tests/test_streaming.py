"""Streaming tests: windowed rollups, sessionization, dedup, as-of and
the hardened stream runner."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from energydatalake_spark.io.readers import read_table
from energydatalake_spark.streaming.windows import hourly_rollup, run_stream_to_memory

from tests.conftest import SF_SMOKE


def test_hourly_rollup_matches_batch(spark):
    from energydatalake_spark.io.readers import read_table_stream

    raw = read_table(spark, SF_SMOKE, "events")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = read_table_stream(spark, SF_SMOKE, "events")
    roll = hourly_rollup(stream, "ts", "value", keys=["event_type"])
    got = run_stream_to_memory(spark, roll, "t_roll", "complete")
    batch = (
        raw.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .collect()
    )
    expect = {(r.hour_start, r.event_type): r.n_rows for r in batch}
    actual = {(r.hour_start, r.event_type): r.n_rows for r in got.collect()}
    assert actual == expect and len(actual) > 100


def test_sessionize_batch_matches_duckdb(spark):
    import duckdb

    from energydatalake_spark.streaming.sessions import sessionize, sessionize_sql

    e = read_table(spark, SF_SMOKE, "events")
    got = {
        (r.user_id, r.session_idx): (
            r.session_start_us,
            r.session_end_us,
            r.n_events,
        )
        for r in sessionize(e, gap_minutes=240).collect()
    }
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{SF_SMOKE}/events.parquet'"
    )
    expect = {
        (u, sid): (s0, s1, n)
        for u, sid, s0, s1, n, _ in con.sql(sessionize_sql(240)).fetchall()
    }
    assert got == expect and len(got) > 10


def test_streaming_dedup_cross_batch(spark, tmp_path):
    """Each distinct key must be emitted exactly once even when its
    duplicates arrive in DIFFERENT micro-batches (state carries the
    seen-key set across batches)."""
    import os

    import pandas as pd

    from energydatalake_spark.streaming.dedup import streaming_dedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    pd.DataFrame({"k": ["a", "b", "a"]}).to_parquet(os.path.join(src, "b0.parquet"))
    schema = "k string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = streaming_dedup(stream, ["k"])
    q = (
        out.writeStream.format("memory")
        .queryName("sd_cross_batch")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch: one duplicate of batch 0 + one new key
        pd.DataFrame({"k": ["b", "c"]}).to_parquet(os.path.join(src, "b1.parquet"))
        q.processAllAvailable()
        got = sorted(r.k for r in spark.table("sd_cross_batch").collect())
    finally:
        q.stop()
    assert got == ["a", "b", "c"]  # 'a' and 'b' once despite 2+ arrivals


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Watermark-bounded variant: duplicates inside the horizon are
    suppressed; state does not require keeping every key forever."""
    import os
    from datetime import datetime

    import pandas as pd

    from energydatalake_spark.streaming.dedup import (
        streaming_dedup_within_watermark,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    t0 = datetime(2024, 3, 1, 0, 0, 0)
    pdf = pd.DataFrame({"k": ["a", "a", "b"], "ts": [t0, t0, t0]})
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # parquet TIMESTAMP(MICROS)
    pdf.to_parquet(os.path.join(src, "b0.parquet"))
    stream = spark.readStream.schema("k string, ts timestamp").parquet(src)
    out = streaming_dedup_within_watermark(stream, ["k"], "ts", "10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("sd_watermark")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r.k for r in spark.table("sd_watermark").collect())
    finally:
        q.stop()
    assert got == ["a", "b"]  # in-horizon duplicate suppressed


def test_registry_streaming_dedup_uses_stream_not_fallback(spark):
    """The registry query must run its STREAMING path (no RuntimeWarning
    fallback) and match the batch DISTINCT twin exactly — pins the
    driver-robust wrapper added for CORRECTNESS_r03."""
    import warnings

    from energydatalake_spark.plans.registry import QUERIES

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)  # fallback would raise
        got = QUERIES["streaming_dedup"].build(spark, SF_SMOKE)
    expect = (
        read_table(spark, SF_SMOKE, "documents")
        .select(F.md5(F.col("text")).alias("text_md5"))
        .distinct()
    )
    assert sorted(r.text_md5 for r in got.collect()) == sorted(
        r.text_md5 for r in expect.collect()
    )
    # scoped shuffle-partition override must be restored
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts


def test_run_stream_to_memory_survives_bad_first_attempt(spark, tmp_path):
    """availableNow + bounded await + retry: a fresh bounded stream
    finishes well inside the timeout and the memory table is readable
    after the query is stopped and its checkpoint deleted."""
    import pandas as pd

    src = str(tmp_path / "seen")
    os.makedirs(src)
    pd.DataFrame({"k": ["a", "b", "a"]}).to_parquet(os.path.join(src, "p0.parquet"))
    stream = spark.readStream.schema("k string").parquet(src)
    out = run_stream_to_memory(
        spark,
        stream.groupBy("k").count(),
        "t_retrysafe",
        "complete",
        timeout_sec=60.0,
        shuffle_partitions=4,
    )
    assert {(r.k, r["count"]) for r in out.collect()} == {("a", 2), ("b", 1)}


def test_stream_static_join_enriches_across_batches(spark, tmp_path):
    """Stream-static join: the static side must be re-joined on EVERY
    micro-batch — keys arriving in later batches still enrich."""
    import os

    import pandas as pd

    src = str(tmp_path / "src")
    os.makedirs(src)
    pd.DataFrame({"k": [1, 1]}).to_parquet(os.path.join(src, "b0.parquet"))
    dim = spark.createDataFrame([(1, "A"), (2, "B")], "k bigint, seg string")
    stream = (
        spark.readStream.schema("k bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out = stream.join(F.broadcast(dim), "k").groupBy("seg").count()
    q = (
        out.writeStream.format("memory")
        .queryName("t_enrich")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        pd.DataFrame({"k": [2, 2, 2]}).to_parquet(os.path.join(src, "b1.parquet"))
        q.processAllAvailable()
        got = {(r.seg, r["count"]) for r in spark.table("t_enrich").collect()}
    finally:
        q.stop()
    assert got == {("A", 2), ("B", 3)}  # batch-1 keys enriched too


def test_streaming_asof_matches_across_batches(spark, tmp_path):
    """The interval join must match a click against a purchase that
    arrives in a DIFFERENT micro-batch — i.e. the join retains state
    across batches (watermark + tolerance bound it, not batch edges)."""
    import datetime

    from energydatalake_spark.streaming.asof import (
        asof_reduce,
        streaming_asof_candidates,
    )

    src = tmp_path / "asof_src"
    src.mkdir()
    schema = (
        "event_id bigint, user_id bigint, ts timestamp, "
        "event_type string, value double"
    )
    t0 = datetime.datetime(2024, 1, 5, 12, 0, 0)

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    # File 1: the click. File 2 (a later micro-batch under
    # maxFilesPerTrigger=1): two purchases before the click — the later
    # one inside the tolerance must win; plus one after it (no match).
    _write("f1", [(1, 7, t0, "click", 0.0)])
    _write(
        "f2",
        [
            (2, 7, t0 - datetime.timedelta(hours=30), "purchase", 10.0),
            (3, 7, t0 - datetime.timedelta(hours=2), "purchase", 20.0),
            (4, 7, t0 + datetime.timedelta(hours=1), "purchase", 30.0),
        ],
    )

    def _stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src / "*"))
        )

    clicks = (
        _stream()
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    purchases = (
        _stream()
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("value").alias("purchase_value"))
    )
    cand = streaming_asof_candidates(
        clicks,
        purchases,
        on="ts",
        by="user_id",
        tolerance="2 days",
        right_ts_alias="purchase_ts",
    )
    mem = run_stream_to_memory(
        spark, cand, "asof_xbatch", "append", timeout_sec=120.0,
        shuffle_partitions=4,
    )
    # Both in-window purchases are candidates despite arriving in a
    # different batch than the click; the post-hours one is not.
    got = {(r.event_id, r.purchase_value) for r in mem.collect()}
    assert got == {(1, 10.0), (1, 20.0)}

    reduced = asof_reduce(
        mem, "event_id", "purchase_ts", tie_break=["purchase_value"]
    ).collect()
    assert len(reduced) == 1
    assert reduced[0].purchase_value == 20.0
