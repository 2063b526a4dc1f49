"""End-to-end pipeline tests over the deterministic ERCOT fixtures —
the reference-faithful slice (SURVEY.md §3 entry points 1-2)."""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from energydatalake_spark.pipelines import ercot
from energydatalake_spark.pipelines.fixtures import generate_all


@pytest.fixture()
def env(tmp_path):
    """Fresh fixture set per test — pipelines consume (archive) their
    sources, so sharing one copy would make test order matter."""
    layout = generate_all(str(tmp_path / "src"))
    return tmp_path, layout


def _cfg(base, src, name, src2=None):
    return ercot.PipelineConfig(
        source_dir=src,
        sink_path=str(base / "warehouse" / name),
        archive_dir=str(base / "archive" / name),
        source2_dir=src2,
        archive2_dir=str(base / "archive" / f"{name}_2") if src2 else None,
    )


def test_load_latest_pipeline(spark, env):
    base, layout = env
    cfg = _cfg(base, layout["load_latest"], "load_latest")
    rep = ercot.load_latest(spark, cfg)
    assert rep is not None and rep["rows"] > 0
    # clean output: no nulls survive
    assert all(v == 0 for v in rep["null_profile"].values())
    # sink is partitioned parquet, readable, typed
    out = spark.read.parquet(cfg.sink_path)
    assert dict(out.dtypes)["load"] == "decimal(10,2)"
    assert "dt" in out.columns
    # source archived: folder now empty, archive populated
    assert rep["archived"] and not any(
        f.endswith(".csv") for f in os.listdir(cfg.source_dir)
    )
    # rerun on the emptied source = clean no-op
    assert ercot.load_latest(spark, cfg) is None


def test_load_forecast_pipeline(spark, env):
    base, layout = env
    cfg = _cfg(base, layout["load_forecast"], "load_forecast")
    rep = ercot.load_forecast(spark, cfg)
    assert rep is not None and rep["rows"] > 0
    out = spark.read.parquet(cfg.sink_path)
    assert dict(out.dtypes)["publish_time"] == "timestamp"


def test_fm_load_merge_matches_pandas_merge_asof(spark, env):
    """The distributed as-of must reproduce the reference's
    pd.merge_asof + dropna semantics (merge:70-79) on the fixtures."""
    base, layout = env
    cfg = _cfg(base, layout["fuel_mix"], "fm_load", src2=layout["load_latest"])
    rep = ercot.fm_load_merge(spark, cfg)
    assert rep is not None and rep["rows"] > 0
    got = (
        spark.read.parquet(cfg.sink_path)
        .select("time", "load")
        .toPandas()
        .sort_values(["time", "load"])
        .reset_index(drop=True)
    )
    # independent pandas recomputation from the raw fixture CSVs
    import glob

    fm = pd.concat(
        [pd.read_csv(f) for f in glob.glob(os.path.join(cfg.archive_dir, "*.csv*"))]
    )
    ld = pd.concat(
        [pd.read_csv(f) for f in glob.glob(os.path.join(cfg.archive2_dir, "*.csv*"))]
    )
    fm["time"] = pd.to_datetime(fm["Time"], errors="coerce")
    ld["time"] = pd.to_datetime(ld["Time"], errors="coerce")
    fm = fm.dropna(subset=["time"]).sort_values("time")
    ld = ld.dropna(subset=["time"]).sort_values("time")
    merged = pd.merge_asof(fm, ld[["time", "Load"]], on="time").dropna()
    merged = merged.drop_duplicates(
        subset=[c for c in merged.columns if c != "time"] + ["time"]
    )
    expect = (
        merged[["time", "Load"]]
        .rename(columns={"Load": "load"})
        .astype({"load": float})
        .sort_values(["time", "load"])
        .reset_index(drop=True)
    )
    got["load"] = got["load"].astype(float)
    pd.testing.assert_frame_equal(got, expect, check_dtype=False)


def test_spp_weather_merge(spark, env):
    base, layout = env
    cfg = _cfg(base, layout["spp"], "spp_weather", src2=layout["weather_live"])
    rep = ercot.spp_weather_merge(spark, cfg)
    assert rep is not None and rep["rows"] > 0
    out = spark.read.parquet(cfg.sink_path)
    rows = out.collect()
    # every joined row satisfies the band predicate and zone equality
    for r in rows:
        assert r.interval_start <= r.weather_time <= r.interval_end
    # 12 projected columns + dt partition
    assert len(out.columns) == 13


def test_merge_historical_weather(spark, env):
    base, layout = env
    cfg = _cfg(base, layout["weather_historical"], "hist_weather")
    rep = ercot.merge_historical_weather(spark, cfg)
    assert rep is not None and rep["rows"] > 0
    assert set(rep["zone_counts"]) == {
        "LZ_HOUSTON",
        "LZ_WEST",
        "LZ_SOUTH",
        "LZ_NORTH",
    }
    # csv export + parquet sink both present
    assert os.path.isdir(cfg.sink_path + "_csv")
    assert spark.read.parquet(cfg.sink_path).count() == rep["rows"]


def test_merge_historical_weather_releases_its_cache(spark, env):
    """Two deliveries in one long-lived session, with no clearCache in
    between: the second call must read its own delivery, not the first
    one's cached CSV scan (same folder, same plan)."""
    base, layout = env
    cfg = _cfg(base, layout["weather_historical"], "hist_weather")
    assert ercot.merge_historical_weather(spark, cfg) is not None
    archived = pd.read_csv(os.path.join(cfg.archive_dir, "LZ_WEST.csv"))
    # rows 1-10: no null cells (row 0 carries a null dew point)
    archived.iloc[1:11].to_csv(os.path.join(cfg.source_dir, "second.csv"), index=False)
    rep = ercot.merge_historical_weather(spark, cfg)
    assert rep["rows"] == 10 and rep["zone_counts"] == {"LZ_WEST": 10}
    assert spark.read.parquet(cfg.sink_path).count() == 10


def test_cli_runner_end_to_end(spark, tmp_path, monkeypatch):
    """python -m energydatalake_spark --base ... --fixtures: all five
    pipelines run, warehouse tables exist, rerun is a clean no-op."""
    import sys

    from energydatalake_spark import __main__ as cli
    from energydatalake_spark.pipelines.fixtures import generate_all

    base = str(tmp_path / "lake")
    generate_all(base)
    configs = cli.build_configs(base)
    from energydatalake_spark.pipelines import ercot as jobs

    for name in [
        "fm_load_merge",
        "load_latest",
        "load_forecast",
        "spp_weather_merge",
        "merge_historical_weather",
    ]:
        rep = getattr(jobs, name)(spark, configs[name])
        assert rep is not None and rep["rows"] > 0, name
        # second run: queue drained -> no-op
        assert getattr(jobs, name)(spark, configs[name]) is None, name
    import os

    assert sorted(os.listdir(os.path.join(base, "warehouse"))) == [
        "ercot_fm_load_merged",
        "ercot_load_forecast",
        "ercot_load_latest",
        "ercot_spp_weather_merged",
        "historical_weather_data",
        "historical_weather_data_csv",
    ]


def test_cli_query_surface(spark, capsys):
    """`query <name>` and `list-queries` subcommands: every registry
    entry addressable by name, plan mode prints a physical plan.

    The CLI builds its own tuned session via get_spark() — in-process
    that is builder.getOrCreate() against the FIXTURE session, and
    Spark applies the builder's runtime confs to it (r19: this
    silently flipped the shared session's shuffle partitions 8→32 for
    every later test file, which the auto-dispatch threshold then
    surfaced as plan-test failures). Snapshot + restore the confs the
    CLI's defaults can touch."""
    from energydatalake_spark import __main__ as cli
    from energydatalake_spark.plans.registry import QUERIES

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        cli.run_query_cli(["list-queries"])
        listed = capsys.readouterr().out.strip().splitlines()
        assert len(listed) == len(QUERIES)
        assert listed[0].startswith("pricing_summary\t")

        from tests.conftest import SF_SMOKE

        cli.run_query_cli(["query", "group_count", "--sf-dir", SF_SMOKE])
        out = capsys.readouterr().out
        assert "event_type" in out and "n_rows" in out

        cli.run_query_cli(
            ["query", "group_count", "--sf-dir", SF_SMOKE, "--explain"]
        )
        out = capsys.readouterr().out
        assert "Physical Plan" in out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def test_upsert_rerun_is_row_idempotent(spark, env):
    """Verdict r1 item 7: re-delivered files (crash between sink write
    and archive) must not duplicate rows — the warehouse append is an
    insert-only MERGE on the natural key, not a blind append."""
    import glob
    import shutil

    base, layout = env
    cfg = _cfg(base, layout["fuel_mix"], "fm_load", src2=layout["load_latest"])
    rep1 = ercot.fm_load_merge(spark, cfg)
    assert rep1 is not None and rep1["rows"] > 0
    first = sorted(
        map(tuple, spark.read.parquet(cfg.sink_path).drop("dt").collect())
    )
    # Re-deliver: copy every archived file back into the source queues,
    # simulating the reference's cron re-processing a crashed batch.
    for adir, sdir in [
        (cfg.archive_dir, cfg.source_dir),
        (cfg.archive2_dir, cfg.source2_dir),
    ]:
        for f in glob.glob(os.path.join(adir, "*.csv*")):
            shutil.copy(f, sdir)
    rep2 = ercot.fm_load_merge(spark, cfg)
    assert rep2 is not None  # pipeline ran again over the same data
    second = sorted(
        map(tuple, spark.read.parquet(cfg.sink_path).drop("dt").collect())
    )
    assert second == first  # byte-identical table: zero duplicate rows


def test_upsert_appends_only_new_keys(spark, tmp_path):
    from energydatalake_spark.io.writers import upsert_table

    df1 = spark.createDataFrame(
        [(1, "2024-03-01 00:00:00", 10.0), (2, "2024-03-01 01:00:00", 20.0)],
        "k bigint, t string, v double",
    ).withColumn("t", ercot.F.to_timestamp("t"))
    path = str(tmp_path / "tbl")
    upsert_table(df1, path, keys=["k"], partition_date_col="t")
    # overlap (k=2) + genuinely new (k=3, lands in a NEW partition day)
    df2 = spark.createDataFrame(
        [(2, "2024-03-01 01:00:00", 999.0), (3, "2024-03-02 02:00:00", 30.0)],
        "k bigint, t string, v double",
    ).withColumn("t", ercot.F.to_timestamp("t"))
    upsert_table(df2, path, keys=["k"], partition_date_col="t")
    rows = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert rows == {1: 10.0, 2: 20.0, 3: 30.0}  # k=2 not overwritten, not duped


def test_upsert_dedupes_within_batch(spark, tmp_path):
    """Two identical rows arriving in the SAME batch (e.g. duplicate
    files drained by one AvailableNow trigger) insert exactly once."""
    from energydatalake_spark.io.writers import upsert_table

    df = spark.createDataFrame(
        [(1, "2024-03-01 00:00:00", 10.0), (1, "2024-03-01 00:00:00", 10.0)],
        "k bigint, t string, v double",
    ).withColumn("t", ercot.F.to_timestamp("t"))
    path = str(tmp_path / "tbl")
    upsert_table(df, path, keys=["k"], partition_date_col="t")
    assert spark.read.parquet(path).count() == 1
    # and a later batch with an internal duplicate of a NEW key
    df2 = spark.createDataFrame(
        [(2, "2024-03-01 01:00:00", 20.0), (2, "2024-03-01 01:00:00", 20.0)],
        "k bigint, t string, v double",
    ).withColumn("t", ercot.F.to_timestamp("t"))
    upsert_table(df2, path, keys=["k"], partition_date_col="t")
    assert sorted(r.k for r in spark.read.parquet(path).collect()) == [1, 2]


def test_upsert_null_key_inserts_once(spark, tmp_path):
    """A null-valued key must match its prior insertion (eqNullSafe),
    not re-insert on every rerun."""
    from energydatalake_spark.io.writers import upsert_table

    df = spark.createDataFrame(
        [(None, "2024-03-01 00:00:00", 1.0), (7, "2024-03-01 00:00:00", 2.0)],
        "k bigint, t string, v double",
    ).withColumn("t", ercot.F.to_timestamp("t"))
    path = str(tmp_path / "tbl")
    upsert_table(df, path, keys=["k"], partition_date_col="t")
    upsert_table(df, path, keys=["k"], partition_date_col="t")  # redelivery
    rows = sorted(
        ((r.k, r.v) for r in spark.read.parquet(path).collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    assert rows == [(7, 2.0), (None, 1.0)]


def test_upsert_null_and_pre1900_dates_exactly_once(spark, tmp_path):
    """Rows landing in the null-dt partition (unparseable timestamp) or
    a pre-1900 partition sit OUTSIDE the dt-pruned read-back's sanity
    bound; the read-back must still see them so redelivery stays
    exactly-once (ADVICE r3 medium, closed r5)."""
    from energydatalake_spark.io.writers import upsert_table

    df = spark.createDataFrame(
        [
            (1, None, 1.0),  # null event date → dt=null partition
            (2, "1850-06-01 12:00:00", 2.0),  # pre-1900 partition
            (3, "2024-03-01 00:00:00", 3.0),  # healthy row
        ],
        "k bigint, t string, v double",
    ).withColumn("t", ercot.F.to_timestamp("t"))
    path = str(tmp_path / "tbl")
    upsert_table(df, path, keys=["k"], partition_date_col="t")
    upsert_table(df, path, keys=["k"], partition_date_col="t")  # redelivery
    got = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0)]  # each exactly once


def _kvt(spark, rows):
    return spark.createDataFrame(rows, "k bigint, t string, v double").withColumn(
        "t", F.to_timestamp("t")
    )


def _plant_corrupt_parquet(path, partition):
    bad = os.path.join(path, partition, "part-corrupt.parquet")
    with open(bad, "wb") as fh:
        fh.write(b"not a parquet file")
    return bad


def test_upsert_new_partitions_skip_untouched_partitions(spark, tmp_path):
    """A batch that lands only in new dt partitions appends without
    reading the target back: an untouched partition holding a corrupt
    parquet file is neither listed for schema nor scanned, so the cost
    of a batch tracks the batch, not the warehouse."""
    from energydatalake_spark.io.writers import upsert_table

    path = str(tmp_path / "tbl")
    seed = [(1, "2024-03-01 00:00:00", 1.0), (2, "2024-03-02 00:00:00", 2.0)]
    upsert_table(_kvt(spark, seed), path, keys=["k"], partition_date_col="t")
    bad = _plant_corrupt_parquet(path, "dt=2024-03-01")
    batch = [(3, "2024-03-05 00:00:00", 3.0), (4, "2024-03-06 00:00:00", 4.0)]
    upsert_table(_kvt(spark, batch), path, keys=["k"], partition_date_col="t")
    os.remove(bad)
    got = sorted((r.k, r.v, str(r.dt)) for r in spark.read.parquet(path).collect())
    assert got == [
        (1, 1.0, "2024-03-01"),
        (2, 2.0, "2024-03-02"),
        (3, 3.0, "2024-03-05"),
        (4, 4.0, "2024-03-06"),
    ]


def test_upsert_mixed_new_and_existing_partitions_exactly_once(spark, tmp_path):
    """A batch spanning an existing and a new partition reads back only
    the existing touched one (the corrupt untouched partition is never
    opened) and stays exactly-once when it is delivered twice."""
    from energydatalake_spark.io.writers import upsert_table

    path = str(tmp_path / "tbl")
    seed = [(1, "2024-03-01 00:00:00", 1.0), (2, "2024-03-02 00:00:00", 2.0)]
    upsert_table(_kvt(spark, seed), path, keys=["k"], partition_date_col="t")
    bad = _plant_corrupt_parquet(path, "dt=2024-03-01")
    batch = [
        (2, "2024-03-02 00:00:00", 99.0),  # known key, existing partition
        (3, "2024-03-02 06:00:00", 3.0),  # new key, existing partition
        (4, "2024-03-03 00:00:00", 4.0),  # new partition
    ]
    for _ in range(2):  # the second pass is a redelivery
        upsert_table(_kvt(spark, batch), path, keys=["k"], partition_date_col="t")
    os.remove(bad)
    got = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    assert got == [(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)]


def test_load_latest_fresh_day_job_count(spark, env):
    """Guard on the write path's job count: a fresh day into an existing
    table costs the CSV scan, the batch's dedup and dt collect, and the
    append — no header job and no read-back jobs."""
    import numpy as np

    from energydatalake_spark.pipelines.fixtures import _write_csvs, gen_load

    base, layout = env
    cfg = _cfg(base, layout["load_latest"], "load_latest")
    first = ercot.load_latest(spark, cfg)  # the existing table
    assert first is not None
    fresh = gen_load(np.random.default_rng(7))
    for c in ("Time", "Interval Start", "Interval End"):
        shifted = pd.to_datetime(fresh[c]) + pd.Timedelta(days=7)
        fresh[c] = shifted.dt.strftime("%Y-%m-%d %H:%M:%S")
    _write_csvs(fresh, cfg.source_dir)

    sc = spark.sparkContext
    group = "test_load_latest_fresh_day"
    sc.setJobGroup(group, "fresh day into an existing table")
    try:
        rep = ercot.load_latest(spark, cfg)
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert rep is not None and rep["rows"] > 0
    assert spark.read.parquet(cfg.sink_path).count() == first["rows"] + rep["rows"]
    assert len(jobs) <= 6, sorted(jobs)


def test_upsert_matches_duckdb_insert_only_merge(spark, tmp_path):
    """The writers.py claim is "on Delta/Iceberg the same call-site
    maps 1:1 onto MERGE ... WHEN NOT MATCHED INSERT — a format swap,
    not a semantics change". No Delta jar ships in this environment,
    so pin the SEMANTICS half of that claim against an independent
    engine: replay the same batch sequence through DuckDB's insert-only
    merge (null-safe NOT EXISTS anti-join, the relational definition of
    WHEN NOT MATCHED) and require the final tables to match row-for-row
    — including redelivery, within-batch duplicates, and a null key."""
    import duckdb

    from energydatalake_spark.io.writers import upsert_table

    path = str(tmp_path / "sink")
    batches = [
        [("a", 1, "2024-01-01 00:00:00"), ("b", 2, "2024-01-01 01:00:00")],
        # redelivery of a + a genuinely new key + an exact in-batch dup
        [("a", 1, "2024-01-01 00:00:00"), ("c", 3, "2024-01-02 00:00:00"),
         ("c", 3, "2024-01-02 00:00:00")],
        # null key (inserts exactly once across both deliveries)
        [(None, 9, "2024-01-03 00:00:00"), (None, 9, "2024-01-03 00:00:00")],
    ]
    schema = "k string, v bigint, t string"
    for rows in batches:
        df = spark.createDataFrame(rows, schema).withColumn(
            "t", F.to_timestamp("t")
        )
        upsert_table(df, path, keys=["k"], partition_date_col="t")

    con = duckdb.connect()
    con.execute("CREATE TABLE target (k VARCHAR, v BIGINT, t TIMESTAMP)")
    for rows in batches:
        con.execute("CREATE OR REPLACE TABLE batch (k VARCHAR, v BIGINT, t TIMESTAMP)")
        con.executemany("INSERT INTO batch VALUES (?, ?, ?)", rows)
        con.execute("""
            INSERT INTO target
            SELECT DISTINCT k, v, t FROM batch b
            WHERE NOT EXISTS (
              SELECT 1 FROM target t2 WHERE t2.k IS NOT DISTINCT FROM b.k
            )
        """)
    nonefirst = lambda r: (r[0] is None, r)  # noqa: E731 — None-safe sort
    want = sorted(
        con.execute("SELECT k, v, CAST(t AS VARCHAR) FROM target").fetchall(),
        key=nonefirst,
    )
    got = sorted(
        (
            (r.k, r.v, str(r.t))
            for r in spark.read.parquet(path).select("k", "v", "t").collect()
        ),
        key=nonefirst,
    )
    assert got == want


def test_upsert_concurrent_writer_boundary_is_documented(spark, tmp_path):
    """The OTHER half of the Delta-mapping claim — what plain Parquet
    does NOT give: two writers merging the same key against the same
    table snapshot both see it absent and both insert (lost update).
    Delta's MERGE serializes exactly this through the transaction log;
    our contract is single-writer (the reference's Scheduler-serialized
    jobs, writers.py "Single-writer semantics"). This test freezes the
    boundary deterministically: writer A computes its merge decision on
    the old snapshot, writer B commits first, A appends afterwards —
    the duplicate key MUST appear. If this assertion ever starts
    failing, the non-atomicity documentation is stale (e.g. someone
    added locking) and both must be revisited together."""
    from energydatalake_spark.io.writers import _fresh_rows, upsert_table

    path = str(tmp_path / "sink_race")
    schema = "k string, v bigint, t string"

    def batch(v):
        return spark.createDataFrame(
            [("dup", v, "2024-01-01 00:00:00")], schema
        ).withColumn("t", F.to_timestamp("t"))

    upsert_table(batch(0), path, keys=["k"], partition_date_col="t")
    seeded = spark.read.parquet(path)
    assert seeded.count() == 1

    # Writer A: merge decision against the CURRENT snapshot, for a key
    # not yet present — materialized now, before B commits.
    a_fresh = _fresh_rows(
        batch(1).withColumn("dt", F.to_date("t")).withColumn("k", F.lit("race")),
        seeded,
        ["k"],
    ).collect()
    assert len(a_fresh) == 1
    # Writer B: full upsert of the same new key commits first.
    upsert_table(
        batch(2).withColumn("k", F.lit("race")).drop("dt"),
        path,
        keys=["k"],
        partition_date_col="t",
    )
    # Writer A: append of its stale decision — plain Parquet accepts it.
    spark.createDataFrame(a_fresh).write.mode("append").partitionBy("dt").parquet(path)

    n_race = spark.read.parquet(path).filter(F.col("k") == "race").count()
    assert n_race == 2  # the documented lost-update: one key, two rows


def test_apply_cdc_batch_matches_duckdb_merge(spark, tmp_path):
    """Delete-capable CDC MERGE replayed against DuckDB applying the
    relational definition (delete batch keys, insert surviving
    latest-per-key images): final tables must match row-for-row across
    batches covering update, delete, delete-then-reinsert,
    insert+delete netting out within one batch, and a null key."""
    import duckdb

    from energydatalake_spark.io.writers import apply_cdc_batch

    path = str(tmp_path / "cdc_sink")
    schema = "k string, v bigint, t string, op string, seq bigint"
    batches = [
        # seed
        [("a", 1, "2024-01-01 00:00:00", "I", 1),
         ("b", 2, "2024-01-01 01:00:00", "I", 2),
         ("c", 3, "2024-01-02 00:00:00", "I", 3),
         (None, 9, "2024-01-02 01:00:00", "I", 4)],
        # update a, delete b, insert+delete d (nets out), update null key
        [("a", 10, "2024-01-01 00:00:00", "U", 5),
         ("b", 2, "2024-01-01 01:00:00", "D", 6),
         ("d", 4, "2024-01-01 02:00:00", "I", 7),
         ("d", 4, "2024-01-01 02:00:00", "D", 8),
         (None, 90, "2024-01-02 01:00:00", "U", 9)],
        # reinsert b, delete a; in-batch seq ordering: c updated then
        # deleted then updated again — last (highest seq) wins
        [("b", 20, "2024-01-01 01:00:00", "I", 10),
         ("a", 10, "2024-01-01 00:00:00", "D", 11),
         ("c", 31, "2024-01-02 00:00:00", "U", 12),
         ("c", 3, "2024-01-02 00:00:00", "D", 13),
         ("c", 32, "2024-01-02 00:00:00", "U", 14)],
    ]
    for rows in batches:
        df = spark.createDataFrame(rows, schema).withColumn(
            "t", F.to_timestamp("t")
        )
        apply_cdc_batch(
            df, path, keys=["k"], op_col="op", seq_col="seq",
            partition_date_col="t",
        )

    con = duckdb.connect()
    con.execute("CREATE TABLE target (k VARCHAR, v BIGINT, t TIMESTAMP)")
    for rows in batches:
        con.execute(
            "CREATE OR REPLACE TABLE batch (k VARCHAR, v BIGINT, t TIMESTAMP, op VARCHAR, seq BIGINT)"
        )
        con.executemany("INSERT INTO batch VALUES (?, ?, ?, ?, ?)", rows)
        con.execute("""
            CREATE OR REPLACE TABLE latest AS
            SELECT k, v, t, op FROM (
              SELECT *, ROW_NUMBER() OVER (
                PARTITION BY k ORDER BY seq DESC) AS rn FROM batch
            ) WHERE rn = 1
        """)
        con.execute("""
            DELETE FROM target t2 WHERE EXISTS (
              SELECT 1 FROM latest l WHERE l.k IS NOT DISTINCT FROM t2.k)
        """)
        con.execute(
            "INSERT INTO target SELECT k, v, t FROM latest WHERE op <> 'D'"
        )
    nonefirst = lambda r: (r[0] is None, r)  # noqa: E731
    want = sorted(
        con.execute("SELECT k, v, CAST(t AS VARCHAR) FROM target").fetchall(),
        key=nonefirst,
    )
    got = sorted(
        (
            (r.k, r.v, str(r.t))
            for r in spark.read.parquet(path).select("k", "v", "t").collect()
        ),
        key=nonefirst,
    )
    assert got == want
    # expected final state, spelled out: a deleted, b reinserted (20),
    # c last-update (32), d netted out, null key updated (90)
    assert [(k, v) for k, v, _ in got] == [("b", 20), ("c", 32), (None, 90)]


def test_apply_cdc_batch_drops_fully_deleted_partition(spark, tmp_path):
    """Dynamic partition overwrite cannot rewrite a partition to empty;
    a dt whose rows were ALL deleted must still disappear (stale
    directory removed), while untouched partitions keep their files."""
    import glob
    import os

    from energydatalake_spark.io.writers import apply_cdc_batch

    path = str(tmp_path / "cdc_sink2")
    schema = "k string, v bigint, t string, op string, seq bigint"
    seed = [("a", 1, "2024-03-01 10:00:00", "I", 1),
            ("b", 2, "2024-03-02 10:00:00", "I", 2)]
    df = spark.createDataFrame(seed, schema).withColumn("t", F.to_timestamp("t"))
    apply_cdc_batch(df, path, keys=["k"], seq_col="seq", partition_date_col="t")
    files_untouched = set(glob.glob(os.path.join(path, "dt=2024-03-02", "*.parquet")))

    batch = [("a", 1, "2024-03-01 10:00:00", "D", 3)]
    df2 = spark.createDataFrame(batch, schema).withColumn("t", F.to_timestamp("t"))
    apply_cdc_batch(df2, path, keys=["k"], seq_col="seq", partition_date_col="t")

    assert not os.path.isdir(os.path.join(path, "dt=2024-03-01"))
    # untouched partition: same physical files (not rewritten)
    assert set(glob.glob(os.path.join(path, "dt=2024-03-02", "*.parquet"))) == files_untouched
    rows = spark.read.parquet(path).collect()
    assert [(r.k, r.v) for r in rows] == [("b", 2)]


def test_apply_cdc_batch_drops_emptied_null_dt_partition(spark, tmp_path):
    """ADVICE r7 (medium): a delete batch that empties the null-dt
    partition (dt=__HIVE_DEFAULT_PARTITION__, read back like any
    touched partition) must remove that directory too —
    otherwise the pre-delete images resurrect on the next read."""
    import os

    from energydatalake_spark.io.writers import apply_cdc_batch

    path = str(tmp_path / "cdc_sink3")
    schema = "k string, v bigint, t string, op string, seq bigint"
    # 'a' has an unparseable timestamp -> null dt; 'b' is healthy.
    seed = [("a", 1, "not-a-timestamp", "I", 1),
            ("b", 2, "2024-03-02 10:00:00", "I", 2)]
    df = spark.createDataFrame(seed, schema).withColumn(
        "t", F.try_to_timestamp("t")
    )
    apply_cdc_batch(df, path, keys=["k"], seq_col="seq", partition_date_col="t")
    null_dir = os.path.join(path, "dt=__HIVE_DEFAULT_PARTITION__")
    assert os.path.isdir(null_dir)

    batch = [("a", 1, "not-a-timestamp", "D", 3)]
    df2 = spark.createDataFrame(batch, schema).withColumn(
        "t", F.try_to_timestamp("t")
    )
    apply_cdc_batch(df2, path, keys=["k"], seq_col="seq", partition_date_col="t")

    assert not os.path.isdir(null_dir)
    rows = spark.read.parquet(path).collect()
    assert [(r.k, r.v) for r in rows] == [("b", 2)]


def test_apply_cdc_batch_rejects_invalid_op(spark, tmp_path):
    """ADVICE r7 (low): op values outside {'I','U','D'} (including
    NULL, which would silently behave as a DELETE) fail loudly."""
    import pytest

    from energydatalake_spark.io.writers import apply_cdc_batch

    schema = "k string, v bigint, t string, op string, seq bigint"
    for bad in [None, "X", "d"]:
        rows = [("a", 1, "2024-03-01 10:00:00", bad, 1)]
        df = spark.createDataFrame(rows, schema).withColumn(
            "t", F.to_timestamp("t")
        )
        with pytest.raises(ValueError, match="apply_cdc_batch"):
            apply_cdc_batch(
                df,
                str(tmp_path / "cdc_bad"),
                keys=["k"],
                seq_col="seq",
                partition_date_col="t",
            )


def test_zorder_rejects_too_many_columns(spark):
    """ADVICE r7 (low): >4 columns would push interleaved bit positions
    past 63, where bigint shiftleft wraps mod 64 and silently garbles
    the z-value — must raise instead."""
    import pytest

    from energydatalake_spark.io.maintenance import zorder_column

    df = spark.range(4).select(
        *[(F.col("id") * (i + 1)).alias(f"c{i}") for i in range(5)]
    )
    with pytest.raises(ValueError, match="zorder_column"):
        zorder_column(df, [f"c{i}" for i in range(5)])
    # 4 columns (= 64 bits exactly) stays allowed
    out, zc = zorder_column(df.drop("c4"), [f"c{i}" for i in range(4)])
    assert zc in out.columns
