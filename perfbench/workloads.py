"""The benchmark's workloads.

A workload prepares its inputs (untimed), warms the session with one
pass over its smallest input, then yields passes of operations. An
operation (op) is one registry query ``build`` + ``collect`` or one
pipeline call; a pass is every op of the workload once.

- ``dashboard``: relational registry queries (aggregates, windows,
  as-of/band/outer/skew joins, a streaming file query).
- ``corpus`` (run on demand, not in BENCHMARK.json): LLM-tier registry
  queries whose builders run eager Spark jobs (connected components,
  Lloyd iterations).
- ``elt_ingest``: the five ERCOT/weather pipelines in CLI order over a
  fresh simulated day of CSV deliveries per cycle.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import gen

#: Smallest inputs (warm-up) and measured inputs of the read workloads:
#: (sf, documents, embeddings). The measured size is the engine's
#: correctness-gate scale (lineitem 60k rows).
TINY = (0.001, 100, 100)
MAIN = (0.01, 500, 500)
#: Seed of the table generator; the run seed orders the ops instead.
DATA_SEED = 20261016
#: Bump when ``gen`` changes so cached tables are rebuilt.
DATA_VERSION = "1"

DASHBOARD = (
    "pricing_summary", "moving_avg", "asof_join", "band_join",
    "outer_join", "skew_join", "streaming_dedup",
)
#: Runnable on demand; not in BENCHMARK.json (see perfbench/README.md).
CORPUS = ("dedup_clusters", "similarity_ivf_kmeans")

#: CLI order (``energydatalake_spark.__main__``): the merge consumes
#: the shared load queue before ``load_latest`` archives it.
PIPELINES = (
    "fm_load_merge", "load_latest", "load_forecast",
    "spp_weather_merge", "merge_historical_weather",
)


def redelivers(cycle: int) -> bool:
    """Every fourth timed cycle (the 1st, 5th, ...) also re-delivers the
    files of the cycle before it; the 1st re-delivers the warm-up day."""
    return cycle % 4 == 0


def _tables_dir(work: str, size: tuple) -> str:
    sf, n_docs, n_vecs = size
    out = os.path.join(work, "data", f"v{DATA_VERSION}-sf{sf}-d{n_docs}-e{n_vecs}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        shutil.rmtree(out, ignore_errors=True)
        gen.write_tables(out, sf, n_docs, n_vecs, DATA_SEED)
        open(os.path.join(out, "_DONE"), "w").close()
    return out


def result_digest(cols: list[str], rows) -> tuple[int, tuple, str]:
    """(row count, sorted column names, order-insensitive value hash),
    using the normalization of the engine's oracle gate."""
    from tools.oracle_check import _norm_rows

    h = hashlib.sha256("\n".join(_norm_rows(cols, rows)).encode()).hexdigest()
    return len(rows), tuple(sorted(cols)), h


class QueryWorkload:
    """``dashboard`` / ``corpus``: registry queries over fixed tables; the
    seed shuffles the op order of every pass."""

    kind = "query"

    def __init__(self, names: tuple[str, ...], work: str, seed: int):
        from energydatalake_spark.plans.registry import BENCH_ORDER

        self.names = [n for n in BENCH_ORDER if n in names]
        if seed:
            random.Random(seed).shuffle(self.names)
        self.tiny = _tables_dir(work, TINY)
        self.main = _tables_dir(work, MAIN)
        self.expected = self._oracle_digests()

    def _oracle_digests(self) -> dict[str, tuple | None]:
        """Expected digests from each query's DuckDB oracle; None where
        there is no oracle or the frozen oracle does not apply at this
        size (then the first timed result is the reference). Digests are
        cached next to the tables, keyed by the oracle's SQL text."""
        import duckdb

        from energydatalake_spark.plans.llm_ops import ORACLE_STATIC_BOUNDS
        from energydatalake_spark.plans.registry import QUERIES

        cache_path = os.path.join(self.main, "oracle_digests.json")
        cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        for f in sorted(os.listdir(self.main)):
            if f.endswith(".parquet"):
                path = os.path.join(self.main, f)
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, tuple | None] = {}
        for name in self.names:
            q = QUERIES[name]
            table, bound = ORACLE_STATIC_BOUNDS.get(name, (None, None))
            too_big = bound is not None and (
                con.sql(f"SELECT COUNT(*) FROM {table}").fetchone()[0] > bound
            )
            if q.oracle is None or too_big:
                out[name] = None
                continue
            key = hashlib.sha256(q.oracle.encode()).hexdigest()
            if key not in cache:
                rel = con.sql(q.oracle)
                cache[key] = result_digest(list(rel.columns), rel.fetchall())
            n, cols, h = cache[key]
            out[name] = (n, tuple(cols), h)
        con.close()
        tmp = f"{cache_path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(cache, fh)
        os.replace(tmp, cache_path)
        return out

    def check(self, name: str, cols: list[str], rows) -> bool:
        got = result_digest(cols, rows)
        if self.expected.get(name) is None:
            self.expected[name] = got  # oracle-less: first result is the reference
        return got == self.expected[name]


class EltWorkload:
    """``elt_ingest``: one cycle = deliver one fresh simulated day (plus,
    every fourth cycle, the previous day again), then run the five
    pipelines. The warehouse persists across cycles; the seed drives
    the generated CSVs."""

    kind = "elt"

    def __init__(self, work: str, seed: int):
        self.seed = seed
        self.root = os.path.join(work, f"elt-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.lake = os.path.join(self.root, "lake")
        self.staged = os.path.join(self.root, "staged")
        # Day 0 is the one-file warm-up delivery; timed cycle k delivers
        # day k+1. Days are generated on first delivery, outside timing.
        self.days: dict[int, list[str]] = {}
        self.delivered_files = 0
        self.cycles: list[list[int]] = []
        from energydatalake_spark.__main__ import build_configs

        self.configs = build_configs(self.lake)

    def _stage(self, day: int, full_day: bool) -> list[str]:
        base = os.path.join(self.staged, f"d{day:03d}")
        paths = gen.deliver_day(base, day, self.seed, full_day=full_day)
        return [os.path.relpath(p, base) for p in paths]

    def deliver(self, day: int) -> tuple[int, int]:
        """Copy a staged day into the lake's source folders; returns
        (bytes, data rows) delivered."""
        if day not in self.days:
            self.days[day] = self._stage(day, full_day=day > 0)
        size = rows = 0
        for rel in self.days[day]:
            src = os.path.join(self.staged, f"d{day:03d}", rel)
            dst = os.path.join(self.lake, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(src, dst)
            size += os.path.getsize(src)
            with open(src) as fh:
                rows += sum(1 for _ in fh) - 1
        self.delivered_files += len(self.days[day])
        return size, rows

    def warehouse(self) -> str:
        return os.path.join(self.lake, "warehouse")

    # -- end-of-run checks ---------------------------------------------------

    def final_checks(self) -> list[str]:
        """Exactly-once and archive checks; returns failure messages."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET enable_progress_bar = false")
        wh = self.warehouse()
        fails = []
        expect = expected_rows(con, self.staged, self.cycles)
        keys = {
            "ercot_load_latest": ["time"],
            "ercot_load_forecast": ["time", "publish_time"],
            "ercot_fm_load_merged": ["time"],
            "ercot_spp_weather_merged": ["location", "weather_time", "interval_start"],
        }
        for table, cols in keys.items():
            path = os.path.join(wh, table)
            rel = f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
            n, n_keys = con.sql(
                f"SELECT COUNT(*), COUNT(DISTINCT ({', '.join(cols)})) FROM {rel}"
            ).fetchone()
            if n != n_keys:
                fails.append(f"{table}: {n} rows but {n_keys} distinct keys")
            if n != expect[table]:
                fails.append(f"{table}: {n} rows, expected {expect[table]} delivered keys")
        hist = os.path.join(wh, "historical_weather_data")
        n = con.sql(f"SELECT COUNT(*) FROM read_parquet('{hist}/*.parquet')").fetchone()[0]
        if n != expect["historical_weather_data"]:
            fails.append(
                f"historical_weather_data: {n} rows, expected "
                f"{expect['historical_weather_data']} from the last cycle"
            )
        archived = sum(len(f) for _, _, f in os.walk(os.path.join(self.lake, "archive")))
        if archived != self.delivered_files:
            fails.append(f"archive holds {archived} files, {self.delivered_files} delivered")
        con.close()
        return fails


def _csv(staged: str, days: list[int], *feed_dir: str) -> str:
    """DuckDB relation over every staged CSV of ``days`` in one feed, all
    columns as text."""
    files = [os.path.join(staged, f"d{d:03d}", *feed_dir, "*.csv") for d in days]
    return f"read_csv({files!r}, header = true, all_varchar = true, union_by_name = true)"


def _ts(c: str) -> str:
    return f"try_strptime(\"{c}\", '%Y-%m-%d %H:%M:%S')"


def _tsz(c: str) -> str:
    return f"try_strptime(\"{c}\", '%Y-%m-%d %H:%M:%S%z')"


def _dec(c: str) -> str:
    return f'try_cast("{c}" AS DECIMAL(10, 2))'


def _all(exprs) -> str:
    return " AND ".join(f"({e}) IS NOT NULL" for e in exprs)


FM_MEASURES = ["Coal and Lignite", "Hydro", "Nuclear", "Power Storage",
               "Solar", "Wind", "Natural Gas", "Other"]
FORECAST_ZONES = ["North", "South", "West", "Houston", "System Total"]
HIST_MEASURES = ["latitude", "longitude", "temperature_2m", "relative_humidity_2m",
                 "dew_point_2m", "precipitation", "rain", "snowfall", "cloud_cover",
                 "cloud_cover_low", "cloud_cover_mid", "cloud_cover_high",
                 "wind_speed_10m", "wind_speed_100m", "wind_direction_10m",
                 "wind_direction_100m", "wind_gusts_10m"]


def expected_rows(con, staged: str, cycles: list[list[int]]) -> dict[str, int]:
    """Rows each warehouse table must hold after ``cycles`` (the days in
    the source folders at each pipeline run), computed in DuckDB from
    the CSVs with the pipelines' rules: unparseable or null cells drop
    the row; the fuel-mix feed takes the latest load at or before each
    tick; weather pulls join the SPP intervals that contain them, ends
    inclusive; upsert tables keep one row per key over all cycles; the
    historical table holds the last cycle's delivery."""
    load_keys, fc_keys, fm_keys, spp_keys = [], [], [], []
    for days in cycles:
        load = _csv(staged, days, *gen.FEED_DIRS["load"])
        load_keys.append(
            f"SELECT {_ts('Time')} AS k FROM {load} WHERE "
            + _all([_ts("Time"), _ts("Interval Start"), _ts("Interval End"), _dec("Load")])
        )
        fc = _csv(staged, days, *gen.FEED_DIRS["load_forecast"])
        fc_keys.append(
            f"SELECT ({_ts('Time')}, {_ts('Publish Time')}) AS k FROM {fc} WHERE "
            + _all([_ts("Time"), _ts("Interval Start"), _ts("Interval End"),
                    _ts("Publish Time")] + [_dec(z) for z in FORECAST_ZONES])
        )
        fm = _csv(staged, days, *gen.FEED_DIRS["fuel_mix"])
        fm_cols = ", ".join(f"{_dec(m)} AS m{i}" for i, m in enumerate(FM_MEASURES))
        # The as-of match is materialized before the null filter, so the
        # filter cannot be pushed below the join into the load side.
        fm_keys.append(f"""
            WITH m AS MATERIALIZED (
              SELECT f.*, l.load FROM
                (SELECT {_ts('Time')} AS time, {fm_cols} FROM {fm}
                 WHERE {_ts('Time')} IS NOT NULL) f
                ASOF LEFT JOIN (SELECT {_ts('Time')} AS ltime, {_dec('Load')} AS load
                                FROM {load} WHERE {_ts('Time')} IS NOT NULL) l
                ON f.time >= l.ltime)
            SELECT time AS k FROM m
            WHERE {_all(['load'] + [f'm{i}' for i in range(len(FM_MEASURES))])}""")
        spp = _csv(staged, days, *gen.FEED_DIRS["spp"])
        weather = _csv(staged, days, *gen.FEED_DIRS["weather_live"])
        spp_keys.append(f"""
            SELECT (w.loc, w.ts, s.istart) AS k FROM
              (SELECT "Location" AS loc, {_tsz('Date')} AS ts FROM {weather}) w
              JOIN (SELECT "Location" AS loc, {_tsz('Interval Start')} AS istart,
                           {_tsz('Interval End')} AS iend FROM {spp}) s
              ON w.loc = s.loc AND w.ts BETWEEN s.istart AND s.iend""")

    def distinct(parts: list[str]) -> int:
        return con.sql(
            "SELECT COUNT(DISTINCT k) FROM ("
            + " UNION ALL ".join(f"SELECT k FROM ({p})" for p in parts) + ")"
        ).fetchone()[0]

    hist = _csv(staged, cycles[-1], *gen.FEED_DIRS["weather_historical"])
    hist_rows = con.sql(
        f"SELECT COUNT(*) FROM {hist} WHERE "
        + _all(['"zone"', _ts("date")] + [f'try_cast("{c}" AS FLOAT)' for c in HIST_MEASURES])
    ).fetchone()[0]
    return {
        "ercot_load_latest": distinct(load_keys),
        "ercot_load_forecast": distinct(fc_keys),
        "ercot_fm_load_merged": distinct(fm_keys),
        "ercot_spp_weather_merged": distinct(spp_keys),
        "historical_weather_data": hist_rows,
    }
