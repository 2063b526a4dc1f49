"""Seeded input generators for the benchmark.

Two families, both pure numpy/pandas so the same arguments give the
same bytes:

- ``write_tables``: the ten parquet tables the registry queries read
  (TPC-H-shaped star schema, the ``events`` stream table, the
  ``documents`` corpus and the ``embeddings`` table), with the column
  names, types and value domains of the engine's test data. Row counts
  follow ``ROWS_AT_SF1`` times the scale factor.
- ``deliver_day``: one simulated day of the five ERCOT/weather CSV
  feeds, made by ``energydatalake_spark.pipelines.fixtures`` generators
  with their clock moved to that day.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale factor 1 (the corpus tables do not scale
#: with sf in the engine's test data; they get their own counts).
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

VOCAB = [
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "spark", "a", "the", "line", "sort", "window",
    "order", "data", "column", "join", "small", "customer", "query", "big",
    "stream", "group", "filter", "vector", "sessionize",
]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(
    out_dir: str, sf: float, n_docs: int, n_vecs: int, seed: int
) -> dict[str, int]:
    """Write every registry table under ``out_dir``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(r * sf)) for t, r in ROWS_AT_SF1.items()}

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2405, no)),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2500, nl)),
    })
    ne = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us")
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": _money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    _write_documents(out_dir, n_docs, rng)
    _write_embeddings(out_dir, n_vecs, rng)
    n.update(region=5, nation=25, documents=n_docs, embeddings=n_vecs)
    return n


def _write_documents(out_dir: str, n_docs: int, rng: np.random.Generator) -> None:
    """10-99-token docs over a 31-word vocabulary, with ~0.5% exact
    duplicates and a pool of planted shared 6-token spans, so the dedup
    and similarity queries find real structure."""
    spans = [list(rng.choice(VOCAB, size=6)) for _ in range(max(20, n_docs // 250))]
    texts: list[str] = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.005:
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        toks = list(rng.choice(VOCAB, size=int(rng.integers(10, 100))))
        if rng.random() < 0.3:
            span = spans[int(rng.integers(0, len(spans)))]
            p = int(rng.integers(0, len(toks) - 6))
            toks[p : p + 6] = span
        texts.append(" ".join(toks))
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]).tolist(),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write_embeddings(out_dir: str, n_vecs: int, rng: np.random.Generator) -> None:
    """Unit-norm 64-dim vectors in 10 clusters plus ~2% near-duplicate
    twins of earlier vectors."""
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, size=n_vecs)
    vecs = centers[labels] + 0.35 * rng.normal(size=(n_vecs, 64))
    for i in np.flatnonzero(rng.random(n_vecs) < 0.02):
        if i:
            j = int(rng.integers(0, i))
            vecs[i] = vecs[j] + 0.01 * rng.normal(size=64)
            labels[i] = labels[j]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


# --------------------------------------------------------------------------
# ELT deliveries
# --------------------------------------------------------------------------

#: feed -> (source folder under the lake root, as wired by
#: ``energydatalake_spark.__main__.build_configs``)
FEED_DIRS = {
    "fuel_mix": ("ercot_fm_csv", "fm_latest"),
    "load": ("ercot_load_csv", "load_latest"),
    "load_forecast": ("ercot_load_forecast_csv",),
    "spp": ("ercot_spp_csv", "spp_latest"),
    "weather_live": ("openweather_live_data", "quarter_hourly_weather_data"),
    "weather_historical": ("openmeteo-weather", "hourly-historical-weather-data"),
}


def deliver_day(base: str, day: int, seed: int, full_day: bool = True) -> list[str]:
    """Write day ``day`` of every feed as CSV files (two per feed) under
    the lake's source folders; returns the written paths.
    ``full_day=False`` makes the smallest delivery (a fifth of a day, one
    file per feed)."""
    from energydatalake_spark.pipelines import fixtures

    rng = np.random.default_rng([seed, day])
    size = 1.0 if full_day else 0.2
    files_per_feed = 2 if full_day else 1
    start0 = fixtures.START
    fixtures.START = start0 + pd.Timedelta(days=day)
    try:
        frames = {
            "fuel_mix": fixtures.gen_fuel_mix(rng, n_ticks=int(288 * size)),
            "load": fixtures.gen_load(rng, n_ticks=int(288 * size)),
            "load_forecast": fixtures.gen_load_forecast(rng, n_hours=max(4, int(24 * size))),
            "spp": fixtures.gen_spp(rng, n_intervals=max(4, int(96 * size))),
            "weather_live": fixtures.gen_weather_live(rng, n_pulls=max(14, int(96 * size))),
        }
        historical = fixtures.gen_weather_historical(rng, n_hours=max(4, int(24 * size)))
    finally:
        fixtures.START = start0
    written = []
    for feed, df in frames.items():
        folder = os.path.join(base, *FEED_DIRS[feed])
        os.makedirs(folder, exist_ok=True)
        parts = np.array_split(np.arange(len(df)), files_per_feed)
        for i, idx in enumerate(parts):
            path = os.path.join(folder, f"d{day:03d}_part{i}.csv")
            df.iloc[idx].to_csv(path, index=False)
            written.append(path)
    folder = os.path.join(base, *FEED_DIRS["weather_historical"])
    os.makedirs(folder, exist_ok=True)
    zones = list(historical.items())[: 4 if full_day else 1]
    for zone, df in zones:
        path = os.path.join(folder, f"d{day:03d}_{zone}.csv")
        df.to_csv(path, index=False)
        written.append(path)
    return written
