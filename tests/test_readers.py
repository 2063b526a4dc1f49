"""read_table / read_table_stream time-axis normalization: every
parquet timestamp encoding the lake can accumulate (nanos, NTZ, LTZ)
must surface as the SAME session-tz TimestampType with the SAME
instant, so downstream operators never branch on writer choices."""

from __future__ import annotations

import datetime

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from energydatalake_spark.io.readers import read_table, read_table_stream

T0 = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)


def _write(tmp_path, name, arrow_type):
    arr = pa.array([T0], type=arrow_type)
    table = pa.table({"ts": arr, "v": pa.array([1.0])})
    pq.write_table(table, str(tmp_path / f"{name}.parquet"))
    return str(tmp_path)


def _one(spark, sf_dir, name):
    df = read_table(spark, sf_dir, name)
    assert df.schema["ts"].dataType.typeName() == "timestamp", df.schema
    return df.collect()[0]


def test_read_table_normalizes_ntz(spark, tmp_path):
    sf = _write(tmp_path, "t_ntz", pa.timestamp("us"))  # no tz → NTZ
    row = _one(spark, sf, "t_ntz")
    assert row.ts == T0  # session tz is UTC: wall-clock preserved


def test_read_table_passes_ltz_through(spark, tmp_path):
    sf = _write(tmp_path, "t_ltz", pa.timestamp("us", tz="UTC"))
    row = _one(spark, sf, "t_ltz")
    assert row.ts == T0


def test_read_table_rebuilds_nanos(spark, tmp_path):
    sf = _write(tmp_path, "t_ns", pa.timestamp("ns"))
    row = _one(spark, sf, "t_ns")
    assert row.ts == T0  # truncated to µs precision, same instant


def test_all_encodings_agree_on_the_instant(spark, tmp_path):
    rows = {}
    for name, at in [
        ("e_ntz", pa.timestamp("us")),
        ("e_ltz", pa.timestamp("us", tz="UTC")),
        ("e_ns", pa.timestamp("ns")),
    ]:
        sf = _write(tmp_path, name, at)
        rows[name] = _one(spark, sf, name).ts
    assert rows["e_ntz"] == rows["e_ltz"] == rows["e_ns"]


def test_stream_reader_matches_batch_types(spark, tmp_path):
    sf = _write(tmp_path, "s_ntz", pa.timestamp("us"))
    batch = read_table(spark, sf, "s_ntz")
    stream = read_table_stream(spark, sf, "s_ntz")
    assert [f.dataType for f in stream.schema.fields] == [
        f.dataType for f in batch.schema.fields
    ]
    assert stream.isStreaming


def test_read_table_int96_not_mangled(spark, tmp_path):
    """Legacy Hive/Spark2 int96 timestamps: pyarrow's footer probe
    reports them as timestamp[ns], but Spark reads int96 natively as
    TIMESTAMP — the nanos rebuild must branch on the actual read dtype
    and leave them alone."""
    arr = pa.array([T0], type=pa.timestamp("ns"))
    table = pa.table({"ts": arr, "v": pa.array([1.0])})
    pq.write_table(
        table,
        str(tmp_path / "t_i96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    row = _one(spark, str(tmp_path), "t_i96")
    assert row.ts == T0


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL source/sink: explicit-schema read, corrupt lines quarantine
    into _corrupt_record instead of failing the job, write→read
    round-trips values, empty folder is a clean no-op."""
    import gzip
    import json
    import os

    from energydatalake_spark.io.readers import read_jsonl_folder
    from energydatalake_spark.io.writers import write_jsonl

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "a.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "hello"}) + "\n")
        f.write("{not valid json\n")
        f.write(json.dumps({"doc_id": 2, "text": "world"}) + "\n")

    df = read_jsonl_folder(spark, str(src), "doc_id bigint, text string")
    good = df.filter(df["_corrupt_record"].isNull())
    bad = df.filter(df["_corrupt_record"].isNotNull())
    assert {(r.doc_id, r.text) for r in good.collect()} == {
        (1, "hello"),
        (2, "world"),
    }
    # full-row collect: a corrupt-column-only query is disallowed by
    # Spark (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — dead-letter routing
    # carries whole rows, which sidesteps it by construction
    assert len(bad.collect()) == 1  # quarantined, not fatal

    out = str(tmp_path / "out")
    write_jsonl(good.select("doc_id", "text"), out)
    parts = [n for n in os.listdir(out) if n.startswith("part-")]
    assert parts and all(n.endswith(".gz") for n in parts)
    with gzip.open(os.path.join(out, parts[0]), "rt") as f:
        assert json.loads(f.readline())["text"] in {"hello", "world"}
    back = read_jsonl_folder(spark, out, "doc_id bigint, text string")
    assert back is not None  # .gz shards must not hide from the reader
    assert {(r.doc_id, r.text) for r in back.collect()} == {
        (1, "hello"),
        (2, "world"),
    }

    empty = tmp_path / "empty"
    empty.mkdir()
    assert read_jsonl_folder(spark, str(empty), "doc_id bigint") is None


def test_nanos_conf_not_leaked(spark, tmp_path):
    """read_table scopes the nanosAsLong conf to the call — the session
    must not silently accept nanos parquet afterwards."""
    sf = _write(tmp_path, "leak_ns", pa.timestamp("ns"))
    read_table(spark, sf, "leak_ns").collect()
    assert (
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
        or spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "false"
    )


def test_orc_roundtrip_and_drift(spark, tmp_path):
    """ORC sink/source: lossless round trip for the warehouse types
    (timestamp, decimal, double, string), empty-folder no-op, loud
    drift on a type change, and the same pushdown/statistics behavior
    as parquet (filter reaches the ORC scan)."""
    import pytest
    from pyspark.sql import functions as F

    from energydatalake_spark.io.readers import read_orc_folder, write_orc
    from energydatalake_spark.io.schemas import SchemaDriftError

    folder = str(tmp_path / "orc_out")
    ddl = "k string, v decimal(10,2), x double, t timestamp"
    df = spark.createDataFrame(
        [("a", "1.25", 0.5, "2024-01-01 00:00:00"),
         ("b", "2.50", 1.5, "2024-01-02 12:00:00")],
        "k string, v string, x double, t string",
    ).select(
        "k",
        F.col("v").cast("decimal(10,2)").alias("v"),
        "x",
        F.to_timestamp("t").alias("t"),
    )
    assert read_orc_folder(spark, folder) is None  # empty → no-op

    write_orc(df, folder)
    back = read_orc_folder(spark, folder, schema=ddl)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    assert [f.dataType for f in back.schema.fields] == [
        f.dataType for f in df.schema.fields
    ]

    with pytest.raises(SchemaDriftError, match="v:decimal"):
        read_orc_folder(spark, folder, schema="k string, v double, x double, t timestamp")

    # pushdown parity with parquet: the predicate reaches the ORC scan
    plan = ""
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        read_orc_folder(spark, folder).filter(F.col("x") > 1.0).explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters" in plan and "GreaterThan(x" in plan


def test_read_table_int96_timestamps(spark, tmp_path):
    """Legacy INT96 parquet timestamps (old Spark/Hive writers; the
    one mainstream encoding the driver has NOT yet shipped) must
    normalize through read_table like the NANOS and naive-us shapes
    the schema-canary already covers."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energydatalake_spark.io.readers import read_table

    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(
                [
                    pd.Timestamp("2024-01-01 10:00"),
                    pd.Timestamp("2024-01-01 11:30"),
                ],
                pa.timestamp("ns"),
            ),
        }
    )
    pq.write_table(
        tbl,
        str(tmp_path / "events.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    df = read_table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {r.event_id: r.ts for r in df.collect()}
    assert got[1].hour == 10 and got[2].minute == 30


def _csv_folder(tmp_path, name, files, encoding="utf-8"):
    folder = tmp_path / name
    folder.mkdir()
    for fname, text in files.items():
        (folder / fname).write_text(text, encoding=encoding)
    return str(folder)


def test_csv_folder_rejects_mismatched_header(spark, tmp_path):
    """Every file's header is checked against the first file's: a later
    file with reordered or renamed columns fails loudly instead of
    binding its values by position (which turned the reordered file's
    cells into nulls that the pipelines then dropped)."""
    import pytest

    from energydatalake_spark.io.readers import read_csv_folder

    first = "Time,Load\n2024-01-01 00:00:00,1\n"
    for name, second in [
        ("reordered", "Load,Time\n2,2024-01-02 00:00:00\n"),
        ("renamed", "Time,Demand\n2024-01-02 00:00:00,2\n"),
    ]:
        folder = _csv_folder(tmp_path, name, {"a.csv": first, "b.csv": second})
        df = read_csv_folder(spark, folder)
        assert df.columns == ["Time", "Load"]
        with pytest.raises(Exception, match="CSV header does not conform"):
            df.collect()


def test_csv_folder_header_matches_spark_inference(spark, tmp_path):
    """The driver-side header read names columns exactly as Spark's own
    header inference does: a BOM is dropped, blank leading lines are
    skipped, a quoted name keeps its comma, and names Spark would
    rename (duplicates, empty) are left to Spark."""
    from energydatalake_spark.io.readers import read_csv_folder

    cases = {
        "odd_headers": (
            {
                "a.csv": '\n\n"Zone, Name",Time\nLZ_WEST,2024-01-01 00:00:00\n',
                "b.csv": '"Zone, Name",Time\nLZ_EAST,2024-01-02 00:00:00\n',
            },
            ["Zone, Name", "Time"],
        ),
        "renamed_by_spark": ({"a.csv": "a,A,\n1,2,3\n"}, ["a0", "A1", "_c2"]),
    }
    for name, (files, columns) in cases.items():
        folder = _csv_folder(tmp_path, name, files, encoding="utf-8-sig")
        got = read_csv_folder(spark, folder)
        want = spark.read.option("header", "true").csv(folder)
        assert got.columns == want.columns == columns
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
