"""Sources (SURVEY.md §2.1 S1-S3).

The reference reads every CSV under a folder prefix with an all-string
inferred schema (S1: ``PySpark Scripts/pyspark_ercot_load_latest_BQ_archive_csv.py:37``)
and, in one script, reads files one-by-one and unions them (S2:
``PySpark Scripts/mergeHistoricalWeather.py:33-44``) — N driver-sequenced
tiny jobs. Here:

- one directory-level scan per source — Spark parallelizes over files
  natively, so S2 collapses into S1;
- schemas are *explicit* (`schema=`), never inferred: inference costs an
  extra full pass over 100 TB and silently drifts; explicit schemas fail
  loudly (SURVEY.md §1.2 rebuild decision);
- the empty-folder guard (S3, ``...merge...py:29-32``) becomes a clean
  no-op instead of the reference's NameError-on-empty bug.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def folder_has_files(path: str, suffix: str = "") -> bool:
    """Emptiness guard (S3). Local-FS variant; on HDFS/objstore the same
    check is one LIST call via the Hadoop FS API."""
    if not os.path.isdir(path):
        return False
    return any(
        name.endswith(suffix) and not name.startswith(("_", "."))
        for name in os.listdir(path)
    )


def read_csv_folder(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    header: bool = True,
) -> DataFrame | None:
    """CSV folder scan (S1). Returns None when the folder has no CSVs —
    callers treat that as a clean pipeline no-op (fixes the reference's
    empty-source NameError, merge:35-51).

    With ``schema=None`` all columns arrive as strings, matching the
    reference's read exactly (header-driven, no inferSchema); production
    callers pass the explicit schema from ``schemas.py``. The header is
    read on the driver from the first CSV (no Spark job) and passed as
    an all-string schema with ``enforceSchema=false``, so Spark checks
    every file's header against it: a file with reordered or renamed
    columns fails loudly instead of binding its values by position.
    """
    if not folder_has_files(path, ".csv"):
        return None
    reader = spark.read.option("header", str(header).lower())
    if schema is None and header:
        names = _csv_header(path)
        if names is not None:
            schema = T.StructType([T.StructField(n, T.StringType()) for n in names])
            reader = reader.option("enforceSchema", "false")
    if schema is not None:
        reader = reader.schema(schema)
    return reader.csv(path)


def _csv_header(path: str) -> list[str] | None:
    """Column names of the first non-blank line of the folder's first
    CSV, as Spark's header inference would name them. None when Spark
    would rename them (empty or case-insensitively duplicate names get
    an index suffix) or the file holds no header line; the caller then
    leaves naming to Spark."""
    first = min(
        n for n in os.listdir(path) if n.endswith(".csv") and not n.startswith(("_", "."))
    )
    # utf-8-sig: Spark drops a leading BOM from the header too
    with open(os.path.join(path, first), newline="", encoding="utf-8-sig") as fh:
        names = next(csv.reader(line for line in fh if line.strip()), None)
    if not names or "" in names or len({n.lower() for n in names}) < len(names):
        return None
    return names


def read_jsonl_folder(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    bad_records_col: str = "_corrupt_record",
) -> DataFrame | None:
    """JSON-Lines folder scan — the interchange format LLM corpora
    actually ship in. Same contract as :func:`read_csv_folder`:
    explicit schema ONLY (never inference — at 100 TB that is an extra
    full pass, and silent drift), empty folder → clean ``None`` no-op.

    Malformed lines are captured in ``bad_records_col`` (PERMISSIVE
    mode) so one corrupt document quarantines itself instead of killing
    a multi-hour ingest; callers split on ``bad_records_col IS NULL``
    to route rejects to a dead-letter sink. Each file splits by line,
    so a folder of .jsonl shards parallelizes like any text source.

    Spark caveat: a query that references ONLY the corrupt column is
    disallowed (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — when counting or
    exporting rejects, select the data columns alongside (the
    dead-letter sink wants the full row anyway).
    """
    # Accept compressed shards too — our own write_jsonl emits .json.gz.
    if not any(
        folder_has_files(path, suf)
        for suf in (".jsonl", ".json", ".jsonl.gz", ".json.gz")
    ):
        return None
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if bad_records_col in schema.fieldNames():
        raise ValueError(
            f"read_jsonl_folder: schema already contains "
            f"{bad_records_col!r} — the quarantine column is appended "
            f"automatically; pass a different bad_records_col or drop "
            f"it from the schema"
        )
    schema = T.StructType(
        list(schema.fields) + [T.StructField(bad_records_col, T.StringType())]
    )
    return (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", bad_records_col)
        .json(path)
    )


def _footer_probe(path: str) -> tuple[list[str], list[str], list[tuple[str, str]]]:
    """Footer-only schema probe (no data read). Returns
    ``(nanos_cols, naive_ts_cols, all_cols)``:

    - ``nanos_cols``: parquet TIMESTAMP(NANOS) columns — Spark 4 rejects
      them outright unless ``spark.sql.legacy.parquet.nanosAsLong`` is
      on, in which case they surface as epoch-nanos LongType;
    - ``naive_ts_cols``: us/ms timestamps WITHOUT a timezone
      (isAdjustedToUTC=false) — Spark reads them as TIMESTAMP_NTZ;
    - ``all_cols``: (name, arrow type) for the schema canary.
    """
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq

        first = path
        if os.path.isdir(path):
            members = [m for m in sorted(os.listdir(path)) if m.endswith(".parquet")]
            if not members:
                return [], [], []
            first = os.path.join(path, members[0])
        schema = pq.read_schema(first)
        nanos = [
            n
            for n, t in zip(schema.names, schema.types)
            if pa.types.is_timestamp(t) and t.unit == "ns"
        ]
        naive = [
            n
            for n, t in zip(schema.names, schema.types)
            if pa.types.is_timestamp(t) and t.unit != "ns" and t.tz is None
        ]
        all_cols = [(n, str(t)) for n, t in zip(schema.names, schema.types)]
        return nanos, naive, all_cols
    except Exception:  # pragma: no cover - pyarrow always present here
        return [], [], []


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Back-compat shim over :func:`_footer_probe` (nanos columns only)."""
    return _footer_probe(path)[0]


#: (path → canary already emitted) — one diagnostic line per table per
#: process, so a silent driver-side testdata regeneration shows up as a
#: loud schema line in bench/correctness stderr instead of scattered
#: AnalysisExceptions three operators deep (VERDICT r4 item 7).
_CANARY_SEEN: set[str] = set()


def _schema_canary(path: str, all_cols: list[tuple[str, str]]) -> None:
    if path in _CANARY_SEEN or not all_cols:
        return
    _CANARY_SEEN.add(path)
    import sys

    rendered = ", ".join(f"{n}:{t}" for n, t in all_cols)
    print(f"# schema-canary {path}: {rendered}", file=sys.stderr)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet table scan — the engine's native columnar source.

    Columnar + predicate pushdown + column pruning is the storage-side
    half of the 100 TB story; the testdata layout is one parquet file
    (or directory) per table under ``sf_dir``.

    The time axis is normalized to session-tz TimestampType regardless
    of how the writer encoded it — the testdata generator has shipped
    both shapes across rounds, and a 100 TB lake accumulates both:

    - nanosecond precision (pandas-written): read as epoch nanos and
      rebuilt via ``timestamp_micros`` at microsecond precision;
    - timezone-naive us/ms (isAdjustedToUTC=false → TIMESTAMP_NTZ):
      cast to session-tz TIMESTAMP. The session pins UTC, so the
      micros value and every wall-clock field are unchanged — this
      restores the exact post-``timestamp_micros`` type the rest of
      the engine (unix_micros, watermarks, double-cast time axes) was
      built against.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols, ntz_cols, all_cols = _footer_probe(path)
    _schema_canary(path, all_cols)
    if ns_cols:
        # The conf is consulted only while spark.read.parquet converts
        # the footer schema (verified: execution of the returned plan
        # succeeds after restore) — so scope it to this call instead of
        # mutating the shared session permanently: a later direct
        # spark.read.parquet of nanos files should fail loudly, not
        # silently surface LongType columns.
        with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            df = spark.read.parquet(path)
        df = _normalize_time_axis(df, ns_cols, ntz_cols)
    else:
        df = _normalize_time_axis(spark.read.parquet(path), ns_cols, ntz_cols)
    return df


@contextlib.contextmanager
def _scoped_conf(spark: SparkSession, key: str, value: str):
    prev = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@contextlib.contextmanager
def scoped_nanos_conf(spark: SparkSession, sf_dir: str, name: str):
    """Keep ``spark.sql.legacy.parquet.nanosAsLong`` on while a stream
    over ``name`` drains, IF the table is nanos-encoded; a no-op for
    every other encoding. The conf is session-level and the streaming
    source converts footers per micro-batch, so callers must hold this
    open around the whole build-stream → run-to-completion span — not
    just the :func:`read_table_stream` call."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols, _, _ = _footer_probe(path)
    if not ns_cols:
        yield
        return
    with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
        yield


def _normalize_time_axis(df: DataFrame, ns_cols, ntz_cols) -> DataFrame:
    """Rebuild/cast probed time columns to session-tz TimestampType,
    branching on the dtype Spark ACTUALLY produced — pyarrow reports
    int96 (legacy Hive/Spark2 parquet) as timestamp[ns], but Spark reads
    int96 natively as TIMESTAMP regardless of the nanosAsLong conf, so a
    blind ``div 1000`` rebuild there would be the same class of bug the
    TIMESTAMP_NTZ drift exposed (r4)."""
    for c in ns_cols:
        dt = df.schema[c].dataType
        if isinstance(dt, T.LongType):
            # True TIMESTAMP(NANOS) surfaced as epoch nanos. Integer
            # division — epoch nanos overflow double precision.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        # TimestampType already: int96 or engine-converted — leave it.
    for c in ntz_cols:
        if isinstance(df.schema[c].dataType, T.TimestampNTZType):
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Streaming twin of :func:`read_table`: a file-source parquet stream
    over the same table with the same time-axis normalization, so the
    batch and streaming plans see identical column types no matter how
    the writer encoded timestamps (nanos-long, TIMESTAMP_NTZ, or LTZ).

    The ``nanosAsLong`` legacy conf is session-level and must stay on
    while the stream drains — callers that read nanos-era files should
    keep :func:`scoped_nanos_conf` open around the stream run (it's a
    no-op on other encodings, so streaming queries wrap it
    unconditionally). The batch schema probe below scopes the conf
    itself, so THIS call never raises on nanos files either way.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    ns_cols, ntz_cols, all_cols = _footer_probe(path)
    _schema_canary(path, all_cols)
    if ns_cols:
        with _scoped_conf(spark, "spark.sql.legacy.parquet.nanosAsLong", "true"):
            raw_schema = spark.read.parquet(path).schema
    else:
        raw_schema = spark.read.parquet(path).schema
    stream = spark.readStream.schema(raw_schema).parquet(path + "*")
    # Session tz pins UTC: NTZ cast keeps the instant, yields the
    # watermark-capable LTZ type; dtype branching per column as in batch.
    return _normalize_time_axis(stream, ns_cols, ntz_cols)


def register_views(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    """Register every test table as a temp view for spark.sql queries."""
    for name in tables:
        if glob.glob(os.path.join(sf_dir, f"{name}.parquet*")):
            read_table(spark, sf_dir, name).createOrReplaceTempView(name)


def read_orc_folder(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
) -> DataFrame | None:
    """ORC folder scan — the warehouse interchange format Hive-era
    lakes ship in (same columnar/footer-statistics model as Parquet;
    Spark's vectorized ORC reader gives the identical pushdown/pruning
    behavior, so queries keep their plans when sources arrive as ORC).
    Same contract as the CSV/JSONL readers: empty folder → clean
    ``None`` no-op; with ``schema`` given, drift fails LOUDLY (name or
    type mismatch) instead of silently widening — the reader is a
    contract, not an inference."""
    from energydatalake_spark.io.schemas import SchemaDriftError

    if not folder_has_files(path, ".orc"):
        return None
    df = spark.read.orc(path)
    if schema is not None:
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        got = {f.name: f.dataType for f in df.schema.fields}
        want = {f.name: f.dataType for f in schema.fields}
        missing = [
            f"{n}:{t.simpleString()}" for n, t in want.items() if got.get(n) != t
        ]
        extra = [
            f"{n}:{t.simpleString()}" for n, t in got.items() if want.get(n) != t
        ]
        if missing or extra:
            raise SchemaDriftError(path, missing, extra)
    return df


def write_orc(df: DataFrame, path: str, compression: str = "zstd") -> None:
    """ORC export (overwrite) — zstd by default, matching the parquet
    sink's codec so the two formats' files are cost-comparable."""
    df.write.format("orc").option("compression", compression).mode(
        "overwrite"
    ).save(path)
