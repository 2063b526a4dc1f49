"""Sinks (SURVEY.md §2.1 S4-S6).

The reference appends to BigQuery via a staging bucket
(``PySpark Scripts/pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py:115-119``)
and overwrites one table (``mergeHistoricalWeather.py:100-105``). The
contractual sink here is partitioned Parquet under a warehouse dir:
``upsert_table`` implements the insert-only-MERGE exactly-once
contract directly on Parquet (batch dedup + null-safe anti-join
against the partitions the batch touches), so the semantics do not
depend on a table format's transaction log. On a Delta/Iceberg
deployment the same call-site maps 1:1 onto ``MERGE ... WHEN NOT
MATCHED INSERT`` — a format swap, not a semantics change.

Read-back scope (both merges): the driver collects the batch's
distinct ``dt`` values (batch-sized) and lists the target's ``dt=``
directories once; only touched directories that exist are read back.
Untouched partitions are neither listed for schema nor scanned, so a
merge costs what its batch costs, not what the warehouse holds. The
listing is a snapshot: the merges assume a single writer per table,
matching the reference's Scheduler-serialized jobs.

Partitioning: time-series tables partition by event date derived from
the interval start (SURVEY.md §4 "partition pruning") so that the four
analytics queries prune to the touched dates instead of scanning 100 TB.
"""

from __future__ import annotations

import os
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _append(df: DataFrame, path: str, partitioned: bool) -> None:
    writer = df.write.format("parquet").mode("append")
    if partitioned:
        writer = writer.partitionBy("dt")
    writer.save(path)


def append_table(
    df: DataFrame,
    path: str,
    partition_date_col: str | None = None,
) -> None:
    """Warehouse append (S4). ``partition_date_col`` names a timestamp
    column; rows land under ``dt=YYYY-MM-DD`` partitions derived from it."""
    if partition_date_col is not None:
        df = df.withColumn("dt", F.to_date(F.col(partition_date_col)))
    _append(df, path, partition_date_col is not None)


def _table_entries(path: str) -> set[str]:
    """Visible entries of a table directory; empty while the table does
    not exist yet."""
    if not os.path.isdir(path):
        return set()
    return {n for n in os.listdir(path) if not n.startswith((".", "_"))}


def _partition_dir(d) -> str:
    """The directory Spark writes a ``dt`` value to."""
    return "dt=__HIVE_DEFAULT_PARTITION__" if d is None else f"dt={d.isoformat()}"


def _touched_readback(
    batch: DataFrame, path: str, entries: set[str], partitioned: bool
) -> tuple[set, DataFrame | None]:
    """The batch's distinct ``dt`` values, and the target rows a merge
    of ``batch`` must see: the touched partitions that already exist
    (the whole table when unpartitioned); None when there are none.

    ``batch`` should be persisted: the collect then fills the cache the
    caller's write reuses. Null and pre-1900 dates are ordinary
    directory names here, so their rows are read back like any other."""
    if not entries:
        return set(), None
    reader = batch.sparkSession.read
    if not partitioned:
        return set(), reader.parquet(path)
    touched = {r.dt for r in batch.select("dt").distinct().collect()}
    dirs = sorted(
        os.path.join(path, _partition_dir(d))
        for d in touched
        if _partition_dir(d) in entries
    )
    if not dirs:
        return touched, None
    existing = reader.option("basePath", path).parquet(*dirs)
    # A read of only the null partition would infer ``dt`` as void.
    return touched, existing.withColumn("dt", F.col("dt").cast("date"))


def upsert_table(
    df: DataFrame,
    path: str,
    keys: list[str],
    partition_date_col: str | None = None,
) -> None:
    """Idempotent warehouse append: insert-only MERGE on ``keys``
    (SURVEY.md §2.9 "idempotent MERGE for true exactly-once").

    Re-delivered files — the reference's crons racing on a shared GCS
    prefix (README.md:143-148), or a pipeline re-run after a crash
    between sink-write and archive — must not duplicate rows. The
    folder-level archive queue gives once-per-FILE; this gives
    once-per-ROW, including:

    - duplicates WITHIN one batch (two identical files drained by a
      single AvailableNow trigger): the batch is key-deduped before
      writing;
    - null-valued keys: the anti-join matches with ``eqNullSafe``, so
      a null-key row inserts exactly once instead of on every rerun.

    Scale shape: the batch's distinct ``dt`` values are collected on the
    driver and only the touched ``dt=`` directories that exist are read
    back (module docstring); a batch of new days — the common case —
    appends with no read-back. An unpartitioned table reads back whole.
    Single writer per table: listing and anti-join see one snapshot, so
    a concurrent writer of the same key can insert it twice.
    """
    partitioned = partition_date_col is not None
    if partitioned:
        df = df.withColumn("dt", F.to_date(F.col(partition_date_col)))
    # once-per-row within the batch itself (keep-any on key ties)
    df = df.dropDuplicates(keys)
    entries = _table_entries(path)
    if not entries:
        _append(df, path, partitioned)
        return
    # The batch feeds the dt collect and the write. Persist it — bounded
    # by BATCH size, not table size — so the upstream source computes
    # once; this also keeps any caller-attached df.observe metrics
    # single-counted.
    df = df.persist()
    try:
        _, existing = _touched_readback(df, path, entries, partitioned)
        fresh = df if existing is None else _fresh_rows(df, existing, keys)
        _append(fresh, path, partitioned)
    finally:
        df.unpersist()


def _fresh_rows(df: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of ``df`` whose key tuple is absent from ``existing`` —
    null-safe, so a null-valued key matches its prior insertion and is
    not re-inserted on every rerun. Target keys need no ``distinct``:
    build-side duplicates cannot change a left-anti join."""
    target_keys = existing.select(*[F.col(f"`{k}`") for k in keys])
    cond = reduce(
        lambda a, b: a & b,
        [df[f"`{k}`"].eqNullSafe(target_keys[f"`{k}`"]) for k in keys],
    )
    return df.join(target_keys, cond, "left_anti")


def overwrite_table(df: DataFrame, path: str) -> None:
    """Warehouse overwrite (S5, mergeHistoricalWeather.py:100-105)."""
    df.write.format("parquet").mode("overwrite").save(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV export with header, overwrite (S6, mergeHistoricalWeather.py:62-66)."""
    df.write.format("csv").option("header", "true").mode("overwrite").save(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """JSON-Lines export (LLM-corpus interchange twin of the jsonl
    reader). Gzip by default: jsonl text compresses ~10×, and the
    format stays line-splittable per FILE — shard count (= input
    partitions) is the parallelism unit downstream, so repartition
    before writing if consumers need more/fewer shards."""
    writer = df.write.format("json").mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)
    writer.save(path)


def apply_cdc_batch(
    df: DataFrame,
    path: str,
    keys: list[str],
    op_col: str = "op",
    seq_col: str | None = None,
    partition_date_col: str | None = None,
) -> None:
    """Full CDC MERGE on the parquet warehouse: apply a change batch of
    inserts/updates/deletes (``op_col`` ∈ {'I','U','D'}) keyed on
    ``keys`` — the delete-capable completion of ``upsert_table``'s
    insert-only MERGE. Maps 1:1 onto Delta/Iceberg
    ``MERGE ... WHEN MATCHED [AND op='D'] THEN DELETE / UPDATE /
    WHEN NOT MATCHED THEN INSERT`` — same call-site, same semantics.

    Semantics: within the batch, the LATEST change per key wins
    (``seq_col`` order — a key inserted then deleted in one batch nets
    to absent); then existing rows for batch keys are replaced by the
    surviving I/U images and dropped for D. ``seq_col`` must be unique
    per key within a batch (every real CDC stream's LSN/offset is) —
    two same-key rows with EQUAL seq have no defined winner.

    Plain parquet has no row-level update, so the rewrite unit is the
    PARTITION: only the ``dt`` partitions the batch touches are read
    back (same driver-side listing as ``upsert_table``), merged, and
    atomically swapped via dynamic partition overwrite
    (``partitionOverwriteMode=dynamic`` — untouched partitions are
    not listed, read, or rewritten; at 100 TB × years that is the
    difference between a merge and a table rewrite). A batch that
    touches no existing partition appends its surviving rows. Requires
    the key→partition mapping to be stable (event-date-keyed tables,
    the reference's shape); a key that MOVES partitions needs a
    format-level MERGE (Delta) or a two-phase delete+insert.
    Unpartitioned tables rewrite the whole folder (documented
    degenerate case — partition them).

    Single-writer, like every sink here (Scheduler-serialized jobs).
    """
    import shutil

    from energydatalake_spark.operators.clean import dedup_latest

    spark = df.sparkSession
    # Validate the batch's op domain up front (ADVICE r7): a NULL op
    # would silently behave as a DELETE (null predicate fails the
    # op != 'D' filter yet the key still anti-joins existing rows) and
    # any other string as an upsert. Malformed batches fail loudly.
    bad_op = (
        df.filter(
            F.col(op_col).isNull() | ~F.col(op_col).isin("I", "U", "D")
        )
        .limit(1)
        .collect()
    )
    if bad_op:
        raise ValueError(
            f"apply_cdc_batch: {op_col!r} must be one of 'I','U','D' "
            f"and non-null; got {bad_op[0][op_col]!r}"
        )
    partitioned = partition_date_col is not None
    if partitioned:
        df = df.withColumn("dt", F.to_date(F.col(partition_date_col)))
    if seq_col is not None:
        df = dedup_latest(df, keys, seq_col, tiebreak=keys)
    else:
        df = df.dropDuplicates(keys)
    df = df.persist()  # batch-sized; feeds dt list, anti-join, union
    try:
        survivors = df.filter(F.col(op_col) != F.lit("D")).drop(op_col)
        entries = _table_entries(path)
        touched, existing = _touched_readback(df, path, entries, partitioned)
        if existing is None:
            _append(survivors, path, partitioned)
            return
        batch_keys = df.select(*[F.col(f"`{k}`") for k in keys]).distinct()
        anti_cond = reduce(
            lambda a, b: a & b,
            [existing[f"`{k}`"].eqNullSafe(batch_keys[f"`{k}`"]) for k in keys],
        )
        # null-safe, same as _fresh_rows: a delete for a null key must
        # match the null-key row it targets
        kept = existing.join(batch_keys, anti_cond, "left_anti")
        merged = kept.unionByName(survivors.select(*kept.columns))
        # The merge READS the path it overwrites — materialize before
        # the write (touched-partitions-sized, not table-sized; the
        # unpartitioned degenerate case is table-sized, as documented).
        merged = merged.localCheckpoint()
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            writer = merged.write.format("parquet").mode("overwrite")
            if partitioned:
                writer = writer.partitionBy("dt")
            writer.save(path)
        finally:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", prev_mode
            )
        if partitioned:
            # Dynamic overwrite cannot write an EMPTY partition: a dt
            # whose every row was deleted is absent from `merged` and
            # its stale directory would survive — remove the emptied
            # ones. Null dt participates too (ADVICE r7): its rows live
            # under dt=__HIVE_DEFAULT_PARTITION__, so a delete batch
            # that empties it must also remove the directory, or the
            # pre-delete images resurrect.
            remaining = {
                r.dt for r in merged.select("dt").distinct().collect()
            }
            for d in touched - remaining:
                part_dir = os.path.join(path, _partition_dir(d))
                if os.path.isdir(part_dir):
                    shutil.rmtree(part_dir)
    finally:
        df.unpersist()
