"""SparkSession factory.

The reference creates bare sessions per script (e.g.
``PySpark Scripts/pyspark_ercot_merge_fm_load_latest_BQ_archive_csv.py:10-15``)
with only a BigQuery connector jar configured. Here the session is
centralized and tuned for the Catalyst/Tungsten execution model:

- AQE on (runtime coalescing, skew-join splitting) — at 100 TB the
  static shuffle-partition guess is always wrong somewhere; AQE fixes
  it per-stage from runtime statistics.
- Arrow on — any pandas interop (``applyInPandas`` oracles, pandas
  UDFs in the multimodal path) moves columnar batches, not rows.
- Session timezone pinned to UTC — the reference mixes UTC, ``-05:00``
  offsets and America/Chicago (SURVEY.md §7 hard-part 3); pinning makes
  timestamp semantics explicit per column instead of ambient.
- ``spark.sql.shuffle.partitions`` sized from the available cores for
  local runs; a real cluster would size it from executor count × cores
  (AQE coalescing makes over-provisioning cheap).
- Generated-code class cache (``spark.sql.codegen.cache.maxEntries``)
  held at 4096 instead of Spark's 100. The cache maps each
  whole-stage-codegen source text to its Janino-compiled class; a miss
  costs a Janino compile plus a fresh HotSpot JIT of the new class.
  This engine runs many small queries in one long-lived session, and
  its working set is larger than 100: 118 distinct classes per
  ``dashboard`` benchmark pass, ~155 per ``elt_ingest`` cycle, 1,210
  across the 102-query registry. At 100 the LRU thrashes and every
  pass recompiles its classes. The value is a constant, not a knob:
  it only decides whether Spark reuses a class it already compiled
  (plans and results are unchanged), and ~3x the registry's working
  set fits in Metaspace and the JIT code cache with room to spare.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    """Shuffle-partition default: driver env override, else cpu count."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return max(1, int(env))
    return max(1, os.cpu_count() or 8)


def _size_mb(jvm_size: str) -> int:
    """Parse a memory string to MiB with Spark's own grammar
    (JavaUtils.byteStringAsMb): suffixes b/k/kb/m/mb/g/gb/t/tb/p/pb,
    and a BARE number means MiB — not bytes — because that is how
    Spark reads a suffixless ``spark.driver.memory``. Raises on
    anything Spark itself would reject (r15 self-review: the previous
    parser took bare values as bytes, so SPARK_GRAFT_DRIVER_MEM=8192
    — 8 GiB to Spark — derived a 1 MiB maxResultSize, and it raised
    on Spark-valid '8gb')."""
    s = jvm_size.strip().lower()
    # Spark's JavaUtils grammar is integer-only with the suffix glued
    # to the number ("8 g" and "1.5g" are rejected at session build) —
    # accepting them here would derive a maxResultSize from a string
    # Spark itself then refuses (ADVICE r15).
    m = re.fullmatch(r"(\d+)([kmgtp]?b?)", s)
    if not m:
        raise ValueError(f"unparseable JVM memory string: {jvm_size!r}")
    mult = {
        "": 1,  # suffixless memory strings are MiB to Spark
        "b": 1.0 / (1024 * 1024),
        "k": 1.0 / 1024, "kb": 1.0 / 1024,
        "m": 1, "mb": 1,
        "g": 1024, "gb": 1024,
        "t": 1024 * 1024, "tb": 1024 * 1024,
        "p": 1024 ** 3, "pb": 1024 ** 3,
    }
    return max(1, int(float(m.group(1)) * mult[m.group(2)]))


def _default_max_result(driver_mem: str) -> str:
    """maxResultSize default derived from the RESOLVED driver heap
    (ADVICE r14): a fixed 4g cap tracks the 8g default heap, but a
    user lowering SPARK_GRAFT_DRIVER_MEM without also setting
    SPARK_GRAFT_MAX_RESULT would get a cap ABOVE the heap — a large
    broadcast collect then OOMs the driver instead of failing cleanly
    at the cap. Half the heap keeps the broadcast-rerank tier's ~1 GB
    collect viable at the 8g default (= the documented 4g) and scales
    both directions."""
    return f"{max(1, _size_mb(driver_mem) // 2)}m"


def get_spark(
    app_name: str = "energydatalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``master`` defaults to ``local[N]`` with N from ``SPARK_GRAFT_CPUS``
    (falls back to all cores). On a real cluster, pass ``master=None``
    with ``MASTER`` set by the submitter and this is a no-op.

    The codegen cache size is a static conf: it only takes effect when
    this call starts the JVM's first session. When ``getOrCreate``
    returns a session built elsewhere (e.g. ``tools/driver_sim.py``'s
    bare session), that session keeps Spark's default of 100.
    """
    cores = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    n_shuffle = shuffle_partitions if shuffle_partitions is not None else cores
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_mem)
        # Broadcast builds collect through the driver and are capped by
        # maxResultSize (default 1g) — the LSH broadcast-rerank tier
        # (similarity/neardup.py) broadcasts the vector table, which is
        # ~1 GB serialized near its 2M-vector gate (ADVICE r13: the
        # gate sat 3× beyond the largest size the default cap could
        # actually collect). Default = HALF the resolved heap (4g at
        # the 8g default) so the cap can never exceed the heap when a
        # user lowers SPARK_GRAFT_DRIVER_MEM alone; override via
        # SPARK_GRAFT_MAX_RESULT.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get(
                "SPARK_GRAFT_MAX_RESULT", _default_max_result(driver_mem)
            ),
        )
        # Files: pack many small files into tasks; split big ones at 128 MiB.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Runtime bloom-filter pushdown for selective joins (on by
        # default in recent Spark; pinned explicitly because at 100 TB
        # a fact-side scan pruned by a dimension filter is the
        # difference between reading a partition and reading a table).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # Janino class cache (Spark's default: 100 entries). Measured
        # working sets: 118 classes per dashboard pass, ~155 per
        # elt_ingest cycle, 1,210 across the registry. At 100, each
        # dashboard pass recompiled 63-85 classes and each registry pass
        # ~1,860; at 4096 (~3x the registry) warm passes compile 0 and
        # 20-40, and each class is JIT-compiled once, not once per pass.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
