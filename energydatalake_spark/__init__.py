"""energydatalake_spark — a PySpark-native analytics engine.

Brand-new implementation of the query/data-processing surface of the
reference energy data lake (ashishsalunkhe/energydatalake), re-expressed
Spark-first: DataFrame/SQL logical plans optimized by Catalyst, Parquet
columnar storage, Structured Streaming for the stream-shaped registry
queries, and Pandas-UDF-backed operators only where built-ins cannot
express the semantics (none of the reference's own operators need that;
only optional parity oracles do).

Layout
------
- ``session``    SparkSession factory (AQE, Arrow, UTC, tuned shuffle).
- ``io``         schema-enforced readers, writers, post-write archival.
- ``operators``  relational/temporal operators (SURVEY.md §2 inventory).
- ``text``       LLM-data-pipeline text ops (stats, lang-id, dedup).
- ``similarity`` embedding similarity search (brute-force + LSH).
- ``multimodal`` binary media columns: decode/feature plumbing (stubs).
- ``streaming``  Structured Streaming operators (rollup, dedup, as-of)
                 and batch sessionization.
- ``pipelines``  the six reference pipelines, config-driven, local dirs.
- ``plans``      query registry backing ``__spark_entry__.py``.
"""

__version__ = "0.1.0"


def release_caches(blocking: bool = False) -> int:
    """Unpersist every frame the engine cached across query builds —
    MinHash/ngram shingle frames (text.dedup) and compact-rerank
    quantized frames (similarity.neardup). Long-lived sessions running
    many registry queries call this between actions (bench.py,
    perfbench and the oracle/plan tools do); returns how many frames
    were released. Persisted SQL frames are pinned by the JVM
    CacheManager until unpersist — Python GC never frees them (r15
    self-review)."""
    from energydatalake_spark.similarity.neardup import (
        release_quantized_cache,
    )
    from energydatalake_spark.text.dedup import release_shingle_cache

    return release_shingle_cache(blocking) + release_quantized_cache(blocking)
