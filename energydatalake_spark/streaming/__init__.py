from energydatalake_spark.streaming.dedup import (
    streaming_dedup,
    streaming_dedup_within_watermark,
)
from energydatalake_spark.streaming.sessions import sessionize, sessionize_sql
from energydatalake_spark.streaming.windows import hourly_rollup, run_stream_to_memory

__all__ = [
    "hourly_rollup",
    "run_stream_to_memory",
    "sessionize",
    "sessionize_sql",
    "streaming_dedup",
    "streaming_dedup_within_watermark",
]
