from energydatalake_spark.operators.normalize import normalize_columns
from energydatalake_spark.operators.clean import drop_nulls, dedup, null_profile
from energydatalake_spark.operators.asof import asof_join, asof_join_pandas
from energydatalake_spark.operators.band import band_join
from energydatalake_spark.operators.topk import top_k_per_group
from energydatalake_spark.operators.setops import union_all

__all__ = [
    "normalize_columns",
    "drop_nulls",
    "dedup",
    "null_profile",
    "asof_join",
    "asof_join_pandas",
    "band_join",
    "top_k_per_group",
    "union_all",
]
