"""SQL-frontend parity: Spark SQL text for the reference's analytics
must produce exactly the rows of the registry's DataFrame query — two
frontends, one Catalyst plan. In the reference these ran as BigQuery
SQL strings outside the engine (``Queries/*.sql``, README.md:216-300);
here the same SQL parses through Catalyst over temp views.

Dialect note: these are Spark-SQL strings (run via ``spark.sql``), not
the DuckDB oracle strings in the registry."""

from __future__ import annotations

import pytest

from energydatalake_spark.io.readers import read_table
from energydatalake_spark.plans.registry import QUERIES

from tests.conftest import SF_SMOKE

# Queries/Average Energy Consumption by Month.sql:3-11, re-targeted
SPARK_SQL_AVG_BY_MONTH = """
SELECT CAST(month(l_shipdate) AS INT) AS month,
       SUM(l_quantity) / COUNT(*) AS avg_qty,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY month(l_shipdate)
ORDER BY month
"""

# Queries/How does energy consumption vary by time of day_.sql:1-9
SPARK_SQL_AVG_BY_HOUR = """
SELECT CAST(hour(ts) AS INT) AS hour,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value,
       COUNT(*) AS n_events
FROM events
GROUP BY hour(ts)
ORDER BY hour
"""

# Queries/Percentage Distribution of Each Energy.sql:5-15 shape
SPARK_SQL_MIX_PERCENTAGE = """
SELECT
  FLOOR(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN CAST(l_extendedprice AS DECIMAL(25,8)) ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) * 100 * 1e2 + 0.5) / 1e2 AS pct_a,
  FLOOR(CAST(SUM(CASE WHEN l_returnflag = 'N' THEN CAST(l_extendedprice AS DECIMAL(25,8)) ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) * 100 * 1e2 + 0.5) / 1e2 AS pct_n,
  FLOOR(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN CAST(l_extendedprice AS DECIMAL(25,8)) ELSE 0 END) AS DOUBLE)
        / CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) * 100 * 1e2 + 0.5) / 1e2 AS pct_r
FROM lineitem
"""

# README.md:288-300 (weather-vs-price correlate)
SPARK_SQL_MULTIKEY_AVG = """
SELECT l_returnflag, l_linestatus,
       FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE) / COUNT(*) * 1e2 + 0.5) / 1e2
         AS average_price
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY average_price DESC
"""

# Engine extension (not a reference query): GROUP BY ROLLUP parses
# through the same Catalyst path as the DataFrame `.rollup()` twin.
SPARK_SQL_ROLLUP_REVENUE = """
SELECT COALESCE(l_returnflag, '<ALL>') AS returnflag,
       COALESCE(l_linestatus, '<ALL>') AS linestatus,
       COUNT(*) AS n_rows,
       FLOOR(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,8))) AS DOUBLE)
             * 1e2 + 0.5) / 1e2 AS sum_price
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY returnflag, linestatus
"""

SQL_FORMS = {
    "avg_by_month": SPARK_SQL_AVG_BY_MONTH,
    "avg_by_hour": SPARK_SQL_AVG_BY_HOUR,
    "mix_percentage": SPARK_SQL_MIX_PERCENTAGE,
    "multikey_avg": SPARK_SQL_MULTIKEY_AVG,
}

#: Forms whose DataFrame twin declares no output order — parity is
#: row-set equality (the SQL adds ORDER BY only for determinism).
SQL_FORMS_UNORDERED = {
    "rollup_revenue": SPARK_SQL_ROLLUP_REVENUE,
}


def _run_sql(spark, sql: str):
    for name in ("lineitem", "events"):
        read_table(spark, SF_SMOKE, name).createOrReplaceTempView(name)
    return spark.sql(sql)


@pytest.mark.parametrize("name", sorted(SQL_FORMS))
def test_sql_form_matches_dataframe(spark, name):
    df_rows = [tuple(r) for r in QUERIES[name].build(spark, SF_SMOKE).collect()]
    sql_rows = [tuple(r) for r in _run_sql(spark, SQL_FORMS[name]).collect()]
    assert sql_rows == df_rows
    assert len(sql_rows) > 0


@pytest.mark.parametrize("name", sorted(SQL_FORMS_UNORDERED))
def test_unordered_sql_form_matches_dataframe(spark, name):
    """Twin declares no output order — compare as sorted row lists."""
    df_rows = sorted(
        tuple(r) for r in QUERIES[name].build(spark, SF_SMOKE).collect()
    )
    sql_rows = sorted(
        tuple(r) for r in _run_sql(spark, SQL_FORMS_UNORDERED[name]).collect()
    )
    assert sql_rows == df_rows
    assert len(sql_rows) > 0
