"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query (GoSales semantic rollup) at sf0.001.
``queries()`` — one entry per implemented operator from SURVEY.md §2.
``oracle_sql()`` — DuckDB-runnable ANSI SQL twin for each query.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gcp_etl_pipeline_spark.plans import gosales
from gcp_etl_pipeline_spark import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return gosales.sales_overview(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for each key in queries()."""
    return registry.oracles()
