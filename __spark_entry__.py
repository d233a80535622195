"""Driver contract for the spark-graft builder (PySpark target).

Thin delegator: the real registry lives in
``parlerproject_spark.queries`` (each entry pairs a DataFrame builder
with its DuckDB oracle SQL; rows-only ops register oracle=None).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parlerproject_spark import queries as _q  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY §3.3 pipeline shape) on sf0.001."""
    return _q.flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
