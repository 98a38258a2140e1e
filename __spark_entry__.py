"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check on sf0.001.
``queries()`` — every oracle-checked operator (SURVEY.md §2).
``oracle_sql()`` — DuckDB-equivalent SQL per query key.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# The driver imports this file by path; make the package importable
# regardless of the caller's working directory.
_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)
# Executor python workers don't inherit this sys.path; PYTHONPATH set
# before the JVM launches covers sessions created after this import, and
# session._ship_package (addPyFile of the package zip) covers sessions
# that already exist.
os.environ["PYTHONPATH"] = _REPO_ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")

from kinesis_producer_spark.session import _ship_package  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from kinesis_producer_spark.operators.relational import q01_pricing_summary

    _ship_package(spark)
    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from kinesis_producer_spark.suite import load_all

    q, _ = load_all()

    def shipped(fn: Callable[[SparkSession, str], DataFrame]) -> Callable[[SparkSession, str], DataFrame]:
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _ship_package(spark)
            return fn(spark, sf_dir)

        return run

    return {name: shipped(fn) for name, fn in q.items()}


def oracle_sql() -> dict[str, str]:
    from kinesis_producer_spark.suite import load_all

    _, o = load_all()
    return dict(o)
