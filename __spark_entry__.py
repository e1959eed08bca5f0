"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

The actual engine lives in ``mura_spark``; the query/oracle registry in
``mura_spark.suite`` (one entry per implemented operator from SURVEY.md §2
plus the north-star extension operators).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _configure(spark: SparkSession) -> SparkSession:
    """Pin the engine's SQL confs (the ``spark.sql.*`` keys of
    ``session.DEFAULT_CONF``) on a session this module did not build.
    The rest are core confs that Spark fixes when the context starts, so
    such a session keeps its own, e.g. ``pyspark.daemon`` as its Python
    worker daemon."""
    from mura_spark.session import DEFAULT_CONF
    for k, v in DEFAULT_CONF.items():
        if k.startswith("spark.sql."):
            spark.conf.set(k, v)
    return spark


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H-Q1-shaped pricing summary at sf0.001."""
    from mura_spark.suite import SPARK_QUERIES
    _configure(spark)
    return SPARK_QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator (SURVEY.md §2 + extensions)."""
    from mura_spark.suite import SPARK_QUERIES

    def wrap(fn):
        return lambda spark, sf_dir: fn(_configure(spark), sf_dir)

    return {name: wrap(fn) for name, fn in SPARK_QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per query; approximate/non-SQL ops omitted
    (driver records a rows-only check for those)."""
    from mura_spark.suite import ORACLE_SQL
    return dict(ORACLE_SQL)
