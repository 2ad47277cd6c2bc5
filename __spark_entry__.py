"""Driver contract for the spark-graft builder (PySpark target).

Thin wrapper over ``tabsketchfm_spark.plans.registry`` — every
implemented operator from SURVEY.md §2 is registered there with a
matching DuckDB oracle. ``entry`` runs the flagship joinability search
(SURVEY §7.3): "which columns in the lake are joinable with
orders.o_custkey?" via MinHash sketches.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tabsketchfm_spark.plans import registry


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return registry.queries()["k3_joinability_o_custkey"](
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    return registry.oracle_sql()
