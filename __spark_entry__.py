"""Entry points of the PySpark build.

``entry(spark)`` routes the sf0.001 events table through the dispatch
engine and counts records per destination. ``queries()`` maps each
registered query name to its plan builder, and ``oracle_sql()`` maps
the same names to DuckDB SQL over the same tables
(tools/check_oracle.py compares the two). The implementations live in
``kafka_processor_cosmos_tx_dispatch_spark/queries/``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kafka_processor_cosmos_tx_dispatch_spark import queries as _q

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the dispatch engine (the reference's whole topology as one
    DataFrame plan) routing the sf0.001 events table — multicast rule
    matches plus DLQ fallback, summarized per destination topic."""
    from pyspark.sql import functions as F

    routed = _q.dispatch_route(spark, SMOKE_SF_DIR)
    return (
        routed.groupBy("topic", "rule_name")
        .agg(F.count(F.lit(1)).alias("n_records"))
        .orderBy("topic")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _q.queries()


def oracle_sql() -> dict[str, str]:
    return _q.oracle_sql()
