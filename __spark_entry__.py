"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` / ``oracle_sql()`` expose the engine's operator inventory
(SURVEY.md §2) through the driver's DuckDB-oracle correctness gate; the
implementations live in ``coffea_spark.queries``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from coffea_spark.queries import REGISTRY  # noqa: E402
from coffea_spark.testing import FixtureMissing  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the jagged per-order pipeline (collect into array<struct>,
    inner-axis reductions via HOFs, event-level agg) on sf0.001."""
    from coffea_spark.queries import q_jagged_reduce

    return q_jagged_reduce(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """Oracle SQL per gate; rows-only gates and gates whose oracle is
    built from an absent reference fixture are omitted."""
    out = {}
    for name, q in REGISTRY.items():
        try:
            sql = q.sql
        except FixtureMissing:
            continue
        if sql is not None:
            out[name] = sql
    return out
