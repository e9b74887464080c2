"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship E1+E3 pipeline on sf0.001.
``queries()`` / ``oracle_sql()`` — operator inventory from SURVEY.md §2,
each Spark callable paired with a DuckDB-runnable ANSI-SQL oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ade_agente_documental_empresarial___miner_a_spark.plans.pipeline import (  # noqa: E402
    flagship_query,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: full index build
    (sectioning → chunking → embedding) + scored top-k retrieval with
    A4 percentage normalization (micro-infobot/app.py:110-131, 306-328).
    """
    from ade_agente_documental_empresarial___miner_a_spark.session import (
        ensure_package_shipped,
    )

    ensure_package_shipped(spark)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return flagship_query(docs, question="spark vector join query", k=4)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Iteration order is the driver-facing view derived from the
    CORRECTNESS_r{N}.json records: entries whose latest record is red, then
    entries with no record, then green entries stalest certification first,
    so the driver's ~50-entry check window re-verifies the weakest claims.
    catalog.queries() itself keeps registration order for all other
    consumers."""
    from ade_agente_documental_empresarial___miner_a_spark.plans import catalog

    return catalog.driver_ordered(catalog.queries())


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each queries() key (omissions = rows-only)."""
    from ade_agente_documental_empresarial___miner_a_spark.plans import catalog

    return catalog.driver_ordered(catalog.oracle_sql())
