"""Entry-point contract: ``entry`` runs the flagship KG query;
``queries`` and ``oracle_sql`` map every operator query to the function
that builds it and to its DuckDB oracle text. Both are read from the one registry in
``batch_import_spark/queries/``, where each query is declared once,
directly after its oracle text.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from batch_import_spark.queries import REGISTRY
from batch_import_spark.queries.kg import _kg_triples


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _kg_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle_sql for name, q in REGISTRY.items()}
