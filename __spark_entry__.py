"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction pipeline over the sf0.001
documents table (adapted into the interleaved span shape); ``queries()`` /
``oracle_sql()`` expose the full operator catalog from
ocr_spark/queries.py with DuckDB oracle twins.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from ocr_spark.queries import CATALOG  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: sf0.001 documents → interleaved span table → extraction
    pipeline → typed invoices DataFrame."""
    from pyspark.sql import functions as F

    from ocr_spark.corpus import COMPANIES, SUPPLIERS
    from ocr_spark.operators.extract import build_pipeline

    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs = raw.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit("").alias("media_ref"),
                F.lit(0).cast("int").alias("offset"),
            )
        ).alias("spans"),
    )
    return build_pipeline(
        spark, docs, media=None, companies=COMPANIES, suppliers=SUPPLIERS
    ).invoices


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (plus the
    training-data operator family)."""
    return {name: fn for name, (fn, _sql) in CATALOG.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin per query (omitted for the
    non-SQL-expressible pipeline/LSH/simhash entries → rows-only check)."""
    return {name: sql for name, (_fn, sql) in CATALOG.items() if sql is not None}
