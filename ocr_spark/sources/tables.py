"""Table loading for the driver testdata and the synthetic span tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def load_span_documents(spark: SparkSession, base_dir: str) -> tuple[DataFrame, DataFrame]:
    """Read the synthesized interleaved documents + media datasets."""
    docs = spark.read.parquet(os.path.join(base_dir, "documents"))
    media = spark.read.parquet(os.path.join(base_dir, "media"))
    return docs, media
