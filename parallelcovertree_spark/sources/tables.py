"""Loaders for the driver-generated testdata star schema (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")

