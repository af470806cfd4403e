"""Loaders for the driver-provided parquet star schema (/root/testdata/sf*)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

__all__ = ["TABLES", "load_table"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
