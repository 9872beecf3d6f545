"""Testdata loaders for the driver-generated parquet tables."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


def load_table(spark: SparkSession, name: str, base: str | None = None) -> DataFrame:
    base = base or sf_dir()
    return spark.read.parquet(f"{base}/{name}.parquet")


def load_tables(spark: SparkSession, base: str | None = None,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    return {n: load_table(spark, n, base) for n in (names or TABLES)}
