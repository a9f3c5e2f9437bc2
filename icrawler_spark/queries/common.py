"""Shared helpers for the oracle-checked query registry."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MONEY = "decimal(18,4)"


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan; Catalyst prunes columns / pushes filters."""
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def money(col):
    """Exact-arithmetic money path: double → DECIMAL(18,4).

    Input doubles carry 2-decimal values; the decimal cast makes group sums
    exact integers-scaled arithmetic, so Spark and DuckDB agree bit-for-bit
    regardless of aggregation order. Final results cast back to double.
    """
    return F.col(col).cast(MONEY) if isinstance(col, str) else col.cast(MONEY)
