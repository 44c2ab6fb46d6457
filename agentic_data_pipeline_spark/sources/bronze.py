"""Bronze (raw-zone) parquet lake (reference engine.py:40-56 rebuilt).

The reference writes ONE parquet file per dataset (engine.py:48) — its single
real scalability sin. Here a dataset is a parquet *directory*, optionally
hive-partitioned, written in parallel by every executor; at 100 TB the write
is shuffle-free and the read gets partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..catalog import read_parquet
from ..session import tune


def bronze_path(lake_dir: str, name: str) -> str:
    return os.path.join(lake_dir, name)


def write_bronze(df: DataFrame, lake_dir: str, name: str,
                 partition_by: list[str] | None = None,
                 mode: str = "overwrite") -> str:
    """Persist a dataset to the bronze lake; returns its path
    (save_to_bronze, engine.py:46-50)."""
    path = bronze_path(lake_dir, name)
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


def read_bronze(spark: SparkSession, lake_dir: str, name: str,
                schema: StructType | None = None) -> DataFrame:
    """Load a dataset; a missing dataset yields an EMPTY DataFrame, not an
    error — deliberately preserving load_dataset's contract (engine.py:52-56).

    Pass ``schema`` to give the empty frame a real schema; otherwise it is
    zero-column like the reference's bare ``pd.DataFrame()``.
    """
    path = bronze_path(lake_dir, name)
    try:
        if schema is None:
            return read_parquet(spark, path)
        tune(spark)
        return spark.read.schema(schema).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema=schema or StructType([]))
