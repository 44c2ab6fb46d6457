"""Small-file compaction for the parquet bronze lake.

Streaming and incremental ingestion (sources.bronze append mode,
streaming_ops.stream_to_bronze) accumulate many small files; scans then pay
per-file open/footer costs and lose row-group-sized reads. Compaction
rewrites a directory to ceil(bytes / target_file_bytes) files via
`coalesce` — a shuffle-free merge where each output task reads several
input splits sequentially.

The reference never needs this because its whole lake is one file per
dataset overwritten on every save (reference engine.py:46-50); at 100 TB
with appends, compaction is routine table maintenance (run per partition
directory, gated on mean file size).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession

from ..catalog import read_parquet

TARGET_FILE_BYTES = 128 * 1024 * 1024  # parquet row-group sweet spot


def parquet_data_files(path: str) -> list[str]:
    """Data files of a parquet directory (excludes _SUCCESS etc.)."""
    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    return sorted(out)


def target_file_count(path: str,
                      target_bytes: int = TARGET_FILE_BYTES) -> int:
    total = sum(os.path.getsize(f) for f in parquet_data_files(path))
    return max(1, math.ceil(total / target_bytes))


def compact_parquet(spark: SparkSession, src: str, dst: str,
                    target_bytes: int = TARGET_FILE_BYTES) -> int:
    """Rewrite parquet dir ``src`` into ``dst`` with right-sized files.

    Returns the output file count. `coalesce` keeps this shuffle-free;
    ordering within files may change (parquet sets are unordered), content
    is identical.
    """
    n = target_file_count(src, target_bytes)
    read_parquet(spark, src).coalesce(n).write.mode("overwrite").parquet(dst)
    return n
