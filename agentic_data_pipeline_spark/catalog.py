"""Multi-table catalog over the parquet lake.

The reference's "catalog" is one parquet file per dataset addressed by name
(reference engine.py:14,46-56) and one magic SQL binding ``CURRENT_TABLE``
that is string-substituted with a file path (engine.py:58-63). Here the
catalog is a real multi-table namespace: each dataset is a (partitioned)
parquet directory or file, loaded lazily as a DataFrame and registered as a
temp view, so Spark SQL sees every table at once and Catalyst gets partition
pruning + filter pushdown on the scans.

Single-path parquet reads in the package go through ``read_parquet``
(tests/test_catalog_reads.py names the exceptions), which memoizes inferred
schemas. A read with no schema makes Spark run a whole job to read one
footer, so a query over six tables paid six jobs before it ran. The memo is keyed on the path, its ``os.stat``
stamp (mtime_ns, size, inode) and the session confs that change parquet
schema inference (``_SCHEMA_CONFS``). A hit passes the stored schema to the
reader, so no job runs. It holds ``StructType``s only, never DataFrames:
each call still builds a fresh relation with fresh attribute ids, so a
self-join of two reads stays unambiguous. Limits: only paths that
``os.stat`` sees locally are memoized (other URIs read plainly), and
the stamp is the top path's, so a file rewritten in place by a non-Spark
writer inside a directory (a partition subdirectory, say) is not seen.
Spark's own writes always restamp the top directory.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .session import tune

# The fixture tables (TESTDATA.md). `events.ts` has shipped as either INT64
# nanos (r1 lake) or a real parquet TIMESTAMP (r2 lake) — see ts_us_long /
# ts_us_timestamp for the canonical schema-sniffing conversion.
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs that change the schema Spark infers from the same bytes.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
_SCHEMA_MEMO_MAX = 256
_schema_memo: OrderedDict[tuple, StructType] = OrderedDict()
_schema_memo_lock = threading.Lock()


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers each path's schema once.

    See the module docstring for the memo's key and limits. A path that
    cannot be stat'ed (a non-local URI, a missing path) is read plainly,
    so it raises exactly as Spark does.
    """
    tune(spark)  # nanosAsLong + UTC must be set before the parquet footer read
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return spark.read.parquet(path)
    key = (path, st.st_mtime_ns, st.st_size, st.st_ino,
           tuple(spark.conf.get(k, None) for k in _SCHEMA_CONFS))
    with _schema_memo_lock:
        schema = _schema_memo.get(key)
        if schema is not None:
            _schema_memo.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        if len(_schema_memo) > _SCHEMA_MEMO_MAX:
            _schema_memo.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one dataset from the lake directory.

    Mirrors reference engine.py:52-56 semantics *except* the empty-on-missing
    fallback, which lives in sources.bronze.read_bronze — for catalog reads a
    missing fixture is a hard error (fail fast beats silently-empty analytics).
    """
    return read_parquet(spark, table_path(sf_dir, name))


def ts_us_long(ev: DataFrame):
    """µs-since-epoch BIGINT expression for `events.ts`, schema-robust.

    The lake has shipped events.ts two ways: INT64 TIMESTAMP(NANOS) (read as
    LONG under nanosAsLong) and plain parquet TIMESTAMP (µs, read as
    TIMESTAMP_NTZ). Both reduce to the same µs integer DuckDB's
    ``epoch_us(ts)`` yields — nanos truncate, µs are exact (session tz is
    pinned UTC by session.tune, so the NTZ→instant cast is identity).
    """
    from pyspark.sql.types import LongType

    if isinstance(ev.schema["ts"].dataType, LongType):
        return F.expr("ts div 1000")
    return F.unix_micros(F.col("ts").cast("timestamp"))


def ts_us_timestamp(ev: DataFrame):
    """µs-precision TIMESTAMP expression for `events.ts` (twin of
    ts_us_long for window/date_trunc call sites)."""
    from pyspark.sql.types import LongType

    if isinstance(ev.schema["ts"].dataType, LongType):
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def events_with_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events plus a usable µs-precision timestamp column `ts_us`."""
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("ts_us", ts_us_timestamp(ev))


def register_views(spark: SparkSession, sf_dir: str,
                   tables: tuple[str, ...] = TABLES) -> dict[str, DataFrame]:
    """Register every lake table as a temp view; returns name → DataFrame."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def bind_current_table(spark: SparkSession, df: DataFrame) -> None:
    """Bind a DataFrame to the reference's magic table name.

    The reference substitutes ``CURRENT_TABLE`` with a parquet path string
    before handing SQL to DuckDB (engine.py:62). With a real catalog the
    binding is just a temp view — no string surgery in the SQL text, and
    Catalyst resolves it like any other relation.
    """
    df.createOrReplaceTempView("CURRENT_TABLE")


def numeric_columns(df: DataFrame) -> list[str]:
    """Names of numeric columns (reference app.py:236 `select_dtypes` helper)."""
    from pyspark.sql.types import NumericType

    return [f.name for f in df.schema.fields if isinstance(f.dataType, NumericType)]
