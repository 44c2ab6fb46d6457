"""catalog.read_parquet: the memoized-schema read every table load uses.

A parquet read with no schema makes Spark run one job to read a footer.
read_parquet remembers each path's schema under its os.stat stamp and the
schema-inference confs, so a repeat read runs no job. These tests pin that
the memo saves the job and never serves a stale schema.
"""

import os
import re
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType

from agentic_data_pipeline_spark.catalog import load_table, read_parquet
from agentic_data_pipeline_spark.session import RUNTIME_CONFS
from agentic_data_pipeline_spark.sources.bronze import read_bronze, write_bronze

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "agentic_data_pipeline_spark")
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"


def _counting_jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran)."""
    sc = spark.sparkContext
    group = f"catalog-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "counted catalog read")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_repeat_load_table_runs_no_job(spark, tmp_path):
    spark.range(20).selectExpr("id AS k", "id * 2 AS v") \
        .write.parquet(str(tmp_path / "t.parquet"))
    cold, n_cold = _counting_jobs(
        spark, lambda: load_table(spark, str(tmp_path), "t"))
    warm, n_warm = _counting_jobs(
        spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert n_cold >= 1  # the footer job the memo saves
    assert n_warm == 0
    assert warm.schema == cold.schema
    # each read is its own relation, so a self-join resolves both sides
    assert cold.join(warm, cold["k"] == warm["k"]).count() == 20


def test_overwrite_with_new_schema_is_seen(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.range(5).selectExpr("id AS a").write.parquet(path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    spark.range(3).selectExpr("CAST(id AS STRING) AS b", "id AS c") \
        .write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["b", "c"]
    assert sorted(r["b"] for r in df.collect()) == ["0", "1", "2"]


@pytest.fixture
def nanos_events(tmp_path):
    """A one-file events table whose ts is INT64 TIMESTAMP(NANOS)."""
    table = pa.table({
        "event_id": pa.array([1, 2], pa.int64()),
        "ts": pa.array([1_700_000_000_123_456_789, 1_700_000_001_000_000_001],
                       pa.timestamp("ns")),
    })
    pq.write_table(table, str(tmp_path / "events.parquet"),
                   version="2.6", coerce_timestamps=None)
    return str(tmp_path)


def test_nanos_conf_is_part_of_the_key(spark, nanos_events, monkeypatch):
    assert isinstance(load_table(spark, nanos_events, "events")
                      .schema["ts"].dataType, LongType)
    monkeypatch.setitem(RUNTIME_CONFS, NANOS_CONF, "false")
    try:
        # Without nanosAsLong, Spark has no type for TIMESTAMP(NANOS): the
        # read fails instead of returning the memoized LONG schema.
        with pytest.raises(Exception, match=r"TIMESTAMP\(NANOS"):
            load_table(spark, nanos_events, "events")
    finally:
        monkeypatch.undo()
        spark.conf.set(NANOS_CONF, RUNTIME_CONFS[NANOS_CONF])
    df, n = _counting_jobs(
        spark, lambda: load_table(spark, nanos_events, "events"))
    assert n == 0 and isinstance(df.schema["ts"].dataType, LongType)


def test_partitioned_bronze_read_on_memo_hit(spark, sf_dir, tmp_path):
    lake = str(tmp_path / "lake")
    ev = load_table(spark, sf_dir, "events").limit(200)
    write_bronze(ev, lake, "ev", partition_by=["event_type"])
    read_bronze(spark, lake, "ev")
    hot, n = _counting_jobs(spark, lambda: read_bronze(spark, lake, "ev"))
    cold = spark.read.parquet(os.path.join(lake, "ev"))
    assert n == 0
    assert hot.columns[-1] == "event_type"
    assert hot.schema == cold.schema
    assert sorted(map(tuple, hot.collect())) == \
        sorted(map(tuple, cold.collect()))


def test_missing_path_contracts_hold(spark, tmp_path):
    empty = read_bronze(spark, str(tmp_path), "nope")
    assert empty.columns == [] and empty.count() == 0
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        load_table(spark, str(tmp_path), "nope")
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "nope"))


# Package reads that must not go through read_parquet, by file and line.
ALLOWED_DIRECT_READS = {
    # one snapshot is a list of files: a multi-path read
    ("sources/snapshots.py", "return spark.read.parquet(*files)"),
    # inside foreachBatch: the micro-batch session is the stream's clone
    # (AQE off), which tune() must not reset
    ("operators/streaming_ops.py",
     "prev = batch_df.sparkSession.read.parquet(prev_path)"),
    ("operators/streaming_ops.py", "prev_c = s.read.parquet(prev_c_path)"),
    ("operators/streaming_ops.py", "prev_k = s.read.parquet(prev_k_path)"),
}


def test_parquet_reads_go_through_catalog():
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "catalog.py":
                continue
            with open(path) as f:
                for line in f:
                    if re.search(r"\.read\.parquet\(", line):
                        found.add((rel, line.strip()))
    assert found == ALLOWED_DIRECT_READS, (
        "read parquet through catalog.read_parquet (or name the exception "
        f"here): {sorted(found ^ ALLOWED_DIRECT_READS)}")
