"""Streaming plane: the readStream tumbling-window agg must equal its batch
twin (q_tumble) on the same input — kappa-consistency check."""

from agentic_data_pipeline_spark.catalog import table_path
from agentic_data_pipeline_spark.operators.sql_surface import q_tumble
from agentic_data_pipeline_spark.operators.streaming_ops import _as_stream_dir
from agentic_data_pipeline_spark.streaming.windows import run_stream_to_table


def test_stream_matches_batch(spark, sf_dir):
    run_stream_to_table(spark, _as_stream_dir(table_path(sf_dir, "events")),
                        "t_stream")
    got = {(r["bucket_epoch"], r["event_type"]): (r["cnt"], r["sum_value"])
           for r in spark.table("t_stream").collect()}
    exp = {(r["bucket_epoch"], r["event_type"]): (r["cnt"], r["sum_value"])
           for r in q_tumble(spark, sf_dir).collect()}
    assert got == exp and len(got) > 0


def test_stream_to_bronze_foreachbatch(spark, sf_dir, tmp_path):
    from agentic_data_pipeline_spark.streaming.windows import stream_to_bronze

    src = _as_stream_dir(table_path(sf_dir, "events"))
    path = stream_to_bronze(spark, src, str(tmp_path / "lake"), "events_rt",
                            checkpoint_dir=str(tmp_path / "ckpt"))
    got = spark.read.parquet(path)
    exp = spark.read.parquet(table_path(sf_dir, "events"))
    assert got.count() == exp.count()
    # re-running with the same checkpoint must NOT duplicate (exactly-once)
    stream_to_bronze(spark, src, str(tmp_path / "lake"), "events_rt",
                     checkpoint_dir=str(tmp_path / "ckpt"))
    assert spark.read.parquet(path).count() == exp.count()


def test_rocksdb_state_store_parity(spark, sf_dir):
    """The tumbling agg produces identical results under the RocksDB state
    store (the at-scale backend) and the default HDFS-backed one."""
    from agentic_data_pipeline_spark.catalog import table_path
    from agentic_data_pipeline_spark.operators.streaming_ops import _as_stream_dir
    from agentic_data_pipeline_spark.streaming.windows import (
        ROCKSDB_PROVIDER, run_stream_to_table, use_rocksdb_state)

    src = _as_stream_dir(table_path(sf_dir, "events"))
    run_stream_to_table(spark, src, "t_default_store")
    use_rocksdb_state(spark)
    try:
        assert (spark.conf.get("spark.sql.streaming.stateStore.providerClass")
                == ROCKSDB_PROVIDER)
        run_stream_to_table(spark, src, "t_rocksdb_store")
    finally:
        use_rocksdb_state(spark, enable=False)
    a = sorted(map(tuple, spark.table("t_default_store").collect()))
    b = sorted(map(tuple, spark.table("t_rocksdb_store").collect()))
    assert a == b and len(a) > 0


def test_stream_upsert_merges_across_micro_batches(spark, sf_dir):
    """The upsert must actually iterate: 4 ts-range part files +
    maxFilesPerTrigger=1 → one state version per micro-batch, each merging
    the previous (a single-batch run would make the op vacuous)."""
    import glob
    import os

    from agentic_data_pipeline_spark.operators.reference_ops import _TMP
    from agentic_data_pipeline_spark.registry import OPS

    out = OPS["stream_upsert"].fn(spark, sf_dir)
    assert out.count() > 0
    run_dirs = sorted(glob.glob(os.path.join(_TMP, "stream_upsert", "*")),
                      key=os.path.getmtime)
    states = glob.glob(os.path.join(run_dirs[-1], "state_v*"))
    assert len(states) >= 3, f"expected >=3 micro-batches, got {len(states)}"


def test_stream_sessionize_tws_matches_batch(spark, sf_dir):
    """transformWithStateInPandas port of sessionization (r7): must equal
    the batch sessionize result, like the applyInPandasWithState path.
    ENV-GATED: the TWS streaming runner needs google.protobuf, absent in
    this container (blocker recorded in BASELINE.md) — the test runs the
    moment the env gains it."""
    import uuid

    import pytest

    from agentic_data_pipeline_spark.catalog import table_path
    from agentic_data_pipeline_spark.operators.streaming_ops import (
        _as_stream_dir,
    )
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded
    from agentic_data_pipeline_spark.streaming.sessions import (
        stream_sessionize_tws, tws_available,
    )
    from agentic_data_pipeline_spark.streaming.windows import run_to_memory

    if not tws_available():
        pytest.skip("google.protobuf unavailable: transformWithState's "
                    "streaming runner cannot start in this container")
    _ensure_loaded()
    table = f"tws_sessions_{uuid.uuid4().hex[:8]}"
    sdf = stream_sessionize_tws(
        spark, _as_stream_dir(table_path(sf_dir, "events")))
    run_to_memory(sdf, table, output_mode="append")
    got = {(r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
           for r in spark.table(table).collect()}
    want = {(r["user_id"], r["session_id"]): (r["n_events"], r["sum_value"])
            for r in OPS["ext_sessionize"].fn(spark, sf_dir).collect()}
    assert got == want
