"""The of-record floor metric (r9 verdict item 6, r10): min-merged
per-query Spark minima over same-(sf, set_version, perf_epoch, cpus)
invocations ÷ DuckDB-twin minima over same-(sf, set_version, cpus)
invocations. Pure-JSON logic in bench._record_history / bench.floor —
no Spark session needed."""

import json


def _art(unix, epoch, queries, duck, ratio=2.0, cpus=4):
    return {
        "sf": 0.1, "set_version": "v2", "invocation_unix": unix,
        "load_avg": [1.0, 1.0, 1.0], "duckdb_twin_total_sec": 1.0,
        "spark_over_duckdb_ratio": ratio, "value_live": sum(
            queries.values()), "git_sha": "deadbeef",
        "perf_epoch": epoch, "queries": queries, "duckdb_twin_sec": duck,
        "cpus": cpus,
    }


def test_floor_merges_spark_same_epoch_duck_all_set(tmp_path):
    import bench

    hist = str(tmp_path / "h.jsonl")
    # an OLD-epoch row: its spark times must NOT enter the floor,
    # but its duck twin minima MUST (oracle SQL is code-independent)
    bench._record_history(
        _art(1.0, "r9", {"q1": 0.10, "q2": 0.50}, {"q1": 0.02, "q2": 0.08}),
        hist_path=hist)
    # two current-epoch rows with complementary contention
    bench._record_history(
        _art(2.0, "rX", {"q1": 0.30, "q2": 0.20}, {"q1": 0.05, "q2": 0.10}),
        hist_path=hist)
    out = bench._record_history(
        _art(3.0, "rX", {"q1": 0.20, "q2": 0.40}, {"q1": 0.06, "q2": 0.09}),
        hist_path=hist)
    # spark floor: q1 min(0.30, 0.20)=0.20, q2 min(0.20, 0.40)=0.20
    # (the r9 row's 0.10/0.50 excluded — different engine code)
    # duck floor: q1 min(0.02,0.05,0.06)=0.02, q2 min(0.08,0.10,0.09)=0.08
    assert out["floor_spark_cov_sec"] == 0.4
    assert out["floor_duck_cov_sec"] == 0.1
    assert out["ratio_floor_epoch"] == 4.0
    assert out["value_floor_epoch"] == 0.4
    assert out["n_epoch_floor_rows"] == 2
    assert out["n_duck_floor_rows"] == 3
    assert len(json.loads(open(hist).readlines()[-1])["queries"]) == 2


def test_floor_covers_only_twin_covered_queries(tmp_path):
    import bench

    hist = str(tmp_path / "h.jsonl")
    out = bench._record_history(
        _art(1.0, "rX", {"q1": 0.2, "q_noduck": 5.0}, {"q1": 0.1}),
        hist_path=hist)
    assert out["ratio_floor_epoch"] == 2.0          # q_noduck excluded
    assert out["value_floor_epoch"] == 5.2          # but in the value total


def test_skip_duck_row_enters_spark_floor(tmp_path):
    """r10 ADVICE (medium): a SPARK_GRAFT_SKIP_DUCK invocation records
    ratio=None — it must still contribute its per-query Spark minima to
    the floor (default conf, same epoch); it adds no twin minima."""
    import bench

    hist = str(tmp_path / "h.jsonl")
    bench._record_history(
        _art(1.0, "rX", {"q1": 0.50}, {"q1": 0.10}), hist_path=hist)
    out = bench._record_history(
        _art(2.0, "rX", {"q1": 0.20}, {}, ratio=None), hist_path=hist)
    assert out["ratio_floor_epoch"] == 2.0      # spark min 0.20 / duck 0.10
    assert out["n_epoch_floor_rows"] == 2
    assert out["n_duck_floor_rows"] == 1


def test_floor_merges_only_same_cpus_rows(tmp_path):
    """Numbers taken at different core counts never merge: a local[4]
    floor takes its Spark and DuckDB minima from cpus=4 rows only, and a
    row recorded without cpus merges into no floor, not even its own."""
    import bench

    hist = str(tmp_path / "h.jsonl")
    bench._record_history(
        _art(1.0, "rX", {"q1": 0.05}, {"q1": 0.01}, cpus=32), hist_path=hist)
    legacy = _art(2.0, "rX", {"q1": 0.06}, {"q1": 0.015})
    del legacy["cpus"]
    assert bench._record_history(legacy, hist_path=hist)[
        "n_epoch_floor_rows"] == 0
    bench._record_history(
        _art(3.0, "rX", {"q1": 0.50}, {"q1": 0.20}), hist_path=hist)
    out = bench._record_history(
        _art(4.0, "rX", {"q1": 0.40}, {"q1": 0.25}), hist_path=hist)
    assert out["floor_spark_cov_sec"] == 0.4
    assert out["floor_duck_cov_sec"] == 0.2
    assert out["ratio_floor_epoch"] == 2.0
    assert out["value_floor_epoch"] == 0.4
    assert out["n_epoch_floor_rows"] == 2
    assert out["n_duck_floor_rows"] == 2
    assert json.loads(open(hist).readlines()[-1])["cpus"] == 4


def test_floor_counts_only_this_invocations_queries(tmp_path):
    """Subset runs share a set_version; one subset's floor must not add
    the queries another subset ran."""
    import bench

    hist = str(tmp_path / "h.jsonl")
    bench._record_history(
        _art(1.0, "rX", {"q1": 0.30, "q2": 0.70}, {"q1": 0.1, "q2": 0.2}),
        hist_path=hist)
    out = bench._record_history(
        _art(2.0, "rX", {"q1": 0.20}, {"q1": 0.1}), hist_path=hist)
    assert out["value_floor_epoch"] == 0.2
    assert out["ratio_floor_epoch"] == 2.0
