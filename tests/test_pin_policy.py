"""One pin policy: ``session.pin`` owns every lineage cut.

The guard pins the policy to one place: ``.localCheckpoint(`` appears in
the package only inside ``session.pin`` and the streaming foreachBatch
handler, whose state must be materialized before its micro-batch ends.

The GC check runs every op whose build reaches ``pin`` twice, plainly and
with a thread forcing a driver GC every 50 ms, and asserts the same
order-insensitive digest. A forced GC collects lazy pins' source
DataFrames and their SQL-metric accumulators mid-run; the rows must not
change. The DAGScheduler may log "Failed to update accumulator" ERRORs
meanwhile, with lazy and with eager pins (BASELINE.md "Accumulator ERRORs
under a GC hammer"), so no count of those lines is asserted.
"""

from __future__ import annotations

import ast
import contextlib
import hashlib
import inspect
import threading
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "agentic_data_pipeline_spark"

# (module path under the package, enclosing function) allowed to cut
ALLOWED_CUTS = {("session.py", "pin"),
                ("operators/streaming_ops.py", "handle")}

# The ops whose build reaches session.pin (ext_ann_pq through pq_train).
PINNED_OPS = (
    "q16_part_supplier_counts", "ext_bpe_merges", "ext_triangle_count",
    "ext_pagerank", "ext_dedup_clusters_bounded", "ext_dedup_minhash_md5",
    "ext_semdedup_contract", "ext_knn_graph_derived", "ext_ann_pq",
    "ext_dedup_components_star",
)


def _innermost_def(tree: ast.AST) -> dict[int, str]:
    """line number -> name of the innermost def containing it."""
    owner: dict[int, str] = {}
    # ast.walk is breadth-first, so an inner def overwrites its outer one
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for ln in range(node.lineno, node.end_lineno + 1):
                owner[ln] = node.name
    return owner


def test_local_checkpoint_only_in_pin_and_foreach_batch_state():
    assert (PKG / "session.py").is_file()
    stray = []
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        if ".localCheckpoint(" not in text:
            continue
        rel = path.relative_to(PKG).as_posix()
        owner = _innermost_def(ast.parse(text))
        for ln, line in enumerate(text.splitlines(), 1):
            if (".localCheckpoint(" in line
                    and (rel, owner.get(ln)) not in ALLOWED_CUTS):
                stray.append(f"{rel}:{ln}: {line.strip()}")
    assert not stray, "lineage cuts must call session.pin:\n" + "\n".join(
        stray)


def test_pin_is_the_lazy_cut_and_takes_no_option():
    from agentic_data_pipeline_spark.session import pin

    assert list(inspect.signature(pin).parameters) == ["df"]
    assert "localCheckpoint(eager=False)" in inspect.getsource(pin)


@contextlib.contextmanager
def _gc_hammer(spark, period_s: float = 0.05):
    stop = threading.Event()

    def loop():
        while not stop.is_set():
            spark._jvm.System.gc()
            stop.wait(period_s)

    t = threading.Thread(target=loop, daemon=True)
    t.start()
    try:
        yield
    finally:
        stop.set()
        t.join()


def _digest(df) -> str:
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("op_id", PINNED_OPS)
def test_pinned_op_rows_survive_forced_driver_gc(spark, sf_dir, op_id):
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    plain = _digest(OPS[op_id].fn(spark, sf_dir))
    with _gc_hammer(spark):
        hammered = _digest(OPS[op_id].fn(spark, sf_dir))
    assert hammered == plain
