"""Pin the r12 Arrow md5-minhash signature to its Catalyst twin: the
mapInArrow partial-minima form must produce the EXACT per-doc
(h0..h31) signature _md5_sig_jvm produces — including when one doc's
shingles are split across Arrow batches (the partial minima must merge
through the final groupBy.min to the same signature)."""

import hashlib

import pyarrow as pa
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from agentic_data_pipeline_spark.catalog import load_table
from agentic_data_pipeline_spark.operators import textnorm
from agentic_data_pipeline_spark.operators.dedup import (
    NUM_HASHES, _SIG_ARROW_SCHEMA, _md5_sig_batches, shingles_exploded,
)
from tests.catalyst_twins import _md5_sig_jvm


def _arrow_sig(sh):
    return (sh.mapInArrow(_md5_sig_batches, _SIG_ARROW_SCHEMA)
            .groupBy("id").agg(*[
                F.min(f"h{i}").alias(f"h{i}") for i in range(NUM_HASHES)]))


def test_md5_sig_arrow_matches_jvm_on_fixture(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    sh = shingles_exploded(docs, "doc_id", "text", 3)
    a = sorted(map(tuple, _arrow_sig(sh).collect()))
    j = sorted(map(tuple, _md5_sig_jvm(sh).collect()))
    assert a, "empty signature set — the pin would be vacuous"
    assert a == j


def _h(i: int, s: str) -> int:
    return int(hashlib.md5(f"{i}:{s}".encode()).hexdigest()[:15], 16)


def test_md5_sig_partial_minima_merge_across_batches():
    """Feed one doc's shingles split across two batches directly to the
    generator body: the two partial rows must elementwise-min to the
    exact whole-doc signature (what the downstream groupBy.min does)."""
    schema = pa.schema([pa.field("id", pa.int64()),
                        pa.field("s", pa.string())])
    b1 = pa.RecordBatch.from_arrays(
        [pa.array([7, 7, 8], type=pa.int64()),
         pa.array(["a b c", "b c d", "x y z"])], schema=schema)
    b2 = pa.RecordBatch.from_arrays(
        [pa.array([7], type=pa.int64()),
         pa.array(["c d e"])], schema=schema)
    rows: dict[int, list[list[int]]] = {}
    for out in _md5_sig_batches([b1, b2]):
        ids = out.column("id").to_pylist()
        for r, doc in enumerate(ids):
            rows.setdefault(doc, []).append(
                [out.column(f"h{i}").to_pylist()[r]
                 for i in range(NUM_HASHES)])
    assert len(rows[7]) == 2 and len(rows[8]) == 1  # partials per batch
    merged7 = [min(p[i] for p in rows[7]) for i in range(NUM_HASHES)]
    want7 = [min(_h(i, s) for s in ("a b c", "b c d", "c d e"))
             for i in range(NUM_HASHES)]
    assert merged7 == want7
    want8 = [_h(i, "x y z") for i in range(NUM_HASHES)]
    assert rows[8][0] == want8


def _sig_rows(batches) -> list[tuple]:
    return [tuple(r.values()) for out in _md5_sig_batches(batches)
            for r in out.to_pylist()]


def test_md5_sig_memo_cap_keeps_output_exact(monkeypatch):
    """The per-task hash memo is cleared when it reaches MEMO_CAP: with
    far more distinct shingles than a tiny cap (and repeats across
    batches, so entries are evicted and re-hashed), the emitted partial
    minima must equal an uncapped run's."""
    schema = pa.schema([pa.field("id", pa.int64()),
                        pa.field("s", pa.string())])
    batches = [
        pa.RecordBatch.from_arrays(
            [pa.array([(b * 7 + k) % 13 for k in range(40)], type=pa.int64()),
             pa.array([f"w{(b * 11 + k) % 57} x{k % 9} y" for k in range(40)])],
            schema=schema)
        for b in range(5)]
    uncapped = _sig_rows(batches)
    monkeypatch.setattr(textnorm, "MEMO_CAP", 4)
    assert _sig_rows(batches) == uncapped
