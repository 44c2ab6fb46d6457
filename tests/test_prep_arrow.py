"""Pin the r12 Arrow front-end of ext_training_prep_pipeline to its
Catalyst twin: the mapInArrow scored→kept pass (_prep_kept_batches) must
produce the EXACT (doc_id, n_tokens, fp) set the pure-Catalyst form
(_prep_kept_jvm) produces — the bit-identity contract the rewrite
shipped under (asserted on 472,100 sf10 rows, OPTIMIZATION_r12.md
"ext_training_prep_pipeline — Arrow scored→kept front-end"; this test
keeps it pinned on the driver tiers every run)."""

import os

from tests.conftest import SF_CORRECT, SF_SMOKE

from agentic_data_pipeline_spark.operators.prep import (
    _prep_kept_batches, ext_training_prep_pipeline,
)
from agentic_data_pipeline_spark.catalog import load_table
from tests.catalyst_twins import _prep_kept_jvm


def test_prep_arrow_kept_set_matches_catalyst(spark):
    inputs = [(sf, load_table(spark, sf, "documents"))
              for sf in (SF_SMOKE, SF_CORRECT)
              if os.path.exists(os.path.join(sf, "documents.parquet"))]
    # A 12-word survivor and its copy with three spaces as \x0b: Java's
    # \s (the Catalyst fp) collapses \x0b like a space, so the Arrow fp
    # must too, or the two exact duplicates get different fps.
    doc = ("seven fox brown data every training over lazy corpus starts "
           "before night")
    inputs.append(("vt-whitespace", spark.createDataFrame(
        [(1, doc), (2, doc.replace(" ", "\x0b", 3))],
        "doc_id bigint, text string")))
    for name, docs in inputs:
        arrow = docs.select("doc_id", "text").mapInArrow(
            _prep_kept_batches, "doc_id bigint, n_tokens bigint, fp string")
        a = sorted(map(tuple, arrow.collect()))
        j = sorted(map(tuple, _prep_kept_jvm(docs).collect()))
        assert a, f"{name}: empty kept set — the filter check is vacuous"
        assert a == j, f"{name}: Arrow kept set diverges from Catalyst"


def test_prep_pipeline_emits_all_16_shards(spark):
    out = ext_training_prep_pipeline(spark, SF_SMOKE).collect()
    shards = {r["shard"] for r in out}
    assert len(out) == len(shards)  # one row per shard
    assert all(0 <= s < 16 for s in shards)
