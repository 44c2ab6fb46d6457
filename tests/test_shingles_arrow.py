"""Pin the r12 Arrow shingle generator to its Catalyst twin: the
mapInArrow form of dedup.shingles_exploded must produce the EXACT
distinct (id, s) set the r8→r11 window form produces, for both the
n=3 (minhash family) and n=8 (decontamination/curation) geometries —
including the short-document (< n tokens) and zero-token corners."""

import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from agentic_data_pipeline_spark.catalog import load_table
from agentic_data_pipeline_spark.operators.dedup import shingles_exploded
from tests.catalyst_twins import _shingles_exploded_jvm


def test_shingles_arrow_matches_jvm_on_fixture(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    for n in (3, 8):
        a = sorted(map(tuple,
                       shingles_exploded(docs, "doc_id", "text", n).collect()))
        j = sorted(map(tuple,
                       _shingles_exploded_jvm(docs, "doc_id", "text", n)
                       .collect()))
        assert a, f"n={n}: empty shingle set"
        assert a == j, f"n={n}: Arrow shingles diverge from the window form"


def test_shingles_arrow_corner_semantics(spark):
    rows = [
        (1, "one two three four five"),   # len 5 < 8 → single short shingle
        (2, "!!! ...  ---"),              # zero alnum tokens → no rows
        (3, "a b c d e f g h i"),         # len 9 → two full 8-shingles
        (4, None),                        # null text → no rows
        (5, "x x x x x x x x x"),         # repeated token → 1 distinct shingle
        # adjacent docs in one Arrow batch: the vectorized form builds
        # windows over the FLAT token array, so a wrong validity mask
        # would emit the spanning shingles ("q r s", "r s t", ...) —
        # equality vs the JVM form catches any cross-doc leak
        (6, "p q r"),
        (7, "s t u"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for n in (3, 8):
        a = sorted(map(tuple,
                       shingles_exploded(df, "doc_id", "text", n).collect()))
        j = sorted(map(tuple,
                       _shingles_exploded_jvm(df, "doc_id", "text", n)
                       .collect()))
        assert a == j, f"n={n}: corner semantics diverge"
    got8 = sorted(map(tuple,
                      shingles_exploded(df, "doc_id", "text", 8).collect()))
    assert (1, "one two three four five") in got8
    assert not [r for r in got8 if r[0] in (2, 4)]
    assert [r for r in got8 if r[0] == 3] == [
        (3, "a b c d e f g h"), (3, "b c d e f g h i")]
    assert [r for r in got8 if r[0] == 5] == [(5, "x x x x x x x x")]


def test_shingles_non_bigint_id_is_rejected_with_clear_error(spark):
    df = spark.createDataFrame([("k1", "a b c d")], "k string, text string")
    with pytest.raises(ValueError, match=r"id column 'k' is string.*BIGINT"):
        shingles_exploded(df, "k", "text", 3)


def test_shingles_null_id_is_rejected_with_clear_error(spark):
    df = spark.createDataFrame([(1, "a b c d"), (None, "e f g h")],
                               "doc_id long, text string")
    with pytest.raises(PythonException,
                       match=r"ValueError: .*id column 'doc_id'.*nulls"):
        shingles_exploded(df, "doc_id", "text", 3).collect()
