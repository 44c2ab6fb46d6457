"""Pin the r12 Arrow quality branch of ext_curation_pipeline to its
Catalyst twin: _curation_q_batches must produce the EXACT
(doc_id, lang, source, fp, n_tokens) survivor set _curation_q_jvm
produces — on the real fixture AND on synthetic rows that stress the
whitespace semantics the two engines could disagree on (java \\s
includes \\x0b, RE2 \\s does not; SQL trim is space-only; split('')
is [''])."""

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from agentic_data_pipeline_spark.catalog import load_table
from agentic_data_pipeline_spark.operators.prep import _curation_q_batches
from tests.catalyst_twins import _curation_q_jvm

_ARROW_SCHEMA = ("doc_id bigint, lang string, source string, "
                 "fp string, n_tokens bigint")


def _arrow(docs):
    return (docs.filter(F.col("doc_id") % 50 != 0)
            .select("doc_id", "lang", "source", "text")
            .mapInArrow(_curation_q_batches, _ARROW_SCHEMA))


def test_curation_q_arrow_matches_jvm_on_fixture(spark):
    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(map(tuple, _arrow(docs).collect()))
    j = sorted(map(tuple, _curation_q_jvm(docs).collect()))
    assert a, "empty survivor set — the pin would be vacuous"
    assert a == j


def test_curation_q_arrow_whitespace_and_boundary_corners(spark):
    long_good = ("word " * 120).strip()          # clears every component
    rows = [
        (1, "en", "web", long_good),              # clear pass
        # null text: Spark least() SKIPS nulls, so quality(null) = 0.7 —
        # a SURVIVOR with null fp/n_tokens in BOTH forms (moot on the
        # pinned lakes, which have no null text)
        (3, "en", "web", None),
        (4, "en", "web", "\t" + long_good + "\x0b"),   # java-\s-only chars
        (5, "en", "web", "  " + long_good + "  "),     # trim corners
        (6, "en", "web", "a\x0bb " + long_good),       # \x0b mid-token
        (7, "en", "web", "!!! ??? ***"),          # punct-heavy: fails
        (8, "en", "web", "short text"),           # below length component
        (50, "en", "web", long_good),             # eval holdout: cut
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, text string")
    a = sorted(map(tuple, _arrow(docs).collect()))
    j = sorted(map(tuple, _curation_q_jvm(docs).collect()))
    assert a == j
    assert {r[0] for r in a} >= {1, 3, 4, 5}      # the passes actually pass
    assert not {r[0] for r in a} & {7, 50}        # the drops actually drop
    null_row = [r for r in a if r[0] == 3]
    assert null_row == [(3, "en", "web", None, None)]


def test_curation_q_empty_text_is_out_of_contract(spark):
    """Zero-char text is OUTSIDE both forms' contract: the Catalyst twin
    raises ANSI DIVIDE_BY_ZERO on n_punct/n_chars (the r11 shipped
    behavior), the Arrow form drops the row (its 0/0 → NaN scores below
    the threshold). The lake precondition that makes the two forms
    equivalent — no empty/null documents.text — is pinned per tier in
    tests/test_lake_robustness.py; this test documents the divergence."""
    import pytest

    docs = spark.createDataFrame([(1, "en", "web", "")],
                                 "doc_id long, lang string, source string, "
                                 "text string")
    assert _arrow(docs).collect() == []
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _curation_q_jvm(docs).collect()
