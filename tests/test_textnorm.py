"""Contract of operators/textnorm.py: each cross-engine text and hash rule
has one Catalyst form and one Arrow/Python form, and the two must agree
value for value. The Catalyst form is collected from a one-column
DataFrame of corner strings; the Arrow/Python form runs on the same
strings in this process. A guard keeps the rules' regex classes from
being spelled out again anywhere else in the package."""

import ast
import hashlib
import os

import pyarrow as pa
import pyarrow.compute as pc
import pytest
from pyspark.sql import functions as F

from agentic_data_pipeline_spark.operators import textnorm

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "agentic_data_pipeline_spark")

CORNERS = [
    None,
    "",
    "   ",
    "\x0b",
    "A\x0bB",
    "Hello,  World!!",
    "route 66 has 2400 miles and 8 states",
    "...leading and trailing punctuation?!",
    "\tTabs\nand\x0cform\rfeeds  mixed\x0b in ",
]


@pytest.fixture(scope="module")
def corners(spark):
    return spark.createDataFrame([(s,) for s in CORNERS], "t string")


def _collect(df, col):
    """One Catalyst column over the corners, in CORNERS order."""
    return [r[0] for r in df.select(col).collect()]


@pytest.mark.parametrize("alphabet", [textnorm.ALNUM, textnorm.ALPHA])
def test_words_catalyst_equals_arrow(corners, alphabet):
    got = _collect(corners, textnorm.words(F.col("t"), alphabet))
    joined, words = textnorm.words_arrow(pa.array(CORNERS, pa.string()),
                                         alphabet)
    assert got == words.to_pylist()
    assert [None if w is None else " ".join(w) for w in got] \
        == joined.to_pylist()


@pytest.mark.parametrize("alphabet", [textnorm.ALNUM, textnorm.ALPHA])
def test_words_equals_the_whitespace_regex_split(corners, alphabet):
    """words splits on ' '; the inline copies it replaced split on \\s+."""
    old = F.split(F.trim(F.regexp_replace(F.lower(F.col("t")),
                                          f"[^{alphabet}]+", " ")), r"\s+")
    assert _collect(corners, textnorm.words(F.col("t"), alphabet)) \
        == _collect(corners, old)


def test_normalized_tokens_is_words_minus_empty(corners):
    got = _collect(corners, textnorm.normalized_tokens(F.col("t")))
    _, words = textnorm.words_arrow(pa.array(CORNERS, pa.string()))
    assert got == [None if w is None else [t for t in w if t]
                   for w in words.to_pylist()]
    assert got[CORNERS.index("\x0b")] == []


def test_fingerprint_catalyst_equals_arrow(corners):
    got = _collect(corners, textnorm.fingerprint(F.col("t")))
    assert got == textnorm.fingerprint_arrow(
        pa.array(CORNERS, pa.string())).to_pylist()
    assert got[0] is None
    # Java \s and the spelled-out class both collapse \x0b
    assert got[CORNERS.index("A\x0bB")] == hashlib.md5(b"a b").hexdigest()


@pytest.mark.parametrize("k", [8, 12, 15])
def test_md5_int_catalyst_equals_python(corners, k):
    got = _collect(corners, textnorm.md5_int(F.col("t"), k))
    assert got == [None if s is None else textnorm.md5_int_py(s.encode(), k)
                   for s in CORNERS]


def test_per_distinct_hashes_each_string_once_per_task(monkeypatch):
    calls = []

    def fn(s):
        calls.append(s)
        return len(s)

    apply = textnorm.per_distinct(fn)
    codes, values = apply(pa.array(["ab", "c", "ab", "c", "ab"]))
    assert [values[i] for i in codes] == [2, 1, 2, 1, 2]
    apply(pa.array(["c", "dddd"]))
    assert calls == ["ab", "c", "dddd"]
    # a miss on a full memo clears it: "ab" is hashed again afterwards
    monkeypatch.setattr(textnorm, "MEMO_CAP", 3)
    codes, values = apply(pa.array(["e", "ab", "e"]))
    assert [values[i] for i in codes] == [1, 2, 1]
    assert calls == ["ab", "c", "dddd", "e", "ab"]


def test_ascii_contract_example_holds(spark):
    """The module docstring's non-ASCII example: the engines' lower()
    differ on 'İ', so the forms only agree on ASCII and the Arrow forms
    refuse other text; lengths agree."""
    df = spark.createDataFrame([("İstanbul",), ("a\U0001F600b",)], "t string")
    arr = pa.array(["İstanbul", "a\U0001F600b"])
    assert _collect(df, textnorm.words(F.col("t")))[0] == ["i", "stanbul"]
    assert pc.utf8_lower(arr).to_pylist()[0] == "istanbul"
    for arrow_form in (textnorm.words_arrow, textnorm.fingerprint_arrow):
        with pytest.raises(ValueError, match=ASCII_ERROR):
            arrow_form(arr)
    assert _collect(df, F.length("t")) == pc.utf8_length(arr).to_pylist()


ASCII_ERROR = r"non-ASCII text in an Arrow text pass.*only on ASCII text"
_LONG = ("İstanbul keeps eleven hundred ancient buildings standing along "
         "narrow winding streets beside the famous harbour waterfront")


def test_arrow_text_passes_reject_non_ascii_text(spark):
    """The shingle, curation and prep Arrow passes each stop on a batch
    holding 'İstanbul' with the ASCII-contract error instead of emitting
    rows the Catalyst forms would not. The text is long and plain enough
    to pass both quality filters, so the fingerprint check is reached."""
    from pyspark.errors import PythonException

    from agentic_data_pipeline_spark.operators.dedup import shingles_exploded
    from agentic_data_pipeline_spark.operators.prep import (
        _curation_q_batches, _prep_kept_batches,
    )

    docs = spark.createDataFrame(
        [(1, "en", "web", _LONG), (2, "en", "web", "plain ascii text")],
        "doc_id bigint, lang string, source string, text string")
    passes = [
        shingles_exploded(docs, "doc_id", "text", 3),
        docs.mapInArrow(_curation_q_batches, "doc_id bigint, lang string, "
                        "source string, fp string, n_tokens bigint"),
        docs.select("doc_id", "text").mapInArrow(
            _prep_kept_batches, "doc_id bigint, n_tokens bigint, fp string"),
    ]
    for df in passes:
        with pytest.raises(PythonException, match=ASCII_ERROR):
            df.collect()


FORBIDDEN = {"[^a-z0-9]+", "[^a-z]+"}


def test_rule_classes_live_only_in_textnorm():
    """No package module outside textnorm.py spells out the word classes
    or the Java-\\s character class as a string constant. The DuckDB
    oracle SQL holds them inside longer constants and does not trip."""
    found = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "operators/textnorm.py":
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            for node in ast.walk(tree):
                if (isinstance(node, ast.Constant)
                        and isinstance(node.value, str)
                        and (node.value in FORBIDDEN
                             or textnorm.JAVA_WS in node.value)):
                    found.append(f"{rel}:{node.lineno} {node.value!r}")
    assert not found, ("use the operators/textnorm.py rule instead: "
                       f"{found}")
