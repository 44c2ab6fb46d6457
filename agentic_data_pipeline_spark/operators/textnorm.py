"""The cross-engine text and hash rules, each defined once per engine form.

The text and dedup ops are hash-checked against DuckDB, so these rules
must be bit-identical in the Catalyst ops, the Arrow (mapInArrow) passes
and the DuckDB oracles. Each has one Catalyst form and, where an Arrow
pass needs it, one Arrow/Python form (``_arrow`` / ``_py``); the oracle
SQL keeps its own spelling as the independent reference.

- ``words``: lowercase, collapse each run outside ``alphabet`` to one
  space, trim, split on ' ' (the string is then ``[a-z0-9 ]*`` with
  single spaces, so this equals a ``\\s+`` split; '' gives ``['']``).
  ``normalized_tokens`` is ``words`` minus ''.
- ``fingerprint``: md5 hex of lower(Java-\\s runs → ' '). Catalyst gets
  Java's \\s from java.util.regex; Arrow spells out ``JAVA_WS``, since
  RE2's \\s lacks \\x0b.
- ``md5_int``: bigint of the first k ≤ 15 md5 hex digits;
  ``hashed_word_score`` weighs each word by ``md5_int(word, 8) % 1001``.
- ``per_distinct``: the per-task memo that hashes each distinct string
  of a batch once, cleared at ``MEMO_CAP`` entries.

ASCII contract: the Arrow forms equal the Catalyst forms on ASCII text,
which every lake holds (tests/test_lake_robustness.py pins printable
ASCII), and ``words_arrow`` / ``fingerprint_arrow`` raise a ValueError
on any batch that holds other text. Case mapping differs outside it:
``pc.utf8_lower("İstanbul")`` is "istanbul" but Spark's ``lower`` gives
"i̇stanbul" (U+0307 combining dot), so the Arrow split would yield one
token where ``words`` yields ["i", "stanbul"]. ``pc.utf8_length`` and
Spark ``length`` agree on astral characters.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

ALNUM = "a-z0-9"
ALPHA = "a-z"
JAVA_WS = " \t\n\x0b\f\r"  # the characters of java.util.regex \s
JAVA_WS_RUN = f"[{JAVA_WS}]+"
# A full per_distinct memo is cleared and refilled: per-task memory stays
# bounded on any vocabulary while a Zipfian stream's hot strings hit.
MEMO_CAP = 65_536


def words(text: Column, alphabet: str = ALNUM) -> Column:
    norm = F.trim(F.regexp_replace(F.lower(text), f"[^{alphabet}]+", " "))
    return F.split(norm, " ")


def normalized_tokens(text: Column) -> Column:
    """Lowercased alnum tokens (empty strings filtered)."""
    return F.filter(words(text), lambda t: t != "")


def fingerprint(text: Column) -> Column:
    return F.md5(F.encode(F.lower(F.regexp_replace(text, r"\s+", " ")),
                          "utf-8"))


def md5_int(x: Column, k: int) -> Column:
    return F.conv(F.substring(F.md5(x), 1, k), 16, 10).cast("bigint")


def hashed_word_score(text: Column) -> tuple[Column, Column]:
    """``(n, score)``: alnum word count and (mean bucket − 500) / 500,
    null at n = 0. The bucket sum is an exact bigint."""
    toks = normalized_tokens(text)
    sum_w = F.aggregate(F.transform(toks, lambda t: md5_int(t, 8) % 1001),
                        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    n = F.size(toks).cast("bigint")
    score = (sum_w.cast("double") / F.nullif(n, F.lit(0)) - F.lit(500.0)) \
        / F.lit(500.0)
    return n, score


def _require_ascii(text) -> None:
    """Raise unless every non-null string of the Arrow array is ASCII."""
    import pyarrow.compute as pc

    if not pc.all(pc.string_is_ascii(text), min_count=0).as_py():
        raise ValueError(
            "textnorm: non-ASCII text in an Arrow text pass; the Arrow "
            "forms equal the Catalyst forms only on ASCII text (ASCII "
            "contract, textnorm.py)")


def words_arrow(text, alphabet: str = ALNUM):
    """``(joined, words)``: the normalized strings and their split."""
    import pyarrow.compute as pc

    _require_ascii(text)
    joined = pc.utf8_trim(pc.replace_substring_regex(
        pc.utf8_lower(text), pattern=f"[^{alphabet}]+", replacement=" "), " ")
    return joined, pc.split_pattern(joined, " ")


def fingerprint_arrow(text):
    import pyarrow as pa
    import pyarrow.compute as pc

    _require_ascii(text)
    lowered = pc.utf8_lower(pc.replace_substring_regex(
        text, pattern=JAVA_WS_RUN, replacement=" "))
    return pa.array([None if s is None
                     else hashlib.md5(s.encode()).hexdigest()
                     for s in lowered.to_pylist()], type=pa.string())


def md5_int_py(data: bytes, k: int) -> int:
    return int(hashlib.md5(data).hexdigest()[:k], 16)


def word_bucket_py(w: str) -> int:
    return md5_int_py(w.encode(), 8) % 1001


def per_distinct(fn):
    """Return ``apply(strings) -> (codes, values)`` for one task: the
    int64 dictionary codes of a null-free Arrow string array and ``fn``
    of each distinct string, each computed once per task. ``fn`` must be
    pure: results are memoized across the task's batches."""
    import numpy as np

    memo: dict = {}

    def apply(strings):
        enc = strings.dictionary_encode()
        values = []
        for s in enc.dictionary.to_pylist():
            v = memo.get(s)
            if v is None:
                if len(memo) >= MEMO_CAP:
                    memo.clear()
                v = memo[s] = fn(s)
            values.append(v)
        return (enc.indices.to_numpy(zero_copy_only=False).astype(np.int64),
                values)
    return apply
