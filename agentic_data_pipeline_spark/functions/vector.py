"""The cross-engine vector rules, each defined once per engine form.

The cosine, top-k, kNN and embedding-dedup ops are hash-checked against
DuckDB, so these rules must be bit-identical in the Catalyst ops, the
numpy (mapInPandas/applyInPandas) kernels and the oracles. Each has one
Catalyst form and, where a kernel or an oracle needs it, one numpy form
(``_np``) and one DuckDB-SQL form (``_sql``); the oracle SQL around them
keeps its own spelling as the independent reference.

- ``dot`` / ``l2_norm``: FLOAT→DOUBLE (exact), folded left to right in
  array order — the order of DuckDB's ``list_dot_product``, so both give
  the same double.
- ``trunc6``: 6dp display truncation ``floor(x·1e6 + 1e-3)/1e6``
  (Catalyst, ``trunc6_np``, ``trunc6_sql``).
- ``cosine_sim``: ``dot(a, b) / (‖a‖·‖b‖)`` (``cosine_sql``). Pair ops
  build each side once with ``normed_side`` — the norm is computed there,
  below the join, once per vector — and take ``side_cosine`` of two
  sides; ``near_dup_pairs`` is the blocked near-duplicate self-join.
- ``dist2_to``: squared L2 to a literal vector, ‖x‖² − 2⟨x,c⟩ + ‖c‖²,
  with ‖c‖² folded on the driver (``sq_norm``) in the JVM's order
  (``dist2_sql``). The literal is array<float> for a float32 vector and
  array<double> otherwise; ``dot`` widens both to the same doubles.
- ``as_matrix`` (float64 matrix of a batch's vector column) and
  ``topk_trunc6_np`` (top-k on the truncated sim, id tiebreak — the
  order the final Catalyst sort ranks by) serve the numpy kernels.

Precondition: every vector has a non-zero norm (the fixture embeddings
do). A zero norm makes the cosine a division by zero: Catalyst raises
``DIVIDE_BY_ZERO`` under ANSI mode (Spark 4's default), numpy gives NaN.

All Catalyst forms stay inside whole-stage codegen (no Python UDFs): at
100 TB a row-at-a-time Python cosine would be the bottleneck;
``F.aggregate`` over the array is JVM-side.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

C = F.col


def _as_double(arr: Column) -> Column:
    return arr.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two float arrays (sequential fold, JVM-side)."""
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


# Measured dead end (2026-08-13, Spark 4.1, 2k x 64d fixture, local[32]):
# unrolling the fold into 64 explicit getItem-multiply-add terms for a
# statically-known dim is SLOWER than the HOF fold, not faster — norm-only
# 0.12 s vs 0.076 s, full cosine top-k 0.25 s vs 0.13 s steady-state. The
# wide expression tree costs more than the per-element lambda dispatch
# saves (and getItem on a non-attribute array re-evaluates its child per
# term). Keep the fold; the genuinely faster big-corpus path is the
# Arrow/numpy vector_search_batch (operators/similarity.py).


def trunc6(x: Column) -> Column:
    """Display-truncate a double to 6dp. Spark's ROUND goes through the
    shortest decimal repr with HALF_UP, which can split from DuckDB's
    numeric rounding when the repr ends in '5' at the boundary digit
    (observed live 2-in-50k on classifier scores) — truncation has no
    repr dependence. The scaled epsilon (1e-9 on the value) absorbs
    last-ulp algorithm differences at EXACT bucket boundaries: a
    self-similarity of 1.0 lands at 1.0 - 1ulp under numpy's norm but
    exactly 1.0 under the sequential fold, and bare floor would split
    those a whole bucket apart."""
    return F.floor(x * 1e6 + 1e-3) / 1e6


def trunc6_np(x):
    return np.floor(x * 1e6 + 1e-3) / 1e6


def trunc6_sql(expr: str) -> str:
    return f"FLOOR(({expr}) * 1e6 + 1e-3) / 1e6"


def cosine_sim(a: Column, b: Column, a_n: Column | None = None,
               b_n: Column | None = None) -> Column:
    """Cosine of a and b; ``a_n``/``b_n`` are their norms when a side
    already carries them (default: computed here)."""
    a_n = l2_norm(a) if a_n is None else a_n
    b_n = l2_norm(b) if b_n is None else b_n
    return dot(a, b) / (a_n * b_n)


def cosine_sql(a: str, b: str) -> str:
    return (f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
            f"(SQRT(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
            f"SQRT(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))")


def normed_side(df: DataFrame, side: str, *keys: str, id_col: str = "vec_id",
                vec_col: str = "embedding",
                norm_col: str | None = None) -> DataFrame:
    """``df`` as one side of a cosine pair: ``{side}_id``, each key column
    as ``{side}_{key}``, ``{side}_vec`` and its norm ``{side}_n`` —
    ``norm_col`` when ``df`` already carries one, else computed here,
    once per vector."""
    n = C(norm_col) if norm_col else l2_norm(C(vec_col))
    return df.select(C(id_col).alias(f"{side}_id"),
                     *[C(k).alias(f"{side}_{k}") for k in keys],
                     C(vec_col).alias(f"{side}_vec"), n.alias(f"{side}_n"))


def side_cosine(a: str = "a", b: str = "b") -> Column:
    """Cosine between two ``normed_side`` sides joined together."""
    return cosine_sim(C(f"{a}_vec"), C(f"{b}_vec"), C(f"{a}_n"), C(f"{b}_n"))


def near_dup_pairs(df: DataFrame, block_col: str, threshold: float,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   norm_col: str | None = None) -> DataFrame:
    """The blocked near-duplicate self-join: the ``a``/``b`` sides of
    ``df`` in the same ``block_col`` with ``a_id < b_id`` and
    ``side_cosine() > threshold``. The join shuffles once on the block
    key and is quadratic only within a block."""
    a, b = (normed_side(df, s, block_col, id_col=id_col, vec_col=vec_col,
                        norm_col=norm_col) for s in "ab")
    return (a.join(b, (C(f"a_{block_col}") == C(f"b_{block_col}"))
                   & (C("a_id") < C("b_id")))
            .filter(side_cosine() > threshold))


def sq_norm(c) -> float:
    """‖c‖² on the driver: the doubles of ``c`` summed left to right, the
    JVM fold's order, so it equals ``dot(c, c)`` bit for bit."""
    acc = 0.0
    for x in np.asarray(c, dtype=np.float64).tolist():
        acc += x * x
    return acc


def vec_lit(c) -> Column:
    """``c`` as an array literal: array<float> when ``c`` is float32,
    array<double> otherwise."""
    c = np.asarray(c)
    arr = F.array(*[F.lit(x) for x in c.astype(np.float64).tolist()])
    return arr.cast("array<float>") if c.dtype == np.float32 else arr


def dist2_to(x: Column, c) -> Column:
    """Squared L2 from ``x`` to the literal vector ``c``. Squared on both
    engines: skipping the sqrt avoids a rounding boundary and keeps the
    ordering."""
    return dot(x, x) - 2 * dot(x, vec_lit(c)) + F.lit(sq_norm(c))


def dist2_sql(x: str, c: str) -> str:
    return (f"list_dot_product(CAST({x} AS DOUBLE[]), CAST({x} AS DOUBLE[]))"
            f" - 2 * list_dot_product(CAST({x} AS DOUBLE[]), CAST({c} AS DOUBLE[]))"
            f" + list_dot_product(CAST({c} AS DOUBLE[]), CAST({c} AS DOUBLE[]))")


def as_matrix(vectors) -> np.ndarray:
    """The float64 (n, d) matrix of a batch's vector column."""
    return np.stack(vectors.to_numpy()).astype(np.float64)


def topk_trunc6_np(ids: np.ndarray, sims: np.ndarray, k: int):
    """``(ids, sims)`` of the top k by TRUNCATED sim desc, id asc — the
    order the final Catalyst sort ranks by; selecting on raw floats could
    drop a truncated-tie candidate at the k edge."""
    s6 = trunc6_np(sims)
    top = np.lexsort((ids, -s6))[:k]
    return ids[top], s6[top]
