"""Contract of functions/vector.py: each cross-engine vector rule has one
Catalyst form and, where a kernel or an oracle needs it, one numpy form and
one DuckDB-SQL form, and the forms must agree value for value. A guard
keeps the truncation and the cosine ratio from being written out again
anywhere else in the package."""

import ast
import os

import duckdb
import numpy as np
import pyarrow as pa
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from agentic_data_pipeline_spark.functions import vector as V

C = F.col
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "agentic_data_pipeline_spark")

BOUNDARIES = [-0.5000005, 0.1234565, 1.0, float(np.nextafter(1.0, 0.0)),
              0.9999995, 0.25]


def _duck(sql: str, table: pa.Table) -> list:
    con = duckdb.connect()
    con.register("t", table)
    try:
        return [r[0] for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def test_trunc6_forms_agree_on_boundaries(spark):
    df = spark.createDataFrame(list(enumerate(BOUNDARIES)), "i int, x double")
    catalyst = [r[0] for r in df.orderBy("i")
                .select(V.trunc6(C("x"))).collect()]
    numpy = V.trunc6_np(np.array(BOUNDARIES)).tolist()
    duck = _duck(f"SELECT {V.trunc6_sql('x')} FROM t ORDER BY i",
                 pa.table({"i": range(len(BOUNDARIES)), "x": BOUNDARIES}))
    assert catalyst == numpy == duck
    # the epsilon folds 1.0 - 1ulp onto 1.0 (numpy norm vs sequential fold)
    assert numpy[2] == numpy[3] == 1.0
    assert numpy[4] == 0.999999 and numpy[5] == 0.25


def test_numpy_topk_matches_catalyst_order_on_truncated_ties(spark):
    ids = np.array([7, 3, 9, 1, 5, 2, 8, 4], dtype=np.int64)
    sims = np.array([0.1234561, 0.1234569, 0.1234565, 0.9, 0.1234562, 0.2,
                     0.12345699, -0.3])
    df = spark.createDataFrame(list(zip(ids.tolist(), sims.tolist())),
                               "id bigint, raw double")
    ranked = (df.select("id", V.trunc6(C("raw")).alias("sim"))
              .orderBy(C("sim").desc(), C("id")))
    raw_differs = False
    for k in range(1, len(ids) + 1):
        want = [(r.id, r.sim) for r in ranked.limit(k).collect()]
        got_ids, got_s = V.topk_trunc6_np(ids, sims, k)
        assert list(zip(got_ids.tolist(), got_s.tolist())) == want
        raw_differs |= (ids[np.lexsort((ids, -sims))[:k]].tolist()
                        != got_ids.tolist())
    assert raw_differs  # the set really has ties that only truncation makes


def test_zero_norm_is_outside_the_contract(spark):
    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        df = spark.createDataFrame([([0.0, 0.0], [1.0, 0.0])],
                                   "a array<float>, b array<float>")
        with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
            df.select(V.cosine_sim(C("a"), C("b"))).collect()
    finally:
        spark.conf.set(key, prev)
    a, b = np.zeros(2), np.array([1.0, 0.0])
    with np.errstate(invalid="ignore"):
        assert np.isnan((a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)))


def test_cosine_and_dist2_forms_are_bit_identical(spark):
    rng = np.random.default_rng(5)
    xs = rng.standard_normal((6, 16)).astype(np.float32)
    c = rng.standard_normal(16).astype(np.float32)
    rows = [(i, x.tolist(), c.tolist()) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "i int, x array<float>, c array<float>")
    x = C("x")
    # p = each x with its norm, q = the one c with its norm (row 0's c)
    sides = (V.normed_side(df, "p", id_col="i", vec_col="x")
             .crossJoin(V.normed_side(df.filter("i = 0"), "q",
                                      id_col="i", vec_col="c")))
    spark_rows = (sides.join(df, C("p_id") == C("i")).orderBy("i").select(
        V.cosine_sim(x, C("c")), V.side_cosine("p", "q"),
        V.dist2_to(x, c), V.dist2_to(x, c.astype(np.float64)),
        V.dot(C("c"), C("c"))).collect())
    table = pa.table({"i": pa.array(range(len(xs)), pa.int32()),
                      "x": pa.array([r[1] for r in rows],
                                    pa.list_(pa.float32())),
                      "c": pa.array([r[2] for r in rows],
                                    pa.list_(pa.float32()))})
    duck_cos = _duck(f"SELECT {V.cosine_sql('x', 'c')} FROM t ORDER BY i",
                     table)
    duck_d2 = _duck(f"SELECT {V.dist2_sql('x', 'c')} FROM t ORDER BY i",
                    table)
    for r, dc, dd in zip(spark_rows, duck_cos, duck_d2):
        assert r[0] == r[1] == dc
        assert r[2] == r[3] == dd
        assert r[4] == V.sq_norm(c)


def test_as_matrix_is_float64_of_the_batch():
    import pandas as pd

    col = pd.Series([np.array([1.5, 2.0], np.float32),
                     np.array([0.1, -3.0], np.float32)])
    m = V.as_matrix(col)
    assert m.dtype == np.float64 and m.shape == (2, 2)
    assert m.tolist() == [[1.5, 2.0], [float(np.float32(0.1)), -3.0]]


def _rule_copies(tree: ast.AST) -> list[int]:
    """Lines of a ``floor(… * 1e6 + 1e-3)`` call or a ``dot(…) / …``."""
    def is_call(node, name):
        f = getattr(node, "func", None)
        return isinstance(node, ast.Call) and (
            (isinstance(f, ast.Name) and f.id == name)
            or (isinstance(f, ast.Attribute) and f.attr == name))

    def const(node, value):
        return isinstance(node, ast.Constant) and node.value == value

    hits = []
    for node in ast.walk(tree):
        if is_call(node, "floor") and node.args:
            arg = node.args[0]
            if (isinstance(arg, ast.BinOp) and isinstance(arg.op, ast.Add)
                    and const(arg.right, 1e-3)
                    and isinstance(arg.left, ast.BinOp)
                    and isinstance(arg.left.op, ast.Mult)
                    and const(arg.left.right, 1e6)):
                hits.append(node.lineno)
        if (isinstance(node, ast.BinOp) and isinstance(node.op, ast.Div)
                and is_call(node.left, "dot")):
            hits.append(node.lineno)
    return hits


def test_guard_sees_both_patterns():
    src = ("F.floor(x * 1e6 + 1e-3) / 1e6\n"
           "np.floor((a + b) * 1e6 + 1e-3)\n"
           "dot(C('a'), C('b')) / (n1 * n2)\n"
           "s = f'FLOOR(({e}) * 1e6 + 1e-3) / 1e6'\n")
    assert sorted(_rule_copies(ast.parse(src))) == [1, 2, 3]


def test_vector_rules_live_only_in_vector_py():
    found = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "functions/vector.py":
                continue
            with open(path) as f:
                tree = ast.parse(f.read(), filename=rel)
            found += [f"{rel}:{line}" for line in _rule_copies(tree)]
    assert not found, ("use the functions/vector.py rule instead: "
                       f"{found}")
