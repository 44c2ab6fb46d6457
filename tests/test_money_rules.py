"""Contract of functions/helpers.py: each fixed-point money rule has one
Catalyst form and one DuckDB-SQL form, and the two must give the same value
bit for bit on the corner values of the 2dp domain. A guard keeps the cents
conversion, the 2dp decimal view, the exact sum and the revenue product
from being written out again anywhere else in the package."""

import ast
import os
import re

import duckdb
import pyarrow as pa
from pyspark.sql import functions as F

from agentic_data_pipeline_spark.functions import helpers as H

C = F.col
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "agentic_data_pipeline_spark")

# x*100 is not an exact binary integer for 0.29 and 0.57 (28.999…, 56.999…)
# nor for -1.15; ±(10^12 - 1)/100 is the widest 2dp value the engine holds.
CORNERS = [None, 0.0, 0.01, -0.01, 0.29, 0.57, -1.15,
           (10**12 - 1) / 100, -(10**12 - 1) / 100]
DISCOUNTS = [0.0, 0.01, 0.05, 0.07, 0.1, None]


def _duck(sql: str, table: pa.Table) -> list[tuple]:
    con = duckdb.connect()
    con.register("t", table)
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def _bits(rows) -> list[tuple]:
    """repr of every value: equal floats with different bits (0.0 / -0.0)
    or a float vs an int compare unequal."""
    return [tuple(repr(v) for v in r) for r in rows]


def _one_column(spark):
    rows = list(enumerate(CORNERS))
    df = spark.createDataFrame(rows, "i int, x double")
    table = pa.table({"i": pa.array(range(len(CORNERS)), pa.int32()),
                      "x": pa.array(CORNERS, pa.float64())})
    return df, table


def test_cents_and_money_forms_agree_per_row(spark):
    df, table = _one_column(spark)
    got = df.orderBy("i").select(H.cents("x"), H.money("x")).collect()
    want = _duck(f"SELECT {H.o_cents('x')}, {H.o_money('x')} FROM t "
                 "ORDER BY i", table)
    assert _bits(got) == _bits(want)
    assert [r[0] for r in want] == [None, 0, 1, -1, 29, 57, -115,
                                    10**12 - 1, -(10**12 - 1)]


def test_sum_and_avg_forms_agree(spark):
    df, table = _one_column(spark)
    # one group per corner value, then every value in one group
    per_value = (df.groupBy("i").agg(H.dec_sum("x"), H.dec_avg("x"))
                 .orderBy("i").drop("i").collect())
    overall = df.agg(H.dec_sum("x"), H.dec_avg("x")).collect()
    agg = f"{H.o_sum('x')}, {H.o_avg('x')}"
    want_per_value = _duck(f"SELECT {agg} FROM t GROUP BY i ORDER BY i",
                           table)
    want_overall = _duck(f"SELECT {agg} FROM t", table)
    assert _bits(per_value) == _bits(want_per_value)
    assert _bits(overall) == _bits(want_overall)
    assert want_per_value[0] == (None, None)
    assert want_per_value[4] == (0.29, 0.29)


def test_revenue_forms_agree(spark):
    rows = [(i * len(DISCOUNTS) + j, e, d)
            for i, e in enumerate(CORNERS) for j, d in enumerate(DISCOUNTS)]
    df = spark.createDataFrame(
        rows, "i int, l_extendedprice double, l_discount double")
    table = pa.table({
        "i": pa.array([r[0] for r in rows], pa.int32()),
        "l_extendedprice": pa.array([r[1] for r in rows], pa.float64()),
        "l_discount": pa.array([r[2] for r in rows], pa.float64())})
    per_row = df.orderBy("i").select(H.rev_c()).collect()
    want_per_row = _duck(f"SELECT {H.o_rev_c()} FROM t ORDER BY i", table)
    assert _bits(per_row) == _bits(want_per_row)
    # grouped by price (one sum per corner) and over every row
    by_price = (df.groupBy("l_extendedprice")
                .agg(H.revenue(H.rev_c()).alias("r"))
                .orderBy("l_extendedprice").collect())
    want_by_price = _duck(
        f"SELECT l_extendedprice, {H.o_revenue(H.o_rev_c())} FROM t "
        "GROUP BY l_extendedprice ORDER BY l_extendedprice NULLS FIRST",
        table)
    assert _bits(by_price) == _bits(want_by_price)
    overall = df.agg(H.revenue(H.rev_c())).collect()
    assert _bits(overall) == _bits(
        _duck(f"SELECT {H.o_revenue(H.o_rev_c())} FROM t", table))
    # 0.29 × (1 − 0.07) = 0.2697 exactly in cents²
    assert want_per_row[4 * len(DISCOUNTS) + 3] == (29 * 93,)


# ---------------------------------------------------------------- the guard

_SQL_COPIES = [
    re.compile(r"\*\s*100,\s*0\)\s*AS\s+BIGINT", re.I),  # ROUND(x * 100, 0)
    re.compile(r"decimal\(18,\s*2\)", re.I),
]


def _is_call(node, name):
    f = getattr(node, "func", None)
    return isinstance(node, ast.Call) and (
        (isinstance(f, ast.Name) and f.id == name)
        or (isinstance(f, ast.Attribute) and f.attr == name))


def _const(node, value):
    return isinstance(node, ast.Constant) and node.value == value


def _rule_copies(src: str) -> list[int]:
    """Lines of an inline cents conversion or DECIMAL(18,2) in SQL text, of
    a non-window ``F.sum(cents(…)).cast("double") / 100.0`` and of a
    ``cents(…) * (100 - cents(…))`` revenue product."""
    hits = set()
    for pat in _SQL_COPIES:
        for m in pat.finditer(src):
            hits.add(src.count("\n", 0, m.start()) + 1)
    for node in ast.walk(ast.parse(src)):
        if not isinstance(node, ast.BinOp):
            continue
        if (isinstance(node.op, ast.Div) and _const(node.right, 100.0)
                and _is_call(node.left, "cast")
                and _is_call(node.left.func.value, "sum")
                and node.left.func.value.args
                and _is_call(node.left.func.value.args[0], "cents")):
            hits.add(node.lineno)
        if (isinstance(node.op, ast.Mult) and _is_call(node.left, "cents")
                and isinstance(node.right, ast.BinOp)
                and isinstance(node.right.op, ast.Sub)
                and _const(node.right.left, 100)
                and _is_call(node.right.right, "cents")):
            hits.add(node.lineno)
    return sorted(hits)


def test_guard_sees_every_pattern():
    src = ('a = "CAST(ROUND(l_quantity * 100, 0) AS BIGINT)"\n'
           'b = f"""CAST(ROUND({c} * 100, 0)\n'
           '        AS BIGINT)"""\n'
           'd = "CAST(o_totalprice AS DECIMAL(18,2))"\n'
           'e = F.sum(cents("x")).cast("double") / 100.0\n'
           'g = cents("l_extendedprice") * (100 - cents("l_discount"))\n'
           'h = col.cast("decimal(18,2)")\n'
           # not copies: a window sum, a 1e-4 scale, q6's product
           'w = F.sum(cents("x")).over(win).cast("double") / 100.0\n'
           'k = "CAST(ROUND(LN(p) * 10000, 0) AS BIGINT)"\n'
           'm = cents("a") * cents("b")\n')
    assert _rule_copies(src) == [1, 2, 4, 5, 6, 7]


def test_money_rules_live_only_in_helpers_py():
    found = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            if rel == "functions/helpers.py":
                continue
            with open(path) as f:
                found += [f"{rel}:{line}" for line in _rule_copies(f.read())]
    assert not found, ("use the functions/helpers.py money rule instead: "
                       f"{found}")
