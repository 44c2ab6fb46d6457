"""The cross-engine fixed-point money rules, each defined once per engine form.

Every money/quantity aggregate is hash-checked against a DuckDB oracle, so
these rules must give bit-identical doubles in the Catalyst ops and in the
oracle SQL. Each has one Catalyst form and one DuckDB-SQL form (``o_``);
operators call them instead of spelling the arithmetic out.

- ``cents``: exact BIGINT cents of a 2dp column (``o_cents``).
- ``dec_sum``: exact SUM of a 2dp column as DOUBLE, the cents sum / 100.0
  (``o_sum``).
- ``dec_avg``: exact AVG, the cents sum / 100.0 / COUNT (``o_avg``).
- ``money``: the exact-2dp DECIMAL(18,2) view for per-row projections
  (``o_money``).
- ``rev_c``: the revenue product ``ext × (100 − disc)`` in cents²
  (1e-4 currency units), one BIGINT per row (``o_rev_c``).
- ``revenue``: exact SUM of a cents² BIGINT term (the revenue product or
  any other cents × cents product) as DOUBLE, the sum / 10000.0
  (``o_revenue``).

Window sums (``SUM(cents) OVER w``) build on ``cents``/``o_cents``
directly; products that are not the revenue rule (q6's ``ext × disc``,
q1's ``(100 + tax)`` charge term, weighted ``value × weight``) stay with
their op.

Why cents: integer addition is exact and order-independent, so the result
is bit-identical no matter how Spark partitions the data or in which order
the DuckDB oracle sums — the engine-wide answer to SURVEY.md §7 risk 1
(float summation order). Cents beat DECIMAL for the same job: a long sum
stays inside whole-stage codegen (~2× faster than the BigDecimal
aggregation path, measured at sf0.1) and is the layout a 100 TB fact table
wants anyway.

Exactness of the cents conversion: inputs are 2-decimal quantities, so
x*100 lands within 1e-10 of an integer — ROUND can never face a .5 tie, so
Spark (HALF_UP on shortest repr) and DuckDB (round on the binary value)
agree on every row. The final /100.0 divides identical integers by the same
constant in both engines.

Overflow posture: cent sums are exact up to 2^63; product terms (price ×
(100-disc) × (100+tax), 1e-6 units) would need ~1e9 high-value rows per
GROUP to overflow, at which point ANSI mode raises rather than wrapping —
switch those aggregates back to DECIMAL at that scale.

Every DuckDB form is one parenthesized SQL atom (or a single CAST), so an
oracle can drop it into any expression without changing precedence.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def money(col: str | Column) -> Column:
    """Exact-2dp decimal view of a money column (per-row projections)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("decimal(18,2)")


def cents(col: str | Column) -> Column:
    """Exact fixed-point cents (BIGINT) of a 2dp column.

    Written as ``floor(x*100 + 0.5)`` rather than ``round(x*100)``: Spark's
    ROUND on DoubleType allocates a BigDecimal per row (HALF_UP on the
    shortest decimal repr), which measured ~40% of q1's aggregation time at
    sf0.1; floor stays in primitive double math inside codegen. The two are
    value-identical here because 2dp inputs put x*100 within 1e-10 of an
    integer — never on a .5 tie — so "+0.5 then floor" and HALF_UP agree on
    every representable input, positive or negative (verified exhaustively
    against ROUND over every value in the sf0.1 fixtures). The DuckDB oracle
    twin keeps the ROUND spelling (o_cents) — DuckDB's round is native
    double math already.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + F.lit(0.5)).cast("bigint")


def dec_sum(col: str | Column) -> Column:
    """Order-independent SUM for a 2dp column, surfaced as DOUBLE.

    Oracle twin: ``o_sum(x)`` — identical integer sum, identical final
    division.
    """
    return F.sum(cents(col)).cast("double") / 100.0


def dec_avg(col: str | Column) -> Column:
    """Order-independent AVG: exact cents sum / 100 / count (all three
    operations written identically in the oracle — see o_avg)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(cents(c)).cast("double") / 100.0 / F.count(c)


def rev_c() -> Column:
    """Per-row revenue ``l_extendedprice × (1 − l_discount)`` as one exact
    cents² BIGINT. Ops fold it before the fact exchange so two money
    columns never cross the wire; SUM over it is exact (integer products,
    associative sum)."""
    return cents("l_extendedprice") * (100 - cents("l_discount"))


def revenue(c: str | Column) -> Column:
    """Order-independent SUM of a cents² BIGINT column, surfaced as DOUBLE
    (oracle twin: o_revenue)."""
    return F.sum(c).cast("double") / 10000.0


# --------------------------- DuckDB oracle SQL fragments (the twins) ------

def o_cents(x: str) -> str:
    """Oracle twin of cents."""
    return f"CAST(ROUND(({x}) * 100, 0) AS BIGINT)"


def o_sum(x: str) -> str:
    """Oracle twin of dec_sum."""
    return f"(CAST(SUM({o_cents(x)}) AS DOUBLE) / 100.0)"


def o_avg(x: str) -> str:
    """Oracle twin of dec_avg."""
    return f"(CAST(SUM({o_cents(x)}) AS DOUBLE) / 100.0 / COUNT({x}))"


def o_money(x: str) -> str:
    """Oracle twin of money."""
    return f"CAST({x} AS DECIMAL(18,2))"


def o_rev_c() -> str:
    """Oracle twin of rev_c."""
    return (f"({o_cents('l_extendedprice')}"
            f" * (100 - {o_cents('l_discount')}))")


def o_revenue(x: str) -> str:
    """Oracle twin of revenue: ``x`` is a cents² BIGINT expression."""
    return f"(CAST(SUM({x}) AS DOUBLE) / 10000.0)"
