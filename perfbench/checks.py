"""Output checks, run outside the timed region.

Results are compared as an order-insensitive multiset hash: both sides are
normalised to the same Arrow types (every float and decimal to float64,
every integer to int64, timestamps to naive UTC microseconds), columns are
sorted by name, and DuckDB sums ``hash(row)`` over the rows. Two results
match when their column names, row counts and hash sums are equal, which is
as strict as the canonical row comparison in ``tests/parity_util``:
floats must agree exactly.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa


def duck_views(lake_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per ``<table>.parquet`` in the lake."""
    con = duckdb.connect(database=":memory:")
    con.execute("SET TimeZone = 'UTC'")
    for f in sorted(os.listdir(lake_dir)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(lake_dir, f)}')")
    return con


def _norm_type(t: pa.DataType) -> pa.DataType:
    if pa.types.is_floating(t) or pa.types.is_decimal(t):
        return pa.float64()
    if pa.types.is_integer(t):
        return pa.int64()
    if pa.types.is_timestamp(t):
        return pa.timestamp("us")
    if pa.types.is_large_string(t):
        return pa.string()
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.list_(_norm_type(t.value_type))
    return t


def digest(table: pa.Table) -> tuple:
    """``(column names, rows, hash sum)`` of a result, order-insensitive."""
    names = sorted(table.column_names)
    cols = [table.column(n) for n in names]
    norm = pa.table([c.cast(_norm_type(c.type)) for c in cols],
                    names=[f"c{i}" for i in range(len(names))])
    con = duckdb.connect(database=":memory:")
    con.register("t", norm)
    args = ", ".join(f"c{i}" for i in range(len(names))) or "1"
    rows, total = con.execute(
        f"SELECT count(*), coalesce(sum(hash({args})::HUGEINT), 0) FROM t"
    ).fetchone()
    con.close()
    return tuple(names), int(rows), int(total)


def oracle_digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    return digest(con.execute(sql).arrow())


def exact_dup_pairs(con: duckdb.DuckDBPyConnection) -> pa.Table:
    """``(a_id, b_id)`` for every pair of documents with identical text."""
    return con.execute(
        "SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM documents a "
        "JOIN documents b ON a.text = b.text AND a.doc_id < b.doc_id"
    ).arrow()


def minhash_finds(pairs: pa.Table, expected: pa.Table) -> bool:
    """True when every expected exact-duplicate pair is reported with
    Jaccard 1.0 and every reported pair clears the 0.5 threshold."""
    con = duckdb.connect(database=":memory:")
    con.register("p", pairs)
    con.register("e", expected)
    missing, low = con.execute(
        "SELECT (SELECT count(*) FROM e ANTI JOIN "
        "(SELECT * FROM p WHERE jaccard = 1.0) q USING (a_id, b_id)), "
        "(SELECT count(*) FROM p WHERE jaccard < 0.5)"
    ).fetchone()
    con.close()
    return missing == 0 and low == 0
