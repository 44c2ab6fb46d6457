"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed and size arguments: the same
arguments produce byte-identical files (pyarrow tables written without
pandas metadata, fixed row-group size, fixed compression). Nothing here
touches the package's own scratch space; callers pass a directory inside
the benchmark's work area.

- ``write_lake``: the ten fixture tables (TPC-H-ish star schema, events,
  documents, embeddings) with the value domains of the fixture lake the
  registry ops and their DuckDB oracles are written against.
- ``write_corpus``: a documents table whose exact-duplicate and near-duplicate
  rates are explicit inputs, recorded in the returned spec.

Sizes, shares and block sizes are exact rather than drawn, so two seeds
give inputs of the same shape and only their content differs.
- ``write_embeddings``: unit vectors drawn around per-label centres, so
  label blocks are real clusters of equal size.
- ``write_uploads``: CSV and JSON-lines uploads for the medallion pipeline,
  with the columns the four catalog rules key on.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bounded row groups for corpus-sized tables (the lake layout
# scripts/bench_sf1.py uses), so scans can split across cores.
ROW_GROUP_ROWS = 50_000

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
P_ADJ = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
P_NOUN = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
STATUSES = np.array(["O", "F", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64


def _write(table: pa.Table, path: str, row_group_rows: int = ROW_GROUP_ROWS) -> None:
    pq.write_table(table, path, row_group_size=row_group_rows,
                   compression="snappy")


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def _exact_share(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """Boolean mask with exactly ``round(share * n)`` True entries."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[:round(share * n)]] = True
    return mask


def doc_texts(rng: np.random.Generator, n: int, exact_dup_rate: float,
              near_dup_rate: float, max_words: int = 100) -> tuple[list[str], int, int]:
    """``n`` word-salad texts whose lengths cover 10-``max_words`` words evenly. Exactly
    a ``near_dup_rate`` share are an earlier text with one word replaced and
    " dup" appended, and exactly an ``exact_dup_rate`` share copy an earlier
    text verbatim. Returns the texts and the exact and near duplicate
    counts."""
    vocab = np.array(VOCAB)
    lens = rng.permutation(10 + np.arange(n) % (max_words - 9))
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n)]
    order = rng.permutation(np.arange(1, n))
    n_exact, n_near = round(exact_dup_rate * n), round(near_dup_rate * n)
    exact, near = set(order[:n_exact].tolist()), set(order[n_exact:n_exact + n_near].tolist())
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    swap_pos = rng.random(n)
    swap_word = vocab[rng.integers(0, len(vocab), n)]
    for i in range(1, n):
        if i in exact:
            texts[i] = texts[src[i]]
        elif i in near:
            w = texts[src[i]].split(" ")
            w[int(swap_pos[i] * len(w))] = swap_word[i]
            texts[i] = " ".join(w) + " dup"
    return texts, n_exact, n_near


def documents_table(seed: int, n: int, exact_dup_rate: float,
                    near_dup_rate: float, max_words: int = 100) -> tuple[pa.Table, dict]:
    rng = np.random.default_rng([seed, 4])
    texts, n_exact, n_near = doc_texts(rng, n, exact_dup_rate, near_dup_rate,
                                       max_words)
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    spec = {"docs": n, "max_words": max_words, "exact_dup_rate": exact_dup_rate,
            "near_dup_rate": near_dup_rate, "exact_dups": n_exact,
            "near_dups": n_near}
    return table, spec


def embeddings_table(seed: int, n: int, labels: int,
                     noise: float = 0.35) -> pa.Table:
    """``n`` unit vectors in ``labels`` equal-sized label blocks."""
    rng = np.random.default_rng([seed, 5])
    centres = rng.standard_normal((labels, DIM))
    label = rng.permutation(np.arange(n) % labels).astype(np.int32)
    vecs = centres[label] + noise * np.sqrt(DIM) * rng.standard_normal((n, DIM)) / 4
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat),
        "label": label,
    })


def write_lake(out_dir: str, seed: int, sf: float) -> dict:
    """The fixture lake at scale factor ``sf`` (sf0.1: 600k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), os.path.join(out_dir, "region.parquet"))
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), os.path.join(out_dir, "nation.parquet"))
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pa.table({
        "c_custkey": ck, "c_name": _labels("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    }), os.path.join(out_dir, "customer.parquet"))
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pa.table({
        "s_suppkey": sk, "s_name": _labels("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), os.path.join(out_dir, "supplier.parquet"))
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(np.char.add(rng.choice(P_ADJ, n_part), " "),
                        rng.choice(P_NOUN, n_part))
    _write(pa.table({
        "p_partkey": pk, "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 2),
    }), os.path.join(out_dir, "part.parquet"))
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(STATUSES, n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    }), os.path.join(out_dir, "orders.parquet"), 1_000_000)
    _write(pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    }), os.path.join(out_dir, "lineitem.parquet"), 1_000_000)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = t0 + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    }), os.path.join(out_dir, "events.parquet"), 1_000_000)
    docs, _ = documents_table(seed, max(int(50_000 * sf), 50), 0.002, 0.05)
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(embeddings_table(seed, max(int(20_000 * sf), 100), 10),
           os.path.join(out_dir, "embeddings.parquet"))
    return {"sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord}


def write_corpus(out_dir: str, seed: int, docs: int, exact_dup_rate: float,
                 near_dup_rate: float, max_words: int) -> dict:
    """A corpus lake: ``documents.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    table, spec = documents_table(seed, docs, exact_dup_rate, near_dup_rate, max_words)
    _write(table, os.path.join(out_dir, "documents.parquet"))
    return spec


def write_embeddings(out_dir: str, seed: int, vectors: int, labels: int) -> dict:
    """An embeddings lake: ``embeddings.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    _write(embeddings_table(seed, vectors, labels),
           os.path.join(out_dir, "embeddings.parquet"))
    return {"vectors": vectors, "labels": labels, "dim": DIM}


def write_uploads(out_dir: str, seed: int, rows: int) -> dict:
    """A sales CSV upload and a JSON-lines customer upload (with a free-text
    ``bio`` for the vector index).

    The CSV carries ``email``, ``currency`` and ``revenue`` so every catalog
    rule compiles; ~1 in 7 emails is malformed and ~1 in 200 revenues is an
    outlier, so clean_emails and remove_outliers both drop rows.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 6])
    ids = np.arange(rows, dtype=np.int64)
    cust = rng.integers(0, max(rows // 10, 1), rows)
    revenue = _money(rng, 10, 5_000, rows)
    outlier = _exact_share(rng, rows, 0.005)
    revenue[outlier] = np.round(revenue[outlier] * 40, 2)
    currency = rng.choice(np.array(["USD", "EUR", "GBP"]), rows)
    region = rng.choice(np.array(REGIONS), rows)
    day = _days(rng, "2024-01-01", "2024-12-31", rows).astype("datetime64[D]")
    bad = _exact_share(rng, rows, 1 / 7)
    emails = [f"user{c}@example{'' if b else '.com'}"
              for c, b in zip(cust.tolist(), bad.tolist())]
    csv_path = os.path.join(out_dir, "sales.csv")
    with open(csv_path, "w") as f:
        f.write("order_id,customer_id,email,region,sale_date,currency,revenue,units\n")
        units = rng.integers(1, 20, rows)
        for row in zip(ids.tolist(), cust.tolist(), emails, region.tolist(),
                       day.astype(str).tolist(), currency.tolist(),
                       revenue.tolist(), units.tolist()):
            f.write("%d,%d,%s,%s,%s,%s,%.2f,%d\n" % row)
    n_cust = max(rows // 10, 1)
    json_path = os.path.join(out_dir, "customers.json")
    seg = rng.choice(SEGMENTS, n_cust)
    bal = _money(rng, -999.99, 9999.99, n_cust)
    vocab = np.array(VOCAB)
    with open(json_path, "w") as f:
        for c in range(n_cust):
            bio = " ".join(vocab[rng.integers(0, len(vocab), rng.integers(5, 21))])
            f.write(json.dumps({"customer_id": c, "segment": str(seg[c]),
                                "balance": float(bal[c]), "bio": bio}) + "\n")
    return {"rows": rows, "customers": n_cust,
            "input_bytes": os.path.getsize(csv_path) + os.path.getsize(json_path),
            "csv": csv_path, "json": json_path}
