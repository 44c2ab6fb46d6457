#!/usr/bin/env python
"""Vectorized Arrow shingle generator A/B (r12 session 2, guide §4.3).

The d006892 Arrow generator removed the window/distinct exchanges but
kept a per-doc PYTHON loop in the mapInArrow body: words.to_pylist()
materializes one PyString per token (~50M at sf10), then set() +
' '.join build one more per candidate window. The vectorized body
(dedup._shingle_batches at HEAD) never creates a Python string:
binary_join_element_wise over n shifted slices of the flat token array
builds every window in C++, per-doc validity is one vectorized compare
on the repeat-vector, and per-doc distinct+sort is dictionary-encode +
dictionary rank + np.unique over (doc*K + rank) keys.

Before-variant = the exact d006892 loop body (local copy below).
Equality first: full-stream checksum (count + sum of xxhash64 over
id|s) asserted identical per subject and geometry at this tier, plus
the row-identical oracle-consumer outputs; THEN interleaved fresh
noop-write timing, min-of-PASSES.

Usage: SPARK_GRAFT_TIER=sf10 python scripts/probe_shingles_vectorized.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession, functions as F

from agentic_data_pipeline_spark.catalog import load_table
from agentic_data_pipeline_spark.operators import dedup as D
from agentic_data_pipeline_spark.session import apply_scaled_shuffle, get_spark

C = F.col
TIER = os.environ.get("SPARK_GRAFT_TIER", "sf10")
SF_DIR = f"/root/repo/.tmp/{TIER}" if TIER not in ("sf0.1",) \
    else "/root/testdata/sf0.1"
PASSES = int(os.environ.get("SPARK_GRAFT_PASSES", "3"))


def _shingle_batches_pyloop(n: int, id_col: str):
    """The d006892 body, verbatim — the before-variant."""
    def gen(it):
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = pa.schema([pa.field("id", pa.int64()),
                            pa.field("s", pa.string())])
        for batch in it:
            ids = batch.column("id").to_pylist()
            text = batch.column("text")
            if text.null_count:
                text = pc.fill_null(text, "")
            low = pc.utf8_lower(text)
            norm = pc.replace_substring_regex(
                low, pattern="[^a-z0-9]+", replacement=" ")
            words = pc.split_pattern(norm, " ")
            out_ids: list[int] = []
            out_s: list[str] = []
            for i, toks in enumerate(words.to_pylist()):
                toks = [t for t in toks if t]
                if not toks:
                    continue
                if len(toks) <= n:
                    seen = sorted({" ".join(toks)})
                else:
                    seen = sorted({" ".join(toks[j:j + n])
                                   for j in range(len(toks) - n + 1)})
                out_ids.extend([ids[i]] * len(seen))
                out_s.extend(seen)
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_ids, type=pa.int64()),
                 pa.array(out_s, type=pa.string())], schema=schema)
    return gen


class _PyLoop:
    def __enter__(self):
        self._orig = D._shingle_batches
        D._shingle_batches = _shingle_batches_pyloop

    def __exit__(self, *exc):
        D._shingle_batches = self._orig


def checksum(df: DataFrame) -> tuple:
    # bit_xor, not sum: order-independent like sum but cannot overflow
    # under ANSI arithmetic
    h = F.xxhash64(F.concat_ws("|", C("id").cast("string"), C("s")))
    row = (df.select(h.alias("h"))
           .agg(F.count(F.lit(1)).alias("n"),
                F.bit_xor("h").alias("x")).collect()[0])
    return (row["n"], row["x"])


def main() -> None:
    from agentic_data_pipeline_spark.registry import OPS, _ensure_loaded

    _ensure_loaded()
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    apply_scaled_shuffle(spark, load_table(spark, SF_DIR, "lineitem").count())
    docs = load_table(spark, SF_DIR, "documents")

    out: dict = {"tier": TIER, "passes": PASSES}

    # ---- equality: raw generator, both geometries, full-stream checksum
    for n in (3, 8):
        with _PyLoop():
            before = checksum(D.shingles_exploded(docs, "doc_id", "text", n))
        after = checksum(D.shingles_exploded(docs, "doc_id", "text", n))
        assert before == after, (n, before, after)
        out[f"checksum_n{n}"] = {"rows": before[0], "match": True}
        print(f"n={n}: {before[0]} shingle rows, checksums match", flush=True)

    # ---- equality: oracle-consumer outputs (row-for-row)
    for name in ("ext_curation_pipeline", "ext_decontaminate"):
        with _PyLoop():
            a = sorted(map(tuple, OPS[name].fn(spark, SF_DIR).collect()))
        b = sorted(map(tuple, OPS[name].fn(spark, SF_DIR).collect()))
        assert a == b, f"{name}: rows diverge"
        print(f"{name}: {len(b)} rows identical", flush=True)

    # ---- interleaved timing: raw generator + consumers
    def t(build, label, variants):
        res = {k: 9e9 for k in variants}
        for _ in range(PASSES):
            for k in variants:
                spark.sparkContext.setJobDescription(f"{label} {k}")
                t0 = time.monotonic()
                if k == "pyloop":
                    with _PyLoop():
                        build().write.format("noop").mode("overwrite").save()
                else:
                    build().write.format("noop").mode("overwrite").save()
                res[k] = min(res[k], time.monotonic() - t0)
        out[label] = {k: round(v, 3) for k, v in res.items()}
        print(label, out[label], flush=True)

    for n in (3, 8):
        t(lambda n=n: D.shingles_exploded(docs, "doc_id", "text", n),
          f"generator_n{n}", ("pyloop", "vectorized"))
    subjects = [s for s in os.environ.get(
        "SPARK_GRAFT_SUBJECTS",
        "ext_curation_pipeline,ext_decontaminate,ext_dedup_minhash_md5")
        .split(",") if s]
    for name in subjects:
        t(lambda name=name: OPS[name].fn(spark, SF_DIR),
          name, ("pyloop", "vectorized"))

    print(json.dumps(out))


if __name__ == "__main__":
    main()
