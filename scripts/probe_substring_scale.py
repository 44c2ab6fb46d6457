#!/usr/bin/env python
"""Growth probe for ext_dedup_substring: corpus 1× → 4× → 16× with
controlled duplication, measuring wall time, window rows, and candidate
pairs. The claim under test (dedup.py): window rows are corpus-linear and
the DF-cap bounds bucket self-joins, so the op stays near-linear while a
capless variant goes quadratic in boilerplate document frequency.

Corpus construction per replica r: every doc gets a unique prefix token
(kills cross-replica window collisions for ORDINARY text) but a fixed
fraction keep a shared verbatim 12-token span (true dups, bounded pair
groups) and every doc carries the SAME 8-token boilerplate footer —
document frequency of the footer grows linearly with the corpus, which
is exactly what the cap must neutralize.

Run: python scripts/probe_substring_scale.py
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

BASE = 4_000          # docs at 1×
SPAN = " ".join(f"dup{i}" for i in range(12))      # shared 12-token span
FOOT = " ".join(f"foot{i}" for i in range(8))      # universal boilerplate


def corpus(spark, mult: int):
    n = BASE * mult
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("u"), F.col("id")),          # unique prefix
            F.when(F.col("id") % 40 == 0, F.lit(SPAN))   # 2.5% true dups
             .otherwise(F.concat(F.lit("body"), F.col("id"),
                                 F.lit(" filler text goes here with"),
                                 F.lit(" several ordinary tokens"))),
            F.concat(F.lit("mid"), F.col("id") % 7),
            F.lit(FOOT),                                 # universal footer
        ).alias("text"),
    )
    return df


def main() -> None:
    from agentic_data_pipeline_spark.operators.dedup import (
        _SUB_MAXB, _SUB_W)
    from agentic_data_pipeline_spark.operators.textnorm import (
        normalized_tokens)
    from agentic_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="substring-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    C = F.col

    for mult in (1, 4, 16):
        docs = corpus(spark, mult).localCheckpoint()
        t = normalized_tokens(C("text"))
        n_tok = F.size(t)
        idx = F.when(n_tok >= _SUB_W,
                     F.sequence(F.lit(1), n_tok - _SUB_W + 1)) \
            .otherwise(F.array().cast("array<int>"))
        win = (docs.select(C("doc_id"), t.alias("t"),
                           F.explode(idx).alias("i"))
               .select("doc_id",
                       F.md5(F.concat_ws(" ", F.slice(C("t"), C("i"),
                                                      _SUB_W))).alias("fp"))
               .dropDuplicates(["doc_id", "fp"]))
        win = win.localCheckpoint()
        n_win = win.count()
        df_counts = win.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
        capped_out = df_counts.filter(C("df") > _SUB_MAXB).count()
        ok = df_counts.filter((C("df") >= 2) & (C("df") <= _SUB_MAXB))
        t0 = time.perf_counter()
        pairs = (win.select(C("doc_id").alias("a_id"), "fp")
                 .join(ok.select("fp"), "fp")
                 .join(win.select(C("doc_id").alias("b_id"), "fp"), "fp")
                 .filter(C("a_id") < C("b_id"))
                 .groupBy("a_id", "b_id")
                 .agg(F.count(F.lit(1)).alias("n_shared")))
        n_pairs = pairs.count()
        dt = time.perf_counter() - t0
        # capless comparison: how many candidate rows WOULD the bucket
        # self-join emit without the frequency cap? (computed from df
        # counts, not executed — at 16x it would be ~(16*BASE)^2/2 rows
        # for the footer fingerprint alone)
        capless = df_counts.select(
            F.sum(C("df") * (C("df") - 1) / 2).cast("bigint")).head()[0]
        capped = ok.select(
            F.sum(C("df") * (C("df") - 1) / 2).cast("bigint")).head()[0]
        print(f"mult={mult:3d} docs={BASE*mult:6d} windows={n_win:8d} "
              f"pairs={n_pairs:6d} join_sec={dt:6.2f} "
              f"capped_out_fps={capped_out} "
              f"candidate_rows capped={capped} capless={capless}",
              flush=True)


if __name__ == "__main__":
    main()
