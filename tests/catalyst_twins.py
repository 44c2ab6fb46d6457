"""The pure-Catalyst forms that the text and dedup Arrow (mapInArrow)
passes replaced, kept as their equality references. No operator routes
to them; each tests/test_*_arrow.py compares its Arrow pass against one
of them row for row."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from agentic_data_pipeline_spark.operators import textnorm
from agentic_data_pipeline_spark.operators.dedup import NUM_HASHES

C = F.col


def _shingles_exploded_jvm(df: DataFrame, id_col: str, text_col: str,
                           n: int = 3) -> DataFrame:
    """The pure-Catalyst r8→r11 form of dedup.shingles_exploded:
    posexplode + lead() windows + global distinct (one token-stream
    exchange+sort, one shingle-stream exchange)."""
    from pyspark.sql import Window

    toks = textnorm.normalized_tokens(C(text_col))
    ex = df.select(C(id_col).alias("id"),
                   F.posexplode(toks).alias("pos", "w"))
    w = Window.partitionBy("id").orderBy("pos")
    sh = F.concat_ws(" ", C("w"),
                     *[F.lead("w", k).over(w) for k in range(1, n)])
    full = F.lead("w", n - 1).over(w).isNotNull()
    return (ex.select("id", F.when(full | (C("pos") == 0), sh).alias("s"))
            .filter(C("s").isNotNull())
            .distinct())


def _md5_sig_jvm(sh: DataFrame) -> DataFrame:
    """The pure-Catalyst signature aggregate of dedup._md5_sig_batches —
    the r8→r12a shipped form: 32 md5+conv expressions per shingle ROW
    (~832M JVM md5s at sf10, measured 36.6 s of the op)."""
    return sh.groupBy("id").agg(*[
        F.min(textnorm.md5_int(F.concat(F.lit(f"{i}:"), C("s")), 15))
        .alias(f"h{i}") for i in range(NUM_HASHES)
    ])


def _curation_q_jvm(docs: DataFrame) -> DataFrame:
    """The pure-Catalyst quality branch of prep._curation_q_batches — the
    r11 shipped form."""
    from agentic_data_pipeline_spark.operators.text import (
        quality_expr, tokens,
    )

    fp = textnorm.fingerprint(C("text"))
    return (docs.filter((C("doc_id") % 50 != 0)
                        & (quality_expr(C("text")) >= 0.5))
            .select("doc_id", "lang", "source", fp.alias("fp"),
                    F.size(tokens(C("text"))).cast("bigint")
                    .alias("n_tokens")))


def _prep_kept_jvm(docs: DataFrame) -> DataFrame:
    """The pure-Catalyst scored→kept twin of prep._prep_kept_batches —
    the r11 shipped form."""
    n, score = textnorm.hashed_word_score(C("text"))
    fp = textnorm.fingerprint(C("text"))
    return (docs.select("doc_id", n.alias("n_tokens"), score.alias("score"),
                        fp.alias("fp"))
            .filter((C("score") >= -0.04) & (C("n_tokens") >= 10))
            .select("doc_id", "n_tokens", "fp"))
