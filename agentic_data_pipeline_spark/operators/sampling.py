"""Deterministic sampling / splitting / corpus reporting.

Training-data pipelines need *reproducible* sampling: `rand()`-based
sampling changes across retries, speculative tasks, and cluster layouts,
which silently corrupts train/val hygiene. Everything here derives its
randomness from md5 of a stable key — the same row lands in the same
bucket on any engine, any run, any partitioning (and md5 is portable, so
the DuckDB oracle checks it exactly).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import op
from . import textnorm

C = F.col


def hash_bucket(key: Column, buckets: int = 100) -> Column:
    """Stable bucket in [0, buckets) from the first 8 md5 hex chars of the
    key — uniform, engine-portable (Spark conv == DuckDB from_hex path)."""
    return (textnorm.md5_int(key.cast("string"), 8) % buckets).cast("int")


def deterministic_sample(df: DataFrame, key: str, rate_pct: int) -> DataFrame:
    """Keep ~rate_pct% of rows, stably by key hash."""
    return df.filter(hash_bucket(C(key)) < rate_pct)


def train_val_test_split(df: DataFrame, key: str,
                         val_pct: int = 10, test_pct: int = 10) -> DataFrame:
    """Assign each row a stable split label (train/val/test)."""
    b = hash_bucket(C(key))
    split = (
        F.when(b < test_pct, "test")
        .when(b < test_pct + val_pct, "val")
        .otherwise("train")
    )
    return df.withColumn("split", split)


# DuckDB twin of hash_bucket: md5 prefix → bigint via from_hex/position math.
# DuckDB 1.0 lacks conv(); decode the 8 hex chars manually through a 2-step
# from_hex → bit math is clumsy, so use the documented-equivalent:
# CAST(('0x' || prefix) AS BIGINT) is not supported either; instead use
# list_reduce over the hex chars. Kept in one helper string.
def _duck_bucket(key_expr: str, buckets: int = 100) -> str:
    return (
        "CAST(list_reduce(list_transform(string_split(substring(md5("
        f"CAST({key_expr} AS VARCHAR)), 1, 8), ''), "
        "c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        f"(a, b) -> a * 16 + b) % {buckets} AS INT)"
    )


@op("ext_sample_stratified", oracle=f"""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM (
        SELECT lang, doc_id
        FROM documents
        WHERE {_duck_bucket('doc_id')} < (CASE WHEN lang = 'en' THEN 50
                                               ELSE 20 END)
    )
    GROUP BY lang
""")
def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: 50% of English docs, 20% of the
    rest, keyed on doc_id — rerun-stable on any engine/partitioning."""
    docs = load_table(spark, sf_dir, "documents")
    rate = F.when(C("lang") == "en", 50).otherwise(20)
    sampled = docs.filter(hash_bucket(C("doc_id")) < rate)
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.min("doc_id").alias("min_doc"),
    )


@op("ext_train_val_split", oracle=f"""
    SELECT CASE WHEN {_duck_bucket('doc_id')} < 10 THEN 'test'
                WHEN {_duck_bucket('doc_id')} < 20 THEN 'val'
                ELSE 'train' END AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
""")
def ext_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable 80/10/10 train/val/test assignment keyed on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        train_val_test_split(docs, "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_chars").cast("bigint").alias("total_chars"))
    )


@op("ext_corpus_stats", oracle=r"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT)                               AS n_docs,
           CAST(COUNT(DISTINCT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))))
                AS BIGINT)                                        AS n_unique,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
                                                                  AS total_tokens,
           CAST(MIN(n_chars) AS BIGINT)                           AS min_chars,
           CAST(MAX(n_chars) AS BIGINT)                           AS max_chars
    FROM documents
    GROUP BY source
""")
def ext_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report: volume, exact-dup rate (distinct
    fingerprints), token totals — the dashboard numbers a data-curation
    run ends with. One partial+final aggregate pass."""
    docs = load_table(spark, sf_dir, "documents")
    fp = textnorm.fingerprint(C("text"))
    toks = F.size(F.split(F.trim(C("text")), r"\s+"))
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count_distinct(fp).alias("n_unique"),
        F.sum(toks).cast("bigint").alias("total_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# --- Domain-mixture resampling -----------------------------------------
#
# Training mixtures are specified as target weights per source/domain
# (e.g. "books 40%, web 40%, code 20%"); the pipeline step turns those
# weights into per-source keep-rates against whatever the crawl actually
# contains. All arithmetic is integer basis points so both engines land on
# identical thresholds, and the row filter is the same md5 bucket as every
# other sampling op — rerun-stable under retries and re-partitioning.

MIX_BUCKETS = 10_000

# Tiered target mixture over the 20 fixture sources: src0-3 are "premium"
# (1000 bp each), src4-11 "standard" (500 bp), src12-19 "web" (250 bp);
# 4*1000 + 8*500 + 8*250 = 10000 bp total.


def _target_bp(src_idx: Column) -> Column:
    return (F.when(src_idx < 4, 1000)
            .when(src_idx < 12, 500)
            .otherwise(250)).cast("bigint")


@op("ext_domain_mix", oracle=f"""
    WITH cnt AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(CASE WHEN CAST(substring(source, 4) AS INT) < 4 THEN 1000
                         WHEN CAST(substring(source, 4) AS INT) < 12 THEN 500
                         ELSE 250 END AS BIGINT) AS target_bp
        FROM documents
        GROUP BY source
    ), thr AS (
        SELECT source, n_total, target_bp,
               CAST(FLOOR(
                   FLOOR(MIN(CAST(FLOOR(n_total * {MIX_BUCKETS}.0 / target_bp)
                                  AS BIGINT)) OVER ()
                         * target_bp / {MIX_BUCKETS}.0)
                   * {MIX_BUCKETS}.0 / n_total) AS BIGINT) AS thresh_bp
        FROM cnt
    )
    SELECT d.source, t.target_bp, t.n_total,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM documents d JOIN thr t USING (source)
    WHERE {{bucket}} < t.thresh_bp
    GROUP BY d.source, t.target_bp, t.n_total
""".replace("{bucket}", _duck_bucket("d.doc_id", MIX_BUCKETS)))
def ext_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: given target weights per source (basis
    points), down-sample each source so the surviving corpus matches the
    target mixture at the largest total the inventory supports
    (T = min over sources of count/weight), via the stable md5 bucket.

    Shape at scale: per-source counts are a dim-sized aggregate; the
    threshold table (20 rows) broadcast-joins back onto the corpus, so the
    big side is one map-only filter pass — no corpus shuffle beyond the
    final report aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    src_idx = F.substring(C("source"), 4, 8).cast("int")
    cnt = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
    ).withColumn("target_bp", _target_bp(src_idx))
    capacity = F.floor(C("n_total") * float(MIX_BUCKETS) / C("target_bp")) \
        .cast("bigint")
    w_all = Window.partitionBy(F.lit(1))
    need = F.floor(F.min(capacity).over(w_all) * C("target_bp")
                   / float(MIX_BUCKETS))
    thr = cnt.withColumn(
        "thresh_bp",
        F.floor(need * float(MIX_BUCKETS) / C("n_total")).cast("bigint"))
    kept = (docs.join(F.broadcast(thr), "source")
            .filter(hash_bucket(C("doc_id"), MIX_BUCKETS) < C("thresh_bp")))
    return kept.groupBy("source", "target_bp", "n_total").agg(
        F.count(F.lit(1)).alias("n_kept"))


# --- Training-shard assignment ------------------------------------------

N_SHARDS = 16


@op("ext_shard_assign", oracle=f"""
    SELECT doc_id,
           {_duck_bucket('doc_id', 16)} AS shard,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY {_duck_bucket('doc_id', 16)}
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS BIGINT) AS pos
    FROM documents
""")
def ext_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + within-shard order: the
    manifest a distributed training-data writer materializes (N shard
    files, each globally shuffled once, reproducible across reruns).

    shard = md5-bucket(doc_id) % N_SHARDS balances shards regardless of
    doc_id density; within-shard order sorts by md5(doc_id) — a stable
    pseudo-random permutation, so consumers stream documents in a shuffled
    order WITHOUT a separate shuffle job (ORDER BY rand() is neither
    rerun-stable nor resumable).

    Scale shape: one exchange on shard (the same repartition the writer
    needs anyway) + sortWithinPartitions; row_number is the per-partition
    manifest position. At 100 TB this is exactly
    `df.repartition(N, "shard").sortWithinPartitions("shuffle_key")`
    followed by a partitioned write — no global sort, no driver state.
    """
    docs = load_table(spark, sf_dir, "documents")
    shard = hash_bucket(C("doc_id"), N_SHARDS)
    shuffle_key = F.md5(C("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy("shuffle_key", "doc_id")
    return (docs.select("doc_id", shard.alias("shard"),
                        shuffle_key.alias("shuffle_key"))
            .withColumn("pos", F.row_number().over(w).cast("bigint"))
            .drop("shuffle_key"))


@op("ext_sample_fixed_n", oracle="""
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
    LIMIT 100
""")
def ext_sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-size deterministic sample (N=100): rank every row by
    md5(doc_id) and keep the first N — the fixed-budget eval-set draw
    (rate-based sampling can't hit an exact N; ORDER BY rand() isn't
    rerun-stable). Plans as TakeOrderedAndProject: each partition keeps
    its local top-N and the driver merges N per partition — no global
    sort, no full shuffle, at any corpus size.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (docs.select("doc_id", "lang", "source",
                        F.md5(C("doc_id").cast("string")).alias("__k"))
            .orderBy("__k", "doc_id").limit(100).drop("__k"))


# --- Temperature-based multilingual resampling -------------------------
#
# XLM-R / mT5-style language balancing: sample language l with
# probability ∝ n_l^α (α<1 flattens the distribution so high-resource
# languages stop dominating). α=0.5 here, which keeps every quantity
# ENGINE-EXACT: IEEE-754 sqrt is correctly rounded (unlike pow), so
# FLOOR(SQRT(n)) is bit-identical in Spark and DuckDB, and everything
# downstream is integer arithmetic.

TEMP_TARGET_BP = 4000  # sample ~40% of the corpus overall


@op("ext_temperature_sample", oracle=f"""
    WITH cnt AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s
        FROM documents GROUP BY lang
    ), tot AS (
        SELECT CAST(FLOOR(SUM(n_total) * {TEMP_TARGET_BP} / 10000.0)
                    AS BIGINT) AS t,
               CAST(SUM(s) AS BIGINT) AS sum_s
        FROM cnt
    ), rates AS (
        SELECT lang, n_total,
               CAST(LEAST(10000, FLOOR(FLOOR(t * s / sum_s) * 10000.0
                                       / n_total)) AS BIGINT) AS keep_bp
        FROM cnt, tot
    )
    SELECT r.lang, r.n_total, r.keep_bp,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM documents d JOIN rates r USING (lang)
    WHERE {{bucket}} < r.keep_bp
    GROUP BY 1, 2, 3
""".replace("{bucket}", _duck_bucket("d.doc_id", 10_000)))
def ext_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based multilingual resampling (α=0.5): per-language
    keep-rates ∝ sqrt(n_lang), normalized to a 40% corpus budget and
    clamped at 100% — rare languages keep (relatively) more, dominant
    ones are downsampled, the standard balancing pass before multilingual
    tokenizer/LM training. Deterministic md5-bucket row filter like every
    sampling op (rerun/retry-stable); the language stats table is tiny
    and BROADCASTS into the row filter — one aggregate + one map pass
    over the corpus at any scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (docs.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_total"))
           .withColumn("s", F.floor(F.sqrt(C("n_total").cast("double")))
                       .cast("bigint")))
    # explicit FLOOR before the bigint cast: Spark's double->bigint cast
    # truncates while DuckDB's rounds, so a corpus whose 40% budget is
    # fractional would silently split without it.
    tot = cnt.agg(
        F.floor(F.sum("n_total") * TEMP_TARGET_BP / 10_000.0)
        .cast("bigint").alias("t"),
        F.sum("s").cast("bigint").alias("sum_s"))
    rates = (cnt.join(F.broadcast(tot))
             .withColumn("keep_bp",
                         F.least(F.lit(10_000),
                                 F.floor(F.floor(C("t") * C("s") / C("sum_s"))
                                         * 10_000.0 / C("n_total")))
                         .cast("bigint"))
             .select("lang", "n_total", "keep_bp"))
    return (docs.join(F.broadcast(rates), "lang")
            .filter(hash_bucket(C("doc_id"), 10_000) < C("keep_bp"))
            .groupBy("lang", "n_total", "keep_bp")
            .agg(F.count(F.lit(1)).alias("n_kept")))


UPSAMPLE_TARGET_BP = 12_000  # 120% budget: rare languages really upsample


@op("ext_upsample_repeat", oracle=f"""
    WITH cnt AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS s
        FROM documents GROUP BY lang
    ), tot AS (
        SELECT CAST(FLOOR(SUM(n_total) * {UPSAMPLE_TARGET_BP} / 10000.0)
                    AS BIGINT) AS t,
               CAST(SUM(s) AS BIGINT) AS sum_s
        FROM cnt
    ), quotas AS (
        SELECT lang, n_total,
               CAST(FLOOR(t * s / sum_s) AS BIGINT) AS quota
        FROM cnt, tot
    ), rates AS (
        SELECT lang, n_total, quota,
               quota // n_total AS full_copies,
               CAST(FLOOR((quota - (quota // n_total) * n_total) * 10000.0
                          / n_total) AS BIGINT) AS rem_bp
        FROM quotas
    )
    SELECT r.lang, r.n_total, r.quota,
           CAST(r.n_total * r.full_copies
                + SUM(CASE WHEN {{bucket}} < r.rem_bp THEN 1 ELSE 0 END)
                AS BIGINT) AS n_emitted
    FROM documents d JOIN rates r USING (lang)
    GROUP BY 1, 2, 3, r.full_copies
""".replace("{bucket}", _duck_bucket("d.doc_id", 10_000)))
def ext_upsample_repeat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeat-factor upsampling: the other half of temperature balancing
    (ext_temperature_sample clamps keep-rates at 100% because a row
    FILTER cannot upsample). Under a 120% budget each language's
    sqrt-temperature quota becomes `full` whole copies of every doc plus
    an md5-bucket-selected remainder copy — deterministic epoch
    repetition, the standard way premium/rare data is over-represented
    in training mixtures.

    The op actually EMITS the repeated rows (explode over a per-row copy
    count — map-side, no shuffle until the stats aggregate) and the
    oracle computes the expected emission arithmetically, so hash parity
    proves the emission logic, not just the quota math. All quantities
    are integers (IEEE-exact sqrt, explicit FLOOR) — engine-exact by
    construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    cnt = (docs.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_total"))
           .withColumn("s", F.floor(F.sqrt(C("n_total").cast("double")))
                       .cast("bigint")))
    tot = cnt.agg(
        F.floor(F.sum("n_total") * UPSAMPLE_TARGET_BP / 10_000.0)
        .cast("bigint").alias("t"),
        F.sum("s").cast("bigint").alias("sum_s"))
    rates = (cnt.join(F.broadcast(tot))
             .withColumn("quota",
                         F.floor(C("t") * C("s") / C("sum_s")).cast("bigint"))
             .withColumn("full_copies", (C("quota") / C("n_total"))
                         .cast("bigint"))
             .withColumn("rem_bp",
                         F.floor((C("quota") - C("full_copies") * C("n_total"))
                                 * 10_000.0 / C("n_total")).cast("bigint"))
             .select("lang", "n_total", "quota", "full_copies", "rem_bp"))
    copies = (C("full_copies")
              + F.when(hash_bucket(C("doc_id"), 10_000) < C("rem_bp"), 1)
              .otherwise(0)).cast("int")
    emitted = (docs.join(F.broadcast(rates), "lang")
               .withColumn("__n", copies)
               .withColumn("__rep", F.explode(
                   F.when(C("__n") > 0, F.sequence(F.lit(1), C("__n")))
                   .otherwise(F.array()))))
    counts = emitted.groupBy("lang").agg(
        F.count(F.lit(1)).alias("__n_emitted"))
    # Aggregate FROM the rates table (left join to the emitted counts) so a
    # language whose quota emits zero rows still surfaces with n_emitted=0,
    # mirroring the oracle's unconditional per-language grouping — an
    # explode-side groupBy would drop it entirely (r4 advice).
    return (rates.select("lang", "n_total", "quota")
            .join(counts, "lang", "left")
            .select("lang", "n_total", "quota",
                    F.coalesce(C("__n_emitted"), F.lit(0).cast("bigint"))
                    .alias("n_emitted")))
