"""Data-profiling operators (beyond-reference, 100 TB surface): value
histograms, per-document token entropy, and corpus-level PMI collocations.

Profiling is the first query anyone runs on a new 100 TB drop; each op here
is a one- or two-shuffle aggregate whose partial (map-side) form Catalyst
generates automatically, so cost scales with distinct keys, not rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.helpers import dec_sum, o_sum
from ..functions.vector import trunc6
from ..registry import op
from . import textnorm

C = F.col

HIST_LO = 0.0
HIST_WIDTH = 25_000.0   # o_totalprice spans [~1e3, 5e5) → 20 buckets


@op("q_histogram", oracle=f"""
    SELECT CAST(FLOOR((o_totalprice - {HIST_LO}) / {HIST_WIDTH}) AS INT)
               AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {o_sum('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY 1
""")
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram of orders.o_totalprice (25k buckets).

    The profiling workhorse: binning turns a continuous column into a
    group-by key, so the whole histogram is ONE partial+final hash
    aggregate — 20 rows cross the shuffle per map task regardless of table
    size. Bucket edges are fixed constants; identical IEEE division on
    both engines makes bucket assignment exact, and the money sum goes
    through fixed-point cents so it is order-independent.
    """
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.floor((C("o_totalprice") - HIST_LO) / HIST_WIDTH).cast("int")
    return (orders.groupBy(bucket.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("cnt"),
                 dec_sum("o_totalprice").alias("sum_price")))


@op("ext_entropy", oracle=r"""
    WITH t AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents
    ), c AS (
        SELECT doc_id, w, COUNT(*) AS c FROM t GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT)                          AS n_tokens,
           CAST(COUNT(*) AS BIGINT)                        AS n_distinct,
           ROUND(log2(SUM(c)) - SUM(c * log2(c)) / SUM(c), 6)
                                                           AS token_entropy
    FROM c
    GROUP BY doc_id
""")
def ext_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution Shannon entropy (bits) — the
    information-density quality signal (low entropy ⇒ repetitive/spammy
    text, a standard web-crawl filter next to ext_repetition's
    duplicate-bigram fraction).

    H = log2(n) − (Σ c·log2 c)/n over token counts c. Shape at scale: the
    token explode never leaves the map side as raw rows — the
    (doc_id, token) partial aggregate combines within each input split, so
    the first shuffle carries one row per distinct token per doc (~half
    the tokens at web-text Zipf), the second one row per doc. Identical
    formula both engines; 6dp rounding absorbs summation-order float
    noise.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(C("text")), r"\s+")).alias("w"))
    counts = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c")
    return (counts.groupBy("doc_id")
            .agg(n.cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_distinct"),
                 F.round(F.log2(n) - F.sum(C("c") * F.log2("c")) / n, 6)
                 .alias("token_entropy")))


PMI_MIN_COUNT = 20


@op("ext_pmi_bigrams", oracle=rf"""
    WITH toks AS (
        SELECT string_split_regex(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
        FROM documents
    ), uni AS (
        SELECT u.w AS word, COUNT(*) AS c
        FROM toks, UNNEST(w) AS u(w) GROUP BY 1
    ), big AS (
        SELECT w[g.i] AS w1, w[g.i + 1] AS w2, COUNT(*) AS c
        FROM toks, UNNEST(range(1, len(w))) AS g(i)
        GROUP BY 1, 2
    ), tot AS (
        SELECT (SELECT SUM(c) FROM uni) AS n_uni,
               (SELECT SUM(c) FROM big) AS n_big
    )
    SELECT b.w1, b.w2, CAST(b.c AS BIGINT) AS pair_count,
           ROUND(log2((b.c / t.n_big)
                      / ((u1.c / t.n_uni) * (u2.c / t.n_uni))), 6) AS pmi
    FROM big b
    JOIN uni u1 ON u1.word = b.w1
    JOIN uni u2 ON u2.word = b.w2
    CROSS JOIN tot t
    WHERE b.c >= {PMI_MIN_COUNT}
""")
def ext_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PMI collocations: every bigram seen ≥ PMI_MIN_COUNT
    times, scored by pointwise mutual information against the unigram
    model — the classic phrase-mining / tokenizer-merge-candidate op
    (word2phrase, BPE-merge scoring are this same shape).

    Shape at scale: two partial-aggregated counts (unigrams, bigrams) over
    one tokenized scan subtree, then the frequent-bigram table (tiny after
    the ≥ min-count filter) joins the unigram counts twice — Spark
    broadcasts whichever side its estimates say is small, and at corpus
    scale that is the filtered bigram side, so the unigram table never
    shuffles. The corpus totals are two scalar aggregates broadcast as a
    1-row cross join. No ORDER BY on the float score — thresholding, not
    ranking, keeps the result set float-stable.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(textnorm.words(C("text")).alias("w"))
    uni = (toks.select(F.explode("w").alias("word"))
           .groupBy("word").agg(F.count(F.lit(1)).alias("c")))
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x as w1, w[i + 1] as w2))")
    big = (toks.filter(F.size("w") > 1)
           .select(F.explode(pairs).alias("p"))
           .select(C("p.w1").alias("w1"), C("p.w2").alias("w2"))
           .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c")))
    tot = uni.agg(F.sum("c").alias("n_uni")).crossJoin(
        big.agg(F.sum("c").alias("n_big")))
    u1 = uni.select(C("word").alias("w1"), C("c").alias("c1"))
    u2 = uni.select(C("word").alias("w2"), C("c").alias("c2"))
    freq = big.filter(C("c") >= PMI_MIN_COUNT)
    return (freq.join(u1, "w1").join(u2, "w2").crossJoin(F.broadcast(tot))
            .select("w1", "w2", C("c").cast("bigint").alias("pair_count"),
                    F.round(F.log2((C("c") / C("n_big"))
                                   / ((C("c1") / C("n_uni"))
                                      * (C("c2") / C("n_uni")))), 6)
                    .alias("pmi")))


RARE_DENOM = 256  # bigram is "rare" when P(w2|w1) < 1/256, tested in integers


@op("ext_rare_bigrams", oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
        FROM documents
    ), big AS (
        SELECT doc_id, w[g.i] AS w1, w[g.i + 1] AS w2
        FROM toks, UNNEST(range(1, len(w))) AS g(i)
    ), dc AS (
        SELECT doc_id, w1, w2, COUNT(*) AS dn FROM big GROUP BY 1, 2, 3
    ), bc AS (
        SELECT w1, w2, SUM(dn) AS c FROM dc GROUP BY 1, 2
    ), uc AS (
        SELECT w1, SUM(c) AS cu FROM bc GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(SUM(d.dn) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN bc.c * {RARE_DENOM} < uc.cu
                         THEN d.dn ELSE 0 END) AS BIGINT) AS n_rare,
           FLOOR(CAST(SUM(CASE WHEN bc.c * {RARE_DENOM} < uc.cu
                               THEN d.dn ELSE 0 END) AS DOUBLE)
                 / SUM(d.dn) * 1e6) / 1e6 AS rare_ratio
    FROM dc d
    JOIN bc ON bc.w1 = d.w1 AND bc.w2 = d.w2
    JOIN uc ON uc.w1 = d.w1
    GROUP BY 1
""")
def ext_rare_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-bigram density: per document, the fraction of bigram tokens
    whose corpus conditional probability P(w2|w1) is below 1/RARE_DENOM —
    the surprisal-family quality/novelty filter (the cheap stand-in for
    LM-perplexity filtering in training-data curation; high rare-ratio docs
    are gibberish/OCR noise candidates, zero-rare docs are boilerplate).

    Rarity is decided in INTEGER arithmetic (c * 256 < cu), never via
    floats or logs, so the flag — and therefore the whole result — is
    bit-identical across engines; the only float is one final division.

    Shape at scale: per-doc bigrams pre-aggregate to (doc, w1, w2, dn)
    before any join (shrinks the join input to distinct-bigrams-per-doc);
    the corpus stats tables (bc, uc) derive from ONE aggregation subtree
    and join back by key — Catalyst broadcasts them when small, and at
    100 TB they become bucketed stats tables exactly like the tfidf
    document-frequency side (text.py:208).
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x as w1, w[i + 1] as w2))")
    big = (docs.select("doc_id", textnorm.words(C("text")).alias("w"))
           .filter(F.size("w") > 1)
           .select("doc_id", F.explode(pairs).alias("p"))
           .select("doc_id", C("p.w1").alias("w1"), C("p.w2").alias("w2")))
    dc = big.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("dn"))
    bc = dc.groupBy("w1", "w2").agg(F.sum("dn").alias("c"))
    uc = bc.groupBy("w1").agg(F.sum("c").alias("cu"))
    rare_dn = F.when(C("c") * RARE_DENOM < C("cu"), C("dn")).otherwise(F.lit(0))
    return (
        dc.join(bc, ["w1", "w2"]).join(uc, "w1")
        .groupBy("doc_id")
        .agg(F.sum("dn").alias("n_bigrams"),
             F.sum(rare_dn).alias("n_rare"),
             # floor, not round: int/int ratio (see text.py note)
             (F.floor(F.sum(rare_dn).cast("double") / F.sum("dn") * 1e6)
              / 1e6).alias("rare_ratio"))
    )


_PPL_SQL = r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
        FROM documents
    ), v AS (
        SELECT COUNT(DISTINCT u) AS vocab
        FROM (SELECT unnest(w) AS u FROM toks)
    ), dc AS (
        SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS dn
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w)),
                            i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS p
              FROM toks WHERE len(w) > 1),
             LATERAL (SELECT p.w1 AS w1, p.w2 AS w2)
        GROUP BY 1, 2, 3
    ), bc AS (
        SELECT w1, w2, SUM(dn) AS c FROM dc GROUP BY 1, 2
    ), uc AS (
        SELECT w1, SUM(c) AS cu FROM bc GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(SUM(d.dn) AS BIGINT) AS n_bigrams,
           CAST(SUM(d.dn * CAST(ROUND(LN((bc.c + 1.0) / (uc.cu + v.vocab))
                                      * 10000, 0) AS BIGINT))
                AS DOUBLE) / -10000.0                       AS nll_total,
           ROUND(CAST(SUM(d.dn * CAST(ROUND(
                     LN((bc.c + 1.0) / (uc.cu + v.vocab)) * 10000, 0)
                 AS BIGINT)) AS DOUBLE) / -10000.0 / SUM(d.dn), 6)
                                                            AS avg_nll
    FROM dc d
    JOIN bc ON bc.w1 = d.w1 AND bc.w2 = d.w2
    JOIN uc ON uc.w1 = d.w1
    CROSS JOIN v
    GROUP BY 1
"""


@op("ext_lm_perplexity", oracle=_PPL_SQL)
def ext_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram-LM negative log-likelihood — the actual
    CCNet-style perplexity filter (ppl = exp(avg_nll)), trained on the
    corpus itself with add-one smoothing: P(w2|w1) = (B+1)/(U+V). The
    integer-exact sibling ext_rare_bigrams flags tail mass; this op gives
    the continuous score curation pipelines threshold on.

    Determinism across engines: each bigram's ln P is rounded to 4dp and
    SCALED TO BIGINT before the weighted sum (the repo's fixed-point money
    trick applied to log-space), so the aggregate is order-independent and
    hash-exact; 4dp absorbs libm ulp differences between JVM and DuckDB.

    Shape at scale: identical to ext_rare_bigrams — per-doc bigrams
    pre-aggregate before any join, corpus tables (bc, uc) derive from one
    subtree and broadcast when small / bucket at 100 TB; vocab size V is
    a 1-row driver scalar. Smoothed scoring of UNSEEN bigrams (a held-out
    set against a frozen LM table) is the same join with a left anti
    default of ln(1/(U+V)) — the training-corpus self-score here is what
    the dedup/quality pass consumes.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", textnorm.words(C("text")).alias("w"))
    vocab = (toks.select(F.explode("w").alias("u")).distinct().count())
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x as w1, w[i + 1] as w2))")
    big = (toks.filter(F.size("w") > 1)
           .select("doc_id", F.explode(pairs).alias("p"))
           .select("doc_id", C("p.w1").alias("w1"), C("p.w2").alias("w2")))
    dc = big.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("dn"))
    bc = dc.groupBy("w1", "w2").agg(F.sum("dn").alias("c"))
    uc = bc.groupBy("w1").agg(F.sum("c").alias("cu"))
    ln4 = F.round(F.ln((C("c") + 1.0) / (C("cu") + F.lit(vocab)))
                  * 10000, 0).cast("bigint")
    return (
        dc.join(bc, ["w1", "w2"]).join(uc, "w1")
        .groupBy("doc_id")
        .agg(F.sum("dn").alias("n_bigrams"),
             (F.sum(C("dn") * ln4).cast("double") / -10000.0)
             .alias("nll_total"),
             F.round(F.sum(C("dn") * ln4).cast("double") / -10000.0
                     / F.sum("dn"), 6).alias("avg_nll"))
    )


_PPL_HOLDOUT_SQL = r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
        FROM documents
    ), train AS (
        SELECT * FROM toks WHERE doc_id % 50 <> 0
    ), v AS (
        SELECT COUNT(DISTINCT u) AS vocab
        FROM (SELECT unnest(w) AS u FROM train)
    ), tb AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c
        FROM (SELECT unnest(list_transform(range(1, len(w)),
                     i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS p
              FROM train WHERE len(w) > 1),
             LATERAL (SELECT p.w1 AS w1, p.w2 AS w2)
        GROUP BY 1, 2
    ), tu AS (
        SELECT w1, SUM(c) AS cu FROM tb GROUP BY 1
    ), hd AS (
        SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS dn
        FROM (SELECT doc_id,
                     unnest(list_transform(range(1, len(w)),
                            i -> struct_pack(w1 := w[i], w2 := w[i + 1]))) AS p
              FROM toks WHERE doc_id % 50 = 0 AND len(w) > 1),
             LATERAL (SELECT p.w1 AS w1, p.w2 AS w2)
        GROUP BY 1, 2, 3
    )
    SELECT h.doc_id,
           CAST(SUM(h.dn) AS BIGINT) AS n_bigrams,
           CAST(SUM(h.dn * CASE WHEN tu.cu IS NULL
                     THEN CAST(ROUND(LN(1.0 / v.vocab) * 10000, 0) AS BIGINT)
                     ELSE CAST(ROUND(LN((COALESCE(tb.c, 0) + 1.0)
                                        / (tu.cu + v.vocab))
                               * 10000, 0) AS BIGINT) END)
                AS DOUBLE) / -10000.0                      AS nll_total,
           ROUND(CAST(SUM(h.dn * CASE WHEN tu.cu IS NULL
                     THEN CAST(ROUND(LN(1.0 / v.vocab) * 10000, 0) AS BIGINT)
                     ELSE CAST(ROUND(LN((COALESCE(tb.c, 0) + 1.0)
                                        / (tu.cu + v.vocab))
                               * 10000, 0) AS BIGINT) END)
                 AS DOUBLE) / -10000.0 / SUM(h.dn), 6)     AS avg_nll
    FROM hd h
    LEFT JOIN tb ON tb.w1 = h.w1 AND tb.w2 = h.w2
    LEFT JOIN tu ON tu.w1 = h.w1
    CROSS JOIN v
    GROUP BY 1
"""


@op("ext_lm_score_holdout", oracle=_PPL_HOLDOUT_SQL)
def ext_lm_score_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out perplexity: the bigram LM trains on doc_id % 50 != 0 and
    scores the held-out 1/50 — the real train/test deployment of
    ext_lm_perplexity (score a NEW crawl against a frozen reference LM).
    Smoothing for unseen events via LEFT JOIN + COALESCE: unseen pair with
    seen prefix → (0+1)/(U+V); unseen prefix → 1/V. Same fixed-point
    log-space sums as the self-score op, so hash-exact across engines.

    Shape at scale: the frozen LM tables (tb, tu) are exactly the
    "bucketed stats tables" the rare-bigrams docstring names — built once
    per reference corpus, reused for every incoming batch; the held-out
    side joins against them without ever shuffling the reference corpus
    again.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", textnorm.words(C("text")).alias("w"))
    train = toks.filter(C("doc_id") % 50 != 0)
    vocab = train.select(F.explode("w").alias("u")).distinct().count()
    pairs = F.expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> struct(x as w1, w[i + 1] as w2))")

    def bigrams(df):
        return (df.filter(F.size("w") > 1)
                .select("doc_id", F.explode(pairs).alias("p"))
                .select("doc_id", C("p.w1").alias("w1"),
                        C("p.w2").alias("w2")))

    tb = bigrams(train).groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    tu = tb.groupBy("w1").agg(F.sum("c").alias("cu"))
    hd = (bigrams(toks.filter(C("doc_id") % 50 == 0))
          .groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("dn")))
    ln_seen = F.round(F.ln((F.coalesce(C("c"), F.lit(0)) + 1.0)
                           / (C("cu") + F.lit(vocab))) * 10000, 0) \
        .cast("bigint")
    ln_oov = F.round(F.ln(1.0 / F.lit(vocab)) * 10000, 0).cast("bigint")
    term = F.when(C("cu").isNull(), ln_oov).otherwise(ln_seen)
    return (
        hd.join(tb, ["w1", "w2"], "left").join(tu, "w1", "left")
        .groupBy("doc_id")
        .agg(F.sum("dn").alias("n_bigrams"),
             (F.sum(C("dn") * term).cast("double") / -10000.0)
             .alias("nll_total"),
             F.round(F.sum(C("dn") * term).cast("double") / -10000.0
                     / F.sum("dn"), 6).alias("avg_nll"))
    )


_PROFILE_COLS = ("l_quantity", "l_extendedprice", "l_discount")


@op("ext_data_profile", oracle=" UNION ALL ".join(f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT)                    AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT)       AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT)         AS n_distinct,
           MIN({c})                                    AS min_v,
           MAX({c})                                    AS max_v,
           {o_sum(c)}                                AS sum_v
    FROM lineitem""" for c in _PROFILE_COLS))
def ext_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling pass (the data-quality report every pipeline runs
    on landing a table): per-column row/null/distinct counts, min/max,
    exact sum — ONE scan for all columns (a single aggregate computes
    every statistic; the per-column rows are unpivoted from the 1-row
    aggregate with a cheap stack, not one scan per column — at 100 TB the
    difference is len(columns) full-table passes). Sums ride the
    cents-integer trick so both engines aggregate exactly in any order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(C(c)).alias(f"{c}__dist"),
            F.min(c).alias(f"{c}__min"),
            F.max(c).alias(f"{c}__max"),
            (F.sum(F.round(C(c) * 100, 0).cast("bigint")).cast("double")
             / 100.0).alias(f"{c}__sum"),
        ]
    one = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__dist, {c}__min, {c}__max, {c}__sum"
        for c in _PROFILE_COLS)
    return one.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {stack}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_v, max_v, sum_v)")


# --- distribution drift (PSI) ----------------------------------------
PSI_LO = 0.0
PSI_WIDTH = 50_000.0   # o_totalprice spans [~1e3, 5e5) → 10 bins
PSI_BINS = 10


@op("ext_drift_psi", oracle=f"""
    WITH binned AS (
        SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - {PSI_LO})
                                         / {PSI_WIDTH}) AS INT), 0),
                     {PSI_BINS - 1}) AS bin,
               o_orderkey % 2 = 0 AS is_ref
        FROM orders
    ),
    cnt AS (
        SELECT bin,
               CAST(SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ref,
               CAST(SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_cur
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT SUM(n_ref) AS t_ref, SUM(n_cur) AS t_cur FROM cnt
    )
    SELECT bin, n_ref, n_cur,
           FLOOR((((n_cur + 1) / (t_cur + {PSI_BINS}.0)
                   - (n_ref + 1) / (t_ref + {PSI_BINS}.0))
                  * LN(((n_cur + 1) / (t_cur + {PSI_BINS}.0))
                       / ((n_ref + 1) / (t_ref + {PSI_BINS}.0))))
                 * 1e6 + 1e-3) / 1e6 AS psi_term
    FROM cnt, tot
    ORDER BY bin
""")
def ext_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection via the Population Stability Index —
    the standard production gate for "did this feature's distribution
    move between the reference window and the current one" (PSI > 0.2 =
    retrain/alert). Reference vs current stand-in: even vs odd order
    keys (two interleaved samples of the same distribution, so the
    fixture's PSI is near zero — a shifted window would light up).

    One binned hash-aggregate over the fact table (the q_histogram
    shape: bins are fixed constants, ≤{PSI_BINS} rows cross the final
    exchange) + a 1-row totals broadcast. Laplace smoothing (+1 per
    bin) keeps empty bins finite. Determinism: bin assignment and the
    smoothed shares are exact IEEE ops; the single LN per bin is the
    one transcendental — engines may differ in its last ulp, which the
    6dp floor-truncation's scaled epsilon absorbs (functions.vector
    trunc6)."""
    orders = load_table(spark, sf_dir, "orders")
    bin_col = F.least(
        F.greatest(F.floor((C("o_totalprice") - PSI_LO) / PSI_WIDTH)
                   .cast("int"), F.lit(0)),
        F.lit(PSI_BINS - 1))
    cnt = (orders
           .select(bin_col.alias("bin"),
                   (C("o_orderkey") % 2 == 0).alias("is_ref"))
           .groupBy("bin")
           .agg(F.sum(F.when(C("is_ref"), 1).otherwise(0)).cast("bigint")
                .alias("n_ref"),
                F.sum(F.when(C("is_ref"), 0).otherwise(1)).cast("bigint")
                .alias("n_cur")))
    tot = cnt.agg(F.sum("n_ref").alias("t_ref"),
                  F.sum("n_cur").alias("t_cur"))
    p_ref = (C("n_ref") + 1) / (C("t_ref") + float(PSI_BINS))
    p_cur = (C("n_cur") + 1) / (C("t_cur") + float(PSI_BINS))
    psi = (p_cur - p_ref) * F.log(p_cur / p_ref)
    return (cnt.crossJoin(F.broadcast(tot))
            .select("bin", "n_ref", "n_cur",
                    trunc6(psi).alias("psi_term"))
            .orderBy("bin"))
