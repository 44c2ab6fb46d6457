"""Training-data preparation operators: PII redaction and document
chunking — the two per-row transforms every LLM data pipeline runs between
dedup and tokenization. Both pure Catalyst (regexp/array built-ins), both
oracle-checked; at 100 TB they are map-only passes fused into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.helpers import o_sum
from ..functions.vector import trunc6
from ..registry import op
from . import textnorm

C = F.col

# Portable (Java regex ∩ RE2) PII patterns — keep them free of lookarounds.
EMAIL_PAT = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_PAT = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4,10}"


def redact(text: Column) -> Column:
    """Mask emails then phones (order matters: emails can contain digits)."""
    step1 = F.regexp_replace(text, EMAIL_PAT, "<EMAIL>")
    return F.regexp_replace(step1, PHONE_PAT, "<PHONE>")


def chunk_tokens(tokens: Column, size: int) -> Column:
    """Array of whitespace-token chunks of ``size`` (last one ragged)."""
    n_chunks = F.ceil(F.size(tokens) / F.lit(float(size))).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(tokens, i * size + 1, size)))


@op("ext_pii_redact", oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(salted, '{EMAIL_PAT}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(salted, '{PHONE_PAT}')) AS INT)
               AS n_phones,
           md5(regexp_replace(regexp_replace(salted, '{EMAIL_PAT}', '<EMAIL>', 'g'),
                              '{PHONE_PAT}', '<PHONE>', 'g')) AS redacted_md5
    FROM (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@example.com or +1-555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                    AS salted
        FROM documents
    )
""")
def ext_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents salted with one synthetic email+phone
    per row (the fixture corpus carries no real PII — the salt makes the
    redaction observable and exactly reproducible in the oracle)."""
    docs = load_table(spark, sf_dir, "documents")
    salted = F.concat(
        C("text"), F.lit(" contact user"), C("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        (F.lit(1000) + C("doc_id") % 9000).cast("string"),
    )
    d = docs.select("doc_id", salted.alias("salted"))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(C("salted"), F.lit(EMAIL_PAT), F.lit(0)))
        .alias("n_emails"),
        F.size(F.regexp_extract_all(C("salted"), F.lit(PHONE_PAT), F.lit(0)))
        .alias("n_phones"),
        F.md5(F.encode(redact(C("salted")), "utf-8")).alias("redacted_md5"),
    )


PACK_TOKENS = 512


@op("ext_pack_sequences", oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
        FROM documents
    ), ofs AS (
        SELECT doc_id, source, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS stream_offset
        FROM toks
    )
    SELECT doc_id, source, n_tokens, stream_offset,
           CAST(FLOOR(stream_offset / {PACK_TOKENS}.0) AS BIGINT) AS pack_id,
           FLOOR(stream_offset / {PACK_TOKENS}.0)
             <> FLOOR((stream_offset + n_tokens - 1) / {PACK_TOKENS}.0)
               AS crosses_boundary
    FROM ofs
""")
def ext_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document its offset in the
    concatenated per-source token stream and the {PACK_TOKENS}-token
    context window (pack) its first token lands in — the concat-and-split
    batching step between tokenization and training.

    Packing is per source, not global: a single global running sum would
    serialize through one partition, and training pipelines shard the
    stream anyway (per source/dump), so the window partitions by ``source``
    and orders by ``doc_id`` — each source packs independently and in
    parallel, one shuffle on the partition key. ``crosses_boundary`` marks
    documents split across two windows (the ones that need attention-mask
    resets downstream).
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.trim(C("text")), r"\s+")).cast("bigint")
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    d = docs.select("doc_id", "source", n_tokens.alias("n_tokens"))
    offset = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("bigint")
    d = d.withColumn("stream_offset", offset)
    pack = F.floor(C("stream_offset") / float(PACK_TOKENS))
    end_pack = F.floor((C("stream_offset") + C("n_tokens") - 1)
                       / float(PACK_TOKENS))
    return d.select(
        "doc_id", "source", "n_tokens", "stream_offset",
        pack.cast("bigint").alias("pack_id"),
        (pack != end_pack).alias("crosses_boundary"),
    )


CHUNK_SIZE = 16


@op("ext_docs_to_chunks", oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(g.i AS INT)                                       AS chunk_id,
           CAST(len(list_slice(t, g.i * {CHUNK_SIZE} + 1,
                               g.i * {CHUNK_SIZE} + {CHUNK_SIZE})) AS INT)
                                                                  AS n_tokens,
           md5(array_to_string(list_slice(t, g.i * {CHUNK_SIZE} + 1,
                               g.i * {CHUNK_SIZE} + {CHUNK_SIZE}), ' '))
                                                                  AS chunk_md5
    FROM toks, UNNEST(range(CAST(CEIL(len(t) / {CHUNK_SIZE}.0) AS BIGINT)))
         AS g(i)
""")
def ext_docs_to_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document → ⌈n/16⌉ fixed-size token
    chunks (UDTF shape: explode of a JVM-computed chunk array; one row in,
    many out, no Python, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(C("text")), r"\s+")
    chunks = chunk_tokens(toks, CHUNK_SIZE)
    exploded = docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
    return exploded.select(
        "doc_id",
        C("chunk_id").cast("int").alias("chunk_id"),
        F.size(F.split(C("chunk"), " ")).alias("n_tokens"),
        F.md5(F.encode(C("chunk"), "utf-8")).alias("chunk_md5"),
    )


CHUNK_STRIDE = 8


@op("ext_chunk_overlap", oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(g.i AS INT)                                       AS chunk_id,
           CAST(len(list_slice(t, g.i * {CHUNK_STRIDE} + 1,
                               g.i * {CHUNK_STRIDE} + {CHUNK_SIZE})) AS INT)
                                                                  AS n_tokens,
           md5(array_to_string(list_slice(t, g.i * {CHUNK_STRIDE} + 1,
                               g.i * {CHUNK_STRIDE} + {CHUNK_SIZE}), ' '))
                                                                  AS chunk_md5
    FROM toks, UNNEST(range(CAST(CEIL(len(t) / {CHUNK_STRIDE}.0) AS BIGINT)))
         AS g(i)
""")
def ext_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping (sliding-window) chunking: CHUNK_SIZE-token windows
    every CHUNK_STRIDE tokens — the RAG-standard chunker where adjacent
    chunks share half their tokens so no semantic boundary is lost. Same
    UDTF shape as ext_docs_to_chunks (JVM slice array → explode; no
    Python, no shuffle); overlap multiplies output rows by
    size/stride = 2×, never the shuffle volume (there is none).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(C("text")), r"\s+")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_STRIDE))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(
            " ", F.slice(toks, i * CHUNK_STRIDE + 1, CHUNK_SIZE)))
    exploded = docs.select(
        "doc_id", F.posexplode(chunks).alias("chunk_id", "chunk"))
    return exploded.select(
        "doc_id",
        C("chunk_id").cast("int").alias("chunk_id"),
        F.size(F.split(C("chunk"), " ")).alias("n_tokens"),
        F.md5(F.encode(C("chunk"), "utf-8")).alias("chunk_md5"),
    )


from .text import QUALITY_SQL  # noqa: E402  (shared quality definition)

_CURATION_ORACLE = r"""
    WITH q AS (
        SELECT doc_id, lang, source, text
        FROM documents
        WHERE doc_id % 50 <> 0            -- eval holdout (as ext_decontaminate)
          AND {Q} >= 0.5
    ), ev_sh AS (
        SELECT DISTINCT
               unnest(list_distinct(list_transform(
                   range(1, GREATEST(len(w) - 7, 1) + 1),
                   i -> array_to_string(list_slice(w, i, i + 7), ' ')))) AS s
        FROM (SELECT string_split_regex(trim(regexp_replace(lower(text),
                  '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
              FROM documents WHERE doc_id % 50 = 0)
    ), contam AS (
        SELECT DISTINCT doc_id
        FROM (SELECT doc_id,
                     unnest(list_distinct(list_transform(
                         range(1, GREATEST(len(w) - 7, 1) + 1),
                         i -> array_to_string(list_slice(w, i, i + 7), ' ')))) AS s
              FROM (SELECT doc_id,
                           string_split_regex(trim(regexp_replace(lower(text),
                               '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
                    FROM q)) c
        JOIN ev_sh USING (s)
    ), surv AS (
        SELECT doc_id, lang, source, text
        FROM q
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
            ORDER BY doc_id) = 1
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(string_split_regex(trim(text), '\s+'))) AS BIGINT)
               AS total_tokens
    FROM surv
    GROUP BY lang, source
""".replace("{Q}", QUALITY_SQL)


def _curation_q_batches(it):
    """mapInArrow body for ext_curation_pipeline's quality branch:
    (doc_id, lang, source, text) batches in (eval holdout already cut in
    Catalyst, so the modulo filter stays on the scan side), quality
    survivors (doc_id, lang, source, fp, n_tokens) out. Value-identity
    with the Catalyst twin (_curation_q_jvm in tests/catalyst_twins.py),
    pinned by tests/test_curation_q_arrow.py incl. synthetic whitespace
    corners:

    - whitespace classes are textnorm.JAVA_WS, written out because
      RE2's \\s lacks \\x0b while java.util.regex's includes it — the
      explicit class sidesteps the semantic gap on ANY input, not just
      the ASCII-pinned fixture;
    - n_words = (whitespace runs in the space-trimmed text) + 1, which
      equals size(split(trim(text), \\s+)) for EVERY string including ''
      (Java split('') is ['']: 0 runs + 1 = 1) — so n_tokens IS n_words
      and both come from one RE2 count;
    - n_punct deletes the same explicit [A-Za-z0-9 + ws] class that
      translate() deletes, then counts codepoints;
    - the quality double tree runs in the identical left-to-right IEEE
      order as quality_expr; the one divergence (0-char docs: 0/0 →
      Spark least(NaN, 1.0) = 1.0, numpy minimum = NaN) is patched
      explicitly — either way those docs score < 0.5 and drop;
    - fp = textnorm.fingerprint_arrow (the twin's textnorm.fingerprint)
      on the RAW survivor text, so a null text keeps a null fp.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = pa.schema([
        pa.field("doc_id", pa.int64()),
        pa.field("lang", pa.string()),
        pa.field("source", pa.string()),
        pa.field("fp", pa.string()),
        pa.field("n_tokens", pa.int64()),
    ])
    for batch in it:
        raw = batch.column("text")
        isnull = (pc.is_null(raw).to_numpy(zero_copy_only=False)
                  if raw.null_count else None)
        text = pc.fill_null(raw, "") if raw.null_count else raw
        nchars = (pc.utf8_length(text)
                  .to_numpy(zero_copy_only=False).astype(np.float64))
        trimmed = pc.utf8_trim(text, " ")  # SQL trim: spaces only
        runs = (pc.count_substring_regex(trimmed, textnorm.JAVA_WS_RUN)
                .to_numpy(zero_copy_only=False).astype(np.int64))
        nw = runs + 1
        npunct = (pc.utf8_length(pc.replace_substring_regex(
            text, pattern=f"[A-Za-z0-9{textnorm.JAVA_WS}]+", replacement=""))
            .to_numpy(zero_copy_only=False).astype(np.float64))
        nwd = nw.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            pr = npunct / nchars
        pr = np.minimum(pr, 1.0)
        pr[np.isnan(pr)] = 1.0  # Spark least(NaN, 1.0) == 1.0
        q = 0.4 * np.minimum(nwd / 100.0, 1.0)
        q = q + 0.3 * (1.0 - pr)
        q = q + 0.3 * np.minimum(nchars / nwd / 8.0, 1.0)
        if isnull is not None:
            # Spark least() SKIPS null operands: every component's null
            # term collapses to its 1.0 literal, so a null-text doc
            # scores exactly 0.4*1 + 0.3*(1-1) + 0.3*1 = 0.7 — a
            # SURVIVOR, with null fp and null n_tokens (md5/size of
            # null). Reproduced here; moot on the pinned lakes (no null
            # text) but bit-identical on any input.
            q[isnull] = 0.7
        keep = np.nonzero(q >= 0.5)[0]
        if not len(keep):
            continue
        take = pa.array(keep)
        ntok = pa.array(nw[keep], type=pa.int64(),
                        mask=None if isnull is None else isnull[keep])
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id").take(take).cast(pa.int64()),
             batch.column("lang").take(take),
             batch.column("source").take(take),
             textnorm.fingerprint_arrow(raw.take(take)),
             ntok],
            schema=out_schema)


@op("ext_curation_pipeline", oracle=_CURATION_ORACLE)
def ext_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed curation pipeline in one plan: quality filter →
    benchmark decontamination (drop docs sharing an 8-word shingle with
    the eval holdout) → exact dedup (canonical survivor per content
    fingerprint) → per-(lang, source) corpus report. Each stage is an
    already-verified operator family; this op verifies their COMPOSITION
    end-to-end against one oracle query.

    Shape at scale (the real point): shingling — by far the dominant
    per-row cost — runs once per side in the codegen-resident exploded
    form (dedup.shingles_exploded; the per-doc HOF array form measured 5×
    slower, and an early draft that fed one shingled subtree to two
    consumers paid Spark's subtree recomputation for a 13× total
    regression). The contamination id-set comes from one broadcast
    semi-probe over the exploded shingles (corpus side never shuffles for
    it); the light per-doc projection (quality/fp/token count) anti-joins
    that id set, the fingerprint-dedup window runs over the survivors, and
    the final group-by is dim-sized. Decontaminate-before-dedup keeps the
    dataflow linear; at 100 TB a real deployment would alternatively
    checkpoint the survivor set to parquet between stages.

    Counts/sums are integers (exact); the quality threshold compares the
    identical double expression both engines compute (text.QUALITY_SQL).
    """
    from .dedup import shingles_exploded

    docs = load_table(spark, sf_dir, "documents")
    # Light per-doc projection: text is reduced to fp + token count in
    # ONE mapInArrow pass (r12 session 2, guide §4.2 — the prep-Arrow
    # mechanism applied to the quality branch; bit-identical to
    # _curation_q_jvm, see _curation_q_batches for the step-by-step
    # equivalence and OPTIMIZATION_r12.md "ext_curation_pipeline quality
    # branch — one mapInArrow pass" for the A/B).
    q = (docs.filter(C("doc_id") % 50 != 0)
         .select("doc_id", "lang", "source", "text")
         .mapInArrow(_curation_q_batches,
                     "doc_id bigint, lang string, source string, "
                     "fp string, n_tokens bigint"))
    ev_sh = shingles_exploded(
        docs.filter(C("doc_id") % 50 == 0), "doc_id", "text", 8)
    # Contamination over ALL non-eval docs (a superset of q — same final
    # result after the anti join, and it avoids re-running the quality
    # regexes on the shingle branch).
    corpus_sh = shingles_exploded(
        docs.filter(C("doc_id") % 50 != 0), "doc_id", "text", 8)
    # No .distinct() on the contaminated-id stream: anti-join semantics
    # ignore duplicate probe rows, and the distinct was a full extra
    # shuffle+aggregate (measured: one whole AQE job) for nothing — the
    # anti join's build side dedups into its hash set for free.
    contam = (corpus_sh.join(F.broadcast(ev_sh.select("s")), "s")
              .select(C("id").alias("doc_id")))
    clean = q.join(contam, "doc_id", "left_anti")
    # Survivor per fingerprint as an aggregate, not a window: min_by gets
    # partial (map-side) combine, so the fp exchange carries one candidate
    # per (partition, fp) instead of every row, and no per-partition sort
    # runs. Same survivor (min doc_id), strictly better at 100 TB.
    surv = (clean.groupBy("fp")
            .agg(F.min_by(F.struct("lang", "source", "n_tokens"),
                          C("doc_id")).alias("s")))
    return (surv.groupBy(C("s.lang").alias("lang"),
                         C("s.source").alias("source"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_tokens").alias("total_tokens")))


@op("ext_dedup_passage", oracle=rf"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
        FROM documents
    ), chunks AS (
        SELECT doc_id, CAST(g.i AS INT) AS chunk_id,
               array_to_string(list_slice(t, g.i * {CHUNK_SIZE} + 1,
                               g.i * {CHUNK_SIZE} + {CHUNK_SIZE}), ' ') AS chunk
        FROM toks, UNNEST(range(CAST(CEIL(len(t) / {CHUNK_SIZE}.0) AS BIGINT)))
             AS g(i)
    ), kept AS (
        SELECT doc_id, chunk_id, chunk
        FROM chunks
        QUALIFY ROW_NUMBER() OVER (PARTITION BY chunk
                                   ORDER BY doc_id, chunk_id) = 1
    )
    SELECT doc_id,
           CAST(COUNT(*) AS INT) AS n_kept,
           md5(string_agg(chunk, ' ' ORDER BY chunk_id)) AS kept_md5
    FROM kept
    GROUP BY doc_id
""")
def ext_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level exact dedup (the C4/RefinedWeb trick, at chunk
    granularity): explode every document into its {CHUNK_SIZE}-token
    passages, keep only the globally-first occurrence of each distinct
    passage (ordered by doc_id, then position), and reassemble each
    surviving document from its retained passages in original order.
    Documents whose every passage already appeared elsewhere vanish —
    document-level dedup falls out as the degenerate case.

    Shape at scale: one shuffle on the passage text (the dedup window —
    at 100 TB hash the passage first so the shuffle key is 16 bytes, not
    the text; md5 on the exploded form here), one shuffle back on doc_id
    for reassembly. Both are plain hash partitions over codegen'd rows;
    nothing driver-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    return passage_dedup(docs, "doc_id", "text")


def passage_dedup(df: DataFrame, id_col: str, text_col: str,
                  chunk_size: int = CHUNK_SIZE) -> DataFrame:
    """The reusable core of ext_dedup_passage (see its docstring)."""
    toks = F.split(F.trim(C(text_col)), r"\s+")
    exploded = df.select(
        id_col, F.posexplode(chunk_tokens(toks, chunk_size))
        .alias("chunk_id", "chunk"))
    w = Window.partitionBy("chunk").orderBy(id_col, "chunk_id")
    kept = (exploded.withColumn("rn", F.row_number().over(w))
            .filter(C("rn") == 1))
    ordered = F.array_sort(F.collect_list(F.struct("chunk_id", "chunk")))
    reassembled = F.concat_ws(
        " ", F.transform(ordered, lambda s: s["chunk"]))
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("int").alias("n_kept"),
        F.md5(F.encode(reassembled, "utf-8")).alias("kept_md5"),
    )


@op("ext_pseudonymize", oracle=f"""
    SELECT md5('uid:' || CAST(user_id AS VARCHAR)) AS user_pseudo,
           CAST(CAST(DATE_TRUNC('day', ts) AS DATE) AS VARCHAR) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT)                AS n_events,
           {o_sum('value')}                        AS total_value
    FROM events
    GROUP BY 1, 2, 3
""")
def ext_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-preserving export: keyed pseudonymization (prefixed md5 of
    the user id — same user → same pseudonym, so joins/cohorts still
    work) plus temporal coarsening (timestamps → day) — the standard
    anonymized-share shape (GDPR-style pseudonymisation + generalisation)
    for handing event data to analysts or external partners.

    The fixed public 'uid:' prefix is a STAND-IN demonstrating the
    keyed-hash shape, not a privacy guarantee: with a known prefix and a
    small, enumerable id domain every pseudonym is reversible by brute-
    forcing md5('uid:'||id). Real deployments must draw a high-entropy
    secret salt from a secret store (and even then, small-domain
    enumeration remains the threat model a keyed hash — HMAC with a
    secret key — is needed to defeat). Fixed here so the op is
    oracle-checkable. Map-only hashing + one aggregate shuffle on the
    coarsened key.
    """
    from ..catalog import events_with_ts

    ev = events_with_ts(spark, sf_dir)
    pseudo = F.md5(F.concat(F.lit("uid:"), C("user_id").cast("string")))
    return (ev.groupBy(pseudo.alias("user_pseudo"),
                       F.date_trunc("day", C("ts_us")).cast("date")
                       .cast("string").alias("day"),
                       "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(F.round(C("value") * 100, 0).cast("bigint"))
                  .cast("double") / 100.0).alias("total_value")))


def _prep_kept_batches(it):
    """mapInArrow body for ext_training_prep_pipeline's scored→kept
    front-end: (doc_id, text) batches in, (doc_id, n_tokens, fp) batches
    of the quality survivors out. Value-identity with the Catalyst form
    (_prep_kept_jvm in tests/catalyst_twins.py), step by step:

    - normalize: textnorm.words_arrow (the twin's textnorm.words). RE2
      is the SAME regex engine the DuckDB oracle runs (regexp_replace
      'g'), and the forms agree under textnorm's ASCII contract.
    - word bucket (textnorm.word_bucket_py) per DISTINCT word through
      textnorm.per_distinct, not per token: md5 is pure, so hashing each
      distinct word once and fanning out through the dictionary indices
      is value-identical — and on any Zipfian corpus the per-batch
      dictionary is tiny relative to the token stream. The per-task
      memo carries buckets across batches (cleared at
      textnorm.MEMO_CAP entries).
    - score = (sum_bigint.as_double / n - 500.0) / 500.0 in the same
      left-to-right IEEE order as textnorm.hashed_word_score →
      bit-identical.
    - fp = textnorm.fingerprint_arrow (the twin's textnorm.fingerprint)
      for survivors only.

    Bit-identity is pinned by tests/test_prep_arrow.py (full kept-set
    equality vs _prep_kept_jvm) and was asserted at sf0.1 AND sf10
    (472,100 rows) before shipping (OPTIMIZATION_r12.md
    "ext_training_prep_pipeline — Arrow scored→kept front-end")."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    hash_distinct = textnorm.per_distinct(textnorm.word_bucket_py)
    out_schema = pa.schema([
        pa.field("doc_id", pa.int64()),
        pa.field("n_tokens", pa.int64()),
        pa.field("fp", pa.string()),
    ])
    for batch in it:
        doc_id = batch.column("doc_id")
        text = batch.column("text")
        if text.null_count:
            # Spark: size(split(null)) is null → dropped by the filter;
            # '' gives n=0 → dropped here the same way.
            text = pc.fill_null(text, "")
        trimmed, words = textnorm.words_arrow(text)
        lengths = pc.list_value_length(words).to_numpy(
            zero_copy_only=False).astype(np.int64)
        flat = pc.list_flatten(words)
        idx, buckets = hash_distinct(flat)
        dbuck = np.array(buckets, dtype=np.int64)
        tok = dbuck[idx] if len(idx) else np.zeros(0, dtype=np.int64)
        cs = np.concatenate(([0], np.cumsum(tok)))
        ends = np.cumsum(lengths)
        sums = cs[ends] - cs[ends - lengths]
        n = lengths.copy()
        # Whole-empty docs: split('') yields [''] (length 1); the JVM
        # filter(w != '') makes n 0 there. Mid-list '' tokens cannot occur.
        empty = pc.equal(trimmed, "").to_numpy(zero_copy_only=False)
        n[empty] = 0
        sums[empty] = 0
        with np.errstate(divide="ignore", invalid="ignore"):
            score = (sums.astype(np.float64) / n - 500.0) / 500.0
        keep = np.nonzero((score >= -0.04) & (n >= 10))[0]
        if not len(keep):
            continue
        take = pa.array(keep)
        yield pa.RecordBatch.from_arrays(
            [doc_id.take(take).cast(pa.int64()),
             pa.array(n[keep], type=pa.int64()),
             textnorm.fingerprint_arrow(text.take(take))],
            schema=out_schema)


@op("ext_training_prep_pipeline", oracle=r"""
    WITH toks AS (
        SELECT doc_id, text,
               list_filter(string_split_regex(trim(regexp_replace(
                   lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'),
                   w -> w <> '') AS words
        FROM documents
    ), scored AS (
        SELECT doc_id, text,
               CAST(len(words) AS BIGINT) AS n_tokens,
               (CAST(list_sum(list_transform(words,
                   w -> list_reduce(list_transform(string_split(substring(
                            md5(w), 1, 8), ''),
                            c -> CAST(strpos('0123456789abcdef', c) - 1
                                      AS BIGINT)),
                        (a, b) -> a * 16 + b) % 1001)) AS DOUBLE)
                / NULLIF(len(words), 0) - 500.0) / 500.0 AS score
        FROM toks
    ), kept AS (
        SELECT doc_id, text, n_tokens FROM scored
        WHERE score >= -0.04 AND n_tokens >= 10
    ), dedup AS (
        SELECT doc_id, n_tokens FROM kept
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
            ORDER BY doc_id) = 1
    )
    SELECT CAST(list_reduce(list_transform(string_split(substring(md5(
               CAST(doc_id AS VARCHAR)), 1, 8), ''),
               c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
               (a, b) -> a * 16 + b) % 16 AS INT) AS shard,
           CAST(COUNT(*) AS BIGINT)       AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT)  AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT)    AS min_doc
    FROM dedup
    GROUP BY 1
""")
def ext_training_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data prep composed from the round-4 ops:
    model-based quality filter (hashing-trick classifier score + length
    floor) → exact dedup (min-doc_id survivor per content fingerprint) →
    deterministic shard assignment → per-shard manifest stats. The whole
    composition is ONE oracle query, so the driver hash-checks the
    pipeline — not just its stages.

    Plan: classifier + fingerprint are map-only on the scan — since r12
    via ONE mapInArrow pass (_prep_kept_batches; guide §4.2): the
    per-word md5 score fold, which the r11 decomposition measured at
    ~70% of the op's sf10 wall, hashes each DISTINCT word per Arrow
    batch (dictionary_encode) instead of every token, and the normalize
    regexes run through RE2 — the same engine the oracle itself uses.
    Output stays bit-identical to the Catalyst form (_prep_kept_jvm;
    row-for-row equality pinned by tests/test_prep_arrow.py and asserted
    on 472,100 sf10 rows (OPTIMIZATION_r12.md) — interleaved
    A/B: sf10 32.2 → 7.31 s, sf0.1 0.64 → 0.39 s; this supersedes the
    r11 unmeasured guide-§4.2 assumption that Python dispatch would eat
    the win). Only (doc_id, text) crosses into Python and only
    (doc_id, n_tokens, fp) comes back — the document text never crosses
    an exchange, exactly as before.

    Dedup is the one corpus shuffle — a min_by AGGREGATE on the
    fingerprint (same survivor as the old row_number window: min
    doc_id), map-side combined, carrying only (fp, doc_id, n_tokens).
    The shard stats aggregate is map-side combined. Threshold -0.04
    sits just below the score distribution's center so the filter
    genuinely drops docs at every SF (a 0-survivor or all-survivor
    pipeline would make the check vacuous).
    """
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    kept = docs.select("doc_id", "text").mapInArrow(
        _prep_kept_batches, "doc_id bigint, n_tokens bigint, fp string")
    surv = (kept.groupBy("fp")
            .agg(F.min_by(F.struct("doc_id", "n_tokens"), C("doc_id"))
                 .alias("s")))
    return (surv.groupBy(hash_bucket(C("s.doc_id"), 16).alias("shard"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("s.n_tokens").cast("bigint").alias("total_tokens"),
                 F.min("s.doc_id").alias("min_doc")))


K_ANON = 10


@op("ext_k_anonymity", oracle=f"""
    SELECT c_nationkey, c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS group_n,
           1.0 / COUNT(*) AS reident_risk
    FROM customer
    GROUP BY c_nationkey, c_mktsegment
    HAVING COUNT(*) < {K_ANON}
""")
def ext_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the third privacy op (redaction:
    ext_pii_redact, key protection: ext_pseudonymize, re-identification
    risk: this). A released table is k-anonymous over its
    quasi-identifiers iff every QI combination covers ≥ k rows; smaller
    groups are re-identification risks and must be suppressed or
    generalized before release. Audits customer over
    (c_nationkey, c_mktsegment) at k={K_ANON}: one row per VIOLATING
    group with its size and re-identification risk 1/n (an exact
    int-reciprocal, cross-engine identical). 35 of 125 groups flag at
    sf0.01 — the gate demonstrably bites.

    Scale shape: one hash-groupBy on the QI tuple with map-side partial
    counts + a HAVING filter — the ext_dedup_exact shape; output is
    bounded by the QI-combination count, not the table."""
    cust = load_table(spark, sf_dir, "customer")
    return (cust.groupBy("c_nationkey", "c_mktsegment")
            .agg(F.count(F.lit(1)).cast("bigint").alias("group_n"))
            .filter(C("group_n") < K_ANON)
            .select("c_nationkey", "c_mktsegment", "group_n",
                    (F.lit(1.0) / C("group_n")).alias("reident_risk")))


@op("ext_k_anonymity_enforce", oracle=f"""
    WITH base AS (
        SELECT c.c_custkey,
               CAST(c.c_nationkey AS VARCHAR) AS nat,
               c.c_mktsegment AS seg,
               'R' || CAST(n.n_regionkey AS VARCHAR) AS reg
        FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    ), l0 AS (
        SELECT *, COUNT(*) OVER (PARTITION BY nat, seg) AS n0 FROM base
    ), l1 AS (
        SELECT *, COUNT(*) OVER (PARTITION BY reg, seg) AS n1
        FROM l0 WHERE n0 < {K_ANON}
    ), l2 AS (
        SELECT *, COUNT(*) OVER (PARTITION BY reg) AS n2
        FROM l1 WHERE n1 < {K_ANON}
    ), released AS (
        SELECT nat AS qi_nation, seg AS qi_segment, 0 AS level
        FROM l0 WHERE n0 >= {K_ANON}
        UNION ALL
        SELECT reg, seg, 1 FROM l1 WHERE n1 >= {K_ANON}
        UNION ALL
        SELECT reg, '*', 2 FROM l2 WHERE n2 >= {K_ANON}
    ), groups AS (
        SELECT qi_nation, qi_segment, CAST(level AS INT) AS level,
               CAST(COUNT(*) AS BIGINT) AS group_n
        FROM released GROUP BY 1, 2, 3
        UNION ALL
        SELECT '*', '*', 3, CAST(COUNT(*) AS BIGINT)
        FROM l2 WHERE n2 < {K_ANON} HAVING COUNT(*) > 0
    )
    SELECT qi_nation, qi_segment, level, group_n,
           (level = 3 OR group_n >= {K_ANON}) AS satisfies_k
    FROM groups
""")
def ext_k_anonymity_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ENFORCEMENT (the production sibling of the
    ext_k_anonymity audit): rows whose quasi-identifier group is under
    k={K_ANON} are GENERALIZED up a fixed ladder until their group
    reaches k, and suppressed only when even the coarsest level fails —
    the classic Samarati/Sweeney domain-generalization scheme.

    Ladder (each row released at the LOWEST sufficient level):
      0. (nation, segment)      — exact QIs, groups already >= k;
      1. (region, segment)      — nation generalized to its region;
      2. (region, '*')          — segment fully generalized;
      3. suppressed             — emitted as one accounting row, never
                                  released.

    Output is one row per RELEASED group (qi values at their release
    granularity, ladder level, size) plus the suppression accounting
    row; ``satisfies_k`` is computed from the released size, so the
    DuckDB hash-compare PROVES every released group reaches k — the
    enforcement contract, asserted in the artifact itself. Σ group_n
    over all rows == corpus size (pytest-pinned total-partition
    invariant).

    Scale shape: three window counts over strictly SHRINKING remainders
    (level-1 input is only the level-0 violators — at sf0.01, 173 of
    1500 rows; real lakes shrink faster since exact-QI groups dominate),
    then one bounded aggregate. nation is a broadcast dim join. No
    all-pairs work anywhere; output is bounded by the generalization
    lattice size, not the table. k is a single module constant shared
    with the audit op ({K_ANON}).
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (cust.join(F.broadcast(nation.select("n_nationkey",
                                                "n_regionkey")),
                      C("c_nationkey") == C("n_nationkey"))
            .select(C("c_custkey"),
                    C("c_nationkey").cast("string").alias("nat"),
                    C("c_mktsegment").alias("seg"),
                    F.concat(F.lit("R"), C("n_regionkey").cast("string"))
                    .alias("reg")))
    l0 = base.withColumn(
        "n0", F.count(F.lit(1)).over(Window.partitionBy("nat", "seg")))
    l1 = (l0.filter(C("n0") < K_ANON).withColumn(
        "n1", F.count(F.lit(1)).over(Window.partitionBy("reg", "seg"))))
    l2 = (l1.filter(C("n1") < K_ANON).withColumn(
        "n2", F.count(F.lit(1)).over(Window.partitionBy("reg"))))
    released = (
        l0.filter(C("n0") >= K_ANON)
        .select(C("nat").alias("qi_nation"), C("seg").alias("qi_segment"),
                F.lit(0).alias("level"))
        .unionByName(l1.filter(C("n1") >= K_ANON)
                     .select(C("reg").alias("qi_nation"),
                             C("seg").alias("qi_segment"),
                             F.lit(1).alias("level")))
        .unionByName(l2.filter(C("n2") >= K_ANON)
                     .select(C("reg").alias("qi_nation"),
                             F.lit("*").alias("qi_segment"),
                             F.lit(2).alias("level"))))
    groups = (released.groupBy("qi_nation", "qi_segment",
                               C("level").cast("int").alias("level"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("group_n")))
    suppressed = (l2.filter(C("n2") < K_ANON)
                  .agg(F.count(F.lit(1)).cast("bigint").alias("group_n"))
                  .filter(C("group_n") > 0)
                  .select(F.lit("*").alias("qi_nation"),
                          F.lit("*").alias("qi_segment"),
                          F.lit(3).cast("int").alias("level"),
                          "group_n"))
    return (groups.unionByName(suppressed)
            .select("qi_nation", "qi_segment", "level", "group_n",
                    ((C("level") == 3) | (C("group_n") >= K_ANON))
                    .alias("satisfies_k")))


# --- Differential privacy (the fourth privacy op: redact → pseudonymize
# → k-anonymity → DP release). Noise must be REPRODUCIBLE to be
# hash-checkable, so the Laplace draw is pseudorandom from the group key
# itself: u = md5(key)-derived uniform in (−0.5, 0.5), noise =
# −b·sign(u)·ln(1−2|u|) — the standard inverse-CDF Laplace transform
# with scale b = sensitivity/ε.
#
# WHAT THESE OPS VERIFY — and what they do not. The released values here
# are NOT private: the noise is a deterministic function of the public
# group key (so it is reused identically across releases of neighboring
# datasets, which breaks the DP guarantee), and the exact n_true /
# sum_clipped are emitted alongside the release for the oracle. These ops
# verify the MECHANISM SHAPE — sensitivity accounting, noise scale,
# clipping, single-aggregate plan — end-to-end against a second engine.
# A real ε-DP release must (a) draw fresh cryptographic randomness per
# release (key-seeded noise, even secret-salted, is NOT sufficient), and
# (b) emit ONLY the noisy values, dropping n_true / sum_clipped.
DP_EPSILON = 1.0  # per-release budget; sensitivity = 1 (one row → one group)

_DP_DENOM = float(16 ** 12)  # 12 md5 hex chars → 48-bit uniform


@op("ext_dp_histogram", oracle=f"""
    WITH g AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_true
        FROM documents GROUP BY lang, source
    ), u AS (
        SELECT lang, source, n_true,
               (CAST(('0x' || substring(md5(COALESCE(lang, '') || '|'
                                            || COALESCE(source, '')), 1, 12))
                     AS BIGINT) + 0.5) / {_DP_DENOM} - 0.5 AS uu
        FROM g
    )
    SELECT lang, source, n_true,
           FLOOR((n_true + (-(1.0 / {DP_EPSILON}) * SIGN(uu)
                            * LN(1.0 - 2.0 * ABS(uu)))) * 1e6 + 1e-3) / 1e6
               AS n_noisy
    FROM u
""")
def ext_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace-histogram MECHANISM of documents by (lang, source) — the
    shape of an ε-DP count release, verified cross-engine; NOT itself a
    private release (see the module note above: deterministic key-seeded
    noise + exact n_true in the output). Exact per-group counts plus the
    Laplace(1/ε)-noised counts, ε = DP_EPSILON = 1.0, sensitivity 1 (each
    document lands in exactly one group, so neighboring datasets differ
    by ±1 in one count).

    The noise is the inverse-CDF Laplace transform of a 48-bit uniform
    derived from md5(group key) — deterministic, so the DuckDB twin
    recomputes the identical draw and the release values hash-check
    end-to-end (the +0.5 on the integer keeps u strictly inside
    (−0.5, 0.5), so ln never sees 0). Values are display-truncated to
    6dp (functions.vector trunc6) to absorb last-ulp libm ln() differences.

    Scale shape: ONE map-side-combined hash aggregate; the noise is a
    per-group scalar expression on the (bounded, group-count-sized)
    aggregate output — cost is invariant in corpus size beyond the scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    g = (docs.groupBy("lang", "source")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_true")))
    # NULL keys normalize to '' on BOTH engines: concat_ws would silently
    # skip a NULL (giving (NULL,'x') and ('x',NULL) identical seeds) while
    # the oracle's || would propagate NULL into the whole draw.
    key = F.concat_ws("|", F.coalesce(C("lang"), F.lit("")),
                      F.coalesce(C("source"), F.lit("")))
    uu = ((textnorm.md5_int(key, 12) + F.lit(0.5)) / F.lit(_DP_DENOM)
          - F.lit(0.5))
    noise = (F.lit(-1.0 / DP_EPSILON) * F.signum(uu)
             * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(uu)))
    return g.select(
        "lang", "source", "n_true",
        trunc6(C("n_true") + noise).alias("n_noisy"))


# DP numeric release: the clipped-sum mechanism. Clipping each order's
# contribution at DP_CLIP bounds the sensitivity of the SUM at DP_CLIP
# (and of the COUNT at 1), which is what makes a finite noise scale
# possible at all — the canonical companion to the count histogram.
DP_CLIP = 300_000.0  # o_totalprice clip; ~60th pct of the fixture range

_DP_MEAN_ORACLE = f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n_true,
               {o_sum(f'LEAST(o_totalprice, {DP_CLIP})')} AS sum_clipped
        FROM orders GROUP BY o_orderpriority
    ), u AS (
        SELECT o_orderpriority, n_true, sum_clipped,
               (CAST(('0x' || substring(md5('sum|' || o_orderpriority), 1, 12))
                     AS BIGINT) + 0.5) / {_DP_DENOM} - 0.5 AS us,
               (CAST(('0x' || substring(md5('cnt|' || o_orderpriority), 1, 12))
                     AS BIGINT) + 0.5) / {_DP_DENOM} - 0.5 AS uc
        FROM g
    )
    SELECT o_orderpriority, n_true, sum_clipped,
           FLOOR(((sum_clipped + (-(2.0 * {DP_CLIP} / {DP_EPSILON})
                                  * SIGN(us) * LN(1.0 - 2.0 * ABS(us))))
                  / GREATEST(1.0, n_true + (-(2.0 / {DP_EPSILON}) * SIGN(uc)
                                            * LN(1.0 - 2.0 * ABS(uc)))))
                 * 1e6 + 1e-3) / 1e6 AS dp_mean
    FROM u
"""


@op("ext_dp_mean", oracle=_DP_MEAN_ORACLE)
def ext_dp_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clipped-sum mean-release MECHANISM per order priority (the shape
    of an ε-DP mean; not itself private — see the module note above):
    contributions clipped at DP_CLIP (sum sensitivity DP_CLIP, count
    sensitivity 1), ε split evenly between the two Laplace draws
    (scales 2·DP_CLIP/ε and 2/ε), release = noisy_sum / noisy_count.

    Determinism: the clipped sum goes through exact integer cents
    (DECIMAL-style, order-independent — the money-sum contract), the
    two noise draws are md5-seeded inverse-CDF Laplace exactly as
    ext_dp_histogram (distinct 'sum|'/'cnt|' seed prefixes), and the
    release is one IEEE division truncated to 6dp — so the DuckDB twin
    recomputes the identical release values and they hash-check.
    Denominator floored at 1.0 on both engines (tiny-group sanity).

    Scale shape: one map-side-combined aggregate; clip + noise are
    scalar expressions. Output is group-count-sized."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.least(C("o_totalprice"), F.lit(DP_CLIP)) * 100, 0) \
        .cast("bigint")
    g = (orders.groupBy("o_orderpriority")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_true"),
              (F.sum(cents).cast("double") / F.lit(100.0))
              .alias("sum_clipped")))

    def lap(prefix: str, scale: float):
        u = ((textnorm.md5_int(F.concat(F.lit(prefix), C("o_orderpriority")),
                               12) + F.lit(0.5))
             / F.lit(_DP_DENOM) - F.lit(0.5))
        return (F.lit(-scale) * F.signum(u)
                * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u)))

    noisy_sum = C("sum_clipped") + lap("sum|", 2.0 * DP_CLIP / DP_EPSILON)
    noisy_cnt = F.greatest(F.lit(1.0),
                           C("n_true") + lap("cnt|", 2.0 / DP_EPSILON))
    return g.select(
        "o_orderpriority", "n_true", "sum_clipped",
        trunc6(noisy_sum / noisy_cnt).alias("dp_mean"))
