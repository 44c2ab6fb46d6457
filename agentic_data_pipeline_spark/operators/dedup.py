"""Deduplication family for training-data pipelines (SURVEY.md §2.5).

Four strategies, all shaped for 100 TB:

- exact: hash-groupBy on a content fingerprint. One shuffle on a
  well-distributed md5 key; the canonical-survivor choice (min doc_id) makes
  output deterministic.
- MinHash + LSH banding: shingle → k minhashes → band buckets → candidate
  pairs only within buckets → exact Jaccard verify. The signature math is
  pure Catalyst (xxhash64 over shingles — JVM, no Python), so the only
  shuffle is the band-bucket self-join, which is how the pair space stays
  sub-quadratic at scale.
- SimHash: token-hash bit-vote fingerprint; near-dup candidates share a
  band (4 bands ⇒ finds all pairs within Hamming distance 3).
- n-gram Jaccard: the exact verifier, exposed as its own operator.

Exact/ngram ops are DuckDB-oracle-checked. The production minhash/simhash
use engine hashes (xxhash64) DuckDB doesn't expose → rows-only checks plus
pytest invariants; ext_dedup_minhash_md5 is the AUDITABLE twin — the same
LSH construction over an md5 hash family both engines share, hash-green
end-to-end including candidate generation (reference has no dedup at all;
design follows the standard MinHash-LSH construction from Broder '97 /
MMDS ch.3).

Each hash family builds only its own signatures and band keys; everything
after that has one implementation shared by both families:

- ``_minhash_verify``: band collide → distinct pairs → shingle-set
  verify joins → Jaccard threshold (minhash_candidates,
  minhash_candidates_md5, and the admission ops through ``_admit``);
- ``_admit``: incoming-vs-existing admission decisions
  (ext_dedup_incremental_fuzzy and streaming_ops.stream_dedup_fuzzy);
- ``_simhash_table`` / ``_simhash_pairs``: bit-vote band table and
  band collide → Hamming verify (64-bit xxhash64 in 4×16, 60-bit md5
  in 4×15);
- ``_clusters``: verified pairs → connected components → one survivor
  row per cluster.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vector import near_dup_pairs
from ..registry import op
from ..session import pin
from . import textnorm

C = F.col

NUM_HASHES = 32          # minhash signature length
BANDS = 8                # 8 bands × 4 rows: catches pairs from J≈0.5 up
ROWS_PER_BAND = NUM_HASHES // BANDS


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct n-word shingles, JVM-side (transform over an index range)."""
    toks = textnorm.normalized_tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition UP to the session parallelism — only when
    the plan's partitioning is below it (guide §2.5 input-skew fix: a
    small-compressed single-file corpus scan yields 1-2 splits, and any
    heavy per-row consumer downstream — 32 md5s per shingle in the LSH
    constructions — then runs on 1-2 cores). At scale the scan already
    meets the parallelism floor and this adds NOTHING to the plan; the
    r8→r11 window shingle form was accidentally providing the same
    redistribution via its partitionBy(id) exchange, which is why the
    r12 Arrow generator regressed the sf0.1 LSH ops until this was put
    back deliberately (OPTIMIZATION_r12.md "dedup.shingles_exploded —
    Arrow per-doc shingle generator")."""
    from ..session import default_parallelism

    n = default_parallelism()
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


def _shingle_batches(n: int, id_col: str):
    """mapInArrow body factory for shingles_exploded: (id, text) batches
    in, distinct (id, s) shingle rows out — generated per DOC, inside
    one map pass, so neither the exploded token stream nor the shingle
    stream ever needs an exchange. Shingle strings are byte-identical to
    the JVM form's (textnorm.words_arrow == textnorm.words under the
    ASCII contract stated in textnorm; the element-wise ' ' join over
    the same token slices == concat_ws).
    Per-doc distinct is emitted sorted so task retries reproduce
    identical row order. A null id raises ValueError naming ``id_col``
    (the caller's column name, for the message only).

    Fully vectorized (guide §4.3 — no per-row Python); no Python string
    is built at all:

    - tokens: textnorm.words_arrow collapses every non-alnum run to ONE
      space, trims and splits on ' ', which IS the non-empty token list
      (a zero-token doc splits to [''], handled below);
    - window strings: the n columns of each window are shifted slices
      of the FLAT token array, joined by binary_join_element_wise (C++);
      a window at flat position j belongs to one doc iff
      doc_of[j] == doc_of[j+n-1] on the repeat-vector — cross-doc
      windows vanish with one vectorized compare;
    - short docs (1 ≤ tokens < n): their single shingle IS the trimmed
      doc string — reused, not rebuilt;
    - per-doc distinct+sort: dictionary_encode the candidates, rank the
      dictionary once with Arrow's C++ sort (byte order == Python
      codepoint order on the [a-z0-9 ] shingle alphabet), then
      np.unique over doc*K+rank keys — distinct AND (doc, string)-
      ordered in one C pass, decoded back via dictionary take.
    """
    def gen(it):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        schema = pa.schema([pa.field("id", pa.int64()),
                            pa.field("s", pa.string())])
        for batch in it:
            if batch.num_rows == 0:
                continue
            if batch.column("id").null_count:
                raise ValueError(
                    f"shingles_exploded: id column {id_col!r} contains "
                    "nulls; ids must be non-null and unique per row")
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            text = batch.column("text")
            if text.null_count:
                text = pc.fill_null(text, "")  # null text → zero tokens
            trimmed, words = textnorm.words_arrow(text)
            lens = (pc.list_value_length(words)
                    .to_numpy(zero_copy_only=False).astype(np.int64))
            # zero-token docs split as [''] (length 1): keep that slot in
            # the offsets (no window can span an L=1 doc for n ≥ 2, and
            # the ~empty guard below covers n == 1), exclude it from the
            # short-doc class
            empty = pc.equal(trimmed, "").to_numpy(zero_copy_only=False)
            flat = pc.list_flatten(words)
            total = len(flat)
            doc_of = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
            parts_s: list = []
            parts_doc: list = []
            if total >= n:
                m = total - n + 1
                cols = [flat.slice(k, m) for k in range(n)]
                joined = pc.binary_join_element_wise(*cols, " ")
                head = doc_of[:m]
                valid = np.nonzero((head == doc_of[n - 1:])
                                   & ~empty[head])[0]
                if len(valid):
                    parts_s.append(joined.take(pa.array(valid)))
                    parts_doc.append(doc_of[valid])
            short = np.nonzero(~empty & (lens < n))[0]
            if len(short):
                parts_s.append(trimmed.take(pa.array(short)))
                parts_doc.append(short)
            if not parts_s:
                continue
            cand = (parts_s[0] if len(parts_s) == 1
                    else pa.concat_arrays(parts_s))
            doc_all = (parts_doc[0] if len(parts_doc) == 1
                       else np.concatenate(parts_doc))
            enc = cand.dictionary_encode()
            codes = (enc.indices.to_numpy(zero_copy_only=False)
                     .astype(np.int64))
            dic = enc.dictionary
            k = len(dic)
            order = (pc.array_sort_indices(dic)
                     .to_numpy(zero_copy_only=False).astype(np.int64))
            rank = np.empty(k, dtype=np.int64)
            rank[order] = np.arange(k, dtype=np.int64)
            ukey = np.unique(doc_all * k + rank[codes])
            out_s = dic.take(pa.array(order[ukey % k]))
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids[ukey // k], type=pa.int64()), out_s],
                schema=schema)
    return gen


def shingles_exploded(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3) -> DataFrame:
    """Distinct n-word shingles as exploded ``(id, s)`` rows.

    r12 (guide §4.2, the prep-Arrow mechanism extended): generated in ONE
    mapInArrow pass, per document — zero exchanges. The r8→r11 JVM form
    (kept as _shingles_exploded_jvm in tests/catalyst_twins.py,
    equality-pinned by tests/test_shingles_arrow.py) posexploded tokens
    through a partitionBy(id) WINDOW and then took a global
    ``.distinct()``: one exchange+sort of the whole token stream plus one
    exchange of the whole shingle stream — per-doc work that never needed
    to leave its scan task. The r11 curation decomposition charged 80% of that op to
    this generator; interleaved A/B on the v3 sf10 lake:
    OPTIMIZATION_r12.md "dedup.shingles_exploded — Arrow per-doc
    shingle generator" and "dedup._shingle_batches — vectorized".

    Docs with < n tokens yield their single short shingle, docs with ZERO
    alnum tokens yield no rows — the exact JVM-form corner semantics
    (the array form yields one empty-string shingle on empty docs;
    callers that must match that corner pre-filter them explicitly).

    Preconditions: ``id_col`` is BIGINT (a ValueError names any other
    type) and unique per input row — the window form would interleave
    two same-id rows' tokens into one garbage document, the Arrow form
    would emit per-row (not per-id) distinct shingles. Every caller
    passes a primary-keyed corpus table's int64 ``doc_id``.
    """
    from pyspark.sql.types import LongType

    id_type = df.schema[id_col].dataType
    if not isinstance(id_type, LongType):
        raise ValueError(
            f"shingles_exploded: id column {id_col!r} is "
            f"{id_type.simpleString()}; the Arrow shingle pass takes "
            "BIGINT ids")
    return (df.select(C(id_col).alias("id"), C(text_col).alias("text"))
            .mapInArrow(_shingle_batches(n, id_col), "id bigint, s string"))


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a) + F.size(b) - F.size(F.array_intersect(a, b))
    return inter / union


def _minhash_verify(bands: DataFrame, sets: DataFrame, threshold: float,
                    against: tuple[DataFrame, DataFrame] | None = None
                    ) -> DataFrame:
    """The MinHash-LSH tail both hash families and both admission paths
    share: band-collide on ``(band, bh)``, keep distinct ``(a_id, b_id)``,
    join both sides' shingle sets onto the survivors only (no shingle
    array ever rides a band join), keep ``jaccard ≥ threshold``.

    ``bands`` are ``(id, band, bh)`` rows and ``sets`` ``(id, sh)`` rows.
    With ``against=None`` the side collides with itself and keeps
    ``a_id < b_id``; otherwise ``against`` is the other side's
    ``(bands, sets)`` and supplies ``b_id``. Returns ``(a_id, b_id,
    jaccard)`` unrounded — each caller applies its own output rounding.
    """
    b_bands, b_sets = against or (bands, sets)
    key = ["band", "bh"]
    cand = (bands.select(C("id").alias("a_id"), *key)
            .join(b_bands.select(C("id").alias("b_id"), *key), key))
    if against is None:
        cand = cand.filter(C("a_id") < C("b_id"))
    cand = cand.select("a_id", "b_id").dropDuplicates(["a_id", "b_id"])

    # The verify sets are CORPUS-sized (one shingle array per doc) and
    # their post-aggregate size estimate is unreliable — Spark picked a
    # broadcast at the 1M-doc probe tier and OOM'd the driver. Pin both
    # verify joins to shuffle joins on the id (the 100 TB shape: the
    # candidate stream and the sets co-partition by doc id).
    def side(df: DataFrame, p: str) -> DataFrame:
        return df.hint("shuffle_hash").select(C("id").alias(f"{p}_id"),
                                              C("sh").alias(f"{p}_sh"))

    pairs = cand.join(side(sets, "a"), "a_id").join(side(b_sets, "b"), "b_id")
    j = jaccard(C("a_sh"), C("b_sh"))
    return (pairs.filter(j >= threshold)
            .select("a_id", "b_id", j.alias("jaccard")))


def minhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       jaccard_threshold: float = 0.5) -> DataFrame:
    """MinHash-LSH near-duplicate pairs with exact Jaccard verification.

    Signatures come from the EXPLODED shingle stream: ``min(xxhash64(s,
    seed))`` per doc as 32 plain aggregate expressions — all codegen,
    map-side-combined partial mins, one ≈1-row/doc shuffle. (The per-doc
    HOF form — array_min over a transform lambda, 32 interpreted passes
    per doc — measured 34 s at sf0.1 vs 2.9 s for this plan.) Banding
    moves only (id, band, bh) triples; the shingle SETS needed for exact
    verification are re-aggregated and joined only onto the surviving
    candidate pairs, so no shingle array ever rides a band join. The
    shingle stream is evaluated twice (signature + verify branches) —
    linear scan-side work; xxhash64 re-evaluation is cheaper than an
    eager checkpoint here (A/B at sf0.1: 2.46 s vs 2.88 s checkpointed),
    while the md5 twin DOES checkpoint (its hashes dominate, 10.6 s →
    4.7 s); a 100 TB deployment checkpoints in both cases because scan
    cost, not hash cost, dominates there.
    """
    sh = _ensure_parallelism(shingles_exploded(df, id_col, text_col, 3))
    sig = sh.groupBy("id").agg(*[
        F.min(F.xxhash64("s", F.lit(i))).alias(f"h{i}")
        for i in range(NUM_HASHES)
    ])
    bands = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(*[C(f"h{b * ROWS_PER_BAND + r}")
                             for r in range(ROWS_PER_BAND)]).alias("bh"),
            )
            for b in range(BANDS)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bh")
    sets = sh.groupBy("id").agg(F.collect_set("s").alias("sh"))
    return (_minhash_verify(bands, sets, jaccard_threshold)
            .select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard")))


def hamming_bands(a: Column, b: Column) -> Column:
    """Hamming distance between two band arrays (Σ popcount per band)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def _simhash_table(df: DataFrame, id_col: str, text_col: str, h: Column,
                   bits: int, nbands: int) -> DataFrame:
    """``(id, sh)`` SimHash band table from the EXPLODED token stream.

    ``h`` is the token-hash expression over the exploded token column
    ``t``; its low ``bits`` bits each get a ±1 vote per token, summed as
    ``bits`` plain SUM aggregates — all codegen, map-side partial sums,
    one ≈1-row/doc shuffle (the per-row HOF fold, aggregate + zip_with
    interpreted per token × 64 bits, measured 24 s at sf0.1; this plan
    runs it in ~1 s). A positive vote sets the bit; ``sh`` holds
    ``nbands`` bigint bands of ``bits // nbands`` bits each — bands are
    exactly what LSH blocking joins on, and assembling the high bit of an
    int64 would overflow under ANSI mode. Zero-token docs are absent (a
    doc with no alnum tokens has no meaningful simhash).
    """
    toks = textnorm.normalized_tokens(C(text_col))
    ex = df.select(C(id_col).alias("id"), F.explode(toks).alias("t"))
    votes = [
        F.sum(F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1)
              .otherwise(-1)).alias(f"v{i}")
        for i in range(bits)
    ]
    v = ex.groupBy("id").agg(*votes)
    width = bits // nbands
    band_cols = []
    for b in range(nbands):
        acc = F.lit(0).cast("bigint")
        for j in range(width):
            acc = acc + F.when(C(f"v{b * width + j}") > 0,
                               F.lit(1 << j).cast("bigint")) \
                         .otherwise(F.lit(0).cast("bigint"))
        band_cols.append(acc.alias(f"bh{b}"))
    return v.select("id", F.array(*band_cols).alias("sh"))


def _simhash_pairs(sh: DataFrame, nbands: int,
                   max_hamming: int) -> DataFrame:
    """SimHash tail for both hash families: explode each ``(id, sh)`` row
    into its ``nbands`` band rows, band-collide on ``(band, bh)`` (with
    4 bands, pigeonhole guarantees recall for Hamming ≤ 3), then exact
    Hamming verify on the distinct surviving pairs only — no all-pairs
    anywhere. Returns ``(a_id, b_id, hamming)`` with an int distance."""
    key = ["band", "bh"]
    bands = sh.select(
        "id", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), C("sh").getItem(b).alias("bh"))
            for b in range(nbands)
        ])).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.bh")
    a = bands.select(C("id").alias("a_id"), C("sh").alias("a_sh"), *key)
    b = bands.select(C("id").alias("b_id"), C("sh").alias("b_sh"), *key)
    return (
        a.join(b, key)
        .filter(C("a_id") < C("b_id"))
        .dropDuplicates(["a_id", "b_id"])
        .withColumn("hamming", hamming_bands(C("a_sh"), C("b_sh")))
        .filter(C("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


def simhash_band_table(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """``(id, sh)`` SimHash table over xxhash64 token hashes: 4×16-bit
    bands of the full 64-bit hash."""
    return _simhash_table(df, id_col, text_col, F.xxhash64("t"), 64, 4)


def simhash_candidates(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: 4×16-bit band join guarantees recall for
    Hamming ≤ 3 (pigeonhole), then exact Hamming verify."""
    return _simhash_pairs(simhash_band_table(df, id_col, text_col), 4,
                          max_hamming)


# ------------------------------------------------------------ registrations

@op("ext_dedup_exact", oracle=r"""
    SELECT md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp,
           CAST(MIN(doc_id) AS BIGINT)   AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT)      AS n_copies
    FROM documents
    GROUP BY 1
""")
def ext_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-content fingerprint;
    survivor = min doc_id (deterministic canonical choice)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = textnorm.fingerprint(C("text"))
    return (
        docs.groupBy(fp.alias("fp"))
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


@op("ext_dedup_minhash", driver_visible=False)  # rows-only by design:
# xxhash64 signatures aren't in DuckDB. Driver verification runs through
# the hash-green twin ext_dedup_minhash_md5 (identical LSH construction,
# md5 hash family); pytest pins this production path's verified-pair set.
def ext_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH fuzzy dedup over documents (J ≥ 0.5 verified pairs).
    Driver-verified via ext_dedup_minhash_md5 (same construction, md5)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates(docs, "doc_id", "text", jaccard_threshold=0.5) \
        .orderBy("a_id", "b_id")


@op("ext_dedup_simhash", driver_visible=False)  # rows-only by design:
# xxhash64-based. Driver verification runs through the hash-green twin
# ext_dedup_simhash_md5 (identical construction, md5 hash family).
def ext_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fuzzy dedup over documents (Hamming ≤ 3 pairs).
    Driver-verified via ext_dedup_simhash_md5 (same construction, md5)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidates(docs, "doc_id", "text", max_hamming=3) \
        .orderBy("a_id", "b_id")


def _md5_sig_batches(it):
    """mapInArrow body for the md5-minhash signature: (id, s) shingle
    batches in, per-batch per-id PARTIAL minima (id, h0..h31) out — the
    downstream groupBy(id).min() merges partials exactly like any
    map-side combine, so splitting a doc's shingles across batches
    cannot change the signature (min is associative/commutative).

    The hash family is h_i(s) = textnorm.md5_int_py(f"{i}:{s}", 15) —
    the Catalyst twin's (_md5_sig_jvm in tests/catalyst_twins.py)
    textnorm.md5_int — hashed through
    textnorm.per_distinct: within a batch each DISTINCT shingle is
    hashed once (dictionary_encode), and the per-TASK memo carries the
    32-vector across batches (md5 is pure; on a Zipfian shingle stream
    the task dictionary ≪ the row stream; cleared at textnorm.MEMO_CAP
    entries). Per-id minima come from one reduceat over the id-sorted
    gather — no per-row Python."""
    import numpy as np
    import pyarrow as pa

    prefixes = [f"{i}:".encode() for i in range(NUM_HASHES)]

    def hvec(s: str) -> np.ndarray:
        b = s.encode()
        return np.array([textnorm.md5_int_py(p + b, 15) for p in prefixes],
                        dtype=np.int64)

    hash_distinct = textnorm.per_distinct(hvec)

    out_schema = pa.schema(
        [pa.field("id", pa.int64())]
        + [pa.field(f"h{i}", pa.int64()) for i in range(NUM_HASHES)])
    for batch in it:
        if batch.num_rows == 0:
            continue
        ids = batch.column("id").to_numpy(zero_copy_only=False)
        codes, hvecs = hash_distinct(batch.column("s"))
        hdist = np.stack(hvecs)
        order = np.argsort(ids, kind="stable")
        sids = ids[order]
        starts = np.nonzero(
            np.concatenate(([True], sids[1:] != sids[:-1])))[0]
        mins = np.minimum.reduceat(hdist[codes[order]], starts, axis=0)
        yield pa.RecordBatch.from_arrays(
            [pa.array(sids[starts], type=pa.int64())]
            + [pa.array(mins[:, i], type=pa.int64())
               for i in range(NUM_HASHES)],
            schema=out_schema)


_SIG_ARROW_SCHEMA = "id bigint, " + ", ".join(
    f"h{i} bigint" for i in range(NUM_HASHES))


def _md5_bands_and_sets(df: DataFrame, id_col: str,
                        text_col: str) -> tuple[DataFrame, DataFrame]:
    """Shared md5-family LSH construction: per-doc (band, band-hash) rows
    and distinct-shingle sets, off ONE pinned exploded-shingle stream
    (the md5 hashes dominate this variant's cost — A/B in BASELINE.md —
    so the stream is materialized once and feeds both the signature
    aggregate and the verify sets)."""
    sh = pin(_ensure_parallelism(shingles_exploded(df, id_col, text_col, 3)))

    # r12 session 2: the signature hashes run through one mapInArrow
    # pass emitting per-batch per-id partial minima (_md5_sig_batches —
    # md5 per distinct shingle per task, not per (row × 32)); the final
    # groupBy merges partials. Bit-identical (integers; min associative),
    # pinned by tests/test_md5_sig_arrow.py, A/B in OPTIMIZATION_r12.md
    # "md5-minhash signature — Arrow partial-minima pass".
    sig = (sh.mapInArrow(_md5_sig_batches, _SIG_ARROW_SCHEMA)
           .groupBy("id").agg(*[
               F.min(f"h{i}").alias(f"h{i}") for i in range(NUM_HASHES)
           ]))
    bands = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *[
                    C(f"h{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ])).alias("bh"),
            )
            for b in range(BANDS)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bh")
    sets = sh.groupBy("id").agg(F.collect_set("s").alias("sh"))
    return bands, sets


def minhash_candidates_md5(df: DataFrame, id_col: str, text_col: str,
                           jaccard_threshold: float = 0.5) -> DataFrame:
    """minhash_candidates with an md5-derived hash family instead of
    xxhash64 — the AUDITABLE twin: both engines compute md5 of identical
    strings, so signatures, band keys, candidate pairs, and verified
    output are cross-engine exact and the whole LSH construction (not
    just its adjunct verifiers) carries hash parity.

    h_i(s) = int(md5(f"{i}:{s}")[:15 hex]) — 60 bits, fits signed 64 on
    both engines; band key = md5 of the comma-joined 4-row slice. Same
    tail as the xxhash64 path (_minhash_verify: band-bucket self-join,
    verify-join on survivors only); only the signature pass differs — a
    pinned exploded-shingle stream feeding Arrow partial mins
    (_md5_bands_and_sets). The md5 family costs ~4× the whole-op time of
    xxhash64 (measured, BASELINE.md), which is exactly why the
    PRODUCTION op keeps the engine hash and this variant exists for
    cross-engine audit.
    """
    bands, sets = _md5_bands_and_sets(df, id_col, text_col)
    return (_minhash_verify(bands, sets, jaccard_threshold)
            .select("a_id", "b_id",
                    (F.floor(C("jaccard") * 1e6) / 1e6).alias("jaccard")))


_GRAMS_SQL = r"""
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, GREATEST(len(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+')) - 2, 1) + 1),
                   i -> array_to_string(list_slice(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+'), i, i + 2), ' ')
               )) AS grams
        FROM documents
        WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
"""


@op("ext_dedup_minhash_md5", oracle=f"""
    WITH tok AS ({_GRAMS_SQL}),
    sh AS (SELECT doc_id AS id, UNNEST(grams) AS s FROM tok),
    hs AS (
        SELECT id, s, t.i,
               CAST(('0x' || substring(md5(t.i || ':' || s), 1, 15))
                    AS BIGINT) AS h
        FROM sh, UNNEST(range({NUM_HASHES})) AS t(i)
    ),
    sig AS (SELECT id, i, MIN(h) AS mh FROM hs GROUP BY id, i),
    bands AS (
        SELECT id, i // {ROWS_PER_BAND} AS band,
               md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
        FROM sig GROUP BY id, i // {ROWS_PER_BAND}
    ),
    cand AS (
        SELECT a.id AS a_id, b.id AS b_id
        FROM bands a JOIN bands b USING (band, bh)
        WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT c.a_id, c.b_id,
           FLOOR(CAST(len(list_intersect(ta.grams, tb.grams)) AS DOUBLE)
                 / (len(ta.grams) + len(tb.grams)
                    - len(list_intersect(ta.grams, tb.grams))) * 1e6) / 1e6
               AS jaccard
    FROM cand c
    JOIN tok ta ON ta.doc_id = c.a_id
    JOIN tok tb ON tb.doc_id = c.b_id
    WHERE CAST(len(list_intersect(ta.grams, tb.grams)) AS DOUBLE)
          / (len(ta.grams) + len(tb.grams)
             - len(list_intersect(ta.grams, tb.grams))) >= 0.5
""")
def ext_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash-LSH construction, hash-green end-to-end: shingles
    → 32 md5-minhashes → 8×4 band keys → bucket self-join candidates →
    exact-Jaccard verify (J ≥ 0.5). DuckDB replays every stage with the
    identical md5 hash family, so the oracle pins candidate GENERATION —
    including which true pairs banding probabilistically misses — not
    just the verifier arithmetic (the previous limit of the adjuncts).
    The production op (ext_dedup_minhash) keeps JVM xxhash64 for ~10×
    cheaper signatures; both share the candidate → verify tail
    (_minhash_verify)."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_candidates_md5(docs, "doc_id", "text",
                                  jaccard_threshold=0.5) \
        .orderBy("a_id", "b_id")


_SIMHASH_MD5_BITS = 60       # 15 hex digits of md5 → fits signed 64 both engines
_SIMHASH_MD5_BANDS = 4       # 4×15-bit bands ⇒ recall guaranteed for Hamming ≤ 3
_SIMHASH_MD5_BAND_BITS = _SIMHASH_MD5_BITS // _SIMHASH_MD5_BANDS


_SIMHASH_TOK_SQL = r"""
        SELECT doc_id AS id,
               UNNEST(string_split_regex(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   '\s+')) AS t
        FROM documents
        WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
"""

_SIMHASH_MD5_HAMMING = " + ".join(
    f"bit_count(xor(sa.sh[{b + 1}], sb.sh[{b + 1}]))"
    for b in range(_SIMHASH_MD5_BANDS))


@op("ext_dedup_simhash_md5", oracle=f"""
    WITH tok AS ({_SIMHASH_TOK_SQL}),
    h AS (
        SELECT id, CAST(('0x' || substring(md5(t), 1, 15)) AS BIGINT) AS h
        FROM tok
    ),
    votes AS (
        SELECT id, b.i AS bit,
               SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM h, UNNEST(range({_SIMHASH_MD5_BITS})) AS b(i)
        GROUP BY 1, 2
    ),
    bands AS (
        SELECT id, bit // {_SIMHASH_MD5_BAND_BITS} AS band,
               SUM(CASE WHEN v > 0
                        THEN (CAST(1 AS BIGINT)
                              << (bit % {_SIMHASH_MD5_BAND_BITS}))
                        ELSE 0 END) AS bh
        FROM votes GROUP BY 1, 2
    ),
    sh AS (SELECT id, list(bh ORDER BY band) AS sh FROM bands GROUP BY id),
    cand AS (
        SELECT a.id AS a_id, b.id AS b_id
        FROM bands a JOIN bands b USING (band, bh)
        WHERE a.id < b.id
        GROUP BY 1, 2
    )
    SELECT c.a_id, c.b_id,
           CAST({_SIMHASH_MD5_HAMMING} AS BIGINT) AS hamming
    FROM cand c
    JOIN sh sa ON sa.id = c.a_id
    JOIN sh sb ON sb.id = c.b_id
    WHERE {_SIMHASH_MD5_HAMMING} <= 3
""")
def ext_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SimHash construction, hash-green end-to-end (the second
    fuzzy-dedup family's md5-family twin, mirroring ext_dedup_minhash_md5):
    tokens → 60-bit md5 hash → per-bit ±1 votes → 4×15-bit band
    fingerprint → band-bucket self-join candidates → exact Hamming verify
    (≤ 3). DuckDB replays every stage with the identical md5 family, so
    the oracle pins candidate GENERATION — which pairs share a band —
    and the verified Hamming distances, not just plausible output. The
    production op (ext_dedup_simhash) keeps JVM xxhash64 for cheaper
    fingerprints; both run the same band-table builder (_simhash_table)
    and Hamming tail (_simhash_pairs), differing only in the token hash —
    both engines md5 the identical token strings, so fingerprints, band
    keys, candidates and distances are cross-engine exact."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _simhash_table(docs, "doc_id", "text",
                        textnorm.md5_int(C("t"), 15), _SIMHASH_MD5_BITS,
                        _SIMHASH_MD5_BANDS)
    return (_simhash_pairs(sh, _SIMHASH_MD5_BANDS, max_hamming=3)
            .withColumn("hamming", C("hamming").cast("bigint"))
            .orderBy("a_id", "b_id"))


INC_FUZZY_ORACLE = f"""
    WITH tok AS ({_GRAMS_SQL}),
    mid AS (SELECT MAX(doc_id) // 2 AS m FROM documents),
    sh AS (SELECT doc_id AS id, UNNEST(grams) AS s FROM tok),
    hs AS (
        SELECT id, s, t.i,
               CAST(('0x' || substring(md5(t.i || ':' || s), 1, 15))
                    AS BIGINT) AS h
        FROM sh, UNNEST(range({NUM_HASHES})) AS t(i)
    ),
    sig AS (SELECT id, i, MIN(h) AS mh FROM hs GROUP BY id, i),
    bands AS (
        SELECT id, i // {ROWS_PER_BAND} AS band,
               md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
        FROM sig GROUP BY id, i // {ROWS_PER_BAND}
    ),
    cand AS (
        SELECT i.id AS inc_id, e.id AS ex_id
        FROM bands i JOIN bands e USING (band, bh) CROSS JOIN mid
        WHERE i.id >= mid.m AND e.id < mid.m
        GROUP BY 1, 2
    ),
    ver AS (
        SELECT c.inc_id, c.ex_id,
               CAST(len(list_intersect(ti.grams, te.grams)) AS DOUBLE)
                 / (len(ti.grams) + len(te.grams)
                    - len(list_intersect(ti.grams, te.grams))) AS j
        FROM cand c
        JOIN tok ti ON ti.doc_id = c.inc_id
        JOIN tok te ON te.doc_id = c.ex_id
    ),
    agg AS (
        SELECT inc_id, CAST(COUNT(DISTINCT ex_id) AS BIGINT) AS n_dup_of,
               MAX(j) AS bj
        FROM ver WHERE j >= 0.5 GROUP BY inc_id
    )
    SELECT d.doc_id, (a.inc_id IS NULL) AS admitted,
           CAST(COALESCE(a.n_dup_of, 0) AS BIGINT) AS n_dup_of,
           FLOOR(a.bj * 1e6) / 1e6 AS best_j
    FROM documents d CROSS JOIN mid
    LEFT JOIN agg a ON a.inc_id = d.doc_id
    WHERE d.doc_id >= mid.m
"""


def _admit(incoming: DataFrame, inc: tuple[DataFrame, DataFrame],
           existing: tuple[DataFrame, DataFrame]) -> DataFrame:
    """Fuzzy-dedup admission decisions ``(doc_id, admitted, n_dup_of,
    best_j)``, one row per ``incoming`` doc: a doc is rejected when any
    band collision with the existing side verifies at Jaccard ≥ 0.5;
    ``n_dup_of`` counts the distinct existing docs that verified and
    ``best_j`` is the best Jaccard (null when admitted). ``inc`` and
    ``existing`` are each side's md5 ``(bands, sets)``
    (_md5_bands_and_sets). Shared by ext_dedup_incremental_fuzzy and the
    streaming twin streaming_ops.stream_dedup_fuzzy."""
    hits = (_minhash_verify(*inc, 0.5, against=existing)
            .groupBy("a_id")
            .agg(F.countDistinct("b_id").alias("__n"),
                 F.max("jaccard").alias("__bj")))
    return (incoming.select("doc_id")
            .join(hits, C("doc_id") == C("a_id"), "left")
            .select("doc_id",
                    C("a_id").isNull().alias("admitted"),
                    F.coalesce(C("__n"), F.lit(0).cast("bigint"))
                    .alias("n_dup_of"),
                    (F.floor(C("__bj") * 1e6) / 1e6).alias("best_j")))


@op("ext_dedup_incremental_fuzzy", oracle=INC_FUZZY_ORACLE)
def ext_dedup_incremental_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY-dedup admission — the production shape for a
    continuously-ingesting corpus: an incoming batch (docs above the
    doc_id midpoint, the same deterministic yesterday/today stand-in as
    ext_cdc_changelog) is admitted only if no LSH band collision with the
    EXISTING corpus verifies at Jaccard ≥ 0.5. Completes the admission
    family: ext_dedup_incremental (cdc.py) gates on exact fingerprints,
    this op gates on near-duplicates.

    Uses the md5 hash family (_md5_bands_and_sets) and the shared
    admission tail (_admit), so the whole decision — band collisions,
    verification, admit/reject — is hash-green against the DuckDB
    replay. Scale shape: the existing side's bands/sets are
    exactly what a production run keeps PERSISTED between batches (write
    once, join per batch); the incoming batch is small, so the band join
    broadcasts it — per-batch cost is proportional to the batch, not the
    corpus. Within-batch duplicates are NOT collapsed here (that is
    ext_dedup_minhash's job before admission), matching the exact-dedup
    admission op's contract.
    """
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg((F.max("doc_id") / 2).cast("bigint").alias("__mid"))
    d = docs.crossJoin(F.broadcast(mid))
    existing = d.filter(C("doc_id") < C("__mid"))
    incoming = d.filter(C("doc_id") >= C("__mid"))
    ex = _md5_bands_and_sets(existing, "doc_id", "text")
    return _admit(incoming, _md5_bands_and_sets(incoming, "doc_id", "text"),
                  ex)


@op("ext_dedup_ngram", oracle=r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, GREATEST(len(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+')) - 2, 1) + 1),
                   i -> array_to_string(list_slice(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+'), i, i + 2), ' ')
               )) AS grams
        FROM documents
        WHERE doc_id < 200
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           FLOOR(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / (len(a.grams) + len(b.grams)
                    - len(list_intersect(a.grams, b.grams))) * 1e6) / 1e6
               AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
""")
def ext_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard (the verifier behind MinHash), demonstrated
    on adjacent doc pairs so the oracle stays linear-size."""
    docs = load_table(spark, sf_dir, "documents").filter(C("doc_id") < 200)
    grams = docs.select(C("doc_id"), word_shingles(C("text"), 3).alias("grams"))
    a = grams.select(C("doc_id").alias("a_id"), C("grams").alias("a_g"))
    b = grams.select(C("doc_id").alias("b_id"), C("grams").alias("b_g"))
    return (
        a.join(b, C("b_id") == C("a_id") + 1)
        .select("a_id", "b_id",
                # floor, not round: int/int ratio (see text.py note)
                (F.floor(jaccard(C("a_g"), C("b_g")) * 1e6) / 1e6)
                .alias("jaccard"))
    )


@op("ext_dedup_containment", oracle=r"""
    WITH sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, GREATEST(len(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+')) - 2, 1) + 1),
                   i -> array_to_string(list_slice(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+'), i, i + 2), ' ')
               )) AS grams
        FROM documents
        WHERE doc_id < 200
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS n_common,
           FLOOR(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(a.grams) * 1e6) / 1e6 AS containment_a_in_b,
           FLOOR(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(b.grams) * 1e6) / 1e6 AS containment_b_in_a
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
""")
def ext_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT (|A∩B| / |A|): the sub-document dup
    metric — a short doc fully quoted inside a long one scores ~1.0 here
    while its Jaccard stays near zero (|A∪B| is dominated by the long
    side), so Jaccard-threshold dedup never sees it. Standard companion
    to MinHash verification in crawl pipelines (quotes, syndication,
    boilerplate expansion). Demonstrated on adjacent doc pairs so the
    oracle stays linear-size — in production the pair list comes from the
    same LSH banding as ext_dedup_minhash (candidates only, never all
    pairs), and containment replaces/augments the exact-Jaccard verify.
    """
    docs = load_table(spark, sf_dir, "documents").filter(C("doc_id") < 200)
    grams = docs.select(C("doc_id"), word_shingles(C("text"), 3).alias("grams"))
    a = grams.select(C("doc_id").alias("a_id"), C("grams").alias("a_g"))
    b = grams.select(C("doc_id").alias("b_id"), C("grams").alias("b_g"))
    inter = F.size(F.array_intersect(C("a_g"), C("b_g")))
    return (
        a.join(b, C("b_id") == C("a_id") + 1)
        .select("a_id", "b_id",
                inter.cast("bigint").alias("n_common"),
                # FLOOR-truncate: gram-count rationals can hit decimal
                # halves where Spark (repr HALF_UP) and DuckDB (numeric)
                # round apart; floor on identical doubles cannot.
                (F.floor(inter.cast("double") / F.size(C("a_g")) * 1e6)
                 / 1e6).alias("containment_a_in_b"),
                (F.floor(inter.cast("double") / F.size(C("b_g")) * 1e6)
                 / 1e6).alias("containment_b_in_a"))
    )


@op("ext_decontaminate", oracle=r"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), '\s+') AS w
        FROM documents
    ), sh AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   range(1, GREATEST(len(w) - 7, 1) + 1),
                   i -> array_to_string(list_slice(w, i, i + 7), ' ')))) AS s
        FROM toks
    )
    SELECT c.doc_id,
           CAST(COUNT(DISTINCT c.s) AS BIGINT)      AS n_shingle_hits,
           CAST(COUNT(DISTINCT e.doc_id) AS BIGINT) AS n_eval_docs
    FROM (SELECT * FROM sh WHERE doc_id % 50 <> 0) c
    JOIN (SELECT * FROM sh WHERE doc_id % 50 = 0)  e ON c.s = e.s
    GROUP BY c.doc_id
""")
def ext_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any 8-word
    shingle with the held-out eval set (every 50th doc stands in for the
    benchmark corpus) — the standard train/test n-gram overlap check run
    before every LLM training job (GPT-3 appendix C / PaLM style).

    Shape at scale: the eval set is tiny relative to the corpus (benchmarks
    are MBs, corpora are TBs), so its exploded shingle set BROADCASTS; the
    corpus side explodes shingles map-side and probes the hash — no
    corpus-sized shuffle at all. The per-doc agg shuffles only the matching
    (doc, shingle) pairs, which contamination keeps rare by construction.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = (_ensure_parallelism(shingles_exploded(docs, "doc_id", "text", 8))
          .withColumnRenamed("id", "doc_id"))
    corpus = sh.filter(C("doc_id") % 50 != 0)
    ev = (sh.filter(C("doc_id") % 50 == 0)
          .select(C("doc_id").alias("eval_id"), "s"))
    return (
        corpus.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.countDistinct("s").alias("n_shingle_hits"),
             F.countDistinct("eval_id").alias("n_eval_docs"))
    )


# ------------------------------------------------- near-dup clustering (CC)

def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 25,
                         stats: dict | None = None) -> DataFrame:
    """Connected components by iterative min-label propagation.

    ``vertices``: one column ``id``; ``edges``: columns ``s``, ``t``
    (undirected — symmetrized here). Returns (id, component_id) where
    component_id = min id reachable (isolated vertices map to themselves).

    Each round: every vertex takes min(own label, neighbors' labels) — one
    shuffle on the edge key + one on the vertex id. Labels are monotone
    non-increasing, so the rounds needed = the graph diameter; near-dup
    graphs are tiny dense clusters (diameter ≤ 3-4 in practice). Lineage is
    cut with ``pin`` each round (iterative plans otherwise grow
    exponentially); convergence is detected by the label-sum fixpoint (one
    cheap agg per round — strictly decreasing until converged). At much
    larger diameters switch to large-star/small-star (Kiveris '14), which
    converges in O(log n) rounds over the same primitives.

    The fixpoint collect() runs every round: it is the next job and
    materializes the round's pin, and checking every 2nd round costs more
    in extra shuffled rounds than it saves in syncs (OPTIMIZATION_r11.md
    "connected_components / _star ... lazy cuts in both loops",
    OPTIMIZATION_r12.md "Measured negatives").
    """
    # Materialize the symmetrized edge list ONCE before iterating: `edges`
    # is typically the expensive candidate-generation subtree (all-pairs /
    # banded-LSH Jaccard verify, cosine join), and without a lineage cut
    # here EVERY round's message join re-evaluates it from scratch — the
    # recompute-per-round defect that turns an O(diameter) loop into
    # O(diameter × candidate-gen) at 100 TB. Measured at sf0.1 on
    # ext_dedup_clusters_bounded (exact all-pairs front-end, ~4 rounds):
    # 3.3-4.3 s → 2.0 s, and run-to-run variance collapses with it.
    sym = pin(edges.select("s", "t")
              .union(edges.select(C("t").alias("s"), C("s").alias("t"))))
    comp = pin(vertices.select(C("id"), C("id").alias("comp")))
    prev_sum = None
    rounds = 0
    for _ in range(max_iter):
        msgs = (
            comp.join(sym, C("id") == C("s"))
            .groupBy(C("t").alias("_mid"))
            .agg(F.min("comp").alias("_nbr_min"))
        )
        comp = pin(
            comp.join(msgs, C("id") == C("_mid"), "left")
            .select("id",
                    F.least(C("comp"), F.coalesce(C("_nbr_min"), C("comp")))
                    .alias("comp")))
        rounds += 1
        s = comp.agg(F.sum("comp")).collect()[0][0]
        if s == prev_sum:
            break
        prev_sum = s
    if stats is not None:
        stats["rounds"] = rounds    # scale probes report diameter evidence
    return comp.select(C("id"), C("comp").alias("component_id"))


def connected_components_star(vertices: DataFrame, edges: DataFrame,
                              max_iter: int = 50,
                              stats: dict | None = None) -> DataFrame:
    """Connected components by large-star/small-star alternation
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the O(log n)-round algorithm for graphs whose diameter
    is NOT known to be small.

    ``connected_components`` (min-label propagation) runs one round per
    unit of graph diameter: perfect for near-dup clusters (dense, tiny,
    diameter <= 3-4) and the default everywhere in this engine. But at
    100 TB some real graphs are long and thin — web-link chains,
    citation paths, temporal follow graphs — where diameter grows with
    the data and a diameter-bound loop means thousands of shuffle
    rounds. Star-contraction converges in O(log n) rounds regardless of
    diameter by repeatedly rewiring every vertex to the minimum of its
    neighborhood:

    - large-star: for each vertex u, connect every neighbor v > u to
      m = min(N(u) ∪ {u}). (Strictly-larger neighbors hop two levels
      down; no self-loops since m <= u < v.)
    - small-star: orient every edge large→small, then connect each
      smaller neighbor (and u itself) to m. Stars form around component
      minima; the edge multiset is a monotone potential, so a fixpoint
      checksum (count + endpoint sums + xxhash64 sum) detects
      convergence exactly — same trick as min-label's label-sum.

    Both phases are groupBy + join over the edge list — plain hash
    shuffles, nothing driver-side; per-round lineage is cut with
    ``pin`` exactly like the min-label loop. Returns
    (id, component_id = min reachable id), isolated vertices map to
    themselves — bit-identical contract to ``connected_components``
    (pytest pins equality on random graphs; the chain probe pins the
    round-count separation: scripts/probe_cc_star.py).

    The fixpoint signature is collected every round, for the same
    measured reason as ``connected_components`` (OPTIMIZATION_r11.md,
    OPTIMIZATION_r12.md "Measured negatives").
    """
    E = pin(edges.select(C("s").alias("a"), C("t").alias("b"))
            .filter(C("a") != C("b")).distinct())
    prev_sig = None
    rounds = 0
    for _ in range(max_iter):
        # -- large-star ------------------------------------------------
        sym = E.union(E.select(C("b").alias("a"), C("a").alias("b")))
        mins = (sym.groupBy("a")
                .agg(F.least(F.min("b"), F.first("a")).alias("m")))
        large = (sym.join(mins, "a")
                 .filter(C("b") > C("a"))
                 .select(C("b").alias("a"), C("m").alias("b")))
        # -- small-star ------------------------------------------------
        oriented = large.select(F.greatest(C("a"), C("b")).alias("a"),
                                F.least(C("a"), C("b")).alias("b"))
        smins = (oriented.groupBy("a")
                 .agg(F.least(F.min("b"), F.first("a")).alias("m")))
        joined = oriented.join(smins, "a")
        E = pin(joined.select(C("b").alias("a"), C("m").alias("b"))
                .union(smins.select(C("a"), C("m").alias("b")))
                .filter(C("a") != C("b"))
                .distinct())
        rounds += 1
        # Decimal(38,0) sums: the xxhash64 sum overflows BIGINT under
        # ANSI mode after a handful of rows; decimal accumulation is
        # exact and order-independent.
        sig = tuple(E.agg(
            F.count(F.lit(1)),
            F.sum(C("a").cast("decimal(38,0)")),
            F.sum(C("b").cast("decimal(38,0)")),
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)"))
        ).collect()[0])
        if sig == prev_sig:
            break
        prev_sig = sig
    if stats is not None:
        stats["rounds"] = rounds
    # Converged stars: one (u, component-min) edge per non-root vertex.
    # Roots and isolated vertices label themselves via the left join; the
    # min-agg is the deterministic guard for a max_iter truncation (at the
    # fixpoint it is a no-op pass over single-row groups).
    roots = E.groupBy(C("a").alias("id")).agg(F.min("b").alias("_root"))
    return (vertices.join(roots, "id", "left")
            .select("id", F.coalesce(C("_root"), C("id"))
                    .alias("component_id")))


def _clusters(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Verified near-dup pairs ``(a_id, b_id)`` over the ``docs`` corpus
    → connected components → one row per cluster: ``survivor_id`` (the
    min doc_id), ``n_members`` and ``is_dup_cluster``. Singletons are
    emitted too, so the output is a total partition of ``docs``."""
    edges = pairs.select(C("a_id").alias("s"), C("b_id").alias("t"))
    vertices = docs.select(C("doc_id").alias("id"))
    comp = connected_components(vertices, edges)
    return (comp.groupBy("component_id")
            .agg(F.count(F.lit(1)).alias("n_members"))
            .select(C("component_id").alias("survivor_id"),
                    "n_members",
                    (C("n_members") > 1).alias("is_dup_cluster")))


# Shared by both connected-components ops: the same min-reachable label
# over the same near-dup graph, computed by DuckDB's recursive CTE.
_EMB_DUP_COMPONENTS_ORACLE = """
    WITH RECURSIVE pairs AS (
        SELECT a.vec_id AS a_id, b.vec_id AS b_id
        FROM embeddings a
        JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_dot_product(CAST(a.embedding AS DOUBLE[]),
                               CAST(b.embedding AS DOUBLE[]))
              / (SQRT(list_dot_product(CAST(a.embedding AS DOUBLE[]),
                                       CAST(a.embedding AS DOUBLE[])))
                 * SQRT(list_dot_product(CAST(b.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[]))))
              > 0.35
    ), edges AS (
        SELECT a_id AS s, b_id AS t FROM pairs
        UNION SELECT b_id, a_id FROM pairs
    ), reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    ), comp AS (
        SELECT s AS vec_id, LEAST(s, MIN(t)) AS component_id
        FROM reach GROUP BY s
    )
    SELECT e.vec_id,
           CAST(COALESCE(c.component_id, e.vec_id) AS BIGINT) AS component_id
    FROM embeddings e LEFT JOIN comp c USING (vec_id)
"""


def _emb_dup_graph(spark: SparkSession, sf_dir: str):
    """``(vertices, edges)`` of the embedding near-dup graph: label-blocked
    pairs with cosine > 0.35 (near-random fixture vectors), as ``(s, t)``."""
    emb = load_table(spark, sf_dir, "embeddings")
    edges = (near_dup_pairs(emb, "label", 0.35)
             .select(C("a_id").alias("s"), C("b_id").alias("t")))
    return emb.select(C("vec_id").alias("id")), edges


@op("ext_dedup_components_star", oracle=_EMB_DUP_COMPONENTS_ORACLE)
def ext_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ext_dedup_components' graph solved by the O(log n)-round
    large-star/small-star algorithm instead of diameter-bound min-label
    propagation — same embedding-cosine near-dup edges, same
    (vec_id, component_id = min member) contract, same DuckDB
    recursive-CTE oracle, so the driver hash-pins that both CC
    algorithms agree with the ground truth independently. The round
    separation that motivates it is pinned by scripts/probe_cc_star.py
    (a diameter-d chain: min-label needs d rounds, star O(log d))."""
    vertices, edges = _emb_dup_graph(spark, sf_dir)
    return connected_components_star(vertices, edges) \
        .select(C("id").alias("vec_id"), "component_id")


@op("ext_dedup_components", oracle=_EMB_DUP_COMPONENTS_ORACLE)
def ext_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the
    embedding-cosine near-dup graph (label-blocked pairs, cos > 0.35 on the
    near-random fixture vectors). component_id = min member id — the
    canonical-survivor rule dedup keeps one document per cluster with.
    Oracle: DuckDB recursive CTE computing the same min-reachable label."""
    vertices, edges = _emb_dup_graph(spark, sf_dir)
    return connected_components(vertices, edges) \
        .select(C("id").alias("vec_id"), "component_id")


@op("ext_dedup_resolve", oracle=r"""
    SELECT doc_id, source, n_chars,
           CAST(COUNT(*) OVER (PARTITION BY
               md5(lower(regexp_replace(text, '\s+', ' ', 'g')))) AS BIGINT)
               AS n_copies
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
        PARTITION BY md5(lower(regexp_replace(text, '\s+', ' ', 'g')))
        ORDER BY n_chars DESC, doc_id) = 1
""")
def ext_dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup RESOLUTION: the corpus after keeping one canonical survivor
    per exact-duplicate group (best quality proxy = longest raw text, tie →
    lowest doc_id) — the step that turns dedup *detection* (ext_dedup_exact
    / ext_dedup_components) into the cleaned training corpus.

    Shape at scale: one shuffle on the content fingerprint; survivor choice
    and group size come from the same window pass, so no self-join back to
    the corpus. (For NEAR-dup clusters the identical window runs partitioned
    by ext_dedup_components' component_id instead of the fingerprint.)
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = textnorm.fingerprint(C("text"))
    tagged = docs.withColumn("fp", fp)
    w_pick = Window.partitionBy("fp").orderBy(C("n_chars").desc(), "doc_id")
    w_size = Window.partitionBy("fp")
    return (
        tagged
        .withColumn("n_copies", F.count(F.lit(1)).over(w_size))
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(C("rn") == 1)
        .select("doc_id", "source", "n_chars", "n_copies")
    )


@op("ext_dedup_minhash_clusters", driver_visible=False)  # rows-only by
# design: LSH banding is xxhash64-based (no DuckDB twin). Driver
# verification runs through ext_dedup_clusters_bounded (hash-green md5
# construction of the same candidates→verify→CC→survivor composition);
# this production path is pinned by tests/test_dedup_clusters.py.
def ext_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup DELIVERABLE: MinHash-LSH candidates → exact
    Jaccard verification (both inside minhash_candidates) → connected
    components over the verified near-dup graph → one row per cluster
    with the canonical survivor (min doc_id), member count, and a dup
    flag. `keep = survivor_id` is the list a curation pass joins against;
    singleton clusters are emitted too so the output is a total partition
    of the corpus (sum(n_members) == corpus size).

    Composition of already-scale-proven parts: sub-quadratic banding
    (BASELINE.md growth probe), min-label propagation with diameter-bound
    rounds (near-dup clusters are dense and tiny), and a final
    cluster-sized aggregate.

    Rows-only by design (xxhash64 banding); driver-verified through the
    hash-green twin ext_dedup_clusters_bounded (same candidates → verify
    → CC → survivor composition on the md5 construction).
    """
    docs = load_table(spark, sf_dir, "documents")
    return _clusters(docs, minhash_candidates(docs, "doc_id", "text", 0.5))


@op("ext_dedup_clusters_bounded", oracle=r"""
    WITH RECURSIVE sh AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, GREATEST(len(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+')) - 2, 1) + 1),
                   i -> array_to_string(list_slice(string_split_regex(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\s+'), i, i + 2), ' ')
               )) AS grams
        FROM documents
        WHERE doc_id < 200
    ), pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sh a JOIN sh b ON b.doc_id > a.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / (len(a.grams) + len(b.grams)
                 - len(list_intersect(a.grams, b.grams))) >= 0.5
    ), edges AS (
        SELECT a_id AS s, b_id AS t FROM pairs
        UNION SELECT b_id, a_id FROM pairs
    ), reach(s, t) AS (
        SELECT s, t FROM edges
        UNION
        SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    ), comp AS (
        SELECT s AS doc_id, LEAST(s, MIN(t)) AS component_id
        FROM reach GROUP BY s
    ), lab AS (
        SELECT d.doc_id, COALESCE(c.component_id, d.doc_id) AS component_id
        FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
        LEFT JOIN comp c USING (doc_id)
    )
    SELECT CAST(component_id AS BIGINT) AS survivor_id,
           CAST(COUNT(*) AS BIGINT)     AS n_members,
           (COUNT(*) > 1)               AS is_dup_cluster
    FROM lab GROUP BY component_id
""")
def ext_dedup_clusters_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable twin of ext_dedup_minhash_clusters: the SAME
    verified-Jaccard-graph → connected-components → cluster/survivor
    composition, on a doc_id-bounded corpus where the near-dup graph is
    computed by exact all-pairs Jaccard (word-3-shingles, J >= 0.5) so a
    DuckDB recursive-CTE oracle can reproduce it bit-for-bit.

    Deliberately NOT the LSH-banded candidate generator: banding recall is
    probabilistic (a J=0.6 pair survives 8x4 banding with p~0.67), so hash
    parity through the banded path would silently depend on fixture
    content. The banded front-end keeps its own evidence (pytest
    recall/precision + the BASELINE.md growth probe); THIS op hash-pins
    everything downstream of candidate generation — exact-Jaccard verify,
    min-label propagation, total-partition cluster aggregate — which the
    full-corpus op composes with banding at scale.
    """
    docs = load_table(spark, sf_dir, "documents").filter(C("doc_id") < 200)
    grams = docs.select(C("doc_id"), word_shingles(C("text"), 3).alias("g"))
    a = grams.select(C("doc_id").alias("a_id"), C("g").alias("a_g"))
    b = grams.select(C("doc_id").alias("b_id"), C("g").alias("b_g"))
    pairs = (
        a.join(F.broadcast(b), C("b_id") > C("a_id"))
        .filter(jaccard(C("a_g"), C("b_g")) >= 0.5)
    )
    return _clusters(docs, pairs)


# Exact-substring window geometry: 8-token windows (stride 1) are long
# enough that a shared window across DISTINCT documents is near-certain
# duplication (vocab^8 random-collision space), short enough to catch
# sub-document copying that document-level Jaccard dilutes away. The
# hot-bucket cap drops fingerprints shared by > 32 docs — boilerplate
# (headers, licenses, navigation) that would otherwise make the bucket
# self-join quadratic in the boilerplate's document frequency; Lee et
# al.'s suffix-array dedup applies the same frequency cutoff.
_SUB_W = 8
_SUB_MAXB = 32


@op("ext_dedup_substring", oracle=rf"""
    WITH tok AS (
        SELECT doc_id, string_split_regex(trim(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g')), '\s+') AS t
        FROM documents
        WHERE trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) <> ''
    ),
    win AS (
        SELECT DISTINCT doc_id, fp FROM (
            SELECT doc_id,
                   UNNEST(list_transform(range(1, len(t) - {_SUB_W} + 2),
                       i -> md5(array_to_string(
                                list_slice(t, i, i + {_SUB_W} - 1), ' '))))
                       AS fp
            FROM tok)
    ),
    ok AS (
        SELECT fp FROM win GROUP BY fp
        HAVING COUNT(*) >= 2 AND COUNT(*) <= {_SUB_MAXB}
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_windows
    FROM win a
    JOIN win b ON b.fp = a.fp AND a.doc_id < b.doc_id
    JOIN ok ON ok.fp = a.fp
    GROUP BY 1, 2
""")
def ext_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT shared-substring detection (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): document pairs sharing
    at least one verbatim 8-token window, with the count of distinct
    shared windows — the dedup family member that catches verbatim
    passage copying (quotes, mirrored sections, templated spans) which
    document-level MinHash misses when the copied span is a small
    fraction of both documents.

    Suffix arrays are the single-machine construction; the distributed
    equivalent is sliding-window fingerprinting: every stride-1 8-token
    window is md5-hashed (cross-engine exact, same family as the minhash
    md5 twin dedup.py:334), windows group on the fingerprint, and pairs
    emerge from bucket self-joins — never an all-pairs comparison. The
    hot-bucket cap (document frequency ≤ 32) bounds every bucket's
    self-join at 32² rows, which is what keeps the op linear-ish at
    100 TB where boilerplate fingerprints otherwise have million-doc
    buckets; production pipelines then route capped-out fingerprints to
    a boilerplate-stripping pass (the filter is part of the op's
    semantics, and the oracle replays it identically).

    Plan shape: explode (one row per window) → two shuffles on fp
    (distinct + bucket count) → self-join on fp co-partitioned by the
    same key → pair aggregation. Window rows ≈ corpus token count, so
    the exchange is corpus-linear with map-side combines throughout.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = textnorm.normalized_tokens(C("text"))
    n = F.size(t)
    idx = F.when(n >= _SUB_W, F.sequence(F.lit(1), n - _SUB_W + 1)) \
        .otherwise(F.array().cast("array<int>"))
    win = (
        docs.select(C("doc_id"), t.alias("t"), F.explode(idx).alias("i"))
        .select("doc_id",
                F.md5(F.concat_ws(" ", F.slice(C("t"), C("i"), _SUB_W)))
                .alias("fp"))
        .dropDuplicates(["doc_id", "fp"])
    )
    ok = (win.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
          .filter((C("df") >= 2) & (C("df") <= _SUB_MAXB))
          .select("fp"))
    a = win.select(C("doc_id").alias("a_id"), "fp")
    b = win.select(C("doc_id").alias("b_id"), "fp")
    return (
        a.join(ok, "fp").join(b, "fp")
        .filter(C("a_id") < C("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_windows"))
    )
