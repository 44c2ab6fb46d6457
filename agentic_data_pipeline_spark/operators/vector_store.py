"""Embedding storage codecs: int8 symmetric quantization.

At 100 TB-corpus scale the embedding table is itself tens of terabytes
(1B docs × 1024-d float32 ≈ 4 TB per embedding column); serving ANN from
int8 cuts that 4× with <0.5% recall loss (the standard faiss/ScaNN
storage codec). This op is the ENCODE side as a pure Catalyst map pass:
per-vector symmetric scale = max|x|/127, elements rounded half-up to
[-127, 127]. No shuffle, no UDF — the transform stays inside
whole-stage codegen next to the parquet scan, and the quantized
array<tinyint>-ranged longs + one float scale per row are what a
downstream ANN bucket scan reads.

Cross-engine determinism: float32→double casts are exact, max/÷/floor
are single IEEE ops evaluated identically by Spark and DuckDB, so the
full quantized arrays hash-match (no truncation needed anywhere).
``recon_ok`` folds the codec's error bound — |x − q·scale| ≤ scale/2
(+1 ulp slack) — into a per-row boolean both engines must agree on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vector import normed_side, side_cosine, trunc6
from ..registry import op

C = F.col


def quantize_int8(df: DataFrame, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """Symmetric int8 quantization of a float-array column: returns
    (id, scale, q, n_saturated, recon_ok). Zero vectors get scale 0 and
    an all-zero code."""
    arr = C(vec_col).cast("array<double>")
    scale = (F.array_max(F.transform(arr, F.abs)) / F.lit(127.0))
    df = df.select(id_col, arr.alias("__x"), scale.alias("scale"))
    q = F.when(C("scale") == 0.0,
               F.transform(C("__x"), lambda x: F.lit(0).cast("long"))) \
         .otherwise(F.transform(
             C("__x"), lambda x: F.floor(x / C("scale") + F.lit(0.5))))
    df = df.select(id_col, "scale", "__x", q.alias("q"))
    abs_err = F.zip_with(C("__x"), C("q"),
                         lambda x, qi: F.abs(x - qi * C("scale")))
    return df.select(
        id_col, "scale", "q",
        F.size(F.filter(C("q"), lambda qi: F.abs(qi) == 127))
        .alias("n_saturated"),
        (F.array_max(abs_err)
         <= C("scale") * F.lit(0.5000001) + F.lit(1e-18)).alias("recon_ok"))


_QUANTIZE_ORACLE = """
WITH s AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS x,
           list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                   x -> abs(x))) / 127.0 AS scale
    FROM embeddings
),
enc AS (
    SELECT vec_id, scale, x,
           CASE WHEN scale = 0.0
                THEN list_transform(x, v -> CAST(0 AS BIGINT))
                ELSE list_transform(
                    x, v -> CAST(FLOOR(v / scale + 0.5) AS BIGINT))
           END AS q
    FROM s
)
SELECT vec_id, scale,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(q, v -> abs(v))) AS BIGINT) AS q_l1,
       CAST(len(list_filter(q, v -> abs(v) = 127)) AS INT) AS n_saturated,
       list_max(list_transform(
           list_zip(x, q),
           p -> abs(p[1] - p[2] * scale)))
           <= scale * 0.5000001 + 1e-18 AS recon_ok
FROM enc
"""


@op("ext_embedding_quantize", oracle=_QUANTIZE_ORACLE)
def ext_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantize the embeddings table (see quantize_int8), registered
    as per-vector scalar digests of the code array: its sum, L1 mass,
    saturation count, the scale, and the codec error-bound boolean —
    each hashed value-exactly against the DuckDB replay of the identical
    arithmetic. The digests are integer-exact folds of every code
    element, so a single wrong q anywhere flips the hash. (The REGISTERED
    row stays array-free because the driver's pandas canonicalizer
    rejects complex columns — tests/test_output_types.py; pipelines use
    quantize_int8 directly for the full code arrays, and ext_ann_int8
    searches them end-to-end.)"""
    q = quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id", "scale",
        F.aggregate(C("q"), F.lit(0).cast("long"), lambda a, v: a + v)
        .alias("q_sum"),
        F.aggregate(C("q"), F.lit(0).cast("long"),
                    lambda a, v: a + F.abs(v)).alias("q_l1"),
        C("n_saturated").cast("int").alias("n_saturated"),
        "recon_ok")


# --- search over the int8 codes -------------------------------------
# Cosine is invariant to per-vector scaling, so the symmetric-quantized
# codes can be searched WITHOUT dequantization: the per-vector scales
# cancel out of dot/(|a||b|), leaving integer dot products over the
# int8 arrays — the arithmetic a SIMD int8 kernel (or a 100 TB bucket
# scan over the 4×-smaller code table) actually runs. Exact oracle, not
# a contract: integer dots ≤ dim·127² are exact in doubles, so the twin
# replays quantize + integer-cosine + top-k bit-for-bit.

_ANN_INT8_ORACLE = """
WITH s AS (
    SELECT vec_id,
           CAST(embedding AS DOUBLE[]) AS x,
           list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                   v -> abs(v))) / 127.0 AS scale
    FROM embeddings
),
enc AS (
    SELECT vec_id,
           CASE WHEN scale = 0.0
                THEN list_transform(x, v -> CAST(0 AS BIGINT))
                ELSE list_transform(
                    x, v -> CAST(FLOOR(v / scale + 0.5) AS BIGINT))
           END AS q
    FROM s
)
SELECT query_id, neighbor_id, sim FROM (
    SELECT qs.vec_id AS query_id, c.vec_id AS neighbor_id,
           FLOOR((list_sum(list_transform(list_zip(c.q, qs.q),
                                          p -> CAST(p[1] * p[2] AS DOUBLE)))
                  / (sqrt(list_sum(list_transform(c.q,
                                                  v -> CAST(v * v AS DOUBLE))))
                     * sqrt(list_sum(list_transform(qs.q,
                                                    v -> CAST(v * v AS DOUBLE))))))
                 * 1e6 + 1e-3) / 1e6 AS sim
    FROM enc c JOIN enc qs ON c.vec_id <> qs.vec_id
    WHERE qs.vec_id IN (0, 1, 2)
    QUALIFY ROW_NUMBER() OVER (PARTITION BY qs.vec_id
                               ORDER BY sim DESC, c.vec_id) <= 5
)
"""


@op("ext_ann_int8", oracle=_ANN_INT8_ORACLE)
def ext_ann_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 cosine search over the int8-quantized index for queries
    {0,1,2}: quantize once, broadcast the quantized query set, rank by
    integer-cosine with the same salted two-phase top-k as the float
    path (similarity.batch_topk — the all-pairs matrix never
    materializes). tests/test_expectations_topics_quantize.py pins the
    recall property (int8 preserves float rankings); this op pins the
    int8 arithmetic itself hash-exactly against DuckDB."""
    from .similarity import batch_topk

    codes = (quantize_int8(load_table(spark, sf_dir, "embeddings"))
             .select("vec_id", "q"))
    queries = normed_side(codes.filter(C("vec_id").isin(0, 1, 2)), "q",
                          vec_col="q")
    # Corpus norm once per vector below the join (not per pair) — same
    # double, Q× less fold work (r11; mirrors ext_similarity_topk).
    corpus = normed_side(codes, "c", vec_col="q")
    scored = (corpus.crossJoin(F.broadcast(queries))
              .filter(C("c_id") != C("q_id"))
              .select(C("q_id").alias("query_id"),
                      C("c_id").alias("neighbor_id"),
                      trunc6(side_cosine("c", "q")).alias("sim")))
    return batch_topk(scored, k=5)
