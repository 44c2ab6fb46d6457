"""Streaming op registrations (batch-parity checked).

stream_tumble runs a real Structured Streaming job (availableNow trigger)
and returns its result table; since a single-run availableNow pass drops
nothing at the watermark, the output equals batch q_tumble — so it shares
the same DuckDB oracle, giving the streaming plane a hash-parity check too.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet, table_path
from ..registry import op

C = F.col
from ..streaming.windows import run_stream_to_table
from .sessionize import SESSIONIZE_ORACLE as _SESSIONIZE_ORACLE
from .dedup import INC_FUZZY_ORACLE as _INC_FUZZY_ORACLE


def _as_stream_dir(parquet_path: str) -> str:
    """The file stream source requires a *directory*; the fixtures are single
    parquet files — expose each via a scratch dir with a symlink."""
    if os.path.isdir(parquet_path):
        return parquet_path
    d = os.path.join("/root/repo/.tmp", "stream_src",
                     parquet_path.strip("/").replace("/", "_"))
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "part-0.parquet")
    if not os.path.exists(link):
        os.symlink(parquet_path, link)
    return d


@op("stream_tumble", oracle="""
    SELECT CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT)       AS bucket_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT)                            AS cnt,
           (CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)   AS sum_value
    FROM events
    GROUP BY 1, 2
""")
def stream_tumble_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window agg over events via readStream (availableNow)."""
    table = f"stream_tumble_{uuid.uuid4().hex[:8]}"
    run_stream_to_table(spark, _as_stream_dir(table_path(sf_dir, "events")), table)
    return spark.table(table)


@op("stream_sliding", oracle="""
    WITH e AS (
        SELECT unnest([CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT),
                       CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT) - 3600])
                   AS bucket_epoch,
               event_type, value
        FROM events
    )
    SELECT bucket_epoch, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           (CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)
               AS sum_value
    FROM e
    GROUP BY 1, 2
""")
def stream_sliding_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window agg (2h window / 1h slide) via readStream: every event
    contributes to exactly two buckets. Oracle models window assignment by
    unnesting each event into its two slide-aligned window starts."""
    from ..streaming.windows import run_to_memory, stream_sliding_agg

    table = f"stream_sliding_{uuid.uuid4().hex[:8]}"
    sdf = stream_sliding_agg(
        spark, _as_stream_dir(table_path(sf_dir, "events")))
    run_to_memory(sdf, table, output_mode="complete")
    return spark.table(table)


@op("stream_dedup", oracle="""
    SELECT DISTINCT user_id, event_type FROM events
""")
def stream_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup via dropDuplicates state: the distinct
    (user_id, event_type) pairs, hash-equal to batch SELECT DISTINCT.
    Scale note in stream_distinct: unbounded streams swap in
    dropDuplicatesWithinWatermark for TTL'd state."""
    from ..streaming.windows import run_to_memory, stream_distinct

    table = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    sdf = stream_distinct(spark, _as_stream_dir(table_path(sf_dir, "events")))
    run_to_memory(sdf, table, output_mode="append")
    return spark.table(table)


@op("stream_dedup_watermark", oracle="""
    SELECT DISTINCT user_id, event_type FROM events
""")
def stream_dedup_watermark_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with WATERMARK-TTL'd state
    (dropDuplicatesWithinWatermark) — the unbounded-stream twin of
    stream_dedup: state rows evict once the horizon passes instead of
    accumulating forever. Horizon covers the bounded fixture, so the
    result hash-equals exact SELECT DISTINCT."""
    from ..streaming.windows import (
        run_to_memory, stream_distinct_within_watermark,
    )

    table = f"stream_dedup_wm_{uuid.uuid4().hex[:8]}"
    sdf = stream_distinct_within_watermark(
        spark, _as_stream_dir(table_path(sf_dir, "events")))
    run_to_memory(sdf, table, output_mode="append")
    return spark.table(table)


@op("stream_join", oracle="""
    SELECT n.n_name AS nation, e.event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           (CAST(SUM(CAST(ROUND(e.value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)
               AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    GROUP BY 1, 2
""")
def stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: event stream joined to broadcast
    customer→nation dims, aggregated per (nation, event_type)."""
    from ..catalog import load_table
    from ..streaming.windows import run_to_memory, stream_static_enrich

    table = f"stream_join_{uuid.uuid4().hex[:8]}"
    sdf = stream_static_enrich(
        spark, _as_stream_dir(table_path(sf_dir, "events")),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"))
    run_to_memory(sdf, table, output_mode="complete")
    return spark.table(table)


@op("stream_sessionize", oracle=_SESSIONIZE_ORACLE)
def stream_sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    gap-based sessions per user, carrying (last_ts, session_id) state across
    micro-batches. A single availableNow pass reproduces the batch
    ext_sessionize result exactly, so it shares that op's DuckDB oracle —
    hash-parity for the hardest streaming API in the surface."""
    from ..streaming.sessions import run_sessionize_to_table

    table = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    run_sessionize_to_table(
        spark, _as_stream_dir(table_path(sf_dir, "events")), table)
    return spark.table(table)


@op("stream_stream_join", oracle="""
    SELECT e1.event_id AS err_id,
           e2.event_id AS click_id,
           e1.user_id
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts >= e1.ts - INTERVAL 1 HOUR
     AND e2.ts <= e1.ts
    WHERE e1.event_type = 'error'
      AND e2.event_type = 'click'
""")
def stream_stream_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (errors × same-user clicks within the
    preceding hour), both sides watermarked so join state evicts by event
    time. availableNow single-pass equals the batch interval join, so the
    hardest stateful join in the surface gets a hash-parity check too."""
    from ..streaming.windows import run_to_memory, stream_interval_join

    table = f"stream_ssj_{uuid.uuid4().hex[:8]}"
    sdf = stream_interval_join(
        spark, _as_stream_dir(table_path(sf_dir, "events")))
    run_to_memory(sdf, table, output_mode="append")
    return spark.table(table)


def _wm_flush_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events fixture + a far-future WATERMARK-FLUSH SENTINEL file: one
    'error' and one 'click' row at max(ts) + 12 h with user_id = −1.
    Outer-join null rows only materialize on state eviction, so a bounded
    replay needs the watermark pushed past every real row; the sentinel
    does that on BOTH filtered sides, and Spark's terminal no-data
    micro-batch then flushes the withheld rows before availableNow
    terminates. (An unbounded production stream needs none of this — its
    own advancing watermark flushes continuously.) Lake-fingerprinted
    like the other stream fixtures."""
    import shutil

    from ..catalog import load_table
    from .reference_ops import _lake_fp, _materialize_once, _sf_scratch

    path = _sf_scratch(sf_dir, "stream_wm_flush", "events")

    def build() -> None:
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        src = table_path(sf_dir, "events")
        os.symlink(src, os.path.join(path, "part-0.parquet"))
        ev = load_table(spark, sf_dir, "events")
        is_long = dict(ev.dtypes)["ts"] in ("bigint", "long")
        delta = (F.lit(12 * 3600 * 1_000_000_000) if is_long
                 else F.expr("INTERVAL 12 HOURS"))
        base = ev.agg(F.max("ts").alias("__mxts"),
                      F.max("event_id").alias("__mxid"))
        sent = None
        for i, etype in enumerate(("error", "click")):
            row = base.select(
                (C("__mxid") + 1 + i).alias("event_id"),
                (C("__mxts") + delta).alias("ts"),
                F.lit(-1).cast("bigint").alias("user_id"),
                F.lit(etype).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast(dict(ev.dtypes)["props"]).alias("props"),
            ).select(*[C(c).cast(dict(ev.dtypes)[c]) for c in ev.columns])
            sent = row if sent is None else sent.unionByName(row)
        tmp = path + "_senttmp"
        sent.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = next(f for f in sorted(os.listdir(tmp))
                    if f.endswith(".parquet"))
        os.replace(os.path.join(tmp, part),
                   os.path.join(path, "zz-wm-sentinel.parquet"))
        shutil.rmtree(tmp)
        open(os.path.join(path, "_SUCCESS"), "w").close()

    _materialize_once(path, build, _lake_fp(sf_dir, "events"))
    return path


@op("stream_stream_join_outer", oracle="""
    SELECT e1.event_id AS err_id,
           e2.event_id AS click_id,
           e1.user_id
    FROM (SELECT * FROM events WHERE event_type = 'error') e1
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') e2
      ON e1.user_id = e2.user_id
     AND e2.ts >= e1.ts - INTERVAL 1 HOUR
     AND e2.ts <= e1.ts
""")
def stream_stream_join_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT-OUTER stream-stream interval join — the
    production enrich-with-misses shape stream_stream_join lacks: every
    error emits, paired with same-user clicks in the preceding hour or
    with NULL click columns once the watermark proves no match can
    arrive. Null emission rides state eviction, so the replay plants a
    far-future sentinel (see _wm_flush_stream_dir) to advance the
    watermark past all real rows; the result then hash-equals the batch
    LEFT JOIN oracle — including exactly which errors went unmatched."""
    from ..streaming.windows import run_to_memory, stream_interval_join

    table = f"stream_ssjo_{uuid.uuid4().hex[:8]}"
    sdf = stream_interval_join(
        spark, _wm_flush_stream_dir(spark, sf_dir), how="left_outer")
    # The sentinel filter MUST sit after the sink, batch-side: inside the
    # streaming query Catalyst propagates `user_id != -1` through the
    # equi-join keys into BOTH parquet scans (constraint propagation +
    # pushdown), which would drop the sentinel rows BEFORE the watermark
    # nodes — the watermark then never advances past the real data and
    # the trailing unmatched errors stay withheld in state (observed: 9
    # rows short at sf0.01).
    run_to_memory(sdf, table, output_mode="append")
    return spark.table(table).filter(C("user_id") != -1)


@op("stream_to_bronze", oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           (CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0)
               AS sum_value
    FROM events
    GROUP BY event_type
""")
def stream_to_bronze_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion into the bronze lake (foreachBatch → the same
    write_bronze sink batch ingestion uses; availableNow trigger +
    checkpoint for exactly-once). The op verifies the WHOLE loop: stream
    the events fixture into a scratch bronze dataset, read the bronze
    parquet back, and aggregate — hash-equal to aggregating the source
    directly iff no row was lost or doubled."""
    from ..functions.helpers import dec_sum
    from ..sources.bronze import read_bronze
    from ..streaming.windows import stream_to_bronze

    scratch = os.path.join("/root/repo/.tmp", "stream_bronze",
                           uuid.uuid4().hex[:8])
    path_lake = os.path.join(scratch, "lake")
    stream_to_bronze(spark, _as_stream_dir(table_path(sf_dir, "events")),
                     path_lake, "events_rt",
                     os.path.join(scratch, "ckpt"))
    df = read_bronze(spark, path_lake, "events_rt")
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        dec_sum("value").alias("sum_value"))


def _split_stream_dir(spark: SparkSession, sf_dir: str, n_files: int = 4) -> str:
    """Events fixture re-written as n ts-range part files so availableNow +
    maxFilesPerTrigger=1 yields n genuine micro-batches (the single-file
    symlink dir gives one batch, which would make an upsert test vacuous).
    Lake-fingerprinted like the ingest scratch (regenerated lake → rebuild)."""
    from ..catalog import load_table
    from .reference_ops import _lake_fp, _materialize_once, _sf_scratch

    path = _sf_scratch(sf_dir, "stream_split", f"events_{n_files}")
    ev = load_table(spark, sf_dir, "events")
    _materialize_once(
        path,
        lambda: ev.repartitionByRange(n_files, "ts", "event_id")
        .write.mode("overwrite").parquet(path),
        _lake_fp(sf_dir, "events"))
    return path


@op("stream_upsert", oracle="""
    WITH latest AS (
        SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us,
               event_type AS last_event_type, value AS last_value
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts) DESC,
                                            event_id DESC) = 1
    ), cnt AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, last_event_id, last_ts_us, last_event_type,
           last_value
    FROM latest JOIN cnt USING (user_id)
""")
def stream_upsert_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (foreachBatch upsert): maintain a per-user
    state table — event count + latest event — across micro-batches; the
    final state must hash-equal the batch latest-by-key + count over the
    whole fixture, proving no batch was lost, doubled, or mis-merged.

    Each micro-batch pre-aggregates map-side to ONE row per touched user
    (count + max_by, both declarative aggregates), then merges into the
    state table keyed on user_id — the same associative merge a Delta/
    Iceberg MERGE INTO performs; plain parquet stands in via versioned
    read-modify-write (v{i} reads v{i-1}), which is also what makes each
    epoch idempotent under retry. At 100 TB/day the shuffle per batch is
    touched-keys-sized, never fact-table-sized, and state is
    key-cardinality-sized.
    """
    from ..catalog import ts_us_long

    C = F.col
    split = _split_stream_dir(spark, sf_dir)
    run_dir = os.path.join("/root/repo/.tmp", "stream_upsert",
                           uuid.uuid4().hex[:8])
    os.makedirs(run_dir, exist_ok=True)

    # one job reads a footer, unless the path's schema is already memoized
    batch_schema = read_parquet(spark, split).schema
    stream = (spark.readStream.schema(batch_schema)
              .option("maxFilesPerTrigger", "1").parquet(split))
    stream = stream.withColumn("ts_us", ts_us_long(stream))

    state = {"path": None}
    last = F.max_by(
        F.struct("last_event_id", "last_event_type", "last_value"),
        F.struct("last_ts_us", "last_event_id"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(run_dir, f"state_v{batch_id}")
        if os.path.exists(os.path.join(out, "_SUCCESS")):
            # Epoch retry after a committed write: v{batch_id} is
            # already durable — re-merging would double-count.
            state["path"] = out
            return
        agg = (batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max_by(F.struct(C("event_id").alias("last_event_id"),
                              C("event_type").alias("last_event_type"),
                              C("value").alias("last_value")),
                     F.struct("ts_us", "event_id")).alias("s"),
            F.max(C("ts_us")).alias("last_ts_us"))
            .select("user_id", "n_events", C("s.last_event_id"),
                    "last_ts_us", C("s.last_event_type"), C("s.last_value")))
        # v{i} reads v{i-1} BY BATCH ID (not a driver "last write"
        # pointer), so a retried epoch reads the same input version.
        prev_path = os.path.join(run_dir, f"state_v{batch_id - 1}")
        if os.path.exists(os.path.join(prev_path, "_SUCCESS")):
            # the micro-batch session is the stream's clone (AQE off);
            # catalog.read_parquet would tune() it, so read directly
            prev = batch_df.sparkSession.read.parquet(prev_path)
            agg = (prev.unionByName(agg).groupBy("user_id")
                   .agg(F.sum("n_events").cast("bigint").alias("n_events"),
                        last.alias("s"),
                        F.max("last_ts_us").alias("last_ts_us"))
                   .select("user_id", "n_events", C("s.last_event_id"),
                           "last_ts_us", C("s.last_event_type"),
                           C("s.last_value")))
        agg.write.mode("overwrite").parquet(out)
        state["path"] = out

    q = (stream.writeStream.foreachBatch(merge_batch)
         .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert state["path"] is not None, "stream produced no batches"
    return read_parquet(spark, state["path"])


@op("stream_dedup_fuzzy", oracle=_INC_FUZZY_ORACLE)
def stream_dedup_fuzzy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING fuzzy-dedup admission: the foreachBatch twin of
    ext_dedup_incremental_fuzzy, sharing its oracle. The documents table
    is staged as two parquet files split at the doc_id midpoint;
    `maxFilesPerTrigger=1` + availableNow delivers them as two ordered
    micro-batches. foreachBatch keeps a cross-batch LSH index (bands +
    shingle sets, localCheckpoint-pinned): batch 0 seeds it, batch 1 is
    admitted against it — so the emitted decisions hash-equal the batch
    op's, proving the STATEFUL streaming path end-to-end against DuckDB.

    Scale shape: this is the real continuous-ingest topology — the band
    index is the state a production job persists (here: block-manager
    checkpoints; in production: a Delta/parquet table appended per
    batch); per-batch cost tracks the batch (probe_incremental_fuzzy.py
    measures it flat under 16× corpus growth).
    """
    import uuid as _uuid

    from ..operators.dedup import _md5_bands_and_sets, jaccard
    from ..operators.reference_ops import (
        _lake_fp, _materialize_once, _sf_scratch,
    )

    C = F.col
    src = _sf_scratch(sf_dir, "stream_fuzzy_src")

    def write_src() -> None:
        import duckdb

        os.makedirs(src, exist_ok=True)
        lake = table_path(sf_dir, "documents")
        con = duckdb.connect()
        m = con.execute(f"SELECT MAX(doc_id) // 2 FROM "
                        f"read_parquet('{lake}')").fetchone()[0]
        for name, cond in (("batch0", f"doc_id < {m}"),
                           ("batch1", f"doc_id >= {m}")):
            con.execute(f"COPY (SELECT * FROM read_parquet('{lake}') "
                        f"WHERE {cond}) TO '{src}/{name}.parquet' "
                        f"(FORMAT PARQUET)")
        # file source orders by modification time: force batch0 older
        now = os.path.getmtime(f"{src}/batch1.parquet")
        os.utime(f"{src}/batch0.parquet", (now - 60, now - 60))
        open(f"{src}/_SUCCESS", "w").close()

    _materialize_once(src, write_src, _lake_fp(sf_dir, "documents"))

    schema = read_parquet(spark, f"{src}/batch0.parquet").schema
    state: dict = {}
    decisions: list = []

    def handle(bdf: DataFrame, batch_id: int) -> None:
        bdf = bdf.localCheckpoint()
        bands, sets = _md5_bands_and_sets(bdf, "doc_id", "text")
        bands, sets = bands.localCheckpoint(), sets.localCheckpoint()
        if "bands" in state:
            eb, es = state["bands"], state["sets"]
            cand = (bands.select(C("id").alias("inc_id"), "band", "bh")
                    .join(eb.select(C("id").alias("ex_id"), "band", "bh"),
                          ["band", "bh"])
                    .select("inc_id", "ex_id")
                    .dropDuplicates(["inc_id", "ex_id"]))
            pairs = (cand
                     .join(sets.select(C("id").alias("inc_id"),
                                       C("sh").alias("a_sh")), "inc_id")
                     .join(es.select(C("id").alias("ex_id"),
                                     C("sh").alias("b_sh")), "ex_id"))
            j = jaccard(C("a_sh"), C("b_sh"))
            agg = (pairs.filter(j >= 0.5)
                   .groupBy("inc_id")
                   .agg(F.countDistinct("ex_id").alias("__n"),
                        F.max(j).alias("__bj")))
            decisions.append(
                bdf.select("doc_id")
                .join(agg, C("doc_id") == C("inc_id"), "left")
                .select("doc_id",
                        C("inc_id").isNull().alias("admitted"),
                        F.coalesce(C("__n"), F.lit(0).cast("bigint"))
                        .alias("n_dup_of"),
                        (F.floor(C("__bj") * 1e6) / 1e6).alias("best_j"))
                .localCheckpoint())
            state["bands"] = state["bands"].unionByName(bands)
            state["sets"] = state["sets"].unionByName(sets)
        else:
            state["bands"], state["sets"] = bands, sets

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1)
         .parquet(src)
         .writeStream.foreachBatch(handle)
         .option("checkpointLocation",
                 os.path.join("/root/repo/.tmp", "stream_ckpt",
                              f"fuzzy_{_uuid.uuid4().hex[:8]}"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    assert len(decisions) == 1, (
        f"expected exactly 2 micro-batches (got {len(decisions) + 1}); "
        "maxFilesPerTrigger/file-ordering assumption broken")
    return decisions[0]



_STREAM_GATE_ORACLE = """
WITH c AS (
    SELECT CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS DOUBLE)
               AS orders_orderkey_unique,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                AS DOUBLE) AS orders_custkey_complete,
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         THEN 1 ELSE 0 END) AS DOUBLE)
               AS orders_status_accepted,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                AS DOUBLE) AS orders_totalprice_positive
    FROM orders
),
ri AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS orders_custkey_ri
    FROM orders
    WHERE o_custkey IS NOT NULL
      AND o_custkey NOT IN (SELECT c_custkey FROM customer
                            WHERE c_custkey IS NOT NULL)
),
stacked AS (
    SELECT 'orders_orderkey_unique' AS expectation,
           orders_orderkey_unique AS metric FROM c
    UNION ALL SELECT 'orders_custkey_complete', orders_custkey_complete
    FROM c
    UNION ALL SELECT 'orders_status_accepted', orders_status_accepted
    FROM c
    UNION ALL SELECT 'orders_totalprice_positive',
           orders_totalprice_positive FROM c
    UNION ALL SELECT 'orders_custkey_ri', orders_custkey_ri FROM ri
)
SELECT expectation, metric, metric = 0 AS passed
FROM stacked ORDER BY expectation
"""


@op("stream_quality_gate", oracle=_STREAM_GATE_ORACLE)
def stream_quality_gate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING data-quality gate: the foreachBatch twin of
    ext_expectations' orders-side checks, over a 4-micro-batch orders
    stream. The accumulated violation counters after the availableNow
    replay must hash-equal the batch suite on the whole fixture —
    proving no batch lost, doubled, or double-counted a violation.

    Per micro-batch:
    - row-local violations (null custkey, bad status, non-positive
      price) reduce to ONE counter row map-side — additive across
      batches, merged into a 1-row state table;
    - referential integrity is a stream-static broadcast anti-join
      against the customer dim (the standard enrich topology);
    - key uniqueness is the genuinely stateful check: per-key arrival
      counts merge into a seen-orderkeys state table (versioned
      read-modify-write where v{batch_id} is derived from the batch id
      and a committed v{batch_id} short-circuits — so an epoch retry
      re-reads v{batch_id-1} and re-writes the same v{batch_id},
      idempotent by construction, not by driver-pointer luck);
      duplicates = Σcounts − #keys at gate-read time, which a
      per-batch counter cannot compute (a dup's first copy may be in an
      earlier batch).

    Scale shape: per-batch shuffle is touched-keys-sized; counter state
    is O(1); key state is key-cardinality-sized (at 100 TB swap it for
    a Bloom/sketch state at the cost of exactness — the gate's counts
    here are exact by design so they can hash against the oracle)."""
    import uuid as _uuid

    from ..operators.reference_ops import (
        _lake_fp, _materialize_once, _sf_scratch,
    )

    C = F.col
    split = _sf_scratch(sf_dir, "stream_gate", "orders_4")
    _materialize_once(
        split,
        lambda: load_table(spark, sf_dir, "orders")
        .repartitionByRange(4, "o_orderkey")
        .write.mode("overwrite").parquet(split),
        _lake_fp(sf_dir, "orders"))

    customer = load_table(spark, sf_dir, "customer").select("c_custkey")
    run_dir = os.path.join("/root/repo/.tmp", "stream_gate",
                           _uuid.uuid4().hex[:8])
    os.makedirs(run_dir, exist_ok=True)
    schema = read_parquet(spark, split).schema
    state = {"counters": None, "keys": None}

    def gate_batch(bdf: DataFrame, batch_id: int) -> None:
        s = bdf.sparkSession
        c_out = os.path.join(run_dir, f"counters_v{batch_id}")
        k_out = os.path.join(run_dir, f"keys_v{batch_id}")
        if (os.path.exists(os.path.join(c_out, "_SUCCESS"))
                and os.path.exists(os.path.join(k_out, "_SUCCESS"))):
            # Epoch retry after a durable write: v{batch_id} already
            # committed; re-merging would double-count. Re-point state
            # and return — the batch is a no-op, by construction.
            state["counters"], state["keys"] = c_out, k_out
            return

        def viol(cond):
            return F.sum(F.when(cond, 1).otherwise(0)).cast("double")

        # NULL probe keys excluded (completeness counts them) so the
        # anti-join agrees with the oracle's NULL-safe NOT IN.
        ri = (bdf.filter(C("o_custkey").isNotNull())
              .join(F.broadcast(customer),
                    C("o_custkey") == C("c_custkey"), "left_anti")
              .agg(F.count(F.lit(1)).cast("double")
                   .alias("orders_custkey_ri")))
        counters = (bdf.agg(
            viol(C("o_custkey").isNull()).alias("orders_custkey_complete"),
            viol(~C("o_orderstatus").isin("O", "F", "P"))
            .alias("orders_status_accepted"),
            viol(C("o_totalprice") <= 0)
            .alias("orders_totalprice_positive"))
            .crossJoin(F.broadcast(ri)))
        keys = bdf.groupBy("o_orderkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # Previous state is derived from batch_id (v{batch_id-1}), NOT a
        # driver-side "last write" pointer: a retried epoch therefore
        # reads the same input version it read the first time, and the
        # _SUCCESS short-circuit above makes the whole epoch idempotent.
        prev_c_path = os.path.join(run_dir, f"counters_v{batch_id - 1}")
        prev_k_path = os.path.join(run_dir, f"keys_v{batch_id - 1}")
        if os.path.exists(os.path.join(prev_c_path, "_SUCCESS")):
            # direct read: see the stream's-clone note in stream_upsert_q
            prev_c = s.read.parquet(prev_c_path)
            counters = (prev_c.unionByName(counters).agg(
                F.sum("orders_custkey_complete")
                .alias("orders_custkey_complete"),
                F.sum("orders_status_accepted")
                .alias("orders_status_accepted"),
                F.sum("orders_totalprice_positive")
                .alias("orders_totalprice_positive"),
                F.sum("orders_custkey_ri").alias("orders_custkey_ri")))
            prev_k = s.read.parquet(prev_k_path)
            keys = (prev_k.unionByName(keys).groupBy("o_orderkey")
                    .agg(F.sum("cnt").cast("bigint").alias("cnt")))
        counters.write.mode("overwrite").parquet(c_out)
        keys.write.mode("overwrite").parquet(k_out)
        state["counters"], state["keys"] = c_out, k_out

    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1)
         .parquet(split)
         .writeStream.foreachBatch(gate_batch)
         .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination()
    assert state["counters"] is not None, "stream produced no batches"

    counters = read_parquet(spark, state["counters"])
    dup = (read_parquet(spark, state["keys"])
           .agg((F.sum("cnt") - F.count(F.lit(1))).cast("double")
                .alias("orders_orderkey_unique")))
    wide = counters.crossJoin(F.broadcast(dup))
    names = ("orders_orderkey_unique", "orders_custkey_complete",
             "orders_status_accepted", "orders_totalprice_positive",
             "orders_custkey_ri")
    stack_args = ", ".join(f"'{n}', {n}" for n in names)
    return (wide.selectExpr(
        f"stack({len(names)}, {stack_args}) AS (expectation, metric)")
        .select("expectation", "metric",
                (C("metric") == 0).alias("passed"))
        .orderBy("expectation"))
