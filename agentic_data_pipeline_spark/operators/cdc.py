"""Change-data & corpus-maintenance operators (beyond-reference, 100 TB
surface): latest-record-per-key compaction, incremental corpus dedup, and
small-file compaction of the bronze lake.

The reference has no incremental story at all — its lake is one parquet
file overwritten per save (reference engine.py:46-50). These ops are the
three maintenance primitives every production lake needs on day 2: collapse
a CDC/event stream to current state, admit only genuinely-new documents
from a fresh crawl batch, and keep file sizes healthy as appends accumulate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, read_parquet, ts_us_long
from ..registry import op

C = F.col


@op("ext_latest_by_key", oracle="""
    SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type, value
    FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
""")
def ext_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key (the CDC compaction / SCD-1 snapshot op):
    each user's most recent event, ties broken by event_id.

    Shape at scale: `max_by` is a declarative aggregate, so Spark runs a
    map-side partial per input partition and shuffles ONE candidate row
    per (key, partition) — versus the window-function spelling (the
    oracle's QUALIFY), which must shuffle and sort EVERY row. At 100 TB of
    events with ~1e8 users that's the difference between shuffling ~1e8
    rows and shuffling the full fact table. The struct ordering key makes
    the tiebreak total, so output is deterministic.
    """
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", ts_us_long(ev))  # µs: shared with the oracle
    latest = F.max_by(
        F.struct("event_id", "event_type", "value"),
        F.struct("ts_us", "event_id"))
    return (ev.groupBy("user_id")
            .agg(latest.alias("s"), F.max("ts_us").alias("ts_us"))
            .select("user_id", C("s.event_id").alias("event_id"), "ts_us",
                    C("s.event_type").alias("event_type"),
                    C("s.value").alias("value")))


_FP_SQL = r"md5(lower(regexp_replace(text, '\s+', ' ', 'g')))"


def _fp(text):
    return F.md5(F.encode(F.lower(F.regexp_replace(text, r"\s+", " ")),
                          "utf-8"))


@op("ext_dedup_incremental", oracle=rf"""
    WITH fp AS (
        SELECT doc_id, source, {_FP_SQL} AS fp FROM documents
    ), batch AS (
        SELECT doc_id, fp FROM fp WHERE source = 'src0'
        QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1
    )
    SELECT b.doc_id, b.fp
    FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM fp c
                      WHERE c.source <> 'src0' AND c.fp = b.fp)
""")
def ext_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup (the production admission shape): a new
    crawl batch (source = 'src0' stands in for it) is first deduped
    against itself (first doc_id per fingerprint survives), then
    anti-joined against the existing corpus's fingerprint index — only
    documents never seen before are admitted.

    Shape at scale: the corpus side is fingerprints only (16-byte md5),
    never full text — at 100 TB that index is a separate bucketed table
    maintained across batches, so the anti join co-locates by bucket and
    only the (much smaller) incoming batch shuffles. Nothing here
    re-reads or re-hashes the historical corpus text per batch.
    """
    docs = load_table(spark, sf_dir, "documents")
    fps = docs.select("doc_id", "source", _fp(C("text")).alias("fp"))
    w = Window.partitionBy("fp").orderBy("doc_id")
    batch = (fps.filter(C("source") == "src0")
             .withColumn("rn", F.row_number().over(w))
             .filter(C("rn") == 1)
             .select("doc_id", "fp"))
    corpus_index = fps.filter(C("source") != "src0").select("fp")
    return batch.join(corpus_index, "fp", "left_anti") \
                .select("doc_id", "fp")


@op("ext_compact_files", oracle="SELECT * FROM supplier")
def ext_compact_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (bronze lake maintenance): a table fragmented
    into many tiny files — the inevitable residue of streaming/incremental
    appends — is rewritten into few right-sized files. Content is
    bit-identical before and after (the oracle is the original table).

    Shape at scale: `coalesce` (not `repartition`) merges partitions
    WITHOUT a shuffle — each output task concatenates several input
    splits. Target file count = ceil(input_bytes / 128 MiB), computed from
    the source listing, so output files land on the parquet row-group
    sweet spot regardless of how fragmented the input was. At 100 TB this
    runs per-partition-directory (compact only partitions whose mean file
    size is small), never over the whole table at once.
    """
    from .reference_ops import _scratch
    from ..sources.compaction import compact_parquet

    supp = load_table(spark, sf_dir, "supplier")
    frag = _scratch("compact", "supplier_fragmented")
    supp.repartition(32).write.mode("overwrite").parquet(frag)
    out = _scratch("compact", "supplier_compacted")
    compact_parquet(spark, frag, out)
    return read_parquet(spark, out)


# ------------------------------------------------------------------ z-order

Z_BITS = 16          # per-dimension bit budget (fixture cardinalities fit)
Z_BUCKET_SHIFT = 18  # bucket = z >> 18 → per-bucket span < 2^9 in BOTH dims

_Z_TERMS_SQL = " + ".join(
    f"((((x) >> {i}) & 1) << {2 * i}) + ((((y) >> {i}) & 1) << {2 * i + 1})"
    for i in range(Z_BITS)
)

# The oracle mirrors _budget_or_bin exactly for BOTH dimensions: shift to a
# 0-based offset, and when the span exceeds the 2^Z_BITS budget, equal-width
# bin with d = ceil((span+1)/2^Z_BITS) via float-divide-then-floor — the
# same expression the Spark side evaluates, so in-budget AND binned lakes
# hash-match (a 1-based or sparse user_id space no longer silently diverges).
_ZORDER_SQL = f"""
    WITH st AS (
        SELECT MIN(user_id) AS mn_u, MAX(user_id) AS mx_u,
               MIN(epoch_us(ts) // 3600000000) AS mn_h,
               MAX(epoch_us(ts) // 3600000000) AS mx_h
        FROM events
    ), b AS (
        SELECT CASE WHEN (st.mx_u - st.mn_u) < {1 << Z_BITS}
                    THEN user_id - st.mn_u
                    ELSE CAST(FLOOR((user_id - st.mn_u) / CAST(
                         (((st.mx_u - st.mn_u) + {1 << Z_BITS}) >> {Z_BITS})
                         AS DOUBLE)) AS BIGINT)
               END AS x,
               CASE WHEN (st.mx_h - st.mn_h) < {1 << Z_BITS}
                    THEN (epoch_us(ts) // 3600000000) - st.mn_h
                    ELSE CAST(FLOOR(((epoch_us(ts) // 3600000000) - st.mn_h)
                         / CAST(
                         (((st.mx_h - st.mn_h) + {1 << Z_BITS}) >> {Z_BITS})
                         AS DOUBLE)) AS BIGINT)
               END AS y
        FROM events, st
    ), z AS (
        SELECT x, y, ({_Z_TERMS_SQL}) AS zv FROM b
    )
    SELECT zv >> {Z_BUCKET_SHIFT}      AS z_bucket,
           CAST(COUNT(*) AS BIGINT)    AS n_events,
           MIN(x) AS u_min, MAX(x) AS u_max,
           MIN(y) AS h_min, MAX(y) AS h_max
    FROM z GROUP BY 1
"""


def z_interleave(x, y, bits: int = Z_BITS):
    """Morton/Z-value: interleave the low `bits` of two non-negative ints
    (x → even bit positions, y → odd). Pure codegen integer arithmetic —
    the identical expression tree the oracle SQL spells, so the two
    engines agree bit-for-bit."""
    z = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (z
             + F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1))
                           .cast("bigint"), 2 * i)
             + F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1))
                           .cast("bigint"), 2 * i + 1))
    return z


def _budget_or_bin(col, mn: int, mx: int, bits: int = Z_BITS):
    """Shift `col` to a 0-based offset; when the span exceeds the per-dim
    bit budget, equal-width-bin it onto [0, 2^bits): bin = off // d with
    d = ceil((span+1) / 2^bits) — a monotonic integer map, so the Morton
    curve's per-bucket span bound transfers to the bins. d is a driver-side
    constant; floor(off/d) is exact for offsets < 2^53 (double mantissa),
    i.e. any realistic key space."""
    span = mx - mn
    off = (col - F.lit(mn)).cast("bigint")
    if span < (1 << bits):
        return off
    d = (span + (1 << bits)) >> bits          # ceil((span+1) / 2^bits)
    return F.floor(off / F.lit(float(d))).cast("bigint")


@op("ext_zorder_cluster", oracle=_ZORDER_SQL)
def ext_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering report over (user_id, event-hour) —
    the lake-layout op behind multi-dimensional data skipping (Delta's
    OPTIMIZE ZORDER BY, Hudi clustering): sort/bucket rows by interleaved
    bits of both columns and file-level min/max stats become tight in BOTH
    dimensions at once, so a scan filtered on either column prunes files.

    The report emits per-z-bucket row counts and min/max spans; the curve
    guarantees every bucket spans < 2^(Z_BUCKET_SHIFT/2) distinct values
    per dimension (bits above the bucket cut are frozen) — the property
    pytest asserts and the reason skipping works.

    Scale shape: one map pass computes z (32 integer ops, codegen), one
    shuffle groups by bucket — and in a real table rewrite the same z
    expression feeds `repartitionByRange(z).sortWithinPartitions(z)` +
    parquet write, which is exactly how OPTIMIZE ZORDER materializes. The
    16-bit budget covers the fixture cardinalities; any dimension that
    exceeds it is equal-width range-binned onto [0, 2^16) first
    (_budget_or_bin — exact integer arithmetic, order-preserving, so the
    curve property holds on the bins; tests/test_zorder_binned.py pins
    the out-of-budget path on synthetic 10^7-cardinality keys).
    """
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("__us", ts_us_long(ev))
    hour_abs = F.expr("__us div 3600000000")
    # One tiny agg gives the offsets AND the bit-budget check: the
    # interleave silently drops bits above Z_BITS, which would collapse
    # distant keys into one bucket. Per-dimension, out-of-budget inputs
    # fall back to RANGE BINNING: exact equal-width integer scaling onto
    # [0, 2^Z_BITS) — a monotonic map, so the curve's per-bucket span
    # guarantee transfers to the bins (production variants may swap in
    # approx-quantile bins for skewed keys at the cost of determinism).
    # _ZORDER_SQL spells the identical offset-and-bin CASE for both
    # dimensions, so the oracle covers the identity AND binned paths;
    # tests/test_zorder_binned.py additionally hash-compares both engines
    # on a synthetic out-of-budget lake.
    st = ev.agg(F.min("user_id").alias("mn_u"), F.max("user_id").alias("mx_u"),
                F.min(hour_abs).alias("mn_h"), F.max(hour_abs).alias("mx_h"),
                ).collect()[0]
    b = ev.select(
        _budget_or_bin(C("user_id"), st["mn_u"], st["mx_u"]).alias("x"),
        _budget_or_bin(hour_abs, st["mn_h"], st["mx_h"]).alias("y"))
    z = z_interleave(C("x"), C("y"))
    return (
        b.select("x", "y", z.alias("zv"))
        .groupBy(F.shiftright(C("zv"), Z_BUCKET_SHIFT).alias("z_bucket"))
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min("x").alias("u_min"), F.max("x").alias("u_max"),
             F.min("y").alias("h_min"), F.max("y").alias("h_max"))
    )


@op("ext_skew_report", oracle="""
    WITH k AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT)          AS n_keys,
           CAST(SUM(n) AS BIGINT)            AS n_rows,
           CAST(MAX(n) AS BIGINT)            AS max_key_rows,
           ROUND(quantile_cont(n, 0.5), 6)   AS p50_key_rows,
           ROUND(quantile_cont(n, 0.99), 6)  AS p99_key_rows,
           FLOOR(CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n) * 1e6) / 1e6
                                             AS skew_factor
    FROM k
""")
def ext_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/agg-key skew diagnostics over events.user_id: per-key row
    counts reduced to n_keys / max / p50 / p99 / skew_factor (max ÷ mean).
    This is the pre-flight you run BEFORE sizing a shuffle at 100 TB — it
    tells you whether the key needs salting (ext_salted_join), AQE
    skew-split thresholds, or nothing. skew_factor ≈ 1 means uniform;
    ≥ 10 means the hottest key dominates a partition.

    Shape: one partial+final count per key (the same exchange any join on
    the key would pay — so the report costs what one shuffle costs), then
    a single-row global aggregate with EXACT interpolated percentiles
    (percentile/quantile_cont agree across engines; approx variants can't
    hash-match). At 100 TB run it on a day partition or a deterministic
    sample (ext_sample_stratified) — skew is a distribution property.
    """
    ev = load_table(spark, sf_dir, "events")
    k = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return k.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_key_rows"),
        F.round(F.percentile("n", F.lit(0.5)), 6).alias("p50_key_rows"),
        F.round(F.percentile("n", F.lit(0.99)), 6).alias("p99_key_rows"),
        # floor, not round: int-ratio skew factor (see text.py note)
        (F.floor(F.max("n").cast("double") * F.count(F.lit(1)) / F.sum("n")
                 * 1e6) / 1e6).alias("skew_factor"),
    )


@op("ext_scd2_history", oracle="""
    SELECT user_id, event_id,
           epoch_us(ts) AS valid_from_us,
           LEAD(epoch_us(ts)) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id)
               AS valid_to_us,
           value
    FROM events
""")
def ext_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history build: each event becomes a version row with a
    [valid_from, valid_to) interval; the current version carries NULL
    valid_to. The temporal-versioning twin of ext_latest_by_key (which
    keeps only the final version) — together they are the two standard
    materializations of a CDC stream into a warehouse.

    Shape at scale: one shuffle on the entity key and a per-key sort for
    the LEAD window — the minimum any interval construction needs; at
    100 TB the events table is range-partitioned by ingest day, so the
    window runs per (key) inside each day-partition batch and intervals
    spanning batch boundaries are stitched by the merge_upsert path.
    """
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("valid_from_us", ts_us_long(ev))
    w = Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
    return ev.select(
        "user_id", "event_id", "valid_from_us",
        F.lead("valid_from_us").over(w).alias("valid_to_us"),
        "value",
    )


@op("ext_bucketed_join", oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * 100, 0) AS BIGINT))
                AS DOUBLE) / 100.0 AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
""")
def ext_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over PRE-BUCKETED tables: lineitem and orders are
    written bucketBy(8, orderkey) + sortBy at "ingest time", so the join
    plans as a sort-merge with NO Exchange on either side (the `merge`
    hint forbids a broadcast fallback from hiding the property; the plan
    test pins the only exchange to the final small-key aggregate).

    THE 100 TB lever for repeated fact-fact joins: bucketing trades one
    up-front ingest-time shuffle for zero shuffle on every subsequent
    orderkey join — at 1000 executors the difference between moving the
    fact tables per query and a partition-local merge. Tables are
    external (explicit .tmp path) and per-tier; the in-memory catalog
    makes them session-scoped, so each session pays one bucketed write —
    the honest stand-in for a persistent metastore.
    """
    import os

    from .reference_ops import _lake_fp, _sf_scratch

    names = {}
    for t, key in (("orders", "o_orderkey"), ("lineitem", "l_orderkey")):
        tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
        name = f"b_{t}_{tag}"
        path = _sf_scratch(sf_dir, "bucketed", name)
        # Cache keyed on (catalog entry, source fingerprint): tableExists
        # alone would serve stale prior-generation bytes if the lake is
        # regenerated within a session (the hazard _lake_fp documents) —
        # the sidecar is written LAST so a crash mid-write never leaves a
        # valid-looking marker (same protocol as _materialize_once).
        fp = _lake_fp(sf_dir, t)
        sidecar = path + ".fpr"
        fresh = False
        if spark.catalog.tableExists(name):
            if os.path.isfile(sidecar):
                with open(sidecar) as f:
                    fresh = f.read() == fp
            if not fresh:
                spark.sql(f"DROP TABLE IF EXISTS {name}")
        if not fresh:
            if os.path.isfile(sidecar):
                os.remove(sidecar)
            (load_table(spark, sf_dir, t).write.mode("overwrite")
             .bucketBy(8, key).sortBy(key)
             .option("path", path)
             .saveAsTable(name))
            tmp = sidecar + ".tmp"
            with open(tmp, "w") as f:
                f.write(fp)
            os.replace(tmp, sidecar)
        names[t] = name
    li, o = spark.table(names["lineitem"]), spark.table(names["orders"])
    return (li.hint("merge")
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 (F.sum(F.round(C("l_extendedprice") * 100, 0).cast("bigint"))
                  .cast("double") / 100.0).alias("revenue")))


@op("ext_cdc_changelog", oracle="""
    WITH old_base AS (
        SELECT * FROM events
        WHERE event_id < (SELECT MAX(event_id) / 2 FROM events)
    ),
    old_last AS (
        SELECT user_id, event_id AS last_id FROM old_base
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
    ),
    old_s AS (
        SELECT b.user_id, CAST(COUNT(*) AS BIGINT) AS n,
               MAX(l.last_id) AS last_id
        FROM old_base b JOIN old_last l USING (user_id)
        GROUP BY b.user_id
    ),
    new_last AS (
        SELECT user_id, event_id AS last_id FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY epoch_us(ts) DESC, event_id DESC) = 1
    ),
    new_s AS (
        SELECT e.user_id, CAST(COUNT(*) AS BIGINT) AS n,
               MAX(l.last_id) AS last_id
        FROM events e JOIN new_last l USING (user_id)
        GROUP BY e.user_id
    )
    SELECT COALESCE(o.user_id, n.user_id) AS user_id,
           CASE WHEN o.user_id IS NULL THEN 'insert'
                WHEN o.n <> n.n OR o.last_id <> n.last_id THEN 'update'
                ELSE 'unchanged' END AS change,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS old_n,
           n.n AS new_n
    FROM old_s o FULL OUTER JOIN new_s n ON o.user_id = n.user_id
""")
def ext_cdc_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff changelog: compare per-key state between an older
    snapshot (events below the event_id midpoint — a deterministic stand-
    in for "yesterday's table") and the current one, emitting
    insert/update/unchanged per key — the table-diff that seeds an
    incremental downstream refresh when no CDC feed exists.

    Shape at scale: two key-level aggregates (map-side combined, one
    shuffle each on user_id) + ONE full-outer join on the same key — AQE
    reuses the agg partitioning, so the join adds no exchange. Never
    row-by-row: the diff is set arithmetic on aggregates.
    """
    from ..catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", ts_us_long(ev))
    cut = ev.agg((F.max("event_id") / 2).alias("c"))
    agg = lambda df: (df.groupBy("user_id")  # noqa: E731
                      .agg(F.count(F.lit(1)).alias("n"),
                           F.max_by("event_id", F.struct("ts_us", "event_id"))
                           .alias("last_id")))
    old_s = agg(ev.join(F.broadcast(cut)).filter(C("event_id") < C("c")))
    new_s = agg(ev)
    o = old_s.select(C("user_id").alias("o_uid"), C("n").alias("old_n0"),
                     C("last_id").alias("o_last"))
    n = new_s.select(C("user_id").alias("n_uid"), C("n").alias("new_n"),
                     C("last_id").alias("n_last"))
    change = (F.when(C("o_uid").isNull(), "insert")
              .when((C("old_n0") != C("new_n"))
                    | (C("o_last") != C("n_last")), "update")
              .otherwise("unchanged"))
    return (o.join(n, C("o_uid") == C("n_uid"), "full_outer")
            .select(F.coalesce(C("o_uid"), C("n_uid")).alias("user_id"),
                    change.alias("change"),
                    F.coalesce(C("old_n0"), F.lit(0)).cast("bigint")
                    .alias("old_n"),
                    C("new_n")))


# --- snapshot-versioned storage (sources/snapshots.py: Iceberg's manifest
# commit model over plain parquet). The table is built ONCE per lake
# generation (fingerprint-keyed): v1 appends the first event_id third,
# v2 appends the second, v3 OVERWRITES with the last third — so the three
# manifests reference overlapping-but-different file sets and every
# version stays readable after the overwrite.

def _snapshot_fixture(spark: SparkSession, sf_dir: str) -> str:
    import duckdb

    from ..catalog import table_path
    from ..sources.snapshots import commit_snapshot
    from .reference_ops import _lake_fp, _materialize_once, _sf_scratch

    table = _sf_scratch(sf_dir, "snap_table")

    def build() -> None:
        import shutil

        shutil.rmtree(table, ignore_errors=True)
        lake = table_path(sf_dir, "events")
        con = duckdb.connect()
        mx = con.execute(
            f"SELECT MAX(event_id) FROM read_parquet('{lake}')").fetchone()[0]
        t1, t2 = mx // 3, 2 * mx // 3
        ev = load_table(spark, sf_dir, "events")
        commit_snapshot(ev.filter(C("event_id") < t1), table, "append")
        commit_snapshot(
            ev.filter((C("event_id") >= t1) & (C("event_id") < t2)),
            table, "append")
        commit_snapshot(ev.filter(C("event_id") >= t2), table, "overwrite")
        os.makedirs(table, exist_ok=True)
        open(os.path.join(table, "_SUCCESS"), "w").close()

    _materialize_once(table, build, _lake_fp(sf_dir, "events"))
    return table


@op("ext_snapshot_versions", oracle="""
    WITH b AS (SELECT MAX(event_id) // 3 AS t1,
                      2 * MAX(event_id) // 3 AS t2 FROM events),
    tagged AS (
        SELECT v.v AS version, e.value
        FROM events e CROSS JOIN b, UNNEST([1, 2, 3]) AS v(v)
        WHERE (v.v = 1 AND e.event_id < b.t1)
           OR (v.v = 2 AND e.event_id < b.t2)
           OR (v.v = 3 AND e.event_id >= b.t2)
    )
    SELECT CAST(version AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM tagged GROUP BY version
""")
def ext_snapshot_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation + time travel over the manifest-committed table
    (sources/snapshots.py): read EVERY version of a table whose history
    is append → append → overwrite, and aggregate each. v1/v2 remain
    exactly readable after v3's overwrite because the overwrite only
    published a new manifest — the oracle replays each snapshot's
    membership from the event_id thirds, so hash parity proves the
    manifest resolution returns precisely the right file sets for every
    historical version. Planning is O(manifest) driver work; each scan is
    an ordinary parquet read of only that snapshot's files."""
    from functools import reduce

    from ..sources.snapshots import read_snapshot, snapshot_versions

    table = _snapshot_fixture(spark, sf_dir)
    parts = [
        read_snapshot(spark, table, v)
        .agg(F.count(F.lit(1)).alias("n_rows"),
             (F.sum(F.round(C("value") * 100, 0).cast("bigint"))
              .cast("double") / 100.0).alias("sum_value"))
        .select(F.lit(v).cast("int").alias("version"), "n_rows", "sum_value")
        for v in snapshot_versions(table)
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


def _snapshot_expire_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Separate table from _snapshot_fixture (maintenance MUTATES history;
    the versions/diff ops need theirs intact): same append → append →
    overwrite history, plus a planted ORPHAN data file simulating a
    crashed commit (written, never published in any manifest)."""
    import duckdb

    from ..catalog import table_path
    from ..sources.snapshots import commit_snapshot
    from .reference_ops import _lake_fp, _materialize_once, _sf_scratch

    table = _sf_scratch(sf_dir, "snap_expire_table")

    def build() -> None:
        import shutil

        shutil.rmtree(table, ignore_errors=True)
        lake = table_path(sf_dir, "events")
        con = duckdb.connect()
        mx = con.execute(
            f"SELECT MAX(event_id) FROM read_parquet('{lake}')").fetchone()[0]
        t1, t2 = mx // 3, 2 * mx // 3
        ev = load_table(spark, sf_dir, "events")
        commit_snapshot(ev.filter(C("event_id") < t1), table, "append")
        commit_snapshot(
            ev.filter((C("event_id") >= t1) & (C("event_id") < t2)),
            table, "append")
        commit_snapshot(ev.filter(C("event_id") >= t2), table, "overwrite")
        with open(os.path.join(table, "data",
                               "crashed-commit-orphan.parquet"), "wb") as f:
            f.write(b"\x00" * 64)  # unpublished: invisible to every reader
        os.makedirs(table, exist_ok=True)
        open(os.path.join(table, "_SUCCESS"), "w").close()

    _materialize_once(table, build, _lake_fp(sf_dir, "events"))
    return table


@op("ext_snapshot_expire", oracle="""
    WITH b AS (SELECT 2 * MAX(event_id) // 3 AS t2 FROM events)
    SELECT CAST(4 AS INT) AS version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value,
           CAST(1 AS BIGINT) AS versions_remaining,
           TRUE AS storage_matches_manifest
    FROM events, b WHERE event_id >= b.t2
""")
def ext_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot lake MAINTENANCE end-to-end (sources/snapshots.py): over
    an append → append → overwrite history with a planted crashed-commit
    orphan file, run rewrite_data_files-style compaction (current
    snapshot → 1 file, committed as v4) then expire_snapshots(keep=1) —
    deleting v1–v3's manifests first, then GC'ing every data file no
    surviving manifest references, orphan included. The op reads the
    surviving snapshot AFTER maintenance and emits its aggregate plus
    the storage invariants; the oracle recomputes the aggregate from the
    event_id thirds and asserts the invariants as literal TRUE/1 — so
    hash parity proves GC deleted precisely the dead files (data loss
    → aggregate mismatch; missed files/orphan → storage_matches_manifest
    false). Both phases are manifest-sized driver work; nothing scans
    data. Idempotent per lake generation: maintenance only runs while
    the table is at v3."""
    from ..sources.snapshots import (
        compact_snapshot, expire_snapshots, read_snapshot,
        snapshot_versions, _normalize_entry, _read_manifest,
    )

    table = _snapshot_expire_fixture(spark, sf_dir)
    if snapshot_versions(table)[-1] == 3:
        compact_snapshot(spark, table, target_files=1)
        expire_snapshots(table, keep_last=1)
    versions = snapshot_versions(table)
    manifest_files = {_normalize_entry(f)["path"]
                      for f in _read_manifest(table, versions[-1])["files"]}
    on_disk = {os.path.join("data", f)
               for f in os.listdir(os.path.join(table, "data"))}
    return (read_snapshot(spark, table)
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 (F.sum(F.round(C("value") * 100, 0).cast("bigint"))
                  .cast("double") / 100.0).alias("sum_value"))
            .select(F.lit(versions[-1]).cast("int").alias("version"),
                    "n_rows", "sum_value",
                    F.lit(len(versions)).cast("bigint")
                    .alias("versions_remaining"),
                    F.lit(on_disk == manifest_files)
                    .alias("storage_matches_manifest")))


@op("ext_time_travel_diff", oracle="""
    WITH b AS (SELECT MAX(event_id) // 3 AS t1,
                      2 * MAX(event_id) // 3 AS t2 FROM events),
    v1 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM events, b WHERE event_id < t1 GROUP BY event_type),
    v3 AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
           FROM events, b WHERE event_id >= t2 GROUP BY event_type)
    SELECT COALESCE(v1.event_type, v3.event_type) AS event_type,
           CAST(COALESCE(v1.n, 0) AS BIGINT) AS n_asof_v1,
           CAST(COALESCE(v3.n, 0) AS BIGINT) AS n_current,
           CAST(COALESCE(v3.n, 0) - COALESCE(v1.n, 0) AS BIGINT) AS delta
    FROM v1 FULL OUTER JOIN v3 ON v1.event_type = v3.event_type
""")
def ext_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel diff: per-event_type counts AS OF snapshot v1 vs the
    current snapshot (v3, which overwrote) — the audit query a lakehouse
    answers with `VERSION AS OF`, here answered by resolving two
    manifests of the same table and joining two ordinary aggregates."""
    from ..sources.snapshots import read_snapshot

    table = _snapshot_fixture(spark, sf_dir)
    counts = lambda df, name: (  # noqa: E731
        df.groupBy("event_type").agg(F.count(F.lit(1)).alias(name)))
    v1 = counts(read_snapshot(spark, table, 1), "n_asof_v1")
    v3 = counts(read_snapshot(spark, table, None), "n_current")  # latest
    return (v1.join(v3, "event_type", "full_outer")
            .select("event_type",
                    F.coalesce(C("n_asof_v1"), F.lit(0)).alias("n_asof_v1"),
                    F.coalesce(C("n_current"), F.lit(0)).alias("n_current"),
                    (F.coalesce(C("n_current"), F.lit(0))
                     - F.coalesce(C("n_asof_v1"), F.lit(0))).alias("delta")))


def _partition_evolution_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Snapshot table whose history EVOLVES its partition spec: v1 =
    first half of events partitioned by WEEK; v2 = append of the second
    half partitioned by (WEEK, DAY) — one live snapshot referencing files
    written under two specs, the situation real lakes are in after a
    repartitioning decision."""
    import duckdb

    from ..catalog import table_path, ts_us_timestamp
    from ..sources.snapshots import commit_snapshot
    from .reference_ops import _lake_fp, _materialize_once, _sf_scratch

    table = _sf_scratch(sf_dir, "snap_evolution_table")

    def build() -> None:
        import shutil

        shutil.rmtree(table, ignore_errors=True)
        lake = table_path(sf_dir, "events")
        con = duckdb.connect()
        mx = con.execute(
            f"SELECT MAX(event_id) FROM read_parquet('{lake}')"
        ).fetchone()[0]
        ev = load_table(spark, sf_dir, "events")
        ts = ts_us_timestamp(ev)
        ev = (ev.withColumn("week", F.date_trunc("week", ts)
                            .cast("date").cast("string"))
              .withColumn("day", ts.cast("date").cast("string")))
        commit_snapshot(ev.filter(C("event_id") < mx // 2), table,
                        "append", partition_by=["week"])
        commit_snapshot(ev.filter(C("event_id") >= mx // 2), table,
                        "append", partition_by=["week", "day"])
        os.makedirs(table, exist_ok=True)
        open(os.path.join(table, "_SUCCESS"), "w").close()

    _materialize_once(table, build, _lake_fp(sf_dir, "events"))
    return table


@op("ext_partition_evolution", oracle="""
    WITH w AS (
        SELECT CAST(CAST(date_trunc('week', MIN(ts)) AS DATE) AS VARCHAR)
                   AS wk,
               CAST(CAST(MIN(ts) AS DATE) AS VARCHAR) AS d0
        FROM events
    )
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE)
               / 100.0 AS sum_value,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events, w
            WHERE CAST(CAST(ts AS DATE) AS VARCHAR) = w.d0)
               AS min_day_rows,
           TRUE AS pruned_by_week,
           TRUE AS pruned_by_day
    FROM events, w
    WHERE CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR) = w.wk
    GROUP BY 1
""")
def ext_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition evolution (the one Iceberg-ish capability the snapshot
    lake lacked, r6 verdict item 6): the fixture table's v1 files are
    week-partitioned, its v2 appends are (week, day)-partitioned, and
    ONE snapshot references both. The op reads the live snapshot three
    ways and hash-proves pruning stays correct across the spec boundary:

    - per-day aggregate of the MIN week via a week-pruned read (both
      specs recorded `week`, so pruning hits every file family);
    - min_day_rows via a DAY-pruned read: day prunes only the new-spec
      files; old-spec files (no `day` key) are kept and row-filtered —
      the cross-boundary correctness rule (a spec that cannot answer a
      predicate never prunes);
    - pruned_by_week / pruned_by_day assert both pruned file lists are
      STRICT subsets of the full manifest (driver-side metadata only,
      no scan) — so the driver hash fails if pruning ever stops
      engaging OR starts dropping files it must keep (the aggregates
      would drift).

    Scale shape: pruning is O(manifest) driver work; every scan reads
    only surviving files; row-level filters still apply after pruning,
    so correctness never depends on the metadata."""
    from ..catalog import ts_us_timestamp
    from ..sources.snapshots import read_snapshot, snapshot_files

    table = _partition_evolution_fixture(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    ts = ts_us_timestamp(ev)
    bounds = (ev.agg(F.min(ts).alias("__t0")).first())
    wk = str(bounds["__t0"].date()
             - __import__("datetime").timedelta(
                 days=bounds["__t0"].weekday()))
    d0 = str(bounds["__t0"].date())

    all_files = snapshot_files(table)
    week_files = snapshot_files(table, eq={"week": wk})
    day_files = snapshot_files(table, eq={"day": d0})
    pruned_by_week = len(week_files) < len(all_files)
    pruned_by_day = len(day_files) < len(all_files)

    week_read = (read_snapshot(spark, table, eq={"week": wk})
                 .filter(C("week") == wk))
    day_probe = (read_snapshot(spark, table, eq={"day": d0})
                 .filter(C("day") == d0)
                 .agg(F.count(F.lit(1)).alias("min_day_rows")))
    return (week_read.groupBy("day")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 (F.sum(F.round(C("value") * 100, 0).cast("bigint"))
                  .cast("double") / 100.0).alias("sum_value"))
            .crossJoin(F.broadcast(day_probe))
            .select("day", "n_rows", "sum_value", "min_day_rows",
                    F.lit(pruned_by_week).alias("pruned_by_week"),
                    F.lit(pruned_by_day).alias("pruned_by_day")))
