"""Temporal join operators the task brief calls out: as-of join and range
join — neither exists as a single Spark primitive; both are expressed as
compositions of built-ins chosen for their shuffle behavior at 100 TB
(task-brief "custom operators" route (a): composition over UDFs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, ts_us_long, ts_us_timestamp
from ..functions.helpers import dec_sum, o_sum
from ..registry import op

C = F.col


def asof_join_events(ev: DataFrame, probe_type: str, ref_type: str) -> DataFrame:
    """AS-OF: for each ``probe_type`` event, the nearest *preceding*
    ``ref_type`` event of the same user.

    Implementation: union-free single pass — sort each user's partition
    once, carry the last reference timestamp forward with
    last(..., ignorenulls) over an unbounded-preceding frame. ONE shuffle
    on user_id; no join, no explode — the classic merge-style as-of shape
    that survives any scale with a sane key cardinality.
    """
    w = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    ref_ts = F.when(C("event_type") == ref_type, C("ts_us"))
    with_ref = ev.withColumn("asof_ref_us",
                             F.last(ref_ts, ignorenulls=True).over(w))
    return (
        with_ref.filter(C("event_type") == probe_type)
        .select(
            "event_id", "user_id",
            F.expr("ts_us div 1000000").alias("ts_epoch"),
            F.expr("asof_ref_us div 1000000").alias("asof_ref_epoch"),
            ((C("ts_us") - C("asof_ref_us")) / 1_000_000).cast("bigint")
            .alias("gap_seconds"),
        )
    )


@op("ext_asof_join", oracle="""
    WITH e AS (
        SELECT event_id, user_id, event_type,
               epoch_us(ts) AS ts_us,
               LAST_VALUE(CASE WHEN event_type = 'purchase'
                               THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS UNBOUNDED PRECEDING) AS asof_ref_us
        FROM events
    )
    SELECT event_id, user_id,
           CAST(ts_us // 1000000 AS BIGINT)                        AS ts_epoch,
           CAST(asof_ref_us // 1000000 AS BIGINT)                  AS asof_ref_epoch,
           CAST((ts_us - asof_ref_us) // 1000000 AS BIGINT)        AS gap_seconds
    FROM e
    WHERE event_type = 'error'
""")
def ext_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each error event paired with the user's most recent
    preceding purchase (µs precision shared with the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", ts_us_long(ev))
    return asof_join_events(ev, probe_type="error", ref_type="purchase")


# Value bands for the range join: [lo, hi) tiers of events.value.
BAND_WIDTH = 50


@op("ext_range_join", oracle=f"""
    SELECT t.tier_name,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {o_sum('e.value')} AS sum_value
    FROM events e
    JOIN (VALUES ('t0', 0), ('t1', 1), ('t2', 2), ('t3', 3))
         AS t(tier_name, band)
      ON CAST(FLOOR(e.value / {BAND_WIDTH}) AS INT) = t.band
    GROUP BY t.tier_name
""")
def ext_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (value ∈ [lo, hi) tier) via the *binning* rewrite: when
    range boundaries are regular, `floor(value/width)` turns the range
    predicate into an equi-join key — a hash join instead of the
    broadcast-nested-loop plan a raw `BETWEEN` join degenerates to. The
    tier table is broadcast either way; binning is what keeps this a
    single-pass hash join when the build side is NOT broadcastable.
    """
    ev = load_table(spark, sf_dir, "events")
    tiers = spark.createDataFrame(
        [(f"t{i}", i) for i in range(4)], "tier_name string, band int")
    binned = ev.withColumn(
        "band", F.floor(C("value") / BAND_WIDTH).cast("int"))
    return (
        binned.join(F.broadcast(tiers), "band")
        .groupBy("tier_name")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dec_sum(C("value")).alias("sum_value"),
        )
    )


@op("ext_gap_fill", oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               DATE_TRUNC('hour', ts) AS h,
               CAST(COUNT(*) AS BIGINT) AS cnt,
               {o_sum('value')} AS sum_value
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY 1
    ), series AS (
        SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        FROM bounds
    )
    SELECT s.event_type,
           CAST(epoch(s.h) AS BIGINT)       AS bucket_epoch,
           COALESCE(hourly.cnt, 0)          AS cnt,
           COALESCE(hourly.sum_value, 0.0)  AS sum_value,
           LAST_VALUE(hourly.sum_value IGNORE NULLS) OVER (
               PARTITION BY s.event_type ORDER BY s.h
               ROWS UNBOUNDED PRECEDING)    AS locf_value
    FROM series s LEFT JOIN hourly USING (event_type, h)
""")
def ext_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling (hypertable `time_bucket_gapfill` shape):
    per event type, the dense hourly series between that type's first and
    last event — missing hours materialized with zero counts plus a
    last-observation-carried-forward value column.

    Shape at scale: the hourly pre-aggregation collapses the raw stream to
    (#types × #hours) rows BEFORE the series is generated, so the dense
    grid (sequence + explode) and the LOCF window run on bucket-cardinality
    data — gap filling never touches raw-event volume. One shuffle for the
    pre-agg, one bucket-sized one for the window.
    """
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", ts_us_timestamp(ev))
    hourly = (
        ev.groupBy("event_type", F.date_trunc("hour", C("ts_us")).alias("h"))
        .agg(F.count(F.lit(1)).alias("cnt"),
             dec_sum(C("value")).alias("sum_value"))
    )
    series = (
        hourly.groupBy("event_type")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select("event_type",
                F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR")))
                .alias("h"))
    )
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (
        series.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_timestamp("h").cast("bigint").alias("bucket_epoch"),
            F.coalesce(C("cnt"), F.lit(0)).alias("cnt"),
            F.coalesce(C("sum_value"), F.lit(0.0)).alias("sum_value"),
            F.last("sum_value", ignorenulls=True).over(w).alias("locf_value"),
        )
    )


FUNNEL_STEPS = ("view", "click", "purchase")

_FUNNEL_SQL = """
    WITH s1 AS (
        SELECT user_id, MIN(epoch_us(ts)) AS t1
        FROM events WHERE event_type = 'view' GROUP BY 1
    ), s2 AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
        GROUP BY 1
    ), s3 AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
        GROUP BY 1
    )
    SELECT * FROM (
        SELECT 1 AS step, 'view' AS event_type,
               CAST((SELECT COUNT(*) FROM s1) AS BIGINT) AS n_users
        UNION ALL
        SELECT 2, 'click',    CAST((SELECT COUNT(*) FROM s2) AS BIGINT)
        UNION ALL
        SELECT 3, 'purchase', CAST((SELECT COUNT(*) FROM s3) AS BIGINT)
    )
"""


@op("ext_funnel", oracle=_FUNNEL_SQL)
def ext_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): users counted at
    step k must have performed step k strictly AFTER their first completion
    of step k-1 — the product-analytics op every event warehouse grows.

    Shape at scale: ONE hash(user_id) exchange serves the whole funnel —
    each step's first-completion time is a conditional MIN window over the
    same user partition (t2's window predicate references the t1 column
    computed one select earlier: three Window passes, zero new exchanges,
    all codegen), then one per-user collapse (no exchange — same
    partitioning) and one scalar count row exploded to the 3-step table.
    A first draft chained stage-join-stage aggregates through a UNION and
    re-computed the events subtree per branch — 9 exchanges and 6 scans;
    this form measures 2 exchanges and 1 scan with identical results (the
    repo's feed-one-subtree-to-two-consumers lesson, again).
    """
    ev = load_table(spark, sf_dir, "events")
    ev = (ev.withColumn("us", ts_us_long(ev))
          .filter(C("event_type").isin(*FUNNEL_STEPS))
          .select("user_id", "event_type", "us"))
    return funnel_counts(ev)


def funnel_counts(ev: DataFrame,
                  steps: tuple[str, str, str] = FUNNEL_STEPS) -> DataFrame:
    """Core funnel over (user_id, event_type, us) rows — see ext_funnel.
    Strictness contract (pinned by tests/test_funnel_semantics.py): step k
    counts a user only when an event of step k happened STRICTLY AFTER the
    user's first qualifying step-(k-1) time; equal timestamps don't
    qualify; step-k events before step k-1 never count."""
    w = Window.partitionBy("user_id")
    t1 = F.min(F.when(C("event_type") == steps[0], C("us"))).over(w)
    per_user = ev.withColumn("t1", t1)
    t2 = F.min(F.when((C("event_type") == steps[1])
                      & (C("us") > C("t1")), C("us"))).over(w)
    per_user = per_user.withColumn("t2", t2)
    t3 = F.min(F.when((C("event_type") == steps[2])
                      & (C("us") > C("t2")), C("us"))).over(w)
    per_user = per_user.withColumn("t3", t3)
    flags = (per_user.groupBy("user_id")
             .agg(F.first("t1").alias("t1"), F.first("t2").alias("t2"),
                  F.first("t3").alias("t3")))
    totals = flags.agg(
        F.count("t1").alias("c1"), F.count("t2").alias("c2"),
        F.count("t3").alias("c3"))
    return totals.select(F.expr(
        "stack(3, 1, '{0}', c1, 2, '{1}', c2, 3, '{2}', c3) "
        "AS (step, event_type, n_users)".format(*steps)))


@op("ext_retention", oracle="""
    WITH fd AS (
        SELECT user_id, MIN(DATE_TRUNC('day', ts)) AS d0
        FROM events GROUP BY 1
    )
    SELECT CAST(epoch(fd.d0) AS BIGINT)                              AS cohort_epoch,
           CAST(date_diff('day', fd.d0, DATE_TRUNC('day', e.ts)) AS INT)
                                                                     AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT)                 AS n_users
    FROM events e JOIN fd ON fd.user_id = e.user_id
    GROUP BY 1, 2
""")
def ext_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day (cohort),
    counted as retained for every later day they produce any event — the
    other canonical product-analytics aggregation beside ext_funnel.

    Shape at scale: the first-seen day is a MIN window over the user
    partition — no self-join, no second scan (the join spelling recomputed
    the events subtree for both join sides: 3 exchanges; this form is 2 —
    the user window + the final two-phase COUNT DISTINCT). Cohort tables
    are (days × offsets) tiny — the output never scales with event volume.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", ts_us_timestamp(ev))
    with_day = ev.select("user_id", day.alias("d"))
    d0 = F.min("d").over(Window.partitionBy("user_id"))
    return (
        with_day.withColumn("d0", d0)
        .groupBy(
            F.unix_timestamp("d0").cast("bigint").alias("cohort_epoch"),
            F.datediff(C("d"), C("d0")).cast("int").alias("day_offset"))
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
