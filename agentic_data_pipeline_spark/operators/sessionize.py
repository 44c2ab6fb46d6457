"""Batch sessionization (oracle-checked twin of streaming/sessions.py).

Plan shape: one shuffle on user_id for the lag/running-sum windows, then a
hash aggregate on (user, session) — both partition-local after the single
shuffle. This is the scalable batch form: no self-join, no explode; state
never leaves the executor that owns the user's partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, ts_us_long
from ..functions.helpers import dec_sum, o_sum
from ..registry import op

C = F.col

GAP_US = 30 * 60 * 1_000_000

# Shared with stream_sessionize (operators/streaming_ops.py): a single
# availableNow pass of the stateful stream reproduces this batch result.
SESSIONIZE_ORACLE = f"""
    WITH e AS (
        SELECT user_id,
               event_id,
               epoch_us(ts) AS ts_us,
               value,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > {GAP_US}
                    OR LAG(epoch_us(ts)) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts_us, value,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
        FROM e
    )
    SELECT user_id,
           CAST(session_id AS BIGINT)                       AS session_id,
           CAST(MIN(ts_us) // 1000000 AS BIGINT)            AS session_start_epoch,
           CAST(COUNT(*) AS BIGINT)                         AS n_events,
           {o_sum('value')}                                 AS sum_value
    FROM s
    GROUP BY user_id, session_id
"""


@op("ext_sessionize", oracle=SESSIONIZE_ORACLE)
def ext_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30 min) per user over the events table.

    Gap math runs on µs-truncated integers — the precision both engines
    share (events are ns; DuckDB reads them truncated to µs).
    """
    ev = load_table(spark, sf_dir, "events")
    ev = ev.withColumn("ts_us", ts_us_long(ev))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    new_s = F.when(
        F.lag("ts_us").over(w).isNull()
        | ((C("ts_us") - F.lag("ts_us").over(w)) > GAP_US),
        1,
    ).otherwise(0)
    wrun = Window.partitionBy("user_id").orderBy("ts_us", "event_id") \
        .rowsBetween(Window.unboundedPreceding, 0)
    sessions = ev.withColumn("new_s", new_s).withColumn(
        "session_id", F.sum("new_s").over(wrun)
    )
    return (
        sessions.groupBy("user_id", C("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.expr("min(ts_us) div 1000000").alias("session_start_epoch"),
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(C("value")).alias("sum_value"),
        )
    )
