"""Flagship query (SURVEY.md §7 Phase 1): TPC-H-Q1-style pricing summary.

scan → pushed-down filter → partial+final hash aggregate → sort: the
canonical shape of the reference's analytic surface, and the first thing
`entry()` proves end-to-end. At 100 TB this plan is: parquet scan with
predicate pushdown + column pruning (only 7 of 11 columns read), map-side
partial aggregation into ~6 groups (tiny shuffle), AQE-coalesced final agg.

All money arithmetic is exact fixed-point cents *before* any aggregation
(functions.helpers owns the rules and their oracle twins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.helpers import (
    cents, dec_avg, dec_sum, o_avg, o_cents, o_rev_c, o_revenue, o_sum,
    rev_c, revenue,
)
from ..registry import op

C = F.col


@op("q1_pricing_summary", oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {o_sum('l_quantity')} AS sum_qty,
           {o_sum('l_extendedprice')} AS sum_base_price,
           {o_revenue(o_rev_c())} AS sum_disc_price,
           CAST(SUM({o_rev_c()} * (100 + {o_cents('l_tax')})) AS DOUBLE)
               / 1000000.0 AS sum_charge,
           {o_avg('l_quantity')} AS avg_qty,
           {o_avg('l_extendedprice')} AS avg_price,
           {o_avg('l_discount')} AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary by return flag / line status (TPC-H Q1 shape)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price_c = rev_c()                     # exact, 1e-4 currency units
    charge_c = disc_price_c * (100 + cents("l_tax"))   # exact, 1e-6 units
    return (
        li.filter(C("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            dec_sum("l_extendedprice").alias("sum_base_price"),
            revenue(disc_price_c).alias("sum_disc_price"),
            (F.sum(charge_c).cast("double") / 1000000.0).alias("sum_charge"),
            dec_avg("l_quantity").alias("avg_qty"),
            dec_avg("l_extendedprice").alias("avg_price"),
            dec_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
