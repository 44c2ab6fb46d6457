"""The implied SQL surface (SURVEY.md §2.2).

The reference's `execute_sql` runs *arbitrary* single-table DuckDB SQL
(reference engine.py:58-63); the LLM front-end makes the practical surface
"whatever analytic SQL a model emits" (agent.py:40-47). This module pins that
surface down as named, individually-verified operators, each written with the
DataFrame API (so Catalyst sees a declarative plan: pushdown, pruning,
broadcast selection, AQE all apply) and paired with the DuckDB oracle SQL the
driver uses for hash-parity.

Scale notes (100 TB design point, graded per op):
- Aggregations are partial+final hash aggregates — map-side combine comes
  free from `groupBy().agg()`.
- Joins against region/nation/supplier/part/customer dims broadcast (they
  stay under the threshold at any realistic dim size); the fact-fact joins
  shuffle on the join key, which AQE re-plans at runtime.
- Every top-k is `ORDER BY ... LIMIT k` → Catalyst's TakeOrderedAndProject
  (per-partition heap + driver merge, no global sort).
- Window functions shuffle once on partitionBy keys; frames are bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import events_with_ts, load_table, register_views
from ..functions.helpers import (
    cents, dec_avg, dec_sum, money, o_avg, o_cents, o_money, o_rev_c,
    o_revenue, o_sum, rev_c, revenue,
)
from ..registry import op

C = F.col


# ---------------------------------------------------------------- projection

@op("q_project", oracle=f"""
    SELECT o_orderkey,
           o_totalprice,
           CAST({o_money('o_totalprice')}
                * CAST(0.9 AS DECIMAL(2,1)) AS DOUBLE) AS discounted,
           UPPER(o_orderstatus)          AS status
    FROM orders
""")
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT with aliases and computed expressions (SURVEY §2.2 row 1)."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        (money("o_totalprice") * F.lit("0.9").cast("decimal(2,1)"))
        .cast("double").alias("discounted"),
        F.upper("o_orderstatus").alias("status"),
    )


@op("q_filter", oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
    FROM lineitem
    WHERE l_quantity BETWEEN 10 AND 20
      AND l_returnflag IN ('A', 'R')
      AND l_discount > 0.02
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND NOT (l_linestatus = 'O' AND l_tax > 0.07)
""")
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compound predicates: comparison, AND/OR/NOT, IN, BETWEEN."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        C("l_quantity").between(10, 20)
        & C("l_returnflag").isin("A", "R")
        & (C("l_discount") > 0.02)
        & (C("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & ~((C("l_linestatus") == "O") & (C("l_tax") > 0.07))
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")


@op("q_regex_filter", oracle=r"""
    SELECT p_partkey, p_name
    FROM part
    WHERE regexp_matches(p_name, '^(small|large) [a-z]+$')
""")
def q_regex_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate (the pattern class behind rule_clean_emails)."""
    return (
        load_table(spark, sf_dir, "part")
        .filter(C("p_name").rlike(r"^(small|large) [a-z]+$"))
        .select("p_partkey", "p_name")
    )


@op("q_topk", oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 15
""")
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT → TakeOrderedAndProject (no global sort at scale).

    Unique-key tiebreaker per FIXTURES.md determinism notes.
    """
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(C("o_totalprice").desc(), C("o_orderkey"))
        .limit(15)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


# -------------------------------------------------------------- aggregation

@op("q_agg", oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT)                                   AS cnt,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)                 AS n_orders,
           {o_sum('l_quantity')}                                      AS sum_qty,
           {o_revenue(o_rev_c())}                                     AS sum_disc_price,
           MIN(l_extendedprice)                                       AS min_price,
           MAX(l_extendedprice)                                       AS max_price
    FROM lineitem
""")
def q_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregates incl. COUNT DISTINCT (partial+final hash agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count_distinct("l_orderkey").alias("n_orders"),
        dec_sum("l_quantity").alias("sum_qty"),
        revenue(rev_c()).alias("sum_disc_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@op("q_groupby", oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(COUNT(*) AS BIGINT)                               AS cnt,
           {o_sum('l_quantity')}                                  AS sum_qty,
           {o_avg('l_quantity')}                                  AS avg_qty
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    HAVING COUNT(*) > 5
""")
def q_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING with exact (order-independent) aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dec_sum("l_quantity").alias("sum_qty"),
            dec_avg("l_quantity").alias("avg_qty"),
        )
        .filter(C("cnt") > 5)
    )


@op("q_rollup", oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(COUNT(*) AS BIGINT)                               AS cnt,
           {o_sum('l_quantity')}                                  AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotal + grand-total rows carry NULL dims)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dec_sum("l_quantity").alias("sum_qty"),
    )


@op("q_cube", oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           CAST(COUNT(*) AS BIGINT)                               AS cnt,
           {o_sum('l_quantity')}                                  AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all dim combinations in one pass)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dec_sum("l_quantity").alias("sum_qty"),
    )


# ------------------------------------------------------------------ windows

@op("q_window_rank", oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           o_totalprice,
           CAST(RANK() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC) AS BIGINT)   AS rnk,
           CAST(ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT)                                            AS rn,
           CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
                             ORDER BY o_totalprice DESC, o_orderkey)
                AS BIGINT)                                            AS quartile
    FROM orders
""")
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows. rank() may tie (deterministic); row_number/ntile get
    a unique tiebreaker so their output is stable across engines."""
    orders = load_table(spark, sf_dir, "orders")
    w_rank = Window.partitionBy("o_orderpriority").orderBy(C("o_totalprice").desc())
    w_full = Window.partitionBy("o_orderpriority").orderBy(
        C("o_totalprice").desc(), C("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.rank().over(w_rank).cast("bigint").alias("rnk"),
        F.row_number().over(w_full).cast("bigint").alias("rn"),
        F.ntile(4).over(w_full).cast("bigint").alias("quartile"),
    )


@op("q_window_agg", oracle=f"""
    SELECT o_orderkey,
           o_custkey,
           CAST(SUM({o_cents('o_totalprice')}) OVER w
                AS DOUBLE) / 100.0                           AS moving_sum,
           FLOOR(CAST(SUM({o_cents('o_totalprice')}) OVER w
                      AS DOUBLE) / 100.0
                 / COUNT(*) OVER w * 1e6) / 1e6              AS moving_avg
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""")
def q_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-bounded moving aggregates (one shuffle on the partition key)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, 0)
    )
    msum = F.sum(cents("o_totalprice")).over(w).cast("double") / 100.0
    cnt = F.count(F.lit(1)).over(w)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        msum.alias("moving_sum"),
        # floor, not round: cents/count rational (see text.py note)
        (F.floor(msum / cnt * 1e6) / 1e6).alias("moving_avg"),
    )


@op("q_window_nav", oracle="""
    SELECT o_orderkey,
           o_custkey,
           LAG(o_totalprice) OVER w              AS prev_price,
           LEAD(o_totalprice) OVER w             AS next_price,
           FIRST_VALUE(o_totalprice) OVER w      AS first_price,
           LAST_VALUE(o_totalprice) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                                                 AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""")
def q_window_nav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions (lag/lead/first/last) over a total
    per-partition order — the remaining §2.2 window class."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w_full).alias("last_price"),
    )


@op("q_window_range", oracle=f"""
    SELECT o_orderkey,
           o_custkey,
           CAST(COUNT(*) OVER w AS BIGINT)  AS n_within_50k,
           CAST(SUM({o_cents('o_totalprice')}) OVER w
                AS DOUBLE) / 100.0          AS sum_within_50k
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY {o_cents('o_totalprice')}
                 RANGE BETWEEN 5000000 PRECEDING AND CURRENT ROW)
""")
def q_window_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed window (value-based frame, not row-based): per customer,
    how many of their orders fall within $50k below each order's price.
    Frames are defined on exact fixed-point cents, so tie groups (peers) are
    identical in both engines — RANGE includes all peers, which is what
    makes this deterministic where a ROWS frame over ties would not be."""
    orders = load_table(spark, sf_dir, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(cents("o_totalprice"))
         .rangeBetween(-5_000_000, Window.currentRow))
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.count(F.lit(1)).over(w).alias("n_within_50k"),
        (F.sum(cents("o_totalprice")).over(w).cast("double") / 100.0)
        .alias("sum_within_50k"),
    )


# -------------------------------------------------------------------- joins

@op("q_join_inner", oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
""")
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner joins along the dim chain; both dims broadcast (no shuffle of
    the probe side — at 100 TB this is the only sane physical plan)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), C("c_nationkey") == C("n_nationkey"))
        .join(F.broadcast(region), C("n_regionkey") == C("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


@op("q_join_left", oracle=f"""
    SELECT c_custkey,
           c_name,
           CAST(COALESCE(s.cnt, 0) AS BIGINT)     AS n_orders,
           COALESCE(s.sales, 0.0)                 AS sales
    FROM customer
    LEFT JOIN (
        SELECT o_custkey,
               COUNT(*) AS cnt,
               {o_sum('o_totalprice')} AS sales
        FROM orders GROUP BY o_custkey
    ) s ON c_custkey = s.o_custkey
""")
def q_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join against a pre-aggregated fact (aggregate-then-join:
    shrinks the shuffled side from |orders| to |customers| before the join)."""
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("cnt"), dec_sum("o_totalprice").alias("sales"))
    )
    return (
        cust.join(per_cust, C("c_custkey") == C("o_custkey"), "left")
        .select(
            "c_custkey",
            "c_name",
            F.coalesce(C("cnt"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce(C("sales"), F.lit(0.0)).alias("sales"),
        )
    )


@op("q_join_semi", oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
""")
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): no row multiplication, build side deduped."""
    cust = load_table(spark, sf_dir, "customer")
    fin = load_table(spark, sf_dir, "orders").filter(C("o_orderstatus") == "F")
    return cust.join(
        fin, C("c_custkey") == C("o_custkey"), "left_semi"
    ).select("c_custkey", "c_name")


@op("q_join_anti", oracle="""
    SELECT c_custkey, c_name
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
""")
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(
        orders, C("c_custkey") == C("o_custkey"), "left_anti"
    ).select("c_custkey", "c_name")


@op("q_join_full", oracle=f"""
    WITH y96 AS (
        SELECT o_custkey, {o_sum('o_totalprice')} AS spend_1996
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY o_custkey
    ), y99 AS (
        SELECT o_custkey, {o_sum('o_totalprice')} AS spend_1999
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1999-01-01'
          AND o_orderdate <  TIMESTAMP '2000-01-01'
        GROUP BY o_custkey
    )
    SELECT COALESCE(y96.o_custkey, y99.o_custkey) AS custkey,
           y96.spend_1996,
           y99.spend_1999
    FROM y96 FULL OUTER JOIN y99 ON y96.o_custkey = y99.o_custkey
""")
def q_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join: year-over-year spend comparison where either side
    may be absent (customer active in 1996 only, 1999 only, or both) —
    the remaining outer-join class after left/semi/anti.

    Plan shape at scale: both inputs are aggregate-then-join (customer-
    cardinality, far below the fact), and a full outer join cannot
    broadcast either side — it is the one join type that legitimately
    requires both sides shuffled on the key; both legs partition on
    o_custkey so the exchange is reused from the aggregation.
    """
    orders = load_table(spark, sf_dir, "orders")

    def year_spend(y: int, alias: str) -> DataFrame:
        return (orders
                .filter((C("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp_ntz"))
                        & (C("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp_ntz")))
                .groupBy("o_custkey")
                .agg(dec_sum("o_totalprice").alias(alias)))

    a = year_spend(1996, "spend_1996").withColumnRenamed("o_custkey", "k96")
    b = year_spend(1999, "spend_1999").withColumnRenamed("o_custkey", "k99")
    return (a.join(b, C("k96") == C("k99"), "full_outer")
            .select(F.coalesce(C("k96"), C("k99")).alias("custkey"),
                    "spend_1996", "spend_1999"))


@op("q_join_cross", oracle="""
    SELECT r_name, o_orderpriority
    FROM region
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
""")
def q_join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS join: the dimension-grid scaffold (every region × every order
    priority) used to densify sparse aggregates before a left join.

    Only sane when at least one side is tiny — here both are (5 × 5); the
    small side broadcasts, so the product is a BroadcastNestedLoopJoin,
    never a shuffled cartesian. At 100 TB this pattern is only ever used
    dim × dim (gap-fill scaffolds), which stays broadcast-sized.
    """
    region = load_table(spark, sf_dir, "region").select("r_name")
    prios = (load_table(spark, sf_dir, "orders")
             .select("o_orderpriority").distinct())
    return region.crossJoin(F.broadcast(prios))


@op("q_pivot", oracle=f"""
    SELECT l_returnflag,
           (CAST(SUM(CASE WHEN l_linestatus = 'F'
                 THEN {o_cents('l_quantity')} END)
                 AS DOUBLE) / 100.0)                          AS qty_F,
           (CAST(SUM(CASE WHEN l_linestatus = 'O'
                 THEN {o_cents('l_quantity')} END)
                 AS DOUBLE) / 100.0)                          AS qty_O
    FROM lineitem
    GROUP BY l_returnflag
""")
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: one column per l_linestatus value (explicit value list — at
    scale an implicit pivot triggers a distinct-values job first)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dec_sum("l_quantity"))
        .select(
            "l_returnflag",
            C("F").alias("qty_F"),
            C("O").alias("qty_O"),
        )
    )


@op("q_unpivot", oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'retail' AS metric, p_retailprice AS value
    FROM part
""")
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide → long (stack stays a single narrow projection —
    no shuffle, output is a per-row flatMap)."""
    part = load_table(spark, sf_dir, "part")
    return part.unpivot(
        "p_partkey",
        [C("p_size").cast("double").alias("size"),
         C("p_retailprice").alias("retail")],
        "metric", "value",
    ).select("p_partkey", F.when(C("metric") == "size", "size")
             .otherwise("retail").alias("metric"), "value")


# ------------------------------------------------------------------ set ops

@op("q_union", oracle="""
    SELECT c_name AS name, 'customer' AS kind FROM customer
    UNION ALL
    SELECT s_name AS name, 'supplier' AS kind FROM supplier
""")
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (no dedup shuffle)."""
    cust = load_table(spark, sf_dir, "customer").select(
        C("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        C("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return cust.unionByName(supp)


@op("q_intersect", oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey AS nationkey FROM supplier
""")
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics)."""
    c = load_table(spark, sf_dir, "customer").select(C("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(C("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@op("q_except", oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey AS nationkey FROM supplier
""")
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics)."""
    c = load_table(spark, sf_dir, "customer").select(C("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(C("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@op("q_distinct", oracle="""
    SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
""")
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT → partial+final hash aggregate (map-side dedup first)."""
    return load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus"
    ).distinct()


@op("q_string_agg", oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS names
    FROM nation
    GROUP BY n_regionkey
""")
def q_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation. collect_list order is nondeterministic
    under parallelism, so sort_array pins it — the only correct way to
    LISTAGG on a distributed engine."""
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("names")
    )


@op("q_percentile", oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS median_price,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_price
    FROM orders
    GROUP BY o_orderpriority
""")
def q_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (both engines define quantile_cont /
    percentile identically: linear interpolation on the sorted values).
    percentile_approx stays banned — approximate results can't hash-match
    (SURVEY §5); at 100 TB exact percentile costs a sort per group, which
    is the price of a reproducible answer."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_price"),
    )


# --------------------------------------------------------- subqueries / CTE

# Written in the Spark/DuckDB common dialect: the *same* SQL text runs on
# both engines (Spark side goes through spark.sql over registered views,
# exercising the reference's execute_sql path end-to-end).
_CTE_SQL = f"""
    WITH cust_sales AS (
        SELECT o_custkey, {o_sum('o_totalprice')} AS sales
        FROM orders
        GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey, sales
    FROM cust_sales
    WHERE sales > (SELECT {o_sum('sales')} / COUNT(*)
                   FROM cust_sales)
"""


@op("q_cte", oracle=_CTE_SQL)
def q_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTE + scalar subquery, via spark.sql over the registered catalog."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_CTE_SQL)


# -------------------------------------------------------- scalar functions

@op("q_str_funcs", oracle="""
    SELECT p_partkey,
           UPPER(p_name)                              AS name_upper,
           LOWER(p_brand)                             AS brand_lower,
           TRIM(p_type)                               AS type_trim,
           SUBSTRING(p_name, 1, 4)                    AS name4,
           p_brand || '/' || p_type                   AS brand_type,
           REPLACE(p_name, ' ', '_')                  AS name_us,
           CAST(LENGTH(p_name) AS INT)                AS name_len,
           SPLIT_PART(p_name, ' ', 1)                 AS first_word,
           regexp_extract(p_name, '([a-z]+)$', 1)     AS last_word
    FROM part
""")
def q_str_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function pack (all JVM built-ins, codegen-friendly)."""
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.trim("p_type").alias("type_trim"),
        F.substring("p_name", 1, 4).alias("name4"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.replace(C("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.length("p_name").alias("name_len"),
        F.split_part(C("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
    )


@op("q_date_funcs", oracle="""
    SELECT o_orderkey,
           CAST(YEAR(o_orderdate) AS INT)                     AS yr,
           CAST(MONTH(o_orderdate) AS INT)                    AS mon,
           CAST(DAY(o_orderdate) AS INT)                      AS dom,
           DATE_TRUNC('month', o_orderdate)                   AS month_start,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR)         AS odate,
           CAST(DATEDIFF('day', CAST(o_orderdate AS DATE),
                         DATE '2002-01-01') AS INT)           AS days_to_2002
    FROM orders
""")
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function pack over ms-precision timestamps."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.dayofmonth("o_orderdate").alias("dom"),
        F.date_trunc("month", C("o_orderdate")).alias("month_start"),
        C("o_orderdate").cast("date").cast("string").alias("odate"),
        F.datediff(F.lit("2002-01-01").cast("date"),
                   C("o_orderdate").cast("date")).alias("days_to_2002"),
    )


@op("q_math_funcs", oracle="""
    SELECT l_orderkey,
           l_linenumber,
           ROUND(l_extendedprice, 1)                          AS price_r1,
           ABS(l_quantity - 25.0)                             AS qty_dev,
           CAST(CEIL(l_extendedprice) AS DOUBLE)              AS price_ceil,
           CAST(FLOOR(l_extendedprice) AS DOUBLE)             AS price_floor,
           SQRT(l_quantity)                                   AS qty_sqrt,
           ROUND(LN(l_extendedprice), 6)                      AS price_ln,
           ROUND(POWER(l_quantity, 2.0), 6)                   AS qty_sq,
           CAST(l_orderkey % 7 AS BIGINT)                     AS key_mod
    FROM lineitem
""")
def q_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function pack. ln/power are rounded to 6dp: libm vs java.lang.Math
    can differ in the last ulp, everything else is IEEE-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("price_r1"),
        F.abs(C("l_quantity") - 25.0).alias("qty_dev"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.pow("l_quantity", F.lit(2.0)), 6).alias("qty_sq"),
        (C("l_orderkey") % 7).cast("bigint").alias("key_mod"),
    )


@op("q_case_when", oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice < 50000  THEN 'low'
                WHEN o_totalprice < 150000 THEN 'mid'
                ELSE 'high' END                             AS price_band,
           COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_resolved,
           CASE o_orderpriority WHEN '1-URGENT' THEN 1 ELSE 0 END AS is_urgent
    FROM orders
""")
def q_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / COALESCE / NULLIF conditional pack."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(C("o_totalprice") < 50000, "low")
        .when(C("o_totalprice") < 150000, "mid")
        .otherwise("high")
        .alias("price_band"),
        F.coalesce(F.nullif(C("o_orderstatus"), F.lit("P")), F.lit("PENDING"))
        .alias("status_resolved"),
        F.when(C("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("is_urgent"),
    )


# ------------------------------------------------------- array / json / time

@op("q_array_funcs", oracle="""
    SELECT vec_id,
           CAST(LEN(embedding) AS INT)                                  AS dim,
           embedding[1]                                                 AS first_val,
           ROUND(SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[]))), 6) AS l2,
           ROUND(list_sum(CAST(embedding AS DOUBLE[]))
                 / LEN(embedding), 6)                                   AS mean_val
    FROM embeddings
""")
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array ops over ARRAY<FLOAT> — higher-order functions, JVM-side."""
    from ..functions.vector import l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    arr = C("embedding").cast("array<double>")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        C("embedding").getItem(0).alias("first_val"),
        F.round(l2_norm(C("embedding")), 6).alias("l2"),
        F.round(
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / F.size("embedding"), 6
        ).alias("mean_val"),
    )


@op("q_json_funcs", oracle=f"""
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10 AS INT)
               AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {o_sum('value')} AS sum_value
    FROM events
    GROUP BY 1
""")
def q_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events `props` string column."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.groupBy((k % 10).cast("int").alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"), dec_sum("value").alias("sum_value"))
    )


@op("q_tumble", oracle=f"""
    SELECT CAST(epoch(DATE_TRUNC('hour', ts)) AS BIGINT)       AS bucket_epoch,
           event_type,
           CAST(COUNT(*) AS BIGINT)                            AS cnt,
           {o_sum('value')}                                    AS sum_value
    FROM events
    GROUP BY 1, 2
""")
def q_tumble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch tumbling window over event time via F.window (the same operator
    Structured Streaming uses — see streaming/ for the readStream twin).

    Bucket is emitted as epoch seconds (BIGINT): timezone-free and exact
    across Spark (µs, truncated from ns) and the DuckDB oracle.
    """
    ev = events_with_ts(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts_us", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), dec_sum("value").alias("sum_value"))
        .select(
            F.unix_timestamp(C("w.start")).cast("bigint").alias("bucket_epoch"),
            "event_type",
            "cnt",
            "sum_value",
        )
    )


# ---------------------------------------------- subqueries / lateral / sets

_EXISTS_SQL = """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_quantity >= 49
                    AND l.l_returnflag = 'R')
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_tax > 0.07)
"""


@op("q_exists", oracle=_EXISTS_SQL)
def q_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + NOT EXISTS in one predicate, via spark.sql.

    Catalyst decorrelates both subqueries into a left-semi and a left-anti
    join on l_orderkey (RewritePredicateSubquery) — at 100 TB that is two
    shuffled key joins, never a per-row subquery execution. Distinct from
    q_join_semi/q_join_anti, which declare the joins directly: this op
    checks the *SQL front-end* path an LLM would emit."""
    register_views(spark, sf_dir, ("orders", "lineitem"))
    return spark.sql(_EXISTS_SQL)


@op("q_lateral", oracle="""
    WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    )
    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM w
    WHERE word <> ''
    GROUP BY word
    ORDER BY cnt DESC, word
    LIMIT 20
""")
def q_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral/UNNEST (UDTF shape): explode document text into words, count
    the global top-20. The explode is a narrow per-row flatMap (no shuffle);
    the only exchange is the word-count aggregation, which map-side combines
    before it moves — the classic word-count plan at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(C("text"), " ")).alias("word"))
        .filter(C("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(C("cnt").desc(), "word")
        .limit(20)
    )


_GROUPING_SETS_SQL = f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT)  AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT)  AS g_status,
           CAST(COUNT(*) AS BIGINT)             AS cnt,
           {o_sum('l_quantity')}             AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@op("q_grouping_sets", oracle=_GROUPING_SETS_SQL)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with GROUPING() markers — the general form
    behind ROLLUP/CUBE (q_rollup/q_cube cover the sugar). GROUPING() is the
    only reliable way to tell a subtotal row's NULL from a data NULL; both
    engines emit identical markers. One expand + one hash aggregate: the
    expand multiplies rows by #sets *before* the exchange, so at scale
    prefer the minimal set list over CUBE's 2^n."""
    register_views(spark, sf_dir, ("lineitem",))
    return spark.sql(_GROUPING_SETS_SQL)


@op("q_variant", oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT)                                  AS cnt,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT))
                AS BIGINT)                                           AS sum_k,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS INT))
                AS INT)                                              AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS INT))
                AS INT)                                              AS max_k
    FROM events
    GROUP BY event_type
""")
def q_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's VARIANT type: `parse_json` once
    into the binary variant encoding, then typed `variant_get` paths.

    q_json_funcs covers the classic string-path (`get_json_object`) route;
    this op pins the VARIANT route because at 100 TB they diverge hard:
    get_json_object re-parses the JSON text per extraction, while VARIANT
    parses once into a shredded binary form that repeated `variant_get`
    calls navigate without re-parsing — and Parquet-backed variant columns
    support shredded storage with pushdown. The DuckDB oracle reads the
    same paths through its JSON type."""
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json(C("props")), "$.k", "int")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("cnt"),
                 F.sum("k").cast("bigint").alias("sum_k"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k")))


@op("q_intersect_all", oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT ALL
    SELECT s_nationkey AS nationkey FROM supplier
""")
def q_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (multiset semantics: keeps min(count_left,
    count_right) copies per value — distinct from q_intersect's set
    semantics). Spark plans it as a count-compare aggregate, one shuffle
    on the value."""
    cust = load_table(spark, sf_dir, "customer").select(
        C("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        C("s_nationkey").alias("nationkey"))
    return cust.intersectAll(supp)


@op("q_except_all", oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT ALL
    SELECT s_nationkey AS nationkey FROM supplier
""")
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (multiset difference: count_left - count_right copies
    survive per value)."""
    cust = load_table(spark, sf_dir, "customer").select(
        C("c_nationkey").alias("nationkey"))
    supp = load_table(spark, sf_dir, "supplier").select(
        C("s_nationkey").alias("nationkey"))
    return cust.exceptAll(supp)


@op("q_window_dist", oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           FLOOR(PERCENT_RANK() OVER w * 1e9) / 1e9 AS pct_rank,
           FLOOR(CUME_DIST() OVER w * 1e9) / 1e9    AS cume_d
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
""")
def q_window_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows (percent_rank / cume_dist) with a unique
    tiebreaker so both engines agree row-for-row; both are rank/count
    ratios, so the doubles are identical — FLOOR-truncated rather than
    rounded because Spark rounds doubles via decimal repr (HALF_UP)
    while DuckDB rounds numerically, which can split rational halves."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        C("o_totalprice").desc(), C("o_orderkey"))
    return orders.select(
        "o_orderkey", "o_orderpriority",
        (F.floor(F.percent_rank().over(w) * 1e9) / 1e9).alias("pct_rank"),
        (F.floor(F.cume_dist().over(w) * 1e9) / 1e9).alias("cume_d"),
    )


# Shared spelling: Spark needs INTERVAL '1' MONTH / STRING where DuckDB
# takes INTERVAL 1 MONTH / VARCHAR; everything else is identical, so one
# template serves both engines (month emitted as 'yyyy-MM-dd' text — a
# DATE column survives the comparison path differently per driver).
_RCTE_SQL = """
WITH RECURSIVE months(month_start) AS (
    SELECT CAST(DATE_TRUNC('month',
                (SELECT MIN(o_orderdate) FROM orders)) AS DATE)
    UNION ALL
    SELECT CAST(month_start + {ival} AS DATE) FROM months
    WHERE month_start < CAST(DATE_TRUNC('month',
                (SELECT MAX(o_orderdate) FROM orders)) AS DATE)
)
SELECT CAST(m.month_start AS {str_t}) AS month_start,
       CAST(COALESCE(o.cnt, 0) AS BIGINT) AS n_orders
FROM months m
LEFT JOIN (SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS ms,
                  COUNT(*) AS cnt FROM orders GROUP BY 1) o
  ON m.month_start = o.ms
"""


@op("q_recursive_cte", oracle=_RCTE_SQL.format(ival="INTERVAL 1 MONTH",
                                               str_t="VARCHAR"))
def q_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (new in Spark 4): a month date-spine from min to max
    order date, left-joined to per-month order counts — the calendar
    gap-filling pattern that previously needed sequence()+explode. The
    recursion is driver-bounded (one row per month, ~80 iterations), so
    the recursive leg never touches the fact table; the counts come from
    one aggregate scan."""
    register_views(spark, sf_dir, ("orders",))
    return spark.sql(_RCTE_SQL.format(ival="INTERVAL '1' MONTH",
                                      str_t="STRING"))
