"""Multi-join analytic query shapes over the star schema.

The reference's query surface is "whatever SQL the LLM emits" against the
catalog (reference engine.py:58-63 executes arbitrary DuckDB SQL; SURVEY.md
§2.2 makes joins first-class because our catalog is multi-table). These ops
pin the three classic TPC-H-style plan shapes a warehouse engine must get
right at 100 TB — deep dim-chain joins with selective fact filters — plus a
MERGE-style upsert (the write-side sibling of the read-side joins).

Physical-plan intent (asserted in tests/test_plans.py):
- dims (region/nation/customer-filtered) broadcast — no shuffle of the fact;
- the one unavoidable fact shuffle is on the aggregation key, post-filter;
- top-k ordering is TakeOrderedAndProject, never a global sort.

Money math runs in fixed-point cents (functions.helpers) so every sum is
order-independent and hash-parity with DuckDB is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.helpers import (
    cents, dec_avg, dec_sum, o_avg, o_cents, o_rev_c, o_revenue, o_sum,
    rev_c, revenue,
)
from ..registry import op

C = F.col


@op("q3_shipping_priority", oracle=f"""
    SELECT l_orderkey,
           {o_revenue(o_rev_c())} AS revenue,
           o_orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-07-01'
      AND l_shipdate  > TIMESTAMP '1998-07-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
""")
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped orders by revenue for one segment.

    Plan: the filtered customer dim (1 segment ≈ 1/5 of customers) is
    broadcast into orders, that join result (still fact-sized, so it stays
    partitioned) joins lineitem on the orderkey, aggregates on the same
    key, and the final ordering is TakeOrderedAndProject (k=10 heap per
    partition + driver merge — no global sort even at 100 TB). The
    revenue product folds to ONE exact-cents BIGINT per row BEFORE the
    lineitem exchange (two DECIMALs → 8 bytes; guide §2.3 — sum of
    per-row integer products is associative, so results are
    bit-identical; r11 interleaved A/B at sf10: 2.59 → 2.32 s,
    OPTIMIZATION_r11.md "narrow the fact exchanges").
    """
    cust = (load_table(spark, sf_dir, "customer")
            .filter(C("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .filter(C("o_orderdate") < F.lit("1998-07-01").cast("timestamp_ntz"))
              .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(C("l_shipdate") > F.lit("1998-07-01").cast("timestamp_ntz"))
          .select("l_orderkey", rev_c().alias("rev_c")))
    return (
        orders.join(F.broadcast(cust), C("o_custkey") == C("c_custkey"))
        # fact ⋈ fact: hint a shuffle hash join — Catalyst would broadcast
        # the filtered lineitem side once it slips under the threshold,
        # and broadcasting a subtree that GROWS with the fact table loses
        # at scale (measured at the sf1 tier: 1.75 s → 0.77 s) and is a
        # driver hazard at 100 TB; dims stay broadcast.
        .join(li.hint("shuffle_hash"), C("l_orderkey") == C("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue("rev_c").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(C("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@op("q5_local_supplier_volume", oracle=f"""
    SELECT n_name,
           {o_revenue(o_rev_c())} AS revenue
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey  = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
""")
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue by nation where customer and supplier share
    the nation, one region, two-year window — the canonical 6-way join.

    Plan: every broadcastable dim reduction lands BEFORE the one big
    shuffle pair (lineitem ⋈ orders on the orderkey). The ASIA-customer
    cut (region→nation→customer, ~5x on orders) is a chain of broadcasts
    into orders on the MAP side of its exchange, so the build side
    shuffles ~5x fewer rows and the runtime bloom it seeds prunes the
    lineitem scan to ASIA-window orders; n_name rides along from the
    customer side so no post-shuffle nation join is needed. Supplier
    broadcasts after the join carrying the c_nationkey = s_nationkey
    equality inside the join condition. The old shape applied all of
    this AFTER shuffling the full fact table — the exchange is the
    scale bottleneck, the broadcasts are free (r11 interleaved A/B,
    results identical: sf10 7.38 s → 3.72 s;
    OPTIMIZATION_r11.md "every broadcastable dim cut").

    r11 narrow-exchange pass (guide §2.3): the revenue product folds to
    one BIGINT before the lineitem exchange and the n_name STRING never
    crosses either exchange — the aggregate groups on the integer
    c_nationkey (1:1 with n_name by construction) and the 5-row name
    map re-attaches AFTER the agg as a broadcast. sf10 3.72 → 3.51 s,
    rows identical (OPTIMIZATION_r11.md "narrow the fact exchanges").

    r12 dispatch trim (verdict item 5): the post-agg name attach joins
    plain `nation`, not the nation⋈region ASIA subtree — every
    c_nationkey reaching the aggregate already passed through the
    ASIA-customer cut, so the region re-filter was a provably-redundant
    extra BroadcastExchange+BHJ build per run (rows identical by
    construction, OPTIMIZATION_r12.md "post-agg name-attach trim";
    n_nationkey is unique in nation, so the inner join can neither drop
    nor duplicate).
    """
    region = (load_table(spark, sf_dir, "region")
              .filter(C("r_name") == "ASIA").select("r_regionkey"))
    nation = load_table(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), C("n_regionkey") == C("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey")
            .join(F.broadcast(asia_nations.select("n_nationkey")),
                  C("c_nationkey") == C("n_nationkey"))
            .select("c_custkey", "c_nationkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .filter((C("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                      & (C("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
              .select("o_orderkey", "o_custkey")
              .join(F.broadcast(cust), C("o_custkey") == C("c_custkey"))
              .select("o_orderkey", "c_nationkey"))
    supplier = (load_table(spark, sf_dir, "supplier")
                .select("s_suppkey", "s_nationkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_suppkey", rev_c().alias("rev_c")))
    return (
        li.join(orders, C("l_orderkey") == C("o_orderkey"))
        .join(F.broadcast(supplier),
              (C("l_suppkey") == C("s_suppkey"))
              & (C("c_nationkey") == C("s_nationkey")))
        .groupBy("c_nationkey")
        .agg(revenue("rev_c").alias("revenue"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")),
              C("c_nationkey") == C("n_nationkey"))
        .select("n_name", "revenue")
    )


@op("q10_returned_items", oracle=f"""
    SELECT c_custkey,
           c_name,
           {o_revenue(o_rev_c())} AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey  = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
""")
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by lost revenue from returned items.

    Plan: lineitem is pre-filtered to returns (selective, pushed to the
    scan), joins the date-windowed orders on the orderkey, then the
    customer+nation dims broadcast; the aggregation key is the customer —
    high-cardinality, so the agg shuffle is the sized-for-scale step and
    the final top-20 is TakeOrderedAndProject.

    r11 narrow-exchange pass (guide §2.3/§3.1): the revenue product
    folds to one BIGINT before the lineitem exchange, and the orderkey
    join is hinted shuffle-hash — the date-windowed orders subtree is
    FACT-sized (~3.8M rows at sf10, right under the 64 MB threshold),
    so Catalyst's broadcast of it rebuilt a multi-million-row driver
    hash map per execution and is exactly the shape that dies at
    100 TB (same rule as q3/q9/q12). sf10 3.60 → 2.53 s, rows
    identical (OPTIMIZATION_r11.md "narrow the fact exchanges").
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = (load_table(spark, sf_dir, "orders")
              .filter((C("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                      & (C("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter(C("l_returnflag") == "R")
          .select("l_orderkey", rev_c().alias("rev_c")))
    return (
        li.join(orders.hint("shuffle_hash"), C("l_orderkey") == C("o_orderkey"))
        .join(F.broadcast(cust), C("o_custkey") == C("c_custkey"))
        .join(F.broadcast(nation), C("c_nationkey") == C("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(revenue("rev_c").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(C("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ------------------------------------------------------------ MERGE / upsert

def merge_upsert(target: DataFrame, source: DataFrame, key: str) -> DataFrame:
    """MERGE INTO semantics: matched target rows take the source version
    (whole-row update), unmatched source rows insert, unmatched target rows
    survive — i.e. the next snapshot of the table.

    Implementation: target ANTI JOIN source (rows the merge does not touch)
    UNION ALL source. Both legs shuffle on the merge key once; with bronze
    bucketed on the key (sources/bronze) both sides arrive co-located and
    the anti join is shuffle-free. This is the same physical shape Delta's
    MERGE resolves to when the match condition is an equi-key — expressed in
    plain DataFrame algebra so it works on any parquet bronze.
    """
    untouched = target.join(source, on=key, how="left_anti")
    return untouched.unionByName(source)


@op("merge_upsert", oracle="""
    WITH source AS (
        SELECT o_orderkey,
               o_custkey,
               'P'                      AS o_orderstatus,
               o_totalprice + 1.0       AS o_totalprice,
               o_orderdate,
               o_orderpriority
        FROM orders WHERE o_orderkey % 100 = 0
        UNION ALL
        SELECT 9000000 + r_regionkey, 1, 'N', 100.0 + r_regionkey,
               TIMESTAMP '2002-01-01', '1-URGENT'
        FROM region
    )
    SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM source)
    UNION ALL
    SELECT * FROM source
""")
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE demo on orders: a CDC batch of updates (every 100th order,
    price bumped, status → 'P') plus 5 synthetic inserts, applied with
    upsert semantics. The op under test is merge_upsert(); the batch is
    derived deterministically from the fixtures so the oracle can rebuild
    the identical source set."""
    orders = load_table(spark, sf_dir, "orders")
    region = load_table(spark, sf_dir, "region")
    updates = (orders.filter(C("o_orderkey") % 100 == 0)
               .withColumn("o_orderstatus", F.lit("P"))
               .withColumn("o_totalprice", C("o_totalprice") + 1.0))
    inserts = region.select(
        (F.lit(9_000_000) + C("r_regionkey").cast("bigint")).alias("o_orderkey"),
        F.lit(1).cast("bigint").alias("o_custkey"),
        F.lit("N").alias("o_orderstatus"),
        (F.lit(100.0) + C("r_regionkey")).alias("o_totalprice"),
        F.lit("2002-01-01").cast("timestamp_ntz").alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
    )
    source = updates.unionByName(inserts)
    return merge_upsert(orders, source, key="o_orderkey")


@op("q4_late_shipments", oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
""")
def q4_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: order-priority counts for orders with at least one
    late line (shipped >60 days after the order date — the fixture's stand-in
    for Q4's commitdate/receiptdate pair, which TESTDATA.md does not carry).

    Plan: the correlated EXISTS only needs the per-order MAX shipdate —
    EXISTS(l_shipdate > o_orderdate + 60) == max(l_shipdate) >
    o_orderdate + 60 — so lineitem pre-aggregates to the order grain
    BEFORE the join: the map-side partial combine collapses the ~4
    lines/order ahead of the orderkey exchange (the same exchange the
    old semi join paid, now carrying a quarter of the rows), and the
    join is 1:1 on the order key so no row duplication can occur. The
    date filter still prunes orders at the scan; the priority agg output
    is 5 rows — map-side partials collapse it to almost nothing. r11
    interleaved A/B vs the semi-join shape, identical rows: sf10 min
    3.52 s → 3.34 s, and 2x+ better in every contended pass (the
    smaller exchange is also the more pressure-robust one) —
    OPTIMIZATION_r11.md "cut to the order grain".
    """
    orders = (load_table(spark, sf_dir, "orders")
              .filter((C("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                      & (C("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))))
    # fact-side build: hint shuffle hash — broadcasting the (fact-sized)
    # lineitem aggregate loses at scale (sf1: 2.7 s → 0.7 s) and would be
    # a driver hazard at 100 TB.
    li_max = (load_table(spark, sf_dir, "lineitem")
              .select("l_orderkey", "l_shipdate")
              .groupBy("l_orderkey")
              .agg(F.max("l_shipdate").alias("max_ship")))
    return (orders.join(li_max.hint("shuffle_hash"),
                        C("l_orderkey") == C("o_orderkey"))
            .filter(C("max_ship") > C("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


@op("q7_volume_shipping", oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {o_revenue(o_rev_c())} AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation,
               n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               l_extendedprice, l_discount
        FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
""")
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year —
    the two-role dimension join (nation joins twice under different names).

    Plan: both nation roles are 2-of-25 cuts, and both land BEFORE the
    one big shuffle pair (lineitem ⋈ orders): supplier⋈n1 broadcasts into
    lineitem and customer⋈n2 into orders on the MAP side of their
    exchanges, shrinking both sides ~12x; the disjunctive nation-pair
    predicate is the only thing that must wait until both roles are
    attached, so it alone stays post-join. The old shape shuffled the
    full fact rows and applied every role cut after (r11 interleaved
    A/B, results identical: sf10 4.95 s → 2.56 s, ~2x in every pass;
    OPTIMIZATION_r11.md "every broadcastable dim cut").

    r11 narrow-exchange pass (guide §2.3): the revenue product and the
    ship year fold to BIGINTs before the lineitem exchange, and the two
    nation-name STRINGS cross both exchanges as 1-byte role codes
    (1 = NATION_1, 2 = NATION_2 — a bijection by construction of the
    2-row filter); the names are re-derived from the codes AFTER the
    aggregate as a deterministic CASE. sf10 2.39 → 1.89 s, rows
    identical (OPTIMIZATION_r11.md "narrow the fact exchanges").
    """
    nation = load_table(spark, sf_dir, "nation").filter(
        C("n_name").isin("NATION_1", "NATION_2"))
    code = F.when(C("n_name") == "NATION_1", F.lit(1)).otherwise(F.lit(2)) \
        .cast("tinyint")
    n1 = nation.select(C("n_nationkey").alias("s_nkey"), code.alias("s_code"))
    n2 = nation.select(C("n_nationkey").alias("c_nkey"), code.alias("c_code"))
    supp = (load_table(spark, sf_dir, "supplier")
            .select("s_suppkey", "s_nationkey")
            .join(F.broadcast(n1), C("s_nationkey") == C("s_nkey"))
            .select("s_suppkey", "s_code"))
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", "c_nationkey")
            .join(F.broadcast(n2), C("c_nationkey") == C("c_nkey"))
            .select("c_custkey", "c_code"))
    orders = (load_table(spark, sf_dir, "orders")
              .select("o_orderkey", "o_custkey")
              .join(F.broadcast(cust), C("o_custkey") == C("c_custkey"))
              .select("o_orderkey", "c_code"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((C("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
                  & (C("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
          .select("l_orderkey", "l_suppkey",
                  F.year("l_shipdate").cast("bigint").alias("l_year"),
                  rev_c().alias("rev_c"))
          .join(F.broadcast(supp), C("l_suppkey") == C("s_suppkey"))
          .select("l_orderkey", "l_year", "rev_c", "s_code"))

    def to_name(c: str) -> F.Column:
        return F.when(C(c) == 1, "NATION_1").otherwise("NATION_2")

    return (
        li.join(orders, C("l_orderkey") == C("o_orderkey"))
        .filter(((C("s_code") == 1) & (C("c_code") == 2))
                | ((C("s_code") == 2) & (C("c_code") == 1)))
        .groupBy("s_code", "c_code", "l_year")
        .agg(revenue("rev_c").alias("revenue"))
        .select(to_name("s_code").alias("supp_nation"),
                to_name("c_code").alias("cust_nation"), "l_year", "revenue")
    )


@op("q14_promo_revenue", oracle=f"""
    SELECT CAST(date_trunc('month', l_shipdate) AS TIMESTAMP) AS ship_month,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {o_rev_c()}
                    ELSE 0 END) AS DOUBLE) * 100.0
             / CAST(SUM({o_rev_c()}) AS DOUBLE) AS promo_pct,
           {o_revenue(o_rev_c())} AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY date_trunc('month', l_shipdate)
""")
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of promo-part revenue — the
    conditional-aggregate ratio over a fact↔dim join.

    Plan (r11): the date filter prunes lineitem at the scan, and both
    the conditional and total sums run in the same hash aggregate pass
    in exact cents — the ratio divides two exactly-derived doubles, so
    it hash-matches DuckDB bit-for-bit. The part join exists only to
    derive the is-PROMO flag, and l_partkey is a foreign key into part
    (TPC-H referential integrity; the scaled lakes shift both key
    columns identically, so it holds at every tier) — the inner join
    can never drop or duplicate a lineitem row. So broadcast ONLY the
    PROMO partkeys (~1/6 of part) and flag by left-join match instead
    of shipping every (p_partkey, p_type) pair: the broadcast build
    shrinks 6× and loses its string column at any scale. Measured sf10
    decomposition: scan+agg 0.60 s, +full-part broadcast 1.66 s,
    +promo-subset left join 0.86 s (rows identical,
    OPTIMIZATION_r11.md "promo-subset broadcast").
    """
    promo = (load_table(spark, sf_dir, "part")
             .filter(C("p_type") == "PROMO").select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .filter((C("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
                  & (C("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz")))
          .select("l_partkey", "l_extendedprice", "l_discount", "l_shipdate"))
    rev = rev_c()
    promo_c = F.when(C("p_partkey").isNotNull(), rev).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(promo), C("l_partkey") == C("p_partkey"), "left")
        .groupBy(F.date_trunc("month", "l_shipdate").alias("ship_month"))
        .agg(
            (F.sum(promo_c).cast("double") * 100.0
             / F.sum(rev).cast("double")).alias("promo_pct"),
            revenue(rev).alias("revenue"),
        )
    )


@op("q17_small_quantity", oracle=f"""
    WITH avgq AS (
        SELECT l_partkey, 0.2 * {o_avg('l_quantity')} AS qty_cut
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
           {o_sum('l_extendedprice')} / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN avgq USING (l_partkey)
    WHERE p_brand = 'Brand#1'
      AND l_quantity < qty_cut
""")
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity orders of one brand —
    the per-key correlated-average subquery (quantity below 20% of that
    part's average).

    Plan (r6 rewrite, the q2 pattern): brand-filter FIRST via the
    broadcast part dim, then the per-partkey average runs as a WINDOW
    over the filtered fact — the filter keeps every lineitem of each
    retained part, so the per-part average is unchanged, but the
    average is now computed for only the brand's parts instead of
    aggregating ALL of lineitem and broadcasting a part-cardinality
    cutoff table back (a build side that grows with the data — the
    fact-derived broadcast hazard). Row-identical (A/B-verified; the
    cents sums are BIGINT, order-independent), 0.35 → 0.25 s at sf0.1,
    one fact pass. Output is a single row (count + scaled sum), exact
    in cents.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    part = (load_table(spark, sf_dir, "part")
            .filter(C("p_brand") == "Brand#1").select("p_partkey"))
    w = Window.partitionBy("l_partkey")
    qty_cut = (F.lit(0.2) * (F.sum(cents("l_quantity")).over(w)
                             .cast("double")
                             / 100.0 / F.count("l_quantity").over(w)))
    return (
        li.join(F.broadcast(part), C("l_partkey") == C("p_partkey"))
        .withColumn("qty_cut", qty_cut)
        .filter(C("l_quantity") < C("qty_cut"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            (dec_sum("l_extendedprice") / 7.0).alias("avg_yearly"),
        )
    )


@op("q19_disjunctive_filter", oracle=f"""
    SELECT {o_revenue(o_rev_c())} AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 30)
""")
def q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs spanning both join sides — the
    disjunctive-predicate planning test.

    Plan: Catalyst extracts the common join key (p_partkey = l_partkey) so
    the join stays a broadcast hash join, and pushes the single-side
    residues of the disjunction (p_brand/p_size combos to the part scan,
    l_quantity range union to the lineitem scan) below the join — visible
    as PushedFilters on both scans; the mixed conjuncts evaluate as the
    join's post-condition. One aggregate row out, exact in cents.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    cond = (
        ((C("p_brand") == "Brand#1") & C("p_size").between(1, 15)
         & C("l_quantity").between(1, 11))
        | ((C("p_brand") == "Brand#2") & C("p_size").between(10, 30)
           & C("l_quantity").between(10, 20))
        | ((C("p_brand") == "Brand#3") & C("p_size").between(20, 50)
           & C("l_quantity").between(20, 30))
    )
    return (
        li.join(F.broadcast(part), C("p_partkey") == C("l_partkey"))
        .filter(cond)
        .agg(revenue(rev_c()).alias("revenue"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@op("q22_dormant_customers", oracle=f"""
    WITH cutoff AS (
        SELECT {o_avg('c_acctbal')} AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    ), active AS (
        SELECT DISTINCT o_custkey FROM orders
        WHERE o_orderdate >= TIMESTAMP '2001-01-01'
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           {o_sum('c_acctbal')} AS total_bal
    FROM customer CROSS JOIN cutoff
    WHERE c_acctbal > avg_bal
      AND c_custkey NOT IN (SELECT o_custkey FROM active)
    GROUP BY c_nationkey
""")
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: well-funded customers with no recent orders —
    scalar-subquery threshold + NOT EXISTS anti join, grouped by nation.

    Plan: the positive-balance average is a one-row aggregate broadcast as
    a cross join (never collected to the driver); the recent-buyer set is
    a SHUFFLE_HASH anti join fed the RAW date-pruned projection — no
    ``.distinct()``: the anti-join hash build dedups inherently, so a
    pre-distinct is a whole extra aggregate pass and saves nothing (the
    distinct needs the same custkey exchange the join does). The hint is
    the r9 weak-mark rework: the build side is FACT-derived (recent
    o_custkeys — 884k distinct at sf10, growing with SF), so the former
    AQE broadcast was both the measured bottleneck (driver collect +
    per-executor hash build of a million-row relation) and a certain
    scale-killer at 100 TB; partitioned hash builds are ~3k rows each.
    Interleaved A/B (fresh noop writes): sf10 1.25 s → 1.07 s, sf0.1
    0.81 → 0.59, sf1 equal, rows hash-identical. The per-nation agg is
    dim-cardinality. Exact cents everywhere.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal")
    avg_bal = (cust.filter(C("c_acctbal") > 0.0)
               .agg(dec_avg("c_acctbal").alias("avg_bal")))
    active = (load_table(spark, sf_dir, "orders")
              .filter(C("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz"))
              .select("o_custkey")
              .hint("SHUFFLE_HASH"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(C("c_acctbal") > C("avg_bal"))
        .join(active, C("c_custkey") == C("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_custs"),
             dec_sum("c_acctbal").alias("total_bal"))
    )


@op("q18_large_orders", oracle=f"""
    WITH big AS (
        SELECT l_orderkey
        FROM lineitem
        GROUP BY l_orderkey
        HAVING {o_sum('l_quantity')} > 120
    )
    SELECT c_custkey, c_name, o_orderkey, o_orderdate,
           {o_sum('l_quantity')} AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c_custkey, c_name, o_orderkey, o_orderdate
    ORDER BY total_qty DESC, o_orderkey
    LIMIT 25
""")
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers behind the largest orders — the
    HAVING-subquery-driven join.

    Plan: ONE aggregation over lineitem. The textbook Q18 formulation
    re-groups the qualifying lineitems under (c_custkey, c_name,
    o_orderkey, o_orderdate), but o_orderkey is unique in orders, so that
    outer GROUP BY is a per-order re-derivation of the total the HAVING
    aggregate already computed — joining the filtered per-order totals to
    orders directly yields identical rows (A/B-verified row-equal) while
    skipping the second lineitem pass and the re-aggregation (measured
    0.65 → 0.31 s at sf0.1). At 100 TB this halves the fact traffic: one
    shuffle on l_orderkey, the survivors (a tiny HAVING-filtered set)
    shuffle-hash against orders, and the customer dim broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(dec_sum("l_quantity").alias("total_qty"))
           .filter(C("total_qty") > 120))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        # orders is fact-sized: shuffle hash, never broadcast (see q4)
        big.join(orders.hint("shuffle_hash"),
                 C("l_orderkey") == C("o_orderkey"))
        .join(F.broadcast(cust), C("o_custkey") == C("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "total_qty")
        .orderBy(C("total_qty").desc(), "o_orderkey")
        .limit(25)
    )


@op("ext_salted_join", oracle=f"""
    WITH dim(event_type, weight) AS (
        VALUES ('click', 1), ('view', 1), ('purchase', 5),
               ('signup', 3), ('error', 2)
    )
    SELECT e.event_type, d.weight,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           (CAST(SUM({o_cents('e.value')} * d.weight)
                 AS DOUBLE) / 100.0) AS weighted_value
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type, d.weight
""")
def ext_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated join via explicit salting (functions.skew.salted_join):
    events has only 5 distinct event_type values, so an unhinted shuffle
    join would funnel ~20% of a 100 TB fact through each of 5 reducers.
    The helper salts the fact side into 16 deterministic buckets
    (xxhash64 of a high-entropy column — no rand(), so speculative tasks
    and retries agree) and replicates the dim once per bucket, turning
    each hot key into 16 evenly-loaded partitions.

    When to reach for it (and when not): AQE's skew-join splitting already
    handles sort-merge-join skew at runtime, and a truly dim-sized right
    side should just broadcast — both measured faster here (BASELINE.md).
    Salting is the explicit fallback for the remaining shape: a right side
    too big to broadcast joined on a key AQE can't split further (one
    monster key). The oracle is the *unsalted* join — salting must be
    invisible in the result, and this op proves exactly that."""
    from ..functions.skew import salted_join

    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(
        [("click", 1), ("view", 1), ("purchase", 5),
         ("signup", 3), ("error", 2)],
        "event_type string, weight int")
    joined = salted_join(
        ev.select("event_id", "event_type", "value"), dim, "event_type",
        salt=16, entropy_col="event_id")
    return (joined.groupBy("event_type", "weight")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 (F.sum(cents("value") * C("weight")).cast("double") / 100.0)
                 .alias("weighted_value")))
