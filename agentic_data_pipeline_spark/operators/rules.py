"""The 4 canonical business rules (reference agent.py:60-67) as deterministic
DataFrame transformations, plus their oracle-checked query registrations.

In the reference these exist only as NL descriptions handed to an LLM; the
LLM's SQL *is* the implementation. Here each rule is a first-class, tested
operator — the NL/LLM path (see ../agent.py) is an alternative front-end
that compiles to these same functions, not the other way round.

Determinism: money sums run in exact fixed-point cents (see
functions.helpers); the z-score rule derives mean/stddev from exact Σx
(cents) and Σx² (decimal — cent squares would overflow BIGINT at ~1e9
high-value rows) with the *identical* arithmetic expression on both
engines, so even the float math is bit-reproducible (SURVEY.md §2.4 pins
stddev_samp / ddof=1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..catalog import load_table
from ..functions.helpers import cents, dec_sum, money, o_cents, o_money, o_sum
from ..registry import op

C = F.col

EMAIL_RE = r"^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}$"


# ------------------------------------------------------------ rule library

def clean_emails(df: DataFrame, email_col: str) -> DataFrame:
    """'Remove rows with invalid email formats' (agent.py:63)."""
    return df.filter(C(email_col).rlike(EMAIL_RE))


def standardize_currency(df: DataFrame, amount_col: str, currency_col: str,
                         rates: dict[str, str], out_col: str = "usd_amount",
                         spark: SparkSession | None = None) -> DataFrame:
    """'Convert all revenue columns to USD' (agent.py:64).

    ``rates`` maps currency code → decimal rate *string* (kept as strings so
    the join key table carries exact DECIMAL(8,4), never a float). The rate
    table is broadcast — at 100 TB the fact side never moves.
    """
    spark = spark or df.sparkSession
    rate_rows = [(k, v) for k, v in sorted(rates.items())]
    rates_df = spark.createDataFrame(rate_rows, "currency_code string, rate string") \
        .select("currency_code", C("rate").cast("decimal(8,4)").alias("rate"))
    return (
        df.join(F.broadcast(rates_df), C(currency_col) == C("currency_code"), "left")
        .withColumn(out_col, (money(amount_col) * C("rate")).cast("double"))
        .drop("currency_code", "rate")
    )


def remove_outliers(df: DataFrame, cols: list[str], z: float = 3.0) -> DataFrame:
    """'Remove z-score > 3 in numeric columns' (agent.py:65).

    Sample stddev (ddof=1, pandas default — pinned per SURVEY §2.4) derived
    from exact decimal Σx / Σx², then one broadcast cross-join of the 1-row
    stats frame back onto the data: two scans total, no per-column jobs, and
    the same plan shape works at any scale.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(C(c)).alias(f"__n_{c}"),
            dec_sum(c).alias(f"__s_{c}"),
            F.sum(money(c) * money(c)).cast("double").alias(f"__ss_{c}"),
        ]
    stats = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(stats))
    keep = F.lit(True)
    for c in cols:
        n, s, ss = C(f"__n_{c}"), C(f"__s_{c}"), C(f"__ss_{c}")
        mu = s / n
        sd = F.sqrt((ss - s * s / n) / (n - F.lit(1)))
        keep = keep & (F.abs(C(c) - mu) <= F.lit(z) * sd)
    return out.filter(keep).drop(*[f.name for f in stats.schema.fields])


def top_performers(df: DataFrame, metric_col: str, frac: float = 0.10) -> DataFrame:
    """'Filter top 10% by <metric>' (agent.py:66).

    Exact percentile via percent_rank (SURVEY §2.4 rejects percentile_approx
    for oracle determinism); one window shuffle, ties all-in or all-out.
    """
    w = Window.orderBy(C(metric_col))
    return (
        df.withColumn("__pr", F.percent_rank().over(w))
        .filter(C("__pr") >= 1.0 - frac)
        .drop("__pr")
    )


# The reference's rule catalog (agent.py:60-67): name → NL description.
RULE_CATALOG: dict[str, str] = {
    "clean_emails": "Remove rows with invalid email formats",
    "standardize_currency": "Convert all revenue columns to USD",
    "remove_outliers": "Remove z-score > 3 in numeric columns",
    "top_performers": "Filter top 10% by sales",
}


# ------------------------------------------------- oracle-checked registrations

# The fixtures carry no email column, so the email rule is exercised over a
# deterministically synthesized one: custkey % 7 == 0 rows get a @-less
# (invalid) address. Both engines build the same strings.
_EMAIL_VALID = "regexp_replace(lower(c_name), '[^a-z0-9]', '') || '@example.com'"
_EMAIL_INVALID = "regexp_replace(lower(c_name), '[^a-z0-9]', '')"


def _customers_with_email(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    valid = F.concat(
        F.regexp_replace(F.lower("c_name"), "[^a-z0-9]", ""), F.lit("@example.com")
    )
    invalid = F.regexp_replace(F.lower("c_name"), "[^a-z0-9]", "")
    return cust.withColumn(
        "email", F.when(C("c_custkey") % 7 == 0, invalid).otherwise(valid)
    )


@op("rule_clean_emails", oracle=f"""
    SELECT c_custkey, email
    FROM (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN {_EMAIL_INVALID}
                    ELSE {_EMAIL_VALID} END AS email
        FROM customer
    )
    WHERE regexp_matches(email, '^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}$')
""")
def rule_clean_emails_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """clean_emails over customers with a synthesized email column."""
    return clean_emails(_customers_with_email(spark, sf_dir), "email") \
        .select("c_custkey", "email")


@op("rule_standardize_currency", oracle=f"""
    SELECT o_orderkey,
           currency,
           CAST({o_money('o_totalprice')}
                * (CASE CAST(o_orderkey % 3 AS INT)
                       WHEN 0 THEN CAST(1.0000 AS DECIMAL(8,4))
                       WHEN 1 THEN CAST(1.0800 AS DECIMAL(8,4))
                       ELSE CAST(1.2600 AS DECIMAL(8,4)) END)
                AS DOUBLE) AS usd_amount
    FROM (
        SELECT o_orderkey, o_totalprice,
               CASE CAST(o_orderkey % 3 AS INT)
                   WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' ELSE 'GBP' END AS currency
        FROM orders
    )
""")
def rule_standardize_currency_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """standardize_currency over orders with a synthesized currency column.

    Exact decimal rate × decimal amount (no ROUND: a double round-half-up
    can disagree across engines at representation ties; the exact product
    cast to DOUBLE cannot).
    """
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "currency",
        F.when(C("o_orderkey") % 3 == 0, "USD")
        .when(C("o_orderkey") % 3 == 1, "EUR")
        .otherwise("GBP"),
    )
    rates = {"USD": "1.0000", "EUR": "1.0800", "GBP": "1.2600"}
    return standardize_currency(
        orders, "o_totalprice", "currency", rates, spark=spark
    ).select("o_orderkey", "currency", "usd_amount")


@op("rule_remove_outliers", oracle=f"""
    WITH s AS (
        SELECT CAST(COUNT(o_totalprice) AS BIGINT) AS n,
               {o_sum('o_totalprice')} AS s,
               CAST(SUM({o_money('o_totalprice')}
                        * {o_money('o_totalprice')}) AS DOUBLE) AS ss
        FROM orders
    )
    SELECT o_orderkey, o_totalprice
    FROM orders, s
    WHERE ABS(o_totalprice - s / n) <= 3.0 * SQRT((ss - s * s / n) / (n - 1))
""")
def rule_remove_outliers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_outliers (|z| <= 3, ddof=1) on orders.o_totalprice."""
    orders = load_table(spark, sf_dir, "orders")
    return remove_outliers(orders, ["o_totalprice"], z=3.0) \
        .select("o_orderkey", "o_totalprice")


@op("rule_top_performers", oracle=f"""
    SELECT custkey, sales
    FROM (
        SELECT custkey, sales,
               PERCENT_RANK() OVER (ORDER BY sales) AS pr
        FROM (
            SELECT o_custkey AS custkey,
                   {o_sum('o_totalprice')} AS sales
            FROM orders GROUP BY o_custkey
        )
    )
    WHERE pr >= 0.9
""")
def rule_top_performers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_performers: customers in the top 10% by total sales."""
    sales = (
        load_table(spark, sf_dir, "orders")
        .groupBy(C("o_custkey").alias("custkey"))
        .agg(dec_sum("o_totalprice").alias("sales"))
    )
    return top_performers(sales, "sales", frac=0.10).select("custkey", "sales")


@op("ext_winsorize", oracle=f"""
    WITH b AS (
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.01), 6) AS lb,
               ROUND(quantile_cont(l_extendedprice, 0.99), 6) AS ub
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag, b.lb, b.ub,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l.l_extendedprice < b.lb THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(SUM(CASE WHEN l.l_extendedprice > b.ub THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           ROUND(
               (CAST(SUM(CASE WHEN l.l_extendedprice >= b.lb
                               AND l.l_extendedprice <= b.ub
                              THEN {o_cents('l.l_extendedprice')}
                              ELSE 0 END) AS DOUBLE) / 100.0
                + SUM(CASE WHEN l.l_extendedprice < b.lb
                           THEN 1 ELSE 0 END) * b.lb
                + SUM(CASE WHEN l.l_extendedprice > b.ub
                           THEN 1 ELSE 0 END) * b.ub)
               / COUNT(*), 6) AS winsorized_mean
    FROM lineitem l JOIN b USING (l_returnflag)
    GROUP BY l.l_returnflag, b.lb, b.ub
    ORDER BY l.l_returnflag
""")
def ext_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — the robust sibling of rule_remove_outliers: instead
    of DROPPING |z|>3 rows (which biases sums), CLIP the feature at its
    exact per-group 1st/99th percentiles, the standard feature-prep move
    before training on heavy-tailed numerics. Emits per-group bounds,
    clip counts, and the winsorized mean.

    Two-pass plan, both group-parallel: pass 1 computes exact interpolated
    percentiles (one sort per group — the price of a reproducible answer,
    same stance as q_percentile; percentile_approx can't hash-match);
    pass 2 re-scans with the ≤|groups|-row bounds table broadcast and
    clips/aggregates map-side. Determinism: bounds are ROUND(,6) on both
    engines (the raw interpolated double is last-ulp-identical anyway —
    q_percentile's pinned pair); clip comparisons see identical doubles;
    the winsorized sum is assembled interior-cents-exact + clipcount×bound
    in a fixed evaluation order, so the final mean hashes exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.01)), 6).alias("lb"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 6).alias("ub"))
    x = C("l_extendedprice")
    joined = li.select("l_returnflag", "l_extendedprice") \
        .join(F.broadcast(bounds), "l_returnflag")
    interior = F.sum(
        F.when((x >= C("lb")) & (x <= C("ub")), cents(x))
        .otherwise(F.lit(0).cast("bigint"))).cast("double") / 100.0
    n_low = F.sum(F.when(x < C("lb"), 1).otherwise(0)).cast("bigint")
    n_high = F.sum(F.when(x > C("ub"), 1).otherwise(0)).cast("bigint")
    return (joined.groupBy("l_returnflag", "lb", "ub")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                 n_low.alias("n_clipped_low"),
                 n_high.alias("n_clipped_high"),
                 F.round((interior
                          + n_low * C("lb")
                          + n_high * C("ub")) / F.count(F.lit(1)), 6)
                 .alias("winsorized_mean"))
            .orderBy("l_returnflag"))
