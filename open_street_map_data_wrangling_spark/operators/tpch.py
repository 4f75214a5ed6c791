"""TPC-H-shaped headline queries over the fixture star schema.

The fixture universe is TPC-H-ish (TESTDATA.md); these are the
classic benchmark shapes adapted to the columns that exist —
recognizable plan structures (scan-heavy agg, top-k over a join,
multi-dim star volume, grouped anti-behavior) that exercise the
optimizer the way the originals do. Not a certified TPC-H run; the
value is the plan shapes and the oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.catalog import load_table

# Money sums are exact: the fixture's prices, discounts, taxes and
# balances are whole cents, so they are summed as DECIMAL(15,2)
# arithmetic, rounded to cents, then returned as DOUBLE.  A double
# sum's last bits depend on the summation order, so one on a .xx5
# boundary could round to different cents on the two engines.
# Ratios and averages of money (Q1's avg_price/avg_disc, Q8, Q14)
# divide these exact sums as doubles before rounding.
# `_cents`/`_money_sum`/`_disc_price` build the Spark side; the
# `_sql` helpers and `_DISC_PRICE_SQL` are their DuckDB twins.


def _cents(name: str) -> Column:
    return F.col(name).cast("decimal(15,2)")


def _money_sum(amount: Column) -> Column:
    return F.round(F.sum(amount), 2).cast("double")


def _disc_price() -> Column:
    return _cents("l_extendedprice") * (1 - _cents("l_discount"))


def _cents_sql(name: str) -> str:
    return f"CAST({name} AS DECIMAL(15,2))"


def _money_sum_sql(amount: str) -> str:
    return f"CAST(round(sum({amount}), 2) AS DOUBLE)"


_DISC_PRICE_SQL = f"{_cents_sql('l_extendedprice')} * (1 - {_cents_sql('l_discount')})"


@query(
    "q_tpch_q1",
    oracle=f"""
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               {_money_sum_sql(_cents_sql("l_extendedprice"))} AS sum_base_price,
               {_money_sum_sql(_DISC_PRICE_SQL)} AS sum_disc_price,
               {_money_sum_sql(f"{_DISC_PRICE_SQL} * (1 + {_cents_sql('l_tax')})")}
                 AS sum_charge,
               round(avg(l_quantity), 4) AS avg_qty,
               round({_money_sum_sql(_cents_sql("l_extendedprice"))} / count(*), 4)
                 AS avg_price,
               round({_money_sum_sql(_cents_sql("l_discount"))} / count(*), 6)
                 AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: the scan-dominated aggregate — one pass,
    partial+final hash agg, date filter pushed to the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = _disc_price()
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _money_sum(_cents("l_extendedprice")).alias("sum_base_price"),
            _money_sum(disc_price).alias("sum_disc_price"),
            _money_sum(disc_price * (1 + _cents("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(
                _money_sum(_cents("l_extendedprice")) / F.count("*"), 4
            ).alias("avg_price"),
            F.round(_money_sum(_cents("l_discount")) / F.count("*"), 6).alias(
                "avg_disc"
            ),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "q_tpch_q3",
    oracle=f"""
        SELECT l_orderkey,
               {_money_sum_sql(_DISC_PRICE_SQL)} AS revenue,
               strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS orderdate,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey ASC
        LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: selective dim filter (broadcast) →
    fact join → top-10 by revenue (TakeOrderedAndProject).
    l_orderkey tiebreak keeps the LIMIT engine-deterministic."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1998-06-01 00:00:00").cast("timestamp_ntz")
    return (
        li.filter(F.col("l_shipdate") > cut)
        .join(
            orders.filter(F.col("o_orderdate") < cut),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(customer.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_money_sum(_disc_price()).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "revenue",
            F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
                "orderdate"
            ),
            "o_orderpriority",
        )
    )


@query(
    "q_tpch_q5",
    oracle=f"""
        SELECT n_name,
               {_money_sum_sql(_DISC_PRICE_SQL)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = (SELECT min(r_name) FROM region)
          AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
    """,
    tags=("tpch", "join", "star"),
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier volume: the 6-table star with the
    customer-nation = supplier-nation correlation — the join-order
    stress test. Dims broadcast; lineitem is the only shuffled side."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    first_region = region.agg(F.min("r_name").alias("r_name"))
    region_f = region.join(F.broadcast(first_region), "r_name", "left_semi")
    return (
        li.join(
            orders.filter(
                F.col("o_orderdate")
                >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region_f), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            _money_sum(_disc_price()).alias("revenue")
        )
    )


@query(
    "q_tpch_q10",
    oracle=f"""
        SELECT c_custkey, c_name, n_name,
               {_money_sum_sql(_DISC_PRICE_SQL)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey ASC
        LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: returns-filtered fact → customer
    rollup → top-20 losers."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            _money_sum(_disc_price()).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "q_tpch_q6",
    oracle=f"""
        SELECT {_money_sum_sql(f"{_cents_sql('l_extendedprice')} * {_cents_sql('l_discount')}")}
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """,
    tags=("tpch", "agg"),
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting revenue change: the pure filter-aggregate — every
    predicate pushes to the parquet scan, zero joins, one partial+final
    agg; the canonical 'is pushdown working' probe."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            _money_sum(_cents("l_extendedprice") * _cents("l_discount")).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q_tpch_q14",
    oracle=f"""
        SELECT round(
                 100.0 * {_money_sum_sql(f"CASE WHEN p_type = 'PROMO' THEN {_DISC_PRICE_SQL} ELSE 0 END")}
                 / {_money_sum_sql(_DISC_PRICE_SQL)}, 4) AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: conditional aggregation over a broadcast
    dimension join — promo revenue share of one month."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = _disc_price()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(0)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-07-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * _money_sum(promo) / _money_sum(rev), 4).alias(
                "promo_revenue_pct"
            )
        )
    )


@query(
    "q_tpch_q18",
    oracle="""
        SELECT c_custkey, c_name, o_orderkey,
               round(o_totalprice, 2) AS o_totalprice_r, qty_sum
        FROM (
            SELECT l_orderkey, round(sum(l_quantity), 2) AS qty_sum
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        ) big
        JOIN orders ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice_r DESC, o_orderkey ASC
        LIMIT 20
    """,
    tags=("tpch", "join", "having", "topk"),
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: HAVING-filtered fact aggregate
    joined back to its parents, top-20. The aggregate runs FIRST and
    shrinks the fact side before any join touches it — at 100 TB the
    orderkey pre-aggregation is what keeps the join input bounded."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_raw"))
        .filter(F.col("qty_raw") > 150)
        .select("l_orderkey", F.round("qty_raw", 2).alias("qty_sum"))
    )
    return (
        big.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice_r"),
            "qty_sum",
        )
        .orderBy(F.desc("o_totalprice_r"), F.asc("o_orderkey"))
        .limit(20)
    )


@query(
    "q_tpch_q4",
    oracle="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
          AND EXISTS (
              SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        GROUP BY o_orderpriority
    """,
    tags=("tpch", "semijoin", "agg"),
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking: EXISTS-filtered quarter of orders
    (returns-flagged lines stand in for the reference's late-delivery
    predicate — no commit/receipt dates in the fixture). The EXISTS is
    a left-semi join shipping only l_orderkey."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    flagged = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1997-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(flagged, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_tpch_q17",
    oracle=f"""
        SELECT round({_money_sum_sql(_cents_sql("l_extendedprice"))} / 7.0, 2)
                 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = p_partkey)
    """,
    tags=("tpch", "subquery", "agg"),
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: correlated scalar AGGREGATE
    subquery (per-part average) — the decorrelation stress shape.
    Catalyst rewrites it to a per-partkey aggregate joined back; the
    SQL front door proves the rewrite, no hand-decorrelation."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    li.createOrReplaceTempView("lineitem")
    part.createOrReplaceTempView("part")
    return spark.sql(
        f"""
        SELECT round({_money_sum_sql(_cents_sql("l_extendedprice"))} / 7.0, 2)
                 AS avg_yearly
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (
              SELECT 0.2 * avg(l_quantity) FROM lineitem l2
              WHERE l2.l_partkey = p_partkey)
        """
    )


@query(
    "q_tpch_q7",
    oracle=f"""
        SELECT supp_nation, cust_nation, l_year,
               {_money_sum_sql("volume")} AS revenue
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INT) AS l_year,
                   {_DISC_PRICE_SQL} AS volume
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                 AND TIMESTAMP '1996-12-31 00:00:00'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping: bilateral trade between two nations by year.
    The symmetric OR over two nation pairs prunes BOTH dim sides before
    the fact join — both nation lookups broadcast; only lineitem ⋈
    orders shuffles. year() stays a JVM expression on the shipdate."""
    supplier = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    return (
        li.filter(
            F.col("l_shipdate").between(
                F.lit("1995-01-01 00:00:00").cast("timestamp_ntz"),
                F.lit("1996-12-31 00:00:00").cast("timestamp_ntz"),
            )
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(
            _money_sum(_disc_price()).alias("revenue")
        )
    )


@query(
    "q_tpch_q8",
    oracle=f"""
        SELECT o_year,
               round({_money_sum_sql("CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END")}
                     / {_money_sum_sql("volume")}, 6) AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS INT) AS o_year,
                   {_DISC_PRICE_SQL} AS volume,
                   n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'AFRICA' AND p_type = 'ECONOMY'
        ) all_nations
        GROUP BY o_year
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: the 8-table join with TWO roles for
    nation (customer's region filter vs supplier's nationality) — the
    classic self-role-separation shape. The selective part filter
    (p_type) drives the fact reduction first; every dim broadcasts."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    region_f = region.filter(F.col("r_name") == "AFRICA")
    volume = _disc_price()
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(region_f), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                _money_sum(F.when(F.col("nation") == "NATION_1", volume).otherwise(0))
                / _money_sum(volume),
                6,
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q12",
    oracle="""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_linestatus
    """,
    tags=("tpch", "join", "agg"),
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping-modes-and-priority (adapted: the fixture lineitem
    has no l_shipmode/commit/receipt dates, so l_linestatus stands in
    for shipmode and the shipdate year for the receipt window — same
    conditional-count-over-join shape). Counts as conditional SUMs keep
    the whole agg in one partial+final hash pass."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        )
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q13",
    oracle="""
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
            GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
    """,
    tags=("tpch", "outerjoin", "agg"),
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer distribution: LEFT OUTER join with an extra join
    predicate (priority filter INSIDE the join, so no-order customers
    survive with count 0), then a second aggregate over the first —
    the histogram-of-group-sizes shape. count(o_orderkey) skips the
    nulls the outer join manufactures."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(
            orders.filter(F.col("o_orderpriority") != "5-LOW"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


@query(
    "q_tpch_q15",
    oracle=f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no,
                   {_money_sum_sql(_DISC_PRICE_SQL)} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
    tags=("tpch", "subquery", "topk"),
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier, single-scan form: max-with-ties over the
    aggregated revenue view via rank() == 1 on a global window. The
    semi-join form consumed the revenue view twice (two lineitem
    scans); here lineitem scans ONCE, and the rank filter compiles to
    WindowGroupLimit — each task keeps only its local top (with ties)
    before the single-partition exchange, so the global window sees a
    handful of rows per task, not |suppliers|. Comparing the ROUNDED
    revenue keeps the float equality engine-stable."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp_ntz"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            _money_sum(_disc_price()).alias("total_revenue")
        )
    )
    w = W.orderBy(F.desc("total_revenue"))
    return (
        revenue.withColumn("__rnk", F.rank().over(w))
        .filter(F.col("__rnk") == 1)
        .drop("__rnk")
        .join(F.broadcast(supplier), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q_tpch_q19",
    oracle=f"""
        SELECT {_money_sum_sql(_DISC_PRICE_SQL)} AS revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "join", "disjunction"),
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue (adapted: p_size/l_quantity bands replace
    the fixture-absent container/shipmode): the OR-of-ANDs join
    predicate that mixes columns from BOTH sides. Catalyst extracts the
    common p_brand IN (...) / p_size <= 15 / l_quantity <= 30 factors
    as pushdown-able pre-filters; the residual disjunction evaluates
    post-join on the broadcast hash probe."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            _money_sum(_disc_price()).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q_tpch_q21",
    oracle="""
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND n_name = 'NATION_3'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R')
        GROUP BY s_name
    """,
    tags=("tpch", "subquery", "semijoin", "antijoin"),
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers who kept orders waiting (adapted: l_returnflag='R'
    marks the 'problem' line where the fixture lacks commit/receipt
    dates): the EXISTS + NOT-EXISTS double-correlation — the hardest
    decorrelation shape in the suite. Expressed through the SQL front
    door so Catalyst plans the correlated subqueries itself (left-semi
    + left-anti on l_orderkey with the suppkey inequality as the
    non-equi residual)."""
    for name in ("supplier", "lineitem", "orders", "nation"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(
        """
        SELECT s_name, count(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND n_name = 'NATION_3'
          AND EXISTS (
              SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
              SELECT 1 FROM lineitem l3
              WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_returnflag = 'R')
        GROUP BY s_name
        """
    )


@query(
    "q_tpch_q22",
    oracle=f"""
        SELECT n_name AS cntry, count(*) AS numcust,
               {_money_sum_sql(_cents_sql("c_acctbal"))} AS totacctbal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_acctbal > (
                SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (
                SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY n_name
    """,
    tags=("tpch", "subquery", "antijoin", "agg"),
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global sales opportunity (adapted: nation name replaces the
    fixture-absent phone country code): rich-but-inactive customers —
    an uncorrelated scalar AVG threshold (1-row broadcast) plus a
    NOT EXISTS anti-join against recent orders (the fixture has no
    fully order-less customers, so 'inactive' = no order since 1999 —
    the orders side is date-filtered BEFORE the anti-join, so the
    pushed predicate shrinks the build side at scale), then a nation
    rollup."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    threshold = customer.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        customer.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            orders.filter(
                F.col("o_orderdate")
                >= F.lit("1999-01-01 00:00:00").cast("timestamp_ntz")
            ).select(F.col("o_custkey").alias("c_custkey")),
            "c_custkey",
            "left_anti",
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("cntry"))
        .agg(
            F.count("*").alias("numcust"),
            _money_sum(_cents("c_acctbal")).alias("totacctbal"),
        )
    )
