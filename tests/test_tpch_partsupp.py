"""Oracle gate for the partsupp-dependent TPC-H queries (Q2/Q9/Q11/
Q16/Q20) — pytest-only because the driver fixtures lack partsupp
(operators/tpch_partsupp.py docstring). Same differential discipline
as tools/verify_local.py: both engines build the SAME synthesized
partsupp (pure integer arithmetic), run the query, and the results
are compared order-insensitively.  The money sums are exact (DECIMAL
sums rounded to cents, as in operators/tpch.py), so floats compare to
a relative 1e-9 with no cent tolerance."""

from __future__ import annotations

import math

import duckdb
import pytest

from open_street_map_data_wrangling_spark.operators.tpch_partsupp import (
    PARTSUPP_QUERIES,
    partsupp_sql_cte,
)
from open_street_map_data_wrangling_spark.sources.catalog import TABLES

SF_DIR = "/root/testdata/sf0.01"

ORACLES = {
    "q_tpch_q2": """
        WITH {ps},
        in_region AS (
            SELECT ps_partkey, ps_suppkey, ps_supplycost, s_name, s_acctbal, n_name
            FROM partsupp
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_regionkey = 0),
        min_cost AS (
            SELECT ps_partkey AS mk, min(ps_supplycost) AS min_cost
            FROM in_region GROUP BY ps_partkey)
        SELECT round(s_acctbal, 2) AS s_acctbal, s_name, n_name,
               p_partkey, p_name, round(ps_supplycost, 2) AS ps_supplycost
        FROM in_region
        JOIN min_cost ON ps_partkey = mk AND ps_supplycost = min_cost
        JOIN part ON ps_partkey = p_partkey
        WHERE p_type = 'SMALL'
        ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
        LIMIT 100
    """,
    "q_tpch_q9": """
        WITH {ps}
        SELECT n_name AS nation, year(l_shipdate) AS o_year,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                              * (1 - CAST(l_discount AS DECIMAL(15,2)))
                              - CAST(ps_supplycost AS DECIMAL(15,2))
                                * CAST(l_quantity AS DECIMAL(15,2))), 2)
                    AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN partsupp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%red%'
        GROUP BY n_name, year(l_shipdate)
    """,
    "q_tpch_q11": """
        WITH {ps},
        scoped AS (
            SELECT ps_partkey, CAST(ps_supplycost AS DECIMAL(15,2)) * ps_availqty AS v
            FROM partsupp
            JOIN supplier ON ps_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_1')
        SELECT ps_partkey, CAST(round(sum(v), 2) AS DOUBLE) AS value
        FROM scoped
        GROUP BY ps_partkey
        HAVING CAST(round(sum(v), 2) AS DOUBLE)
               > (SELECT CAST(sum(v) AS DOUBLE) * 0.001 FROM scoped)
    """,
    "q_tpch_q16": """
        WITH {ps}
        SELECT p_brand, p_type, p_size,
               count(DISTINCT ps_suppkey) AS supplier_cnt
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        WHERE p_brand <> 'Brand#1' AND p_type <> 'ECONOMY'
          AND ps_suppkey NOT IN (
              SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
        GROUP BY p_brand, p_type, p_size
    """,
    "q_tpch_q20": """
        WITH {ps},
        shipped AS (
            SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                   sum(l_quantity) AS qty
            FROM lineitem WHERE year(l_shipdate) = 1998
            GROUP BY l_partkey, l_suppkey)
        SELECT DISTINCT s_name, CAST(s_nationkey AS INTEGER) AS s_nationkey
        FROM partsupp
        JOIN part ON ps_partkey = p_partkey
        JOIN shipped USING (ps_partkey, ps_suppkey)
        JOIN supplier ON ps_suppkey = s_suppkey
        WHERE p_name LIKE '%blue%' AND ps_availqty > 0.5 * qty
        ORDER BY s_name
    """,
}


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, float(b), rel_tol=1e-9)
    return a == b


@pytest.mark.parametrize("name", sorted(PARTSUPP_QUERIES))
def test_partsupp_query_matches_oracle(spark, name, oracle_con):
    sdf = PARTSUPP_QUERIES[name](spark, SF_DIR)
    n_supp = oracle_con.execute("SELECT count(*) FROM supplier").fetchone()[0]
    sql = ORACLES[name].format(ps=partsupp_sql_cte(n_supp))
    res = oracle_con.execute(sql)
    o_cols = [d[0] for d in res.description]
    o_rows = res.fetchall()
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    assert sorted(s_cols) == sorted(o_cols), f"{name}: column mismatch"
    assert len(s_rows) == len(o_rows), f"{name}: {len(s_rows)} vs {len(o_rows)} rows"
    for sr, orow in zip(_norm(s_rows, s_cols), _norm(o_rows, o_cols)):
        assert all(_eq(x, y) for x, y in zip(sr, orow)), f"{name}: {sr} != {orow}"


def test_partsupp_is_primary_keyed(spark):
    from open_street_map_data_wrangling_spark.operators.tpch_partsupp import (
        partsupp_df,
    )

    ps = partsupp_df(spark, SF_DIR)
    assert ps.count() == ps.select("ps_partkey", "ps_suppkey").distinct().count()


def test_partsupp_covers_all_lineitem_pairs(spark):
    """TPC-H referential invariant: every (l_partkey, l_suppkey) in
    lineitem must exist in partsupp, so Q9/Q20's composite-key inner
    joins keep the full fact-table mass (round-3 ADVICE: the 4 slots
    alone covered ~4% of lineitem)."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.tpch_partsupp import (
        partsupp_df,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    ps = partsupp_df(spark, SF_DIR)
    li = load_table(spark, SF_DIR, "lineitem").select(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    )
    missing = li.join(ps, ["ps_partkey", "ps_suppkey"], "left_anti").count()
    assert missing == 0
