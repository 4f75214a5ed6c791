"""TPC-H queries needing partsupp (Q2/Q9/Q11/Q16/Q20) — pytest-only.

The driver fixtures have no partsupp table, so these five shapes were
impossible in the registry (VERDICT r02 §missing). They are unlocked
here with a SYNTHESIZED partsupp: a deterministic pure-integer
derivation from the part/supplier tables that both engines compute
bit-identically (FIXTURES.md §E). The queries stay OUT of the query
registry on purpose — the driver cannot check a table its fixtures
lack, and registry entries would displace real queries from the
~50-entry CORRECTNESS window — so their oracle gate lives in
tests/test_tpch_partsupp.py, same comparator discipline as
tools/verify_local.py.

TPC-H spec shape: 4 supplier slots per part; availqty 1..9999;
supplycost 1.00..1000.00. Because the fixture lineitem was NOT
generated against a partsupp table, the spec's referential invariant
(every (l_partkey, l_suppkey) appears in partsupp) does not hold for
the 4 slots alone — Q9/Q20's composite-key joins would silently keep
only the ~4/n_supp sliver of lineitem that happens to hit a slot.
partsupp is therefore the UNION of the 4 slots and the distinct
(l_partkey, l_suppkey) pairs actually present in lineitem — both arms
deterministic in each engine — with availqty/supplycost derived from
(ps_partkey, ps_suppkey) alone so a pair reachable from both arms
gets one value; (ps_partkey, ps_suppkey) is a true primary key by
the pair-level distinct.

Scale posture: the slot arm is |part|×4 (dimension-sized); the
lineitem arm is a fact-scale distinct — exactly the aggregate-before-
join shape (reduce lineitem to its key pairs FIRST). A real
deployment would read the real partsupp table and skip the synthesis;
the union arm exists only because the fixture lacks the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .tpch import _cents, _disc_price, _money_sum

_SLOTS = 4


def partsupp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized partsupp (ps_partkey, ps_suppkey, ps_availqty,
    ps_supplycost): 4 deterministic slots per part UNIONed with the
    distinct (l_partkey, l_suppkey) pairs from lineitem (referential
    integrity — see module docstring), values derived from the key
    pair alone. n_supp is read from the supplier table's count — a
    dimension-table scalar (metadata-cheap at any scale)."""
    n_supp = load_table(spark, sf_dir, "supplier").count()
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    slot_pairs = part.select(
        "p_partkey", F.explode(F.array(*[F.lit(j) for j in range(_SLOTS)])).alias("j")
    ).select(
        F.col("p_partkey").alias("ps_partkey"),
        ((F.col("p_partkey") * 7 + F.col("j") * 13) % n_supp).alias("ps_suppkey"),
    )
    li_pairs = li.select(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    )
    pairs = slot_pairs.unionAll(li_pairs).distinct()
    return pairs.select(
        "ps_partkey",
        "ps_suppkey",
        (1 + (F.col("ps_partkey") * 31 + F.col("ps_suppkey") * 17) % 9999).alias(
            "ps_availqty"
        ),
        (
            (100 + (F.col("ps_partkey") * 131 + F.col("ps_suppkey") * 71) % 99900)
            / 100.0
        ).alias("ps_supplycost"),
    )


def partsupp_sql_cte(n_supp: int) -> str:
    """DuckDB twin of partsupp_df — same integers, same division.
    Emits two CTE bodies (pair universe, then valued partsupp); embed
    as ``WITH {partsupp_sql_cte(n)}, ...``."""
    return f"""
        ps_pairs AS (
            SELECT DISTINCT ps_partkey, ps_suppkey FROM (
                SELECT p_partkey AS ps_partkey,
                       (p_partkey * 7 + j * 13) % {n_supp} AS ps_suppkey
                FROM part, unnest([{", ".join(str(j) for j in range(_SLOTS))}]) AS t(j)
                UNION ALL
                SELECT l_partkey, l_suppkey FROM lineitem
            )
        ),
        partsupp AS (
            SELECT ps_partkey, ps_suppkey,
                   1 + (ps_partkey * 31 + ps_suppkey * 17) % 9999 AS ps_availqty,
                   (100 + (ps_partkey * 131 + ps_suppkey * 71) % 99900) / 100.0
                     AS ps_supplycost
            FROM ps_pairs
        )
    """


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier: for SMALL-type parts, the supplier(s)
    achieving the per-part minimum supplycost within the EUROPE-analog
    region (r_regionkey = 0). Correlated-min via a grouped aggregate
    joined back on (partkey, mincost) — no window over the fact side.
    All dims broadcast; partsupp never shuffles twice."""
    ps = partsupp_df(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_regionkey") == 0)
    in_region = (
        ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    min_cost = in_region.groupBy(F.col("ps_partkey").alias("mk")).agg(
        F.min("ps_supplycost").alias("min_cost")
    )
    return (
        in_region.join(
            min_cost,
            (F.col("ps_partkey") == F.col("mk"))
            & (F.col("ps_supplycost") == F.col("min_cost")),
        )
        .join(F.broadcast(part), F.col("ps_partkey") == part.p_partkey)
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.round("ps_supplycost", 2).alias("ps_supplycost"),
        )
        .orderBy(F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey"))
        .limit(100)
    )


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit: profit per nation per order-year over
    parts whose name carries a color token. lineitem joins partsupp on
    the COMPOSITE (partkey, suppkey) key — the one TPC-H join that is
    not a single-column equi-join — then aggregates before anything
    else; part filter is pushed below the join (broadcast), so the
    fact scan is filtered early.  partsupp carries a fact-derived arm
    (module docstring), so it gets NO broadcast hint — on a real
    partsupp (dimension-sized) AQE broadcasts it at runtime; on the
    synthesized one a shuffle join is the honest plan."""
    li = load_table(spark, sf_dir, "lineitem")
    ps = partsupp_df(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    amount = _disc_price() - _cents("ps_supplycost") * _cents("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            ps,
            (li.l_partkey == ps.ps_partkey) & (li.l_suppkey == ps.ps_suppkey),
        )
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("l_shipdate").alias("o_year")
        )
        .agg(_money_sum(amount).alias("sum_profit"))
    )


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock: per-part inventory value within one nation,
    kept where the part's value exceeds a fraction of the nation-wide
    total. The total is a one-row aggregate broadcast into the HAVING
    — scalar-subquery shape, no second scan of partsupp (the grouped
    table is reused for both branches; at 100 TB partsupp is
    dimension-sized so the re-aggregation is noise)."""
    ps = partsupp_df(spark, sf_dir)
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    scoped = (
        ps.join(F.broadcast(supp), ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("ps_partkey", (_cents("ps_supplycost") * F.col("ps_availqty")).alias("v"))
    )
    per_part = scoped.groupBy("ps_partkey").agg(_money_sum("v").alias("value"))
    total = scoped.agg((F.sum("v").cast("double") * 0.001).alias("cut"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("cut"))
        .select("ps_partkey", "value")
    )


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship: distinct supplier count per
    (brand, type, size) for parts outside one brand/type, excluding a
    supplier denylist (spec excludes comment-matched suppliers; the
    fixture has no s_comment, so the denylist is the analogous s_name
    predicate — documented adaptation). count_distinct after a
    broadcast anti-join; group keys are low-cardinality so the final
    agg is tiny."""
    ps = partsupp_df(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "ECONOMY")
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_name").endswith("7")
    )
    return (
        ps.join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp.select(F.col("s_suppkey").alias("ps_suppkey"))),
            "ps_suppkey",
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("ps_suppkey").alias("supplier_cnt"))
    )


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential promotion: suppliers holding excess stock
    (availqty > half the quantity they shipped in 1998) of
    color-named parts. The shipped-quantity aggregate reduces
    lineitem FIRST (groupBy partkey, suppkey), then joins the
    dimension-sized partsupp — the fact table is never joined
    unaggregated."""
    ps = partsupp_df(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("blue"))
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.year("l_shipdate") == 1998
    )
    supp = load_table(spark, sf_dir, "supplier")
    shipped = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"), F.col("l_suppkey").alias("ps_suppkey")
    ).agg(F.sum("l_quantity").alias("qty"))
    excess = (
        ps.join(F.broadcast(part), ps.ps_partkey == part.p_partkey)
        .join(shipped, ["ps_partkey", "ps_suppkey"])
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        excess.join(F.broadcast(supp), excess.ps_suppkey == supp.s_suppkey)
        .select("s_name", F.col("s_nationkey").cast("int").alias("s_nationkey"))
        .orderBy("s_name")
    )


PARTSUPP_QUERIES = {
    "q_tpch_q2": q_tpch_q2,
    "q_tpch_q9": q_tpch_q9,
    "q_tpch_q11": q_tpch_q11,
    "q_tpch_q16": q_tpch_q16,
    "q_tpch_q20": q_tpch_q20,
}
