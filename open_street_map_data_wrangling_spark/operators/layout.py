"""Z-order (Morton) clustering — multi-dimensional data-skipping
layout.

A 100 TB table is pruned by min/max statistics (parquet row groups,
lakehouse file stats).  Sorting by ONE column gives perfect skipping
on that column and none on any other; interleaving the bits of two
quantized columns gives a single sort key whose contiguous ranges are
small rectangles in BOTH dimensions, so a rectangle predicate touches
O(perimeter) files instead of all of them — the layout trick behind
lakehouse z-order clustering, built here from plain integer
expressions (quantize → spread bits with the Morton magic numbers →
interleave), no UDF, no shuffle beyond the final clustering write.

The z-value is pure integer arithmetic after quantization, so the
Spark build and the DuckDB oracle agree bit-for-bit; the one double
step (scaling a measure into its min/max range) is written with the
identical IEEE expression on both sides.

tests/test_layout.py writes the same rows z-clustered and
single-column-sorted and asserts a 2-D box predicate touches a strict
subset of files under z-order while the single-column layout reads
every file for the off-axis dimension.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.catalog import load_table

# Morton spread: 16-bit value -> its bits at even positions of 32.
# (mask, shift) pairs applied high-to-low; constants are the classic
# 0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555 in decimal so the
# same literals parse in Spark SQL and DuckDB.
_SPREAD = ((8, 16711935), (4, 252645135), (2, 858993459), (1, 1431655765))


def _spread_sql(expr: str, shift_fmt) -> str:
    """SQL computing the bit-spread of a 16-bit ``expr``;
    ``shift_fmt(e, n)`` renders a left shift in the target dialect."""
    e = f"({expr})"
    for n, mask in _SPREAD:
        e = f"(({e} | {shift_fmt(e, n)}) & {mask})"
    return e


def _spark_shift(e: str, n: int) -> str:
    return f"shiftleft({e}, {n})"


def _duck_shift(e: str, n: int) -> str:
    return f"({e} << {n})"


def zvalue_sql(qx: str, qy: str, shift_fmt) -> str:
    """Interleave two quantized 16-bit columns into one 32-bit Morton
    key: x at even bit positions, y at odd."""
    return (
        f"({_spread_sql(qx, shift_fmt)} | "
        f"{shift_fmt(_spread_sql(qy, shift_fmt), 1)})"
    )


# Quantizers for the q_zorder fixture query (orders): o_orderdate as
# day offsets and o_totalprice in cents, each scaled to [0, 65535]
# with pure integer arithmetic against broadcast min/max scalars.
# floor(x * 100 + 0.5) is the one double op; it is spelled
# identically in both dialects (IEEE-deterministic).
_QDAYS = "CAST((days - mnd) * 65535 div greatest(mxd - mnd, 1) AS BIGINT)"
_QCENTS = "CAST((cents - mnc) * 65535 div greatest(mxc - mnc, 1) AS BIGINT)"
_QDAYS_DUCK = "CAST((days - mnd) * 65535 // greatest(mxd - mnd, 1) AS BIGINT)"
_QCENTS_DUCK = "CAST((cents - mnc) * 65535 // greatest(mxc - mnc, 1) AS BIGINT)"

_ZORDER_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS days,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
), rng AS (
  SELECT min(days) AS mnd, max(days) AS mxd,
         min(cents) AS mnc, max(cents) AS mxc
  FROM base
), q AS (
  SELECT o_orderkey,
         {_QDAYS_DUCK} AS qx,
         {_QCENTS_DUCK} AS qy
  FROM base CROSS JOIN rng
)
SELECT CAST({zvalue_sql('qx', 'qy', _duck_shift)} >> 24 AS BIGINT) AS z_bucket,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
FROM q
GROUP BY 1
ORDER BY z_bucket
"""


def with_zvalue(
    df: DataFrame,
    qx: str,
    qy: str,
    out: str = "z",
) -> DataFrame:
    """Append the Morton key of two ALREADY-QUANTIZED (0..65535)
    integer columns — the reusable clustering primitive: follow with
    ``repartitionByRange(n, out)`` + write to lay a table out for
    2-D skipping (tests/test_layout.py builds its skipping fixture
    this way; q_zorder shares ``zvalue_sql``)."""
    return df.withColumn(out, F.expr(zvalue_sql(qx, qy, _spark_shift)))


@query("q_zorder", oracle=_ZORDER_ORACLE, tags=("layout", "scale"))
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton keys over orders (orderdate-days x totalprice-cents,
    16 bits each): per z-prefix bucket (top 8 bits) row count +
    orderkey checksum.  Exercises the full quantize+interleave
    pipeline over every row with an exact integer oracle; the
    min/max scalars enter as a 1-row broadcast, everything else is
    rowwise at the scan plus one bounded (<=256-key) aggregate."""
    base = load_table(spark, sf_dir, "orders").selectExpr(
        "o_orderkey",
        "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01') AS days",
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents",
    )
    rng = base.selectExpr(
        "min(days) AS mnd",
        "max(days) AS mxd",
        "min(cents) AS mnc",
        "max(cents) AS mxc",
    )
    q = base.crossJoin(F.broadcast(rng)).selectExpr(
        "o_orderkey",
        f"{_QDAYS} AS qx",
        f"{_QCENTS} AS qy",
    )
    z = zvalue_sql("qx", "qy", _spark_shift)
    return (
        q.selectExpr("o_orderkey", f"CAST({z} >> 24 AS BIGINT) AS z_bucket")
        .groupBy("z_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("o_orderkey").cast("bigint").alias("key_checksum"),
        )
        .orderBy("z_bucket")
    )

