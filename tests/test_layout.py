"""Z-order layout: the clustering must actually buy 2-D skipping.

Writes the same rows twice — z-clustered and single-column-sorted —
into 16 range-partitioned files each, then measures which files
contain rows matching a box predicate (via input_file_name on the
filtered scan: file-level locality is a property of the LAYOUT, the
same one lakehouse min/max stats prune by).  The single-column
layout must read every file for an off-axis predicate; z-order must
touch a strict subset of files for the same box on either axis.
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import pytest
from pyspark.sql import functions as F

from open_street_map_data_wrangling_spark.operators.layout import with_zvalue

N_FILES = 16


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    # 64x64 grid, one row per cell: every (qx, qy) box is exactly
    # representable, no sampling noise
    base = (
        spark.range(64 * 64)
        .selectExpr("id", "CAST(id % 64 AS BIGINT) AS gx", "CAST(id div 64 AS BIGINT) AS gy")
        # scale grid coords into the 16-bit domain the primitive expects
        .selectExpr("id", "gx", "gy", "gx * 1024 AS qx", "gy * 1024 AS qy")
    )
    zdir = str(tmp_path_factory.mktemp("zorder"))
    xdir = str(tmp_path_factory.mktemp("xsort"))
    with_zvalue(base, "qx", "qy").repartitionByRange(N_FILES, "z").write.mode(
        "overwrite"
    ).parquet(zdir)
    base.repartitionByRange(N_FILES, "qx").write.mode("overwrite").parquet(xdir)
    return zdir, xdir


def _files_touched(spark, path, predicate) -> int:
    df = spark.read.parquet(path).filter(predicate)
    return df.select(F.input_file_name()).distinct().count()


def _total_files(spark, path) -> int:
    return (
        spark.read.parquet(path).select(F.input_file_name()).distinct().count()
    )


def test_zorder_skips_on_both_axes(spark, layouts):
    zdir, xdir = layouts
    total = _total_files(spark, zdir)
    assert total == N_FILES
    box_y = "gy >= 8 AND gy < 16"  # off-axis for the x-sorted layout
    box_x = "gx >= 8 AND gx < 16"
    # single-column sort: perfect on its own axis, useless off-axis
    assert _files_touched(spark, xdir, box_y) == N_FILES
    assert _files_touched(spark, xdir, box_x) <= N_FILES // 4
    # z-order: strict subset of files on EITHER single axis...
    z_y = _files_touched(spark, zdir, box_y)
    z_x = _files_touched(spark, zdir, box_x)
    assert z_y <= N_FILES // 2
    assert z_x <= N_FILES // 2
    # ...and a small 2-D box touches only a few files
    z_box = _files_touched(spark, zdir, f"{box_x} AND {box_y}")
    assert z_box <= N_FILES // 4


def test_zvalue_is_a_space_filling_curve(spark):
    """Adjacent z-values differ in exactly one grid step: decoding the
    interleave recovers the quantized inputs (round-trip check over
    the whole 16-bit-domain corner set)."""
    pts = [(x, y) for x in (0, 1, 255, 65535) for y in (0, 1, 255, 65535)]
    df = spark.createDataFrame(pts, "qx bigint, qy bigint")
    rows = with_zvalue(df, "qx", "qy").collect()
    for r in rows:
        z = r["z"]
        dx = sum(((z >> (2 * b)) & 1) << b for b in range(16))
        dy = sum(((z >> (2 * b + 1)) & 1) << b for b in range(16))
        assert (dx, dy) == (r["qx"], r["qy"])
