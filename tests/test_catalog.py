"""sources/catalog.py — the parquet schema memo behind load_table and
the index-artifact readers: one inference per file listing, keyed so
that a rewritten listing, a flipped inference conf or a non-local path
never reuses a remembered schema, and Spark's own errors unchanged."""

import logging

import pytest
from pyspark.errors import AnalysisException

from open_street_map_data_wrangling_spark.sources import catalog
from open_street_map_data_wrangling_spark.sources.catalog import (
    TABLES,
    load_table,
    read_parquet,
)


@pytest.fixture
def memo(monkeypatch, caplog):
    """An empty schema memo for this test, and the paths it inferred
    (one log record per inference)."""
    monkeypatch.setattr(catalog, "_SCHEMAS", {})
    caplog.set_level(logging.INFO, logger=catalog.__name__)

    def inferred() -> list[str]:
        return [
            r.getMessage()
            for r in caplog.get_records("call")
            if r.name == catalog.__name__
        ]

    return inferred


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


@pytest.mark.parametrize("name", TABLES)
def test_load_table_hit_matches_miss(spark, sf_dir, memo, name):
    """Every registry table reads the same dtypes and rows whether its
    schema is inferred (a miss) or remembered (a hit)."""
    miss = load_table(spark, sf_dir, name)
    assert len(memo()) == 1
    hit = load_table(spark, sf_dir, name)
    assert len(memo()) == 1, "the second load must not infer again"
    assert hit.dtypes == miss.dtypes
    assert _rows(hit) == _rows(miss)


def test_warm_top_users_builds_without_jobs(spark, sf_dir, count_jobs):
    """A warm q_top_users builds its plan without a single Spark job
    (no per-read schema inference) and runs in at most two."""
    from open_street_map_data_wrangling_spark.plans import load_all_queries

    q = load_all_queries()["q_top_users"].spark
    q(spark, sf_dir).collect()
    assert count_jobs(lambda: q(spark, sf_dir)) == 0
    assert count_jobs(lambda: q(spark, sf_dir).collect()) <= 2


def test_rewritten_listing_is_inferred_again(spark, tmp_path, memo):
    """A table rewritten at the same path with another schema reads
    with the new schema: the memo key is the file listing, not the
    path alone, and the path keeps a single entry."""
    p = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "id INT, s STRING").write.parquet(p)
    assert read_parquet(spark, p).dtypes == [("id", "int"), ("s", "string")]
    assert read_parquet(spark, p).dtypes == [("id", "int"), ("s", "string")]
    spark.createDataFrame([(2.5,)], "x DOUBLE").write.mode(
        "overwrite"
    ).parquet(p)
    df = read_parquet(spark, p)
    assert df.dtypes == [("x", "double")]
    assert [r.x for r in df.collect()] == [2.5]
    assert len(memo()) == 2
    assert list(catalog._SCHEMAS) == [p]


def test_flipping_nanos_as_long_infers_again(spark, tmp_path, memo):
    """A TIMESTAMP(NANOS) column reads as bigint only under
    nanosAsLong; with the conf off, the remembered bigint schema must
    not be reused — the read goes back to Spark's own inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / "nanos.parquet")
    pq.write_table(
        pa.table({"ts": pa.array([1_000, 2_000], pa.timestamp("ns"))}),
        p,
        version="2.6",
    )
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key)
    spark.conf.set(key, "true")
    try:
        assert read_parquet(spark, p).dtypes == [("ts", "bigint")]
        assert read_parquet(spark, p).dtypes == [("ts", "bigint")]
        assert len(memo()) == 1
        spark.conf.set(key, "false")
        with pytest.raises(AnalysisException):
            read_parquet(spark, p)
        assert len(memo()) == 2
    finally:
        spark.conf.set(key, before)


def test_remote_default_fs_bypasses_memo(spark, tmp_path, memo, monkeypatch):
    """A schemeless path under a non-local fs.defaultFS names the
    remote store: the memo must not sign the same-named local files
    or answer from a remembered schema; the read is Spark's, which
    cannot reach the made-up filesystem and fails loudly."""
    p = str(tmp_path / "store")
    spark.createDataFrame([(1,)], "id BIGINT").write.parquet(p)
    read_parquet(spark, p)
    assert p in catalog._SCHEMAS
    signed = []
    real = catalog.listing_sig
    monkeypatch.setattr(
        catalog, "listing_sig", lambda local: signed.append(local) or real(local)
    )
    spark.conf.set("fs.defaultFS", "nofs://remote-store/")
    try:
        with pytest.raises(Exception, match="nofs"):
            read_parquet(spark, p)
    finally:
        spark.conf.unset("fs.defaultFS")
    assert signed == []
    assert memo()[-1].endswith("(not memoized)")


def test_missing_and_empty_paths_raise_sparks_errors(spark, tmp_path, memo):
    """Nothing to infer from: Spark's own AnalysisException surfaces,
    and nothing is remembered."""
    empty = tmp_path / "empty"
    empty.mkdir()
    for p in (str(empty), str(tmp_path / "missing")):
        with pytest.raises(AnalysisException):
            read_parquet(spark, p)
    assert catalog._SCHEMAS == {}
