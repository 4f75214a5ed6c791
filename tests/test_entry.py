"""Driver-contract smoke tests (the surface the verify driver hits)."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entrymod
from pyspark.sql import functions as F


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    assert len(df.collect()) > 0


def test_queries_and_oracles_consistent(spark):
    qs = entrymod.queries()
    osql = entrymod.oracle_sql()
    assert set(osql).issubset(set(qs))
    assert len(qs) >= 45


def test_sinks_roundtrip(spark, sf_dir, tmp_path):
    from open_street_map_data_wrangling_spark.sources.catalog import load_table
    from open_street_map_data_wrangling_spark.sources.sinks import (
        write_csv,
        write_json,
        write_parquet,
    )

    df = load_table(spark, sf_dir, "nation")
    for writer, fmt in ((write_parquet, "parquet"), (write_csv, "csv"), (write_json, "json")):
        path = str(tmp_path / fmt)
        writer(df, path)
        if fmt == "csv":
            back = spark.read.option("header", True).csv(path)
        else:
            back = getattr(spark.read, fmt)(path)
        assert back.count() == df.count()


def test_generate_report(spark, sf_dir):
    from open_street_map_data_wrangling_spark.etl import generate_report

    rpt = generate_report(spark, sf_dir)
    assert rpt["table_counts"]["events"] == 1000
    assert rpt["distinct_users"] > 0
    assert len(rpt["top_users"]) == 10
    assert set(rpt["key_buckets"]) <= {"lower", "lower_colon", "problemchars", "other"}


def test_rotation_orders_fresh_then_modified_then_stamped():
    """The driver verifies only the first ~50 queries() entries per
    round.  Ordering contract: never-stamped first, then stamped
    queries whose implementation fingerprint no longer matches
    STAMPS.json (a stamp certifies one specific implementation),
    then stamped-and-unchanged."""
    order = list(entrymod._ordered_specs())
    stamped = entrymod._stamped_names()
    recorded = entrymod._stamp_fingerprints()
    specs = entrymod.load_all_queries()

    def group(name):
        if name not in stamped:
            return 0
        if recorded.get(name) != entrymod._fingerprint(specs[name]):
            return 1
        return 2

    groups = [group(n) for n in order]
    assert groups == sorted(groups), "window ordering must be fresh<modified<stamped"
    # every registry entry appears exactly once
    assert sorted(order) == sorted(specs)


def test_fingerprint_changes_with_source_or_oracle():
    from open_street_map_data_wrangling_spark.plans import QuerySpec

    def f(spark, sf_dir):
        return None

    a = entrymod._fingerprint(QuerySpec("a", f, "SELECT 1"))
    b = entrymod._fingerprint(QuerySpec("a", f, "SELECT 2"))
    assert a != b


def test_fingerprint_covers_transitive_helpers():
    """A rewrite of a shared helper must invalidate the stamp of every
    query that calls it — even transitively, and even when the helper
    is only reached from inside a nested lambda.  (Round-3 gap: the
    ngram pipeline was rewritten via a shared helper and its stamped
    query was never rotated back into the verification window.)"""
    from open_street_map_data_wrangling_spark.operators import dedup
    from open_street_map_data_wrangling_spark.plans import load_all_queries

    specs = load_all_queries()
    closure = entrymod._source_closure(specs["q_dedup_near"].spark)
    import inspect

    assert inspect.getsource(dedup._capped_band_pairs) in closure, (
        "shared pair-generation helper must be part of the fingerprint"
    )
    # and the ngram family covers its shared pipeline helper
    ngram_closure = entrymod._source_closure(specs["q_dedup_ngram"].spark)
    assert "ngram" in ngram_closure and len(ngram_closure) > len(
        inspect.getsource(specs["q_dedup_ngram"].spark)
    )


def test_fingerprint_follows_function_local_imports():
    """A helper imported inside the query body (`from .dedup import
    _frontier_radius`), or reached as an attribute of a module imported
    there (`from ..streaming import jobs as _jobs`, then
    `_jobs.family_registry_merge_fn`), is part of the fingerprint."""
    import inspect

    from open_street_map_data_wrangling_spark.operators import dedup
    from open_street_map_data_wrangling_spark.plans import load_all_queries
    from open_street_map_data_wrangling_spark.streaming import jobs

    specs = load_all_queries()
    closure = entrymod._source_closure(specs["q_radius_served"].spark)
    assert inspect.getsource(dedup._frontier_radius) in closure
    merge = inspect.getsource(jobs.family_registry_merge_fn)
    purge = inspect.getsource(jobs.family_registry_purge)
    for name in ("q_family_registry", "q_ingest_registry", "q_registry_report"):
        assert merge in entrymod._source_closure(specs[name].spark), name
    for name in ("q_registry_purge", "q_purged_report"):
        closure = entrymod._source_closure(specs[name].spark)
        assert merge in closure and purge in closure, name


def test_sqlite_sink_roundtrip(spark, tmp_path):
    """S5 parity: the reference queries its shaped tables through a
    sqlite3 cursor; write_sqlite must land a DataFrame in a SQLite
    file the same cursor queries — types mapped, every row present."""
    import sqlite3

    from open_street_map_data_wrangling_spark.sources.sinks import write_sqlite

    db = str(tmp_path / "osm.db")
    df = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    n = write_sqlite(df, db, "customer")
    assert n == df.count()
    con = sqlite3.connect(db)
    try:
        assert con.execute("SELECT count(*) FROM customer").fetchone()[0] == n
        # the reference's own query style: aggregate through the cursor
        top = con.execute(
            "SELECT c_mktsegment, count(*) c FROM customer "
            "GROUP BY 1 ORDER BY c DESC, c_mktsegment LIMIT 1"
        ).fetchone()
        want = (
            df.groupBy("c_mktsegment")
            .count()
            .orderBy("count", ascending=False)
            .orderBy(F.desc("count"), "c_mktsegment")
            .first()
        )
        assert top[0] == want["c_mktsegment"] and top[1] == want["count"]
    finally:
        con.close()


def test_registry_hygiene():
    """Every registry entry must carry a docstring (the judge-facing
    operator description) and at least one tag; oracle SQL, when
    present, must reference at least one fixture table."""
    from open_street_map_data_wrangling_spark.plans import load_all_queries

    tables = (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split()
    for name, spec in load_all_queries().items():
        assert spec.doc and len(spec.doc.strip()) > 20, f"{name}: no docstring"
        assert spec.tags, f"{name}: no tags"
        if spec.oracle:
            assert any(t in spec.oracle for t in tables), (
                f"{name}: oracle references no fixture table"
            )


def test_bench_headline_names_exist():
    """A typo in bench.py's HEADLINE tuple would crash the driver's
    per-round bench run; every name must resolve in the registry."""
    import bench

    from open_street_map_data_wrangling_spark.plans import load_all_queries

    specs = load_all_queries()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE), "duplicate bench names"
