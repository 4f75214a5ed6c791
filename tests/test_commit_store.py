"""sources.sinks.commit_store — the stage-rename commit shared by every
maintained store (streaming merges, tombstone purges, compactions).

Tiny local DataFrames, no streaming query: each test sets up one
on-disk state a crash or a redelivery can leave behind and checks
what the next commit makes of it.
"""

import os

import pytest

from open_street_map_data_wrangling_spark.sources.sinks import commit_store

DDL = "k BIGINT, v STRING"


def _rows(spark, path):
    rows = spark.read.schema(DDL).parquet(path).collect()
    return sorted(tuple(r) for r in rows)


def _write(spark, rows, path):
    spark.createDataFrame(rows, DDL).write.mode("overwrite").parquet(path)


def _markers(path):
    return sorted(
        n for n in os.listdir(path) if n.startswith(("_applied_", "_purged_"))
    )


def _append(spark, store, rows, seen=None):
    """A fold that unions ``rows`` into the current store, recording
    the ``exists`` flag and the rows it read in ``seen``."""

    def fold(exists):
        new = spark.createDataFrame(rows, DDL)
        if seen is not None:
            seen.append((exists, _rows(spark, store) if exists else []))
        if not exists:
            return new
        return spark.read.schema(DDL).parquet(store).unionByName(new)

    return fold


def test_stale_stage_from_crash_before_commit_is_overwritten(spark, tmp_path):
    """A crash while the stage was being written leaves the store
    intact next to a partial stage; the next commit rebuilds the stage
    from the intact store and the stale rows never surface."""
    store = str(tmp_path / "s")
    _write(spark, [(1, "a")], store)
    _write(spark, [(99, "stale")], f"{store}_stage")
    seen = []
    assert commit_store(spark, store, _append(spark, store, [(2, "b")], seen))
    assert seen == [(True, [(1, "a")])]
    assert _rows(spark, store) == [(1, "a"), (2, "b")]
    assert not os.path.exists(f"{store}_stage")


def test_missing_store_with_complete_stage_is_recovered_first(spark, tmp_path):
    """A crash between delete and rename leaves only the complete
    stage: it is the committed state, and the fold must read it."""
    store = str(tmp_path / "s")
    _write(spark, [(1, "a"), (2, "b")], f"{store}_stage")
    open(os.path.join(f"{store}_stage", "_applied_0"), "w").close()
    seen = []
    fold = _append(spark, store, [(3, "c")], seen)
    assert commit_store(spark, store, fold, marker="_applied_1")
    assert seen == [(True, [(1, "a"), (2, "b")])]
    assert _rows(spark, store) == [(1, "a"), (2, "b"), (3, "c")]
    assert _markers(store) == ["_applied_0", "_applied_1"]


def test_recovered_stage_answers_a_redelivered_marker(spark, tmp_path):
    store = str(tmp_path / "s")
    _write(spark, [(1, "a")], f"{store}_stage")
    open(os.path.join(f"{store}_stage", "_applied_0"), "w").close()

    def fold(exists):
        raise AssertionError("fold must not run for a committed marker")

    assert not commit_store(spark, store, fold, marker="_applied_0")
    assert _rows(spark, store) == [(1, "a")]


def test_redelivered_marker_skips_fold_and_writes_nothing(spark, tmp_path):
    store = str(tmp_path / "s")
    commit_store(
        spark, store, _append(spark, store, [(1, "a")]), marker="_applied_0"
    )
    before = sorted(os.listdir(store))
    calls = []

    def fold(exists):
        calls.append(exists)
        return spark.createDataFrame([(2, "b")], DDL)

    assert not commit_store(spark, store, fold, marker="_applied_0")
    assert calls == []
    assert sorted(os.listdir(store)) == before
    assert not os.path.exists(f"{store}_stage")
    assert _rows(spark, store) == [(1, "a")]


def test_applied_and_purged_markers_survive_every_commit(spark, tmp_path):
    """Both marker kinds ride along through a marker-gated commit, a
    marker-less one (an idempotent merge or a compaction) and a purge."""
    store = str(tmp_path / "s")
    read = lambda: spark.read.schema(DDL).parquet(store)
    commit_store(
        spark, store, _append(spark, store, [(1, "a")]), marker="_applied_0"
    )
    commit_store(
        spark, store, lambda exists: read().filter("k != 1"), marker="_purged_abc"
    )
    commit_store(
        spark, store, _append(spark, store, [(2, "b")]), marker="_applied_1"
    )
    commit_store(spark, store, lambda exists: read().coalesce(1))
    assert _markers(store) == ["_applied_0", "_applied_1", "_purged_abc"]
    assert _rows(spark, store) == [(2, "b")]


def test_fold_returning_none_commits_nothing(spark, tmp_path):
    store = str(tmp_path / "s")
    assert not commit_store(spark, store, lambda exists: None, marker="_purged_x")
    assert not os.path.exists(store) and not os.path.exists(f"{store}_stage")


def test_first_commit_writes_a_partitioned_store(spark, tmp_path):
    store = str(tmp_path / "s")
    seen = []
    assert commit_store(
        spark,
        store,
        _append(spark, store, [(1, "a"), (2, "b"), (3, "a")], seen),
        marker="_applied_0",
        partition_by=("v",),
    )
    assert seen == [(False, [])]
    parts = sorted(n for n in os.listdir(store) if n.startswith("v="))
    assert parts == ["v=a", "v=b"]
    assert _markers(store) == ["_applied_0"]
    assert not os.path.exists(f"{store}_stage")
    rows = spark.read.parquet(store).select("k", "v").collect()
    assert sorted(tuple(r) for r in rows) == [(1, "a"), (2, "b"), (3, "a")]


def test_fold_error_leaves_store_untouched(spark, tmp_path):
    store = str(tmp_path / "s")
    commit_store(
        spark, store, _append(spark, store, [(1, "a")]), marker="_applied_0"
    )

    def fold(exists):
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        commit_store(spark, store, fold, marker="_applied_1")
    assert _rows(spark, store) == [(1, "a")]
    assert _markers(store) == ["_applied_0"]
