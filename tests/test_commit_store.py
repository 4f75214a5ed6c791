"""sources.sinks.commit_store — the stage-rename commit shared by every
maintained store (streaming merges, tombstone purges, compactions) —
and sinks.merge_store, the one fold of a batch into a store.

Tiny local DataFrames, no streaming query: each test sets up one
on-disk state a crash or a redelivery can leave behind and checks
what the next commit makes of it.  The store-merge guard at the end
reads the package source only.
"""

import ast
import os
from pathlib import Path

import pytest

from open_street_map_data_wrangling_spark.sources.sinks import (
    commit_store,
    merge_store,
)

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


def test_merge_store_kinds_and_markers(spark, tmp_path):
    """sum and max re-aggregate per key, distinct unions whole rows;
    only the sum commits an ``_applied_`` marker, and a marked
    redelivery never builds its delta."""
    ddl = "k BIGINT, n BIGINT"
    built = []

    def delta(rows):
        def build():
            built.append(rows)
            return spark.createDataFrame(rows, ddl)

        return build

    def rows(store):
        return sorted(tuple(r) for r in spark.read.schema(ddl).parquet(store).collect())

    for kind, keys, want in (
        ("sum", ("k",), [(1, 5), (2, 2)]),
        ("max", ("k",), [(1, 3), (2, 2)]),
        ("distinct", (), [(1, 2), (1, 3), (2, 2)]),
    ):
        store = str(tmp_path / kind)
        merge_store(spark, store, 0, delta([(1, 2)]), keys, kind)
        merge_store(spark, store, 1, delta([(1, 3), (2, 2)]), keys, kind)
        assert rows(store) == want
        built.clear()
        again = merge_store(spark, store, 1, delta([(1, 3), (2, 2)]), keys, kind)
        assert rows(store) == want
        assert (again, len(built)) == ((False, 0) if kind == "sum" else (True, 1))
        assert _markers(store) == (
            ["_applied_0", "_applied_1"] if kind == "sum" else []
        )


@pytest.mark.parametrize(
    "keys, kind", [((), "sum"), (("k",), "distinct"), (("k",), "min")]
)
def test_merge_store_rejects_a_kind_that_does_not_fit_its_keys(
    spark, tmp_path, keys, kind
):
    with pytest.raises(ValueError):
        merge_store(spark, str(tmp_path / "s"), 0, lambda: None, keys, kind)


# Store-merge guard: a fold handed to commit_store that reads the store
# and unions it with a delta is a hand-written store merge; it belongs
# in sinks.merge_store, where the merge kind decides the redelivery
# marker.  A custom merge kept on purpose goes in CUSTOM_MERGES, keyed
# by its top-level function, with the reason it stays.

PKG = Path(__file__).resolve().parents[1] / "open_street_map_data_wrangling_spark"
_UNIONS = {"union", "unionAll", "unionByName"}
CUSTOM_MERGES = {
    "merge_store": "the one store merge itself",
    "scd2_dimension_maintenance": "SCD2 versioning: closes changed rows, appends new versions",
    "shard_manifest_merge_fn": "placement starts at the store's byte total",
    "hardneg_cells_merge_fn": "keeps the md5-lowest members per cell, capped",
    "bm25_index_merge_fn": "doc-replace: a re-ingested doc's old postings go first",
    "family_registry_merge_fn": "edge side-store plus contracted connected components",
    "family_registry_purge": "recomputes touched families over the surviving edges",
    "purge_span_gram_store": "subtracts deleted documents' gram counts",
}


def _reads_store(node) -> bool:
    """A ``<...>.read<...>.parquet(...)`` call somewhere under node."""
    for c in ast.walk(node):
        if isinstance(c, ast.Call) and isinstance(c.func, ast.Attribute):
            if c.func.attr == "parquet" and "read" in ast.unparse(c.func.value):
                return True
    return False


def _unions(node) -> bool:
    return any(
        isinstance(c, ast.Call)
        and isinstance(c.func, ast.Attribute)
        and c.func.attr in _UNIONS
        for c in ast.walk(node)
    )


def _store_merges() -> set[tuple[str, str]]:
    """(file, top-level function) of every commit_store call whose fold,
    with the local functions it calls, reads a store and unions it."""
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for top in ast.parse(path.read_text()).body:
            if not isinstance(top, ast.FunctionDef):
                continue
            local = {
                n.name: n for n in ast.walk(top) if isinstance(n, ast.FunctionDef)
            }
            for call in ast.walk(top):
                if not isinstance(call, ast.Call):
                    continue
                f = call.func
                if getattr(f, "attr", getattr(f, "id", None)) != "commit_store":
                    continue
                folds = call.args[2:3] + [
                    k.value for k in call.keywords if k.arg == "fold"
                ]
                todo, seen = list(folds), []
                while todo:
                    n = todo.pop()
                    if isinstance(n, ast.Name):
                        n = local.get(n.id)
                    if n is None or any(n is s for s in seen):
                        continue
                    seen.append(n)
                    todo += [
                        c.func
                        for c in ast.walk(n)
                        if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
                    ]
                if any(_reads_store(n) for n in seen) and any(
                    _unions(n) for n in seen
                ):
                    found.add((rel, top.name))
    return found


def test_store_merges_go_through_merge_store():
    """No commit_store fold outside sinks.merge_store unions the store
    it read with a delta, apart from the kept custom merges; and every
    kept entry still names such a fold."""
    merges = _store_merges()
    by_hand = sorted(m for m in merges if m[1] not in CUSTOM_MERGES)
    assert not by_hand, (
        "folds that union a store with a delta; call sinks.merge_store "
        f"or keep them with a reason in CUSTOM_MERGES: {by_hand}"
    )
    assert set(CUSTOM_MERGES) == {m[1] for m in merges}
