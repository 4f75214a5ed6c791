"""operators/index_cache.py — the build-then-rename commit protocol
(r14 advice #2/#3): a build must publish atomically (no interleaved
writes into the served path), a crash must leave nothing marked, a
rename loser must adopt the winner's artifact, and the ':absent'
monkeypatch branch must not leak one dir per call."""

import os
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]

from open_street_map_data_wrangling_spark.operators import index_cache
from open_street_map_data_wrangling_spark.operators.index_cache import (
    cached,
)


@pytest.fixture
def sf_dir(tmp_path):
    """A fake corpus dir with one real file behind table 't' so the
    content token is computable (non-absent branch)."""
    p = tmp_path / "sf"
    p.mkdir()
    (p / "t.parquet").write_bytes(b"not really parquet, just bytes")
    return str(p)


def _build_counting(calls):
    def build(path):
        calls.append(path)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "artifact.txt"), "w") as f:
            f.write("v1")

    return build


def test_build_once_then_hit(sf_dir):
    calls = []
    p1 = cached("tst_hit", sf_dir, ("t",), (index_cache,),
                _build_counting(calls))
    p2 = cached("tst_hit", sf_dir, ("t",), (index_cache,),
                _build_counting(calls))
    assert p1 == p2
    assert len(calls) == 1
    # the build ran in a temp dir, not the published path
    assert calls[0] != p1
    assert calls[0].startswith(p1 + ".build.")
    assert open(os.path.join(p1, "artifact.txt")).read() == "v1"
    # marker committed inside the published dir
    assert any(f.startswith("_built_") for f in os.listdir(p1))


def test_crash_mid_build_publishes_nothing(sf_dir):
    def exploding(path):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "partial.txt"), "w") as f:
            f.write("half")
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        cached("tst_crash", sf_dir, ("t",), (index_cache,), exploding)
    # nothing published, no orphan temp dir left behind
    calls = []
    p = cached("tst_crash", sf_dir, ("t",), (index_cache,),
               _build_counting(calls))
    assert len(calls) == 1  # the crash left no marked artifact
    assert not os.path.exists(os.path.join(p, "partial.txt"))
    parent = os.path.dirname(p)
    leftovers = [d for d in os.listdir(parent)
                 if d.startswith(os.path.basename(p) + ".build.")]
    assert leftovers == []


def test_rename_loser_adopts_winner(sf_dir):
    """Simulate losing the publish race: while our build runs, a
    'concurrent process' publishes a marked artifact at the final
    path.  Our rename must fail quietly and the winner's content
    must be served."""
    token_path = {}

    def racing(path):
        # path is our temp dir; the final path strips '.build.*'
        final = path.split(".build.")[0]
        token = os.path.basename(final).rsplit("_", 1)[-1]
        os.makedirs(final, exist_ok=True)
        with open(os.path.join(final, "artifact.txt"), "w") as f:
            f.write("winner")
        with open(os.path.join(final, f"_built_{token}"), "w"):
            pass
        token_path["final"] = final
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "artifact.txt"), "w") as f:
            f.write("loser")

    p = cached("tst_race", sf_dir, ("t",), (index_cache,), racing)
    assert p == token_path["final"]
    assert open(os.path.join(p, "artifact.txt")).read() == "winner"
    # loser's temp copy cleaned up
    parent = os.path.dirname(p)
    assert [d for d in os.listdir(parent)
            if d.startswith(os.path.basename(p) + ".build.")] == []


def test_stale_unmarked_dir_is_replaced(sf_dir):
    """A pre-r15 crash could leave a marked-less dir AT the final
    path; the next build must swap it out, not serve it."""
    seen = {}

    def plant_then_build(path):
        final = path.split(".build.")[0]
        os.makedirs(final, exist_ok=True)
        with open(os.path.join(final, "stale.txt"), "w") as f:
            f.write("old")  # no marker -> stale
        seen["final"] = final
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "artifact.txt"), "w") as f:
            f.write("fresh")

    p = cached("tst_stale", sf_dir, ("t",), (index_cache,),
               plant_then_build)
    assert p == seen["final"]
    assert open(os.path.join(p, "artifact.txt")).read() == "fresh"
    assert not os.path.exists(os.path.join(p, "stale.txt"))


def test_sibling_artifacts_published_with_main_dir(sf_dir):
    """Build functions may write sibling artifacts at {path}<suffix>
    (the family-registry edge side-store pattern); the publish step
    must carry every sibling to its final path, not just the marked
    main dir."""

    def build_with_edges(path):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "labels.txt"), "w") as f:
            f.write("labels")
        os.makedirs(path + "_edges", exist_ok=True)
        with open(os.path.join(path + "_edges", "edges.txt"), "w") as f:
            f.write("edges")

    p = cached("tst_sib", sf_dir, ("t",), (index_cache,),
               build_with_edges)
    assert open(os.path.join(p, "labels.txt")).read() == "labels"
    assert open(os.path.join(p + "_edges", "edges.txt")).read() == "edges"
    # no orphan temp copies of either artifact
    parent = os.path.dirname(p)
    assert [d for d in os.listdir(parent)
            if ".build." in d and d.startswith(os.path.basename(p))] == []
    # second call is a cache hit serving both artifacts
    calls = []
    p2 = cached("tst_sib", sf_dir, ("t",), (index_cache,),
                _build_counting(calls))
    assert p2 == p and calls == []


def test_absent_branch_unique_and_cleanup_registered(
    tmp_path, monkeypatch
):
    registered = []
    monkeypatch.setattr(
        index_cache.atexit, "register",
        lambda fn, *a, **k: registered.append(a),
    )
    calls = []
    empty = str(tmp_path / "nowhere")
    p1 = cached("tst_abs", empty, ("t",), (index_cache,),
                _build_counting(calls))
    p2 = cached("tst_abs", empty, ("t",), (index_cache,),
                _build_counting(calls))
    assert p1 != p2  # never reused (data invisible to the token)
    assert len(calls) == 2
    # both queued for prefix cleanup at exit (siblings included)
    assert [os.path.join(a[0], a[1]) for a in registered] == [p1, p2]
    for p in (p1, p2):
        index_cache._rm_prefixed(os.path.dirname(p), os.path.basename(p))


def test_cached_logs_each_decision(sf_dir, tmp_path, caplog, monkeypatch):
    """One INFO record per call on the module's logger, naming the
    kind, the decision (build, hit, ephemeral) and the token."""
    import logging

    monkeypatch.setattr(index_cache.atexit, "register", lambda *a, **k: None)
    caplog.set_level(logging.INFO, logger=index_cache.__name__)
    calls = []
    p = cached("tst_log", sf_dir, ("t",), (index_cache,),
               _build_counting(calls))
    cached("tst_log", sf_dir, ("t",), (index_cache,), _build_counting(calls))
    e = cached("tst_log", str(tmp_path / "nowhere"), ("t",), (index_cache,),
               _build_counting(calls))
    index_cache._rm_prefixed(os.path.dirname(e), os.path.basename(e))
    token = os.path.basename(p).rsplit("_", 1)[1]
    assert [
        (r.levelname, r.getMessage())
        for r in caplog.records
        if r.name == index_cache.__name__
    ] == [
        ("INFO", f"index cache tst_log: build (token {token})"),
        ("INFO", f"index cache tst_log: hit (token {token})"),
        ("INFO", "index cache tst_log: ephemeral build (an input has no file)"),
    ]


def test_concurrent_first_builders_two_processes(tmp_path):
    """The advice-item scenario, run for real: two PROCESSES
    first-build the same token concurrently (slow builds, overlapping
    windows).  The protocol's guarantee is per-DIRECTORY single-writer
    coherence (each published dir was written whole by one process —
    the old in-place protocol interleaved two writers inside one dir)
    plus a complete served artifact set at one shared path.  Builds
    are pure functions of the token in production, so WHICH process
    authored each dir is immaterial; intra-dir mixing is the corrupt
    state being excluded."""
    import subprocess
    import sys
    import textwrap

    corpus = tmp_path / "sf"
    corpus.mkdir()
    (corpus / "t.parquet").write_bytes(b"race fixture")
    prog = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, {root!r})
        from open_street_map_data_wrangling_spark.operators import (
            index_cache,
        )

        def build(path):
            tag = sys.argv[1]
            os.makedirs(path, exist_ok=True)
            with open(os.path.join(path, "a1.txt"), "w") as f:
                f.write(tag)
            time.sleep(1.0)  # hold the build window open
            with open(os.path.join(path, "a2.txt"), "w") as f:
                f.write(tag)
            os.makedirs(path + "_side", exist_ok=True)
            with open(os.path.join(path + "_side", "b1.txt"), "w") as f:
                f.write(tag)
            with open(os.path.join(path + "_side", "b2.txt"), "w") as f:
                f.write(tag)

        p = index_cache.cached(
            "tst_mp", {sf!r}, ("t",), (index_cache,), build
        )
        # the served set is complete and each dir is single-writer
        a1 = open(os.path.join(p, "a1.txt")).read()
        a2 = open(os.path.join(p, "a2.txt")).read()
        b1 = open(os.path.join(p + "_side", "b1.txt")).read()
        b2 = open(os.path.join(p + "_side", "b2.txt")).read()
        assert a1 == a2, f"interleaved main dir: {{a1}} vs {{a2}}"
        assert b1 == b2, f"interleaved sibling dir: {{b1}} vs {{b2}}"
        print(p)
        """
    ).format(root=str(ROOT), sf=str(corpus))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", prog, tag],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for tag in ("proc_one", "proc_two")
    ]
    outs = []
    for pr in procs:
        out, err = pr.communicate(timeout=120)
        assert pr.returncode == 0, err[-800:]
        outs.append(out.strip())
    # both processes serve the SAME published path, still coherent
    assert outs[0] == outs[1]
    path = outs[0]
    for fn in ("a1.txt", "a2.txt"):
        assert open(os.path.join(path, fn)).read() in (
            "proc_one", "proc_two",
        )
    index_cache._rm_prefixed(
        os.path.dirname(path), os.path.basename(path)
    )


def test_cache_gc_groups_and_ages(tmp_path, monkeypatch):
    """tools/cache_gc.py: a main dir and its siblings/temp copies form
    ONE group keyed by the 16-hex token (they live or die together),
    and a group survives if ANY member is fresh."""
    import importlib.util
    import sys
    import time as _time

    spec = importlib.util.spec_from_file_location(
        "cache_gc", str(ROOT / "tools" / "cache_gc.py")
    )
    gc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gc)

    tok = "ab12cd34ef56ab78"
    names = [
        f"osm_spark_idx_family_registry_{tok}",
        f"osm_spark_idx_family_registry_{tok}_edges",
        f"osm_spark_idx_family_registry_{tok}_edges_stage",
        f"osm_spark_idx_family_registry_{tok}.build.99.deadbeef",
    ]
    keys = {gc._group_key(n) for n in names}
    assert keys == {f"osm_spark_idx_family_registry_{tok}"}
    assert gc._group_key(f"osm_spark_idx_source_quota_{tok}") != next(
        iter(keys)
    )

    # age = max over the group: one fresh sibling keeps the set alive
    old = tmp_path / f"osm_spark_idx_k_{tok}"
    old.mkdir()
    (old / "data.txt").write_text("x")
    stale = _time.time() - 10 * 86400
    os.utime(old / "data.txt", (stale, stale))
    os.utime(old, (stale, stale))
    fresh = tmp_path / f"osm_spark_idx_k_{tok}_edges"
    fresh.mkdir()
    (fresh / "data.txt").write_text("y")
    monkeypatch.setattr(gc.tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(sys, "argv", ["cache_gc.py", "--days", "7"])
    gc.main()
    assert old.exists() and fresh.exists()
    # age both stale -> the whole group goes
    os.utime(fresh / "data.txt", (stale, stale))
    os.utime(fresh, (stale, stale))
    gc.main()
    assert not old.exists() and not fresh.exists()


def test_publish_race_loser_adopts_mid_rename_winner(sf_dir, monkeypatch):
    """The r15-advice race: a winner's marker-carrying dir lands
    BETWEEN the loop-top marker check and our rename.  The loser's
    except branch must RE-CHECK the marker and adopt the winner's
    published set — never swap it aside and rmtree it (which left a
    window where the published path was absent under a reader that
    had already passed its marker check)."""
    state = {}
    real_rename = os.rename

    def build(path):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "artifact.txt"), "w") as f:
            f.write("loser")
        state["final"] = path.split(".build.")[0]

    def racing_rename(src, dst):
        if dst == state.get("final") and "planted" not in state:
            # the winner publishes its complete marked set exactly
            # in the check->rename window, making our rename fail
            token = os.path.basename(dst).rsplit("_", 1)[-1]
            os.makedirs(dst, exist_ok=True)
            with open(os.path.join(dst, "artifact.txt"), "w") as f:
                f.write("winner")
            with open(os.path.join(dst, f"_built_{token}"), "w"):
                pass
            state["planted"] = True
            raise OSError(17, "File exists", dst)
        return real_rename(src, dst)

    monkeypatch.setattr(index_cache.os, "rename", racing_rename)
    p = cached("tst_midrace", sf_dir, ("t",), (index_cache,), build)
    assert p == state["final"]
    # the winner's artifact survived INTACT — not swapped aside
    assert open(os.path.join(p, "artifact.txt")).read() == "winner"
    token = os.path.basename(p).rsplit("_", 1)[-1]
    assert os.path.exists(os.path.join(p, f"_built_{token}"))


def test_publish_abort_never_certifies_incomplete_set(
    sf_dir, monkeypatch
):
    """The r15-advice incomplete-set hazard: if a sibling's
    swap-aside succeeds but its reinstall fails and nobody
    repopulated the slot, the publish must ABORT (no marker ever
    written at the shared path — marker implies complete set) and
    THIS call must be served from a private ephemeral build."""
    state = {}
    real_rename = os.rename

    def build(path):
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "artifact.txt"), "w") as f:
            f.write("mine")
        os.makedirs(path + "_side", exist_ok=True)
        with open(os.path.join(path + "_side", "side.txt"), "w") as f:
            f.write("side")
        if "final" not in state:
            state["final"] = path.split(".build.")[0]
            # occupy the sibling slot with an unmarked stale dir so
            # the first rename fails for a real reason
            os.makedirs(state["final"] + "_side", exist_ok=True)
            with open(
                os.path.join(state["final"] + "_side", "stale.txt"), "w"
            ) as f:
                f.write("old")

    def failing_rename(src, dst):
        # both the initial install AND the post-swap retry of the
        # sibling fail; the swap-aside itself (dst = *.stale.*)
        # succeeds, leaving the slot empty — the abort case
        if dst == state.get("final", "\0") + "_side":
            raise OSError(13, "Permission denied", dst)
        return real_rename(src, dst)

    monkeypatch.setattr(index_cache.os, "rename", failing_rename)
    p = cached("tst_abort", sf_dir, ("t",), (index_cache,), build)
    # served from a private ephemeral build, complete and marked
    assert "_ephemeral_" in os.path.basename(p)
    assert open(os.path.join(p, "artifact.txt")).read() == "mine"
    assert os.path.exists(os.path.join(p, "_built_ephemeral"))
    # the shared path was NEVER marked: no incomplete set certified
    final = state["final"]
    token = os.path.basename(final).rsplit("_", 1)[-1]
    assert not os.path.exists(os.path.join(final, f"_built_{token}"))


def test_verify_local_preamble_runs_cache_gc(tmp_path, monkeypatch):
    """The retention policy's call site: verify_local's main() must
    invoke cache_gc.collect() so every correctness pass doubles as
    the janitor tick (a stale-token artifact older than the 7-day
    window is collected by that tick)."""
    import importlib.util
    import sys as _sys
    import time as _time

    spec = importlib.util.spec_from_file_location(
        "cache_gc", str(ROOT / "tools" / "cache_gc.py")
    )
    gc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gc)

    tok = "ffeeddccbbaa0099"
    stale_dir = tmp_path / f"osm_spark_idx_dead_{tok}"
    stale_dir.mkdir()
    (stale_dir / "x.txt").write_text("x")
    old = _time.time() - 30 * 86400
    os.utime(stale_dir / "x.txt", (old, old))
    os.utime(stale_dir, (old, old))
    monkeypatch.setattr(gc.tempfile, "gettempdir", lambda: str(tmp_path))
    n_rm, n_keep, _ = gc.collect()
    assert n_rm == 1 and not stale_dir.exists()
    # and the call site exists: verify_local imports + calls collect
    src = (ROOT / "tools" / "verify_local.py").read_text()
    assert "from cache_gc import collect" in src
    assert "_gc_collect()" in src


_NARROW_DDL = "id BIGINT, score DOUBLE, vec ARRAY<DOUBLE>"


def test_read_small_parquet_casts_narrow_store_to_asked_types(spark, tmp_path):
    """A store written with narrower types (int, float, array<float>)
    read as BIGINT / DOUBLE / ARRAY<DOUBLE>: the pyarrow path casts to
    the asked schema, so it returns exactly what the Spark read of the
    same store returns, value for value and type for type."""
    p = str(tmp_path / "narrow")
    spark.createDataFrame(
        [(1, 0.1, [0.5, -2.25]), (2, -3.5, [])],
        "id INT, score FLOAT, vec ARRAY<FLOAT>",
    ).write.parquet(p)
    cols = ("id", "score", "vec")
    fast = index_cache.read_small_parquet(spark, p, _NARROW_DDL, cols)
    spark_rows = [
        r.asDict()
        for r in spark.read.schema(_NARROW_DDL).parquet(p).collect()
    ]

    def key(rows):
        return sorted(rows, key=lambda r: r["id"])

    assert key(fast) == key(spark_rows)
    for f, s in zip(key(fast), key(spark_rows)):
        assert {k: type(v) for k, v in f.items()} == {
            k: type(v) for k, v in s.items()
        }


def test_read_small_parquet_skips_pyarrow_under_remote_default_fs(
    spark, tmp_path, monkeypatch
):
    """A schemeless path under a non-local fs.defaultFS names the
    remote store, not the driver's disk: the read must go through
    Spark (which cannot reach the made-up filesystem and fails
    loudly) instead of pyarrow returning the same-named local file."""
    import pyarrow.parquet as pq

    p = str(tmp_path / "store")
    spark.createDataFrame([(1, 0.5, [1.0])], _NARROW_DDL).write.parquet(p)
    arrow_reads = []
    real = pq.read_table
    monkeypatch.setattr(
        pq, "read_table", lambda *a, **k: arrow_reads.append(a) or real(*a, **k)
    )
    # the local read is taken under the default (file:) filesystem
    assert index_cache.read_small_parquet(spark, p, _NARROW_DDL, ["id"])
    assert len(arrow_reads) == 1
    spark.conf.set("fs.defaultFS", "nofs://remote-store/")
    try:
        with pytest.raises(Exception, match="nofs"):
            index_cache.read_small_parquet(spark, p, _NARROW_DDL, ["id"])
    finally:
        spark.conf.unset("fs.defaultFS")
    assert len(arrow_reads) == 1
