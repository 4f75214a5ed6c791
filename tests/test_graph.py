"""Determinism contract for operators/graph.py (PageRank).

q_pagerank is rows-only at the driver (fixed-iteration recurrence,
no SQL twin).  These tests carry the correctness claim instead:

- The integer fixed-point recurrence is replayed in pure Python
  (dict-of-int, truncating division on positives == //) from the
  SAME pair list the Spark build consumes, and the per-node ranks
  must match BIT-FOR-BIT — there is no float anywhere, so no
  tolerance and no summation-order caveat.
- Rank mass conservation: teleport bleeds mass through truncating
  division, so sum(pr) <= SCALE and each pr stays within [0, SCALE].
- The top-20 projection is deterministic under its (pr DESC, doc_id
  ASC) tiebreak.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from open_street_map_data_wrangling_spark.operators import graph
from open_street_map_data_wrangling_spark.operators.dedup import q_dedup_near
from open_street_map_data_wrangling_spark.plans import load_all_queries

SF = "/root/testdata/sf0.01"


def _replay(pairs: list[tuple[int, int]], iters: int) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    base = graph._PR_SCALE // n
    p = {v: base for v in adj}
    for _ in range(iters):
        inc = {v: 0 for v in adj}
        for j, nbrs in adj.items():
            share = p[j] // len(nbrs)
            for i in nbrs:
                inc[i] += share
        p = {v: (15 * base + 85 * inc[v]) // 100 for v in adj}
    return p


def test_pagerank_matches_pure_python_replay_bit_for_bit(spark, fixpoint_path):
    pairs = [
        (r["doc_a"], r["doc_b"]) for r in q_dedup_near(spark, SF).collect()
    ]
    assert pairs, "fixture must produce candidate pairs"
    expected = _replay(pairs, graph._PR_ITERS)
    got = {
        r["doc_id"]: r["pr"]
        for r in graph.pagerank_fixed(q_dedup_near(spark, SF)).collect()
    }
    assert got == expected


def test_pagerank_mass_and_range(spark, fixpoint_path):
    rows = graph.pagerank_fixed(q_dedup_near(spark, SF)).collect()
    total = sum(r["pr"] for r in rows)
    assert 0 < total <= graph._PR_SCALE
    assert all(0 <= r["pr"] <= graph._PR_SCALE for r in rows)


def test_pagerank_top20_is_stable(spark, fixpoint_path):
    q = load_all_queries()["q_pagerank"].spark
    a = [tuple(r) for r in q(spark, SF).collect()]
    b = [tuple(r) for r in q(spark, SF).collect()]
    assert a == b
    assert [r[0] for r in a] == list(range(1, len(a) + 1))



@pytest.mark.parametrize(
    "pairs",
    [
        [(1, 2), (2, 1), (2, 3), (5, 5), (5, 6), (3, 1), (7, 7)],
        [],
    ],
    ids=["self-loops-and-duplicates", "empty"],
)
def test_pagerank_paths_agree(spark, monkeypatch, pairs):
    """The driver and Spark paths of pagerank_fixed return
    bit-identical (doc_id, pr) rows and the same dtypes, including
    self-loop pairs, a pair given in both directions, and an empty
    pair list (an empty frame of the same schema)."""
    from open_street_map_data_wrangling_spark.operators import scale

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {}
    for path, bound in (("driver", scale.DRIVER_SOLVE_BOUND), ("spark", -1)):
        monkeypatch.setattr(scale, "DRIVER_SOLVE_BOUND", bound)
        pr = graph.pagerank_fixed(df)
        got[path] = (sorted(tuple(r) for r in pr.collect()), pr.dtypes)
    assert got["driver"] == got["spark"]
    assert got["driver"][1] == [("doc_id", "bigint"), ("pr", "bigint")]
    assert len(got["driver"][0]) == len({v for p in pairs for v in p})


def _q_pagerank_jobs(spark, count_jobs, sf_dir) -> int:
    q = load_all_queries()["q_pagerank"].spark

    def run():
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # builds the cached pair artifact
    return count_jobs(run)


def test_pagerank_job_count_pinned(spark, count_jobs, sf_dir):
    """Under the bound, q_pagerank at sf0.001 is the pair artifact's
    read, the size probe and the top-20 write: at most 5 jobs (16 when
    every round was planned by Spark)."""
    assert _q_pagerank_jobs(spark, count_jobs, sf_dir) <= 5


def test_pagerank_forced_spark_path_job_count(
    spark, count_jobs, sf_dir, monkeypatch
):
    """Forced onto the Spark loop, q_pagerank starts at most one job
    (the size probe) more than the 16 the loop took on its own."""
    from open_street_map_data_wrangling_spark.operators import scale

    monkeypatch.setattr(scale, "DRIVER_SOLVE_BOUND", 0)
    assert _q_pagerank_jobs(spark, count_jobs, sf_dir) <= 17


@pytest.mark.parametrize("name, most", [("q_label_prop", 12), ("q_kcore", 20)])
def test_fixed_round_loop_job_count_pinned(spark, count_jobs, sf_dir, name, most):
    """The fixed-round loops at sf0.001 run every round inside the
    caller's write: label propagation at most 12 jobs per warm write,
    k-core at most 20."""
    q = load_all_queries()[name].spark

    def run():
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()
    assert count_jobs(run) <= most


def _brute_triangles(pairs: list[tuple[int, int]]) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count: dict[int, int] = {}
    nodes = sorted(adj)
    for x in nodes:
        for y in (v for v in adj[x] if v > x):
            for z in (v for v in adj[x] & adj[y] if v > y):
                for m in (x, y, z):
                    count[m] = count.get(m, 0) + 1
    return count


def test_triangle_participation_toy_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, each node in 3), a pendant 5-1,
    # a separate triangle {6,7,8}, an open wedge 9-10, 9-11 (no
    # triangle), and a degree tie everywhere in the small component —
    # exercises orientation tie-breaks and wedge pruning.
    pairs = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (1, 5),
        (6, 7), (6, 8), (7, 8),
        (9, 10), (9, 11),
    ]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in graph.triangle_participation(df).collect()
    }
    assert got == _brute_triangles(pairs)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3, 6: 1, 7: 1, 8: 1}


def test_triangle_counts_match_bruteforce_on_fixture(spark):
    pairs = [
        (r["doc_a"], r["doc_b"]) for r in q_dedup_near(spark, SF).collect()
    ]
    expected = _brute_triangles(pairs)
    got = {
        r["doc_id"]: r["n_triangles"]
        for r in graph.triangle_participation(
            q_dedup_near(spark, SF)
        ).collect()
    }
    assert got == expected


def _lp_replay(pairs: list[tuple[int, int]], iters: int) -> dict[int, int]:
    """Pure-Python synchronous label propagation with the
    (count DESC, label ASC) tiebreak — the deterministic twin of
    label_propagation_fixed."""
    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    lab = {v: v for v in adj}
    for _ in range(iters):
        new = {}
        for v, nbrs in adj.items():
            counts: dict[int, int] = {}
            for u in nbrs:
                counts[lab[u]] = counts.get(lab[u], 0) + 1
            new[v] = min(counts, key=lambda L: (-counts[L], L))
        lab = new
    return lab


def test_label_prop_matches_pure_python_replay(spark):
    pairs = [
        (r["doc_a"], r["doc_b"]) for r in q_dedup_near(spark, SF).collect()
    ]
    assert pairs
    expected = _lp_replay(pairs, graph._LP_ITERS)
    got = {
        r["doc_id"]: r["lab"]
        for r in graph.label_propagation_fixed(
            q_dedup_near(spark, SF)
        ).collect()
    }
    assert got == expected


def test_label_prop_toy_two_cliques_bridged(spark):
    """Two 4-cliques joined by a single bridge edge are ONE connected
    component but TWO propagation communities: the bridge carries
    only one vote, so each clique's internal majority (label 1 resp.
    label 11 after the min-tiebreak round) holds on both sides."""
    k1 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    k2 = [(a, b) for a in range(11, 15) for b in range(a + 1, 15)]
    pairs = spark.createDataFrame(
        [(a, b) for a, b in k1 + k2 + [(4, 11)]], "doc_a long, doc_b long"
    )
    lab = {
        r["doc_id"]: r["lab"]
        for r in graph.label_propagation_fixed(pairs).collect()
    }
    assert len({lab[v] for v in range(1, 5)}) == 1
    assert len({lab[v] for v in range(11, 15)}) == 1
    assert lab[1] != lab[11]


def test_kcore_toy_path_vs_clique_and_fixpoint(spark, monkeypatch):
    """q_kcore semantics: a path is one connected component but has
    an EMPTY 2-core (every peel round removes the endpoints); a
    triangle + pendant keeps exactly the triangle at degree 2; and
    the fixed 8-round peel is a fixpoint on the sf0.001 fixture (a
    9th round removes nothing), so the fixed budget is not cutting
    the peel short."""
    import open_street_map_data_wrangling_spark.operators.graph as g
    import open_street_map_data_wrangling_spark.operators.dedup as dd
    from pyspark.sql import functions as F

    # toy: path 1-2-3-4-5  +  triangle 10-11-12 with pendant 13
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5),
         (10, 11), (11, 12), (10, 12), (12, 13)],
        "doc_a long, doc_b long",
    )
    monkeypatch.setattr(g, "near_pairs_cached", lambda s, d: pairs)
    got = {r["doc_id"]: r["core_deg"] for r in g.q_kcore(spark, "_").collect()}
    assert got == {10: 2, 11: 2, 12: 2}

    # fixture fixpoint: one more peel round changes nothing
    monkeypatch.undo()
    sf = "/root/testdata/sf0.001"
    base = {
        (r["doc_id"], r["core_deg"])
        for r in g.q_kcore(spark, sf).collect()
    }
    real_pairs = dd.q_dedup_near(spark, sf).select("doc_a", "doc_b")
    edges = real_pairs.selectExpr("doc_a AS a", "doc_b AS b").unionByName(
        real_pairs.selectExpr("doc_b AS a", "doc_a AS b")
    )
    for _t in range(g._KCORE_ROUNDS + 1):
        deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= g._KCORE_K).select("a")
        edges = (
            edges.join(keep, "a")
            .join(keep.withColumnRenamed("a", "b"), "b")
            .select("a", "b")
            .localCheckpoint()
        )
    extra = {
        (r["a"], r["core_deg"])
        for r in edges.groupBy("a")
        .agg(F.count("*").cast("bigint").alias("core_deg"))
        .collect()
    }
    assert {(d, c) for d, c in extra} == {(d, c) for d, c in base}
