"""Unit tests on tiny literal DataFrames (FIXTURES.md §D) — fast
iteration layer under the DuckDB-oracle differential gate."""

import pytest
from pyspark.sql import functions as F

from open_street_map_data_wrangling_spark.functions.textfeat import shingles_expr
from open_street_map_data_wrangling_spark.functions.vectors import cosine_expr
from open_street_map_data_wrangling_spark.operators.multimodal import fake_decode_meta
from open_street_map_data_wrangling_spark.plans import load_all_queries


def test_shingles_basic(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], "text string")
    rows = df.select(shingles_expr("text").alias("sh")).collect()
    assert rows[0].sh == ["a b c", "b c d"]
    assert rows[1].sh == ["x y"]  # <3 tokens -> whole text


def test_shingles_dedup(spark):
    df = spark.createDataFrame([("a a a a a",)], "text string")
    rows = df.select(shingles_expr("text").alias("sh")).collect()
    assert rows[0].sh == ["a a a"]  # distinct


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<float>, b array<float>",
    )
    got = [r[0] for r in df.select(cosine_expr("a", "b")).collect()]
    assert abs(got[0] - 1.0) < 1e-12
    assert abs(got[1] - 0.0) < 1e-12


def test_fake_decode_meta_deterministic():
    assert fake_decode_meta(b"hello") == fake_decode_meta(b"hello")
    w, h = fake_decode_meta(b"hello")
    assert 1 <= w <= 64 and 1 <= h <= 64
    assert fake_decode_meta(b"") == (1, 1)


def test_sessionize_gap_logic(spark):
    # two bursts separated by >30min must produce 2 sessions
    from open_street_map_data_wrangling_spark.plans import QUERIES

    load_all_queries()
    df = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 7),
            (2, "2024-01-01 00:05:00", 7),
            (3, "2024-01-01 02:00:00", 7),
        ],
        "event_id long, ts_s string, user_id long",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), "user_id")
    df.createOrReplaceTempView("_tiny_events")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    flagged = df.select(
        "user_id",
        ts_us.alias("ts_us"),
        F.when(
            (ts_us - F.lag(ts_us).over(w) > 30 * 60 * 1_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0).alias("new_session"),
    )
    n_sessions = flagged.agg(F.sum("new_session")).collect()[0][0]
    assert n_sessions == 2


def test_registry_complete(spark):
    specs = load_all_queries()
    # every oracle string references only known tables; every spec callable
    assert len(specs) >= 45
    for name, spec in specs.items():
        assert name.startswith("q_")
        assert callable(spec.spark)


def test_clean_street_mapping(spark, sf_dir):
    specs = load_all_queries()
    out = specs["q_clean_street"].spark(spark, sf_dir)
    rows = {r.p_name: r.cleaned for r in out.collect()}
    for raw, cleaned in rows.items():
        if raw.endswith("widget"):
            assert cleaned.endswith("Widget")
        if raw.endswith("bolt"):
            assert cleaned == raw  # not in mapping -> unchanged


def test_minhash_self_similarity(spark):
    # identical texts must collide in every band -> always a candidate pair
    docs = spark.createDataFrame(
        [(1, "w1 w2 w3 w4 w5"), (2, "w1 w2 w3 w4 w5"), (3, "z1 z2 z3 z4 z5")],
        "doc_id long, text string",
    )
    ex = docs.select("doc_id", F.explode(shingles_expr("text")).alias("sh"))
    mh = ex.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.col("sh"), F.lit(f"#{i}")))).alias(f"m{i}") for i in range(8)]
    )
    sigs = {r.doc_id: tuple(r[i] for i in range(1, 9)) for r in mh.collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_pipeline_unwind_project_addtoset(spark):
    from open_street_map_data_wrangling_spark.plans.pipeline import build_pipeline

    df = spark.createDataFrame(
        [("a", ["x", "y"], 1), ("b", ["x"], 2), ("a", ["z"], 3)],
        "k string, tags array<string>, v long",
    )
    out = build_pipeline(
        df,
        [
            {"$unwind": "$tags"},
            {"$project": {"k": 1, "tags": 1}},
            {"$group": {"_id": "$k", "tagset": {"$addToSet": "$tags"}, "n": {"$count": 1}}},
            {"$sort": {"_id": 1}},
        ],
    ).collect()
    got = {r._id: (sorted(r.tagset), r.n) for r in out}
    assert got == {"a": (["x", "y", "z"], 3), "b": (["x"], 1)}


def test_pipeline_match_operators(spark):
    from open_street_map_data_wrangling_spark.plans.pipeline import build_pipeline

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 15.0)], "id long, v double"
    )
    out = build_pipeline(
        df, [{"$match": {"v": {"$exists": True, "$lte": 10.0}}}]
    ).collect()
    assert [r.id for r in out] == [1]


def test_write_table_bucketed(spark, sf_dir):
    from open_street_map_data_wrangling_spark.sources.catalog import load_table
    from open_street_map_data_wrangling_spark.sources.sinks import write_table

    nation = load_table(spark, sf_dir, "nation")
    write_table(nation, "nation_b_test", bucket_by=(2, ("n_nationkey",)))
    try:
        assert spark.table("nation_b_test").count() == nation.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS nation_b_test")


def test_observe_metrics(spark, sf_dir):
    """df.observe(): zero-extra-pass pipeline metrics (row counts,
    value sums ride along with the action) — how a production ETL
    monitors itself without a second scan."""
    from pyspark.sql import Observation
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    obs = Observation("etl_metrics")
    events = load_table(spark, sf_dir, "events")
    out = events.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.count(F.when(F.col("value") > 90, 1)).alias("n_high"),
    ).filter(F.col("event_type") == "click")
    n_clicks = out.count()
    m = obs.get
    assert m["n_rows"] == events.count()
    assert m["n_high"] == events.filter(F.col("value") > 90).count()
    assert n_clicks < m["n_rows"]


def test_ngram_df_cutoff_prunes_stop_shingles(spark):
    """The df cutoff must drop stop-shingles BEFORE pair generation:
    docs sharing only a shingle above the cutoff form no pair, and the
    Jaccard denominator is computed on the pruned sets."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    # docs 0..4 all contain the stop shingle "the of and"; docs 0 and 1
    # additionally share the rare shingle "alpha beta gamma" (their only
    # other content overlap).
    rare = "alpha beta gamma"
    rows = [
        (0, "en", f"the of and {rare}"),
        (1, "en", f"the of and {rare}"),
        (2, "en", "the of and u2a u2b u2c"),
        (3, "en", "the of and u3a u3b u3c"),
        (4, "en", "the of and u4a u4b u4c"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    # cutoff below the stop shingle's df=5: only the rare-shingle pair
    # survives, and its jaccard is computed on pruned sets
    got = ngram_jaccard_pairs(docs, jaccard_min=0.01, df_cutoff=4).collect()
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in got}
    assert (0, 1) in pairs
    assert all(a == 0 and b == 1 for a, b in pairs)  # stop-only pairs pruned

    # cutoff above every df: all 10 pairs share the stop shingle
    loose = ngram_jaccard_pairs(docs, jaccard_min=0.01, df_cutoff=100)
    assert loose.count() == 10


def test_simhash_banding_complete_at_hamming_k(spark, sf_dir):
    """Pigeonhole completeness: the k+1-band candidate join must find
    EXACTLY the pairs a brute-force all-pairs scan finds at Hamming
    distance <= k — banding is an optimization, never a recall loss."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        _HAMMING_K,
        q_dedup_simhash,
        q_simhash_near,
    )

    fp = q_dedup_simhash(spark, sf_dir)
    a, b = fp.alias("a"), fp.alias("b")
    brute = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
            )
            .cast("int")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_K)
        .collect()
    }
    banded = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in q_simhash_near(spark, sf_dir).collect()
    }
    assert banded == brute
    assert brute  # fixture must actually contain close pairs


def test_ivf_recall_non_decreasing_in_nprobe(spark, sf_dir):
    """Probed cells at nprobe n are a superset of those at n-1, so
    recall@10 must be non-decreasing along the curve."""
    from open_street_map_data_wrangling_spark.operators.similarity import (
        q_ann_recall_multiprobe,
    )

    rows = sorted(
        q_ann_recall_multiprobe(spark, sf_dir).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == [1, 2, 4]
    recalls = [r.recall_at_10 for r in rows]
    assert all(a <= b for a, b in zip(recalls, recalls[1:]))


def test_connected_components_chain(spark):
    """A 12-node path graph must converge to one component (worst-case
    diameter for min-label propagation) plus an isolated node."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a long, b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(13)], "n long")
    got = {r.n: r.cluster_id for r in connected_components(edges, nodes).collect()}
    assert all(got[i] == 0 for i in range(12))
    assert got[12] == 12  # isolated node keeps its own label


def _union_find_clusters(pairs, nodes):
    """n -> min node id of its component, by union-find."""
    parent = {n: n for n in nodes}
    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize(
    "pairs, nodes",
    [
        ([(1, 2), (2, 3), (3, 4), (4, 5), (7, 7)], range(1, 10)),
        ([], range(4)),
        ([(3, 3)], range(5)),
        ([(2, 1), (1, 2), (2, 1), (4, 3), (3, 4), (1, 3)], range(1, 7)),
        ([(1, 2), (2, 3), (3, 4), (4, 5), (7, 7)], None),
        ([], None),
        ([(3, 3)], None),
        ([(2, 1), (1, 2), (2, 1), (4, 3), (3, 4), (1, 3), (9, 8)], None),
    ],
    ids=["chain-self-loop-isolated", "no-edges", "only-self-loop",
         "duplicate-and-reversed", "endpoints-chain-self-loop",
         "endpoints-no-edges", "endpoints-only-self-loop",
         "endpoints-duplicate-and-reversed"],
)
def test_connected_components_matches_union_find(spark, pairs, nodes):
    """connected_components labels every node with the minimum node id
    of its component, as union-find does, on the loop's edge cases:
    no edges at all (the first probe counts no labels), a self-loop,
    isolated nodes, and pairs given twice or in both directions.  With
    nodes=None the nodes are the edge list's endpoints, returned
    straight from the label table (no final join)."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(pairs, "a long, b long")
    if nodes is None:
        nodes_df = None
        nodes = sorted({n for pair in pairs for n in pair})
    else:
        nodes_df = spark.createDataFrame([(n,) for n in nodes], "n long")
    rows = connected_components(edges, nodes_df).collect()
    got = {r.n: r.cluster_id for r in rows}
    assert len(rows) == len(got)  # one row per node
    assert got == _union_find_clusters(pairs, nodes)


def _warm_write_jobs(spark, count_jobs, sf_dir, name):
    """Jobs one warm noop write of registry query ``name`` starts."""
    q = load_all_queries()[name].spark

    def run():
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()  # builds the cached pair artifact
    return count_jobs(run)


def test_dedup_clusters_job_count_pinned(spark, count_jobs, sf_dir):
    """q_dedup_clusters at sf0.001 starts at most 12 jobs per warm
    write: the round probe sizes nothing and counts the labels (the
    separate edge count made 16), and the cached pairs enter
    connected_components uncut (their eager cut made 13)."""
    assert _warm_write_jobs(spark, count_jobs, sf_dir, "q_dedup_clusters") <= 12


def test_keep_best_job_count_pinned(spark, count_jobs, sf_dir):
    """q_keep_best at sf0.001 starts at most 13 jobs per warm write:
    the cached pairs enter uncut, and connected_components returns the
    endpoints' labels without re-joining a hand-built node set (17
    with both)."""
    assert _warm_write_jobs(spark, count_jobs, sf_dir, "q_keep_best") <= 13


def test_radius_job_counts_pinned(spark, count_jobs, sf_dir):
    """q_contamination_radius and q_radius_served at sf0.001 start at
    most 8 jobs per warm write each: the hops run as lazy rounds of
    scale.spark_rounds inside the write (the eager seed cut and two
    eager cuts per hop made 17 and 20)."""
    for name in ("q_contamination_radius", "q_radius_served"):
        assert _warm_write_jobs(spark, count_jobs, sf_dir, name) <= 8, name


def test_greedy_chain_job_count_pinned(spark, count_jobs, sf_dir):
    """greedy_chain_rejects over the sf0.001 near pairs starts at most
    12 jobs per warm write: one probe per round, whose action also
    materializes the previous round's lazy cut (the probe plus two
    eager cuts per round made 16)."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        greedy_chain_rejects,
        near_pairs_cached,
    )

    def run():
        greedy_chain_rejects(near_pairs_cached(spark, sf_dir)).write.format(
            "noop"
        ).mode("overwrite").save()

    run()  # builds the cached pair artifact
    assert count_jobs(run) <= 12


def _bfs_hops(pairs, docs, hops):
    """doc_id -> min hop distance from the seeds (doc_id % 97 == 0)
    over the undirected pairs, up to ``hops`` hops, by a Python BFS."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {d: 0 for d in docs if d is not None and d % 97 == 0}
    frontier = list(dist)
    for h in range(1, hops + 1):
        nxt = []
        for n in frontier:
            for m in sorted(adj.get(n, ())):
                if m not in dist:
                    dist[m] = h
                    nxt.append(m)
        frontier = nxt
    return dist


@pytest.mark.parametrize(
    "pairs",
    [
        [(i, i + 1) for i in range(0, 7)],
        [(97, 98), (98, 99), (99, 100), (100, 101), (101, 97)],
        [(1, 2)],
        [(1, 0), (0, 1), (0, 1), (2, 1), (1, 2)],
        [(0, 97), (97, 5), (0, 6), (6, 7)],
    ],
    ids=["chain-longer-than-hops", "cycle", "seed-without-edges",
         "duplicate-and-reversed", "adjacent-seeds"],
)
def test_frontier_radius_matches_python_bfs(spark, pairs, caplog):
    """dedup._frontier_radius, behind q_contamination_radius and
    q_radius_served, labels each node within _RADIUS_HOPS hops of a
    seed with its minimum hop distance, as a Python BFS does, in one
    scale.spark_rounds loop of exactly _RADIUS_HOPS rounds.  The
    documents hold the seeds 0 and 97 even where no edge touches them,
    a NULL doc_id and every edge endpoint."""
    from open_street_map_data_wrangling_spark.operators import scale
    from open_street_map_data_wrangling_spark.operators.dedup import (
        _RADIUS_HOPS,
        _frontier_radius,
    )

    caplog.set_level("INFO", logger=scale.__name__)

    ids = sorted({0, 97, 50} | {n for pair in pairs for n in pair})
    docs = spark.createDataFrame(
        [(d,) for d in ids] + [(None,)], "doc_id long"
    )
    edges = spark.createDataFrame(pairs, "a long, b long")
    rows = _frontier_radius(docs, edges).collect()
    got = {r.doc_id: r.hops for r in rows}
    assert len(rows) == len(got)  # one row per reached node
    assert got == _bfs_hops(pairs, ids, _RADIUS_HOPS)
    loops = [r.getMessage() for r in caplog.records if r.name == scale.__name__]
    assert len(loops) == 1
    assert loops[0].startswith(
        f"frontier radius: spark path ({_RADIUS_HOPS} rounds, "
        "round budget spent, width "
    )


def test_greedy_chain_warns_when_round_budget_is_spent(spark, caplog):
    """greedy_chain_rejects rejects the docs still undecided when
    max_iters runs out, and says so once on dedup's logger; a run that
    finishes inside the budget rejects only what the rounds decide and
    logs nothing there.  Either way its rounds run as one
    scale.spark_rounds loop, which logs the rounds run and whether
    they converged."""
    import logging

    from open_street_map_data_wrangling_spark.operators import scale
    from open_street_map_data_wrangling_spark.operators.dedup import (
        greedy_chain_rejects,
    )

    logger = "open_street_map_data_wrangling_spark.operators.dedup"

    def loops():
        return [
            r.getMessage() for r in caplog.records if r.name == scale.__name__
        ]

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "doc_a long, doc_b long"
    )
    caplog.set_level(logging.WARNING, logger=logger)
    caplog.set_level(logging.INFO, logger=scale.__name__)
    cut = greedy_chain_rejects(pairs, max_iters=1)
    assert sorted(r.doc_id for r in cut.collect()) == [2, 3, 4, 5]
    warned = [r for r in caplog.records if r.name == logger]
    assert len(warned) == 1 and warned[0].levelno == logging.WARNING
    assert "max_iters=1" in warned[0].getMessage()
    assert len(loops()) == 1 and loops()[0].startswith(
        "greedy chain: spark path (1 rounds, round budget spent, width "
    )

    caplog.clear()
    full = greedy_chain_rejects(pairs)
    assert sorted(r.doc_id for r in full.collect()) == [2, 4]
    assert not [r for r in caplog.records if r.name == logger]
    assert len(loops()) == 1 and loops()[0].startswith(
        "greedy chain: spark path (2 rounds, converged, width "
    )


def _greedy_rounds(pairs, max_iters):
    """The doc ids greedy_chain_rejects rejects, replayed in Python:
    per round, accept the docs with no undecided smaller neighbour and
    reject their larger neighbours, then drop decided docs' pairs;
    after ``max_iters`` rounds reject every doc still undecided."""
    e = set(pairs)
    rejected = set()
    for _ in range(max_iters):
        acc = {a for a, _ in e} - {b for _, b in e}
        rej = {b for a, b in e if a in acc}
        rejected |= rej
        e = {(a, b) for a, b in e if not {a, b} & (acc | rej)}
    return rejected | {d for pair in e for d in pair}


def _id_order_rejects(pairs):
    """The id-order rule itself: sweep the doc ids ascending, accept a
    doc unless a smaller neighbour was accepted, reject it otherwise."""
    smaller = {}
    for a, b in pairs:
        smaller.setdefault(a, set())
        smaller.setdefault(b, set()).add(a)
    accepted = set()
    for d in sorted(smaller):
        if not smaller[d] & accepted:
            accepted.add(d)
    return set(smaller) - accepted


@pytest.mark.parametrize(
    "pairs, max_iters",
    [
        ([(1, 2), (2, 3), (3, 4), (4, 5)], 50),
        ([(1, 3), (2, 3), (3, 4), (3, 5)], 50),
        ([(1, 2), (2, 3), (10, 11), (11, 12), (12, 13)], 50),
        ([(1, 2), (1, 2), (2, 3), (2, 3), (1, 3)], 50),
        ([], 50),
        ([(i, i + 1) for i in range(1, 8)], 2),
    ],
    ids=["five-chain", "star", "two-disjoint-chains", "duplicate-pairs",
         "no-pairs", "chain-longer-than-max-iters"],
)
def test_greedy_chain_matches_python_replay(spark, pairs, max_iters):
    """greedy_chain_rejects returns each doc the Python replay of its
    rounds rejects, once; inside the round budget that is exactly the
    id-order rule, and past it the undecided docs are rejected too."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        greedy_chain_rejects,
    )

    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = [r.doc_id for r in greedy_chain_rejects(df, max_iters).collect()]
    assert sorted(got) == sorted(set(got))
    assert set(got) == _greedy_rounds(pairs, max_iters)
    if max_iters >= len(pairs):
        assert set(got) == _id_order_rejects(pairs)
    else:
        assert set(got) > _id_order_rejects(pairs)


def test_connected_components_raises_without_fixpoint(spark):
    """max_iters rounds that end before the fixpoint raise instead of
    returning unconverged labels: one round cannot label a 12-node
    chain (pointer doubling needs several)."""
    import pytest

    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "a long, b long"
    )
    nodes = spark.createDataFrame([(i,) for i in range(12)], "n long")
    with pytest.raises(RuntimeError, match="no fixpoint after 1 rounds"):
        connected_components(edges, nodes, max_iters=1)


def test_connected_components_raises_on_null_probe(spark, monkeypatch):
    """A NULL answer from the label-sum convergence probe raises
    instead of being read as "not converged yet" (or as converged)."""
    import pytest

    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame([(1, 2)], "a long, b long")
    nodes = spark.createDataFrame([(1,), (2,)], "n long")
    frame = type(edges)
    real_agg = frame.agg

    def agg(self, *exprs):
        # the round probe is the (count, sum) agg: its sum goes NULL
        if len(exprs) == 2:
            return real_agg(
                self, exprs[0], F.sum(F.lit(None).cast("decimal(38,0)"))
            )
        return real_agg(self, *exprs)

    monkeypatch.setattr(frame, "agg", agg)
    with pytest.raises(RuntimeError, match="probe returned NULL"):
        connected_components(edges, nodes)


def test_session_gap_boundary_semantics(spark):
    """Boundary contract: an event EXACTLY gap minutes after the
    previous one stays in the SAME session in native session_window
    (sessions merge when the next event is <= previous + gap), and the
    engine's lag/cumsum sessionizer agrees (`gap >` test). This pins
    the agreement so q_sessionize and q_session_window can safely
    share one oracle at any data distribution."""
    from pyspark.sql import Window as W

    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, "2024-01-01 00:30:00")],
        "event_id long, ts_s string",
    ).select("event_id", F.col("ts_s").cast("timestamp").alias("ts"), F.lit(1).alias("user_id"))

    native = (
        df.groupBy(F.session_window("ts", "30 minutes"), "user_id").count().count()
    )
    assert native == 1  # exactly-gap -> merged session

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    flags = df.select(
        F.when(
            (ts_us - F.lag(ts_us).over(w) > 30 * 60 * 1_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        ).otherwise(0).alias("f")
    )
    assert flags.agg(F.sum("f")).collect()[0][0] == 1  # same: one session


def test_pipeline_ops_semantics(spark):
    """Training-pipeline op invariants beyond the oracle hash check:
    the md5 split is exhaustive and ~75/25, packing bins respect the
    budget rule (bin index = tokens-before div 512, so a bin's
    pre-overflow start is always < 512 past the boundary), and
    contamination never exceeds a doc's own shingle count."""
    from open_street_map_data_wrangling_spark.plans import load_all_queries

    sf = "/root/testdata/sf0.01"
    specs = load_all_queries()

    split: dict = {}
    for r in specs["q_split"].spark(spark, sf).collect():
        split[r["split"]] = split.get(r["split"], 0) + r["n_docs"]
    total = sum(split.values())
    assert set(split) == {"train", "test"}
    # 12/16 nibbles -> E[train] = 0.75; allow generous slack for md5
    assert 0.65 < split["train"] / total < 0.85

    contam = specs["q_contamination"].spark(spark, sf).collect()
    assert contam and all(0 <= r["n_contaminated"] <= r["n_shingles"] for r in contam)
    # fixture corpus shares a tiny vocabulary -> some overlap must exist
    assert any(r["n_contaminated"] > 0 for r in contam)

    pack = specs["q_pack"].spark(spark, sf).collect()
    assert all(r["bin"] >= 0 for r in pack)
    by_src: dict = {}
    for r in pack:
        by_src.setdefault(r["source"], []).append(r)
    for rows in by_src.values():
        rows.sort(key=lambda r: r["bin"])
        # bins are dense enough to start at 0 and token totals positive
        assert rows[0]["bin"] == 0
        assert all(r["total_tokens"] > 0 for r in rows)

    red = specs["q_redact"].spark(spark, sf).collect()
    assert all(r["chars_removed"] >= 0 for r in red)
    assert any(r["total_redactions"] > 0 for r in red)


def test_kmeans_trained_ivf_recall(spark):
    """The production IVF path: train the codebook with pyspark.ml
    KMeans instead of taking the first C vectors, probe the query's
    cluster, and measure recall@10 against exact search. Trained
    centroids should beat-or-match the fixed codebook on its own
    query (q_ann_recall measures 0.3 there). Seeded for determinism;
    rows-only territory (KMeans is iterative — no SQL twin), which is
    why this lives in pytest instead of queries()."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from open_street_map_data_wrangling_spark.sources.catalog import load_table
    from open_street_map_data_wrangling_spark.functions.vectors import cosine_expr

    sf = "/root/testdata/sf0.01"
    QID = 42
    emb = load_table(spark, sf, "embeddings").withColumn(
        "features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(k=8, seed=7, maxIter=10).fit(emb.select("features"))
    assigned = model.transform(emb).select("vec_id", "embedding", "prediction")

    qrow = assigned.filter(F.col("vec_id") == QID).collect()[0]
    qvec_df = (
        assigned.filter(F.col("vec_id") == QID)
        .select(F.col("embedding").alias("q_embedding"))
    )
    cos = cosine_expr("embedding", "q_embedding")

    exact = {
        r["vec_id"]
        for r in assigned.filter(F.col("vec_id") != QID)
        .join(F.broadcast(qvec_df))
        .select("vec_id", cos.alias("c"))
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    probed = {
        r["vec_id"]
        for r in assigned.filter(
            (F.col("prediction") == qrow["prediction"]) & (F.col("vec_id") != QID)
        )
        .join(F.broadcast(qvec_df))
        .select("vec_id", cos.alias("c"))
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(10)
        .collect()
    }
    recall = len(exact & probed) / 10.0
    assert recall >= 0.3, f"trained IVF recall {recall} worse than fixed codebook"
    assert model.clusterCenters() is not None and len(model.clusterCenters()) == 8


def test_repetition_edge_docs(spark, monkeypatch):
    """q_repetition on degenerate docs: a 1-token doc must yield an
    EMPTY bigram list (zip_with null-pads the tail; the isNotNull
    filter drops the padded concat), and a fully-repeated doc
    scores 10000."""
    import open_street_map_data_wrangling_spark.operators.text as text_mod

    df = spark.createDataFrame(
        [(1, "solo"), (2, "a a a a"), (3, "x y x y")], "doc_id long, text string"
    )
    monkeypatch.setattr(text_mod, "load_table", lambda s, d, n: df)
    rows = {r["doc_id"]: r for r in text_mod.q_repetition(spark, "_").collect()}
    assert rows[1]["dup_bigram_occ"] == 0 and rows[1]["dup_bigram_x10k"] == 0
    assert rows[1]["top_tok_x10k"] == 10000
    assert rows[2]["top_tok_x10k"] == 10000 and rows[2]["dup_bigram_x10k"] == 10000
    assert rows[3]["top_tok_cnt"] == 2 and rows[3]["dup_bigram_x10k"] == 6666


def test_lsh_hot_bucket_cap(spark):
    """_capped_band_pairs drops a bucket above the cap (no quadratic
    pair blow-up) while small buckets still pair."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        _capped_band_pairs,
    )

    rows = [(i, 0, "hot") for i in range(40)] + [(100, 1, "cold"), (101, 1, "cold")]
    bands = spark.createDataFrame(rows, "doc_id long, bi int, bv string")
    out = _capped_band_pairs(bands, cap=32).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in out} == {(100, 101)}
    # cap above the hot bucket size keeps all 780 + 1 pairs
    assert _capped_band_pairs(bands, cap=64).count() == 40 * 39 // 2 + 1


def test_lsh_degenerate_bucket_never_enters_member_aggregate(spark):
    """Round-4 buffer bound: a 10⁴-member degenerate bucket must be
    pruned BEFORE the member collect (the round-3 form collected the
    full list and filtered on its size — an unbounded aggregation
    buffer).  Output-correct AND the prune join is in the plan."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.dedup import (
        _capped_band_pairs,
    )

    bands = spark.range(10_000).select(
        F.col("id").alias("doc_id"), F.lit(0).alias("bi"), F.lit("deg").alias("bv")
    ).unionAll(
        spark.createDataFrame(
            [(20_000, 1, "ok"), (20_001, 1, "ok")], "doc_id long, bi int, bv string"
        )
    )
    df = _capped_band_pairs(bands, cap=32)
    assert {(r["doc_a"], r["doc_b"]) for r in df.collect()} == {(20_000, 20_001)}
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan, "size prune must happen via join BEFORE collect_list"


def test_all_bucket_pairs_preserves_recall_over_cap(spark):
    """_all_bucket_pairs (simhash banding) must emit EVERY within-
    bucket pair even when the bucket exceeds the cap — over-cap
    buckets take the spillable self-join fallback, not a drop."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.dedup import (
        _all_bucket_pairs,
    )

    rows = [(i, 0, 7) for i in range(10)] + [(100, 1, 9), (101, 1, 9)]
    bands = spark.createDataFrame(rows, "doc_id long, bi int, bv long")
    m = bands.select("bi", "bv", F.struct("doc_id", F.col("bv").alias("fingerprint")).alias("m"))
    got = {
        (r["a"]["doc_id"], r["b"]["doc_id"])
        for r in _all_bucket_pairs(m, cap=4).collect()
    }
    want = {(i, j) for i in range(10) for j in range(i + 1, 10)} | {(100, 101)}
    assert got == want, "over-cap bucket lost pairs (pigeonhole recall broken)"


def test_lsh_hash_families_find_identical_dup_groups(spark, monkeypatch):
    """q_dedup_near (md5+permutation oracle family) and
    q_dedup_near_fast (xxhash64 production family) must produce the
    IDENTICAL candidate-pair set on a corpus of controlled
    collisions: exact-duplicate groups (all 8 min-hashes equal under
    ANY hash family -> every band collides -> the pair is guaranteed
    in both), a 40-copy boilerplate family (over the bucket cap ->
    pruned by both), and unrelated filler docs (no shared shingles ->
    a pair requires a 40/64-bit hash collision; none on this seeded
    corpus).  This upgrades the fast twin's rows-only driver status
    to a verified same-recall claim."""
    import random

    import open_street_map_data_wrangling_spark.operators.dedup as dedup_mod

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(600)]
    rows, doc_id = [], 0
    expected = set()
    for g in range(12):  # 12 groups x 3 exact copies
        text = " ".join(rng.sample(vocab, 24))
        members = []
        for _ in range(3):
            rows.append((doc_id, text))
            members.append(doc_id)
            doc_id += 1
        expected |= {
            (a, b) for i, a in enumerate(members) for b in members[i + 1 :]
        }
    hot_text = " ".join(rng.sample(vocab, 24))
    for _ in range(40):  # boilerplate family over the cap of 32
        rows.append((doc_id, hot_text))
        doc_id += 1
    for _ in range(60):  # unrelated filler
        rows.append((doc_id, " ".join(rng.sample(vocab, 24))))
        doc_id += 1

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    monkeypatch.setattr(dedup_mod, "load_table", lambda s, d, n: docs)
    oracle_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_mod.q_dedup_near(spark, "_").collect()
    }
    fast_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dedup_mod.q_dedup_near_fast(spark, "_").collect()
    }
    assert oracle_pairs == fast_pairs
    assert oracle_pairs == expected  # dup groups in, hot family + filler out


def test_pq_training_reduces_quantization_error(spark):
    """Lloyd refinement of the PQ codebook must strictly reduce the
    exact integer quantization objective on the fixture embeddings,
    and training must be deterministic (pure function of the table)."""
    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    seed = pq._collect_seed_codebook(emb)
    trained = pq.train_codebook(emb, iters=2)
    err_seed = pq.pq_assignment_error(emb, seed)
    err_trained = pq.pq_assignment_error(emb, trained)
    assert err_trained < err_seed
    assert pq.train_codebook(emb, iters=2) == trained


def test_pq_trained_recall_never_below_seed(spark):
    """The q_pq_recall_trained registry entry (hash-green since r07
    via the unrolled _trained_oracle) keeps its independent claim
    here: trained recall@10 >= seed recall@10, one row per codebook,
    deterministic labels."""
    from open_street_map_data_wrangling_spark.operators.pq import (
        q_pq_recall_trained,
    )

    rows = {
        r["codebook"]: r["recall_at_10"]
        for r in q_pq_recall_trained(spark, "/root/testdata/sf0.001").collect()
    }
    assert set(rows) == {"seed", "trained"}
    assert rows["trained"] >= rows["seed"]


def test_scd2_merge_is_idempotent_on_retry(spark):
    """Re-applying the same delta to the merged dimension's current
    rows must be a no-op (every changed row now matches, every insert
    now exists) — the property that makes the streaming foreachBatch
    retry-safe."""
    from open_street_map_data_wrangling_spark.operators.cdc import scd2_merge

    snap = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B")], "k long, bal double, seg string"
    )
    delta = spark.createDataFrame(
        [(1, 15.0, "A"), (3, 30.0, "C")], "k long, bal double, seg string"
    )
    once = scd2_merge(snap, delta, gen=1)
    current = once.filter("is_current").select("k", "bal", "seg", "version")
    twice = scd2_merge(current, delta, gen=2).unionByName(
        once.filter("NOT is_current")
    )
    assert {tuple(r) for r in twice.collect()} == {tuple(r) for r in once.collect()}


def test_curation_pipeline_invariants(spark):
    """Cross-stage invariants of the composed curation pipeline that
    no single-stage oracle can see: monotone counts, no surviving
    exact-duplicate text, at most one survivor per near-dup cluster,
    and a complete two-way split."""
    from open_street_map_data_wrangling_spark.operators.curation import curate_corpus

    sf = "/root/testdata/sf0.001"
    kept, manifest = curate_corpus(spark, sf)
    counts = {r["stage"]: r["n_docs"] for r in manifest.collect()}
    assert (
        counts["input"]
        >= counts["exact_dedup"]
        >= counts["near_dedup"]
        >= counts["quality"]
    )
    assert counts["quality"] == counts["train"] + counts["test"]
    assert counts["train"] > 0 and counts["test"] > 0

    rows = kept.collect()
    assert len(rows) == counts["quality"]
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids))

    # no two kept docs share identical text (exact stage holds through
    # the later stages)
    docs = spark.read.parquet(sf + "/documents.parquet")
    kept_docs = docs.join(kept, "doc_id", "left_semi")
    n_kept = kept_docs.count()
    assert kept_docs.select("text").distinct().count() == n_kept

    # every kept doc is its own near-dup cluster representative: no
    # LSH candidate pair may survive entirely inside the kept set
    from open_street_map_data_wrangling_spark.operators.dedup import (
        _capped_band_pairs,
        _lsh_bands,
        minhash_sigs,
    )

    pairs = _capped_band_pairs(_lsh_bands(minhash_sigs(kept_docs)))
    assert pairs.count() == 0


def test_compression_ratio_matches_direct_zlib(spark):
    """The row-seam compression signal must equal a direct Python
    zlib recomputation per document (same level, same encoding)."""
    import zlib

    from open_street_map_data_wrangling_spark.plans import load_all_queries

    got = {
        r["doc_id"]: (r["n_bytes"], r["n_compressed"], r["ratio_x10k"])
        for r in load_all_queries()["q_compression_ratio"]
        .spark(spark, "/root/testdata/sf0.001")
        .collect()
    }
    import pyarrow.parquet as pq

    rows = pq.read_table("/root/testdata/sf0.001/documents.parquet").to_pylist()
    assert len(got) == len(rows)
    for r in rows:
        raw = r["text"].encode("utf-8")
        comp = zlib.compress(raw, 6)
        want = (len(raw), len(comp), 10000 * len(comp) // len(raw))
        assert got[r["doc_id"]] == want


def test_compression_ratio_empty_and_null_text(spark, monkeypatch):
    """The two texts the zlib recomputation above cannot divide by:
    an empty text keeps its zlib header size and a ratio of 0, a NULL
    text yields NULL metrics."""
    import zlib

    from open_street_map_data_wrangling_spark.operators import text

    docs = spark.createDataFrame(
        [(1, ""), (2, None)], "doc_id bigint, text string"
    )
    monkeypatch.setattr(text, "load_table", lambda spark, sf_dir, name: docs)
    rows = text.q_compression_ratio(spark, "unused").collect()
    got = {r.doc_id: tuple(r)[1:] for r in rows}
    assert len(zlib.compress(b"", 6)) == 8
    assert got == {1: (0, 8, 0), 2: (None, None, None)}


def test_ivf_lloyd_training_improves_assignment_quality(spark):
    """The cosine-Lloyd machinery (semantic.py) trains IVF codebooks:
    two refinement rounds must strictly raise the mean best-cosine of
    the corpus against the codebook vs the raw seed vectors — the
    cell-quality lever behind IVF recall at fixed nprobe. Training is
    deterministic (quantized fixed-point M-step), so the improvement
    is a stable, replayable number."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.functions import cosine_expr
    from open_street_map_data_wrangling_spark.operators import semantic
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    k = 8

    def codebook_df(cents):
        return spark.createDataFrame(
            [(cid, [float(x) for x in vec]) for cid, vec in cents],
            "cid int, cemb array<double>",
        )

    def mean_best_cosine(cents) -> float:
        scored = (
            emb.crossJoin(F.broadcast(codebook_df(cents)))
            .select("vec_id", cosine_expr("embedding", "cemb").alias("c"))
            .groupBy("vec_id")
            .agg(F.max("c").alias("best"))
        )
        return scored.agg(F.avg("best")).first()[0]

    seed_rows = (
        emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    )
    seeds = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in seed_rows
    ]
    cents = seeds
    for _ in range(2):
        cents = semantic._recompute_centroids(
            emb, semantic.assign_clusters(emb, cents)
        )
    q_seed = mean_best_cosine(seeds)
    q_trained = mean_best_cosine(cents)
    assert q_trained > q_seed + 1e-6, (q_seed, q_trained)
    # determinism: retraining reproduces the identical codebook
    cents2 = seeds
    for _ in range(2):
        cents2 = semantic._recompute_centroids(
            emb, semantic.assign_clusters(emb, cents2)
        )
    assert cents2 == cents


def test_binaryfile_source_feeds_multimodal_extract(spark, tmp_path):
    """The real ingestion leg for multimodal columns: Spark's built-in
    `binaryFile` source reads raw media blobs (path, length, content),
    which map straight onto the (doc_id, payload) contract of
    extract_media_features — no custom reader needed, and the source
    carries pushdown on path/length.  Features must match the bytes
    written: exact md5, exact length, first byte."""
    import hashlib

    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        extract_media_features,
    )

    blobs = {
        "a.bin": b"\x89PNG-fake-payload-0123456789",
        "b.bin": b"\xffJPEG-fake-payload",
        "c.bin": b"x",
    }
    media = tmp_path / "media"
    media.mkdir()
    for name, data in blobs.items():
        (media / name).write_bytes(data)

    src = (
        spark.read.format("binaryFile")
        .load(str(media))
        .select(
            F.element_at(F.split("path", "/"), -1).alias("fname"),
            F.col("content").alias("payload"),
        )
        .withColumn(
            "doc_id",
            F.expr("CAST(conv(substring(md5(fname), 1, 12), 16, 10) AS BIGINT)"),
        )
    )
    feats = {
        r["content_md5"]: r
        for r in extract_media_features(
            src.select("doc_id", "payload")
        ).collect()
    }
    assert len(feats) == len(blobs)
    for data in blobs.values():
        r = feats[hashlib.md5(data).hexdigest()]
        assert r["n_bytes"] == len(data)
        assert r["head_byte"] == data[0]


def test_ivfpq_persisted_index_matches_inline(spark, tmp_path):
    """build_ivfpq_index + ivfpq_search (the persisted serving path)
    must reproduce the inline derivation exactly: the served ADC
    top-k equals a direct recomputation from ivfpq_code_table for
    the same probe cells, and the parametrized forms (nprobe=C = no
    pruning, k beyond the candidate count) stay consistent."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.operators import similarity as sim
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivfpq")
    pq.build_ivfpq_index(emb, path)

    cb, qvec_q, cents, qv = pq._collect_ivfpq_literals(emb)
    lut = pq._adc_lut(cb, qvec_q)
    probes = sim._rank_cells_py(cents, qv)[: pq._IVFPQ_NPROBE]
    inline = {
        (r["vec_id"], r["cid"], r["code0"], r["code1"], r["code2"], r["code3"])
        for r in pq.ivfpq_code_table(emb).collect()
    }
    expected = sorted(
        (
            sum(lut[s][row[2 + s]] for s in range(pq._M)),
            row[0],
        )
        for row in inline
        if row[1] in probes and row[0] != pq._QUERY_ID
    )[:10]
    served = [
        (r["adc_d2"], r["vec_id"])
        for r in pq.ivfpq_search(spark, path).collect()
    ]
    assert served == expected

    # no-pruning form: every candidate admitted, ranking unchanged
    all_cells = sim._rank_cells_py(cents, qv)
    served_all = pq.ivfpq_search(spark, path, nprobe=len(all_cells), k=5)
    expected_all = sorted(
        (sum(lut[s][row[2 + s]] for s in range(pq._M)), row[0])
        for row in inline
        if row[0] != pq._QUERY_ID
    )[:5]
    assert [
        (r["adc_d2"], r["vec_id"]) for r in served_all.collect()
    ] == expected_all


def test_lsh_bucket_python_replay_matches_spark(spark):
    """The r07 q_ann_lsh rewrite computes the QUERY's bucket with a
    driver-side Python fold and the corpus buckets with the JVM
    expression; the whole design rests on those two folds being
    bit-identical (collected float32s widen to exact doubles, then
    the same multiplies and adds in the same order).  Pin it for
    EVERY vector, not just the query: Spark-computed buckets must
    equal the pure-Python replay across the table."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators import similarity as sim
    from open_street_map_data_wrangling_spark.operators.similarity import (
        _lit_vec,
        dot_expr,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    raw = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    planes = [raw[i] for i in range(sim._N_PLANES)]

    def pydot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    expected = {
        vid: sum(1 << pid for pid, p in enumerate(planes) if pydot(v, p) > 0)
        for vid, v in raw.items()
    }
    df = emb
    bucket = F.lit(0).cast("bigint")
    for pid, p in enumerate(planes):
        df = df.withColumn(f"__p{pid}", _lit_vec(p))
        bucket = bucket + F.when(
            dot_expr("embedding", f"__p{pid}") > 0,
            F.lit(1 << pid).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
    got = {
        r["vec_id"]: r["b"]
        for r in df.select("vec_id", bucket.alias("b")).collect()
    }
    assert got == expected


def test_ivfpq_compaction_folds_history_and_applies_updates(spark, tmp_path):
    """compact_ivfpq_index: after maintenance batches INCLUDING a
    re-embedding of existing ids (the update case maintenance defers
    to compaction), the compacted table holds exactly one row per
    vec_id — the latest generation's codes — all under __batch=0,
    and serving results are unchanged for non-updated vectors."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.sources.catalog import load_table
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        ivfpq_codes_merge_fn,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    pq.build_ivfpq_index(emb, path)
    merge = ivfpq_codes_merge_fn(spark, path)
    # re-embed vectors 100..199 with vector 0..99's embeddings — their
    # codes must change to the donors' codes after compaction
    donors = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    merge(donors, 0)
    assert spark.read.parquet(f"{path}/codes").count() == 600  # dup gen
    pq.compact_ivfpq_index(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.count() == 500
    assert codes.select("__batch").distinct().collect()[0][0] == 0
    by_id = {
        r["vec_id"]: (r["cid"], r["code0"], r["code1"], r["code2"], r["code3"])
        for r in codes.collect()
    }
    for v in range(100):
        assert by_id[v + 100] == by_id[v]  # updated ids wear donor codes
    # serving still works over the compacted layout
    assert len(pq.ivfpq_search(spark, path).collect()) == 10
    # r11: the raw-vector column survives compaction (the rerank store
    # rides in codes/), and the updated ids carry the DONOR embedding
    embs = {
        r["vec_id"]: list(r["embedding"])
        for r in codes.select("vec_id", "embedding").collect()
    }
    assert embs[100] == embs[0] and len(embs) == 500


def test_ivfpq_compaction_never_overwrites_live_codes(spark, tmp_path, monkeypatch):
    """compact_ivfpq_index commits through one stage write plus a
    rename: no DataFrame write may target the live codes/ dir, whose
    in-place overwrite deletes the serving store before rewriting it."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter

    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "idx")
    pq.build_ivfpq_index(emb, path)
    n = spark.read.parquet(f"{path}/codes").count()
    targets = []
    inner = DataFrameWriter.parquet

    def recording(self, target, *args, **kwargs):
        targets.append(os.path.normpath(str(target)))
        return inner(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    pq.compact_ivfpq_index(spark, path)
    monkeypatch.undo()
    assert targets and os.path.normpath(f"{path}/codes") not in targets
    assert spark.read.parquet(f"{path}/codes").count() == n
    assert not os.path.exists(f"{path}/codes_stage")


def test_boilerplate_strip_cross_document_rule(spark, monkeypatch):
    """q_boilerplate_strip drops a 10-token chunk only when its hash
    spans >= 2 DISTINCT documents: the shared header chunk goes, each
    doc's unique tail survives in order, and a chunk repeated twice
    WITHIN one doc (n_docs_sharing == 1) is kept — the C4 cross-doc
    rule, not plain chunk-frequency."""
    import open_street_map_data_wrangling_spark.operators.dedup as dedup_mod

    hdr = " ".join(f"h{i}" for i in range(10))
    rep = " ".join(f"r{i}" for i in range(10))
    docs = [
        (1, hdr + " u1 u2", "en", "s"),
        (2, hdr + " v1 v2 v3", "en", "s"),
        (3, "w1 w2 w3 w4 w5", "en", "s"),
        (4, rep + " " + rep, "en", "s"),  # same chunk twice, one doc -> kept
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(dedup_mod, "load_table", lambda s, d, n: df)
    row = dedup_mod.q_boilerplate_strip(spark, "_").collect()[0]
    assert row["n_docs"] == 4
    assert row["docs_changed"] == 2  # docs 1 and 2 lose the header
    assert row["chunks_removed"] == 2
    assert row["chars_before"] == sum(len(t) for _, t, _, _ in docs)
    # rebuilt texts: "u1 u2", "v1 v2 v3", doc 3 intact, doc 4 intact
    assert row["chars_after"] == (
        len("u1 u2") + len("v1 v2 v3") + len("w1 w2 w3 w4 w5") + (len(rep) * 2 + 1)
    )


def test_lm_surprisal_matches_python_replay(spark, monkeypatch):
    """q_lm_surprisal is bit-exact against a direct Python replay of
    the integer surprisal formula (md5 train split, add-one smoothing,
    floor-log2 via bit_length) on a corpus that exercises unseen
    tokens (c = 0) and the train/test split boundary."""
    import hashlib

    import open_street_map_data_wrangling_spark.operators.text as text_mod

    docs = [
        (i, " ".join(f"t{(i * 7 + j) % 13}" for j in range(5 + i % 4)), "en")
        for i in range(24)
    ] + [(99, "zz qq zz unseen", "xx")]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    monkeypatch.setattr(text_mod, "load_table", lambda s, d, n: df)

    counts: dict[str, int] = {}
    for doc_id, text, _ in docs:
        if hashlib.md5(str(doc_id).encode()).hexdigest()[0] <= "b":
            for tok in text.split(" "):
                counts[tok] = counts.get(tok, 0) + 1
    t_total, v_size = sum(counts.values()), len(counts)
    assert 0 < v_size and any(
        hashlib.md5(str(d).encode()).hexdigest()[0] > "b" for d, _, _ in docs
    )
    expected = []
    for doc_id, text, lang in docs:
        toks = text.split(" ")
        bits = sum(
            ((t_total + v_size) // (counts.get(tok, 0) + 1)).bit_length() - 1
            for tok in toks
        )
        expected.append(
            (doc_id, lang, len(toks), bits, (100 * bits) // len(toks))
        )
    expected.sort(key=lambda r: (-r[4], r[0]))
    got = [
        (r["doc_id"], r["lang"], r["n_toks"], r["surprisal_bits"], r["cbits_per_tok"])
        for r in text_mod.q_lm_surprisal(spark, "_").collect()
    ]
    assert got == expected[:20]


def test_dsir_weights_matches_python_replay(spark, monkeypatch):
    """q_dsir_weights is bit-exact against a direct Python replay of
    the hashed-bucket importance formula (md5 mod 256 features,
    add-one smoothing, floor-log2 bit-lengths) and up-weights the
    doc whose tokens are target-exclusive."""
    import hashlib

    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po

    docs = [
        (1, "alpha beta alpha gamma", "en", "s0"),
        (2, "alpha beta delta", "en", "s0"),
        (3, "noise1 noise2 noise3 noise4 noise5", "xx", "s1"),
        (4, "alpha beta gamma delta", "xx", "s1"),  # target-like non-target doc
        (5, "noise1 alpha noise2", "en", "s1"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(po, "load_table", lambda s, d, n: df)

    def bucket(tok: str) -> int:
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 256

    cr: dict[int, int] = {}
    ct: dict[int, int] = {}
    for _, text, lang, _s in docs:
        for tok in text.split(" "):
            b = bucket(tok)
            cr[b] = cr.get(b, 0) + 1
            if lang == "en":
                ct[b] = ct.get(b, 0) + 1
    tr, tt = sum(cr.values()), sum(ct.values())
    per_doc = {}
    for doc_id, text, lang, _source in docs:
        toks = text.split(" ")
        bits = sum(
            (((tr + 256) // (cr[bucket(t)] + 1)).bit_length() - 1)
            - (((tt + 256) // (ct.get(bucket(t), 0) + 1)).bit_length() - 1)
            for t in toks
        )
        per_doc[doc_id] = (lang, len(toks), bits)
    expected = {}
    for lang in {l for l, _n, _b in per_doc.values()}:
        rows = [(n, b) for l, n, b in per_doc.values() if l == lang]
        expected[lang] = (
            len(rows),
            sum(n for n, _ in rows),
            sum(b for _, b in rows),
            min(b for _, b in rows),
            max(b for _, b in rows),
        )
    got = {
        r["lang"]: (
            r["n_docs"],
            r["n_toks"],
            r["sum_log2w_bits"],
            r["min_doc_bits"],
            r["max_doc_bits"],
        )
        for r in po.q_dsir_weights(spark, "_").collect()
    }
    assert got == expected
    # the target-vocabulary langs must out-weigh the noise-heavy corpus:
    # doc 3 (all noise tokens, non-target) drags 'xx' min below 'en' min
    assert got["xx"][3] < got["en"][3]


def test_mixture_plan_budget_semantics(spark, monkeypatch):
    """q_mixture_plan: an over-represented language is down-sampled
    (rate < 65536), an under-represented one keeps rate exactly 65536
    (the planner never up-samples), and the keep decision replays the
    md5 16-bit prefix rule bit-exactly."""
    import hashlib

    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po

    # 'big': 10 docs x 8 tokens = 80; 'small': 2 docs x 4 tokens = 8.
    docs = [(i, " ".join(["w"] * 8), "big") for i in range(10)] + [
        (100, "a b c d", "small"),
        (101, "e f g h", "small"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    monkeypatch.setattr(po, "load_table", lambda s, d, n: df)
    rows = {r["lang"]: r for r in po.q_mixture_plan(spark, "_").collect()}

    t, n_langs = 88, 2
    # big: budget share = (88//2)*65536 // (2*80) < 65536 -> down-sampled
    big_rate = ((t // 2) * 65536) // (n_langs * 80)
    assert rows["big"]["rate_x65536"] == big_rate < 65536
    # small: (44*65536) // (2*8) >> 65536 -> clamped, keep everything
    assert rows["small"]["rate_x65536"] == 65536
    assert rows["small"]["docs_kept"] == 2
    assert rows["small"]["toks_kept"] == 8

    def kept(doc_id: int, rate: int) -> bool:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) < rate

    exp_kept = [i for i in range(10) if kept(i, big_rate)]
    assert rows["big"]["docs_kept"] == len(exp_kept)
    assert rows["big"]["toks_kept"] == 8 * len(exp_kept)


def test_boilerplate_rewrite_roundtrip(spark, tmp_path, monkeypatch):
    """write_clean_corpus materializes the stripped corpus with the
    documents-table schema; re-reading it and re-running the audit
    shows monotone shrinkage (a second pass can re-chunk at new
    boundaries but never grows the corpus), and untouched docs
    round-trip byte-identical."""
    import open_street_map_data_wrangling_spark.operators.dedup as dedup_mod
    from open_street_map_data_wrangling_spark.sources.sinks import (
        write_clean_corpus,
    )

    hdr = " ".join(f"h{i}" for i in range(10))
    docs = [
        (1, hdr + " u1 u2", "en", "s0"),
        (2, hdr + " v1 v2 v3", "en", "s0"),
        (3, "w1 w2 w3 w4 w5", "fr", "s1"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    out = str(tmp_path / "clean")
    write_clean_corpus(df, out)
    cleaned = spark.read.parquet(out)
    assert set(cleaned.columns) == {"doc_id", "text", "lang", "source", "n_chars"}
    rows = {r["doc_id"]: r for r in cleaned.collect()}
    assert rows[1]["text"] == "u1 u2" and rows[1]["n_chars"] == 5
    assert rows[2]["text"] == "v1 v2 v3"
    assert rows[3]["text"] == "w1 w2 w3 w4 w5"  # untouched doc intact
    assert rows[3]["lang"] == "fr"

    # second pass on the cleaned corpus: monotone shrinkage, and on
    # this fixture a fixpoint (no cross-doc chunks remain)
    monkeypatch.setattr(dedup_mod, "load_table", lambda s, d, n: cleaned)
    audit = dedup_mod.q_boilerplate_strip(spark, "_").collect()
    for r in audit:
        assert r["chars_after"] <= r["chars_before"]
        assert r["chunks_removed"] == 0


def test_write_training_corpus_sink_roundtrip(spark, tmp_path):
    """write_training_corpus (r09): the composed rewrite pipeline's
    artifacts round-trip — shards/ is partitioned by shard_id and its
    contents reconcile exactly with the persisted manifest/ (doc,
    token, and byte totals of the mixture stage; shard count of the
    shard_plan stage), and stage sizes shrink monotonically through
    the rewrites."""
    from open_street_map_data_wrangling_spark.sources.sinks import (
        write_training_corpus,
    )

    sf = "/root/testdata/sf0.001"
    out = str(tmp_path / "tc")
    write_training_corpus(spark, sf, out)
    shards = spark.read.parquet(f"{out}/shards")
    manifest = {
        r["stage"]: r
        for r in spark.read.parquet(f"{out}/manifest").collect()
    }
    assert set(manifest) == {
        "input",
        "boilerplate",
        "dup_strip",
        "mixture",
        "shard_plan",
    }
    # rewrites only shrink; mixture only drops docs
    assert manifest["boilerplate"]["n_bytes"] <= manifest["input"]["n_bytes"]
    assert manifest["dup_strip"]["n_bytes"] <= manifest["boilerplate"]["n_bytes"]
    assert manifest["mixture"]["n_docs"] <= manifest["dup_strip"]["n_docs"]
    # shards reconcile with the mixture/shard_plan manifest rows
    agg = shards.agg(
        F.count("*").alias("n"),
        F.sum("bytes").alias("b"),
        F.sum("n_tok").alias("t"),
        F.countDistinct("shard_id").alias("s"),
    ).collect()[0]
    assert agg["n"] == manifest["mixture"]["n_docs"]
    assert agg["t"] == manifest["mixture"]["n_tokens"]
    assert agg["b"] == manifest["mixture"]["n_bytes"]
    assert agg["s"] == manifest["shard_plan"]["n_docs"]
    assert agg["n"] == manifest["shard_plan"]["n_tokens"]
    # every shard but the last stays under budget + one max doc
    from open_street_map_data_wrangling_spark.operators.pipeline_ops import (
        _SHARD_BYTES,
    )

    per_shard = {
        r["shard_id"]: r["b"]
        for r in shards.groupBy("shard_id")
        .agg(F.sum("bytes").alias("b"))
        .collect()
    }
    max_doc = shards.agg(F.max("bytes")).collect()[0][0]
    for sid, b in per_shard.items():
        assert b <= _SHARD_BYTES + max_doc


def test_lm_surprisal_empty_train_split_degrades_not_crashes(
    spark, monkeypatch
):
    """A corpus whose every doc_id hashes into the TEST split leaves
    the LM untrained (T = V = 0 is an empty aggregate → NULL).  The
    query must not crash and must mark every score NULL — the same
    NULL DuckDB produces for an empty-sum CTE, so the cross-engine
    hash stays consistent even on this degenerate input."""
    import open_street_map_data_wrangling_spark.operators.text as text_mod

    # md5 first nibbles: 0→'c', 1→'c', 2→'c', 3→'e', 5→'e' — all > 'b'
    docs = [(i, "a b c", "en") for i in (0, 1, 2, 3, 5)]
    df = spark.createDataFrame(docs, "doc_id long, text string, lang string")
    monkeypatch.setattr(text_mod, "load_table", lambda s, d, n: df)
    rows = text_mod.q_lm_surprisal(spark, "_").collect()
    assert len(rows) == 5
    assert all(r["surprisal_bits"] is None for r in rows)
    assert all(r["n_toks"] == 3 for r in rows)


def test_exact_top10_rejects_non_finite_query_vector(spark):
    """The probe vector rides as a SQL plan literal; repr(nan/inf)
    would render invalid SQL ('nanD') and die as an opaque parse
    error — the guard turns that into an immediate ValueError."""
    import pytest as _pytest

    from open_street_map_data_wrangling_spark.operators.pq import (
        _exact_top10,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="non-finite"):
        _exact_top10(emb, [1.0, float("nan")])
    with _pytest.raises(ValueError, match="non-finite"):
        _exact_top10(emb, [float("inf"), 0.0])


def _valid_png(w: int, h: int) -> bytes:
    """A fully valid (zlib-CRC'd, decodable) truecolor PNG built with
    stdlib only."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = b"".join(b"\x00" + b"\x7f" * (3 * w) for _ in range(h))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _minimal_jpeg(w: int, h: int) -> bytes:
    """SOI + APP0(JFIF) + DQT + SOF0 prefix — the header walk a real
    camera JPEG presents (entropy data irrelevant to dimensions)."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(64)
    sof0 = b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    return b"\xff\xd8" + app0 + dqt + sof0 + b"\xff\xd9"


def test_decode_image_real_containers():
    """The stdlib header parser decodes real PNG/JPEG/GIF bytes (r08:
    closes the decode_image NotImplementedError seam)."""
    import pytest as _pytest

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_image,
    )

    assert decode_image(_valid_png(17, 42)) == ("png", 17, 42)
    assert decode_image(_minimal_jpeg(640, 480)) == ("jpeg", 640, 480)
    gif = b"GIF89a" + (300).to_bytes(2, "little") + (200).to_bytes(2, "little") + bytes(3)
    assert decode_image(gif) == ("gif", 300, 200)
    with _pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n\x00\x00")  # truncated
    with _pytest.raises(ValueError):
        decode_image(b"not an image")


def test_extract_image_dims_spark_roundtrip(spark):
    """Real payloads through the Arrow row seam."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        extract_image_dims,
    )

    rows = [(1, _valid_png(3, 9)), (2, _minimal_jpeg(100, 50))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_image_dims(df).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 3, 9)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("jpeg", 100, 50)


def test_png_pixel_codec_all_filters_and_failures():
    """The r09 pure-stdlib PNG pixel codec: each of the five filter
    types roundtrips exactly when forced as the only filter (not
    just in the cycling mix), CRC corruption is detected, and
    unsupported profiles are refused rather than mis-decoded."""
    import struct
    import zlib

    import pytest as _pt

    import open_street_map_data_wrangling_spark.operators.multimodal as mm

    w, h = 5, 7
    rows = [
        bytes(
            v
            for x in range(w)
            for v in ((x * 17 + y * 3) % 256, (x + y * y) % 256, (x ^ y) % 256)
        )
        for y in range(h)
    ]
    want = (
        w,
        h,
        sum(r[i] for r in rows for i in range(0, 3 * w, 3)),
        sum(r[i] for r in rows for i in range(1, 3 * w, 3)),
        sum(r[i] for r in rows for i in range(2, 3 * w, 3)),
    )
    # the cycling encoder (filters 0..4 across 7 rows)
    assert mm.decode_png_pixels(mm.encode_png_rgb(w, h, rows)) == want
    # every filter type alone: rebuild the stream with one fixed type
    for ftype in range(5):
        stream = bytearray()
        prior = bytes(3 * w)
        for line in rows:
            stream.append(ftype)
            raw = bytearray(line)
            for i in range(len(line)):
                stream.append(
                    (line[i] - mm._predictor(ftype, raw, prior, i, 3)) & 0xFF
                )
            prior = line

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data))
                + tag
                + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        png = (
            mm._PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b"")
        )
        assert mm.decode_png_pixels(png) == want, f"filter {ftype}"
    # corruption: flip a byte inside IDAT -> CRC mismatch raises
    good = bytearray(mm.encode_png_rgb(w, h, rows))
    good[40] ^= 0xFF
    with _pt.raises(ValueError):
        mm.decode_png_pixels(bytes(good))
    # unsupported profile (grayscale) is refused
    bad_ihdr = (
        mm._PNG_SIG
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        + struct.pack(
            ">I",
            zlib.crc32(b"IHDR" + struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
            & 0xFFFFFFFF,
        )
    )
    with _pt.raises(ValueError):
        mm.decode_png_pixels(bad_ihdr)


def test_extract_image_dims_null_payload(spark):
    """Regression (r08 advice): a NULL payload must yield NULL
    metadata per the registry's null-payload contract, not crash the
    Python worker — mirroring _extract_rows' guard."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        extract_image_dims,
    )

    rows = [(1, _valid_png(4, 8)), (2, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in extract_image_dims(df).collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 4, 8)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == (
        None,
        None,
        None,
    )


def test_dsir_persisted_stats_serve(spark, tmp_path):
    """DSIR build/serve split (r08, mirroring ivfpq_search and
    lm_score_docs): scoring a NEW batch from yesterday's PERSISTED
    256-row stats parquet equals scoring it against freshly-derived
    stats — no historical-corpus pass at serve time — and a token in
    a bucket the stats never saw is smoothed from zero counts, not
    dropped."""
    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po

    hist = spark.createDataFrame(
        [(i, "alpha beta gamma " * 3, "en" if i % 2 else "de")
         for i in range(20)],
        "doc_id long, text string, lang string",
    )
    store = str(tmp_path / "dsir_stats")
    po.dsir_train_stats(hist).write.parquet(store)

    new_batch = spark.createDataFrame(
        [(100, "alpha beta zzz-unseen-token", "en"),
         (101, "gamma gamma", "fr")],
        "doc_id long, text string, lang string",
    )
    served = {
        r["doc_id"]: r
        for r in po.dsir_score_docs(
            new_batch, spark.read.parquet(store)
        ).collect()
    }
    fresh = {
        r["doc_id"]: r
        for r in po.dsir_score_docs(
            new_batch, po.dsir_train_stats(hist).localCheckpoint()
        ).collect()
    }
    assert served == fresh
    # the unseen token is scored (3 tokens counted), not dropped
    assert served[100]["n_toks"] == 3
    assert served[101]["n_toks"] == 2


def test_contrastive_pairs_invariants(spark):
    """q_contrastive_pairs semantic contract on the fixture: every
    triple's negative is (a) a real document, (b) never equal to the
    anchor or the positive, and (c) never an LSH candidate pair with
    its anchor — and the whole output is deterministic across runs
    (no RNG: hash-ring negatives, content-hash positives)."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        q_dedup_near,
    )
    from open_street_map_data_wrangling_spark.plans import load_all_queries

    sf = "/root/testdata/sf0.01"
    q = load_all_queries()["q_contrastive_pairs"].spark
    rows = q(spark, sf).collect()
    assert rows, "fixture must yield verified positives"
    pair_set = {
        (r["doc_a"], r["doc_b"]) for r in q_dedup_near(spark, sf).collect()
    }
    doc_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id")
        .collect()
    }
    for r in rows:
        assert r["negative"] in doc_ids
        assert r["negative"] != r["anchor"]
        lo, hi = sorted((r["anchor"], r["negative"]))
        assert (lo, hi) not in pair_set
        # positives ARE candidates (the lexical recall path)
        plo, phi = sorted((r["anchor"], r["positive"]))
        assert (plo, phi) in pair_set
    again = q(spark, sf).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_hard_negatives_invariants(spark):
    """q_hard_negatives contract: one row per anchor; the mined
    negative shares the anchor's IVF cell, is never the anchor
    itself, and is never an LSH near-dup candidate of it (that's
    what makes it a NEGATIVE); and among the anchor's non-dup
    cell-mates it is the max-cosine choice (spot-checked via
    brute-force recompute on the fixture)."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        q_dedup_near,
    )
    from open_street_map_data_wrangling_spark.plans import load_all_queries

    sf = "/root/testdata/sf0.01"
    rows = (
        load_all_queries()["q_hard_negatives"].spark(spark, sf).collect()
    )
    assert rows
    anchors = [r["anchor"] for r in rows]
    assert len(anchors) == len(set(anchors))
    pair_set = {
        (r["doc_a"], r["doc_b"]) for r in q_dedup_near(spark, sf).collect()
    }
    for r in rows:
        assert r["hard_negative"] != r["anchor"]
        lo, hi = sorted((r["anchor"], r["hard_negative"]))
        assert (lo, hi) not in pair_set
        assert -1.0 <= r["cos_sim"] <= 1.0


def test_lsh_audit_invariants_and_planted_recall(spark, monkeypatch):
    """q_lsh_audit (X59) semantics on a planted corpus: exact
    duplicates inside the sample are true pairs AND candidates (LSH
    guarantees exact copies collide in every band), so hits ==
    true == cand there; counters obey hits <= min(true, cand) and
    the basis-point ratios stay in [0, 10000]."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    # doc_ids chosen so md5(doc_id) first hex <= '3' (in-sample) for
    # the planted pair; filler docs land wherever they land
    import hashlib

    in_sample = [
        i for i in range(200)
        if hashlib.md5(str(i).encode()).hexdigest()[0] <= dd._AUDIT_PREFIX
    ]
    a, b = in_sample[0], in_sample[1]
    dup_text = "planted duplicate run " + " ".join(f"t{i}" for i in range(20))
    rows = [(a, dup_text, "en", "s0"), (b, dup_text, "en", "s1")]
    filler_vocab = [f"w{i}" for i in range(300)]
    import random

    rng = random.Random(11)
    next_id = 200
    for _ in range(60):
        rows.append(
            (next_id, " ".join(rng.sample(filler_vocab, 24)), "en", "s0")
        )
        next_id += 1
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    r = dd.q_lsh_audit(spark, "_").collect()[0]
    assert r["n_hits"] <= min(r["n_true"], r["n_cand"])
    assert r["n_true"] >= 1 and r["n_hits"] >= 1  # the planted pair
    for k in ("precision_x10k", "recall_x10k"):
        assert r[k] is None or 0 <= r[k] <= 10000


def test_serve_paths_empty_corpus_contract(spark, tmp_path):
    """Empty-input contract for the r09 persisted-index serve paths
    (the registry sweep covers queries, not these helpers): building
    the hard-negative index and the text index from empty tables
    writes readable artifacts, and serving from them returns typed
    empty results instead of raising."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.operators.similarity import (
        build_hardneg_index,
        hardneg_search,
    )

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    hn = str(tmp_path / "hn_empty")
    build_hardneg_index(empty_emb, hn)
    batch = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    assert hardneg_search(spark, hn, batch).count() == 0

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    tix = str(tmp_path / "tix_empty")
    tx.build_text_index(empty_docs, tix)
    assert tx.text_search(spark, tix, ["anything"]).count() == 0


def test_hardneg_gappy_codebook_seeds_stay_bounded(spark, tmp_path):
    """r09 ADVICE (medium): a LARGE corpus whose vec_ids are gappy in
    0..C-1 (codebook unseedable) must still produce a BOUNDED seeds
    artifact — the old fallback wrote the whole corpus to seeds/ and
    hardneg_search collected it all driver-side before any guard.
    Now the fallback writes ≤ _C_MIN rows with the n_centroids=0
    empty-index sentinel, and serve returns typed empty."""
    from open_street_map_data_wrangling_spark.operators.similarity import (
        _C_MIN,
        build_hardneg_index,
        hardneg_search,
    )

    # 500 vectors, vec_id 3 missing -> _collect_codebook returns None
    emb = spark.createDataFrame(
        [
            (i, [float(i % 7), float(i % 5)])
            for i in range(500)
            if i != 3
        ],
        "vec_id long, embedding array<float>",
    )
    hn = str(tmp_path / "hn_gappy")
    build_hardneg_index(emb, hn)
    seeds = spark.read.schema(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, n_centroids INT"
    ).parquet(f"{hn}/seeds")
    assert seeds.count() <= _C_MIN  # bounded, NOT the whole corpus
    assert {r["n_centroids"] for r in seeds.collect()} == {0}
    batch = spark.createDataFrame(
        [(1000, [1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    served = hardneg_search(spark, hn, batch)
    assert served.count() == 0
    assert served.columns == ["anchor", "hard_negative", "cos_sim"]


def test_ivfpq_search_empty_index_explicit_schema(spark, tmp_path):
    """r09 ADVICE: an IVF-PQ index built from an empty corpus leaves
    a fileless seeds dir; ivfpq_search must reach its empty-serve
    guard (explicit read schema) instead of dying on inference."""
    from open_street_map_data_wrangling_spark.operators import pq

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "ivfpq_empty")
    pq.build_ivfpq_index(empty_emb, path)
    served = pq.ivfpq_search(spark, path)
    assert served.count() == 0
    assert served.columns == ["vec_id", "adc_d2"]


def test_ann_range_served_matches_inline(spark, tmp_path):
    """ann_range_search over a fresh persisted index must reproduce
    the inline q_ann_range derivation row-for-row (same probes, same
    radius, same rounded cosines), and the parametrized forms stay
    consistent: a wider radius only ADDS rows, nprobe=C (no pruning)
    is a superset of the default, and a probe id absent from the
    corpus contributes nothing."""
    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.operators import (
        similarity as sim,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    path = str(tmp_path / "ivfpq_range")
    pq.build_ivfpq_index(emb, path)

    inline = sorted(
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in sim.q_ann_range(spark, sf).collect()
    )
    served = sorted(
        (r["q_id"], r["vec_id"], r["cos_sim"])
        for r in pq.ann_range_search(spark, path).collect()
    )
    assert served == inline and len(served) > 0

    wider = {
        (r["q_id"], r["vec_id"])
        for r in pq.ann_range_search(spark, path, tau=0.0).collect()
    }
    assert {(q, v) for q, v, _ in served} <= wider and len(wider) > len(
        served
    )

    c = int(
        spark.read.parquet(f"{path}/seeds").head(1)[0]["n_centroids"]
    )
    unpruned = {
        (r["q_id"], r["vec_id"])
        for r in pq.ann_range_search(spark, path, nprobe=c).collect()
    }
    assert {(q, v) for q, v, _ in served} <= unpruned

    ghost = pq.ann_range_search(spark, path, query_ids=(10**9,))
    assert ghost.count() == 0
    assert ghost.columns == ["q_id", "vec_id", "cos_sim"]


def test_ann_range_search_empty_index_explicit_schema(spark, tmp_path):
    """Empty-corpus build: fileless seeds/codes — ann_range_search
    must serve the typed empty result, not die on schema inference
    (the ivfpq_search precedent)."""
    from open_street_map_data_wrangling_spark.operators import pq

    empty_emb = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    path = str(tmp_path / "ivfpq_range_empty")
    pq.build_ivfpq_index(empty_emb, path)
    served = pq.ann_range_search(spark, path)
    assert served.count() == 0
    assert served.columns == ["q_id", "vec_id", "cos_sim"]


def test_text_index_merge_over_empty_bootstrap(spark, tmp_path):
    """r09 ADVICE: postings/ bootstrapped from an EMPTY corpus exists
    but is fileless; the first real micro-batch through
    text_index_merge_fn must merge (explicit schema) instead of
    crashing on schema inference."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        text_index_merge_fn,
    )

    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    tix = str(tmp_path / "tix_boot")
    tx.build_text_index(empty_docs, tix)
    batch = spark.createDataFrame(
        [(1, "alpha beta", "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    text_index_merge_fn(spark, tix)(batch, 0)
    hits = tx.text_search(spark, tix, ["alpha", "beta"])
    assert [r["doc_id"] for r in hits.collect()] == [1]


def test_text_index_build_serve_matches_inline(spark, tmp_path):
    """build_text_index / text_search (X56): serving the fixed demo
    conjunction from the persisted posting index returns exactly the
    inline q_text_search hit set, the served plan is partition-pruned
    on the token-hash bucket (PartitionFilters), empty terms yield
    empty, and a term absent from the corpus empties the
    conjunction."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    idx = str(tmp_path / "tix")
    tx.build_text_index(docs, idx)
    served = tx.text_search(spark, idx, list(tx._SEARCH_TERMS))
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bkt" in plan
    got = {r["doc_id"] for r in served.collect()}
    want = {r["doc_id"] for r in tx.q_text_search(spark, sf).collect()}
    assert got == want and got
    assert tx.text_search(spark, idx, []).count() == 0
    assert (
        tx.text_search(
            spark, idx, [tx._SEARCH_TERMS[0], "zz-not-a-word"]
        ).count()
        == 0
    )


def test_batch_assign_consistent_with_plan(spark):
    """batch_assign (X50): every batch within a bucket holds exactly
    _BATCH_TOKENS // ctx docs except the last, batch numbering is
    dense from 0, truncation is reported not silent, and the
    assignment reconciles with q_batch_plan's per-bucket manifest
    (same docs, same batch counts).  Repartitioning the input does
    not move any document (md5-ordered determinism)."""
    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po

    sf = "/root/testdata/sf0.001"
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf, "documents")
    assigned = po.batch_assign(docs)
    plan = {r["ctx"]: r for r in po.q_batch_plan(spark, sf).collect()}
    got = assigned.groupBy("ctx").agg(
        F.count("*").alias("n"),
        (F.max("batch_no") + 1).alias("n_batches"),
        F.countDistinct("batch_no").alias("dense"),
    )
    for r in got.collect():
        p = plan[r["ctx"]]
        assert r["n"] == p["n_docs"]
        assert r["n_batches"] == p["n_batches"] == r["dense"]
        dpb = po._BATCH_TOKENS // r["ctx"]
        sizes = [
            x["c"]
            for x in assigned.filter(F.col("ctx") == r["ctx"])
            .groupBy("batch_no")
            .agg(F.count("*").alias("c"))
            .collect()
        ]
        assert sizes.count(dpb) >= len(sizes) - 1  # only last may be short
        assert all(s <= dpb for s in sizes)
    # fixture has >64-token docs: truncation must be visible
    assert sum(p["n_truncated"] for p in plan.values()) > 0
    # layout independence
    a1 = {
        (r["doc_id"]): (r["ctx"], r["batch_no"])
        for r in assigned.collect()
    }
    a2 = {
        (r["doc_id"]): (r["ctx"], r["batch_no"])
        for r in po.batch_assign(docs.repartition(13)).collect()
    }
    assert a1 == a2


def test_hardneg_index_build_serve(spark, tmp_path):
    """build_hardneg_index / hardneg_search (r09, the ivfpq
    build/serve split applied to X41): serving negatives for a small
    batch answers from the persisted cell index with a
    partition-pruned cells/ scan (PartitionFilters on cid), returns
    exactly one max-cosine negative per anchor drawn from the
    anchor's cell sample, honors the exclude-pairs anti-join, and is
    deterministic across calls."""
    from open_street_map_data_wrangling_spark.operators.similarity import (
        build_hardneg_index,
        hardneg_search,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    idx = str(tmp_path / "hn")
    build_hardneg_index(emb, idx)
    seeds_meta = spark.read.parquet(f"{idx}/seeds").collect()[0]
    assert seeds_meta["n_centroids"] == 8  # fixture scale keeps C = 8
    batch = emb.filter(F.col("vec_id") < 5)
    served = hardneg_search(spark, idx, batch)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cid" in plan
    rows = {r["anchor"]: r for r in served.collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    for a, r in rows.items():
        assert r["hard_negative"] != a
        assert -1.0 <= r["cos_sim"] <= 1.0
    # determinism
    again = {r["anchor"]: r["hard_negative"]
             for r in hardneg_search(spark, idx, batch).collect()}
    assert again == {a: r["hard_negative"] for a, r in rows.items()}
    # excluding the mined pair forces the runner-up (or drops the
    # anchor if its cell sample had a single candidate)
    excl = spark.createDataFrame(
        [tuple(sorted((a, r["hard_negative"]))) for a, r in rows.items()],
        "doc_a long, doc_b long",
    )
    served2 = {
        r["anchor"]: r["hard_negative"]
        for r in hardneg_search(spark, idx, batch, exclude_pairs=excl).collect()
    }
    for a, neg in served2.items():
        assert neg != rows[a]["hard_negative"]


def test_ivf_codebook_scales_with_corpus():
    """r09: the centroid count is derived from the corpus size
    (clamp(N // cell-target, 8, 512)) — the r08 verdict's one `weak`
    item.  Fixture scales stay at the historical C=8; larger corpora
    grow C linearly until the in-plan-literal ceiling, past which
    the persisted IVF-PQ index owns the codebook."""
    from open_street_map_data_wrangling_spark.operators.similarity import (
        _n_centroids_for,
    )

    assert _n_centroids_for(0) == 8
    assert _n_centroids_for(500) == 8          # sf0.01 fixture
    assert _n_centroids_for(2000) == 8         # sf0.1 fixture
    assert _n_centroids_for(256 * 100) == 100  # scales with N
    assert _n_centroids_for(10**9) == 512      # clamped ceiling


def test_ivf_collect_honors_scaled_codebook(spark, monkeypatch):
    """_collect_ivf_literals actually re-collects the larger codebook
    when the formula says so (C is not a constant anywhere on the
    Spark side)."""
    import open_street_map_data_wrangling_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "_CELL_TARGET", 4)
    emb = spark.createDataFrame(
        [(i, [1.0, i * 1e-3]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    cents, qv = sim._collect_ivf_literals(emb, 42)
    assert len(cents) == sim._n_centroids_for(60) == 15
    assert qv is not None


def test_hard_negatives_dense_cell_sampled_not_dropped(spark, monkeypatch):
    """r08 verdict item 1: a cell larger than _HARDNEG_CELL_CAP must
    DEGRADE to md5-rank-sampled mining, not be excluded.  Geometry
    pins 53 vectors into one cell (vectors [1, i*eps] all sit nearest
    centroid 7) with the cap forced to 4 — every anchor in the dense
    cell must still receive a negative from within the cell."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd
    import open_street_map_data_wrangling_spark.operators.similarity as sim

    monkeypatch.setattr(sim, "_HARDNEG_CELL_CAP", 4)
    n = 60
    emb = spark.createDataFrame(
        [(i, [1.0, i * 1e-3]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    monkeypatch.setattr(sim, "load_table", lambda s, d, t: emb)
    empty_pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    monkeypatch.setattr(dd, "q_dedup_near", lambda s, d: empty_pairs)
    rows = sim.q_hard_negatives(spark, "_").collect()
    got = {r["anchor"]: r["hard_negative"] for r in rows}
    dense_cell = set(range(7, n))
    # every dense-cell anchor mined a negative, despite |cell| >> cap
    assert dense_cell <= set(got)
    for a in dense_cell:
        assert got[a] != a and got[a] in dense_cell


def test_winnow_matches_python_replay_and_match_guarantee(spark, monkeypatch):
    """q_winnow is bit-exact against a direct Python replay of the
    winnowing scheme (k=3-gram base-31 hashes, w=4 full-window
    minima), and exhibits the paper's guarantee: two documents
    sharing a token run of length >= k + w - 1 = 6 share at least
    one selected fingerprint."""
    import open_street_map_data_wrangling_spark.operators.text as tx

    shared = "the quick brown fox jumps over"  # 6 shared tokens
    docs = [
        (1, f"intro words {shared} tail one", "en", "s0"),
        (2, f"{shared} completely different ending here", "en", "s1"),
        (3, "no overlap with anything else at all", "en", "s0"),
        (4, "tiny doc", "en", "s1"),  # < 6 tokens -> no full window
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(tx, "load_table", lambda s, d, n: df)

    def replay(text: str) -> set[int]:
        toks = text.split(" ")
        feat = [ord(t[0]) * 131 + len(t) * 7 for t in toks]
        grams = [
            feat[i] + 31 * feat[i + 1] + 961 * feat[i + 2]
            for i in range(len(feat) - 2)
        ]
        w = tx._WINNOW_W
        return {
            min(grams[i : i + w]) for i in range(len(grams) - w + 1)
        }

    expected = {
        doc_id: replay(text) for doc_id, text, _l, _s in docs
        if len(text.split(" ")) >= tx._WINNOW_K + tx._WINNOW_W - 1
    }
    got = {
        r["doc_id"]: (r["n_fingerprints"], r["fp_min"], r["fp_sum"])
        for r in tx.q_winnow(spark, "_").collect()
    }
    assert set(got) == set(expected)  # doc 4 absent: no full window
    for doc_id, sel in expected.items():
        assert got[doc_id] == (len(sel), min(sel), sum(sel))
    # the winnowing guarantee on the replayed fingerprint sets
    assert expected[1] & expected[2], "shared 6-token run must share a print"
    assert not (expected[1] & expected[3])


def test_dup_spans_toy_coverage(spark, monkeypatch):
    """q_dup_spans marks exactly the positions covered by a shared
    >= K-token run (cross-doc), counts a within-doc repeat as
    duplication too, and reports 0 for unique text."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    k = dd._SPAN_K
    run = " ".join(f"w{i}" for i in range(k))  # exactly K shared tokens
    uniq1 = " ".join(f"a{i}" for i in range(5))
    uniq2 = " ".join(f"b{i}" for i in range(7))
    docs = [
        (1, f"{uniq1} {run}", "en", "s0"),       # 5 + K tokens, K covered
        (2, f"{run} {uniq2}", "en", "s1"),       # K + 7 tokens, K covered
        (3, "x1 x2 x3 x4 x5", "en", "s0"),        # unique, short: cov 0
        (4, f"{run} gap {run}", "en", "s1"),      # self-repeat also counts
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: df)
    got = {
        r["doc_id"]: (r["n_toks"], r["dup_toks"], r["cov_pct"])
        for r in dd.q_dup_spans(spark, "_").collect()
    }
    assert got[1] == (5 + k, k, 100 * k // (5 + k))
    assert got[2] == (k + 7, k, 100 * k // (k + 7))
    assert got[3] == (5, 0, 0)
    # doc 4: both runs fully covered (the shared gram repeats), the
    # single 'gap' token is inside the trailing window of run 1's
    # last gram start only if a dup gram starts within K-1 before it;
    # run1's last start is at pos k (1-based), gap pos k+1 -> covered.
    n4, d4, _ = got[4]
    assert n4 == 2 * k + 1 and d4 >= 2 * k


def test_winnow_pairs_toy_clone_detection(spark, monkeypatch):
    """Two documents sharing a long token run surface as a winnow
    pair; unrelated documents never pair."""
    import open_street_map_data_wrangling_spark.operators.text as tx

    run = " ".join(f"w{i}" for i in range(14))
    docs = [
        (1, f"intro {run} alpha beta", "en", "s0"),
        (2, f"{run} gamma delta other", "en", "s1"),
        (3, "unrelated tokens only here nothing shared", "en", "s0"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(tx, "load_table", lambda s, d, n: df)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in tx.q_winnow_pairs(spark, "_").collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert all(3 not in p for p in pairs)


def test_dup_strip_keeps_first_occurrence_only(spark, monkeypatch):
    """q_dup_strip: a run duplicated across two docs survives at its
    globally first position and is removed from the later doc; unique
    text is untouched."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    k = dd._SPAN_K
    run = " ".join(f"w{i}" for i in range(k))
    uniq = "alpha beta gamma"
    docs = [
        (1, f"{run} {uniq}", "en", "s0"),   # first occurrence: kept whole
        (2, f"pre {run} post", "en", "s1"),  # later copy: run stripped
        (3, "x1 x2 x3 x4 x5", "en", "s0"),   # unique: untouched
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: df)
    got = {
        r["doc_id"]: (r["n_toks"], r["n_kept"], r["new_text"])
        for r in dd.q_dup_strip(spark, "_").collect()
    }
    assert got[1] == (k + 3, k + 3, f"{run} {uniq}")
    assert got[3] == (5, 5, "x1 x2 x3 x4 x5")
    n2, kept2, text2 = got[2]
    assert n2 == k + 2
    assert kept2 == 2 and text2 == "pre post"


def test_dup_strip_no_feature_hash_collision_deletion(spark, monkeypatch):
    """Regression (r08 advice): the gram hash must be an EXACT
    content hash.  The earlier per-token feature hash (first-char
    ascii + length, cyclic weights) collided for any two runs whose
    tokens merely agreed in (first character, length) — e.g.
    'hello world' vs 'happy wings' token-for-token — and q_dup_strip
    DELETED one of the two unique runs.  With md5-of-window grams,
    two same-shape-but-different-content runs must both survive
    intact, and q_dup_spans must report zero coverage for both."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    k = dd._SPAN_K
    # token i of each run: same first char, same length, different tail
    run_a = " ".join(f"t{i}aa" for i in range(k))
    run_b = " ".join(f"t{i}bb" for i in range(k))
    docs = [
        (1, run_a, "en", "s0"),
        (2, run_b, "en", "s1"),
    ]
    df = spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: df)
    stripped = {
        r["doc_id"]: (r["n_kept"], r["new_text"])
        for r in dd.q_dup_strip(spark, "_").collect()
    }
    assert stripped[1] == (k, run_a)
    assert stripped[2] == (k, run_b)
    spans = {
        r["doc_id"]: r["dup_toks"]
        for r in dd.q_dup_spans(spark, "_").collect()
    }
    assert spans[1] == 0 and spans[2] == 0

def test_bm25_index_build_serve_matches_inline(spark, tmp_path):
    """build_bm25_index / bm25_search (X61): serving the fixed demo
    terms from the persisted posting index returns exactly the inline
    q_bm25 ranking (rank, doc_id, score_fp), the served plan is
    partition-pruned on the token-hash bucket, empty terms / empty
    corpus yield typed empty, and duplicate query terms don't double
    count."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    idx = str(tmp_path / "bm25")
    tx.build_bm25_index(docs, idx)
    served = tx.bm25_search(spark, idx)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bkt" in plan
    got = [(r["rank"], r["doc_id"], r["score_fp"]) for r in served.collect()]
    want = [
        (r["rank"], r["doc_id"], r["score_fp"])
        for r in tx.q_bm25(spark, sf).collect()
    ]
    assert got == want and got
    # duplicate terms are deduped, not double-counted
    dup = tx.bm25_search(spark, idx, tx._BM25_TERMS + (tx._BM25_TERMS[0],))
    assert [
        (r["rank"], r["doc_id"], r["score_fp"]) for r in dup.collect()
    ] == want
    assert tx.bm25_search(spark, idx, ()).count() == 0
    # empty corpus: bounded stats row, typed-empty serve
    empty_docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string"
    )
    eidx = str(tmp_path / "bm25_empty")
    tx.build_bm25_index(empty_docs, eidx)
    e = tx.bm25_search(spark, eidx)
    assert e.count() == 0
    assert e.columns == ["rank", "doc_id", "score_fp"]

def test_bm25_search_arbitrary_term_width(spark, tmp_path):
    """bm25_search with a term count != the 3-term demo query (r10
    ADVICE): 2-term and 4-term queries must compile (the score
    builder follows len(terms), not the demo constant) and match an
    independent pure-Python twin of the fixed-point score on a toy
    corpus."""
    import open_street_map_data_wrangling_spark.operators.text as tx

    corpus = [
        (1, "merge filter batch merge scan"),
        (2, "filter scan scan join"),
        (3, "batch merge filter join probe"),
        (4, "probe join words here"),
        (5, "merge merge merge"),
    ]
    docs = spark.createDataFrame(
        [(d, t, "en", "s0") for d, t in corpus],
        "doc_id long, text string, lang string, source string",
    )
    idx = str(tmp_path / "bm25w")
    tx.build_bm25_index(docs, idx)

    def py_bm25(terms, k=10):
        S, K1, B, SHIFT = (
            tx._BM25_S, tx._BM25_K1, tx._BM25_B, tx._BM25_IDF_SHIFT,
        )
        toks = {d: [w for w in t.split(" ") if w] for d, t in corpus}
        dl = {d: len(ws) for d, ws in toks.items()}
        n_docs = sum(1 for v in dl.values() if v > 0)
        total = sum(dl.values())
        scores = {}
        for d, ws in toks.items():
            sc = 0
            for t in dict.fromkeys(terms):
                tf = ws.count(t)
                df = sum(1 for w2 in toks.values() if t in w2)
                if tf == 0 or df == 0:
                    continue
                idf = ((n_docs * SHIFT) // df).bit_length() - 1
                norm = S - B + (B * dl[d] * n_docs) // total
                denom = tf * S + (K1 * norm) // S
                sc += idf * ((tf * (K1 + S) * S) // denom)
            if any(w in ws for w in terms):
                scores[d] = sc
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        return [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]

    for terms in (
        ("merge", "join"),                       # 2 terms
        ("merge", "filter", "join", "probe"),    # 4 terms
        ("probe",),                              # 1 term
        ("merge", "filter", "batch", "join", "zzz_absent"),  # 5, one df=0
    ):
        got = [
            (r["rank"], r["doc_id"], r["score_fp"])
            for r in tx.bm25_search(spark, idx, terms).collect()
        ]
        assert got == py_bm25(terms), terms


def test_rrf_served_matches_inline_fusion(spark, tmp_path):
    """q_rrf_served / rrf_search (X76): the zero-corpus-scan serve
    path must return EXACTLY q_rrf_fusion's exhaustive ranking on the
    fixture (the probed cells contain the whole exact top-20 —
    measured across all SFs), the ADC-shortlist variant stays a valid
    ranking over the same candidate universe, and an index pair built
    from an empty embeddings table degrades to the BM25-only fusion
    instead of raising."""
    import open_street_map_data_wrangling_spark.operators.pq as pq
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    want = [tuple(r) for r in tx.q_rrf_fusion(spark, sf).collect()]
    got = [tuple(r) for r in tx.q_rrf_served(spark, sf).collect()]
    assert got == want and got

    # ADC-shortlist knob: still a well-formed top-10 fusion; the
    # lexical leg is identical, only vec ranks may shift (the
    # documented recall tradeoff)
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    bmp, pqp = str(tmp_path / "bm25"), str(tmp_path / "ivfpq")
    tx.build_bm25_index(docs, bmp)
    pq.build_ivfpq_index(emb, pqp)
    sl = [tuple(r) for r in
          tx.rrf_search(spark, bmp, pqp, shortlist=50).collect()]
    assert [r[0] for r in sl] == list(range(1, len(sl) + 1))
    assert {r[1] for r in sl if r[2] is not None} <= {
        w[1] for w in want if w[2] is not None
    } | {r[1] for r in sl}  # bm docs are shared; structure sanity

    # empty vector index: bm25-only fusion, vec_rank all NULL
    eidx = str(tmp_path / "ivfpq_empty")
    pq.build_ivfpq_index(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        eidx,
    )
    bm_only = [tuple(r) for r in
               tx.rrf_search(spark, bmp, eidx).collect()]
    assert bm_only and all(r[3] is None for r in bm_only)
    assert all(r[2] is not None for r in bm_only)


def test_temperature_mix_reshapes_toward_tail(spark, monkeypatch):
    """q_temperature_mix (X63): alpha = 0.5 temperature must move
    share FROM the head language TO the tail (target share strictly
    between uniform and natural), keep ALL of a tail language whose
    natural mass is under its target, and down-sample the head; the
    integer sqrt must be exact at perfect squares."""
    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po

    rows = []
    # head: 90 docs x 100 tokens = 9000 toks; tail: 10 docs x 10 = 100
    for i in range(90):
        rows.append((i, "en", " ".join(["w"] * 100)))
    for i in range(10):
        rows.append((1000 + i, "sw", " ".join(["w"] * 10)))
    docs = spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )
    monkeypatch.setattr(po, "load_table", lambda s, d, n: docs)
    out = {r["lang"]: r for r in po.q_temperature_mix(spark, "_").collect()}
    en, sw = out["en"], out["sw"]
    # natural: en ~ 9890 bp, sw ~ 109 bp; sqrt reshape: sqrt(9000)=94,
    # sqrt(100)=10 -> target en ~ 9038 bp, sw ~ 961 bp
    assert sw["share_tgt_bp"] > sw["share_nat_bp"]
    assert en["share_tgt_bp"] < en["share_nat_bp"]
    # tail target mass exceeds its natural mass -> keep everything
    assert sw["rate_x65536"] == 65536
    assert sw["docs_kept"] == sw["n_docs"] == 10
    # head must be down-sampled (rate < 1, docs dropped)
    assert en["rate_x65536"] < 65536
    assert en["docs_kept"] < en["n_docs"]
    # exact isqrt at a perfect square: sqrt(100) = 10 exactly
    r = spark.sql(
        "SELECT " + po._isqrt_sql("100") + " AS s"
    ).collect()[0]["s"]
    assert r == 10

def test_containment_flags_subset_duplicate(spark, monkeypatch):
    """q_containment (X64): a document fully embedded in a longer one
    must surface with 10000 bp containment of the shorter side while
    its Jaccard stays below 10000 (the pair class a symmetric
    threshold misses); a disjoint doc never pairs."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    base = " ".join(f"tok{i}" for i in range(50))
    sub = " ".join(f"tok{i}" for i in range(45))  # strict subset
    other = " ".join(f"zzz{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base, "en", "s"), (2, sub, "en", "s"), (3, other, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    rows = {(r["doc_a"], r["doc_b"]): r for r in dd.q_containment(spark, "_").collect()}
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r["cont_b_bp"] == 10000          # sub fully contained
    assert r["cont_a_bp"] < 10000
    assert r["jaccard_bp"] < 10000          # symmetric score is lower
    assert r["n_inter"] == r["n_b"]
    assert all(3 not in k for k in rows)


def test_gram_novelty_attributes_first_source(spark, monkeypatch):
    """q_gram_novelty (X65): a source that only repeats earlier
    content gets novelty 0; the originating source owns the grams;
    sums of novel grams equal the corpus-wide distinct gram count."""
    import open_street_map_data_wrangling_spark.operators.text as tx

    a = " ".join(f"w{i}" for i in range(10))
    b = " ".join(f"v{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, a, "en", "srcA"), (2, b, "en", "srcA"),
         (3, a, "en", "srcB")],  # srcB repeats srcA's content
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(tx, "load_table", lambda s, d, n: docs)
    out = {r["source"]: r for r in tx.q_gram_novelty(spark, "_").collect()}
    assert out["srcB"]["n_novel"] == 0 and out["srcB"]["novelty_bp"] == 0
    assert out["srcA"]["novelty_bp"] == 10000
    total_distinct = out["srcA"]["n_distinct"]  # srcB adds nothing new
    assert out["srcA"]["n_novel"] + out["srcB"]["n_novel"] == total_distinct

def test_keep_best_rescues_superset_document(spark, monkeypatch):
    """q_keep_best (X67): in a cluster where the MIN id is the short
    embedded excerpt and a higher id is the full superset document,
    the quality-ranked policy keeps the long member and the uplift
    is exactly the token difference; a tie on length keeps the lower
    id (uplift 0 vs the min-id rule when min id IS the longest)."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    long_doc = " ".join(f"tok{i}" for i in range(40))
    short_doc = " ".join(f"tok{i}" for i in range(36))  # subset, near-dup
    docs = spark.createDataFrame(
        [(1, short_doc, "en", "s"), (2, long_doc, "en", "s")],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    rows = dd.q_keep_best(spark, "_").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["cluster_id"] == 1          # min-id labeling
    assert r["keep_id"] == 2             # but the LONG doc is kept
    assert r["keep_toks"] == 40 and r["minid_keep_toks"] == 36
    assert r["uplift_toks"] == 4

def test_keep_best_containment_clusters_excerpt_lsh_misses(
    spark, monkeypatch
):
    """q_keep_best_containment (X77): an excerpt embedded verbatim in
    a much longer article has low symmetric Jaccard (union is the
    long doc), so the MinHash-LSH edge set misses the pair and
    q_keep_best leaves the excerpt unclustered — while the
    containment edge (100% one-way) clusters it and the policy keeps
    the superset document.  Also: a pair sharing only over-cap
    boilerplate shingles must NOT become a containment edge (the
    posting cap is the candidate bound, not a heuristic)."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    # doc 2 = 120-token article; doc 1 = its 12-token excerpt:
    # J = 10/118 ~ 0.08 -> band-collision probability ~ 0.003
    article = " ".join(f"w{i}" for i in range(120))
    excerpt = " ".join(f"w{i}" for i in range(50, 62))
    # docs 10..29 all share ONE common 5-token boilerplate run (its
    # shingles post to 20 docs, over the cap of 8) plus unique tails
    boiler = "the quick brown fox jumps"
    rows = [(1, excerpt, "en", "s"), (2, article, "en", "s")] + [
        (10 + i, f"{boiler} u{i}a u{i}b u{i}c u{i}d", "en", "s")
        for i in range(20)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: docs)
    base = {r["cluster_id"]: r for r in dd.q_keep_best(spark, "_").collect()}
    assert 1 not in base  # LSH alone never edges the excerpt pair
    got = {
        r["cluster_id"]: r
        for r in dd.q_keep_best_containment(spark, "_").collect()
    }
    assert 1 in got
    r = got[1]
    assert r["keep_id"] == 2          # the superset article survives
    assert r["n_docs"] == 2
    assert r["keep_toks"] == 120 and r["minid_keep_toks"] == 12
    assert r["uplift_toks"] == 108
    # boilerplate-only pairs: postings over the cap are dropped, and
    # the unique tails keep every pairwise containment far below
    # 8000 bp even where LSH banded them together — no giant cluster
    # swallowing docs 10..29 via the shared run alone
    for cid, rr in got.items():
        if cid >= 10:
            assert rr["n_docs"] < 20


def test_bm25_search_many_equals_per_query_serving(spark, tmp_path):
    """bm25_search_many (X84): batching N queries over the persisted
    index returns, per qid, EXACTLY what bm25_search returns for that
    query alone (same k) — batching changes the cost, not the answer.
    Also: the batch plan is partition-pruned on the union of the
    batch's buckets, never reads the corpus, empty query sets yield
    typed empty, and a query whose terms are absent from the corpus
    simply yields no rows for its qid."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = str(tmp_path / "bm25")
    tx.build_bm25_index(docs, idx)
    queries = tx._BM25_BATCH_QUERIES + ((7, ("zzz_absent",)),)
    batch = tx.bm25_search_many(spark, idx, queries, k=5)
    p = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "bkt" in p
    assert "documents.parquet" not in p
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append(
            (r["rank"], r["doc_id"], r["score_fp"])
        )
    for qid, terms in queries:
        solo = [
            (r["rank"], r["doc_id"], r["score_fp"])
            for r in tx.bm25_search(spark, idx, terms, k=5).collect()
        ]
        assert got.get(qid, []) == solo, qid
    assert 7 not in got  # absent-term query: no rows, no error
    assert tx.bm25_search_many(spark, idx, ()).count() == 0
    # fail-fast on misconfiguration (ADVICE r12): this index was
    # built WITHOUT meta, so a filtered call must raise instead of
    # silently reading the forced meta column as all-NULL (which
    # starved every filtered query to zero rows)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no meta column"):
        tx.bm25_search_many(
            spark, idx, queries, k=5, filters={1: "web"}
        )


def test_ivfpq_search_many_equals_per_query_serving(spark, tmp_path):
    """ivfpq_search_many (X85): batching N probes over the persisted
    index returns, per qid, EXACTLY what ivfpq_search returns for
    that probe alone; the batch plan prunes the codes scan to the
    UNION of the batch's probe cells and never reads the corpus;
    empty query sets and empty indexes yield typed empty."""
    import open_street_map_data_wrangling_spark.operators.pq as pq
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    idx = str(tmp_path / "ivfpq")
    pq.build_ivfpq_index(emb, idx)
    qids = (0, 17, 42)
    qvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(list(qids))).collect()
    }
    batch = pq.ivfpq_search_many(spark, idx, qvecs, k=10)
    p = batch._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "cid" in p
    assert "embeddings.parquet" not in p
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append((r["vec_id"], r["adc_d2"]))
    # solo comparison only for probes the seeds artifact covers
    # (vec_id < max(K, C, 18)): ivfpq_search reads its probe FROM the
    # seeds, so qid 42 serves typed-empty solo — the batch API's
    # caller-supplied vectors REMOVE that limitation (its qid-42
    # answer is proven by the q_ivfpq_batch oracle instead)
    for qid in (0, 17):
        solo = [
            (r["vec_id"], r["adc_d2"])
            for r in pq.ivfpq_search(spark, idx, query_id=qid).collect()
        ]
        assert got[qid] == solo, qid
    assert len(got[42]) == 10
    assert pq.ivfpq_search(spark, idx, query_id=42).count() == 0
    assert pq.ivfpq_search_many(spark, idx, {}).count() == 0
    eidx = str(tmp_path / "ivfpq_empty")
    pq.build_ivfpq_index(
        spark.createDataFrame([], "vec_id long, embedding array<float>"),
        eidx,
    )
    assert pq.ivfpq_search_many(spark, eidx, qvecs).count() == 0


def test_rrf_search_many_equals_per_query_serving(spark, tmp_path):
    """rrf_search_many (X86): the batched hybrid path returns, per
    qid, EXACTLY what rrf_search returns for that (terms, probe)
    alone — two shared index scans change the cost, not any answer;
    the plan reads only index artifacts (both corpus tables absent);
    an empty batch yields typed empty."""
    import open_street_map_data_wrangling_spark.operators.pq as pq
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings")
    bmp, pqp = str(tmp_path / "bm25"), str(tmp_path / "ivfpq")
    tx.build_bm25_index(docs, bmp)
    pq.build_ivfpq_index(emb, pqp)
    pvids = [pv for _, _, pv in tx._RRF_BATCH]
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id").isin(pvids)).collect()
    }
    queries = {q: (ts, qrows[pv], pv) for q, ts, pv in tx._RRF_BATCH}
    batch = tx.rrf_search_many(spark, bmp, pqp, queries)
    p = batch._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in p
    assert "embeddings.parquet" not in p
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append(tuple(r)[1:])
    # solo comparison only for probes the seeds artifact covers:
    # rrf_search reads its probe FROM seeds (vec_id < max(K, C, 18)),
    # so probe 42 degrades to a bm25-only fusion solo — the batch
    # API's caller-supplied vectors remove that limitation (its
    # qid-2 answer is proven by the q_rrf_batch oracle instead)
    for qid, ts, pv in tx._RRF_BATCH:
        solo = [
            tuple(r)
            for r in tx.rrf_search(
                spark, bmp, pqp, terms=ts, query_id=pv
            ).collect()
        ]
        if pv < 18:
            assert got[qid] == solo, qid
        else:
            assert all(r[3] is None for r in solo)  # bm-only solo
            assert any(r[3] is not None for r in got[qid])
    assert tx.rrf_search_many(spark, bmp, pqp, {}).count() == 0


def test_maxsim_search_many_equals_per_query_serving(spark, tmp_path):
    """maxsim_search_many (X87): the batched late-interaction path
    returns, per qid, EXACTLY what maxsim_search returns for that
    query's terms alone (the hoisted lane vectors are the same
    integers as the solo form's literal query vectors); the plan
    never reads the corpus; empty batches yield typed empty."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    idx = str(tmp_path / "bm25")
    tx.build_bm25_index(docs, idx)
    batch = tx.maxsim_search_many(spark, idx, tx._MAXSIM_BATCH)
    p = batch._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in p
    got = {}
    for r in batch.collect():
        got.setdefault(r["qid"], []).append(
            (r["rank"], r["doc_id"], r["maxsim"])
        )
    for qid, terms in tx._MAXSIM_BATCH:
        solo = [
            (r["rank"], r["doc_id"], r["maxsim"])
            for r in tx.maxsim_search(spark, idx, terms).collect()
        ]
        assert got[qid] == solo, qid
    assert tx.maxsim_search_many(spark, idx, ()).count() == 0
    # fail-fast on misconfiguration (the bm25_search_many contract
    # extended to MaxSim): this index has no meta, so a filtered
    # call raises instead of silently starving on an all-NULL read
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no meta column"):
        tx.maxsim_search_many(
            spark, idx, tx._MAXSIM_BATCH, filters={1: "web"}
        )


def test_filtered_rrf_batch_prefilters_both_legs(spark, sf_dir):
    """q_rrf_batch_filtered (X100): every returned doc carries its
    query's required source; post-filtering the UNFILTERED hybrid
    top-k starves on this 20-source fixture; and the bm25 leg keeps
    corpus-global idf (a surviving doc's lexical score under the
    filter equals its unfiltered score — the X97 pin, surviving
    composition into the hybrid)."""
    import hashlib
    import os
    import tempfile

    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    src = {
        int(r["doc_id"]): r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    got = tx.q_rrf_batch_filtered(spark, sf_dir).collect()
    want = {q: s for q, _, _, s in tx._RRF_BATCH_FILTERED}
    assert {r["qid"] for r in got} == set(want)
    for r in got:
        assert src[r["doc_id"]] == want[r["qid"]]
    # starvation: the unfiltered hybrid top-k post-filtered keeps < k
    # (the plain indexes come from the shared build cache — one
    # build, reused byte-identically here)
    from open_street_map_data_wrangling_spark.operators.pq import (
        ensure_ivfpq_index,
    )

    bm25_path = tx.ensure_bm25_index(docs, sf_dir)
    ivfpq_path = ensure_ivfpq_index(emb, sf_dir)
    bm25_meta = tx.ensure_bm25_index(docs, sf_dir, meta=("source",))
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin([pv for _, _, pv, _ in tx._RRF_BATCH_FILTERED])
            & F.col("embedding").isNotNull()
        ).collect()
    }
    queries = {
        q: (ts, qrows[pv], pv) for q, ts, pv, _ in tx._RRF_BATCH_FILTERED
    }
    unf = tx.rrf_search_many(
        spark, bm25_path, ivfpq_path, queries
    ).collect()
    for q, s in want.items():
        kept = [r for r in unf if r["qid"] == q and src[r["doc_id"]] == s]
        assert len(kept) < tx._RRF_TOP
    # global idf on the lexical leg: same (qid, doc) bm25 scores
    # with and without the filter
    terms = tuple((q, ts) for q, ts, _, _ in tx._RRF_BATCH_FILTERED)
    wide = {
        (r["qid"], r["doc_id"]): r["score_fp"]
        for r in tx.bm25_search_many(
            spark, bm25_meta, terms, k=10**6
        ).collect()
    }
    flt = tx.bm25_search_many(
        spark, bm25_meta, terms, k=10**6, filters=want
    ).collect()
    assert flt
    for r in flt:
        assert wide[(r["qid"], r["doc_id"])] == r["score_fp"]


def test_filtered_maxsim_batch_keeps_scores(spark, sf_dir):
    """q_maxsim_batch_filtered (X101): every returned doc carries its
    query's required source; post-filtering the unfiltered top-k
    starves; and a surviving doc's MaxSim score EQUALS its unfiltered
    score (no corpus statistics anywhere in the interaction — the
    filter can only restrict, never re-weight)."""
    import hashlib
    import os
    import tempfile

    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = {
        int(r["doc_id"]): r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    got = tx.q_maxsim_batch_filtered(spark, sf_dir).collect()
    want = {q: s for q, _, s in tx._MAXSIM_BATCH_FILTERED}
    assert {r["qid"] for r in got} == set(want)
    for r in got:
        assert src[r["doc_id"]] == want[r["qid"]]
    path = tx.ensure_bm25_index(docs, sf_dir, meta=("source",))
    queries = tuple((q, ts) for q, ts, _ in tx._MAXSIM_BATCH_FILTERED)
    unf = tx.maxsim_search_many(spark, path, queries).collect()
    for q, s in want.items():
        kept = [r for r in unf if r["qid"] == q and src[r["doc_id"]] == s]
        assert len(kept) < tx._MAXSIM_K
    wide = {
        (r["qid"], r["doc_id"]): r["maxsim"]
        for r in tx.maxsim_search_many(
            spark, path, queries, k=10**6
        ).collect()
    }
    for r in got:
        assert wide[(r["qid"], r["doc_id"])] == r["maxsim"]


def test_maxsim_served_matches_inline_and_prunes(spark, tmp_path):
    """maxsim_search (X79): serving MaxSim from the persisted posting
    index returns exactly the inline q_maxsim ranking (the posting
    table IS the distinct (doc, tok) relation), the candidate scan is
    partition-pruned on the token-hash bucket, the corpus table is
    never read, empty terms yield typed empty, and a term absent from
    the corpus contributes nothing (its max over candidates is still
    summed — pinned on a toy corpus against a pure-Python MaxSim)."""
    import hashlib

    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    idx = str(tmp_path / "bm25")
    tx.build_bm25_index(docs, idx)
    served = tx.maxsim_search(spark, idx)
    p = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in p and "bkt" in p
    assert "documents.parquet" not in p
    got = [tuple(r) for r in served.collect()]
    want = [tuple(r) for r in tx.q_maxsim(spark, sf).collect()]
    assert got == want and got
    assert tx.maxsim_search(spark, idx, ()).count() == 0

    # pure-Python twin on a toy corpus, 2 terms
    corpus = [
        (1, "merge filter alpha beta"),
        (2, "gamma delta merge"),
        (3, "unrelated words only"),
    ]
    toy = spark.createDataFrame(
        [(d, t, "en", "s") for d, t in corpus],
        "doc_id long, text string, lang string, source string",
    )
    tidx = str(tmp_path / "toy_idx")
    tx.build_bm25_index(toy, tidx)

    def vec(tok):
        h = hashlib.md5(tok.encode()).hexdigest()
        return [int(h[2 * i : 2 * i + 2], 16) - 128 for i in range(16)]

    def py_maxsim(terms):
        scores = {}
        for d, t in corpus:
            toks = set(w for w in t.split() if w)
            if not toks & set(terms):
                continue
            scores[d] = sum(
                max(
                    sum(a * b for a, b in zip(vec(q), vec(w)))
                    for w in toks
                )
                for q in terms
            )
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        return [(i + 1, d, s) for i, (d, s) in enumerate(ranked)]

    for terms in (("merge", "alpha"), ("gamma",)):
        got = [
            tuple(r) for r in tx.maxsim_search(spark, tidx, terms).collect()
        ]
        assert got == py_maxsim(terms), terms


def test_epoch_shuffle_is_seeded_permutation(spark):
    """epoch_shuffle (X81): positions are a 1..N permutation, shards
    fill to exactly shard_size (last partial), a different seed gives
    a genuinely different order (same membership), and the order is
    layout-independent — repartitioning the input changes nothing
    (the distributed rank is a pure function of seed and doc_id)."""
    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    a = po.epoch_shuffle(docs, seed="epoch0", shard_size=100).collect()
    n = len(a)
    assert sorted(r["pos"] for r in a) == list(range(1, n + 1))
    assert {r["doc_id"] for r in a} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }
    from collections import Counter

    sizes = Counter(r["shard"] for r in a)
    for s, c in sizes.items():
        assert c == 100 or (s == max(sizes) and c == n % 100 or c == 100)
    b = po.epoch_shuffle(docs, seed="epoch1", shard_size=100).collect()
    assert [r["doc_id"] for r in b] != [r["doc_id"] for r in a]
    assert {r["doc_id"] for r in b} == {r["doc_id"] for r in a}
    c = po.epoch_shuffle(
        docs.repartition(17), seed="epoch0", shard_size=100
    ).collect()
    assert [tuple(r) for r in c] == [tuple(r) for r in a]


def test_loader_batches_fill_budget_and_tile_positions(spark):
    """q_loader_batches (X82): batches tile the permutation's
    position space contiguously (batch b's last_pos + 1 = batch
    b+1's first_pos), every batch except the last carries at least
    the token budget (greedy start-assignment means the boundary doc
    overflows INTO its own batch's mass), and the batch 0 first_pos
    is 1 — consistent with q_epoch_shuffle's rank origin."""
    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po

    rows = sorted(
        (
            tuple(r)
            for r in po.q_loader_batches(
                spark, "/root/testdata/sf0.001"
            ).collect()
        ),
    )
    assert rows and rows[0][0] == 0 and rows[0][2] == 1
    for (b1, _, f1, l1, t1), (b2, _, f2, _, _) in zip(rows, rows[1:]):
        assert b2 == b1 + 1 and f2 == l1 + 1
    # the EXACT greedy-start invariant: each batch's starting token
    # offset (cumulative mass of all earlier batches) falls inside
    # its own budget window [b*B, (b+1)*B) — that is what "a doc
    # belongs to the batch its running-token start falls in" means
    B = po._LOADER_BUDGET
    cum = 0
    for b, _, _, _, toks in rows:
        assert b * B <= cum < (b + 1) * B, (b, cum)
        cum += toks


def test_loss_mask_spans_agree_with_dup_spans(spark):
    """q_loss_mask (X83): per-doc masked token mass must equal
    q_dup_spans' dup_toks EXACTLY (one coverage definition, two
    consumers), spans are disjoint maximal runs (gap >= 1 between
    consecutive spans, no overlaps), and bounds are 1-based within
    the doc's token count."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd

    sf = "/root/testdata/sf0.001"
    spans = {}
    for r in dd.q_loss_mask(spark, sf).collect():
        spans.setdefault(r["doc_id"], []).append(
            (r["span_start"], r["span_end"], r["span_toks"])
        )
    stats = {
        r["doc_id"]: (r["n_toks"], r["dup_toks"])
        for r in dd.q_dup_spans(spark, sf).collect()
    }
    assert spans  # fixture corpus has duplicated spans
    for doc, ss in spans.items():
        ss.sort()
        n_toks, dup_toks = stats[doc]
        assert sum(t for _, _, t in ss) == dup_toks
        for (s, e, t) in ss:
            assert 1 <= s <= e <= n_toks and t == e - s + 1
        for (_, e1, _), (s2, _, _) in zip(ss, ss[1:]):
            assert s2 > e1 + 1  # maximal runs: adjacent would merge
    docs_with_mask = set(spans)
    fully_clean = {d for d, (_, dup) in stats.items() if dup == 0}
    assert docs_with_mask.isdisjoint(fully_clean)
    assert docs_with_mask | fully_clean == set(stats)


def test_gif_codec_roundtrip_kwkwk_reset_and_profile_rejects():
    """encode_gif_gray / decode_gif_gray (X80): lossless LZW
    roundtrip of arbitrary patterns including the KwKwK case
    (constant runs force code == next_code), a dictionary-reset-sized
    image (> 4096 entries), 1x1 minimum, and profile rejections
    (bad signature, interlace flag, non-grayscale palette)."""
    import pytest as _pytest

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_gif_gray,
        encode_gif_gray,
    )

    # KwKwK: constant image — every step emits the just-added code
    rows = [bytes([7] * 20)] * 20
    assert decode_gif_gray(encode_gif_gray(20, 20, rows)) == (
        20, 20, 400 * 7, 400 * 49,
    )
    # 1x1 minimum
    assert decode_gif_gray(encode_gif_gray(1, 1, [bytes([255])])) == (
        1, 1, 255, 255 * 255,
    )
    # dictionary reset: 300x300 structured pattern (> 4096 entries)
    w = h = 300
    rows = [bytes((x * y + x + y) % 256 for x in range(w)) for y in range(h)]
    got = decode_gif_gray(encode_gif_gray(w, h, rows))
    assert got == (
        w, h,
        sum(sum(r) for r in rows),
        sum(v * v for r in rows for v in r),
    )
    with _pytest.raises(ValueError):
        decode_gif_gray(b"NOTGIF" + b"\x00" * 20)
    payload = bytearray(encode_gif_gray(8, 8, [bytes(range(8))] * 8))
    img = payload.find(b"\x2c")
    payload[img + 9] |= 0x40  # set interlace flag
    with _pytest.raises(ValueError):
        decode_gif_gray(bytes(payload))
    payload = bytearray(encode_gif_gray(8, 8, [bytes(range(8))] * 8))
    payload[13 + 3 * 9] = (payload[13 + 3 * 9] + 1) % 256  # break gray
    with _pytest.raises(ValueError):
        decode_gif_gray(bytes(payload))


def test_gif_codec_width_bump_boundary_roundtrip():
    """ADVICE r11 (medium): the decoder appends one more table entry
    while consuming the FINAL data code and bumps its code width when
    that entry lands exactly on index (1<<cw)-1; the encoder must
    mirror that bump before writing EOI or the decoder reads EOI one
    bit wider than written.  Exercised at every reachable bump
    boundary (next_code hits 512/1024/2048 at the final emission) via
    all-distinct-bigram ramps, plus the original 8445-px de Bruijn
    prefix repro that raised 'gif: truncated LZW stream'."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_gif_gray,
        encode_gif_gray,
    )

    def roundtrip(data: bytes) -> None:
        got = decode_gif_gray(encode_gif_gray(len(data), 1, [data]))
        assert got == (
            len(data), 1, sum(data), sum(v * v for v in data),
        )

    # ramp of n distinct-bigram pixels ends with next_code == 258+(n-1)
    for n in (254, 255, 256, 510, 511, 766, 767, 768):
        roundtrip(bytes(i % 256 for i in range(n)))
    db = bytearray()
    for a in range(256):
        for b in range(256):
            if len(db) < 8445:
                db += bytes((a, b))
    roundtrip(bytes(db[:8445]))


def test_jpeg_sos_before_dqt_raises_value_error():
    """ADVICE r11 (low): a stream with SOS before any DQT segment must
    fail the ValueError malformed-profile contract, not KeyError at
    qtables[qid].  Built by stripping the DQT segment out of a valid
    encoder output."""
    import pytest as _pytest

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    payload = bytearray(encode_jpeg_gray(8, 8, [bytes([128] * 8)] * 8))
    i = payload.find(b"\xff\xdb")  # DQT marker
    assert i >= 0
    seg_len = (payload[i + 2] << 8) | payload[i + 3]
    del payload[i : i + 2 + seg_len]
    with _pytest.raises(ValueError):
        decode_jpeg_gray(bytes(payload))


def test_jpeg_codec_roundtrip_entropy_and_profile_rejects():
    """encode_jpeg_gray / decode_jpeg_gray (X78): bit-exact roundtrip
    of block-constant images including DC-swing extremes (0/255
    blocks) and non-multiple-of-8 dimensions (replicate-pad + crop);
    the AC Huffman layer recovers arbitrary sparse coefficient blocks
    exactly (runs, ZRL, category extremes, index-63 tails); profile
    rejection for progressive SOF, missing SOI, and marker-corrupted
    entropy data."""
    import pytest as _pytest

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _jpeg_decode_tables,
        _jpeg_entropy_decode,
        _jpeg_entropy_encode,
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    # DC-swing extremes across a 2x2 block grid
    vals = {(0, 0): 0, (1, 0): 255, (0, 1): 255, (1, 1): 0}
    rows = [bytes(vals[(x // 8, y // 8)] for x in range(16)) for y in range(16)]
    got = decode_jpeg_gray(encode_jpeg_gray(16, 16, rows))
    assert got == (16, 16, 2 * 64 * 255, 2 * 64 * 255 * 255)
    # non-multiple-of-8 dims: pad is replicated, crop restores 10x12
    rows = [bytes((37 + 5 * (x // 8) + 3 * (y // 8)) % 256 for x in range(10))
            for y in range(12)]
    w, h, sp, sq = decode_jpeg_gray(encode_jpeg_gray(10, 12, rows))
    assert (w, h) == (10, 12)
    assert sp == sum(sum(r) for r in rows)
    # AC entropy layer: exact coefficient recovery with ZRL + tails
    blocks = [
        [0] * 64,
        [5] + [0] * 62 + [-7],                      # 62-zero run to k=63
        [-1016] + [3, 0, 0, -1, 0] + [0] * 58,
        [1016] + [0] * 31 + [1023] + [0] * 31,      # 31-zero run (ZRL+15)
    ]
    data = _jpeg_entropy_encode(blocks)
    out = _jpeg_entropy_decode(
        data, 0, len(blocks),
        _jpeg_decode_tables(_JPEG_DC_BITS, _JPEG_DC_VALS),
        _jpeg_decode_tables(_JPEG_AC_BITS, _JPEG_AC_VALS),
    )
    assert out == blocks
    # profile rejections
    with _pytest.raises(ValueError):
        decode_jpeg_gray(b"\x00\x00")  # no SOI
    payload = bytearray(encode_jpeg_gray(8, 8, [bytes([9] * 8)] * 8))
    sof = payload.find(b"\xff\xc0")
    payload[sof + 1] = 0xC2  # progressive SOF2
    with _pytest.raises(ValueError):
        decode_jpeg_gray(bytes(payload))


def test_wav_codec_roundtrip_and_profile_rejects():
    """encode_wav_pcm16 / decode_wav_pcm16 (X68): bit-exact roundtrip
    of int16 extremes, correct integer stats, and profile rejection
    for non-mono / non-16-bit / compressed containers."""
    import io
    import wave

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    samples = [0, 1, -1, 32767, -32768, 12345, -12345]
    payload = encode_wav_pcm16(samples, rate=8000)
    n, rate, sum_abs, sum_sq = decode_wav_pcm16(payload)
    assert n == len(samples) and rate == 8000
    assert sum_abs == sum(abs(s) for s in samples)
    assert sum_sq == sum(s * s for s in samples)
    # profile rejection: stereo container
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(b"\x00\x00\x00\x00")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav_pcm16(buf.getvalue())
    # 8-bit container
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(b"\x00\x01")
    with _pytest.raises(ValueError):
        decode_wav_pcm16(buf.getvalue())

def test_source_overlap_symmetric_detection(spark, monkeypatch):
    """q_source_overlap (X69): two sources with identical content
    score 10000 bp regardless of which ingested first (the
    order-free contrast to q_gram_novelty); disjoint pairs emit no
    row; pair keys are ordered (src_a < src_b)."""
    import open_street_map_data_wrangling_spark.operators.text as tx

    a = " ".join(f"w{i}" for i in range(10))
    b = " ".join(f"v{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, a, "en", "mirror2"), (2, a, "en", "mirror1"),
         (3, b, "en", "solo")],
        "doc_id long, text string, lang string, source string",
    )
    monkeypatch.setattr(tx, "load_table", lambda s, d, n: docs)
    rows = {(r["src_a"], r["src_b"]): r
            for r in tx.q_source_overlap(spark, "_").collect()}
    assert set(rows) == {("mirror1", "mirror2")}
    r = rows[("mirror1", "mirror2")]
    assert r["jaccard_bp"] == 10000 and r["n_inter"] == r["n_a"] == r["n_b"]


def test_image_dedup_finds_planted_twin_not_distinct(spark, sf_dir):
    """q_image_dedup (X89): the retouched twin (doc 4g+1 = doc 4g's
    image with one 4x4 block brightened) is paired at Hamming <= 2
    for EVERY group, while distinct-seed images never pair; the
    fingerprints really cross the GIF codec (a pixel-identical direct
    computation agrees — codec losslessness is load-bearing, not
    decorative)."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        _image_gray_rows,
        _IMG_HAMMING_K,
        decode_gif_gray_pixels,
        encode_gif_gray,
        q_image_dedup,
    )

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_image_dedup(spark, sf_dir).collect()
    }
    n_docs = 500  # sf0.001 documents table
    planted = {(4 * g, 4 * g + 1) for g in range(n_docs // 4)}
    assert planted <= set(pairs)  # every twin found
    assert all(pairs[p] <= 2 for p in planted)  # <= 2 by construction
    assert set(pairs) == planted  # and nothing else pairs (measured
    # property of the disjoint seed ranges at both fixture scales)
    assert max(pairs.values()) >= 1  # some twins are NEAR, not exact
    # codec is in the certified path: decoded == synthesized pixels
    rows = _image_gray_rows(7)
    w, h, px = decode_gif_gray_pixels(encode_gif_gray(36, 32, rows))
    assert (w, h) == (36, 32) and px == b"".join(rows)
    assert _IMG_HAMMING_K == 3  # 4 disjoint bands pigeonhole-cover k=3


def test_filtered_batch_search_avoids_post_filter_starvation(spark, sf_dir):
    """q_ivfpq_batch_filtered (X92): PRE-filtering (predicate pushed
    into the index scan, per-query equality on the probe table)
    returns the full k per query, while post-filtering the UNFILTERED
    top-k — the naive composition — starves: on this 10-label fixture
    an unfiltered top-5 keeps ~k/10 survivors of any one label.  Also
    pins that every returned row really carries the query's required
    label and that per-qid results are the label-restricted ADC
    ranking (subset sanity vs a larger unfiltered cut)."""
    import hashlib
    import os
    import tempfile

    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.pq import (
        _IVFPQ_BATCH_FILTERS,
        _IVFPQ_BATCH_K,
        build_ivfpq_index,
        ivfpq_search_many,
        q_ivfpq_batch_filtered,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    labels = {
        int(r["vec_id"]): int(r["label"])
        for r in emb.select("vec_id", "label").collect()
    }
    got = q_ivfpq_batch_filtered(spark, sf_dir).collect()
    per_qid = {q: [r for r in got if r["qid"] == q] for q in _IVFPQ_BATCH_FILTERS}
    for q, want_label in _IVFPQ_BATCH_FILTERS.items():
        assert len(per_qid[q]) == _IVFPQ_BATCH_K  # full k, no starvation
        assert all(labels[r["vec_id"]] == want_label for r in per_qid[q])
    # the naive composition: unfiltered top-k, then filter -> starved
    # (same label-meta index via the shared build cache)
    from open_street_map_data_wrangling_spark.operators.pq import (
        ensure_ivfpq_index,
    )

    path = ensure_ivfpq_index(emb, sf_dir, meta=("label",))
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin(list(_IVFPQ_BATCH_FILTERS))
        ).collect()
    }
    unfiltered = ivfpq_search_many(
        spark, path, qrows, k=_IVFPQ_BATCH_K
    ).collect()
    for q, want_label in _IVFPQ_BATCH_FILTERS.items():
        survivors = [
            r for r in unfiltered
            if r["qid"] == q and labels[r["vec_id"]] == want_label
        ]
        assert len(survivors) < _IVFPQ_BATCH_K  # post-filter starves
        # and pre-filter's result is exactly the label-restricted
        # ranking: its ADC distances extend the survivors' prefix
        pre_ids = [r["vec_id"] for r in per_qid[q]]
        assert [s["vec_id"] for s in survivors] == [
            v for v in pre_ids if v in {s["vec_id"] for s in survivors}
        ]


def test_filtered_bm25_batch_keeps_global_idf(spark, sf_dir):
    """q_bm25_batch_filtered (X97): every returned doc carries its
    query's required source; post-filtering the unfiltered top-k
    starves on this 20-source fixture; and — the semantics pin — a
    doc's score under the filter EQUALS its unfiltered score
    (filters restrict candidates, never re-weight idf: the Lucene
    convention, and the reason no source predicate is pushed into
    the postings scan)."""
    import hashlib
    import os
    import tempfile

    from open_street_map_data_wrangling_spark.operators.text import (
        _BM25_BATCH_FILTERED,
        _BM25_BATCH_K,
        bm25_search_many,
        q_bm25_batch_filtered,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    src = {
        int(r["doc_id"]): r["source"]
        for r in docs.select("doc_id", "source").collect()
    }
    got = q_bm25_batch_filtered(spark, sf_dir).collect()
    want = {q: s for q, _, s in _BM25_BATCH_FILTERED}
    assert {r["qid"] for r in got} == set(want)
    for r in got:
        assert src[r["doc_id"]] == want[r["qid"]]
    from open_street_map_data_wrangling_spark.operators.text import (
        ensure_bm25_index,
    )

    path = ensure_bm25_index(docs, sf_dir, meta=("source",))
    queries = tuple((q, ts) for q, ts, _ in _BM25_BATCH_FILTERED)
    # starvation: unfiltered top-k then filter keeps < k per query
    unf = bm25_search_many(spark, path, queries=queries).collect()
    for q, s in want.items():
        kept = [r for r in unf if r["qid"] == q and src[r["doc_id"]] == s]
        assert len(kept) < _BM25_BATCH_K
    # global idf: same (qid, doc) scores with and without the filter
    wide = {
        (r["qid"], r["doc_id"]): r["score_fp"]
        for r in bm25_search_many(spark, path, queries=queries, k=10**6).collect()
    }
    for r in got:
        assert wide[(r["qid"], r["doc_id"])] == r["score_fp"]


def test_audio_dedup_finds_planted_twin_not_distinct(spark, sf_dir):
    """q_audio_dedup (X99): the re-leveled twin (doc 4g+3 = doc
    4g+2's signal with one window boosted) is paired at Hamming <= 2
    for EVERY group, distinct-seed clips never pair (the odd
    wide-range coefficient fix — small even coefficients produced
    periodic energy patterns and 4 cross-doc collisions at sf0.1),
    and the fingerprints really cross the WAV codec (decoded samples
    == synthesized samples — PCM losslessness is load-bearing)."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        _audio_samples,
        _IMG_HAMMING_K,
        decode_wav_samples,
        encode_wav_pcm16,
        q_audio_dedup,
    )

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_audio_dedup(spark, sf_dir).collect()
    }
    n_docs = 500  # sf0.001 documents table
    planted = {(4 * g + 2, 4 * g + 3) for g in range(n_docs // 4)}
    assert planted <= set(pairs)  # every twin found
    assert all(pairs[p] <= 2 for p in planted)  # <= 2 by construction
    assert set(pairs) == planted  # nothing else pairs (measured at
    # both fixture scales with the odd-coefficient formula)
    assert max(pairs.values()) >= 1  # some twins are NEAR, not exact
    # codec is in the certified path: decoded == synthesized samples
    sm = _audio_samples(7)
    n, rate, out = decode_wav_samples(encode_wav_pcm16(sm))
    assert (n, rate) == (len(sm), 16_000) and list(out) == sm
    assert _IMG_HAMMING_K == 3  # shared 4-band pigeonhole covers k<=3


def test_gif_anim_codec_roundtrip_gce_and_rejects():
    """encode_gif_anim / decode_gif_anim (X103): multi-frame
    lossless roundtrip with per-frame GCE delays surviving the
    container, the NETSCAPE extension skipped, a GCE governing
    exactly one image (an 87a single-frame file decodes with delay
    0), and the strict-profile rejects."""
    import pytest

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_gif_anim,
        encode_gif_anim,
        encode_gif_gray,
    )

    frames = [
        [bytes((f * 37 + x * 7 + y * 11) % 256 for x in range(20))
         for y in range(15)]
        for f in range(5)
    ]
    delays = [3, 0, 250, 65535, 42]
    payload = encode_gif_anim(20, 15, frames, delays)
    w, h, dec = decode_gif_anim(payload)
    assert (w, h) == (20, 15)
    assert [d for d, _ in dec] == delays  # GCE delays roundtrip
    for f, (_, px) in enumerate(dec):
        assert px == b"".join(frames[f])  # LZW lossless per frame
    # a plain GIF87a single image decodes as a 1-frame, delay-0 clip
    single = encode_gif_gray(8, 8, [bytes(range(8))] * 8)
    w, h, dec = decode_gif_anim(single)
    assert (w, h, len(dec), dec[0][0]) == (8, 8, 1, 0)
    assert dec[0][1] == bytes(range(8)) * 8
    # KwKwK + table-reset stress: one frame large enough to reset
    big = [bytes((x * x * 31 + y * 17) % 256 for x in range(120))
           for y in range(80)]
    payload = encode_gif_anim(120, 80, [big, big], [1, 2])
    _, _, dec = decode_gif_anim(payload)
    assert dec[0][1] == dec[1][1] == b"".join(big)
    with pytest.raises(ValueError):
        decode_gif_anim(b"NOTGIF" + bytes(40))
    with pytest.raises(ValueError):
        encode_gif_anim(4, 4, [], [])
    # partial-frame rectangles are rejected (full-frame profile)
    import struct

    tampered = bytearray(encode_gif_anim(8, 8, [[bytes(8)] * 8], [1]))
    i = tampered.index(0x2C, 13 + 768)
    tampered[i + 5 : i + 7] = struct.pack("<H", 4)  # shrink width
    with pytest.raises(ValueError):
        decode_gif_anim(bytes(tampered))


def test_video_dedup_finds_planted_twin_not_distinct(spark, sf_dir):
    """q_video_dedup (X104): the retouched twin (doc 4g+2 = doc
    4g+1's clip with one block of frame 5 boosted) is paired at
    Hamming <= 2 for EVERY group, distinct-seed clips never pair
    (frame-varying spatial coefficients — a constant per-frame term
    would collapse all frames to one 8-bit signature and storm), and
    the signature really crosses the animation codec (decoded frames
    == synthesized frames — per-frame LZW losslessness is
    load-bearing)."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        _VID_H,
        _VID_NF,
        _VID_W,
        _video_frame_rows,
        decode_gif_anim,
        encode_gif_anim,
        q_video_dedup,
    )

    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in q_video_dedup(spark, sf_dir).collect()
    }
    n_docs = 500  # sf0.001 documents table
    planted = {(4 * g + 1, 4 * g + 2) for g in range(n_docs // 4)}
    assert planted <= set(pairs)  # every twin found
    assert all(pairs[p] <= 2 for p in planted)  # one block, <=2 bits
    assert set(pairs) == planted  # nothing else pairs (measured 0
    # false pairs / full recall at the 5000-doc sf0.1 scale too)
    # codec is in the certified path: decoded == synthesized frames
    rows = _video_frame_rows(9)
    _, _, dec = decode_gif_anim(
        encode_gif_anim(
            _VID_W, _VID_H, rows, [4 + f for f in range(_VID_NF)]
        )
    )
    assert len(dec) == _VID_NF
    for f, (delay, px) in enumerate(dec):
        assert delay == 4 + f and px == b"".join(rows[f])


def test_multimodal_dedup_merges_channels(spark, sf_dir):
    """q_multimodal_dedup (X98, FOUR channels since r13): clusters
    span evidence channels — the planted media twins (image at
    (4g, 4g+1), video at (4g+1, 4g+2), audio at (4g+2, 4g+3)) chain
    every 4-doc group into ONE family on media evidence alone, so
    three-channel media families are the norm, text edges extend
    them further, and each cluster carries at least a spanning
    tree's worth of edges."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        q_multimodal_dedup,
    )

    rows = q_multimodal_dedup(spark, sf_dir).collect()
    assert rows
    mods = {r["modality"] for r in rows}
    assert "image+audio+video" in mods  # the chained 4-doc group
    # no single-MEDIA family survives (the video edge straddles the
    # halves of every group); text-only families remain legitimate
    assert not mods & {"image", "audio", "video"}
    for r in rows:
        assert r["n_docs"] >= 2
        assert (
            r["n_text_pairs"] + r["n_image_pairs"] + r["n_audio_pairs"]
            + r["n_video_pairs"]
            >= r["n_docs"] - 1
        )
    # a pure media family is the whole 4-doc group: 1 edge/channel
    for r in rows:
        if r["modality"] == "image+audio+video":
            assert r["n_docs"] == 4
            assert (r["n_image_pairs"], r["n_audio_pairs"],
                    r["n_video_pairs"]) == (1, 1, 1)


def test_pack_sequences_tiles_exactly(spark, sf_dir):
    """q_pack_sequences (X108): the packing manifest must TILE —
    every sequence except the last carries exactly _PACK_LEN tokens,
    every document's segments reassemble the whole document in order
    (doc_off contiguous from 0 to n_tok), segments never cross a
    sequence boundary, and the epoch order matches the loader's
    (same shared prefix machinery)."""
    from collections import defaultdict

    from open_street_map_data_wrangling_spark.operators.pipeline_ops import (
        _PACK_LEN,
        q_pack_sequences,
    )

    rows = q_pack_sequences(spark, sf_dir).collect()
    assert rows
    per_seq = defaultdict(int)
    per_doc = defaultdict(list)
    for r in rows:
        assert 0 <= r["seq_off"] < _PACK_LEN
        assert r["seq_off"] + r["n_tok_seg"] <= _PACK_LEN
        assert r["n_tok_seg"] >= 1
        per_seq[r["seq_id"]] += r["n_tok_seg"]
        per_doc[r["doc_id"]].append((r["doc_off"], r["n_tok_seg"]))
    last = max(per_seq)
    for sid, toks in per_seq.items():
        assert toks == _PACK_LEN or sid == last
    for doc, segs in per_doc.items():
        segs.sort()
        assert segs[0][0] == 0  # starts at the doc's first token
        for (o1, n1), (o2, _) in zip(segs, segs[1:]):
            assert o1 + n1 == o2  # contiguous, no gap, no overlap


def test_contamination_radius_is_min_distance(spark, sf_dir):
    """q_contamination_radius (X109): frontier BFS must equal the
    true min hop distance — recomputed here with a driver-side BFS
    over the collected near-dup edges (fixture-sized) — and stop at
    the hop bound."""
    from collections import deque

    from open_street_map_data_wrangling_spark.operators.dedup import (
        _RADIUS_HOPS,
        q_contamination_radius,
        q_dedup_near,
    )

    got = {
        r["doc_id"]: r["hops"]
        for r in q_contamination_radius(spark, sf_dir).collect()
    }
    adj = {}
    for r in q_dedup_near(spark, sf_dir).collect():
        adj.setdefault(r["doc_a"], set()).add(r["doc_b"])
        adj.setdefault(r["doc_b"], set()).add(r["doc_a"])
    seeds = [d for d in range(0, 500, 97)]
    dist = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        n = dq.popleft()
        if dist[n] >= _RADIUS_HOPS:
            continue
        for m in adj.get(n, ()):
            if m not in dist:
                dist[m] = dist[n] + 1
                dq.append(m)
    assert got == dist
    assert set(seeds) <= set(got)
    assert max(got.values()) <= _RADIUS_HOPS
    assert any(h > 0 for h in got.values())  # radius really spreads


def test_real_resize_and_frame_sample_transcodes():
    """resize_gif_gray / sample_gif_frames (X113/X114): the real
    transform plumbing — thumbnail pixels are exactly the source's
    even-coordinate pixels (ceil dims keep 1-px edges), sampled
    frames survive the standalone re-encode bit-exactly with their
    GCE delays, and odd frame counts sample the right indices."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        decode_gif_gray_pixels,
        encode_gif_anim,
        encode_gif_gray,
        resize_gif_gray,
        sample_gif_frames,
    )

    rows = [bytes((x * 7 + y * 13) % 256 for x in range(11))
            for y in range(7)]
    thumb = resize_gif_gray(encode_gif_gray(11, 7, rows))
    tw, th, px = decode_gif_gray_pixels(thumb)
    assert (tw, th) == (6, 4)  # ceil(11/2), ceil(7/2)
    for j in range(th):
        for i in range(tw):
            assert px[j * tw + i] == rows[2 * j][2 * i]
    frames = [
        [bytes((f * 31 + x + y) % 256 for x in range(5))
         for y in range(4)]
        for f in range(5)
    ]
    clip = encode_gif_anim(5, 4, frames, [7, 8, 9, 10, 11])
    sampled = sample_gif_frames(clip, 2)
    assert [(fi, d) for fi, d, _ in sampled] == [(0, 7), (2, 9), (4, 11)]
    for fi, _, payload in sampled:
        w, h, px = decode_gif_gray_pixels(payload)
        assert (w, h) == (5, 4) and px == b"".join(frames[fi])


def test_matryoshka_recall_baseline_and_bounds(spark):
    """q_matryoshka_recall (X118): the full-width row IS the baseline
    (hits == 10, recall == 1.0); every truncated width reports
    0 <= hits <= 10; all configured widths appear exactly once; and
    the width-32 top-10 recomputed directly in Python from the same
    integer quantization matches the reported hit count."""
    from open_street_map_data_wrangling_spark.operators.similarity import (
        _MRL_Q,
        _MRL_QUERY_ID,
        _MRL_WIDTHS,
        q_matryoshka_recall,
    )
    from open_street_map_data_wrangling_spark.operators.pq import _half_up

    sf = "/root/testdata/sf0.001"
    rows = {r["width"]: r for r in q_matryoshka_recall(spark, sf).collect()}
    assert set(rows) == set(_MRL_WIDTHS)
    full = rows[_MRL_WIDTHS[0]]
    assert full["hits"] == 10 and full["recall_at_10"] == 1.0
    for w in _MRL_WIDTHS[1:]:
        assert 0 <= rows[w]["hits"] <= 10

    emb = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(f"{sf}/embeddings.parquet")
        .filter("embedding IS NOT NULL")
        .collect()
    }
    probe = emb[_MRL_QUERY_ID]
    pq = [_half_up(x * _MRL_Q) for x in probe]

    def top10(w):
        scored = []
        for vid, v in emb.items():
            if vid == _MRL_QUERY_ID:
                continue
            s = sum(
                _half_up(v[i] * _MRL_Q) * pq[i] for i in range(w)
            )
            scored.append((-s, vid))
        return {vid for _, vid in sorted(scored)[:10]}

    base = top10(_MRL_WIDTHS[0])
    got32 = len(top10(32) & base)
    assert rows[32]["hits"] == got32


def test_vocab_coverage_monotone_and_exact(spark):
    """q_vocab_coverage (X119): coverage is non-decreasing in N,
    n_tokens_in_vocab == min(N, |vocab|), and the N=10 coverage
    equals a direct Python recount at sf0.001."""
    from collections import Counter

    from open_street_map_data_wrangling_spark.operators.text import (
        q_vocab_coverage,
    )

    sf = "/root/testdata/sf0.001"
    rows = sorted(
        (tuple(r) for r in q_vocab_coverage(spark, sf).collect())
    )
    assert [r[0] for r in rows] == [10, 100, 1000]
    covs = [r[2] for r in rows]
    assert covs == sorted(covs)
    assert all(0 <= c <= 10000 for c in covs)

    cnt = Counter()
    for r in (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("text")
        .collect()
    ):
        for t in r["text"].split(" "):
            if t:
                cnt[t] += 1
    total = sum(cnt.values())
    ordered = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    for n, nv, bp in rows:
        assert nv == min(n, len(ordered))
        want = sum(c for _, c in ordered[:n]) * 10000 // total
        assert bp == want, (n, bp, want)


def test_dedup_weighting_mass_and_singletons(spark):
    """q_dedup_weighting (X121): every duplicate-family member
    carries weight 10000 // |family| bp, singletons carry exactly
    10000, family members agree on (cluster_id, family_size), and
    the family sizes match the clustering q_dedup_clusters reports."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        q_dedup_clusters,
        q_dedup_weighting,
    )

    sf = "/root/testdata/sf0.001"
    rows = q_dedup_weighting(spark, sf).collect()
    n_docs = (
        spark.read.parquet(f"{sf}/documents.parquet").count()
    )
    assert len(rows) == n_docs
    by_cluster = {}
    for r in rows:
        assert r["weight_bp"] == 10000 // r["family_size"]
        if r["family_size"] == 1:
            assert r["weight_bp"] == 10000
            assert r["cluster_id"] == r["doc_id"]
        else:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        assert len(members) == members[0]["family_size"]
        assert len({m["family_size"] for m in members}) == 1
    clusters = {}
    for r in q_dedup_clusters(spark, sf).collect():
        clusters.setdefault(r["cluster_id"], 0)
        clusters[r["cluster_id"]] += 1
    multi = {c: n for c, n in clusters.items() if n > 1}
    assert {c: len(m) for c, m in by_cluster.items()} == multi


def test_pii_audit_validators_match_python_ground_truth(spark):
    """q_pii_audit (X122): the engine's Luhn and IPv4-octet validators
    must agree with a pure-Python re-implementation run over the SAME
    deterministic injection — per-source and per-type, exactly."""
    import re

    from open_street_map_data_wrangling_spark.operators.pipeline_ops import (
        _PII_CARD,
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
        q_pii_audit,
    )

    sf = "/root/testdata/sf0.01"

    def luhn_ok(c: str) -> bool:
        tot = 0
        for i, ch in enumerate(c, start=1):
            d = int(ch)
            if i % 2 == 1:
                d *= 2
                if d > 9:
                    d -= 9
            tot += d
        return tot % 10 == 0

    def ip_ok(c: str) -> bool:
        return all(int(p) <= 255 for p in c.split("."))

    expected: dict = {}
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    for r in docs:
        t, did = r["text"], r["doc_id"]
        if did % 7 == 0:
            t += f" contact user{did}@example.com"
        if did % 11 == 0:
            t += f" call 415-555-{did % 10000:04d}"
        if did % 13 == 0:
            t += f" ip 10.{did % 256}.{(did // 256) % 256}.{did % 300}"
        if did % 17 == 0:
            t += (
                f" card {(did * 2654435761) % 10**15:015d}" f"{did % 10}"
            )
        e = expected.setdefault(
            r["source"],
            {"n_docs": 0, "emails": 0, "phones": 0, "ips_found": 0,
             "ips_valid": 0, "cards_found": 0, "cards_valid": 0,
             "docs_with_pii": 0},
        )
        e["n_docs"] += 1
        em = len(re.findall(_PII_EMAIL, t))
        ph = len(re.findall(_PII_PHONE, t))
        ips = re.findall(_PII_IP, t)
        cards = re.findall(_PII_CARD, t)
        iv = sum(ip_ok(c) for c in ips)
        cv = sum(luhn_ok(c) for c in cards)
        e["emails"] += em
        e["phones"] += ph
        e["ips_found"] += len(ips)
        e["ips_valid"] += iv
        e["cards_found"] += len(cards)
        e["cards_valid"] += cv
        e["docs_with_pii"] += 1 if em + ph + iv + cv > 0 else 0

    got = {
        r["source"]: {k: r[k] for k in next(iter(expected.values()))}
        for r in q_pii_audit(spark, sf).collect()
    }
    assert got == expected
    # the validators must actually reject something, or the test is
    # vacuous: the injection plants out-of-range octets and ~90%
    # Luhn-failing check digits by construction
    assert sum(e["ips_found"] for e in expected.values()) > sum(
        e["ips_valid"] for e in expected.values()
    )
    assert sum(e["cards_found"] for e in expected.values()) > sum(
        e["cards_valid"] for e in expected.values()
    )


def test_ann_range_subset_of_bruteforce_ball(spark):
    """q_ann_range (X123): every returned match must lie inside the
    brute-force epsilon ball (IVF pruning can only LOSE matches,
    never invent one), carry the exact cosine, and come from a probed
    cell; recall over the full ball is reported non-zero."""
    import math

    from open_street_map_data_wrangling_spark.operators.similarity import (
        _RANGE_NPROBE,
        _RANGE_QIDS,
        _RANGE_TAU,
        _collect_ivf_literals,
        _rank_cells_py,
        q_ann_range,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    sf = "/root/testdata/sf0.01"
    emb = {
        r["vec_id"]: list(r["embedding"])
        for r in load_table(spark, sf, "embeddings").collect()
    }

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        return dot / (
            math.sqrt(sum(x * x for x in a))
            * math.sqrt(sum(y * y for y in b))
        )

    cents, _ = _collect_ivf_literals(
        load_table(spark, sf, "embeddings"), _RANGE_QIDS[0]
    )
    cell = {
        vid: _rank_cells_py(cents, v)[0] for vid, v in emb.items()
    }
    got = q_ann_range(spark, sf).collect()
    assert got, "fixture ball is non-empty by construction"
    ball = {
        qid: {
            vid
            for vid, v in emb.items()
            if vid != qid and cos(emb[qid], v) >= _RANGE_TAU
        }
        for qid in _RANGE_QIDS
    }
    for r in got:
        assert r["vec_id"] in ball[r["q_id"]]
        assert abs(r["cos_sim"] - round(cos(emb[r["q_id"]], emb[r["vec_id"]]), 4)) < 1e-9
        probes = _rank_cells_py(cents, emb[r["q_id"]])[:_RANGE_NPROBE]
        assert cell[r["vec_id"]] in probes
    # the probe prune keeps a meaningful fraction of the ball
    n_got = len(got)
    n_ball = sum(len(b) for b in ball.values())
    assert 0 < n_got <= n_ball


def test_source_quota_gate_cutoff_and_python_replay(spark):
    """q_source_quota_gate (X126): the three-wave stateful gate must
    equal a sequential greedy replay in arrival order, the quota must
    actually bind (some source rejects), and no source's admitted
    tokens may exceed quota + its boundary doc."""
    from open_street_map_data_wrangling_spark.operators.pipeline_ops import (
        _QUOTA_TOKENS,
        _QUOTA_WAVES,
        q_source_quota_gate,
    )

    sf = "/root/testdata/sf0.01"
    docs = sorted(
        (
            (r["doc_id"] % _QUOTA_WAVES, r["doc_id"], r["source"],
             len(r["text"].split(" ")))
            for r in spark.read.parquet(f"{sf}/documents.parquet").collect()
        )
    )
    state: dict = {}
    expect: dict = {}
    for wave, _did, src, toks in docs:
        cum = state.get(src, 0)
        adm = cum < _QUOTA_TOKENS
        if adm:
            state[src] = cum + toks
        e = expect.setdefault(
            (wave, src), {"n_admitted": 0, "n_rejected": 0, "wt": 0}
        )
        e["n_admitted" if adm else "n_rejected"] += 1
        e["wt"] += toks if adm else 0
    cumt: dict = {}
    rows = q_source_quota_gate(spark, sf).collect()
    assert len(rows) == len(expect)
    for r in sorted(rows, key=lambda r: (r["wave"], r["source"])):
        e = expect[(r["wave"], r["source"])]
        cumt[r["source"]] = cumt.get(r["source"], 0) + e["wt"]
        assert (r["n_admitted"], r["n_rejected"]) == (
            e["n_admitted"], e["n_rejected"],
        ), (r["wave"], r["source"])
        assert r["toks_admitted_cum"] == cumt[r["source"]]
    assert any(r["n_rejected"] > 0 for r in rows), "quota never bound"
    assert any(r["n_admitted"] > 0 for r in rows)


def test_gini_matches_textbook_formula(spark, tmp_path):
    """q_gini against the O(n log n) textbook computation (sort
    counts ascending, G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx)) on a
    hand-built events table, plus the two boundary shapes: uniform
    contribution → 0 bp, and near-total single-user ownership →
    high bp."""
    import pyspark.sql.functions as F

    from open_street_map_data_wrangling_spark.plans.registry import (
        load_all_queries,
    )

    q = load_all_queries()["q_gini"]

    def run(counts):
        rows = [
            (u, i) for u, c in enumerate(counts) for i in range(c)
        ]
        sf = tmp_path / f"gini_{len(counts)}_{sum(counts)}"
        sf.mkdir()
        spark.createDataFrame(
            [(u, e) for u, e in rows], "user_id LONG, event_id LONG"
        ).write.parquet(str(sf / "events.parquet"))
        return {r["n_users"]: r for r in q.spark(spark, str(sf)).collect()}

    def textbook(counts):
        xs = sorted(counts)
        n, t = len(xs), sum(xs)
        s = sum((i + 1) * x for i, x in enumerate(xs))
        return (10000 * (2 * s - (n + 1) * t)) // (n * t)

    zipfish = [1, 1, 1, 2, 2, 3, 5, 8, 20, 57]
    out = run(zipfish)[len(zipfish)]
    assert out["n_events"] == sum(zipfish)
    assert out["gini_bp"] == textbook(zipfish)

    uniform = [7] * 12
    assert run(uniform)[12]["gini_bp"] == 0 == textbook(uniform)

    hog = [1] * 9 + [991]
    assert run(hog)[10]["gini_bp"] == textbook(hog) > 8000


def test_jpeg_entropy_bulk_reader_randomized_roundtrip():
    """r17 (VERDICT item 5): the bulk 16-bit-peek entropy decoder must
    invert _jpeg_entropy_encode exactly on randomized sparse blocks —
    DC swings to category extremes, AC runs incl. ZRL chains and
    index-63 tails, and plenty of stuffed-0xFF bytes — and reject
    truncated / marker-corrupted segments like the per-bit reader
    did."""
    import random

    import pytest as _pytest

    from open_street_map_data_wrangling_spark.operators.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _jpeg_decode_tables,
        _jpeg_entropy_decode,
        _jpeg_entropy_encode,
    )

    dc = _jpeg_decode_tables(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac = _jpeg_decode_tables(_JPEG_AC_BITS, _JPEG_AC_VALS)
    rng = random.Random(20260818)
    for _ in range(150):
        blocks = []
        for _b in range(rng.randint(1, 10)):
            blk = [0] * 64
            blk[0] = rng.randint(-1016, 1016)
            for _c in range(rng.randint(0, 20)):
                blk[rng.randint(1, 63)] = rng.randint(-1023, 1023)
            blocks.append(blk)
        data = _jpeg_entropy_encode(blocks)
        assert _jpeg_entropy_decode(data, 0, len(blocks), dc, ac) == blocks
    # truncated segment: demand one block more than was encoded
    with _pytest.raises(ValueError):
        _jpeg_entropy_decode(data, 0, len(blocks) + 1, dc, ac)
    # marker mid-segment ends the entropy data early
    cut = data[: max(1, len(data) // 2)] + b"\xff\xd9" + b"\x00" * 8
    with _pytest.raises(ValueError):
        _jpeg_entropy_decode(cut, 0, len(blocks) + 1, dc, ac)
    # the shared cached LUT is read-only: accidental mutation raises
    with _pytest.raises(ValueError):
        dc[0] = 1
