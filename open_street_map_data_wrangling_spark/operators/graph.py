"""Iterative graph analytics over the near-duplicate candidate graph.

The dedup family ends at connected components (q_dedup_clusters);
this module adds numeric iteration on the same graph: PageRank over
the LSH candidate pairs, ranking the documents that sit at the
CENTER of template families (a doc near-duplicating many other docs
scores high — exactly the boilerplate/template hubs a curation pass
wants to inspect first, where raw degree over-counts chains).

Same honesty class as q_semantic_dedup: fixed-iteration numeric
recurrences have no SQL twin, so the registry entry is rows-only and
the bit-exactness claim is carried by a pure-Python replay pytest
(tests/test_graph.py) — integer fixed-point arithmetic everywhere
(scale 1e12, truncating ``div``), so the result is a pure function
of the input with no float summation-order ambiguity AT ALL: any
partitioning, any executor count, same bits.

Iteration discipline is connected_components' (dedup.py): the edge
list with degrees is localCheckpoint'd ONCE and the rounds run
through scale.spark_rounds, which cuts each rank generation so the
plan never grows with the iteration count; rounds are fixed (T=6) rather than convergence-tested — at 100 TB
a fixed budget is the difference between a predictable nightly job
and an unbounded one, and power-iteration error decays geometrically
(0.85^6 ≈ 0.38 of initial error, plenty to separate hubs from chain
members at the x1e12 scale we report).

PageRank has a second, driver-side path: a pair list of at most
scale.DRIVER_SOLVE_BOUND rows is collected once and the same integer
recurrence runs in Python, since a graph of a few dozen edges would
otherwise pay Spark's physical planning on every round.  The Spark
round loop stays as the only path for graphs too large to collect.
The other fixpoints here (label propagation, k-core) and connected
components have only the Spark loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..plans.registry import query
from .dedup import _PAIRS_CTE, near_pairs_cached

_PR_SCALE = 10**12
_PR_ITERS = 6
_PR_TOP = 20


def _pr_oracle() -> str:
    """DuckDB twin of pagerank_fixed: the recurrence is a FIXED
    number of integer iterations, so it unrolls exactly into
    _PR_ITERS chained CTE pairs (inc_t, p_t).  Every quantity is
    BIGINT and DuckDB's ``//`` truncates toward zero exactly like
    Spark's ``div`` (verified on negatives; all values here are
    positive anyway), so the twin is bit-exact, not approximate —
    the same argument tests/test_graph.py's pure-Python replay
    makes, now enforced by the driver's hash every round."""
    # Every p{{t}} is referenced twice (inc_{{t+1}} and p_{{t+1}}), so
    # DuckDB's default CTE INLINING would double the plan per round —
    # 2^6 copies of the whole shingle→minhash→band pipeline.  AS
    # MATERIALIZED pins each generation to one evaluation, which is
    # also exactly what pagerank_fixed's per-round localCheckpoint
    # does on the Spark side.
    iters = []
    for t in range(_PR_ITERS):
        iters.append(f"""
        inc{t + 1} AS MATERIALIZED (
            SELECT e.dst AS doc_id, CAST(sum(p.pr // e.deg) AS BIGINT) AS inc
            FROM edeg e JOIN p{t} p ON p.doc_id = e.src
            GROUP BY e.dst),
        p{t + 1} AS MATERIALIZED (
            SELECT p.doc_id, p.base,
                   CAST((15 * p.base + 85 * coalesce(i.inc, 0)) // 100 AS BIGINT) AS pr
            FROM p{t} p LEFT JOIN inc{t + 1} i USING (doc_id))""")
    chain = ",".join(iters)
    return f"""
        WITH {_PAIRS_CTE},
        edges AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION
            SELECT pb AS src, pa AS dst FROM pairs),
        deg AS MATERIALIZED (
            SELECT src, CAST(count(*) AS BIGINT) AS deg
            FROM edges GROUP BY src),
        edeg AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)),
        nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM deg),
        p0 AS MATERIALIZED (
            SELECT d.src AS doc_id,
                   CAST({_PR_SCALE} // nn.n AS BIGINT) AS base,
                   CAST({_PR_SCALE} // nn.n AS BIGINT) AS pr
            FROM deg d, nn),{chain}
        SELECT CAST(row_number() OVER (ORDER BY pr DESC, doc_id ASC) AS INT) AS rank,
               doc_id, pr AS pr_x1e12
        FROM p{_PR_ITERS}
        ORDER BY pr DESC, doc_id ASC
        LIMIT {_PR_TOP}
    """


def _pagerank_local(
    pairs: list[tuple[int, int]], iters: int
) -> list[tuple[int, int]]:
    """pagerank_fixed's recurrence on the driver, over the collected
    pairs: the same undirected, de-duplicated edge set and degree
    table the Spark plan builds, then ``iters`` rounds of the
    documented integer formula (all values positive, so ``//`` is
    Spark's truncating ``div``).  Returns (doc_id, pr) rows; no pairs
    gives no rows."""
    edges = {(a, b) for a, b in pairs} | {(b, a) for a, b in pairs}
    deg: dict[int, int] = {}
    for src, _ in edges:
        deg[src] = deg.get(src, 0) + 1
    if not deg:
        return []
    base = _PR_SCALE // len(deg)
    pr = dict.fromkeys(deg, base)
    for _ in range(iters):
        inc = dict.fromkeys(deg, 0)
        for src, dst in edges:
            inc[dst] += pr[src] // deg[src]
        pr = {v: (15 * base + 85 * inc[v]) // 100 for v in deg}
    return list(pr.items())


def pagerank_fixed(pairs: DataFrame, iters: int = _PR_ITERS) -> DataFrame:
    """Integer fixed-point PageRank (damping 0.85 as 85/100) over an
    undirected pair list: returns (doc_id, pr) for every node in the
    pair graph, pr scaled by 1e12.

    Recurrence (all BIGINT, ``div`` truncates toward zero):
      base    = SCALE div N
      p0[i]   = base
      inc[i]  = Σ_{j ~ i} (p[j] div deg[j])
      p'[i]   = (15 * base + 85 * inc[i]) div 100

    Every quantity is a positive integer, so the sum is exact and
    order-free — the replay test can assert bit equality instead of
    tolerance.  Per iteration: one join of the degree-annotated edge
    list with the (N-row) rank table on src + one groupBy dst.

    The Spark path partitions+sorts the edge list by the join key
    ONCE (AQE sizes that exchange; the checkpoint preserves both), and
    runs the rounds through scale.spark_rounds at that width: the
    fixed chain runs as stages of the caller's single action, with a
    lazy cut per round keeping the plan flat.

    Path choice (scale.collect_if_small, one probe of ``pairs`` — pass
    a plain scan or a materialized relation): at most
    DRIVER_SOLVE_BOUND pairs are collected once and the recurrence
    runs on the driver (_pagerank_local), returned as an Arrow local
    frame, because a few-dozen-edge graph otherwise pays physical
    planning for every lazy round checkpoint.  Above the bound the
    Spark loop below runs: it is the only path for 100 TB-scale
    graphs.
    """
    from .scale import collect_if_small, local_frame, spark_rounds

    small = collect_if_small(pairs, "pagerank pairs")
    if small is not None:
        id_type = pairs.schema["doc_a"].dataType.simpleString()
        return local_frame(
            pairs.sparkSession,
            _pagerank_local([(r["doc_a"], r["doc_b"]) for r in small], iters),
            f"doc_id {id_type}, pr bigint",
        )

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("deg"))
    edges_deg = (
        edges.join(deg, "src")
        .repartition("src")
        .sortWithinPartitions("src")
        .localCheckpoint()
    )
    nodes = deg.select(F.col("src").alias("doc_id")).localCheckpoint()
    # bounded scalar: N is one number — the 1-row broadcast crossJoin
    # convention (never a collect in the lazy path)
    n_row = nodes.agg(F.count("*").cast("bigint").alias("__n"))
    p0 = (
        nodes.crossJoin(F.broadcast(n_row))
        .selectExpr("doc_id", f"CAST({_PR_SCALE} AS BIGINT) div __n AS base")
        .selectExpr("doc_id", "base", "base AS pr")
    )

    def step(p):
        inc = (
            edges_deg.join(p.select(F.col("doc_id").alias("src"), "pr"), "src")
            .selectExpr("dst AS doc_id", "pr div deg AS share")
            .groupBy("doc_id")
            .agg(F.sum("share").cast("bigint").alias("inc"))
        )
        return (
            p.select("doc_id", "base")
            .join(inc, "doc_id", "left")
            .selectExpr(
                "doc_id",
                "base",
                "CAST((15 * base + 85 * coalesce(inc, 0)) div 100 AS BIGINT) AS pr",
            )
        )

    p, _ = spark_rounds(
        p0, step, width_of=edges_deg, max_rounds=iters, what="pagerank"
    )
    return p.select("doc_id", "pr")


@query("q_pagerank", oracle=_pr_oracle(), tags=("graph", "iterative", "extension"))
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PageRank hubs of the near-dup candidate graph — the
    template/boilerplate centers of the corpus, ranked by where the
    random surfer of "is a near-duplicate of" concentrates.  Pair
    input is q_dedup_near (oracle-verified separately); the FIXED
    6-round integer recurrence unrolls into 6 chained CTE pairs in
    the DuckDB oracle (_pr_oracle), so the driver hash-checks the
    whole iteration, upgrading the bit-exact pure-Python replay in
    tests/test_graph.py from the only check to a second opinion.
    Deterministic tiebreak (pr DESC, doc_id ASC) and integer ranks
    make the output stable across any cluster layout."""
    pr = pagerank_fixed(near_pairs_cached(spark, sf_dir))
    top = (
        pr.orderBy(F.desc("pr"), F.asc("doc_id"))
        .limit(_PR_TOP)
        .withColumn(
            "rank",
            F.row_number().over(W.orderBy(F.desc("pr"), F.asc("doc_id"))),
        )
    )
    return top.select("rank", "doc_id", F.col("pr").alias("pr_x1e12"))


# ---------------------------------------------------------------------------
# Triangle counting (degree-ordered orientation)

_TRI_TOP = 20


def triangle_participation(pairs: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected, deduplicated
    (doc_a < doc_b) edge list — returns (doc_id, n_triangles) for
    every node that closes at least one triangle.

    The scale shape is the classic degree-ordered orientation
    (node-iterator++ / MGT): orient every edge from its
    lower-(degree, id) endpoint to its higher one, build wedges only
    between ordered out-neighbor pairs of a shared source, and close
    them against the oriented edge list.  Orientation bounds every
    out-degree by O(sqrt(m)), so the wedge relation — the only
    intermediate that can blow up — is O(m^1.5) worst case instead
    of Σ deg² (a single celebrity hub with 1e6 neighbors would
    otherwise emit 5e11 wedges; oriented, it emits none, because a
    max-degree node is never a wedge source).  Both joins are
    equi-joins on node id (src, then (y, z)), so they co-locate on
    the same hash partitioning; the oriented edge list is
    checkpointed once and reused by all three roles (e1, e2,
    closure) rather than recompiling its upstream pipeline per
    consumer — same diamond-cut discipline as pagerank_fixed.
    Each triangle {x ≺ y ≺ z} is produced exactly once (as wedge
    (y, z) from x closed by the oriented edge y→z), so the member
    union counts every node's participation exactly."""
    e = pairs.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    ).localCheckpoint(eager=False)
    deg = (
        e.select(F.col("a").alias("n"))
        .unionByName(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("n").alias("a"), F.col("deg").alias("da")), "a"
    ).join(deg.select(F.col("n").alias("b"), F.col("deg").alias("db")), "b")
    # strict total order ≺ = (deg, id) lexicographic — ids are unique,
    # so ties in degree never tie overall
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddst"),
    ).localCheckpoint(eager=False)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    dst_lt = (F.col("e1.ddst") < F.col("e2.ddst")) | (
        (F.col("e1.ddst") == F.col("e2.ddst"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    wedges = e1.join(
        e2, (F.col("e1.src") == F.col("e2.src")) & dst_lt
    ).select(
        F.col("e1.src").alias("x"),
        F.col("e1.dst").alias("y"),
        F.col("e2.dst").alias("z"),
    )
    closure = oriented.select(
        F.col("src").alias("y"), F.col("dst").alias("z")
    )
    tri = wedges.join(closure, ["y", "z"])
    members = (
        tri.select(F.col("x").alias("doc_id"))
        .unionByName(tri.select(F.col("y").alias("doc_id")))
        .unionByName(tri.select(F.col("z").alias("doc_id")))
    )
    return members.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_triangles")
    )


def _tri_oracle() -> str:
    """DuckDB twin counts the SAME triangle set via the naive
    id-ordered enumeration (pa < pb already holds in the pairs CTE,
    so x < y < z picks each triangle once): edges (x,y), (x,z) with
    y < z, closed by (y,z).  Orientation choice — degree order on
    the Spark side, id order here — cannot change which triangles
    exist or who participates, so the per-doc counts hash-match
    bit-for-bit; fine at fixture scale, while the Spark side keeps
    the O(m^1.5) wedge bound the oracle form lacks."""
    return f"""
        WITH {_PAIRS_CTE},
        tri AS MATERIALIZED (
            SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
            FROM pairs e1
            JOIN pairs e2 ON e2.pa = e1.pa AND e1.pb < e2.pb
            JOIN pairs e3 ON e3.pa = e1.pb AND e3.pb = e2.pb),
        members AS (
            SELECT x AS doc_id FROM tri
            UNION ALL SELECT y FROM tri
            UNION ALL SELECT z FROM tri),
        cnt AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
            FROM members GROUP BY doc_id)
        SELECT CAST(row_number() OVER (
                   ORDER BY n_triangles DESC, doc_id ASC) AS INT) AS rank,
               doc_id, n_triangles
        FROM cnt
        ORDER BY n_triangles DESC, doc_id ASC
        LIMIT {_TRI_TOP}
    """


@query("q_triangle_count", oracle=_tri_oracle(), tags=("graph", "join", "extension"))
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by triangle participation in the near-dup
    candidate graph.  Where PageRank surfaces template HUBS and
    connected components give reachability clusters, triangle density
    separates genuinely cohesive near-dup families (every member
    similar to every other — safe to keep one representative) from
    star/chain artifacts of LSH banding (hub matches many docs that
    do not match each other — a rep-per-component dedup would
    over-delete there).  Deterministic output: (n_triangles DESC,
    doc_id ASC) tiebreak, integer ranks; the final window runs over
    the 20-row limited set only."""
    cnt = triangle_participation(near_pairs_cached(spark, sf_dir))
    top = (
        cnt.orderBy(F.desc("n_triangles"), F.asc("doc_id"))
        .limit(_TRI_TOP)
        .withColumn(
            "rank",
            F.row_number()
            .over(W.orderBy(F.desc("n_triangles"), F.asc("doc_id")))
            .cast("int"),
        )
    )
    return top.select("rank", "doc_id", "n_triangles")


# ---------------------------------------------------------------------------
# Label propagation communities (synchronous, fixed rounds)

_LP_ITERS = 4


def _lp_oracle() -> str:
    """DuckDB twin of label_propagation_fixed: the update rule is a
    FIXED number of synchronous rounds, so — exactly like _pr_oracle —
    it unrolls into _LP_ITERS chained MATERIALIZED CTE pairs
    (cnt_t, l_t).  The argmax is a deterministic window row_number
    with the (count DESC, label ASC) tiebreak both engines share, so
    the twin is bit-exact."""
    iters = []
    for t in range(_LP_ITERS):
        iters.append(f"""
        cnt{t + 1} AS MATERIALIZED (
            SELECT e.dst AS doc_id, l.lab, CAST(count(*) AS BIGINT) AS c
            FROM edges e JOIN l{t} l ON l.doc_id = e.src
            GROUP BY e.dst, l.lab),
        pick{t + 1} AS MATERIALIZED (
            SELECT doc_id, lab FROM (
                SELECT doc_id, lab,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, lab ASC) AS rn
                FROM cnt{t + 1})
            WHERE rn = 1),
        l{t + 1} AS MATERIALIZED (
            SELECT l.doc_id, coalesce(p.lab, l.lab) AS lab
            FROM l{t} l LEFT JOIN pick{t + 1} p USING (doc_id))""")
    chain = ",".join(iters)
    return f"""
        WITH {_PAIRS_CTE},
        edges AS MATERIALIZED (
            SELECT pa AS src, pb AS dst FROM pairs
            UNION
            SELECT pb AS src, pa AS dst FROM pairs),
        l0 AS MATERIALIZED (
            SELECT DISTINCT src AS doc_id, src AS lab FROM edges),{chain}
        SELECT lab AS community,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(min(doc_id) AS BIGINT) AS min_doc,
               CAST(max(doc_id) AS BIGINT) AS max_doc
        FROM l{_LP_ITERS}
        GROUP BY lab
    """


def label_propagation_fixed(pairs: DataFrame, iters: int = _LP_ITERS) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007, made
    deterministic) over an undirected pair list: returns
    (doc_id, lab) after a FIXED number of rounds.

    Update rule per round, for every node with >= 1 neighbor:
      new_lab = argmax over neighbor labels of (count DESC, lab ASC)

    The classic algorithm breaks count ties randomly and sweeps nodes
    in random order; both choices are replaced with deterministic
    ones (label ASC tiebreak, fully synchronous update), so the
    result is a pure function of the edge list — the same
    partitioning-invariance contract every other iterative op here
    carries.  Fixed rounds rather than convergence (same argument as
    pagerank_fixed): a bounded nightly job, and 4 synchronous rounds
    propagate labels across diameter-4 neighborhoods, plenty to
    separate dense template families from LSH chain artifacts.

    Where connected components (q_dedup_clusters) answers
    reachability and triangle counts (q_triangle_count) score local
    cohesion, label propagation finds DENSITY communities: a chain
    A-B-C-D collapses into one component but propagation keeps
    distant labels alive, splitting weakly-bridged families.

    Scale shape per round: one equi-join of the edge list with the
    N-row label table on src + one groupBy (dst, lab) + one
    per-node window argmax.  The edge list is partitioned + sorted by
    the join key ONCE (the checkpoint preserves both), and the rounds
    run through scale.spark_rounds at its width, so the fixed chain
    runs as stages of the caller's single action."""
    from .scale import spark_rounds

    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .distinct()
        .repartition("src")
        .sortWithinPartitions("src")
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .select("doc_id", F.col("doc_id").alias("lab"))
        .localCheckpoint()
    )

    def step(labels):
        cnt = (
            edges.join(labels.select(F.col("doc_id").alias("src"), "lab"), "src")
            .groupBy(F.col("dst").alias("doc_id"), "lab")
            .agg(F.count("*").cast("bigint").alias("c"))
        )
        pick = (
            cnt.withColumn(
                "rn",
                F.row_number().over(
                    W.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("lab"))
                ),
            )
            .where(F.col("rn") == 1)
            .select("doc_id", F.col("lab").alias("new_lab"))
        )
        return labels.join(pick, "doc_id", "left").select(
            "doc_id", F.coalesce("new_lab", "lab").alias("lab")
        )

    # fixed rounds by contract (the oracle replays them): no convergence
    labels, _ = spark_rounds(
        labels, step, width_of=edges, max_rounds=iters,
        what="label propagation",
    )
    return labels


@query("q_label_prop", oracle=_lp_oracle(), tags=("graph", "iterative", "extension"))
def q_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density communities of the near-dup candidate graph via 4
    rounds of deterministic synchronous label propagation — one row
    per surviving community with its size and doc-id span.  Pair
    input is q_dedup_near (oracle-verified separately); the fixed
    recurrence unrolls into 4 chained MATERIALIZED CTE groups in the
    DuckDB twin (_lp_oracle), so the driver hash-checks the whole
    iteration."""
    labels = label_propagation_fixed(near_pairs_cached(spark, sf_dir))
    return labels.groupBy(F.col("lab").alias("community")).agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.min("doc_id").cast("bigint").alias("min_doc"),
        F.max("doc_id").cast("bigint").alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# X54 — k-core decomposition of the near-dup graph (r09)

_KCORE_K = 2
_KCORE_ROUNDS = 8


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    ctes = [
        f"""e0 AS MATERIALIZED (
            SELECT pa AS a, pb AS b FROM pairs
            UNION ALL SELECT pb, pa FROM pairs)"""
    ]
    for t in range(1, rounds + 1):
        ctes.append(f"""d{t} AS MATERIALIZED (
            SELECT a, CAST(count(*) AS BIGINT) AS deg
            FROM e{t - 1} GROUP BY a)""")
        ctes.append(f"""k{t} AS MATERIALIZED (
            SELECT a FROM d{t} WHERE deg >= {k})""")
        ctes.append(f"""e{t} AS MATERIALIZED (
            SELECT e.a, e.b FROM e{t - 1} e
            JOIN k{t} x ON e.a = x.a
            JOIN k{t} y ON e.b = y.a)""")
    chain = ",\n        ".join(ctes)
    return f"""
        WITH {_PAIRS_CTE},
        {chain}
        SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
        FROM e{rounds} GROUP BY a
    """


@query(
    "q_kcore",
    oracle=_kcore_oracle(),
    tags=("graph", "dedup", "iterative", "extension"),
)
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """{_KCORE_K}-core of the near-dup candidate graph (X54): peel
    nodes of degree < {_KCORE_K} repeatedly for {_KCORE_ROUNDS}
    fixed rounds; what survives are the DENSELY interlinked
    template/boilerplate families — the distinction a curation pass
    wants over connected components, which chain loosely-linked docs
    into one blob (a path is one component but has an empty 2-core),
    and over raw degree, which a single hub inflates.  Output: every
    surviving doc with its degree inside the peeled core.

    Fixed rounds, not a convergence test (the q_pagerank budget
    argument); the peel is monotone so extra rounds past the
    fixpoint are identity, and tests/test_graph.py asserts round
    {_KCORE_ROUNDS}+1 changes nothing on the fixture — the unrolled
    MATERIALIZED-CTE oracle replays the identical {_KCORE_ROUNDS}
    rounds, so this is hash-checked, not rows-only.

    Scale shape: each round is one degree aggregate + one
    self-equi-join of the shrinking edge list, all keyed on node id
    (co-partitioned round to round); the edge list only ever
    SHRINKS, and the rounds run through scale.spark_rounds at the
    width of the materialized edge list, so the whole peel runs as
    stages of the final aggregate's single action."""
    from .scale import spark_rounds

    docs_pairs = near_pairs_cached(spark, sf_dir).select("doc_a", "doc_b")
    edges = (
        docs_pairs.selectExpr("doc_a AS a", "doc_b AS b")
        .unionByName(docs_pairs.selectExpr("doc_b AS a", "doc_a AS b"))
        .repartition("a")
        .sortWithinPartitions("a")
        .localCheckpoint()
    )

    def step(edges):
        deg = edges.groupBy("a").agg(F.count("*").alias("deg"))
        keep = deg.filter(F.col("deg") >= _KCORE_K).select("a")
        return (
            edges.join(keep, "a")
            .join(keep.withColumnRenamed("a", "b"), "b")
            .select("a", "b")
        )

    # fixed rounds by contract (the oracle replays them): no convergence
    edges, _ = spark_rounds(
        edges, step, width_of=edges, max_rounds=_KCORE_ROUNDS, what="k-core"
    )
    return edges.groupBy(F.col("a").alias("doc_id")).agg(
        F.count("*").cast("bigint").alias("core_deg")
    )
