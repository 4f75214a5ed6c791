"""Product quantization (PQ) — compressed vector codes + asymmetric
distance search, exactly oracle-checked.

At 100 TB an embedding column (64 float32 = 256 B/row) dominates
storage and scan cost; PQ stores M small codebook indices instead
(here 4 × 1 byte) and searches with an asymmetric-distance lookup
table (ADC): the query is compared to each codebook centroid ONCE,
then every row's distance is M array lookups — no per-row float math
at all.  This is the standard compressed-ANN layer (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
public method description only) under IVF in production systems; the
repo's IVF (similarity.py) provides the cell pruning, PQ provides
the in-cell scan compression.

Two determinism choices make every query here hash-verifiable against
DuckDB (the same trade the IVF family makes, similarity.py):

* **Seed codebooks first, trained ones checked too**: centroids are
  the subvectors of the 16 lowest vec_ids, keeping the core pipeline
  — codes, ADC, recall — a single-statement SQL function of the
  table.  The Lloyd-TRAINED codebook (fixed 2-iteration
  train_codebook) is ALSO hash-checked: its integer recurrence
  unrolls into chained MATERIALIZED CTEs (_trained_oracle), the same
  upgrade the pagerank/semantic recurrences got.  ``pq_codes``
  accepts any codebook, so callers can train deeper and pass the
  result in.
* **Quantize-then-square integer distances**: elements are scaled to
  1e-5 fixed point (the q_centroids trick) BEFORE squaring, so
  distances are exact BIGINTs — no float summation order, no libm —
  and argmin ties break to the lower code deterministically.

Scale design: code assignment is a row-local fold over a literal
codebook (KBs shipped in the plan — the semantic.py E-step shape):
zero shuffles, whole-stage codegen.  ADC scoring is M element_at
lookups into a literal table + one TakeOrderedAndProject.  The only
driver traffic is collecting the K seed rows and the query row —
bounded, the codebook-collect class.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cosine_expr
from ..plans.registry import query
from ..sources.catalog import load_table
from ..sources.sinks import commit_store
from .similarity import (
    _IVF_ASSIGN_SQL,
    _RANGE_NPROBE,
    _RANGE_QIDS,
    _RANGE_TAU,
    _empty_result,
    _ivf_qcells_sql,
    _range_matches,
    _range_oracle,
)

_M = 4  # subspaces
_SUBDIM = 16  # dims per subspace (fixture embeddings are 64-dim)
_K = 16  # centroids per subspace codebook
_QUERY_ID = 17  # probe vector for ADC/recall (not one of the 0..15 seeds)
_QUANT = 100000  # 1e-5 fixed point, matches q_centroids / semantic.py

_LONG_MAX = (1 << 63) - 1


def _half_up(x: float) -> int:
    """round-half-away-from-zero: Spark round(double) and DuckDB
    round() agree on this; Python round() (banker's) does not.
    Exact-decimal HALF_UP — floor(x+0.5) would double-round (e.g.
    0.49999999999999994 + 0.5 == 1.0 in binary64, yielding 1 where
    both engines yield 0)."""
    return int(Decimal(repr(x)).quantize(Decimal(1), rounding=ROUND_HALF_UP))


def _quantize(vec: list[float]) -> list[int]:
    return [_half_up(float(x) * float(_QUANT)) for x in vec]


def _collect_seed_codebook(emb: DataFrame) -> list[list[list[int]]]:
    """[s][cid] -> quantized centroid subvector, from the _K lowest
    vec_ids (bounded collect)."""
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(_K)
        .collect()
    )
    if not rows:
        # empty-input contract: no vectors, no codebook — callers
        # return a typed empty result (tests/test_empty_input.py)
        return None
    qs = [_quantize(list(r["embedding"])) for r in rows]
    return [
        [qv[s * _SUBDIM : (s + 1) * _SUBDIM] for qv in qs] for s in range(_M)
    ]


def _with_qemb(emb: DataFrame) -> DataFrame:
    # a NULL embedding cannot be coded: the argmin fold would keep its
    # -1 accumulator seed and the ADC lookup would hit element_at(_, 0)
    # at runtime — drop such rows here so every PQ path (codes, ADC,
    # recall, index build, training) shares one rule, mirrored by the
    # WHERE embedding IS NOT NULL in _CODES_SQL
    # (tests/test_null_values.py)
    return emb.filter(F.col("embedding").isNotNull()).withColumn(
        "__q",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(round(CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT))"
        ),
    )


def _pq_folds(
    df: DataFrame, codebook: list[list[list[int]]]
) -> tuple[DataFrame, list[str]]:
    """Attach each subspace's codebook as the plan literal ``__cb{s}``
    and return one SQL fold per subspace over the quantized row
    ``__q``: a struct of the argmin code ``bc`` (ties to the lower
    code) and its exact integer squared distance ``bd``.  The one
    definition of the PQ subspace search that pq_codes, the IVF-PQ
    scan, the index build and the training objective share."""
    folds = []
    for s, cents in enumerate(codebook):
        entries = F.array(
            *[
                F.struct(
                    F.lit(cid).alias("cid"),
                    F.array(*[F.lit(int(v)) for v in cvec]).alias("qc"),
                )
                for cid, cvec in enumerate(cents)
            ]
        )
        d2 = (
            "aggregate(zip_with("
            f"slice(__q, {s * _SUBDIM + 1}, {_SUBDIM}), c.qc, "
            "(x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)"
        )
        # transform-then-min: d2 is evaluated ONCE per centroid.  The
        # earlier single-aggregate form inlined d2 in both the IF
        # condition and the kept struct — higher-order lambdas run
        # interpreted (no whole-stage codegen), so that doubled the
        # entire distance arithmetic per fold step (measured ~2x on
        # the PQ family's fixture times).  Strict < keeps the lowest
        # cid on ties, identical to the previous fold's total order.
        folds.append(
            f"aggregate(transform(__cb{s}, c -> "
            f"struct(c.cid AS bc, {d2} AS bd)), "
            f"struct(CAST(-1 AS INT) AS bc, CAST({_LONG_MAX} AS BIGINT) AS bd), "
            f"(acc, x) -> IF(x.bd < acc.bd, x, acc))"
        )
        df = df.withColumn(f"__cb{s}", entries)
    return df, folds


def pq_codes(emb: DataFrame, codebook: list[list[list[int]]]) -> DataFrame:
    """(vec_id, code0..code{M-1}): per-subspace argmin of the exact
    integer squared distance against ``codebook`` ([s][cid] quantized
    subvectors), ties to the lower code.  Row-local fold over plan
    literals — no join, no shuffle."""
    df, folds = _pq_folds(_with_qemb(emb), codebook)
    codes = [F.expr(f"{f}.bc").alias(f"code{s}") for s, f in enumerate(folds)]
    return df.select(F.col("vec_id"), *codes)


def _adc_lut(codebook: list[list[list[int]]], qvec: list[int]) -> list[list[int]]:
    """[s][cid] -> exact integer squared distance from the query's
    s-th subvector to that centroid (the ADC lookup table, computed
    once per query)."""
    return [
        [
            sum(
                (qvec[s * _SUBDIM + i] - cvec[i]) ** 2
                for i in range(_SUBDIM)
            )
            for cvec in cents
        ]
        for s, cents in enumerate(codebook)
    ]


# ---- shared oracle fragments (DuckDB) --------------------------------

_SUBS_SQL = f"subs AS (SELECT unnest(range({_M})) AS s)"
_SEEDS_SQL = f"seeds AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < {_K})"

# exploded (vec_id, s, cid) integer squared distances; source_alias
# rows x subs x seeds x positions
def _d2_terms(left: str, right: str) -> str:
    le = f"CAST(round({left}.embedding[subs.s * {_SUBDIM} + g.i]::DOUBLE * {_QUANT}) AS BIGINT)"
    ri = f"CAST(round({right}.embedding[subs.s * {_SUBDIM} + g.i]::DOUBLE * {_QUANT}) AS BIGINT)"
    return f"({le} - {ri}) * ({le} - {ri})"


_CODES_SQL = f"""
{_SEEDS_SQL},
{_SUBS_SQL},
cand AS (
    SELECT e.vec_id, subs.s, seeds.cid, sum({_d2_terms('e', 'seeds')}) AS d2
    FROM embeddings e
    CROSS JOIN subs CROSS JOIN seeds
    CROSS JOIN generate_series(1, {_SUBDIM}) g(i)
    WHERE e.embedding IS NOT NULL
    GROUP BY 1, 2, 3),
best AS (
    SELECT vec_id, s, cid,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cid) AS rn
    FROM cand),
codes AS (
    SELECT vec_id,
           CAST(max(CASE WHEN s = 0 THEN cid END) AS INT) AS code0,
           CAST(max(CASE WHEN s = 1 THEN cid END) AS INT) AS code1,
           CAST(max(CASE WHEN s = 2 THEN cid END) AS INT) AS code2,
           CAST(max(CASE WHEN s = 3 THEN cid END) AS INT) AS code3
    FROM best WHERE rn = 1 GROUP BY vec_id)
"""

_ADC_SQL = f"""
q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID}),
lut AS (
    SELECT subs.s, seeds.cid, sum({_d2_terms('q', 'seeds')}) AS d2
    FROM q CROSS JOIN subs CROSS JOIN seeds
    CROSS JOIN generate_series(1, {_SUBDIM}) g(i)
    GROUP BY 1, 2),
adc AS (
    SELECT c.vec_id,
           CAST(l0.d2 + l1.d2 + l2.d2 + l3.d2 AS BIGINT) AS adc_d2
    FROM codes c
    JOIN lut l0 ON l0.s = 0 AND l0.cid = c.code0
    JOIN lut l1 ON l1.s = 1 AND l1.cid = c.code1
    JOIN lut l2 ON l2.s = 2 AND l2.cid = c.code2
    JOIN lut l3 ON l3.s = 3 AND l3.cid = c.code3
    WHERE c.vec_id <> {_QUERY_ID}),
adc10 AS (
    SELECT vec_id, adc_d2 FROM adc
    ORDER BY adc_d2, vec_id LIMIT 10)
"""


@query(
    "q_pq_codes",
    oracle=f"""
        WITH {_CODES_SQL}
        SELECT vec_id, code0, code1, code2, code3
        FROM codes ORDER BY vec_id
    """,
    tags=("similarity", "ann", "pq", "extension"),
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compression of the embeddings table: 4 × 16-dim subspaces,
    16-entry seed codebooks, exact integer argmin per subspace —
    256 B/vector becomes 4 codes.  Assignment is a row-local fold
    over plan-literal codebooks (zero shuffles); the oracle derives
    identical codes relationally."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _collect_seed_codebook(emb)
    if cb is None:
        return _empty_result(
            emb,
            "vec_id BIGINT, code0 INT, code1 INT, code2 INT, code3 INT",
        )
    return pq_codes(emb, cb)


@query(
    "q_pq_adc",
    oracle=f"""
        WITH {_CODES_SQL},
        {_ADC_SQL}
        SELECT vec_id, adc_d2 FROM adc10 ORDER BY adc_d2, vec_id
    """,
    tags=("similarity", "ann", "pq", "extension"),
)
def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-10 for the probe vector: distances to
    the 16x4 codebook are computed ONCE into a lookup table, then
    every row's score is 4 element_at lookups + TakeOrderedAndProject
    — the compressed-scan shape that replaces per-row float math at
    scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, qvec = _seed_codebook_and_query(emb)
    if cb is None:
        return _empty_result(emb, "vec_id BIGINT, adc_d2 BIGINT")
    return _adc_top10(emb, cb, qvec)


def _seed_codebook_and_query(emb: DataFrame):
    """Seed codebook + quantized probe vector in ONE bounded collect
    (vec_id <= 17 is 18 rows); a separate filter-collect per piece
    was a second job for no reason."""
    cb, qvec, _ = _seed_codebook_query_raw(emb)
    return cb, qvec


def _seed_codebook_query_raw(emb: DataFrame):
    """_seed_codebook_and_query plus the RAW (unquantized) probe
    embedding from the same 18-row collect — the recall queries'
    exact-cosine ground truth needs it, and re-reading it through a
    second 1-row filtered scan + broadcast was the one redundant
    input left in this family (r07 close-out item 1).  float→Python
    float64 conversion is exact, so a literal built from these values
    scores bit-identically to the column path."""
    rows = (
        emb.filter(F.col("vec_id") <= _QUERY_ID)
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .collect()
    )
    qs = [_quantize(list(r["embedding"])) for r in rows if r["vec_id"] < _K]
    qraws = [
        list(r["embedding"]) for r in rows if r["vec_id"] == _QUERY_ID
    ]
    if not qs or not qraws:
        # empty-input contract (tests/test_empty_input.py): no seeds
        # or no probe vector — callers emit a typed empty result
        return None, None, None
    cb = [
        [qv[s * _SUBDIM : (s + 1) * _SUBDIM] for qv in qs] for s in range(_M)
    ]
    qraw = qraws[0]
    return cb, _quantize(qraw), qraw


def _adc_top10(
    emb: DataFrame, cb: list[list[list[int]]], qvec: list[int], k: int = 10
) -> DataFrame:
    """ADC top-k (default 10) for any codebook: LUT computed once
    driver-side, scoring is M element_at lookups per row +
    TakeOrderedAndProject.  q_ann_rerank widens k for its shortlist
    stage; every other caller keeps the historical top-10."""
    lut = _adc_lut(cb, qvec)
    # explicit BIGINT elements: small distances would infer an INT
    # array, and an ANSI-mode sum of 4 near-2^31 lookups can overflow
    # before the final cast (the bm25_search literal lesson, r10)
    lut_lit = F.array(
        *[F.array(*[F.lit(int(d)) for d in row]) for row in lut]
    ).cast("array<array<bigint>>")
    codes = pq_codes(emb, cb).filter(F.col("vec_id") != _QUERY_ID)
    adc = codes.withColumn("__lut", lut_lit).select(
        "vec_id",
        sum(
            F.element_at(F.element_at(F.col("__lut"), s + 1), F.col(f"code{s}") + 1)
            for s in range(_M)
        ).alias("adc_d2"),
    )
    return adc.orderBy("adc_d2", "vec_id").limit(k)


@query(
    "q_pq_recall",
    oracle=f"""
        WITH {_CODES_SQL},
        {_ADC_SQL},
        exact10 AS (
            SELECT e.vec_id
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {_QUERY_ID}
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     e.vec_id ASC
            LIMIT 10)
        SELECT CAST(count(*) AS BIGINT) AS hits,
               count(*) / 10.0 AS recall_at_10
        FROM adc10 JOIN exact10 USING (vec_id)
    """,
    tags=("similarity", "ann", "pq", "extension"),
)
def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honesty audit for the compressed path: overlap of the ADC
    top-10 with the exact cosine top-10 — the PQ twin of
    q_ann_recall, hash-verified on both engines.  The SEED codebook
    makes this a floor, not a ceiling: the fixture embeddings carry
    no cluster structure, so 4x16 untrained cells quantize coarsely
    (measured 0.1 here, and only 0.2 even at 16 subspaces); a
    production deployment trains the codebook (semantic.py's Lloyd
    machinery accepts exactly this role) and layers PQ under IVF
    cell pruning."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, qvec, qraw = _seed_codebook_query_raw(emb)
    if cb is None:
        return _empty_result(emb, "hits BIGINT, recall_at_10 DOUBLE")
    adc10 = _adc_top10(emb, cb, qvec).select("vec_id")
    return adc10.join(_exact_top10(emb, qraw), "vec_id").agg(
        F.count("*").cast("bigint").alias("hits"),
        (F.count("*") / F.lit(10.0)).alias("recall_at_10"),
    )


def _exact_top10(emb: DataFrame, qraw: list[float]) -> DataFrame:
    """Exact cosine top-10 for the probe vector (the recall ground
    truth): the query embedding rides as a plan literal (its floats
    are already in hand from the codebook collect — repr round-trips
    each float64 exactly), so this is ONE corpus scan +
    TakeOrderedAndProject; the former 1-row filtered scan + broadcast
    of the same values was redundant input.  Non-finite components
    are rejected up front: repr(nan/inf) would render as invalid SQL
    ('nanD') and surface as an opaque parse error downstream."""
    bad = [v for v in qraw if not math.isfinite(v)]
    if bad:
        raise ValueError(
            f"query embedding has non-finite components: {bad[:3]}"
        )
    q_lit = "array(" + ", ".join(f"{v!r}D" for v in qraw) + ")"
    return (
        emb.filter(F.col("vec_id") != _QUERY_ID)
        .select("vec_id", cosine_expr("embedding", q_lit).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )


def _trained_oracle(iters: int = 2) -> str:
    """DuckDB twin of the Lloyd-TRAINED PQ recall — the last member
    of the fixed-iteration family to go hash-green (after _pr_oracle
    and semantic._sd_oracle): ``iters`` rounds of (integer argmin
    assignment → integer-mean M-step with keep-previous-on-empty)
    unroll into chained MATERIALIZED CTEs over an exploded
    (vec_id, s, pos, qx) quantized component table.  Every quantity
    is BIGINT (the q_centroids quantize-then-sum recipe), so the
    trained codebook — and therefore the trained LUT, codes, and
    recall — is bit-exact across engines; the seed half reuses
    _CODES_SQL/_ADC_SQL verbatim."""
    chain = []
    for t in range(iters):
        chain.append(f"""
        d{t} AS (
            SELECT u.vec_id, cb.s, cb.cid,
                   CAST(sum((u.qx - cb.cx) * (u.qx - cb.cx)) AS BIGINT) AS d2
            FROM u JOIN cb{t} cb ON cb.s = u.s AND cb.pos = u.i
            GROUP BY 1, 2, 3),
        tc{t} AS MATERIALIZED (
            SELECT vec_id, s, cid FROM (
                SELECT vec_id, s, cid,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d2, cid) AS rn
                FROM d{t}) WHERE rn = 1),
        cb{t + 1} AS MATERIALIZED (
            SELECT cb.s, cb.cid, cb.pos, coalesce(m.cx, cb.cx) AS cx
            FROM cb{t} cb LEFT JOIN (
                SELECT c.s, c.cid, u.i AS pos,
                       CAST(sum(u.qx) // count(*) AS BIGINT) AS cx
                FROM tc{t} c JOIN u ON u.vec_id = c.vec_id AND u.s = c.s
                GROUP BY 1, 2, 3) m
              ON m.s = cb.s AND m.cid = cb.cid AND m.pos = cb.pos)""")
    unrolled = ",".join(chain)
    qx = f"CAST(round(e.embedding[subs.s * {_SUBDIM} + g.i]::DOUBLE * {_QUANT}) AS BIGINT)"
    return f"""
        WITH {_CODES_SQL},
        {_ADC_SQL},
        exact10 AS MATERIALIZED (
            SELECT e.vec_id
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {_QUERY_ID}
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     e.vec_id ASC
            LIMIT 10),
        u AS MATERIALIZED (
            SELECT e.vec_id, subs.s, g.i, {qx} AS qx
            FROM embeddings e CROSS JOIN subs
            CROSS JOIN generate_series(1, {_SUBDIM}) g(i)),
        cb0 AS MATERIALIZED (
            SELECT u.s, u.vec_id AS cid, u.i AS pos, u.qx AS cx
            FROM u WHERE u.vec_id < {_K}),{unrolled},
        lutt AS MATERIALIZED (
            SELECT cb.s, cb.cid,
                   CAST(sum((qq.qx - cb.cx) * (qq.qx - cb.cx)) AS BIGINT) AS d2
            FROM cb{iters} cb
            JOIN (SELECT s, i, qx FROM u WHERE vec_id = {_QUERY_ID}) qq
              ON qq.s = cb.s AND qq.i = cb.pos
            GROUP BY 1, 2),
        dt AS (
            SELECT u.vec_id, cb.s, cb.cid,
                   CAST(sum((u.qx - cb.cx) * (u.qx - cb.cx)) AS BIGINT) AS d2
            FROM u JOIN cb{iters} cb ON cb.s = u.s AND cb.pos = u.i
            WHERE u.vec_id <> {_QUERY_ID}
            GROUP BY 1, 2, 3),
        tct AS MATERIALIZED (
            SELECT vec_id, s, cid FROM (
                SELECT vec_id, s, cid,
                       row_number() OVER (PARTITION BY vec_id, s
                                          ORDER BY d2, cid) AS rn
                FROM dt) WHERE rn = 1),
        adct AS (
            SELECT c.vec_id, CAST(sum(l.d2) AS BIGINT) AS adc_d2
            FROM tct c JOIN lutt l ON l.s = c.s AND l.cid = c.cid
            GROUP BY 1),
        top10t AS (
            SELECT vec_id FROM adct ORDER BY adc_d2, vec_id LIMIT 10),
        seedrow AS (
            SELECT 'seed' AS codebook, CAST(count(*) AS BIGINT) AS hits,
                   count(*) / 10.0 AS recall_at_10
            FROM adc10 JOIN exact10 USING (vec_id)),
        trainedrow AS (
            SELECT 'trained' AS codebook, CAST(count(*) AS BIGINT) AS hits,
                   count(*) / 10.0 AS recall_at_10
            FROM top10t JOIN exact10 USING (vec_id))
        SELECT * FROM seedrow UNION ALL SELECT * FROM trainedrow
        ORDER BY codebook
    """


@query(
    "q_pq_recall_trained",
    oracle=_trained_oracle(),
    tags=("similarity", "ann", "pq", "iterative", "extension"),
)
def q_pq_recall_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the SEED codebook vs the Lloyd-TRAINED codebook,
    side by side — the production answer to q_pq_recall's documented
    floor (seed recall 0.1 at sf0.01): two Lloyd iterations of
    train_codebook re-fit the 4x16 cells to the actual embedding mass.
    Training is bit-deterministic (quantize-then-sum integer means,
    truncating division), so the output is stable across partitionings
    and sessions; scoring reuses the exact _adc_top10 path under each
    codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    seed_cb, qvec, qraw = _seed_codebook_query_raw(emb)
    if seed_cb is None:
        return _empty_result(
            emb, "codebook STRING, hits BIGINT, recall_at_10 DOUBLE"
        )
    trained_cb = train_codebook(emb, iters=2)
    exact10 = _exact_top10(emb, qraw).localCheckpoint()

    def recall_row(label: str, cb: list[list[list[int]]]) -> DataFrame:
        return (
            _adc_top10(emb, cb, qvec)
            .select("vec_id")
            .join(exact10, "vec_id")
            .agg(
                F.count("*").cast("bigint").alias("hits"),
                (F.count("*") / F.lit(10.0)).alias("recall_at_10"),
            )
            .select(F.lit(label).alias("codebook"), "hits", "recall_at_10")
        )

    return recall_row("seed", seed_cb).unionByName(
        recall_row("trained", trained_cb)
    ).orderBy("codebook")


def pq_assignment_error(emb: DataFrame, codebook: list[list[list[int]]]) -> int:
    """Total exact integer quantization error: sum over rows and
    subspaces of the squared distance to the chosen centroid — the
    objective Lloyd minimizes, used by tests to prove training helps."""
    df, folds = _pq_folds(_with_qemb(emb), codebook)
    total = F.lit(0).cast("bigint")
    for fold in folds:
        total = total + F.expr(f"{fold}.bd")
    return df.select(F.sum(total).alias("err")).collect()[0]["err"]


def train_codebook(
    emb: DataFrame, iters: int = 2
) -> list[list[list[int]]]:
    """Lloyd-refined PQ codebook: E-step = the exact integer argmin
    pq_codes already runs; M-step = per-(subspace, code, position)
    integer mean with truncating division — the quantize-then-sum
    fixed point of semantic.py/q_centroids, so training is a pure
    function of the table (bit-identical on any partitioning).  A
    code that loses all members keeps its previous centroid.  The
    registry queries stay on the SEED codebook (single-statement SQL
    twin); this is the production path the module docstring promises,
    pytest-proven to strictly reduce quantization error."""
    cb = _collect_seed_codebook(emb)
    df = _with_qemb(emb)
    for _ in range(iters):
        codes = pq_codes(emb, cb)
        joined = df.select("vec_id", "__q").join(codes, "vec_id")
        parts = None
        for s in range(_M):
            part = joined.select(
                F.lit(s).alias("s"),
                F.col(f"code{s}").alias("cid"),
                F.posexplode(
                    F.expr(f"slice(__q, {s * _SUBDIM + 1}, {_SUBDIM})")
                ).alias("pos", "qx"),
            )
            parts = part if parts is None else parts.unionByName(part)
        means = (
            parts.groupBy("s", "cid", "pos")
            .agg(F.expr("CAST(sum(qx) div count(*) AS BIGINT)").alias("cx"))
            .collect()
        )
        new_cb = [[list(c) for c in cents] for cents in cb]
        for r in means:
            new_cb[r["s"]][r["cid"]][r["pos"]] = int(r["cx"])
        cb = new_cb
    return cb


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cell pruning over compressed ADC scoring
# ---------------------------------------------------------------------------

_IVFPQ_NPROBE = 2


def _collect_ivfpq_literals(emb: DataFrame):
    """ONE bounded collect (max(_K, C)+1 rows, C =
    sim._n_centroids_for(count) — C tracks the corpus size like the
    whole IVF family since r09) feeding every literal the IVF-PQ
    stack needs: the quantized PQ codebook, the quantized probe
    vector, and the RAW first-C centroid / probe vectors for the IVF
    cosine side."""
    from . import similarity as sim

    c = sim._n_centroids_for(emb.count())
    hi = max(_K, c, _QUERY_ID + 1)
    rows = (
        emb.filter(F.col("vec_id") < hi)
        .select("vec_id", "embedding")
        .collect()
    )
    raw = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in rows}
    needed = set(range(_K)) | set(range(c)) | {_QUERY_ID}
    if not needed <= raw.keys():
        # empty-input contract (tests/test_empty_input.py)
        return None, None, None, None
    qs = [_quantize(raw[i]) for i in range(_K)]
    cb = [
        [qv[s * _SUBDIM : (s + 1) * _SUBDIM] for qv in qs] for s in range(_M)
    ]
    qvec_q = _quantize(raw[_QUERY_ID])
    cents = [raw[i] for i in range(c)]
    return cb, qvec_q, cents, raw[_QUERY_ID]


def _ivfpq_base(
    emb: DataFrame,
    cb: list[list[list[int]]],
    qvec_q: list[int],
    cents: list[list[float]],
    qv: list[float],
    probe_cells: list[int],
) -> DataFrame:
    """(vec_id, cid, cos_raw, adc_d2) in ONE embeddings scan with
    ZERO shuffles: IVF cell argmax over literal centroids, exact
    query cosine, per-subspace PQ code folds (_pq_folds, in the same
    projection as the cell and the cosine), and the
    ADC lookup — everything row-local over plan literals.  The ADC
    expression is gated on `cid IN probe_cells` (the probe list is a
    driver literal), so the K x SUBDIM code folds — the expensive
    part — run only for the ~nprobe/C of rows the IVF layer admits
    (IF branches are lazy in codegen): the candidate-only scoring
    the pre-collapse shape got from joining a cand frame, without
    the join or the extra scans.  Non-candidates carry NULL adc_d2.
    Callers localCheckpoint the result; every downstream branch
    (candidate top-k, exact top-k, candidate count) is then a
    filter + heap that never re-touches the table."""
    from .similarity import _cell_argmax, _with_cos_cols

    lut = _adc_lut(cb, qvec_q)
    # query vector folded in as a pseudo-centroid: its cosine shares
    # the hoisted row self-norm (see _with_cos_cols) instead of
    # re-folding norms per row per centroid
    df = _with_cos_cols(_with_qemb(emb), cents + [qv])
    df, folds = _pq_folds(df, cb)
    adc_terms = [
        f"element_at(element_at(__lut, {s + 1}), ({fold}.bc) + 1)"
        for s, fold in enumerate(folds)
    ]
    lut_lit = F.array(*[F.array(*[F.lit(int(d)) for d in row]) for row in lut])
    coded = df.select(
        "vec_id",
        _cell_argmax(len(cents)).alias("cid"),
        F.col(f"__cos{len(cents)}").alias("cos_raw"),
        "__q",
        *[F.col(f"__cb{s}") for s in range(_M)],
        lut_lit.alias("__lut"),
    )
    gate = ", ".join(str(int(c)) for c in probe_cells)
    adc_gated = (
        f"IF(cid IN ({gate}), "
        f"CAST({' + '.join(adc_terms)} AS BIGINT), CAST(NULL AS BIGINT))"
    )
    return coded.select(
        "vec_id", "cid", "cos_raw", F.expr(adc_gated).alias("adc_d2")
    )


@query(
    "q_ivfpq_recall",
    oracle=f"""
        WITH {_CODES_SQL},
        {_IVF_ASSIGN_SQL},
        {_ivf_qcells_sql(_QUERY_ID, _IVFPQ_NPROBE)},
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID}),
        lut AS (
            SELECT subs.s, seeds.cid, sum({_d2_terms('q', 'seeds')}) AS d2
            FROM q CROSS JOIN subs CROSS JOIN seeds
            CROSS JOIN generate_series(1, {_SUBDIM}) g(i)
            GROUP BY 1, 2),
        ivfcand AS (
            SELECT a1.vec_id FROM a1 JOIN qc ON a1.cid = qc.qcid
            WHERE a1.vec_id <> {_QUERY_ID}),
        adcq AS (
            SELECT c.vec_id,
                   CAST(l0.d2 + l1.d2 + l2.d2 + l3.d2 AS BIGINT) AS adc_d2
            FROM codes c
            JOIN ivfcand USING (vec_id)
            JOIN lut l0 ON l0.s = 0 AND l0.cid = c.code0
            JOIN lut l1 ON l1.s = 1 AND l1.cid = c.code1
            JOIN lut l2 ON l2.s = 2 AND l2.cid = c.code2
            JOIN lut l3 ON l3.s = 3 AND l3.cid = c.code3),
        top10 AS (
            SELECT vec_id FROM adcq ORDER BY adc_d2, vec_id LIMIT 10),
        exact10 AS (
            SELECT e.vec_id
            FROM embeddings e CROSS JOIN q
            WHERE e.vec_id <> {_QUERY_ID}
            ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
                     e.vec_id ASC
            LIMIT 10)
        SELECT CAST(count(*) AS BIGINT) AS hits,
               count(*) / 10.0 AS recall_at_10,
               (SELECT CAST(count(*) AS BIGINT) FROM ivfcand) AS cand_rows
        FROM top10 JOIN exact10 USING (vec_id)
    """,
    tags=("similarity", "ann", "pq", "ivf", "extension"),
)
def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN index layout, composed from the
    engine's two audited halves: IVF coarse cells prune the search to
    the query's top-{_IVFPQ_NPROBE} cells (~nprobe/C of the table),
    and within the probed cells scoring is compressed-domain ADC (4
    lookup-table reads per vector, no float math, no access to the
    original embeddings).  This is the no-residual IVFADC variant:
    one GLOBAL PQ codebook rather than per-cell residual codebooks —
    the honest simplification matching the seed-codebook PQ family
    here, with semantic.py's Lloyd machinery as the training path for
    both layers.  Output audits the whole stack: candidate count
    (the pruning ratio) and recall@10 of the doubly-approximate
    search against the exact cosine top-10.  At 100 TB: cells are
    partition keys (scan pruning), codes are 4 bytes a vector, and
    the only per-query full-table work disappears entirely.  The
    index artifacts (assignment, codes, LUT) are built in ONE
    embeddings scan as plan literals (_ivfpq_base — the query REBUILDS
    them inline so the oracle can reproduce the whole stack
    relationally, where a deployment persists them), the base is
    localCheckpoint'd, and all three output branches (candidate
    top-10, exact top-10, candidate count) are filters + heaps over
    the checkpointed base — the first shape compiled to 12 FileScans
    of the table; tests/test_plan_shapes.py now pins zero."""
    emb = load_table(spark, sf_dir, "embeddings")
    from .similarity import _rank_cells_py

    cb, qvec_q, cents, qv = _collect_ivfpq_literals(emb)
    if cb is None:
        return _empty_result(
            emb, "hits BIGINT, recall_at_10 DOUBLE, cand_rows BIGINT"
        )
    probe_cells = _rank_cells_py(cents, qv)[:_IVFPQ_NPROBE]
    base = _ivfpq_base(
        emb, cb, qvec_q, cents, qv, probe_cells
    ).localCheckpoint(eager=False)
    cand = base.filter(
        F.col("cid").isin(probe_cells) & (F.col("vec_id") != _QUERY_ID)
    )
    ivfpq10 = cand.orderBy("adc_d2", "vec_id").limit(10).select("vec_id")
    cand_n = cand.agg(F.count("*").cast("bigint").alias("cand_rows"))
    exact10 = (
        base.filter(F.col("vec_id") != _QUERY_ID)
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )
    return (
        ivfpq10.join(exact10, "vec_id")
        .agg(
            F.count("*").cast("bigint").alias("hits"),
            (F.count("*") / F.lit(10.0)).alias("recall_at_10"),
        )
        .crossJoin(F.broadcast(cand_n))
    )


# ---------------------------------------------------------------------------
# Persisted IVF-PQ index: build once, serve with partition pruning
# ---------------------------------------------------------------------------

def ivfpq_code_table(emb: DataFrame) -> DataFrame:
    """(vec_id, cid, code0..code{M-1}) in ONE projection over one
    table scan: IVF cell argmax over literal centroids + the pq_codes
    per-subspace integer argmin folds, side by side — the index-build
    pass.  No joins, no shuffles; the write below adds exactly one
    exchange (the partitionBy)."""
    cb, _, cents, _ = _collect_ivfpq_literals(emb)
    if cb is None:
        # empty corpus: an empty code table with the serving schema,
        # so build_ivfpq_index still writes readable (empty) artifacts
        return _empty_result(
            emb,
            "vec_id BIGINT, cid INT, "
            + ", ".join(f"code{s} INT" for s in range(_M)),
        )
    return _code_projection(emb, cb, cents)


def _code_projection(
    vecs: DataFrame,
    cb: list[list[list[int]]],
    cents: list[list[float]],
    with_embedding: bool = False,
    meta: tuple[str, ...] = (),
) -> DataFrame:
    """The shared (vec_id, cid, code*) projection over ANY vector
    frame — the batch build passes the corpus, the streaming index
    maintenance passes a micro-batch; both against the SAME persisted
    codebook literals, so maintained codes are byte-identical to what
    a full rebuild would produce.  ``with_embedding=True`` carries the
    raw float vector through as a trailing column (default off —
    byte-identical results for historical callers): the index build
    stores it IN the codes files, where parquet column pruning makes
    it free for the ADC scan (which reads only vec_id + code*) and
    gives the exact-rerank serve stage (rrf_search) a
    cell-partitioned raw-vector store with zero extra writes."""
    from .similarity import _cell_argmax, _with_cos_cols

    df = _with_cos_cols(_with_qemb(vecs), cents)
    cols = [F.col("vec_id"), _cell_argmax(len(cents)).alias("cid")]
    if with_embedding:
        cols.append(F.col("embedding"))
    # metadata columns ride through the projection for free (they are
    # already on the input rows) — the filtered-serving story needs
    # them IN the codes files so per-query predicates reach the index
    # scan as pushed filters, never a corpus join at serve time
    cols.extend(F.col(m) for m in meta)
    df, folds = _pq_folds(df, cb)
    cols.extend(F.expr(f"{f}.bc").alias(f"code{s}") for s, f in enumerate(folds))
    return df.select(*cols)


def ensure_ivfpq_index(
    emb: DataFrame, sf_dir: str, meta: tuple[str, ...] = ()
) -> str:
    """Build-or-reuse the persisted IVF-PQ artifacts for ``sf_dir``
    under the content-tagged cache (index_cache.cached): shared by
    every read-only ivfpq consumer with the same (input, builder
    module, meta) — q_ivfpq_serve and q_ivfpq_batch reuse ONE build,
    the label-meta variant gets its own.  Mutating consumers must
    pass a discriminating build via index_cache directly (the
    tombstone composition does)."""
    import sys

    from .index_cache import cached

    kind = "ivfpq" + ("".join(f"_{m}" for m in meta))
    return cached(
        kind,
        sf_dir,
        ("embeddings",),
        (sys.modules[__name__],),
        lambda p: build_ivfpq_index(emb, p, meta=meta),
    )


def build_ivfpq_index(
    emb: DataFrame, path: str, meta: tuple[str, ...] = ()
) -> None:
    """Persist the serving artifacts under ``path``:

    * ``codes/`` — (vec_id, code0..3) parquet PARTITIONED BY
      (cid, __batch), so a probe reads only nprobe/C of the files
      (PartitionFilters on the LEADING cid level — the physical
      realization of IVF pruning).  ``__batch`` is the ingest-batch
      sublevel the streaming maintenance job
      (streaming/jobs.ivfpq_index_maintenance) overwrites
      idempotently; the initial build is batch 0.
    * ``seeds/`` — the raw first max(_K, C) rows plus the demo probe
      vector (codebook seeds, the C IVF centroids, probe): everything
      a serving process needs to rebuild its plan literals WITHOUT
      ever touching the corpus table again.
      Each seeds row also carries ``n_centroids`` — the C the build
      derived from the corpus size (sim._n_centroids_for) — so
      serving learns the cell layout from the ONE seeds read it
      already does, never by re-counting the corpus and with no
      separate metadata file round-trip (r09 bench: the standalone
      meta/ parquet cost two extra driver jobs per build+serve).

    At 100 TB this is the deployment split the inline queries
    document: the build pass is one scan + one partitioned write,
    amortized over every query that follows."""
    # ONE bounded collect derives C, codebook, and centroids for both
    # the code table and the seeds artifact — build pays a single
    # corpus count, not one per consumer (r09 bench control caught
    # the double-count as +0.6s of fixture job overhead)
    cb, _, cents, _ = _collect_ivfpq_literals(emb)
    meta_ddl = "".join(
        f", {m} {emb.schema[m].dataType.simpleString()}" for m in meta
    )
    if cb is None:
        coded = _empty_result(
            emb,
            "vec_id BIGINT, cid INT, embedding ARRAY<FLOAT>"
            + meta_ddl
            + ", "
            + ", ".join(f"code{s} INT" for s in range(_M)),
        )
        c = 0
    else:
        # with_embedding: the raw vector rides in the codes files —
        # column-pruned away by the ADC scan, partition-pruned raw
        # storage for rrf_search's exact rerank (IVF-Flat colocated
        # with the PQ codes, one artifact, one maintenance write);
        # meta columns likewise ride along for filtered serving
        coded = _code_projection(
            emb, cb, cents, with_embedding=True, meta=meta
        )
        c = len(cents)
    hi = max(_K, c, _QUERY_ID + 1)
    # REBALANCE on the partition keys before every partitioned codes/
    # write (r17, guide §6): data-sized output files instead of one
    # file per (write task x cell) — same discipline as the bm25
    # postings writes.
    coded.withColumn("__batch", F.lit(0)).hint(
        "rebalance", "cid", "__batch"
    ).write.mode("overwrite").partitionBy("cid", "__batch").parquet(
        f"{path}/codes"
    )
    emb.filter(F.col("vec_id") < hi).select(
        "vec_id", "embedding"
    ).withColumn("n_centroids", F.lit(int(c))).write.mode(
        "overwrite"
    ).parquet(f"{path}/seeds")
    # probes/ — the standing range-search probe batch (_RANGE_QIDS),
    # kept SEPARATE from seeds/ on purpose: seeds are MODEL
    # PARAMETERS (purge_ivfpq_index refuses to forget them — that is
    # a retrain), while probes are ordinary corpus rows a serving
    # convenience caches; the purge rewrites probes/ like codes/, so
    # a forgotten document's raw vector never lingers as a query
    # template.  Bounded: |_RANGE_QIDS| rows.
    emb.filter(
        F.col("vec_id").isin([int(q) for q in _RANGE_QIDS])
        & F.col("embedding").isNotNull()
    ).select("vec_id", "embedding").write.mode("overwrite").parquet(
        f"{path}/probes"
    )


def _load_ivfpq_seeds(
    spark: SparkSession, index_path: str, query_id: int
):
    """Read the tiny seeds parquet (driver-side, no Spark job — r17
    job-count cut via index_cache.read_small_parquet) and return
    (raw, c): raw = {vec_id: [float]} for the codebook/centroid/query
    seed rows, c = build-time centroid count.  Returns (None, 0) when
    the index was built from an empty corpus or the seeds don't cover
    the requested query id — callers serve typed-empty.  Shared by
    ivfpq_search and text.rrf_search so both rebuild identical plan
    literals from the one read serving already does."""
    from .index_cache import read_small_parquet

    seeds = read_small_parquet(
        spark,
        f"{index_path}/seeds",
        "vec_id BIGINT, embedding ARRAY<FLOAT>, n_centroids INT",
        ("vec_id", "embedding", "n_centroids"),
    )
    if not seeds:
        return None, 0
    raw = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in seeds}
    c = int(seeds[0]["n_centroids"])
    needed = set(range(_K)) | set(range(c)) | {query_id}
    if not needed <= raw.keys():
        return None, 0
    return raw, c


def ivfpq_search(
    spark: SparkSession,
    index_path: str,
    query_id: int = _QUERY_ID,
    nprobe: int = _IVFPQ_NPROBE,
    k: int = 10,
) -> DataFrame:
    """ADC top-k over the PERSISTED index — the serving path.  Reads
    the tiny seeds parquet (bounded collect) to rebuild the LUT and
    rank probe cells driver-side, then ONE partition-pruned scan of
    codes/ (PartitionFilters: cid IN probes — only nprobe of the C
    partition directories are opened), 4 element_at lookups per row,
    and a k-row heap.  Zero scans of the corpus table; no float math
    per row; the plan is FileScan -> Project -> TakeOrderedAndProject."""
    from .similarity import _rank_cells_py

    # explicit schema inside the loader: an index built from an EMPTY
    # corpus leaves a fileless seeds dir, and schema inference would
    # raise before the empty-serve guard could run (the
    # _HARDNEG_SEEDS_DDL convention from hardneg_search); the
    # build-time centroid count rides ON the seeds rows — the cell
    # layout comes from the one read serving already does, never from
    # re-counting the corpus
    raw, c = _load_ivfpq_seeds(spark, index_path, query_id)
    if raw is None:
        return spark.createDataFrame([], "vec_id BIGINT, adc_d2 BIGINT")
    qs = [_quantize(raw[i]) for i in range(_K)]
    cb = [[qv[s * _SUBDIM : (s + 1) * _SUBDIM] for qv in qs] for s in range(_M)]

    cents = [raw[i] for i in range(c)]
    qv = raw[query_id]
    probes = _rank_cells_py(cents, qv)[:nprobe]
    lut = _adc_lut(cb, _quantize(qv))
    lut_lit = F.array(
        *[F.array(*[F.lit(int(d)) for d in row]) for row in lut]
    ).cast("array<array<bigint>>")  # see _adc_top10: INT-array inference
    adc = " + ".join(
        f"element_at(element_at(__lut, {s + 1}), code{s} + 1)" for s in range(_M)
    )
    codes = (
        spark.read.parquet(f"{index_path}/codes")
        .filter(F.col("cid").isin([int(p) for p in probes]))
        .filter(F.col("vec_id") != query_id)
    )
    return (
        codes.withColumn("__lut", lut_lit)
        .select("vec_id", F.expr(f"CAST({adc} AS BIGINT)").alias("adc_d2"))
        .orderBy("adc_d2", "vec_id")
        .limit(k)
    )


@query(
    "q_ivfpq_serve",
    oracle=f"""
        WITH {_CODES_SQL},
        {_IVF_ASSIGN_SQL},
        {_ivf_qcells_sql(_QUERY_ID, _IVFPQ_NPROBE)},
        q AS (SELECT embedding FROM embeddings WHERE vec_id = {_QUERY_ID}),
        lut AS (
            SELECT subs.s, seeds.cid, sum({_d2_terms('q', 'seeds')}) AS d2
            FROM q CROSS JOIN subs CROSS JOIN seeds
            CROSS JOIN generate_series(1, {_SUBDIM}) g(i)
            GROUP BY 1, 2),
        ivfcand AS (
            SELECT a1.vec_id FROM a1 JOIN qc ON a1.cid = qc.qcid
            WHERE a1.vec_id <> {_QUERY_ID}),
        adcq AS (
            SELECT c.vec_id,
                   CAST(l0.d2 + l1.d2 + l2.d2 + l3.d2 AS BIGINT) AS adc_d2
            FROM codes c
            JOIN ivfcand USING (vec_id)
            JOIN lut l0 ON l0.s = 0 AND l0.cid = c.code0
            JOIN lut l1 ON l1.s = 1 AND l1.cid = c.code1
            JOIN lut l2 ON l2.s = 2 AND l2.cid = c.code2
            JOIN lut l3 ON l3.s = 3 AND l3.cid = c.code3)
        SELECT CAST(row_number() OVER (ORDER BY adc_d2, vec_id) AS INT) AS rank,
               vec_id, adc_d2
        FROM adcq ORDER BY adc_d2, vec_id LIMIT 10
    """,
    tags=("similarity", "ann", "pq", "ivf", "extension"),
)
def q_ivfpq_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over the PERSISTED index — the serving half of the
    build/serve split q_ivfpq_recall's docstring promises.  The query
    (re)builds the index artifacts under a deterministic temp dir
    (one scan + one partitioned write — at deployment this is the
    amortized offline step), then answers the ADC top-10 entirely
    from them: seeds parquet -> plan literals, codes parquet scanned
    with PartitionFilters cid IN (probe cells) so only nprobe of the
    {{C}} partition directories are read, 4 LUT lookups a row, one
    heap.  The oracle recomputes the identical stack relationally
    from the corpus table, so a green row proves the persisted
    artifacts are byte-faithful to the inline derivation.  Plan
    pinned in tests/test_plan_shapes.py: the serve scan is 1
    partition-pruned FileScan of codes/, 0 of embeddings."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = ensure_ivfpq_index(emb, sf_dir)
    served = ivfpq_search(spark, path)
    from pyspark.sql import Window as _W

    return served.withColumn(
        "rank",
        F.row_number().over(_W.orderBy("adc_d2", "vec_id")).cast("int"),
    ).select("rank", "vec_id", "adc_d2")


def ann_range_search(
    spark: SparkSession,
    index_path: str,
    query_ids: tuple[int, ...] = _RANGE_QIDS,
    nprobe: int = _RANGE_NPROBE,
    tau: float = _RANGE_TAU,
) -> DataFrame:
    """Epsilon-ball range search over the PERSISTED IVF index — the
    serving twin of similarity.q_ann_range, completing the
    build/serve matrix (top-k, batched, filtered, and now range).

    Two bounded reads rebuild the plan literals — seeds/ for the
    IVF centroids (model parameters) and probes/ for the standing
    probe batch's raw vectors (ordinary corpus rows, rewritten by
    purge_ivfpq_index so a forgotten document never lingers as a
    query template) — probe cells are ranked driver-side, then ONE
    partition-pruned scan of codes/
    (PartitionFilters: cid IN the UNION of every probe's cells —
    only |union| of the C partition directories are opened; the
    per-directory raw vectors ride in codes/, so NO corpus scan).
    Each scanned row computes one exact cosine per probe against the
    riding embedding and a filter-then-explode keeps exactly the
    (probe, row) combinations where the row's STORED cell is in that
    probe's nprobe set and the cosine clears the radius — the stored
    cid equals the inline argmax assignment (q_ivfpq_serve's oracle
    proves codes cid == the relational a1), so served output is
    row-identical to the inline derivation.  Cost at any scale:
    |union probe cells| worth of index reads, output rows = the
    answer itself."""
    from .similarity import _rank_cells_py, _with_cos_cols

    from .index_cache import read_small_parquet

    empty_ddl = "q_id BIGINT, vec_id BIGINT, cos_sim DOUBLE"
    seeds = read_small_parquet(
        spark,
        f"{index_path}/seeds",
        "vec_id BIGINT, embedding ARRAY<FLOAT>, n_centroids INT",
        ("vec_id", "embedding", "n_centroids"),
    )
    if not seeds:
        return spark.createDataFrame([], empty_ddl)
    raw = {int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in seeds}
    c = int(seeds[0]["n_centroids"])
    if c == 0 or not set(range(c)) <= raw.keys():
        return spark.createDataFrame([], empty_ddl)
    cents = [raw[i] for i in range(c)]
    # probes absent from the corpus — or purged since the build —
    # are absent from probes/ and contribute no rows: the same
    # semantics as the inline isin() collect over the table
    pvecs = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in read_small_parquet(
            spark,
            f"{index_path}/probes",
            "vec_id BIGINT, embedding ARRAY<FLOAT>",
            ("vec_id", "embedding"),
        )
    }
    qrows = sorted(
        (int(q), pvecs[int(q)]) for q in query_ids if int(q) in pvecs
    )
    if not qrows:
        return spark.createDataFrame([], empty_ddl)
    probes = {
        qid: [int(x) for x in _rank_cells_py(cents, qv)[:nprobe]]
        for qid, qv in qrows
    }
    union_cells = sorted({cell for cs in probes.values() for cell in cs})
    codes = (
        spark.read.parquet(f"{index_path}/codes")
        .filter(F.col("cid").isin(union_cells))
        .select("vec_id", "cid", "embedding")
    )
    scored = _with_cos_cols(codes, [qv for _, qv in qrows])
    per_probe = F.array(
        *[
            F.struct(
                F.lit(qid).cast("bigint").alias("q_id"),
                F.col(f"__cos{j}").alias("cos_raw"),
                F.col("cid").isin(probes[qid]).alias("hit"),
            )
            for j, (qid, _) in enumerate(qrows)
        ]
    )
    return _range_matches(scored, per_probe, tau)


@query(
    "q_ann_range_served",
    oracle=_range_oracle(),
    tags=("similarity", "ann", "pq", "ivf", "extension"),
)
def q_ann_range_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range search over the PERSISTED index (X129) — q_ann_range's
    serving half, the shape a radius-based dedup sweep or recall
    audit issues against a standing deployment.  ensure_ivfpq_index
    amortizes the build (shared with every other ivfpq consumer of
    this sf_dir); the answer itself is ann_range_search's single
    partition-pruned codes scan — zero corpus scans, zero joins,
    PartitionFilters on the probed cells (pinned in
    tests/test_plan_shapes.py).  The oracle is the SAME relational
    replay q_ann_range checks against, so a green row proves the
    persisted artifacts answer range queries bit-identically to the
    inline derivation."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = ensure_ivfpq_index(emb, sf_dir)
    return ann_range_search(spark, path)


def compact_ivfpq_index(spark: SparkSession, path: str) -> None:
    """Fold the maintenance history back into a single generation:
    rewrite codes/ keeping the LATEST row per vec_id (highest
    __batch wins — the re-embedding/update contract the maintenance
    job defers to compaction) into __batch=0 leaves and drop the
    rest.  The OPTIMIZE step of the index lifecycle (build →
    maintain → compact), same role as layout.optimize_zorder for the
    corpus: at 100 TB thousands of small per-batch files per cell
    degrade the probe's scan, and the nightly compaction restores
    one-file-per-cell locality.  The rewrite reads the files it
    replaces, so it commits through sinks.commit_store (one stage
    write, then a rename over codes/) — never an overwrite of the
    live dir, whose crash window purge_ivfpq_index documents."""
    from pyspark.sql import Window as _W

    def fold(exists: bool) -> DataFrame:
        # drop/withColumn, not an explicit column list: a store built
        # with meta columns (filtered serving) must keep them through
        # compaction — the earlier fixed select silently stripped the
        # label column from meta stores (the meta-lifecycle pytest)
        return (
            spark.read.parquet(f"{path}/codes")
            .withColumn(
                "__rn",
                F.row_number().over(
                    _W.partitionBy("vec_id").orderBy(F.desc("__batch"))
                ),
            )
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("__batch", F.lit(0))
        )

    commit_store(spark, f"{path}/codes", fold, partition_by=("cid", "__batch"))


def purge_ivfpq_index(
    spark: SparkSession, path: str, deleted: DataFrame
) -> None:
    """Tombstone purge of the persisted IVF-PQ index — the delete
    half of the lifecycle (build → maintain → compact → DELETE):
    drop the deleted vec_ids' rows (PQ codes AND the colocated raw
    vectors) from codes/ in one broadcast anti-join rewrite, so no
    serve path — ADC probe, exact rerank, hybrid fusion — can ever
    surface a deleted id again.  ``deleted`` is a (vec_id) frame,
    request-sized.

    seeds/ rows are MODEL PARAMETERS, not corpus rows: the codebook
    seeds, IVF centroids, and demo probe (vec_id below the build's
    seed horizon).  Purging one of those from codes/ would stop it
    being retrievABLE while its raw vector kept parameterizing every
    lookup — silent half-compliance — so a deleted id that is also a
    seed raises instead: forgetting a model parameter means
    RETRAINING (build_ivfpq_index over the filtered corpus), a
    different operation with a different cost, and the caller must
    choose it explicitly.  The guard is one bounded seeds read
    semi-joined against the request set.

    For non-seed ids the purged store is row-identical to a fresh
    build over the filtered corpus (same frozen model — pinned in
    tests/test_tombstone.py), and q_tombstone_served's oracle proves
    the served ADC ranking equals the filtered recompute.
    Commit is sinks.commit_store (ADVICE r12: a second overwrite into
    the live path deletes the live dir before rewriting, so a crash
    mid-commit left the serving store missing/partial)."""
    dele = deleted.select("vec_id").distinct()
    seeds = spark.read.schema(
        "vec_id BIGINT, embedding ARRAY<FLOAT>, n_centroids INT"
    ).parquet(f"{path}/seeds")
    if not seeds.head(1):
        # index built from an empty corpus: fileless seeds AND
        # fileless codes (the build's _empty_result branch) — nothing
        # to purge, and a schemaless codes read would raise before
        # the anti-join could no-op (the empty-input sweep contract)
        return
    hit = (
        seeds.join(F.broadcast(dele), "vec_id", "left_semi")
        .select("vec_id")
        .collect()
    )
    if hit:
        ids = sorted(int(r["vec_id"]) for r in hit)
        raise ValueError(
            f"ivfpq purge: ids {ids[:8]} are codebook/centroid/probe "
            "seeds (model parameters); forgetting them requires a "
            "model rebuild — build_ivfpq_index over the filtered "
            "corpus — not a row purge"
        )
    commit_store(
        spark,
        f"{path}/codes",
        lambda exists: spark.read.parquet(f"{path}/codes").join(
            F.broadcast(dele), "vec_id", "left_anti"
        ),
        partition_by=("cid", "__batch"),
    )
    # probes/ (the standing range-search batch) holds ORDINARY corpus
    # rows, not model parameters — purge them like codes/, so a
    # forgotten document's raw vector cannot linger as a query
    # template (ann_range_search then skips the probe, exactly as if
    # the row had never been ingested)
    def fold_probes(exists: bool) -> DataFrame | None:
        if not exists:
            return None
        return (
            spark.read.schema("vec_id BIGINT, embedding ARRAY<FLOAT>")
            .parquet(f"{path}/probes")
            .join(F.broadcast(dele), "vec_id", "left_anti")
        )

    commit_store(spark, f"{path}/probes", fold_probes)


# ---------------------------------------------------------------------------
# X62 — two-stage retrieval: ADC shortlist -> exact rerank (r10)

_RERANK_SHORTLIST = 50
_RERANK_K = 5
_DIM = _M * _SUBDIM


@query(
    "q_ann_rerank",
    oracle=f"""
        WITH {_CODES_SQL},
        {_ADC_SQL},
        short AS (
            SELECT vec_id, adc_d2 FROM adc
            ORDER BY adc_d2, vec_id LIMIT {_RERANK_SHORTLIST}),
        ex AS (
            SELECT s.vec_id, s.adc_d2,
                   CAST(sum(
                       (CAST(round(e.embedding[g.i]::DOUBLE * {_QUANT})
                             AS BIGINT)
                        - CAST(round(q.embedding[g.i]::DOUBLE * {_QUANT})
                               AS BIGINT))
                     * (CAST(round(e.embedding[g.i]::DOUBLE * {_QUANT})
                             AS BIGINT)
                        - CAST(round(q.embedding[g.i]::DOUBLE * {_QUANT})
                               AS BIGINT))
                   ) AS BIGINT) AS exact_d2
            FROM short s
            JOIN embeddings e ON e.vec_id = s.vec_id
            CROSS JOIN q
            CROSS JOIN generate_series(1, {_DIM}) g(i)
            GROUP BY 1, 2)
        SELECT CAST(row_number() OVER (ORDER BY exact_d2, vec_id)
                    AS INTEGER) AS rank,
               vec_id, exact_d2, adc_d2
        FROM ex
        ORDER BY exact_d2, vec_id
        LIMIT {_RERANK_K}
    """,
    tags=("similarity", "ann", "pq", "rerank", "extension"),
)
def q_ann_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (X62) — THE production ANN serving
    pattern: a cheap compressed-domain shortlist (PQ-ADC top-
    {_RERANK_SHORTLIST}: 4 element_at lookups per row over the code
    table, integer LUT math) followed by an exact rerank of ONLY the
    shortlist against the raw vectors (quantized integer squared
    distance — the q_centroids fixed-point recipe, so both engines
    agree to the last bit), returning the top-{_RERANK_K} with both
    distances so callers can audit the compression error directly.

    Scale shape: stage 1 is the q_pq_adc compressed scan ending in a
    {_RERANK_SHORTLIST}-row heap; stage 2 broadcasts that shortlist
    into a hash join against ONE pruned (vec_id, embedding) scan —
    the expensive exact math runs on {_RERANK_SHORTLIST} rows, never
    the corpus, which is exactly why rerank architectures win at
    100 TB: full-precision vectors are touched O(k), not O(N).  The
    final top-{_RERANK_K} is a heap over the {_RERANK_SHORTLIST}
    reranked rows, rank stamped on the bounded result."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb, qvec, qraw = _seed_codebook_query_raw(emb)
    if cb is None:
        return _empty_result(
            emb,
            "rank INT, vec_id BIGINT, exact_d2 BIGINT, adc_d2 BIGINT",
        )
    short = _adc_top10(emb, cb, qvec, k=_RERANK_SHORTLIST)
    qlit = "array(" + ", ".join(str(int(v)) + "L" for v in qvec) + ")"
    exact = (
        emb.join(F.broadcast(short), "vec_id")
        .withColumn(
            "__q",
            F.expr(
                f"transform(embedding, x -> "
                f"CAST(round(CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT))"
            ),
        )
        .select(
            "vec_id",
            "adc_d2",
            F.expr(
                f"aggregate(zip_with(__q, {qlit}, "
                "(a, b) -> (a - b) * (a - b)), 0L, (acc, v) -> acc + v)"
            )
            .cast("long")
            .alias("exact_d2"),
        )
    )
    top = exact.orderBy("exact_d2", "vec_id").limit(_RERANK_K)
    from pyspark.sql import Window as _W

    w = _W.orderBy("exact_d2", "vec_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "vec_id",
        "exact_d2",
        "adc_d2",
    )


# ---------------------------------------------------------------------------
# X85 — batched multi-query IVF-PQ serving (r11)

_IVFPQ_BATCH_QIDS = (0, 17, 42)  # fixed demo probe vectors
_IVFPQ_BATCH_K = 5


def ivfpq_search_many(
    spark: SparkSession,
    index_path: str,
    queries: dict[int, list[float]],
    nprobe: int = _IVFPQ_NPROBE,
    k: int = 10,
    exclude_self: bool = True,
    filters: dict[int, int] | None = None,
    filter_col: str = "label",
) -> DataFrame:
    """Batched ADC top-k over the PERSISTED index — N probe vectors
    answered by ONE partition-pruned codes scan over the UNION of
    every query's probe cells (the bm25_search_many amortization
    applied to ANN): seeds parquet -> codebook/centroid literals
    (one bounded read), per-query probe ranking + LUT driver-side
    (pure arithmetic over the passed vectors), a broadcast
    (qid, cid) probe table joined onto the pruned codes, a broadcast
    (qid, lut) table for the 4 element_at lookups, and per-query
    WindowGroupLimit heaps.  ``queries`` maps qid -> raw query
    vector, supplied by the CALLER (a real serving tier gets query
    embeddings from outside the index; nothing here requires the
    probes to be corpus rows — ``exclude_self`` drops vec_id == qid
    for the audit case where they are).  Batching N queries costs
    one scan of the union cells + N heaps instead of N scans.

    ``filters`` maps qid -> required ``filter_col`` value — the
    PRE-filtering metadata predicate (restricting AFTER a fixed-k
    ANN pass can starve: the unfiltered top-k may contain fewer than
    k — or zero — survivors of the label, tests/test_tombstone.py's
    sibling pin in test_operators.py).  The predicate is applied at
    TWO levels: the union of every query's requested values is
    pushed into the codes scan itself (PushedFilters — the index
    built with ``meta`` carries the column, so row groups prune
    before any ADC math), and the per-query equality rides the
    broadcast probe table so each query sees only ITS label's rows.
    Queries absent from ``filters`` stay unfiltered (their probe
    rows carry NULL, which also disables the scan-level pushdown —
    an unfiltered query must see every label)."""
    from pyspark.sql import Window as _Win

    from .similarity import _rank_cells_py

    if not queries:
        return spark.createDataFrame(
            [], "qid BIGINT, rank INT, vec_id BIGINT, adc_d2 BIGINT"
        )
    raw, c = _load_ivfpq_seeds(spark, index_path, 0)
    if raw is None:
        return spark.createDataFrame(
            [], "qid BIGINT, rank INT, vec_id BIGINT, adc_d2 BIGINT"
        )
    qs = [_quantize(raw[i]) for i in range(_K)]
    cb = [
        [qv[s * _SUBDIM : (s + 1) * _SUBDIM] for qv in qs]
        for s in range(_M)
    ]
    cents = [raw[i] for i in range(c)]
    filters = filters or {}
    probe_rows, lut_rows, union_cells = [], [], set()
    for qid, qv in sorted(queries.items()):
        cells = _rank_cells_py(cents, [float(x) for x in qv])[:nprobe]
        union_cells.update(int(p) for p in cells)
        flt = filters.get(qid)
        probe_rows += [
            (int(qid), int(p), None if flt is None else int(flt))
            for p in cells
        ]
        lut = _adc_lut(cb, _quantize([float(x) for x in qv]))
        lut_rows.append((int(qid), [[int(d) for d in row] for row in lut]))
    probes = spark.createDataFrame(
        probe_rows, "qid LONG, cid INT, __flt INT"
    )
    luts = spark.createDataFrame(
        lut_rows, "qid LONG, lut ARRAY<ARRAY<BIGINT>>"
    )
    adc = " + ".join(
        f"element_at(element_at(lut, {s + 1}), code{s} + 1)"
        for s in range(_M)
    )
    codes = spark.read.parquet(f"{index_path}/codes").filter(
        F.col("cid").isin(sorted(union_cells))
    )
    if filters and all(q in filters for q in queries):
        # every query is filtered: the union of requested values is a
        # scan-level pushed filter — row groups prune before any ADC
        # arithmetic (with one unfiltered query this would be wrong:
        # it must see every value)
        codes = codes.filter(
            F.col(filter_col).isin(sorted({int(v) for v in filters.values()}))
        )
    scored = (
        codes.join(F.broadcast(probes), "cid")
        .join(F.broadcast(luts), "qid")
    )
    if filters:
        scored = scored.filter(
            F.col("__flt").isNull()
            | (F.col(filter_col) == F.col("__flt"))
        )
    scored = scored.select(
        "qid", "vec_id", F.expr(f"CAST({adc} AS BIGINT)").alias("adc_d2")
    )
    if exclude_self:
        scored = scored.filter(F.col("vec_id") != F.col("qid"))
    w = _Win.partitionBy("qid").orderBy("adc_d2", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "vec_id", "adc_d2")
        .orderBy("qid", "rank")
    )


def _ivfpq_batch_oracle() -> str:
    from .similarity import _IVF_ASSIGN_SQL

    qid_vals = ", ".join(f"({q})" for q in _IVFPQ_BATCH_QIDS)
    return f"""
        WITH {_CODES_SQL},
        {_IVF_ASSIGN_SQL},
        qv AS (
            SELECT q.qid, e.embedding
            FROM (VALUES {qid_vals}) q(qid)
            JOIN embeddings e ON e.vec_id = q.qid),
        qcb AS (
            SELECT qid, cid AS qcid FROM (
                SELECT qv.qid, c.cid,
                       row_number() OVER (
                           PARTITION BY qv.qid
                           ORDER BY list_cosine_similarity(
                               c.cemb::DOUBLE[], qv.embedding::DOUBLE[]
                           ) DESC, c.cid ASC) AS qrn
                FROM cents c CROSS JOIN qv)
            WHERE qrn <= {_IVFPQ_NPROBE}),
        lutb AS (
            SELECT qv.qid, subs.s, seeds.cid,
                   sum({_d2_terms('qv', 'seeds')}) AS d2
            FROM qv CROSS JOIN subs CROSS JOIN seeds
            CROSS JOIN generate_series(1, {_SUBDIM}) g(i)
            GROUP BY 1, 2, 3),
        candb AS (
            SELECT qcb.qid, a1.vec_id
            FROM a1 JOIN qcb ON a1.cid = qcb.qcid
            WHERE a1.vec_id <> qcb.qid),
        adcb AS (
            SELECT cb.qid, c.vec_id,
                   CAST(l0.d2 + l1.d2 + l2.d2 + l3.d2 AS BIGINT) AS adc_d2
            FROM codes c
            JOIN candb cb ON cb.vec_id = c.vec_id
            JOIN lutb l0 ON l0.qid = cb.qid AND l0.s = 0 AND l0.cid = c.code0
            JOIN lutb l1 ON l1.qid = cb.qid AND l1.s = 1 AND l1.cid = c.code1
            JOIN lutb l2 ON l2.qid = cb.qid AND l2.s = 2 AND l2.cid = c.code2
            JOIN lutb l3 ON l3.qid = cb.qid AND l3.s = 3 AND l3.cid = c.code3),
        rb AS (
            SELECT qid, vec_id, adc_d2,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY adc_d2, vec_id) AS rank
            FROM adcb)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               vec_id, adc_d2
        FROM rb WHERE rank <= {_IVFPQ_BATCH_K}
        ORDER BY qid, rank
    """


@query(
    "q_ivfpq_batch",
    oracle=_ivfpq_batch_oracle(),
    tags=("similarity", "ann", "pq", "ivf", "batch", "extension"),
)
def q_ivfpq_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched IVF-PQ serving (X85) — the bm25_search_many
    amortization for vector search: the fixed 3-probe demo set
    answered through ivfpq_search_many over the persisted index (one
    union-cell-pruned codes scan, per-query broadcast probe/LUT
    tables, per-query WindowGroupLimit top-{_IVFPQ_BATCH_K}).  The
    oracle recomputes every query's IVF probe + ADC stack
    relationally from the corpus in one chain, so a green row proves
    the batch path answers each query exactly as the single-query
    q_ivfpq_serve machinery would.  Probe vectors enter as CALLER
    data (collected corpus rows here, bounded 3-row read) — the
    serve path itself never touches the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = ensure_ivfpq_index(emb, sf_dir)
    # NULL-embedding probes drop out (registry null-input contract);
    # an empty probe set serves typed empty
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin(list(_IVFPQ_BATCH_QIDS))
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    }
    return ivfpq_search_many(
        spark, path, qrows, k=_IVFPQ_BATCH_K
    )


# ---------------------------------------------------------------------------
# X92 — filtered batched vector serving (r12)

_IVFPQ_BATCH_FILTERS = {0: 2, 17: 5, 42: 7}  # qid -> required label


def _ivfpq_batch_filtered_oracle() -> str:
    from .similarity import _IVF_ASSIGN_SQL

    qf_vals = ", ".join(
        f"({q}, {lbl})" for q, lbl in sorted(_IVFPQ_BATCH_FILTERS.items())
    )
    return f"""
        WITH {_CODES_SQL},
        {_IVF_ASSIGN_SQL},
        qf(qid, flabel) AS (VALUES {qf_vals}),
        qv AS (
            SELECT qf.qid, e.embedding
            FROM qf JOIN embeddings e ON e.vec_id = qf.qid),
        qcb AS (
            SELECT qid, cid AS qcid FROM (
                SELECT qv.qid, c.cid,
                       row_number() OVER (
                           PARTITION BY qv.qid
                           ORDER BY list_cosine_similarity(
                               c.cemb::DOUBLE[], qv.embedding::DOUBLE[]
                           ) DESC, c.cid ASC) AS qrn
                FROM cents c CROSS JOIN qv)
            WHERE qrn <= {_IVFPQ_NPROBE}),
        lutb AS (
            SELECT qv.qid, subs.s, seeds.cid,
                   sum({_d2_terms('qv', 'seeds')}) AS d2
            FROM qv CROSS JOIN subs CROSS JOIN seeds
            CROSS JOIN generate_series(1, {_SUBDIM}) g(i)
            GROUP BY 1, 2, 3),
        candb AS (
            SELECT qcb.qid, a1.vec_id
            FROM a1
            JOIN qcb ON a1.cid = qcb.qcid
            JOIN embeddings me ON me.vec_id = a1.vec_id
            JOIN qf ON qf.qid = qcb.qid AND me.label = qf.flabel
            WHERE a1.vec_id <> qcb.qid),
        adcb AS (
            SELECT cb.qid, c.vec_id,
                   CAST(l0.d2 + l1.d2 + l2.d2 + l3.d2 AS BIGINT) AS adc_d2
            FROM codes c
            JOIN candb cb ON cb.vec_id = c.vec_id
            JOIN lutb l0 ON l0.qid = cb.qid AND l0.s = 0 AND l0.cid = c.code0
            JOIN lutb l1 ON l1.qid = cb.qid AND l1.s = 1 AND l1.cid = c.code1
            JOIN lutb l2 ON l2.qid = cb.qid AND l2.s = 2 AND l2.cid = c.code2
            JOIN lutb l3 ON l3.qid = cb.qid AND l3.s = 3 AND l3.cid = c.code3),
        rb AS (
            SELECT qid, vec_id, adc_d2,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY adc_d2, vec_id) AS rank
            FROM adcb)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               vec_id, adc_d2
        FROM rb WHERE rank <= {_IVFPQ_BATCH_K}
        ORDER BY qid, rank
    """


@query(
    "q_ivfpq_batch_filtered",
    oracle=_ivfpq_batch_filtered_oracle(),
    tags=("similarity", "ann", "pq", "ivf", "batch", "filtered",
          "extension"),
)
def q_ivfpq_batch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered batched vector serving (X92, VERDICT r11 #5) —
    production vector search is almost always "top-k NEAR this,
    WHERE metadata" — composing q_vec_topk_filtered's PRE-filtering
    rationale with the X85 batch path: the index is built with the
    label column riding IN the codes files (meta=("label",) — free
    at build, parquet column pruning hides it from unfiltered
    serves), and each of the 3 demo queries carries its own required
    label.  The union of requested labels prunes the codes SCAN
    (PushedFilters, on top of the union-probe-cell PartitionFilters)
    and the per-query equality rides the broadcast probe table — so
    every query ranks ONLY its label's vectors inside its probe
    cells: pre-filtering, full k available, never the post-filter
    starvation (an unfiltered top-{_IVFPQ_BATCH_K} then filtered
    keeps ~1/10 of k on this fixture's 10-label column —
    pinned in tests/test_operators.py).

    Scale shape: identical to q_ivfpq_batch plus one pushed
    predicate — no corpus scan, no extra join; the oracle replays
    probe + LUT + ADC + the label predicate relationally."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = ensure_ivfpq_index(emb, sf_dir, meta=("label",))
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin(list(_IVFPQ_BATCH_FILTERS))
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    }
    return ivfpq_search_many(
        spark,
        path,
        qrows,
        k=_IVFPQ_BATCH_K,
        filters={q: l for q, l in _IVFPQ_BATCH_FILTERS.items() if q in qrows},
    )
