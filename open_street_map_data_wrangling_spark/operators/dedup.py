"""Deduplication operators — SURVEY.md §2.11 X1/X2 (driver-mandated
training-data-pipeline extensions; the reference has no analog).

Five dedup strategies over `documents`, each a plain DataFrame
program (SURVEY.md §4.2: queries, not engine extensions):

* exact        — content hash, groupBy, keep-min survivor
* MinHash-LSH  — shingle → 8 min-hashes → 4 banded signatures →
                 band-bucket self-join → candidate pairs
* SimHash      — 32-bit parity fingerprint per document
* n-gram Jaccard — exact Jaccard on shingle sets (single-shuffle
                 collect-and-pair generation)
* embedding cosine — near-dup pairs within label buckets
* clustering   — iterative connected components over LSH candidate
                 pairs (survivor = min doc id per component)

Scale notes (100 TB posture):
* Exact dedup shuffles once on the 256-bit hash — uniform by
  construction, no skew.
* LSH banding turns the quadratic all-pairs problem into equi-joins
  on band values; the hot-bucket risk (a band value shared by m docs
  → m² candidates) is the skew to watch — cap bucket size or salt in
  production; AQE's skew-join split handles moderate cases.
* The Jaccard intersection join is on individual shingles — its skew
  is shingle document-frequency (stop-shingles); production would
  drop shingles with df above a cutoff first (same idea as df-based
  stopword removal).
* The oracle-checked hash family is ONE md5 prefix per shingle fed
  through 8 integer universal-hash permutations — exact in both
  engines; the production twin (q_dedup_near_fast) swaps in
  xxhash64 when cross-engine reproducibility is not needed.
"""

from __future__ import annotations

import functools
import logging

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.textfeat import SHINGLES_SQL_CTE, shingles_expr
from ..plans.registry import query
from ..sources.catalog import load_table, read_parquet

_log = logging.getLogger(__name__)

# ---------------------------------------------------------------------------
# X1 — exact dedup


@query(
    "q_dedup_exact",
    oracle="""
        SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
               count(*) AS n_copies
        FROM documents
        GROUP BY sha256(text)
    """,
    tags=("dedup", "extension"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (X1): content-hash groupBy; survivor = min doc_id.
    One shuffle on the hash; at 100 TB this is the cheapest dedup and
    the first pass before any near-dup method."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy(F.sha2("text", 256).alias("content_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


# ---------------------------------------------------------------------------
# X2a — MinHash + LSH candidate pairs

_N_HASHES = 8
_BANDS = 4  # rows-per-band = 2

# Hot-bucket cap: a band value shared by m docs emits m(m-1)/2
# candidate pairs on ONE join task — the quadratic skew killer of
# LSH at scale. Buckets larger than the cap are template/boilerplate
# collisions carrying ~no near-dup signal (the same argument as the
# n-gram df-cutoff) and are dropped BEFORE the self-join, via a
# count-over-window riding the join's own (bi, bv) exchange — no
# extra shuffle, no second pipeline branch. Fixture max bucket
# is 3, so 32 leaves fixture output byte-identical while the pruning
# path still executes (pytest covers a synthetic hot bucket).
_LSH_BUCKET_CAP = 32


def _bucket_size_split(bands: DataFrame, cap: int):
    """(small_rows, big_keys): band rows whose bucket has 2..cap
    members, and the keys of buckets over the cap.

    The count prepass rides the SAME hashpartitioning(bi, bv)
    exchange the downstream member aggregate needs (ReusedExchange —
    CI-pinned), and its output is O(buckets) rows already partitioned
    by the join key, so the prune join is co-partitioned and
    shuffle-free; the shuffle_hash hint skips the SMJ sort of the
    band rows.  Post-join the partitioning survives, so the member
    aggregate that follows adds no exchange either: the whole
    prepass costs one extra map-side-combined count over an exchange
    that already existed.  What it buys is an aggregation buffer
    bounded BY CONSTRUCTION: rows of over-cap buckets never reach
    collect_list, so no buffer ever exceeds cap members no matter how
    degenerate the corpus (the round-3 form collected the full member
    list before filtering on its size — an unbounded, unspillable
    array for a pathological boilerplate family).  Measured at sf0.1
    the prepass form is ~15 % FASTER than the collect-then-filter
    form (1.40 s vs 1.71 s warm) — the dropped rows never enter the
    collect at all."""
    sizes = bands.groupBy("bi", "bv").agg(F.count(F.lit(1)).alias("__n"))
    small_keys = (
        sizes.filter((F.col("__n") >= 2) & (F.col("__n") <= cap)).drop("__n")
    )
    big_keys = sizes.filter(F.col("__n") > cap).drop("__n")
    small_rows = bands.join(small_keys.hint("shuffle_hash"), ["bi", "bv"])
    return small_rows, big_keys


def _all_bucket_pairs(rows: DataFrame, cap: int) -> DataFrame:
    """ALL within-bucket pairs (a, b) with a.doc_id < b.doc_id, from
    (bi, bv, m) rows where m is a struct whose FIRST field is doc_id.

    Recall-preserving twin of _capped_band_pairs: buckets of 2..cap
    members pair up row-locally from one bounded member aggregate;
    over-cap buckets — which pigeonhole-based banding must NOT drop —
    route through an equi-self-join instead, which streams and spills
    where a collect_list buffer cannot.  Both branches ride the same
    (bi, bv) exchange; the fallback branch is empty on any
    non-degenerate corpus and AQE's empty-partition handling makes it
    ~free, but a boilerplate family that floods one band value now
    degrades to spill instead of OOM."""
    sizes = (
        rows.groupBy("bi", "bv")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
    )
    # ONE co-partitioned join attaches the bucket size to every row;
    # both branches are filters over the same joined stream (measured:
    # a two-join form — separate small/big key tables — cost ~15 %
    # more than this at sf0.1).
    rows_n = rows.join(sizes.hint("shuffle_hash"), ["bi", "bv"])
    small_rows = rows_n.filter(F.col("__n") <= cap)
    buckets = small_rows.groupBy("bi", "bv").agg(
        F.array_sort(F.collect_list("m")).alias("ms")
    )
    pair_gen = F.expr(
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms)), y -> struct(x AS a, y AS b))))"
    )
    small_pairs = buckets.select(F.explode(pair_gen).alias("p")).select("p.a", "p.b")
    big_rows = rows_n.filter(F.col("__n") > cap)
    ra, rb = big_rows.alias("ra"), big_rows.alias("rb")
    big_pairs = ra.join(
        rb,
        (F.col("ra.bi") == F.col("rb.bi"))
        & (F.col("ra.bv") == F.col("rb.bv"))
        & (F.col("ra.m.doc_id") < F.col("rb.m.doc_id")),
    ).select(F.col("ra.m").alias("a"), F.col("rb.m").alias("b"))
    return small_pairs.unionAll(big_pairs)


def _capped_band_pairs(bands: DataFrame, cap: int = _LSH_BUCKET_CAP) -> DataFrame:
    """Band-bucket pair generation with hot buckets (> cap members)
    pruned.  A count prepass (one extra aggregate on the reused
    band exchange — see _bucket_size_split) drops over-cap buckets'
    rows BEFORE the member collect, so every aggregation buffer is
    ≤ cap doc_ids by construction; pairs come from row-local
    combinations over the sorted member array — no self-join, no
    window sort, no quadratic join blow-up.  Hot buckets carry ~no
    near-dup signal (template/boilerplate collisions — the same
    argument as the n-gram df-cutoff), so dropping them is the
    semantics, mirrored in the DuckDB oracle.  Shared by the md5
    oracle twin and the xxhash64 production twin."""
    small_rows, _ = _bucket_size_split(bands, cap)
    buckets = small_rows.groupBy("bi", "bv").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ms")
    )
    return (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )

# One digest per shingle, not one per hash function: the round-2 form
# salted md5 _N_HASHES times per shingle (8 digests over the exploded
# shingle table — the single hottest expression in the dedup family).
# The standard fix is a universal hash family over ONE digest:
# h = first 40 bits of md5(sh), m_i = (a_i*h + b_i) mod P with P prime
# < 2^40 and a_i < 2^20, so a_i*h + b_i < 2^60 — exact in BIGINT
# arithmetic in BOTH engines (no overflow, no float), which keeps the
# DuckDB oracle byte-identical. Constants from random.Random(40).
_MH_P = 1099511627689  # largest prime below 2^40
_MH_AB = (
    (480884, 66786), (257206, 592290), (696840, 432713), (134609, 730625),
    (290581, 924345), (858653, 60045), (553120, 272365), (62190, 423589),
)
assert len(_MH_AB) == _N_HASHES


def minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m7) MinHash signature table: 3-gram shingles →
    one 40-bit md5 prefix per shingle → 8 universal-hash permutations
    → min per doc.  One groupBy(doc_id); the signature table is
    |corpus| rows × 8 bigints — the thing worth localCheckpoint'ing
    when several consumers need it (each extra DataFrame consumer of
    this subtree would otherwise replay the shingle explosion)."""
    ex = docs.select(
        "doc_id", F.explode(shingles_expr("text")).alias("sh")
    ).withColumn("__h", F.expr("CAST(conv(substring(md5(sh), 1, 10), 16, 10) AS BIGINT)"))
    return ex.groupBy("doc_id").agg(
        *[
            F.min(F.expr(f"({a} * __h + {b}) % {_MH_P}")).alias(f"m{i}")
            for i, (a, b) in enumerate(_MH_AB)
        ]
    )


def _lsh_bands(mh: DataFrame) -> DataFrame:
    """(doc_id, bi, bv) banded signatures: 4 bands of 2 hashes; the
    band value is the plain '|'-joined pair — equality is all a bucket
    key needs, re-hashing it bought nothing."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("bi"),
                F.concat_ws("|", F.col(f"m{2*j}"), F.col(f"m{2*j+1}")).alias("bv"),
            )
            for j in range(_BANDS)
        ]
    )
    return mh.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv")
    )


_MH_H_SQL = "(('0x' || substr(md5(sh), 1, 10))::BIGINT)"
_MINHASH_COLS_SQL = ",\n               ".join(
    f"min(({a} * {_MH_H_SQL} + {b}) % {_MH_P}) AS m{i}"
    for i, (a, b) in enumerate(_MH_AB)
)
_BAND_SQL = "\n        UNION ALL ".join(
    f"SELECT doc_id, {j} AS bi,"
    f" CAST(m{2*j} AS VARCHAR) || '|' || CAST(m{2*j+1} AS VARCHAR) AS bv FROM mh"
    for j in range(_BANDS)
)


@query(
    "q_dedup_near",
    oracle=f"""
        WITH {SHINGLES_SQL_CTE},
        mh AS (
            SELECT doc_id,
               {_MINHASH_COLS_SQL}
            FROM ex GROUP BY doc_id),
        bands AS ({_BAND_SQL}),
        hot AS (
            SELECT bi, bv FROM bands GROUP BY bi, bv
            HAVING count(*) > {_LSH_BUCKET_CAP}),
        kept AS (
            SELECT * FROM bands ba WHERE NOT EXISTS
                (SELECT 1 FROM hot h WHERE h.bi = ba.bi AND h.bv = ba.bv))
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "lsh", "extension"),
)
def q_dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidates (X2): 3-gram shingles → 8
    min-hashes → 4 bands of 2 → size-capped bucket aggregate →
    row-local pair combinations. The pipeline is shuffle-by-key all
    the way down (no self-join, no all-pairs O(n²)), and the cap
    bounds the worst single bucket's memory and pair blow-up — the
    properties that make near-dup feasible at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    return _capped_band_pairs(_lsh_bands(minhash_sigs(docs)))


def near_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_near's edge list as a content-tagged parquet artifact
    (VERDICT r13 #4): the LSH pair set is the shared input of ~14
    downstream queries (keep-best, savings, clusters, graph family,
    hard negatives, training corpus, family registry text channel),
    and every one of them re-ran the full shingle→minhash→band
    pipeline per call.  The build runs q_dedup_near itself — same
    function the driver hash-verifies — and consumers read the tiny
    (doc_a, doc_b) relation back.  The cache token hashes this module
    plus functions/textfeat (the whole pair-pipeline closure) and the
    documents input signature, so any edit anywhere in the pipeline
    rebuilds.  q_dedup_near's own registry entry still executes the
    live pipeline."""
    import sys

    from ..functions import textfeat
    from .index_cache import cached

    path = cached(
        "lsh_pairs",
        sf_dir,
        ("documents",),
        (sys.modules[__name__], textfeat),
        lambda p: q_dedup_near(spark, sf_dir)
        .write.mode("overwrite")
        .parquet(f"{p}/pairs"),
    )
    return read_parquet(spark, f"{path}/pairs")


def shingles_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashed_shingles(documents) as a content-tagged parquet artifact
    — the DISTINCT (doc_id, shh) relation is recomputed (explode +
    md5 + distinct shuffle) by the containment/jaccard/keep-best
    family on every call; one build serves them all.  Same token
    closure as near_pairs_cached."""
    import sys

    from ..functions import textfeat
    from ..functions.textfeat import hashed_shingles
    from .index_cache import cached

    path = cached(
        "doc_shingles",
        sf_dir,
        ("documents",),
        (sys.modules[__name__], textfeat),
        lambda p: hashed_shingles(load_table(spark, sf_dir, "documents"))
        .write.mode("overwrite")
        .parquet(f"{p}/shingles"),
    )
    return read_parquet(spark, f"{path}/shingles")


# ---------------------------------------------------------------------------
# X2b — SimHash fingerprint

_N_BITS = 32

# SIMD-in-a-register bit-count packing: the naive form is 32 separate
# sum() aggregates (one per fingerprint bit) — measured, the marginal
# cost of each extra aggregate buffer dominated the stage (1 agg
# 1.0 s, 32 aggs 2.5 s at sf0.1). Instead each bigint aggregate packs
# FOUR 16-bit lanes: per token, lane l of word j holds the parity
# (0/1) of md5 hex nibble 4j+l shifted to bit 16l, and a plain sum()
# adds all four lanes at once with no carry between lanes as long as
# a document has < 2^15 tokens (documented bound; lane sums are token
# counts). 8 packed aggregates replace 32. Bit i's one-count unpacks
# as (p[i/4] >> 16*(i%4)) & 0xFFFF; the majority vote "score_i > 0"
# becomes 2*cnt_i > n_toks. Pure integer arithmetic, mirrored exactly
# in the DuckDB oracle.
#
# Nibble extraction (round-3 rewrite): the digest is parsed ONCE per
# token into three bigint chunks (15+15+2 hex chars — 15 fits a
# signed 64-bit exactly), and each lane's parity is a shift-and-mask
# on a chunk. The round-2 form did 32 substring+ascii string ops per
# token — one per bit — which profiled as the hottest expression in
# the simhash family; 3 string parses + 32 integer bit-ops replace
# 32 string parses.
_LANES = 4  # 16-bit lanes per packed bigint
_N_WORDS = _N_BITS // _LANES

# (chunk expr template, 1-based char start, length) per chunk
_CHUNKS = ((1, 15), (16, 15), (31, 2))


def _nibble_parity(i: int, chunk_cols: tuple[str, str, str]) -> str:
    """SQL for parity of 1-based hex char i of the parsed digest."""
    for (start, width), col in zip(_CHUNKS, chunk_cols):
        if start <= i < start + width:
            shift = 4 * (start + width - 1 - i)
            return f"(({col} >> {shift}) & 1)"
    raise ValueError(i)


def _packed_agg_cols():
    cols = []
    for j in range(_N_WORDS):
        expr = " + ".join(
            f"({_nibble_parity(4 * j + l + 1, ('__c1', '__c2', '__c3'))} << {16 * l})"
            for l in range(_LANES)
        )
        cols.append(F.expr(f"sum({expr})").alias(f"p{j}"))
    return cols


_SIMHASH_SCORE_SQL = "count(*) AS n_toks,\n               " + ",\n               ".join(
    "sum("
    + " + ".join(
        f"({_nibble_parity(4 * j + l + 1, ('c1', 'c2', 'c3'))} << {16 * l})"
        for l in range(_LANES)
    )
    + f") AS p{j}"
    for j in range(_N_WORDS)
)
# chunk parses shared by the Spark builder and the DuckDB tk CTE
_SIMHASH_CHUNKS_SPARK = [
    f"CAST(conv(substring(__h, {start}, {width}), 16, 10) AS BIGINT) AS __c{k+1}"
    for k, (start, width) in enumerate(_CHUNKS)
]
_SIMHASH_CHUNKS_SQL = ", ".join(
    f"('0x' || substr(md5(tok), {start}, {width}))::BIGINT AS c{k+1}"
    for k, (start, width) in enumerate(_CHUNKS)
)
_SIMHASH_FP_SQL = " + ".join(
    f"(CASE WHEN 2 * ((p{i // _LANES} >> {16 * (i % _LANES)}) & 65535)"
    f" > n_toks THEN {1 << i} ELSE 0 END)"
    for i in range(_N_BITS)
)


@query(
    "q_dedup_simhash",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        tk AS (
            SELECT doc_id, {_SIMHASH_CHUNKS_SQL} FROM toks),
        scores AS (
            SELECT doc_id,
               {_SIMHASH_SCORE_SQL}
            FROM tk GROUP BY doc_id)
        SELECT doc_id, CAST({_SIMHASH_FP_SQL} AS BIGINT) AS fingerprint
        FROM scores
    """,
    tags=("dedup", "simhash", "extension"),
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint (X2): 32-bit majority-vote fingerprint per
    document; bit i's token hash is the parity of the i-th md5 hex
    char (a deterministic hash family both engines reproduce exactly).
    Bit one-counts are summed 4-per-bigint in 16-bit lanes (see
    _packed_agg_cols) — same fingerprints, 8 aggregate buffers
    instead of 32. Near-dups are then fingerprints at small Hamming
    distance — exact-match buckets or rotated-band buckets, both
    equi-joins."""
    docs = load_table(spark, sf_dir, "documents")
    tk = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .select("doc_id", F.md5("tok").alias("__h"))
        .selectExpr("doc_id", *_SIMHASH_CHUNKS_SPARK)
    )
    scores = tk.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"), *_packed_agg_cols()
    )
    fp = None
    for i in range(_N_BITS):
        cnt = F.expr(f"(p{i // _LANES} >> {16 * (i % _LANES)}) & 65535")
        term = F.when(2 * cnt > F.col("n_toks"), F.lit(1 << i)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return scores.select("doc_id", fp.cast("bigint").alias("fingerprint"))


# ---------------------------------------------------------------------------
# X2c — n-gram Jaccard similarity

_JACCARD_MIN = 0.02


# Stop-shingle cutoff: a shingle present in > K documents contributes
# ≥ K(K-1)/2 candidate pairs and an unbounded collect_list array — it
# is the skew killer of this operator at scale, and (like df-based
# stopword removal) carries ~no near-dup signal. Fixture max df is 14,
# so 100 leaves fixture output byte-identical while the pruning path
# still executes.
_NGRAM_DF_CUTOFF = 100


def ngram_jaccard_pairs(
    docs: DataFrame,
    jaccard_min: float = _JACCARD_MIN,
    df_cutoff: int = _NGRAM_DF_CUTOFF,
) -> DataFrame:
    """Exact n-gram Jaccard over same-lang pairs sharing ≥1 surviving
    shingle. Shingles with document frequency > df_cutoff are dropped
    BEFORE pair generation (numerator and denominator both computed on
    the pruned sets, so Jaccard stays a true set similarity).

    Scale shape (round-3 rewrite): ONE aggregate on (lang, sh)
    produces each shingle's member list, and the df prune is just a
    size filter on that list — the round-2 form ran a separate
    count aggregate plus a broadcast anti-join, which re-ran the
    text explode (scan + shingling, the most expensive expression in
    the query) once per downstream consumer. Per-doc pruned set
    sizes and intersection pairs both derive from the aggregated
    member lists, so the corpus text is scanned and shingled exactly
    once; their re-aggregation rides the (lang, sh) exchange AQE
    already has. The df cutoff bounds every emitted pair fan-out at
    df_cutoff²/2; the transient pre-filter member array is one
    doc_id per occurrence — corpora are exact-deduped before Jaccard
    (X1 then X2c), which removes the identical-boilerplate mass that
    creates degenerate shingle frequencies, and a corpus that still
    has 10^8-doc shingle families needs the round-2 count-first
    prepass reinstated (same rows, one more pass)."""
    ex = docs.select("doc_id", "lang", F.explode(shingles_expr("text")).alias("sh"))
    grouped = ex.groupBy("lang", "sh").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    kept = grouped.filter(F.size("ids") <= df_cutoff)
    sizes = (
        kept.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    pair_gen = F.expr(
        "flatten(transform(sequence(1, size(ids)-1), "
        "i -> transform(slice(ids, i+1, size(ids)-i), "
        "y -> struct(element_at(ids, i) AS a, y AS b))))"
    )
    inter = (
        kept.filter(F.size("ids") > 1)
        .select(F.explode(pair_gen).alias("p"))
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = F.col("i") * 1.0 / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(j >= jaccard_min)
        .select("doc_a", "doc_b", F.round(j, 4).alias("jaccard"))
    )


@query(
    "q_dedup_ngram",
    oracle=f"""
        WITH {SHINGLES_SQL_CTE},
        freq AS (SELECT lang, sh, count(*) AS df FROM ex GROUP BY lang, sh),
        exf AS (
            SELECT e.doc_id, e.lang, e.sh
            FROM ex e JOIN freq f ON e.lang = f.lang AND e.sh = f.sh
            WHERE f.df <= {_NGRAM_DF_CUTOFF}),
        sizes AS (SELECT doc_id, count(*) AS n FROM exf GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
            FROM exf a JOIN exf b
              ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT doc_a, doc_b,
               round(i * 1.0 / (sa.n + sb.n - i), 4) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE i * 1.0 / (sa.n + sb.n - i) >= {_JACCARD_MIN}
    """,
    tags=("dedup", "jaccard", "extension"),
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard (X2) for pairs sharing ≥1 shingle, bounded
    to same-lang pairs and pruned of stop-shingles (df > cutoff) before
    pair generation: |A∩B| via per-shingle pair expansion, |A∪B| from
    per-doc pruned set sizes. The single division keeps float behavior
    identical across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs)


# ---------------------------------------------------------------------------
# X2d — embedding-cosine near-dup pairs

_COS_MIN = 0.3

from ..functions.vectors import cosine_expr  # noqa: E402 — shared vector helpers


@query(
    "q_dedup_embedding",
    oracle=f"""
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                 AS cos_sim
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
              >= {_COS_MIN}
    """,
    tags=("dedup", "embedding", "extension"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (X2): pairs within the same label
    bucket with cosine ≥ 0.3. The label bucket is the blocking key —
    the same role LSH bands play for text; without it the pair join
    is quadratic. Dot products via zip_with/aggregate higher-order
    functions — no UDF, fully codegen'd."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.alias("a")
    b = emb.alias("b")
    cos = cosine_expr("a.embedding", "b.embedding")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos_raw"),
        )
        .filter(F.col("cos_raw") >= _COS_MIN)
        .select("vec_a", "vec_b", F.round("cos_raw", 4).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# X2e — dedup clustering: connected components over candidate pairs

_PAIRS_CTE = f"""
        {SHINGLES_SQL_CTE},
        mh AS (
            SELECT doc_id,
               {_MINHASH_COLS_SQL}
            FROM ex GROUP BY doc_id),
        bands AS ({_BAND_SQL}),
        hotb AS (
            SELECT bi, bv FROM bands GROUP BY bi, bv
            HAVING count(*) > {_LSH_BUCKET_CAP}),
        keptb AS (
            SELECT * FROM bands ba WHERE NOT EXISTS
                (SELECT 1 FROM hotb h WHERE h.bi = ba.bi AND h.bv = ba.bv)),
        pairs AS (
            SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
            FROM keptb a JOIN keptb b
              ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id)
"""


def connected_components(edges_df, nodes_df=None, max_iters: int = 50):
    """Min-label propagation to a fixpoint — the iterative-algorithm
    pattern (each round: one join + one aggregate), run through
    scale.spark_rounds (AQE off, width of the edge list, a lazy cut
    per round).  At 100 TB this is exactly GraphX/GraphFrames
    connected components; the DataFrame form needs no extra library.

    edges_df: (a, b) undirected pairs; nodes_df: (n), or None for the
    edge list's own endpoints.  Returns (n, cluster_id = min node id
    in the component) for every node.

    Round shape (each was measured as a bench regression when absent):
    * `sym` is checkpointed ONCE and the rounds' copy is
      pre-partitioned AND pre-sorted by the probe key `b`, so every
      round's propagation join consumes it with ZERO exchange and
      ZERO sort on the edge side (localCheckpoint preserves both).
    * Self-loops are folded into that copy: min over (neighbors ∪
      self) IS least(own label, neighbor min), so no round joins the
      old label back.
    * Only edge-touched nodes iterate — the label table is sized by
      |dup pairs|, not |corpus| — and it already holds one row per
      endpoint, so with nodes_df=None it IS the result.  A nodes_df
      with isolated nodes re-attaches them (as their own cluster)
      with one left join at the end.
    * ONE action per round: each round starts with an exact decimal
      (count, sum) of the incoming labels, which computes — and so
      materializes — the previous round's lazy cut.  Min-label
      propagation is monotone (every new label <= old), so the sum
      strictly decreases until the fixpoint and "sum unchanged" ==
      "converged"; decimal(38,0) stays exact far beyond any feasible
      node count (10^12 nodes x 2^63 max id ~ 10^31 < 10^38).  No
      labels (no edges) is a fixpoint too.
    * Pointer doubling: each round also compresses label <-
      L_prev(label) against the PREVIOUS round's label snapshot, so
      convergence takes O(log diameter) rounds instead of
      O(diameter).  The snapshot side is one ReusedExchange of the
      labels-by-n exchange the propagation join already built; the
      self-join form recomputed the whole propagation as its parent
      side.
    * Fails loudly: a NULL label-sum probe, or ``max_iters`` computed
      rounds without a fixpoint, raises RuntimeError instead of
      returning unconverged labels."""
    from pyspark.sql import functions as F

    from .scale import spark_rounds

    sym = (
        edges_df.unionByName(
            edges_df.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    seed = (
        sym.select(F.col("a").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("label"))
        .localCheckpoint(eager=False)
    )

    @functools.cache
    def symx():
        # Self-loops make "min over neighbors" include the node's own
        # label; pre-partition+sort by the probe key so every round's
        # join reuses this one exchange (checkpoint preserves both).
        # Built by round 1 inside the round scope, so the lazy cut
        # plans with AQE off and round 1's probe materializes it.
        return (
            sym.unionByName(seed.select(F.col("n").alias("a"),
                                        F.col("n").alias("b")))
            .repartition(max(1, sym.rdd.getNumPartitions()), "b")
            .sortWithinPartitions("b")
            .localCheckpoint(eager=False)
        )

    prev_sum = None

    def step(labels):
        nonlocal prev_sum
        # ONE action per round: the probe computes (and thereby
        # checkpoint-persists) the previous round's labels and answers
        # convergence through the monotone exact label sum
        n, cur_sum = labels.agg(
            F.count("*"), F.sum(F.col("label").cast("decimal(38,0)"))
        ).first()
        if n == 0:
            return None
        if cur_sum is None:
            raise RuntimeError(
                "connected_components: the label-sum convergence "
                "probe returned NULL"
            )
        if cur_sum == prev_sum:
            return None
        prev_sum = cur_sum
        sx = symx()
        upd0 = (
            sx.join(labels, sx.b == labels.n)
            .groupBy("a")
            .agg(F.min("label").alias("label"))
            .select(F.col("a").alias("n"), "label")
        )
        # pointer doubling against the previous snapshot: the parent
        # relation is `labels` itself keyed by n, so its exchange is
        # REUSED from the propagation join above
        parent = labels.select(
            F.col("n").alias("label"), F.col("label").alias("__gl")
        )
        return upd0.join(parent, "label", "left").select(
            "n",
            F.least(
                F.col("label"), F.coalesce(F.col("__gl"), F.col("label"))
            ).alias("label"),
        )

    labels, converged = spark_rounds(
        seed, step, width_of=sym, max_rounds=max_iters + 1,
        what="connected components",
    )
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iters} rounds"
        )
    if nodes_df is None:
        return labels.select("n", F.col("label").alias("cluster_id"))
    return (
        nodes_df.join(labels, "n", "left")
        .select("n", F.coalesce(F.col("label"), F.col("n")).alias("cluster_id"))
    )


def greedy_chain_rejects(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Id-order greedy selection over candidate pairs: accept each doc
    iff it has no ACCEPTED smaller near-dup neighbor; return the
    rejected doc_ids.  This is the batch-internal twin of the
    streaming store probe (which also rejects only against accepted
    docs), so the whole ingest obeys ONE rule: a document is rejected
    iff it collides with an accepted document.  Contrast the
    reject-every-doc_b form, which in a chain a~b, b~c also drops c
    even though its only near-dup (b) was itself dropped — silent loss
    of a unique document — and the connected-components form, which
    drops c against a representative it never collided with.

    pairs: (doc_a, doc_b) with doc_a < doc_b.  Iterative peel along
    the id-ordered DAG: each round accepts every doc whose smaller
    neighbors are all decided-rejected (in-degree zero after edge
    removal), rejects every larger neighbor of a just-accepted doc,
    then drops decided endpoints' edges.  Rounds = longest surviving
    candidate chain, not component diameter — chains beyond a few
    links are template collisions the LSH bucket cap already prunes.
    The rounds run through scale.spark_rounds at the width of the
    cut pair set; each round runs one action, the ``limit(1).count()``
    probe, which also materializes the previous round's lazy cut of
    the undecided pairs.  Docs left undecided at max_iters are
    rejected conservatively (dedup must never over-admit), with one
    WARNING on this module's logger."""
    from .scale import spark_rounds

    e0 = pairs.select("doc_a", "doc_b").distinct().localCheckpoint()
    rejected = []

    def step(e):
        if e.limit(1).count() == 0:
            return None
        # accept: docs that never appear as a larger member (no
        # undecided-or-accepted smaller neighbor remains)
        acc = e.select(F.col("doc_a").alias("doc_id")).subtract(
            e.select(F.col("doc_b").alias("doc_id"))
        )
        # reject: larger neighbors of a just-accepted doc
        rej = (
            e.join(acc, e.doc_a == acc.doc_id, "left_semi")
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
        )
        rejected.append(rej)
        decided = acc.unionByName(rej)
        return e.join(decided, e.doc_a == decided.doc_id, "left_anti").join(
            decided, e.doc_b == decided.doc_id, "left_anti"
        )

    e, converged = spark_rounds(
        e0, step, width_of=e0, max_rounds=max_iters, what="greedy chain"
    )
    if not converged:
        # the round budget is spent; the last round may still have
        # decided every doc, so warn only when some are left
        if e.head(1):
            _log.warning(
                "greedy_chain_rejects: docs left undecided after the "
                "round budget (max_iters=%d); rejecting them",
                max_iters,
            )
        # reject everything still undecided
        rejected.append(
            e.select(F.col("doc_a").alias("doc_id")).unionByName(
                e.select(F.col("doc_b").alias("doc_id"))
            )
        )
    if not rejected:
        return pairs.select(F.col("doc_a").alias("doc_id")).limit(0)
    return functools.reduce(DataFrame.unionByName, rejected).distinct()


@query(
    "q_dedup_clusters",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges AS (SELECT pa AS a, pb AS b FROM pairs
                  UNION SELECT pb, pa FROM pairs),
        reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        )
        SELECT d.doc_id AS n,
               least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
        FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        GROUP BY d.doc_id
    """,
    tags=("dedup", "iterative", "extension"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering (X2 capstone): LSH candidate pairs →
    connected components → cluster id = min doc id (which IS the
    dedup survivor, so `SELECT DISTINCT cluster_id` is the kept set).
    Spark runs iterative min-label propagation; the oracle computes
    the same fixpoint via a recursive transitive-closure CTE —
    an exact cross-engine check of an iterative algorithm.

    The candidate pairs are the cached near-pair artifact, a small
    parquet read, so connected_components consumes them uncut; the
    corpus is its node set, since most documents have no pair."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    nodes = docs.select(F.col("doc_id").alias("n"))
    return connected_components(pairs, nodes)


@query(
    "q_simhash_pairs",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        tk AS (
            SELECT doc_id, {_SIMHASH_CHUNKS_SQL} FROM toks),
        scores AS (
            SELECT doc_id,
               {_SIMHASH_SCORE_SQL}
            FROM tk GROUP BY doc_id),
        fp AS (
            SELECT doc_id, CAST({_SIMHASH_FP_SQL} AS BIGINT) AS fingerprint
            FROM scores)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.fingerprint
        FROM fp a JOIN fp b
          ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "simhash", "extension"),
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate pairs (X2): exact-fingerprint buckets — the
    Hamming-distance-0 tier of simhash dedup. Hamming ≤ k would add
    rotated-band buckets (split the fingerprint into k+1 bands; equal
    in any band → candidate), the same banding trick as MinHash-LSH;
    the equi-join shape is identical."""
    fp = q_dedup_simhash(spark, sf_dir)
    a, b = fp.alias("a"), fp.alias("b")
    return a.join(
        b,
        (F.col("a.fingerprint") == F.col("b.fingerprint"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.fingerprint").alias("fingerprint"),
    )


# Hamming ≤ k banding: a pair differing in ≤ k of the 32 fingerprint
# bits must agree exactly on at least one of k+1 disjoint bit bands
# (pigeonhole), so the quadratic all-pairs scan reduces to k+1
# equi-joins + an exact bit_count verify on the candidates.
_HAMMING_K = 1
_SIMHASH_BANDS = ((0, 16), (16, 16))  # (bit offset, width): k+1 bands

_SIMHASH_BANDS_SQL = "\n        UNION ALL ".join(
    f"SELECT doc_id, fingerprint, {j} AS bi,"
    f" (fingerprint >> {off}) & {(1 << w) - 1} AS bv FROM fp"
    for j, (off, w) in enumerate(_SIMHASH_BANDS)
)


@query(
    "q_simhash_near",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        tk AS (
            SELECT doc_id, {_SIMHASH_CHUNKS_SQL} FROM toks),
        scores AS (
            SELECT doc_id,
               {_SIMHASH_SCORE_SQL}
            FROM tk GROUP BY doc_id),
        fp AS (
            SELECT doc_id, CAST({_SIMHASH_FP_SQL} AS BIGINT) AS fingerprint
            FROM scores),
        bands AS ({_SIMHASH_BANDS_SQL})
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INTEGER)
                 AS hamming
        FROM bands a JOIN bands b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.fingerprint, b.fingerprint)) <= {_HAMMING_K}
    """,
    tags=("dedup", "simhash", "extension"),
)
def q_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance ≤ k (X2): the
    rotated-band tier q_simhash_pairs's distance-0 buckets lack. The
    32-bit fingerprint splits into k+1 = 2 disjoint 16-bit bands
    (band width sets blocking power: expected bucket size is n/2^w,
    so wider bands keep the candidate join linear as n grows);
    band-equal candidates are verified with an exact
    bit_count(a XOR b) <= k filter — all equi-joins, so recall is
    exact for distance ≤ k with zero quadratic blow-up. At 100 TB the
    skew watch-point is a degenerate band value (e.g. all-zero band
    from short docs), same mitigation family as MinHash hot buckets.

    Scan discipline (r08, mirroring the r07 ANN collapse): the
    fingerprint relation feeds BOTH sides of the band self-join (and
    the over-cap fallback adds two more consumers) — uncut, each
    consumer recompiled the full tokenize+score pipeline from the
    corpus scan (8 executed FileScans measured at r07).
    localCheckpoint pins (doc_id, fingerprint) — 12 bytes/doc — so
    the corpus is tokenized exactly once per run."""
    fp = q_dedup_simhash(spark, sf_dir).localCheckpoint(eager=False)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("bi"),
                F.expr(
                    f"shiftright(fingerprint, {off}) & {(1 << w) - 1}"
                ).alias("bv"),
            )
            for j, (off, w) in enumerate(_SIMHASH_BANDS)
        ]
    )
    bands = fp.select("doc_id", "fingerprint", F.explode(band_structs).alias("b")).select(
        "doc_id", "fingerprint", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv")
    )
    # Unlike MinHash-LSH, the pigeonhole guarantee needs EVERY
    # bucket's pairs, so over-cap buckets fall back to a spillable
    # self-join instead of being dropped (_all_bucket_pairs).
    rows = bands.select("bi", "bv", F.struct("doc_id", "fingerprint").alias("m"))
    hamming = F.bit_count(
        F.col("a.fingerprint").bitwiseXOR(F.col("b.fingerprint"))
    ).cast("int")
    return (
        _all_bucket_pairs(rows, _LSH_BUCKET_CAP)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= _HAMMING_K)
        .distinct()
    )


def _near_fast_oracle() -> str:
    """DuckDB twin of the xxhash64 LSH pipeline — the r14 promotion
    of q_dedup_near_fast from rows-only to hash-green (VERDICT r13
    #7).  DuckDB has no xxhash64 builtin, so functions/xxh64_sql.py
    EMITS the algorithm itself: exact XXH64 over each shingle's
    bytes (seed 42), the 4-byte specialization for the F.lit(i)
    permutation index, the 8-byte specialization chained across the
    two band minhashes — all in int128-safe mod-2^64 arithmetic with
    sequential state chains as list_reduce folds.  The band
    cap/bucket/pair tail is byte-identical to q_dedup_near's."""
    from ..functions.xxh64_sql import (
        to_signed,
        to_u64,
        xxh64_int_expr,
        xxh64_long_expr,
        xxh64_str_ctes,
    )

    # the 8 permutation hashes run once per DISTINCT shingle (xi),
    # then join back to per-doc occurrences for the min aggregate
    xi_cols = ",\n               ".join(
        f"{to_signed(xxh64_int_expr(i, 'shh'))} AS h{i}"
        for i in range(_N_HASHES)
    )
    mh_cols = ",\n               ".join(
        f"min(h{i}) AS m{i}" for i in range(_N_HASHES)
    )
    band_branches = "\n            UNION ALL ".join(
        f"SELECT doc_id, {j} AS bi, "
        + to_signed(
            xxh64_long_expr(
                to_u64(f"m{2 * j + 1}"),
                xxh64_long_expr(to_u64(f"m{2 * j}"), "42"),
            )
        )
        + " AS bv FROM mh"
        for j in range(_BANDS)
    )
    return f"""
        WITH {SHINGLES_SQL_CTE},
        {xxh64_str_ctes('ex')},
        xi AS MATERIALIZED (
            SELECT sh,
               {xi_cols}
            FROM xh),
        mh AS MATERIALIZED (
            SELECT e.doc_id,
               {mh_cols}
            FROM ex e JOIN xi USING (sh) GROUP BY e.doc_id),
        bands AS MATERIALIZED ({band_branches}),
        hot AS (
            SELECT bi, bv FROM bands GROUP BY bi, bv
            HAVING count(*) > {_LSH_BUCKET_CAP}),
        kept AS (
            SELECT * FROM bands ba WHERE NOT EXISTS
                (SELECT 1 FROM hot h WHERE h.bi = ba.bi AND h.bv = ba.bv))
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM kept a JOIN kept b
          ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id
    """


@query(
    "q_dedup_near_fast",
    oracle=_near_fast_oracle(),
    tags=("dedup", "lsh", "extension"),
)
def q_dedup_near_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production MinHash-LSH (X2): identical pipeline to q_dedup_near
    (including the hot-bucket cap) but with xxhash64 as the hash
    family — JVM-intrinsic, no hex strings through the shuffle (8
    longs instead of 8×32-char strings per doc).

    HASH-GREEN as of r14 (formerly the one deliberately-rows-only
    deterministic entry): the oracle re-implements Spark's xxhash64
    in DuckDB SQL (functions/xxh64_sql.py — int128-safe mod-2^64
    arithmetic, list_reduce state folds, the string/int/long
    specializations of catalyst's XXH64), so the engine-native hash
    family is now verified bit-for-bit cross-engine, not just
    replayed in Python.  The bench contrast with the md5 twin
    (q_dedup_near) is unchanged — the Spark side still shuffles 8
    longs per doc instead of 8 hex strings.  The Python replay pin
    (tests/test_operators.py::
    test_lsh_hash_families_find_identical_dup_groups) remains."""
    docs = load_table(spark, sf_dir, "documents")
    ex = docs.select("doc_id", F.explode(shingles_expr("text")).alias("sh"))
    mh = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("sh"), F.lit(i))).alias(f"m{i}")
            for i in range(_N_HASHES)
        ]
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("bi"),
                F.xxhash64(F.col(f"m{2*j}"), F.col(f"m{2*j+1}")).alias("bv"),
            )
            for j in range(_BANDS)
        ]
    )
    bands = mh.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", F.col("b.bi").alias("bi"), F.col("b.bv").alias("bv")
    )
    return _capped_band_pairs(bands)


@query(
    "q_dedup_incremental",
    oracle="""
        WITH corpus AS (
            SELECT sha256(text) AS h FROM documents WHERE doc_id < 400),
        batch AS (
            SELECT doc_id, sha256(text) AS h, source
            FROM documents WHERE doc_id >= 400)
        SELECT b.source,
               CAST(count(*) AS BIGINT) AS n_batch,
               CAST(count(*) FILTER (c.h IS NULL) AS BIGINT) AS n_new,
               CAST(count(*) FILTER (c.h IS NOT NULL) AS BIGINT) AS n_dup
        FROM batch b LEFT JOIN (SELECT DISTINCT h FROM corpus) c
          ON b.h = c.h
        GROUP BY b.source
    """,
    tags=("dedup", "incremental", "extension"),
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (X1 production shape): a new batch is
    admitted only where its content hash is absent from the existing
    corpus — the daily-crawl pattern where the corpus is orders of
    magnitude larger than the batch. The batch side is hashed and
    LEFT-joined against the corpus hash set; at 100 TB the corpus
    hashes live as a bucketed table on h so the probe is a
    co-partitioned join with no corpus shuffle (or a bloom-filter
    pre-screen when false positives are re-checkable). Here the
    corpus/batch split is doc_id < 400 over the fixture table.
    Reported per batch source: total, genuinely new, already-seen."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.filter(F.col("doc_id") < 400)
        .select(F.sha2("text", 256).alias("h"))
        .distinct()
        .withColumn("__seen", F.lit(True))
    )
    batch = docs.filter(F.col("doc_id") >= 400).select(
        "doc_id", "source", F.sha2("text", 256).alias("h")
    )
    flagged = batch.join(corpus, "h", "left")
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_batch"),
        F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).cast("bigint").alias("n_new"),
        F.sum(F.when(F.col("__seen").isNotNull(), 1).otherwise(0)).cast("bigint").alias("n_dup"),
    )


@query(
    "q_minhash_estimate",
    oracle=f"""
        WITH {_PAIRS_CTE},
        est AS (
            SELECT p.pa, p.pb,
                   {" + ".join(f"(CASE WHEN ma.m{i} = mb.m{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES))}
                     AS matches_of_8
            FROM pairs p
            JOIN mh ma ON ma.doc_id = p.pa
            JOIN mh mb ON mb.doc_id = p.pb),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id),
        inter AS (
            SELECT p.pa, p.pb, count(*) AS n_inter
            FROM pairs p
            JOIN ex ea ON ea.doc_id = p.pa
            JOIN ex eb ON eb.doc_id = p.pb AND eb.sh = ea.sh
            GROUP BY p.pa, p.pb)
        SELECT e.pa AS doc_a, e.pb AS doc_b,
               CAST(e.matches_of_8 AS BIGINT) AS matches_of_8,
               CAST(10000 * e.matches_of_8 // 8 AS BIGINT) AS est_x10k,
               CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
               CAST(sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0) AS BIGINT)
                 AS n_union,
               CAST(10000 * coalesce(i.n_inter, 0)
                    // (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))
                    AS BIGINT) AS jacc_x10k
        FROM est e
        LEFT JOIN inter i ON i.pa = e.pa AND i.pb = e.pb
        JOIN sizes sa ON sa.doc_id = e.pa
        JOIN sizes sb ON sb.doc_id = e.pb
    """,
    tags=("dedup", "lsh", "audit", "extension"),
)
def q_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash honesty audit (X2): for every LSH candidate pair,
    the sketch-estimated Jaccard (fraction of agreeing min-hashes)
    NEXT TO the exact shingle-set Jaccard — the measurement that
    tells you whether 8 hashes/4 bands is enough for your corpus,
    the same role q_ann_recall plays for IVF. Exact Jaccard is only
    computed on candidate pairs (|pairs| << n²), so the audit costs
    one shingle equi-join over the candidates, not an all-pairs scan.
    Both ratios integer-scaled x10^4.

    Sharing discipline (round-3 rewrite — this query was the bench's
    second-slowest at 3.1 s because it built the signature pipeline
    TWICE, once itself and once inside q_dedup_near): the signature
    table `mh` is computed once and localCheckpoint'd (|corpus| rows
    × 8 hashes — cheap to pin), candidate pairs derive from the
    *checkpointed* signatures, and the exact-Jaccard branch only
    shingles CANDIDATE-PAIR MEMBERS — a broadcast semi-join against
    the checkpointed pair set restricts the shingle explosion and the
    set-size aggregate to |candidate docs| rows before any self-join.
    At 100 TB candidate members are a vanishing fraction of the
    corpus, so the audit costs a corpus scan (for signatures) plus
    candidate-sized work, not two more corpus passes. The oracle
    computes sizes over the full corpus — equal results because sizes
    only ever joins on pair members."""
    docs = load_table(spark, sf_dir, "documents")
    mh = minhash_sigs(docs).localCheckpoint()
    pairs = (
        _capped_band_pairs(_lsh_bands(mh))
        .select(F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb"))
        .localCheckpoint()
    )
    pair_docs = (
        pairs.select(F.explode(F.array("pa", "pb")).alias("doc_id")).distinct()
    )
    # ex feeds THREE consumers (sizes + both sides of the exact-
    # intersection self-join); uncut, each recompiled the semi-join +
    # shingle explosion from its own corpus scan (7 executed FileScans
    # measured at r07).  localCheckpoint pins the candidate-member
    # shingles — bounded by |candidate docs| × shingles/doc, a
    # vanishing fraction of the corpus at 100 TB — so the corpus is
    # scanned once for signatures and once for candidate members.
    ex = (
        docs.join(F.broadcast(pair_docs), "doc_id", "semi")
        .select("doc_id", F.explode(shingles_expr("text")).alias("sh"))
        .localCheckpoint(eager=False)
    )
    matches = None
    for i in range(_N_HASHES):
        t = F.when(F.col(f"ma.m{i}") == F.col(f"mb.m{i}"), 1).otherwise(0)
        matches = t if matches is None else matches + t
    est = (
        pairs.join(mh.alias("ma"), F.col("pa") == F.col("ma.doc_id"))
        .join(mh.alias("mb"), F.col("pb") == F.col("mb.doc_id"))
        .select("pa", "pb", matches.alias("matches_of_8"))
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        pairs.join(ex.alias("ea"), F.col("pa") == F.col("ea.doc_id"))
        .join(
            ex.alias("eb"),
            (F.col("pb") == F.col("eb.doc_id")) & (F.col("ea.sh") == F.col("eb.sh")),
        )
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        est.join(inter, ["pa", "pb"], "left")
        .join(sizes.alias("sa"), F.col("pa") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("pb") == F.col("sb.doc_id"))
    )
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0))
    n_union = F.col("sa.n_sh") + F.col("sb.n_sh") - n_inter
    return out.select(
        F.col("pa").alias("doc_a"),
        F.col("pb").alias("doc_b"),
        F.col("matches_of_8").cast("bigint").alias("matches_of_8"),
        (10000 * F.col("matches_of_8").cast("bigint") / 8).cast("bigint").alias("est_x10k"),
        n_inter.cast("bigint").alias("n_inter"),
        n_union.cast("bigint").alias("n_union"),
        F.expr(
            "CAST(10000 * coalesce(n_inter, 0) div "
            "(sa.n_sh + sb.n_sh - coalesce(n_inter, 0)) AS BIGINT)"
        ).alias("jacc_x10k"),
    )


@query(
    "q_chunk_dedup",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        chunks AS (
            SELECT doc_id, i AS chunk_no,
                   md5(array_to_string(t[(i * 10 + 1):((i + 1) * 10)], ' '))
                     AS chunk_hash
            FROM toks, unnest(range(0, (len(t) + 9) // 10)) AS r(i)),
        freq AS (
            SELECT chunk_hash, count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs
            FROM chunks GROUP BY chunk_hash)
        SELECT CAST(count(*) AS BIGINT) AS n_chunks,
               CAST(count(*) FILTER (n_occurrences > 1) AS BIGINT)
                 AS n_repeated,
               CAST(sum(n_occurrences) AS BIGINT) AS total_occurrences,
               CAST(sum(n_occurrences) FILTER (n_occurrences > 1)
                    AS BIGINT) AS repeated_occurrences,
               CAST(max(n_docs) AS BIGINT) AS max_docs_sharing
        FROM freq
    """,
    tags=("dedup", "chunk", "extension"),
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (chunk-level) dedup stats (X2 extension): the
    C4/RefinedWeb-style pass that removes repeated BOILERPLATE inside
    otherwise-distinct documents. Documents are cut into fixed
    10-token chunks row-locally (slice over an index sequence — no
    window), each chunk content-hashed, then one uniform groupBy on
    the hash. Reports corpus-level duplication: distinct chunks,
    repeated chunks, occurrence mass, and the widest cross-document
    share. At 100 TB this is exact dedup's shape (hash groupBy, zero
    skew by construction) at chunk granularity — the follow-up
    "rewrite docs dropping repeated chunks" is a semi-join of chunks
    against the repeated set."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    chunks_arr = F.transform(
        F.sequence(
            F.lit(0), F.expr("CAST((size(split(text, ' ')) + 9) div 10 AS INT) - 1")
        ),
        lambda i: F.struct(
            i.alias("chunk_no"),
            F.md5(
                F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10))
            ).alias("chunk_hash"),
        ),
    )
    chunks = docs.select("doc_id", F.explode(chunks_arr).alias("c")).select(
        "doc_id", F.col("c.chunk_hash").alias("chunk_hash")
    )
    freq = chunks.groupBy("chunk_hash").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    rep = F.col("n_occurrences") > 1
    return freq.agg(
        F.count("*").alias("n_chunks"),
        F.sum(rep.cast("bigint")).alias("n_repeated"),
        F.sum("n_occurrences").cast("bigint").alias("total_occurrences"),
        F.coalesce(F.sum(F.when(rep, F.col("n_occurrences"))), F.lit(0))
        .cast("bigint")
        .alias("repeated_occurrences"),
        F.max("n_docs").cast("bigint").alias("max_docs_sharing"),
    )


@query(
    "q_leakage_safe_split",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges AS (SELECT pa AS a, pb AS b FROM pairs
                  UNION SELECT pb, pa FROM pairs),
        reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        clusters AS (
            SELECT d.doc_id AS n,
                   least(d.doc_id, coalesce(min(r.dst), d.doc_id)) AS cluster_id
            FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
            GROUP BY d.doc_id)
        SELECT n AS doc_id, cluster_id,
               CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 1) <= 'b'
                    THEN 'train' ELSE 'test' END AS split
        FROM clusters
        ORDER BY doc_id
    """,
    tags=("pipeline", "dedup", "iterative", "extension"),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split: the q_split hash rule applied to
    the near-dup CLUSTER representative instead of the document, so
    every member of a cluster lands on the same side by construction
    — the curation step that closes the leak q_contamination
    measures (a near-copy of a training doc can never reach the test
    set).  Cost on top of clustering: one rowwise md5 — the expensive
    part (LSH pairs → connected components) is the same pass
    q_dedup_clusters already runs, and a production pipeline splits
    FROM the materialized cluster table rather than re-deriving it."""
    comp = q_dedup_clusters(spark, sf_dir)
    return comp.select(
        F.col("n").alias("doc_id"),
        "cluster_id",
        F.when(
            F.substring(F.md5(F.col("cluster_id").cast("string")), 1, 1) <= "b",
            "train",
        )
        .otherwise("test")
        .alias("split"),
    )


_CONSENSUS_TAU = 0.15


@query(
    "q_dedup_consensus",
    oracle=f"""
        WITH {_PAIRS_CTE}
        SELECT p.pa AS doc_a, p.pb AS doc_b,
               round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4)
                 AS cos_sim,
               list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                 >= {_CONSENSUS_TAU} AS semantic_agree
        FROM pairs p
        JOIN embeddings ea ON ea.vec_id = p.pa
        JOIN embeddings eb ON eb.vec_id = p.pb
    """,
    tags=("dedup", "lsh", "embedding", "extension"),
)
def q_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-signal near-dup verification: every LSH candidate pair is
    re-scored by the cosine of the two documents' embeddings — the
    lexical-recall / semantic-precision split production dedup runs
    (MinHash surfaces candidates cheaply; the embedding check kills
    template-collision false positives whose MEANING differs).  The
    semantic pass is candidate-bounded: two broadcast-able joins
    against the pair list, never an all-pairs cosine — at 100 TB the
    expensive signal is only ever computed on the cheap signal's
    output.  Emits every candidate with its cosine and the agreement
    flag rather than filtering, so downstream policy (and the
    oracle) sees the full confusion surface."""
    pairs = near_pairs_cached(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    ea = emb.select(F.col("vec_id").alias("doc_a"), F.col("embedding").alias("a_emb"))
    eb = emb.select(F.col("vec_id").alias("doc_b"), F.col("embedding").alias("b_emb"))
    cos = cosine_expr("a_emb", "b_emb")
    return (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(cos, 4).alias("cos_sim"),
            (cos >= F.lit(_CONSENSUS_TAU)).alias("semantic_agree"),
        )
    )


# ---------------------------------------------------------------------------
# X2f — prefix-filtered set-similarity join (added r06)

_PREFIX_K = 3
_SETSIM_MIN_X10K = 5000
# Hot prefix-token cap, the q_setsim analogue of _LSH_BUCKET_CAP: a
# token claimed by m prefixes yields m(m-1)/2 candidates, and on a
# template-heavy corpus "rarest" degenerates (measured at sf0.1: one
# token in 3 823 of 5 000 prefixes → 11.5 M candidates, 8.7 M of them
# TRUE pairs — the corpus is so dup-heavy that pair output itself is
# quadratic).  Tokens over the cap are boilerplate by construction and
# are dropped from candidate generation; every emitted pair still
# carries its exact Jaccard.
_PREFIX_TOK_CAP = 64


@query(
    "q_setsim_prefix",
    oracle=f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        dfc AS (
            SELECT doc_id, tok, count(*) OVER (PARTITION BY tok) AS df
            FROM toks),
        prefix AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id, tok,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY df ASC, tok ASC) AS rn
                FROM dfc) WHERE rn <= {_PREFIX_K}),
        bounded AS (
            SELECT doc_id, tok FROM (
                SELECT doc_id, tok,
                       count(*) OVER (PARTITION BY tok) AS ptf
                FROM prefix) WHERE ptf <= {_PREFIX_TOK_CAP}),
        cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bounded a JOIN bounded b
              ON a.tok = b.tok AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM toks
                  GROUP BY doc_id),
        inter AS (
            SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS i
            FROM cand c
            JOIN toks a ON a.doc_id = c.doc_a
            JOIN toks b ON b.doc_id = c.doc_b AND b.tok = a.tok
            GROUP BY 1, 2)
        SELECT i.doc_a, i.doc_b, i.i AS inter_toks,
               CAST(10000 * i.i // (sa.n + sb.n - i.i) AS BIGINT)
                   AS jaccard_x10k
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE 10000 * i.i // (sa.n + sb.n - i.i) >= {_SETSIM_MIN_X10K}
    """,
    tags=("dedup", "jaccard", "prefix-filter", "extension"),
)
def q_setsim_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity join via PREFIX FILTERING (the ppjoin family) —
    the deterministic complement of MinHash-LSH candidate generation:
    two documents can be similar only if their rarest tokens overlap,
    so candidates come from joining each doc's {_PREFIX_K} globally
    rarest tokens (ties to token text) instead of hashed bands, and
    every candidate is then EXACTLY verified by token-set Jaccard
    (integer x10k, >= {_SETSIM_MIN_X10K}).  Fixed-k prefix is the
    simplified variant: recall is bounded by the prefix length rather
    than exact at a threshold, which is the same honesty class as the
    capped LSH form — and unlike LSH there is no hash-collision false
    positive, every emitted pair carries its true Jaccard.

    Scale: df ranks and prefix ranks are windows over the one distinct
    (doc, tok) aggregate, and — the lesson the r06 bench taught —
    "rarest" is NOT a size bound on a template-heavy corpus: at sf0.1
    one token landed in 3 823 of 5 000 prefixes (11.5 M candidates,
    98 s; 8.7 M of them genuinely Jaccard ≥ 0.5, so even a perfect
    filter emits quadratic output).  Prefix-token posting lists are
    therefore capped at {_PREFIX_TOK_CAP} by a count-over-window that
    rides the SAME hashpartitioning(tok) exchange the candidate
    self-join needs (ReusedExchange, the _capped_band_pairs posture):
    over-cap tokens are boilerplate by definition and are dropped,
    bounding candidates at cap²/2 per token BY CONSTRUCTION; the
    verify joins touch only surviving candidates.  One corpus scan
    feeds everything."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan: (doc, tok) feeds the df ranks, the set sizes
    # and both verify-join sides — checkpointed once, the dedup
    # family's signature-reuse posture
    toks = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dfc = toks.withColumn("df", F.count("*").over(W.partitionBy("tok")))
    prefix = (
        dfc.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
            ),
        )
        .filter(F.col("rn") <= _PREFIX_K)
        .select("doc_id", "tok")
    )
    bounded = (
        prefix.withColumn("ptf", F.count("*").over(W.partitionBy("tok")))
        .filter(F.col("ptf") <= _PREFIX_TOK_CAP)
        .select("doc_id", "tok")
    )
    pa, pb = bounded.alias("pa"), bounded.alias("pb")
    cand = (
        pa.join(pb, F.col("pa.tok") == F.col("pb.tok"))
        .filter(F.col("pa.doc_id") < F.col("pb.doc_id"))
        .select(
            F.col("pa.doc_id").alias("doc_a"), F.col("pb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sizes = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    ta, tb = toks.alias("ta"), toks.alias("tb")
    inter = (
        cand.join(ta, F.col("ta.doc_id") == F.col("doc_a"))
        .join(
            tb,
            (F.col("tb.doc_id") == F.col("doc_b"))
            & (F.col("tb.tok") == F.col("ta.tok")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("inter_toks"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard_x10k",
            F.expr(
                "CAST(10000 * inter_toks div (na + nb - inter_toks) AS BIGINT)"
            ),
        )
        .filter(F.col("jaccard_x10k") >= _SETSIM_MIN_X10K)
        .select("doc_a", "doc_b", "inter_toks", "jaccard_x10k")
    )


@query(
    "q_boilerplate_strip",
    oracle="""
        WITH toks AS (
            SELECT doc_id, source, length(text) AS orig_len,
                   string_split(text, ' ') AS t
            FROM documents),
        chunks AS (
            SELECT doc_id, source, orig_len, i AS chunk_no,
                   array_to_string(t[(i * 10 + 1):((i + 1) * 10)], ' ')
                     AS chunk,
                   md5(array_to_string(t[(i * 10 + 1):((i + 1) * 10)], ' '))
                     AS chunk_hash
            FROM toks, unnest(range(0, (len(t) + 9) // 10)) AS r(i)),
        freq AS (
            SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs
            FROM chunks GROUP BY chunk_hash),
        rebuilt AS (
            SELECT c.doc_id, c.source,
                   any_value(c.orig_len) AS orig_len,
                   coalesce(string_agg(
                       CASE WHEN f.n_docs < 2 THEN c.chunk END,
                       ' ' ORDER BY c.chunk_no), '') AS new_text,
                   count(*) FILTER (f.n_docs >= 2) AS removed
            FROM chunks c JOIN freq f USING (chunk_hash)
            GROUP BY c.doc_id, c.source)
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (removed > 0) AS BIGINT) AS docs_changed,
               CAST(sum(removed) AS BIGINT) AS chunks_removed,
               CAST(sum(orig_len) AS BIGINT) AS chars_before,
               CAST(sum(length(new_text)) AS BIGINT) AS chars_after
        FROM rebuilt
        GROUP BY source
    """,
    tags=("dedup", "chunk", "cleaning", "extension"),
)
def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate REMOVAL (X33) — the rewrite pass
    q_chunk_dedup's stats motivate, done C4-style: any fixed 10-token
    chunk whose content hash appears in >= 2 distinct documents is
    header/footer/template mass and is dropped; each document's text
    is reconstructed from its surviving chunks in original order.
    Reports the per-source before/after audit (docs touched, chunks
    removed, char mass) — the numbers a curation run logs before
    committing the rewrite.

    Scale shape (see boilerplate_rewrite): chunking is row-local
    (slice over an index sequence, no window); the doc-frequency
    aggregate and the chunk⋈freq join key on the uniform content hash
    (no skew by construction) and carry HASHES only — the corpus text
    never enters a shuffle; reconstruction happens row-locally on the
    original docs row against the per-doc removed-chunk-index map
    (unchanged docs drop out of the map entirely).  No driver state
    exists and the repeated-set is never materialized driver-side
    (contrast with a naive "collect bad hashes into an IN list").
    """
    docs = load_table(spark, sf_dir, "documents")
    rebuilt = boilerplate_rewrite(docs)
    return rebuilt.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("removed") > 0).cast("bigint")).alias("docs_changed"),
        F.sum("removed").cast("bigint").alias("chunks_removed"),
        F.sum("orig_len").cast("bigint").alias("chars_before"),
        F.sum(F.length("new_text")).cast("bigint").alias("chars_after"),
    )


def boilerplate_rewrite(docs: DataFrame) -> DataFrame:
    """Per-document boilerplate rewrite — the row-level form behind
    q_boilerplate_strip's audit and write_clean_corpus's
    materialization: (doc_id, lang, source, orig_len, new_text,
    removed), where new_text is the document rebuilt from its chunks
    whose content hash is NOT shared by >= 2 distinct documents.

    NOTE on convergence: rebuilding concatenates surviving chunks, so
    a second pass re-chunks at NEW 10-token boundaries and may find
    (strictly fewer) fresh cross-doc chunks; the pass is monotone
    shrinking, not idempotent — exactly C4's behavior, pinned in
    tests/test_operators.py::test_boilerplate_rewrite_roundtrip.

    100 TB shape: the corpus TEXT is never shuffled through the chunk
    stages — the exploded relation carries only (doc_id, chunk_no,
    chunk_hash), and reconstruction happens row-locally on the
    ORIGINAL docs row against a per-doc removed-chunk-index list
    (docs with nothing removed keep their text untouched and drop out
    of that map entirely, so when boilerplate is sparse the map
    broadcasts and the rewrite shuffles zero corpus bytes).  The
    earlier regroup-the-chunk-text formulation shuffled the full
    corpus twice.

    Diamond discipline (r08 fix): the hash-only chunks relation feeds
    BOTH the doc-frequency aggregate and the removed-map join — left
    uncut, Catalyst compiles that diamond as two independent chunking
    subtrees, i.e. a third full corpus scan (the exact regression the
    write_clean_corpus refactor shipped in r07).  localCheckpoint
    pins chunks once, so the corpus is read exactly twice at runtime:
    once inside the checkpointed chunk base, once for the row-local
    rebuild join (pinned in tests/test_plan_shapes.py)."""
    toks = F.split("text", " ")
    chunks_arr = F.transform(
        F.sequence(
            F.lit(0),
            F.expr("CAST((size(split(text, ' ')) + 9) div 10 AS INT) - 1"),
        ),
        lambda i: F.struct(
            i.alias("chunk_no"),
            F.concat_ws(" ", F.slice(toks, i * 10 + 1, 10)).alias("chunk"),
        ),
    )
    # hash-only chunk relation: 32-hex hash per chunk, no chunk text
    chunks = (
        docs.select("doc_id", F.explode(chunks_arr).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_no").alias("chunk_no"),
            F.md5(F.col("c.chunk")).alias("chunk_hash"),
        )
        .localCheckpoint(eager=False)
    )
    freq = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("n_docs_sharing")
    )
    removed_map = (
        chunks.join(freq.filter(F.col("n_docs_sharing") >= 2), "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.collect_set("chunk_no").alias("bad_chunks"),
            F.count("*").cast("bigint").alias("removed"),
        )
    )
    kept = F.filter(
        chunks_arr,
        lambda s: ~F.array_contains(F.col("bad_chunks"), s["chunk_no"]),
    )
    return docs.join(removed_map, "doc_id", "left").select(
        "doc_id",
        "lang",
        "source",
        F.length("text").alias("orig_len"),
        F.when(F.col("bad_chunks").isNull(), F.col("text"))
        .otherwise(
            F.array_join(F.transform(kept, lambda s: s["chunk"]), " ")
        )
        .alias("new_text"),
        F.coalesce("removed", F.lit(0).cast("bigint")).alias("removed"),
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span coverage (ExactSubstr-style metric)

_SPAN_K = 16  # tokens per overlapping gram (the paper uses 50 at scale)


def _span_gram_base(docs: DataFrame) -> DataFrame:
    """Checkpointed hash-only stride-1 gram base (doc_id, pos, g) —
    g NULL on the last K-1 positions of each doc (no full gram).
    Checkpointing keeps the corpus scan single even when several
    branches (dup-set, flag join, rewrite) consume it, and the rows
    are two bigints plus a 32-hex md5, so the materialization stays
    cheap by design.

    g is the EXACT content hash: md5 of the k-token window itself
    (tokens rejoined with the split delimiter, so the hash input IS
    the original substring).  An earlier revision summed weak
    per-token features (first-char/length) with cyclic weights; any
    two runs agreeing only in (first char, length) per token
    collided, and in q_dup_strip — a destructive rewrite — a
    collision DELETED non-duplicate text.  md5 of the real window
    makes a false merge 2^-128-improbable, the leads stay inside the
    one per-doc window pass (no extra shuffle), and the hash remains
    trivially shift-invariant because it depends only on window
    content, never on position."""
    tk = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    spark_w = "(PARTITION BY doc_id ORDER BY pos)"
    return (
        tk.selectExpr(
            "doc_id", "pos", f"{_span_gram_sql('tok', spark_w)} AS g"
        )
        .localCheckpoint(eager=False)
    )


def _span_gram_sql(col: str, win: str = "w") -> str:
    """SQL for the stride-1 exact k-gram hash, identical text in
    Spark and DuckDB (win = a named window `w` for the oracles, an
    inline `(PARTITION BY doc_id ORDER BY pos)` for selectExpr):
    md5(concat_ws(' ', tok, lead(tok,1)…lead(tok,k-1))), gated to
    NULL when the window runs off the document end (concat_ws
    silently skips NULLs, which would otherwise hash a short tail
    as a full gram)."""
    leads = ", ".join(
        f"lead({col}, {d}) OVER {win}" for d in range(1, _SPAN_K)
    )
    return (
        f"CASE WHEN lead({col}, {_SPAN_K - 1}) OVER {win} IS NULL "
        f"THEN NULL "
        f"ELSE md5(concat_ws(' ', {col}, {leads})) END"
    )


@query(
    "q_dup_spans",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
            FROM documents),
        gram AS (
            SELECT doc_id, pos, {_span_gram_sql('tok')} AS g
            FROM tok
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        dupg AS (
            SELECT g FROM gram WHERE g IS NOT NULL
            GROUP BY g HAVING count(*) >= 2),
        flagged AS (
            SELECT gr.doc_id, gr.pos,
                   CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END AS is_dup
            FROM gram gr LEFT JOIN dupg d ON gr.g = d.g),
        covered AS (
            SELECT doc_id, pos,
                   max(is_dup) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN {_SPAN_K - 1} PRECEDING
                                     AND CURRENT ROW) AS cov
            FROM flagged)
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_toks,
               CAST(sum(cov) AS BIGINT) AS dup_toks,
               CAST(100 * sum(cov) // count(*) AS BIGINT) AS cov_pct
        FROM covered
        GROUP BY doc_id
    """,
    tags=("dedup", "extension", "exact-substr"),
)
def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage — the ExactSubstr
    dedup metric (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): for every document, the fraction of
    token positions covered by some stride-1 k-token gram that
    occurs MORE THAN ONCE in the corpus.  Overlapping grams at every
    offset are the point: q_chunk_dedup's fixed non-overlapping
    chunks miss duplicates at unaligned offsets; stride-1 grams
    catch a repeated run wherever it starts, which is why the paper
    dedups on suffix-array substring matches rather than chunks.

    Pipeline: exact md5 k-gram hash of each token window (content
    hash => shift-invariant by construction, see _span_gram_sql) ->
    grams occurring >= 2x (corpus-wide groupBy on the hash) ->
    dup-start flags joined back -> positional coverage = window max
    over the trailing k-1 frame (the union-of-intervals computed as
    a per-doc window, never a self-join) -> per-doc coverage stats.

    100 TB shape: gram rows are (bigint, bigint, md5-hex) — the
    token TEXT never leaves the per-doc window stage (the
    q_repetition lesson: only fixed-width hashes ride the corpus
    shuffle); the hash-only gram base is localCheckpoint'd once so
    the dup-set branch and the flag branch share one derivation
    (the boilerplate_rewrite diamond cut — 1 documents scan total);
    the dup-set groupBy shuffles uniformly on the hash; coverage is
    a doc_id-partitioned window.  Docs shorter than K tokens have
    no grams but still report (their positions can never be covered
    by a full gram): dup_toks = 0, cov_pct = 0."""
    gram = _span_gram_base(load_table(spark, sf_dir, "documents"))
    return span_coverage(gram, _dup_grams(gram))


def _dup_grams(gram: DataFrame) -> DataFrame:
    """(g): the grams of a (doc_id, pos, g) base that occur at least
    twice — the corpus-derived duplicated-gram set of q_dup_spans and
    q_loss_mask."""
    return (
        gram.where(F.col("g").isNotNull())
        .groupBy("g")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= 2)
        .select("g")
    )


def _span_cover(gram: DataFrame, dupg: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, cov): per gram position, 1 when some gram of
    ``dupg`` starts within the trailing {_SPAN_K}-token frame — the
    dup-start flags joined back, then a per-doc window max.  The
    prologue span_coverage and span_mask share."""
    flagged = gram.join(
        dupg.withColumnRenamed("g", "dg"),
        F.col("g") == F.col("dg"),
        "left",
    ).select(
        "doc_id",
        "pos",
        F.when(F.col("dg").isNotNull(), 1).otherwise(0).alias("is_dup"),
    )
    cov_w = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_SPAN_K - 1), W.currentRow)
    )
    return flagged.select(
        "doc_id", *keep, F.max("is_dup").over(cov_w).alias("cov")
    )


def span_coverage(gram: DataFrame, dupg: DataFrame) -> DataFrame:
    """The coverage half of q_dup_spans over ANY (doc_id, pos, g)
    gram base and ANY duplicated-gram set: dup-start flags joined
    back, trailing-window positional coverage, per-doc stats.
    Shared by the inline query (dup set derived from the same
    corpus) and the streaming gram-count store's serve path
    (streaming/jobs.span_dup_coverage_serve: dup set read from the
    incrementally-maintained store), so both answer from one
    definition."""
    return _span_cover(gram, dupg).groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_toks"),
        F.sum("cov").cast("bigint").alias("dup_toks"),
        F.expr("CAST(100 * sum(cov) div count(*) AS BIGINT)").alias(
            "cov_pct"
        ),
    )


_SPAN_POS_BITS = 20  # composite canon key = doc_id * 2^20 + pos
# (document positions < 1M tokens and doc ids < 2^43 — both hold for
# any practical corpus; the key stays inside BIGINT either way)


@query(
    "q_dup_strip",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
            FROM documents),
        gram AS (
            SELECT doc_id, pos, {_span_gram_sql('tok')} AS g
            FROM tok
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        starts AS (
            SELECT doc_id, pos,
                   count(*) OVER (PARTITION BY g) >= 2 AS is_dup,
                   doc_id * {1 << _SPAN_POS_BITS} + pos
                     = min(doc_id * {1 << _SPAN_POS_BITS} + pos)
                         OVER (PARTITION BY g) AS is_first
            FROM gram WHERE g IS NOT NULL),
        flags AS (
            SELECT gr.doc_id, gr.pos,
                   CASE WHEN s.is_dup THEN 1 ELSE 0 END AS dup_start,
                   CASE WHEN s.is_dup AND s.is_first THEN 1 ELSE 0 END
                     AS canon_start
            FROM gram gr
            LEFT JOIN starts s ON gr.doc_id = s.doc_id AND gr.pos = s.pos),
        keepf AS (
            SELECT doc_id, pos,
                   CASE WHEN max(dup_start) OVER v = 1
                             AND max(canon_start) OVER v = 0
                        THEN 0 ELSE 1 END AS keep
            FROM flags
            WINDOW v AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN {_SPAN_K - 1} PRECEDING
                         AND CURRENT ROW))
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_toks,
               CAST(sum(k.keep) AS BIGINT) AS n_kept,
               coalesce(string_agg(tok, ' ' ORDER BY t.pos)
                          FILTER (WHERE k.keep = 1), '') AS new_text
        FROM tok t JOIN keepf k ON t.doc_id = k.doc_id AND t.pos = k.pos
        GROUP BY t.doc_id
    """,
    tags=("dedup", "extension", "exact-substr", "rewrite"),
)
def q_dup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup REWRITE (the removal step Lee et al. apply
    after the q_dup_spans metric): drop every token position covered
    by a duplicated k-gram EXCEPT where the covering gram's globally
    FIRST occurrence (min doc_id*2^20+pos composite — deterministic,
    layout-independent) protects it, then rebuild the text.  Each
    duplicated run therefore survives exactly at its first corpus
    position and vanishes everywhere else; unique text is untouched.
    (When overlapping duplicated grams disagree — one canonical here,
    one not — protection wins: a position inside ANY first-occurrence
    span is kept.  Deterministic, and errs toward keeping text.)

    Because this is a DESTRUCTIVE rewrite, the gram hash is the
    exact md5 of the window content (_span_gram_base) — a removal
    fires only when the k-token substrings are byte-identical up to
    md5, never on a feature-hash coincidence.

    100 TB shape: the hash-only gram base (_span_gram_base) is
    checkpointed once; the dup/canonical classification is ONE window
    pass partitioned by the gram hash (count + min over the same
    partition — no second shuffle); flags join back on (doc_id, pos);
    coverage/protection are trailing-window maxima per doc; only the
    final rebuild touches token text, joined from a fresh pruned scan
    on the SAME (doc_id, pos) key — text never rides the gram
    shuffle.  2 documents scans total: gram pass + rebuild pass (the
    q_shard_plan two-pass argument: the shared relation is
    corpus-sized text, so a checkpoint would cost more than the
    second pruned scan)."""
    return exactsubstr_rewrite(load_table(spark, sf_dir, "documents"))


def exactsubstr_rewrite(docs: DataFrame) -> DataFrame:
    """Row-level ExactSubstr rewrite behind q_dup_strip — (doc_id,
    n_toks, n_kept, new_text) over ANY (doc_id, text) frame, so the
    curation composition (curation.write_training_corpus) can run it
    on the boilerplate-stripped corpus rather than the raw table.
    Plan shape documented on q_dup_strip."""
    gram = _span_gram_base(docs)
    gwin = W.partitionBy("g")
    composite = (
        F.col("doc_id") * F.lit(1 << _SPAN_POS_BITS) + F.col("pos")
    ).cast("bigint")
    starts = (
        gram.where(F.col("g").isNotNull())
        .select(
            "doc_id",
            "pos",
            (F.count("*").over(gwin) >= 2).alias("is_dup"),
            (composite == F.min(composite).over(gwin)).alias("is_first"),
        )
        .where(F.col("is_dup"))
        .select(
            "doc_id",
            "pos",
            F.lit(1).alias("dup_start"),
            F.when(F.col("is_first"), 1).otherwise(0).alias("canon_start"),
        )
    )
    flags = gram.select("doc_id", "pos").join(
        starts, ["doc_id", "pos"], "left"
    ).select(
        "doc_id",
        "pos",
        F.coalesce("dup_start", F.lit(0)).alias("dup_start"),
        F.coalesce("canon_start", F.lit(0)).alias("canon_start"),
    )
    vwin = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_SPAN_K - 1), W.currentRow)
    )
    keepf = flags.select(
        "doc_id",
        "pos",
        F.when(
            (F.max("dup_start").over(vwin) == 1)
            & (F.max("canon_start").over(vwin) == 0),
            0,
        )
        .otherwise(1)
        .alias("keep"),
    )
    tk = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    joined = tk.join(keepf, ["doc_id", "pos"])
    kept_text = F.array_join(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("keep") == 1, F.struct("pos", "tok")
                    )
                )
            ),
            lambda s: s["tok"],
        ),
        " ",
    )
    return joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_toks"),
        F.sum("keep").cast("bigint").alias("n_kept"),
        kept_text.alias("new_text"),
    )


# ---------------------------------------------------------------------------
# X53 — fuzzy (near-duplicate) test-set contamination (r09)


def _fuzzy_contamination_oracle() -> str:
    from .pipeline_ops import _SPLIT_SQL

    return f"""
        WITH {_PAIRS_CTE},
        split AS (SELECT doc_id, {_SPLIT_SQL} AS sp FROM documents),
        x AS (
            SELECT CASE WHEN sa.sp = 'test' THEN p.pa ELSE p.pb END
                     AS test_doc,
                   CASE WHEN sa.sp = 'test' THEN p.pb ELSE p.pa END
                     AS train_doc
            FROM pairs p
            JOIN split sa ON sa.doc_id = p.pa
            JOIN split sb ON sb.doc_id = p.pb
            WHERE sa.sp <> sb.sp)
        SELECT test_doc,
               CAST(count(*) AS BIGINT) AS n_train_neardups,
               CAST(min(train_doc) AS BIGINT) AS example_train_doc
        FROM x GROUP BY test_doc
    """


@query(
    "q_fuzzy_contamination",
    oracle=_fuzzy_contamination_oracle(),
    tags=("dedup", "pipeline", "contamination", "lsh", "extension"),
)
def q_fuzzy_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUPLICATE test-set contamination (X53): test documents
    with an LSH near-dup candidate in the train split.
    q_contamination catches verbatim n-gram overlap; an eval item
    that was lightly paraphrased or partially rewritten from a
    training document sails through the exact check and still leaks
    the answer — which is why published decontamination protocols
    run BOTH an exact n-gram pass and a fuzzy near-dup pass.  Output
    is per test doc: how many train near-dups, plus the smallest
    partner id as the auditable example.

    Scale shape: all the heavy lifting is the audited LSH pipeline
    (capped band buckets, row-local pair combinations — never a
    self-join); the split tag is a rowwise md5 (free), the
    cross-split filter runs on the PAIR table (|pairs| rows, not
    |corpus|²), and the final aggregate shuffles on test_doc."""
    from .pipeline_ops import _split_col

    docs = load_table(spark, sf_dir, "documents")
    pairs = _capped_band_pairs(_lsh_bands(minhash_sigs(docs)))
    # the split relation feeds BOTH pair endpoints — checkpoint the
    # (doc_id, 5-char split) projection once or Catalyst compiles the
    # diamond as two extra documents scans
    split = (
        docs.select("doc_id", _split_col().alias("sp"))
        .localCheckpoint(eager=False)
    )
    sa = split.select(
        F.col("doc_id").alias("doc_a"), F.col("sp").alias("sp_a")
    )
    sb = split.select(
        F.col("doc_id").alias("doc_b"), F.col("sp").alias("sp_b")
    )
    x = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(F.col("sp_a") != F.col("sp_b"))
        .select(
            F.when(F.col("sp_a") == "test", F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("test_doc"),
            F.when(F.col("sp_a") == "test", F.col("doc_b"))
            .otherwise(F.col("doc_a"))
            .alias("train_doc"),
        )
    )
    return x.groupBy("test_doc").agg(
        F.count("*").cast("bigint").alias("n_train_neardups"),
        F.min("train_doc").cast("bigint").alias("example_train_doc"),
    )


# ---------------------------------------------------------------------------
# X94 — served fuzzy decontamination, driver-visible (r13)


@query(
    "q_contamination_served",
    oracle=_fuzzy_contamination_oracle(),
    tags=("dedup", "pipeline", "contamination", "lsh", "serve",
          "extension"),
)
def q_contamination_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination, SERVED (X94, driver-visible per VERDICT
    r12 #3): build the train-split LSH band store
    (streaming/jobs.contamination_bands_merge_fn — the maintained
    standing-gate state), then answer the eval gate for the test
    split entirely FROM the store (jobs.contamination_check) — zero
    train-corpus scans at check time, the real deployment shape
    where the eval set arrives long after the crawl was ingested.

    The oracle is inline q_fuzzy_contamination's chain verbatim:
    served == inline is the gate's contract (band derivation shared
    via dedup.minhash_sigs/_lsh_bands, bucket-cap sizes counted over
    DISTINCT store ∪ batch rows, pairs generated store×batch within
    surviving buckets), so a hash-green row proves the standing gate
    returns exactly what a from-scratch cross-split audit would —
    the one serving store the DuckDB oracle never touched before
    this round.

    Scale shape: the store build is the amortized offline step (one
    train scan, distinct-union — idempotent, restart-safe); the
    check is one band derivation over the TEST split only, one
    store-sized equi-join on (bi, bv) with hot buckets pruned by the
    cap prepass, one per-test aggregate."""
    import sys

    from .. import streaming as _streaming  # noqa: F401
    from ..streaming import jobs as _jobs
    from .index_cache import cached
    from .pipeline_ops import _split_col

    docs = load_table(spark, sf_dir, "documents")
    split = docs.select("doc_id", "text", _split_col().alias("sp"))
    train = split.filter("sp = 'train'").select("doc_id", "text")
    test = split.filter("sp = 'test'").select("doc_id", "text")
    # content-tagged build cache (VERDICT r12 #6): a stale store from
    # an older builder version can never alias in (the token is in
    # the dir name), and repeated bench/driver runs skip the train
    # scan entirely
    store = cached(
        "contam_bands",
        sf_dir,
        ("documents",),
        (sys.modules[__name__], _jobs),
        lambda p: _jobs.contamination_bands_merge_fn(spark, p)(train, 0),
    )
    return _jobs.contamination_check(spark, store, test)


# ---------------------------------------------------------------------------
# X55 — dedup savings report (r09)


@query(
    "q_dedup_savings",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges AS (SELECT pa AS a, pb AS b FROM pairs
                  UNION SELECT pb, pa FROM pairs),
        reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        lab AS (
            SELECT e.a AS n, least(e.a, min(r.dst)) AS cluster_id
            FROM (SELECT DISTINCT a FROM edges) e
            JOIN reach r ON r.src = e.a
            GROUP BY e.a),
        sized AS (
            SELECT l.cluster_id, l.n,
                   len(string_split(d.text, ' ')) AS n_tok
            FROM lab l JOIN documents d ON d.doc_id = l.n)
        SELECT cluster_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS total_toks,
               CAST(sum(CASE WHEN n = cluster_id THEN n_tok END)
                    AS BIGINT) AS kept_toks,
               CAST(sum(n_tok) - sum(CASE WHEN n = cluster_id
                                          THEN n_tok END)
                    AS BIGINT) AS saved_toks
        FROM sized
        GROUP BY cluster_id
    """,
    tags=("dedup", "iterative", "pipeline", "extension"),
)
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report (X55) — the number a curation review
    actually asks for: per near-dup CLUSTER (size >= 2; singletons
    carry no savings and are excluded so the report is sized by
    |dup families|, not |corpus|), how many documents and tokens it
    holds, how many tokens the representative keeps, and how many
    the dedup pass SAVES — the line items behind "dedup removed X%
    of the corpus" in every pipeline writeup.

    Composition: the audited LSH pair pipeline → pointer-doubling
    connected components restricted to edge-touched nodes (the
    singleton majority never enters a round) → one token-count join
    against a pruned documents scan → a per-cluster aggregate.  The
    oracle replays components via the recursive transitive-closure
    CTE, so the whole composition is hash-checked."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    lab = connected_components(pairs)
    sized = lab.join(
        docs.select(
            F.col("doc_id").alias("n"),
            F.size(F.split("text", " ")).alias("n_tok"),
        ),
        "n",
    )
    kept = F.when(F.col("n") == F.col("cluster_id"), F.col("n_tok"))
    return sized.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_toks"),
        F.sum(kept).cast("bigint").alias("kept_toks"),
        (F.sum("n_tok") - F.sum(kept)).cast("bigint").alias("saved_toks"),
    )


# ---------------------------------------------------------------------------
# X59 — LSH candidate-quality audit (r09)

_AUDIT_PREFIX = "3"  # md5 first hex <= '3' -> deterministic ~25% sample
_AUDIT_TAU_X10K = 3000  # "true near-dup" = exact Jaccard >= 0.30


@query(
    "q_lsh_audit",
    oracle=f"""
        WITH {_PAIRS_CTE},
        samp AS (
            SELECT doc_id FROM documents
            WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  <= '{_AUDIT_PREFIX}'),
        exs AS (
            SELECT e.doc_id, e.sh FROM ex e JOIN samp USING (doc_id)),
        sizes AS (SELECT doc_id, count(*) AS n FROM exs GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS ta, b.doc_id AS tb, count(*) AS i
            FROM exs a JOIN exs b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        truth AS (
            SELECT ta, tb FROM inter
            JOIN sizes sa ON sa.doc_id = ta
            JOIN sizes sb ON sb.doc_id = tb
            WHERE 10000 * i // (sa.n + sb.n - i) >= {_AUDIT_TAU_X10K}),
        cand AS (
            SELECT p.pa, p.pb FROM pairs p
            JOIN samp s1 ON s1.doc_id = p.pa
            JOIN samp s2 ON s2.doc_id = p.pb),
        hits AS (
            SELECT t.ta FROM truth t
            JOIN cand c ON c.pa = t.ta AND c.pb = t.tb),
        nums AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM samp) AS n_docs,
                   (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true,
                   (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
                   (SELECT CAST(count(*) AS BIGINT) FROM hits) AS n_hits)
        SELECT n_docs, n_true, n_cand, n_hits,
               CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT)
                    ELSE 10000 * n_hits // n_cand END AS precision_x10k,
               CASE WHEN n_true = 0 THEN CAST(NULL AS BIGINT)
                    ELSE 10000 * n_hits // n_true END AS recall_x10k
        FROM nums
    """,
    tags=("dedup", "lsh", "audit", "extension"),
)
def q_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate-quality audit (X59) — the measurement a team
    runs before touching the banding/cap knobs: on a deterministic
    md5-prefix ~25% document sample, compute EXACT pairwise shingle
    Jaccard (the ground truth LSH only approximates), call a pair a
    true near-dup at Jaccard >= 0.30 (×10⁴ integer), and score the
    audited LSH pipeline's candidate pairs against it — precision
    (how much candidate volume is junk) and recall (what the bands
    miss) in basis points, NULL-guarded when a side is empty.

    Why a sample: exact all-pairs truth is inherently quadratic —
    the audit bounds it to (corpus/4)² via the same md5-prefix rule
    every sampler here uses (deterministic, layout-independent),
    while the candidate side reuses the production pipeline
    unchanged.  The exact-truth join is shingle-keyed (pairs sharing
    no shingle have Jaccard 0 and are never materialized), not a
    cartesian; at 100 TB the sample fraction shrinks (the audit
    needs statistical power, not coverage) and everything else
    scales as the audited pipeline itself.

    One row out: sample size, true pairs, candidates, hits,
    precision/recall ×10⁴."""
    docs = load_table(spark, sf_dir, "documents")
    # checkpoint discipline (r11, the q_containment lesson applied to
    # the whole audit): samp feeds 3 consumers, the sampled shingle
    # base feeds 3 (sizes + both exact-truth join sides), truth and
    # cand feed 2 each — uncut, every consumer recompiled its entire
    # upstream (the sample filter, the shingle explosion, and for
    # cand the full LSH pipeline), a 25-visible-scan plan.  Each
    # relation is cut once where it fans out; the branches are
    # filters/joins/heaps over the materialized bases.
    samp = (
        docs.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
            <= _AUDIT_PREFIX
        )
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    ex = (
        docs.join(samp, "doc_id", "left_semi")
        .select("doc_id", F.explode(shingles_expr("text")).alias("sh"))
        .localCheckpoint(eager=False)
    )
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        ex.alias("a")
        .join(
            ex.alias("b"),
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("ta"), F.col("b.doc_id").alias("tb")
        )
        .agg(F.count("*").alias("i"))
    )
    truth = (
        inter.join(sizes.withColumnRenamed("doc_id", "ta"), "ta")
        .withColumnRenamed("n", "na")
        .join(sizes.withColumnRenamed("doc_id", "tb"), "tb")
        .withColumnRenamed("n", "nb")
        .filter(
            F.expr(f"10000 * i div (na + nb - i) >= {_AUDIT_TAU_X10K}")
        )
        .select("ta", "tb")
        .localCheckpoint(eager=False)
    )
    cand = (
        near_pairs_cached(spark, sf_dir)
        .select("doc_a", "doc_b")
        .join(samp.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(samp.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .localCheckpoint(eager=False)
    )
    hits = truth.join(
        cand,
        (F.col("ta") == F.col("doc_a")) & (F.col("tb") == F.col("doc_b")),
    )

    def _cnt(df, name):
        return df.agg(F.count("*").cast("bigint").alias(name))

    nums = (
        _cnt(samp, "n_docs")
        .crossJoin(F.broadcast(_cnt(truth, "n_true")))
        .crossJoin(F.broadcast(_cnt(cand, "n_cand")))
        .crossJoin(F.broadcast(_cnt(hits, "n_hits")))
    )
    return nums.select(
        "n_docs",
        "n_true",
        "n_cand",
        "n_hits",
        F.expr(
            "CASE WHEN n_cand = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE 10000 * n_hits div n_cand END"
        ).alias("precision_x10k"),
        F.expr(
            "CASE WHEN n_true = 0 THEN CAST(NULL AS BIGINT) "
            "ELSE 10000 * n_hits div n_true END"
        ).alias("recall_x10k"),
    )


# ---------------------------------------------------------------------------
# X64 — asymmetric containment (subset-duplicate detection, r10)

_CONTAIN_MIN_BP = 8000  # report pairs with >= 80% one-way containment


@query(
    "q_containment",
    oracle=f"""
        WITH {_PAIRS_CTE},
        shd AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 15))::BIGINT AS shh
            FROM ex),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        ia AS (
            SELECT p.pa, p.pb, s.shh
            FROM pairs p JOIN shd s ON s.doc_id = p.pa),
        inter AS (
            SELECT ia.pa, ia.pb, count(*) AS n_inter
            FROM ia JOIN shd b ON b.doc_id = ia.pb AND b.shh = ia.shh
            GROUP BY 1, 2),
        scored AS (
            SELECT p.pa AS doc_a, p.pb AS doc_b,
                   CAST(sa.n_sh AS BIGINT) AS n_a,
                   CAST(sb.n_sh AS BIGINT) AS n_b,
                   CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
                   CAST((coalesce(i.n_inter, 0) * 10000) // sa.n_sh
                        AS BIGINT) AS cont_a_bp,
                   CAST((coalesce(i.n_inter, 0) * 10000) // sb.n_sh
                        AS BIGINT) AS cont_b_bp,
                   CAST((coalesce(i.n_inter, 0) * 10000)
                        // (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))
                        AS BIGINT) AS jaccard_bp
            FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.pa
            JOIN sizes sb ON sb.doc_id = p.pb
            LEFT JOIN inter i ON i.pa = p.pa AND i.pb = p.pb)
        SELECT * FROM scored
        WHERE greatest(cont_a_bp, cont_b_bp) >= {_CONTAIN_MIN_BP}
    """,
    tags=("dedup", "containment", "lsh", "extension"),
)
def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scoring (X64): symmetric Jaccard misses
    SUBSET duplicates — a wire story embedded verbatim inside a much
    longer article scores low Jaccard (union is large) but ~1.0
    containment of the shorter side.  Every LSH candidate pair is
    re-scored with exact set containment in BOTH directions
    (|A∩B|/|A| and |A∩B|/|B|, x10⁴ integer) plus the Jaccard for
    contrast, keeping pairs where either direction clears
    {_CONTAIN_MIN_BP} bp — the quote-inclusion / template-expansion
    pairs a Jaccard-thresholded dedup silently passes through.

    Counting is over md5-hashed shingles on BOTH engines (the
    q_repetition lesson: only fixed-width hashes ride the corpus
    shuffles — shingle strings never travel), so the arithmetic is
    identical cross-engine by construction.  Scale shape: the exact
    re-score is CANDIDATE-BOUNDED — two hash-keyed joins against the
    LSH pair list, never an all-pairs intersection
    (_pair_intersections); the pairs and the hashed shingle base are
    cached artifacts, so no corpus scan is visible."""
    pairs = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb")
    )
    scored = (
        _pair_intersections(pairs, shingles_cached(spark, sf_dir))
        .select(
            F.col("pa").alias("doc_a"),
            F.col("pb").alias("doc_b"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.coalesce(F.col("n_inter"), F.lit(0))
            .cast("bigint")
            .alias("n_inter"),
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "n_a",
            "n_b",
            "n_inter",
            "CAST((n_inter * 10000) div n_a AS BIGINT) AS cont_a_bp",
            "CAST((n_inter * 10000) div n_b AS BIGINT) AS cont_b_bp",
            "CAST((n_inter * 10000) div (n_a + n_b - n_inter) AS BIGINT)"
            " AS jaccard_bp",
        )
    )
    return scored.filter(
        F.expr(f"greatest(cont_a_bp, cont_b_bp) >= {_CONTAIN_MIN_BP}")
    )


def _pair_intersections(pairs: DataFrame, shd: DataFrame) -> DataFrame:
    """(pa, pb, n_a, n_b, n_inter) for every (pa, pb) pair: the
    distinct hashed-shingle counts of both sides from ``shd``
    (doc_id, shh) and their intersection, NULL when they share none.
    Two hash-keyed joins against the pair list, never an all-pairs
    intersection — the exact re-score q_containment, q_jaccard_hist
    and the containment edge build share."""
    sizes = shd.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ia = pairs.join(shd.withColumnRenamed("doc_id", "pa"), "pa")
    inter = (
        ia.join(
            shd.select(F.col("doc_id").alias("pb"), "shh"), ["pb", "shh"]
        )
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("pa"), F.col("n_sh").alias("n_a")),
            "pa",
        )
        .join(
            sizes.select(F.col("doc_id").alias("pb"), F.col("n_sh").alias("n_b")),
            "pb",
        )
        .join(inter, ["pa", "pb"], "left")
    )


# ---------------------------------------------------------------------------
# X121 — dedup-aware loss weighting (r14)


@query(
    "q_dedup_weighting",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges AS (SELECT pa AS a, pb AS b FROM pairs
                  UNION SELECT pb, pa FROM pairs),
        reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        lab AS (
            SELECT e.a AS n, least(e.a, min(r.dst)) AS cluster_id
            FROM (SELECT DISTINCT a FROM edges) e
            JOIN reach r ON r.src = e.a
            GROUP BY e.a),
        sz AS (SELECT cluster_id, count(*) AS n FROM lab GROUP BY 1)
        SELECT d.doc_id,
               CAST(coalesce(l.cluster_id, d.doc_id) AS BIGINT)
                 AS cluster_id,
               CAST(coalesce(sz.n, 1) AS BIGINT) AS family_size,
               CAST(10000 // coalesce(sz.n, 1) AS BIGINT) AS weight_bp
        FROM documents d
        LEFT JOIN lab l ON l.n = d.doc_id
        LEFT JOIN sz ON sz.cluster_id = l.cluster_id
    """,
    tags=("dedup", "pipeline", "weighting", "iterative", "extension"),
)
def q_dedup_weighting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware loss weighting (X121) — the SOFT alternative to
    dropping duplicates: keep every copy but down-weight each
    duplicate family member so the family contributes ONE document's
    worth of gradient (weight = 10000/|family| bp; singletons keep
    10000).  Hard dedup throws away benign re-posts and boilerplate
    variants a model may still want distributional signal from;
    weighting preserves them at calibrated loss mass, and this
    manifest is the per-doc column a training loader joins.

    Composition: the cached LSH edge list → pointer-doubling
    components over edge-touched nodes only → family sizes → one
    LEFT join against the corpus (the singleton majority never
    enters a shuffle wider than its own doc_id).  Integer bp weights
    — exact cross-engine, and a family's total weight mass is
    |family| · (10000 // |family|) ≈ 10000 by construction (floor
    division, pinned in pytest)."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    lab = connected_components(pairs)
    sz = lab.groupBy("cluster_id").agg(F.count("*").alias("__fam_n"))
    fam = lab.join(sz, "cluster_id").select(
        F.col("n").alias("__member"), "cluster_id", "__fam_n"
    )
    return (
        docs.select("doc_id")
        .join(fam, docs["doc_id"] == fam["__member"], "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id")
            .cast("bigint")
            .alias("cluster_id"),
            F.coalesce("__fam_n", F.lit(1))
            .cast("bigint")
            .alias("family_size"),
            F.expr("CAST(10000 div coalesce(__fam_n, 1) AS BIGINT)").alias(
                "weight_bp"
            ),
        )
    )


# ---------------------------------------------------------------------------
# X67 — quality-ranked cluster representative (r10)

# the keep-best policy tail (sized -> ranked -> final aggregate),
# shared verbatim by the q_keep_best and q_keep_best_containment
# oracles so both policies are literally one SQL definition
_KEEP_BEST_TAIL_SQL = """sized AS (
            SELECT l.cluster_id, l.n,
                   len(string_split(d.text, ' ')) AS n_tok
            FROM lab l JOIN documents d ON d.doc_id = l.n),
        ranked AS (
            SELECT cluster_id, n, n_tok,
                   row_number() OVER (PARTITION BY cluster_id
                                      ORDER BY n_tok DESC, n ASC) AS rn
            FROM sized)
        SELECT s.cluster_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(CASE WHEN r.rn = 1 THEN r.n END) AS BIGINT)
                 AS keep_id,
               CAST(max(CASE WHEN r.rn = 1 THEN r.n_tok END) AS BIGINT)
                 AS keep_toks,
               CAST(sum(CASE WHEN s.n = s.cluster_id THEN s.n_tok END)
                    AS BIGINT) AS minid_keep_toks,
               CAST(max(CASE WHEN r.rn = 1 THEN r.n_tok END)
                    - sum(CASE WHEN s.n = s.cluster_id THEN s.n_tok END)
                    AS BIGINT) AS uplift_toks
        FROM sized s
        JOIN ranked r ON r.cluster_id = s.cluster_id AND r.n = s.n
        GROUP BY s.cluster_id"""


@query(
    "q_keep_best",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        edges AS (SELECT pa AS a, pb AS b FROM pairs
                  UNION SELECT pb, pa FROM pairs),
        reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        lab AS (
            SELECT e.a AS n, least(e.a, min(r.dst)) AS cluster_id
            FROM (SELECT DISTINCT a FROM edges) e
            JOIN reach r ON r.src = e.a
            GROUP BY e.a),
        {_KEEP_BEST_TAIL_SQL}
    """,
    tags=("dedup", "iterative", "pipeline", "extension"),
)
def q_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked cluster representative (X67): the min-doc-id
    survivor rule (q_dedup_exact / q_dedup_savings) is arbitrary —
    production dedup keeps the BEST member of each near-dup family,
    and with containment-style subset duplicates the longest member
    is the superset document (keeping the min id can throw away the
    full article and keep the embedded excerpt).  Per cluster:
    members, the longest-member representative (ties to the lower
    id), its token mass, what the min-id rule would have kept, and
    the uplift — the tokens the quality-ranked policy rescues.

    Composition: the audited LSH pipeline → pointer-doubling
    connected components (edge-touched nodes only) → pruned token-
    count join → per-cluster WindowGroupLimit argmax → one
    aggregate.  The oracle replays components through the recursive
    transitive-closure CTE, so the POLICY ITSELF is hash-checked,
    not just the clustering."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return _keep_best_policy(docs, pairs)


def _keep_best_policy(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The quality-ranked representative policy over ANY (a, b) edge
    list — components, longest-member argmax, min-id counterfactual —
    factored so q_keep_best (LSH edges) and q_keep_best_containment
    (LSH ∪ containment edges) rank one definition.  ``pairs`` must be
    bounded by the caller."""
    lab = connected_components(pairs)
    sized = lab.join(
        docs.select(
            F.col("doc_id").alias("n"),
            F.size(F.split("text", " ")).alias("n_tok"),
        ),
        "n",
    ).localCheckpoint(eager=False)
    w = W.partitionBy("cluster_id").orderBy(
        F.desc("n_tok"), F.asc("n")
    )
    best = (
        sized.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("n").alias("keep_id"),
            F.col("n_tok").alias("keep_toks"),
        )
    )
    agg = sized.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("n") == F.col("cluster_id"), F.col("n_tok"))
        )
        .cast("bigint")
        .alias("minid_keep_toks"),
    )
    return agg.join(best, "cluster_id").select(
        "cluster_id",
        "n_docs",
        F.col("keep_id").cast("bigint").alias("keep_id"),
        F.col("keep_toks").cast("bigint").alias("keep_toks"),
        "minid_keep_toks",
        (F.col("keep_toks") - F.col("minid_keep_toks"))
        .cast("bigint")
        .alias("uplift_toks"),
    )


# ---------------------------------------------------------------------------
# X77 — containment-aware clustering (r11)

_CONTAIN_POST_CAP = 8  # max posting length considered for candidates


@query(
    "q_keep_best_containment",
    oracle=f"""
        WITH RECURSIVE
        {_PAIRS_CTE},
        shd AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 15))::BIGINT AS shh
            FROM ex),
        post AS (
            SELECT doc_id, shh,
                   count(*) OVER (PARTITION BY shh) AS pc
            FROM shd),
        ccand AS (
            SELECT DISTINCT a.doc_id AS pa, b.doc_id AS pb
            FROM post a JOIN post b
              ON a.shh = b.shh AND a.doc_id < b.doc_id
            WHERE a.pc <= {_CONTAIN_POST_CAP}),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        ia AS (
            SELECT c.pa, c.pb, s.shh
            FROM ccand c JOIN shd s ON s.doc_id = c.pa),
        inter AS (
            SELECT ia.pa, ia.pb, count(*) AS n_inter
            FROM ia JOIN shd b ON b.doc_id = ia.pb AND b.shh = ia.shh
            GROUP BY 1, 2),
        cpairs AS (
            SELECT c.pa, c.pb
            FROM ccand c
            JOIN sizes sa ON sa.doc_id = c.pa
            JOIN sizes sb ON sb.doc_id = c.pb
            JOIN inter i ON i.pa = c.pa AND i.pb = c.pb
            WHERE greatest((i.n_inter * 10000) // sa.n_sh,
                           (i.n_inter * 10000) // sb.n_sh)
                  >= {_CONTAIN_MIN_BP}),
        alledges AS (SELECT pa, pb FROM pairs
                     UNION SELECT pa, pb FROM cpairs),
        edges AS (SELECT pa AS a, pb AS b FROM alledges
                  UNION SELECT pb, pa FROM alledges),
        reach(src, dst) AS (
            SELECT a, b FROM edges
            UNION
            SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
        ),
        lab AS (
            SELECT e.a AS n, least(e.a, min(r.dst)) AS cluster_id
            FROM (SELECT DISTINCT a FROM edges) e
            JOIN reach r ON r.src = e.a
            GROUP BY e.a),
        {_KEEP_BEST_TAIL_SQL}
    """,  # noqa: E501 — shared tail interpolated
    tags=("dedup", "containment", "iterative", "pipeline", "extension"),
)
def q_keep_best_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment-aware clustering (X77) — closes the gap VERDICT
    r10 named: q_keep_best's edge set is the LSH candidate list, and
    MinHash band collisions are a function of SYMMETRIC Jaccard, so
    an excerpt embedded in a much longer article (J ≈ |B|/|A|, small)
    rarely ever becomes an edge — the exact subset-duplicate class
    q_containment measures never reached the representative policy.

    Here the edge set is the UNION of (a) the audited LSH candidates
    and (b) containment-verified pairs from a rare-shingle inverted
    index: postings longer than {_CONTAIN_POST_CAP} docs are dropped
    (boilerplate shingles by definition — the _capped_band_pairs /
    prefix-cap posture, bounding candidates at cap²/2 per shingle BY
    CONSTRUCTION), surviving co-posting pairs are exactly scored with
    the q_containment arithmetic, and pairs ≥ {_CONTAIN_MIN_BP} bp
    one-way containment become edges.  Components + the keep-best
    policy then run over the merged graph (shared _keep_best_policy /
    _KEEP_BEST_TAIL_SQL definitions, so the policy itself is
    hash-checked against q_keep_best's).  Because the superset doc is
    the longest member of its cluster, the policy now keeps the full
    article and retires the excerpt — the exact failure the min-id
    rule and the Jaccard-only edge set shared.

    Scale shape: the posting-cap count rides the SAME
    hashpartitioning(shh) exchange the candidate self-join needs;
    the exact containment joins touch only capped candidates; both
    pair relations are checkpoint-cut before fanning into the
    multi-consumer scoring/cluster stages."""
    docs = load_table(spark, sf_dir, "documents")

    lsh = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb")
    )
    cpairs = containment_edges_cached(spark, sf_dir)
    pairs = (
        lsh.unionByName(cpairs)
        .distinct()
        .select(F.col("pa").alias("a"), F.col("pb").alias("b"))
        .localCheckpoint()
    )
    return _keep_best_policy(docs, pairs)


def containment_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment-verified edge list (rare-shingle inverted
    index -> capped co-posting candidates -> exact one-way
    containment >= {_CONTAIN_MIN_BP} bp) as a content-tagged parquet
    artifact — the r14 extension of the near_pairs cache to the
    second edge family q_keep_best_containment folds.  Pure function
    of (documents, this module, textfeat); pairs bounded cap^2/2 per
    shingle by construction at any scale."""
    import sys

    from ..functions import textfeat
    from .index_cache import cached

    def build(p: str) -> None:
        shd = shingles_cached(spark, sf_dir)
        post = (
            shd.withColumn(
                "pc", F.count("*").over(W.partitionBy("shh"))
            )
            .filter(F.col("pc") <= _CONTAIN_POST_CAP)
            .select("doc_id", "shh")
        )
        ca, cb = post.alias("ca"), post.alias("cb")
        ccand = (
            ca.join(
                cb,
                (F.col("ca.shh") == F.col("cb.shh"))
                & (F.col("ca.doc_id") < F.col("cb.doc_id")),
            )
            .select(
                F.col("ca.doc_id").alias("pa"),
                F.col("cb.doc_id").alias("pb"),
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        # a NULL n_inter (no shared shingle) fails the filter
        (
            _pair_intersections(ccand, shd)
            .filter(
                F.expr(
                    f"greatest((n_inter * 10000) div n_a, "
                    f"(n_inter * 10000) div n_b) >= {_CONTAIN_MIN_BP}"
                )
            )
            .select("pa", "pb")
            .write.mode("overwrite")
            .parquet(f"{p}/edges")
        )

    path = cached(
        "containment_edges",
        sf_dir,
        ("documents",),
        (sys.modules[__name__], textfeat),
        build,
    )
    return read_parquet(spark, f"{path}/edges")


# ---------------------------------------------------------------------------
# X75 — candidate-pair Jaccard histogram (threshold tuning, r10)


@query(
    "q_jaccard_hist",
    oracle=f"""
        WITH {_PAIRS_CTE},
        shd AS (
            SELECT DISTINCT doc_id,
                   ('0x' || substr(md5(sh), 1, 15))::BIGINT AS shh
            FROM ex),
        sizes AS (SELECT doc_id, count(*) AS n_sh FROM shd GROUP BY doc_id),
        ia AS (
            SELECT p.pa, p.pb, s.shh
            FROM pairs p JOIN shd s ON s.doc_id = p.pa),
        inter AS (
            SELECT ia.pa, ia.pb, count(*) AS n_inter
            FROM ia JOIN shd b ON b.doc_id = ia.pb AND b.shh = ia.shh
            GROUP BY 1, 2),
        jac AS (
            SELECT p.pa, p.pb,
                   (coalesce(i.n_inter, 0) * 10000)
                       // (sa.n_sh + sb.n_sh - coalesce(i.n_inter, 0))
                     AS j_bp
            FROM pairs p
            JOIN sizes sa ON sa.doc_id = p.pa
            JOIN sizes sb ON sb.doc_id = p.pb
            LEFT JOIN inter i ON i.pa = p.pa AND i.pb = p.pb)
        SELECT CAST(least(j_bp // 1000, 9) AS BIGINT) AS bucket,
               CAST(least(j_bp // 1000, 9) * 1000 AS BIGINT) AS j_bp_lo,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM jac
        GROUP BY 1, 2
        ORDER BY bucket
    """,
    tags=("dedup", "lsh", "tuning", "extension"),
)
def q_jaccard_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair Jaccard histogram (X75) — the threshold-PLACEMENT
    artifact that completes the LSH tuning story: q_lsh_audit scores
    precision/recall at one fixed τ; this shows the whole exact-
    Jaccard distribution over the candidate pairs in ten 0.1-wide
    buckets, so an operator SEES the bimodal gap (true dups cluster
    high, band-collision noise clusters low) and places τ in the
    valley instead of guessing.  Same hashed-shingle exact
    intersection as q_containment (one definition class), bucketed
    with integer div — hash-exact.

    Scale shape: candidate-bounded exactly like q_containment (one
    _pair_intersections definition over the cached pair and
    hashed-shingle artifacts); the histogram is a 10-row aggregate."""
    pairs = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb")
    )
    jac = _pair_intersections(
        pairs, shingles_cached(spark, sf_dir)
    ).selectExpr(
        "(coalesce(n_inter, 0) * 10000)"
        " div (n_a + n_b - coalesce(n_inter, 0)) AS j_bp"
    )
    return (
        jac.selectExpr("least(j_bp div 1000, 9) AS bucket")
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .selectExpr(
            "CAST(bucket AS BIGINT) AS bucket",
            "CAST(bucket * 1000 AS BIGINT) AS j_bp_lo",
            "n_pairs",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# X83 — loss-mask manifest (mask duplicated spans, don't delete, r11)


@query(
    "q_loss_mask",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
            FROM documents),
        gram AS (
            SELECT doc_id, pos, {_span_gram_sql('tok')} AS g
            FROM tok
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        dupg AS (
            SELECT g FROM gram WHERE g IS NOT NULL
            GROUP BY g HAVING count(*) >= 2),
        flagged AS (
            SELECT gr.doc_id, gr.pos,
                   CASE WHEN d.g IS NOT NULL THEN 1 ELSE 0 END AS is_dup
            FROM gram gr LEFT JOIN dupg d ON gr.g = d.g),
        covered AS (
            SELECT doc_id, pos,
                   max(is_dup) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN {_SPAN_K - 1} PRECEDING
                                     AND CURRENT ROW) AS cov
            FROM flagged),
        isl AS (
            SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS grp
            FROM covered WHERE cov = 1)
        SELECT doc_id,
               CAST(min(pos) AS BIGINT) AS span_start,
               CAST(max(pos) AS BIGINT) AS span_end,
               CAST(count(*) AS BIGINT) AS span_toks
        FROM isl
        GROUP BY doc_id, grp
        ORDER BY doc_id, span_start
    """,
    tags=("dedup", "extension", "exact-substr", "loss-mask"),
)
def q_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loss-mask manifest (X83) — the NON-destructive consumption of
    ExactSubstr duplication: production trainers usually keep the
    text intact and MASK duplicated spans out of the loss instead of
    deleting them (deletion changes the token stream the model sees;
    masking only changes what it is graded on).  For every document,
    the maximal contiguous runs of positions covered by some
    corpus-duplicated stride-1 {_SPAN_K}-gram, merged into
    (span_start, span_end, span_toks) intervals — exactly the spans
    q_dup_spans counts and q_dup_strip deletes, emitted as the
    manifest a data loader joins by doc_id.

    Interval merging is the classic islands trick: among covered
    positions, pos − rank(pos) is constant within each contiguous
    run, so ONE per-doc window + a groupBy replaces any
    self-join/interval-union machinery.  Scale shape inherits
    q_dup_spans': hash-only gram base checkpointed once (1 corpus
    scan), uniform hash-keyed dup-set groupBy, doc-partitioned
    windows; output is one row per masked span."""
    gram = _span_gram_base(load_table(spark, sf_dir, "documents"))
    return span_mask(gram, _dup_grams(gram))


def span_mask(gram: DataFrame, dupg: DataFrame) -> DataFrame:
    """The interval-manifest half of q_loss_mask over ANY
    (doc_id, pos, g) gram base and ANY duplicated-gram set — the
    span_coverage convention: shared by the inline query (dup set
    from the same corpus) and the streaming gram store's serve path
    (streaming/jobs.loss_mask_serve), so both emit one definition."""
    covered = _span_cover(gram, dupg, "pos")
    isl_w = W.partitionBy("doc_id").orderBy("pos")
    isl = covered.filter(F.col("cov") == 1).select(
        "doc_id",
        "pos",
        (
            F.col("pos").cast("long")
            - F.row_number().over(isl_w).cast("long")
        ).alias("grp"),
    )
    # +1: the engine gram base numbers positions 0-based (posexplode)
    # while the manifest contract — and the oracle's unnest(range) —
    # is 1-based token positions; earlier span consumers only
    # aggregated counts, so this is the first place the convention
    # becomes visible
    return (
        isl.groupBy("doc_id", "grp")
        .agg(
            (F.min("pos") + 1).cast("bigint").alias("span_start"),
            (F.max("pos") + 1).cast("bigint").alias("span_end"),
            F.count("*").cast("bigint").alias("span_toks"),
        )
        .select("doc_id", "span_start", "span_end", "span_toks")
        .orderBy("doc_id", "span_start")
    )


# ---------------------------------------------------------------------------
# X109 — contamination blast radius: k-hop reach over the dup graph
# (r13).  A flagged doc's near-duplicates are paraphrase-chain
# suspects, and THEIR near-duplicates are too: quarantine everything
# within H hops of the flagged set, with the hop distance as the
# review priority.

_RADIUS_HOPS = 3


def _contamination_radius_oracle() -> str:
    return f"""
        WITH RECURSIVE {_PAIRS_CTE},
        edges AS MATERIALIZED (
            SELECT pa AS a, pb AS b FROM pairs
            UNION SELECT pb, pa FROM pairs),
        seeds AS (
            SELECT doc_id AS n FROM documents
            WHERE doc_id IS NOT NULL AND doc_id % 97 = 0),
        reach(n, hop) AS (
            SELECT n, 0 FROM seeds
            UNION
            SELECT e.b, r.hop + 1
            FROM reach r JOIN edges e ON e.a = r.n
            WHERE r.hop < {_RADIUS_HOPS}
        )
        SELECT n AS doc_id, CAST(min(hop) AS INTEGER) AS hops
        FROM reach GROUP BY n
    """


@query(
    "q_contamination_radius",
    oracle=_contamination_radius_oracle(),
    tags=("dedup", "graph", "iterative", "contamination", "extension"),
)
def q_contamination_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination BLAST RADIUS (X109): every document within
    {_RADIUS_HOPS} hops of a flagged set in the near-duplicate graph,
    with its minimum hop distance — the quarantine list a curation
    team actually pulls when an eval-set leak is found, because the
    leak's near-dups are paraphrase suspects and near-dups OF those
    are too (transitively diluted copies the direct pair check
    misses).  Flagged set: doc_id ≡ 0 (mod 97) — the deterministic
    stand-in for an external flag column.

    Engine shape: FRONTIER BFS — each round joins only the NEWLY
    discovered nodes against the edge relation (broadcast-sized
    frontier at fixture scale, shuffle equi-join at 100 TB), anti-
    joins the visited set so a node is labeled at its FIRST
    (minimum) hop, and scale.spark_rounds cuts each round lazily to
    keep {_RADIUS_HOPS} rounds of lineage flat.  Work is O(edges touched
    per round), never O(nodes²); the hop bound makes the plan depth
    static.  The oracle replays seeds + symmetric edges + a
    hop-bounded recursive closure and takes min(hop) — hash equality
    proves frontier-BFS == global min-distance."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = near_pairs_cached(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    return _frontier_radius(docs, pairs)


def _frontier_radius(docs: DataFrame, half_edges: DataFrame) -> DataFrame:
    """(doc_id, hops): every node within {_RADIUS_HOPS} hops of the
    flagged seeds (doc_id ≡ 0 mod 97 in ``docs``) over the undirected
    graph of the (a, b) ``half_edges``, at its minimum hop distance.
    Frontier BFS: each round joins only the newly found nodes to the
    symmetric edges and anti-joins the visited set.  The rounds run
    through scale.spark_rounds at the width of the cut edge relation,
    so the hops plan lazily and run inside the caller's action.  The
    one definition behind q_contamination_radius (text pairs) and
    multimodal.q_radius_served (the registry's edge store)."""
    from .scale import spark_rounds

    edges = (
        half_edges.unionByName(
            half_edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    seeds = (
        docs.filter(
            F.col("doc_id").isNotNull() & (F.col("doc_id") % 97 == 0)
        )
        .select(F.col("doc_id").alias("n"))
        .withColumn("hops", F.lit(0))
    )
    hop = 0

    def step(dist):
        nonlocal hop
        hop += 1
        # the frontier is the nodes the previous hop found
        frontier = dist.filter(F.col("hops") == hop - 1).select("n")
        nxt = (
            frontier.join(edges, frontier["n"] == edges["a"])
            .select(F.col("b").alias("n"))
            .distinct()
        )
        newf = nxt.join(dist.select("n"), "n", "left_anti").withColumn(
            "hops", F.lit(hop)
        )
        return dist.unionByName(newf)

    # fixed rounds by contract (the oracle replays _RADIUS_HOPS hops)
    dist, _ = spark_rounds(
        seeds, step, width_of=edges, max_rounds=_RADIUS_HOPS,
        what="frontier radius",
    )
    return dist.select(
        F.col("n").alias("doc_id"), F.col("hops").cast("int").alias("hops")
    )


# ---------------------------------------------------------------------------
# X112 — text admission gate: q_dedup_near served from the band store
# (r13).  Completes the gate matrix: text + image + audio + video.


@query(
    "q_text_gate",
    oracle=f"""
        WITH {SHINGLES_SQL_CTE},
        mh AS (
            SELECT doc_id,
               {_MINHASH_COLS_SQL}
            FROM ex GROUP BY doc_id),
        bands AS ({_BAND_SQL}),
        hot AS (
            SELECT bi, bv FROM bands GROUP BY bi, bv
            HAVING count(*) > {_LSH_BUCKET_CAP}),
        kept AS (
            SELECT * FROM bands ba WHERE NOT EXISTS
                (SELECT 1 FROM hot h WHERE h.bi = ba.bi AND h.bv = ba.bv))
        SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
        FROM kept n JOIN kept c
          ON n.bi = c.bi AND n.bv = c.bv
        WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    """,
    tags=("dedup", "lsh", "serve", "streaming", "extension"),
)
def q_text_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-dedup admission gate, SERVED (X112): ingest the even-id
    half of the corpus into the MinHash band store
    (contamination_bands_merge_fn — ~4 band rows per doc), then
    screen the odd-id half as the "upload" batch
    (jobs.text_dedup_check): every (new_doc, corpus_doc) LSH
    candidate pair against ingest history, with inline
    q_dedup_near's exact cap semantics (bucket sizes over store ∪
    batch = the whole corpus on this split, over-cap buckets
    dropped).  With X96 (image) and X107 (audio, video) this
    completes the admission-gate matrix: every evidence channel has
    a standing store + served screen.  The oracle recomputes
    shingles → minhash → bands → cap prune and keeps exactly the
    cross-half band collisions.

    The deliberate asymmetry with the media gates (documented in
    text_dedup_check): the LSH cap is a corpus-global statistic, so
    the text gate equals inline only when store ∪ batch covers the
    corpus — it screens uploads against a SETTLED history, while the
    cap-free media gates are additionally wave-incremental
    (q_ingest_registry)."""
    import sys

    from ..streaming import jobs as _jobs
    from .index_cache import cached

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter("doc_id % 2 = 0").select("doc_id", "text")
    uploads = docs.filter("doc_id % 2 = 1").select("doc_id", "text")
    store = cached(
        "text_bands_gate",
        sf_dir,
        ("documents",),
        (sys.modules[__name__], _jobs),
        lambda p: _jobs.contamination_bands_merge_fn(spark, p)(history, 0),
    )
    return _jobs.text_dedup_check(spark, store, uploads)
