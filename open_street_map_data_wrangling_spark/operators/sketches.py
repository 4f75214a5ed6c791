"""Deterministic, cross-engine-exact sketch structures.

The sketch family elsewhere in the registry (q_approx_users,
q_approx_percentiles) rides Spark's built-in estimators, whose
internal hash seeds make them rows-only checks by design.  This
module takes the opposite trade: the sketches are built from md5 —
available and bit-identical in both Spark and DuckDB — so the ENTIRE
structure (registers, bitmaps, estimates) is reproducible to the last
bit in the oracle and the driver's value hash applies.  That turns
"trust the estimator" into "audit the estimator":

* `q_hll_det` — a from-scratch HyperLogLog (m=256 registers, md5
  bucket + 52-bit rank field) whose raw-estimate and linear-counting
  branches are both expressed in engine-portable integer/IEEE
  arithmetic.  The register table is the mergeable state — register
  max over any partitioning of the input yields the identical sketch
  (tests/test_sketch_bounds.py proves half-vs-full merge equality),
  which is exactly the property that makes HLL a one-shuffle
  distinct-count at 100 TB: partial register maps merge map-side,
  and only m rows per group ever cross the wire.
* `q_bloom_prune` — the prune-before-shuffle pattern: a 262144-bit
  Bloom filter over a filtered dimension's keys, packed into ≤4229
  (word, mask) rows (~68 KB), broadcast to the fact side, probed at
  three Kirsch-Mitzenmacher double-hash positions derived from ONE
  md5 per key, then audited against the exact semi-join.
  False positives are counted, false negatives are structurally
  impossible (the oracle proves the candidate set ⊇ the true set
  because matched == exact semi-join count).  At 100 TB the filter
  is a few KB broadcast to every task while the fact table never
  shuffles: rows are dropped at the scan-adjacent stage, which is
  the same lever Spark's runtime row-level bloom
  (spark.sql.optimizer.runtime.bloomFilter.enabled) pulls
  automatically — made explicit and cross-engine-checkable here.

Engine-portability rules used throughout (established by the dedup
family, PLANS.md): md5 prefixes via `conv(...,16,10)` / `('0x'||…)`;
bit shifts kept ≤62 because DuckDB's `<<` is overflow-checked;
no double→int casts (Spark truncates, DuckDB rounds); DuckDB
`sum(BIGINT)` is HUGEINT so every summed output is re-CAST.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.catalog import load_table, read_parquet

# ---------------------------------------------------------------------------
# Deterministic HyperLogLog
# ---------------------------------------------------------------------------

# m = 256 buckets: first 2 md5 hex chars; rank field: next 13 hex
# chars (52 bits).  rho = leading-zero count within the 52-bit field
# + 1 ∈ [1, 53]; bin() trims leading zeros in both engines, so
# bitlen(v) = length(bin(v)) and rho = 53 - bitlen for v > 0.
_HLL_M = 256
# alpha_256 * m^2 * 2^53, spelled as the same literal arithmetic in
# both engines so the IEEE evaluation order is identical.
_HLL_RAW_NUM = "0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0"

_HLL_ORACLE = f"""
    WITH h AS (
        SELECT event_type, event_id,
               md5(CAST(event_id AS VARCHAR)) AS h
        FROM events),
    f AS (
        SELECT event_type, event_id,
               ('0x' || substr(h, 1, 2))::BIGINT AS b,
               ('0x' || substr(h, 3, 13))::BIGINT AS v
        FROM h),
    r AS (
        SELECT event_type, b,
               max(CASE WHEN v = 0 THEN 53
                        ELSE 53 - length(bin(v)) END) AS m,
               count(DISTINCT event_id) AS d
        FROM f GROUP BY event_type, b),
    p AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(1::BIGINT << (53 - m)) AS BIGINT) AS s_present,
               CAST(sum(d) AS BIGINT) AS exact_ids
        FROM r GROUP BY event_type),
    e AS (
        SELECT event_type, exact_ids, 256 - nb AS zb,
               {_HLL_RAW_NUM}
                   / CAST(s_present + (256 - nb) * (1::BIGINT << 53)
                          AS DOUBLE) AS raw
        FROM p)
    SELECT event_type, exact_ids,
           round(CASE WHEN raw <= 640.0 AND zb > 0
                      THEN 256.0 * ln(256.0 / CAST(zb AS DOUBLE))
                      ELSE raw END, 3) AS hll_est,
           CAST(zb AS BIGINT) AS empty_regs
    FROM e
"""


def hll_registers(df: DataFrame, group: str, key: str) -> DataFrame:
    """Per-(group, bucket) HLL register table — the mergeable sketch
    state.  `max(rho)` is the merge operator, so registers built on
    any split of the input and max-merged equal the registers built
    on the whole (the streaming / partial-aggregation story, pinned
    in tests).  Shuffle honesty: the sketch columns alone would cross
    the wire as at most m=256 partially-maxed rows per group, but
    this implementation ALSO carries `countDistinct(key)` — the exact
    twin the audit queries compare against — and that column forces
    the partial aggregate to ship per-(group, bucket, key) distinct
    rows.  The 256-rows-per-group bound holds only for a sketch-only
    variant (drop `d`); the streaming store path effectively gets it
    back because hll_merge_fn re-aggregates register maxima without
    the exact column."""
    return (
        df.select(
            F.col(group),
            F.col(key),
            F.md5(F.col(key).cast("string")).alias("__h"),
        )
        .select(
            group,
            key,
            F.expr("CAST(conv(substring(__h, 1, 2), 16, 10) AS BIGINT)").alias(
                "b"
            ),
            F.expr("CAST(conv(substring(__h, 3, 13), 16, 10) AS BIGINT)").alias(
                "v"
            ),
        )
        .groupBy(group, "b")
        .agg(
            F.expr(
                "max(CASE WHEN v = 0 THEN 53 ELSE 53 - length(bin(v)) END)"
            ).alias("m"),
            F.countDistinct(key).alias("d"),
        )
    )


@query(
    "q_hll_det",
    oracle=_HLL_ORACLE,
    tags=("sketch", "agg", "extension", "scale"),
)
def q_hll_det(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog distinct-count per event type,
    oracle-exact to the last bit (unlike q_approx_users, whose Spark
    HLL++ seeds force a rows-only check).  Both estimator branches
    are engine-portable: the raw harmonic mean is pure integer
    arithmetic (sum of 2^(53-M_j) as BIGINT — max 256·2^53 = 2^61,
    no overflow) down to ONE double division, and the small-range
    linear-counting branch (raw ≤ 2.5m with empty registers) is one
    libm ln on an integer ratio.  The exact distinct rides the same
    single scan/shuffle: bucket is a function of the key's hash, so
    per-bucket countDistinct sums to the true distinct — no second
    count(DISTINCT) pass.  At 100 TB only the sketch would run; the
    exact twin here is the audit column, and at sf0.01 the estimate
    lands within the published 1.04/√m ≈ 6.5 % band."""
    regs = hll_registers(load_table(spark, sf_dir, "events"), "event_type", "event_id")
    per = regs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("nb"),
        F.expr(
            "CAST(sum(shiftleft(CAST(1 AS BIGINT), 53 - m)) AS BIGINT)"
        ).alias("s_present"),
        F.sum("d").cast("bigint").alias("exact_ids"),
    )
    est = per.select(
        "event_type",
        "exact_ids",
        (F.lit(_HLL_M) - F.col("nb")).alias("zb"),
        F.expr(
            f"{_HLL_RAW_NUM} / CAST(s_present + (256 - nb) * "
            "shiftleft(CAST(1 AS BIGINT), 53) AS DOUBLE)"
        ).alias("raw"),
    )
    return est.select(
        "event_type",
        "exact_ids",
        F.expr(
            "round(CASE WHEN raw <= 640.0 AND zb > 0 "
            "THEN 256.0 * ln(256.0 / CAST(zb AS DOUBLE)) "
            "ELSE raw END, 3)"
        ).alias("hll_est"),
        F.col("zb").cast("bigint").alias("empty_regs"),
    )


# ---------------------------------------------------------------------------
# Broadcast Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------

_BLOOM_BITS = 262144
_BLOOM_WORD = 62  # DuckDB `<<` is overflow-checked; keep shifts ≤ 61
_BLOOM_K = 3

# Kirsch-Mitzenmacher double hashing: ONE md5 per key yields h1 (hex
# chars 1-12) and h2 (chars 13-24), and pos_i = (h1 + i*h2) mod m has
# the same FP guarantees as k independent hashes — a third of the
# per-row hashing the salted-digest form pays on the fact side.
# max(h1 + 2*h2) < 3·2^48, no BIGINT overflow.  `key` must be a SQL
# expression of VARCHAR type.
_POS_SPARK = (
    "((CAST(conv(substring(md5({key}), 1, 12), 16, 10) AS BIGINT)"
    " + {i} * CAST(conv(substring(md5({key}), 13, 12), 16, 10) AS BIGINT))"
    " % 262144)"
)
_POS_DUCK = (
    "((('0x' || substr(md5({key}), 1, 12))::BIGINT"
    " + {i} * ('0x' || substr(md5({key}), 13, 12))::BIGINT) % 262144)"
)

_BLOOM_ORACLE = f"""
    WITH dim AS (
        SELECT o_orderkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT'),
    pos AS (
        {" UNION ALL ".join(
            "SELECT " + _POS_DUCK.format(i=i, key="CAST(k AS VARCHAR)")
            + " AS p FROM dim"
            for i in range(_BLOOM_K)
        )}),
    words AS (
        SELECT p // {_BLOOM_WORD} AS w,
               bit_or(1::BIGINT << CAST(p % {_BLOOM_WORD} AS INT)) AS mask
        FROM pos GROUP BY p // {_BLOOM_WORD}),
    probe AS (
        SELECT l_orderkey,
               {", ".join(
                   _POS_DUCK.format(i=i, key="CAST(l_orderkey AS VARCHAR)")
                   + f" AS p{i}"
                   for i in range(_BLOOM_K)
               )}
        FROM lineitem),
    cand AS (
        SELECT p.l_orderkey,
               CASE WHEN {" AND ".join(
                   f"coalesce((w{i}.mask >> CAST(p.p{i} % {_BLOOM_WORD} AS INT))"
                   " & 1, 0) = 1"
                   for i in range(_BLOOM_K)
               )} THEN 1 ELSE 0 END AS c
        FROM probe p
        {" ".join(
            f"LEFT JOIN words w{i} ON w{i}.w = p.p{i} // {_BLOOM_WORD}"
            for i in range(_BLOOM_K)
        )})
    SELECT CAST(count(*) AS BIGINT) AS fact_rows,
           CAST(sum(cand.c) AS BIGINT) AS candidate_rows,
           CAST(sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS matched_rows,
           CAST(sum(cand.c)
                - sum(CASE WHEN d.k IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives
    FROM cand LEFT JOIN (SELECT DISTINCT k FROM dim) d
      ON cand.l_orderkey = d.k
"""


@query(
    "q_bloom_prune",
    oracle=_BLOOM_ORACLE,
    tags=("sketch", "join", "scale", "extension"),
)
def q_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast Bloom-filter pruning of a fact table before an
    expensive downstream join — the shuffle-avoidance lever, fully
    audited.  The filter over the urgent orders' keys (≈30 k keys at
    sf0.1 into 262144 bits, k=3 → fill ≈29 %, measured FP rate ≈2 %)
    packs into ≤4229 (word, mask) BIGINT rows (~68 KB — at 100 TB
    you size m to the dim: even 10^9 keys fit a ~500 MB filter, or
    partition the filter by key range) built by ONE tiny aggregation;
    probing is three broadcast-hash left joins on word index plus a
    mask test, so the 60 k-row (100 TB-scale: arbitrarily large)
    fact side is never shuffled — candidates are decided row-local
    at the scan.  The exact broadcast semi-join runs alongside and
    the output reports fact/candidate/matched/false-positive counts;
    matched == the semi-join count proves no false negatives.  Word
    width is 62 bits because DuckDB's `<<` is overflow-checked at
    bit 63."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    dim = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    # one dim scan: all k positions from a single projection (the
    # md5 is CSE'd once per row), not k unioned re-scans of the dim
    pos_arr = ", ".join(
        _POS_SPARK.format(i=i, key="CAST(k AS STRING)")
        for i in range(_BLOOM_K)
    )
    pos = dim.select(F.explode(F.expr(f"array({pos_arr})")).alias("p"))
    # the filter table feeds k=3 probe joins (plus the plan would
    # rebuild it per join side) — checkpoint the ≤4229 (word, mask)
    # rows so the dim is hashed once, not once per probe position
    # (was 4 orders FileScans; now 2 reads: words base + exact truth).
    words = (
        pos.groupBy(F.expr(f"p div {_BLOOM_WORD}").alias("w"))
        .agg(
            F.expr(
                f"bit_or(shiftleft(CAST(1 AS BIGINT), "
                f"CAST(p % {_BLOOM_WORD} AS INT)))"
            ).alias("mask")
        )
        .localCheckpoint(eager=False)
    )
    probe = lineitem.select(
        "l_orderkey",
        *[
            F.expr(
                _POS_SPARK.format(i=i, key="CAST(l_orderkey AS STRING)")
            ).alias(f"p{i}")
            for i in range(_BLOOM_K)
        ],
    )
    cand = probe
    for i in range(_BLOOM_K):
        wi = words.select(
            F.col("w").alias(f"w{i}"), F.col("mask").alias(f"mask{i}")
        )
        cand = cand.join(
            F.broadcast(wi),
            F.expr(f"p{i} div {_BLOOM_WORD}") == F.col(f"w{i}"),
            "left",
        )
    bit_tests = " AND ".join(
        f"coalesce((mask{i} >> CAST(p{i} % {_BLOOM_WORD} AS INT)) & 1, 0) = 1"
        for i in range(_BLOOM_K)
    )
    truth = dim.select(F.col("k").alias("tk")).distinct()
    flagged = (
        cand.withColumn("c", F.expr(f"CASE WHEN {bit_tests} THEN 1 ELSE 0 END"))
        .join(F.broadcast(truth), F.col("l_orderkey") == F.col("tk"), "left")
        .withColumn("t", F.when(F.col("tk").isNotNull(), 1).otherwise(0))
    )
    return flagged.agg(
        F.count("*").cast("bigint").alias("fact_rows"),
        F.sum("c").cast("bigint").alias("candidate_rows"),
        F.sum("t").cast("bigint").alias("matched_rows"),
        (F.sum("c") - F.sum("t")).cast("bigint").alias("false_positives"),
    )


# ---------------------------------------------------------------------------
# Deterministic count-min sketch
# ---------------------------------------------------------------------------

_CMS_W = 1024
_CMS_D = 3

_CMS_ORACLE = f"""
    WITH tf AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok),
    counters AS (
        {" UNION ALL ".join(
            f"SELECT {d} AS d, "
            f"(('0x' || substr(md5('c{d}:' || tok), 1, 12))::BIGINT) % {_CMS_W}"
            " AS pos, CAST(sum(n) AS BIGINT) AS c FROM tf GROUP BY 2"
            for d in range(_CMS_D)
        )}),
    top AS (
        SELECT tok, n FROM tf
        ORDER BY n DESC, tok ASC LIMIT 20),
    probe AS (
        SELECT t.tok, t.n, cnt.d, cnt.c
        FROM top t JOIN counters cnt
          ON cnt.pos = (('0x' || substr(md5('c' || CAST(cnt.d AS VARCHAR)
                         || ':' || t.tok), 1, 12))::BIGINT) % {_CMS_W})
    SELECT tok, n AS exact_n,
           CAST(min(c) AS BIGINT) AS cms_est,
           CAST(min(c) - n AS BIGINT) AS overcount
    FROM probe GROUP BY tok, n
"""


def token_freq(docs: DataFrame) -> DataFrame:
    """(tok, n) counts of the single-space tokens of ``docs.text``,
    empty tokens included."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("n"))
    )


def cms_counters(tf: DataFrame) -> DataFrame:
    """The (d, pos, c) count-min counters of a (tok, n) frequency
    table: 3 salted-md5 rows x 1024 columns.  Shared by
    q_cms_topk and the streaming counter store
    (streaming/jobs.cms_merge_fn), whose sum-merge of per-batch
    counters equals this over the concatenated corpus."""
    pos_structs = ", ".join(
        f"struct({d} AS d, CAST(conv(substring(md5(concat('c{d}:', tok)), "
        f"1, 12), 16, 10) AS BIGINT) % {_CMS_W} AS pos)"
        for d in range(_CMS_D)
    )
    return (
        tf.select(
            F.explode(F.expr(f"array({pos_structs})")).alias("dp"), "n"
        )
        .groupBy(F.col("dp.d").alias("d"), F.col("dp.pos").alias("pos"))
        .agg(F.sum("n").cast("bigint").alias("c"))
    )


@query(
    "q_cms_topk",
    oracle=_CMS_ORACLE,
    tags=("sketch", "text", "extension", "scale"),
)
def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic count-min sketch, audited against exact counts
    for the corpus top-20 tokens — completing the oracle-exact sketch
    trio (HLL for distinct, Bloom for membership, CMS for frequency).
    depth=3 salted-md5 rows x width=1024 counters; the estimate is
    min over rows and the one-sided guarantee (est >= exact, pinned
    in tests) comes from counters only ever over-counting on
    collisions.  The counters derive from the token-frequency
    aggregate — NOT a second corpus scan — so the whole query is one
    corpus pass; the 3x1024 counter table is map-side-additive (sum
    is the merge operator), which is what makes CMS the streaming /
    100 TB answer to "how often does X occur": partial counters merge
    per partition or micro-batch, and frequency questions are then
    O(d) lookups into a few KB of state, never a corpus re-scan."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan: the vocabulary-sized tf aggregate is
    # checkpointed and every downstream branch (counters, top-20)
    # reads it instead of re-scanning documents (the
    # checkpointed-reuse posture of the dedup signature tables)
    tf = token_freq(docs).localCheckpoint(eager=False)
    counters = cms_counters(tf)
    top = tf.orderBy(F.desc("n"), F.asc("tok")).limit(20)
    pos_exprs = ", ".join(
        f"{d}, CAST(conv(substring(md5(concat('c{d}:', tok)), 1, 12), "
        f"16, 10) AS BIGINT) % {_CMS_W}"
        for d in range(_CMS_D)
    )
    expanded = top.selectExpr(
        "tok", "n", f"stack({_CMS_D}, {pos_exprs}) AS (d, pos)"
    )
    probe = expanded.join(F.broadcast(counters), ["d", "pos"])
    return probe.groupBy("tok", F.col("n").alias("exact_n")).agg(
        F.min("c").cast("bigint").alias("cms_est"),
        (F.min("c") - F.col("n")).cast("bigint").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# Deterministic KMV (k-minimum-values) set-overlap sketch
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_H = "(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 12))::BIGINT)"

_KMV_ORACLE = f"""
    WITH tu AS (
        SELECT DISTINCT o_orderpriority AS seg, o_custkey FROM orders),
    uh AS (
        SELECT seg, {_KMV_H} AS h FROM tu),
    sk AS (
        SELECT seg, h FROM (
            SELECT seg, h,
                   row_number() OVER (PARTITION BY seg
                                      ORDER BY h ASC) AS rn
            FROM uh) WHERE rn <= {_KMV_K}),
    types AS (SELECT DISTINCT o_orderpriority AS seg FROM orders),
    tagged AS (
        SELECT s.seg AS type_a, t.seg AS type_b,
               s.h, 1 AS in_a, 0 AS in_b
        FROM sk s JOIN types t ON s.seg < t.seg
        UNION ALL
        SELECT t.seg AS type_a, s.seg AS type_b,
               s.h, 0 AS in_a, 1 AS in_b
        FROM sk s JOIN types t ON t.seg < s.seg),
    merged AS (
        SELECT type_a, type_b, h,
               max(in_a) AS in_a, max(in_b) AS in_b
        FROM tagged GROUP BY type_a, type_b, h),
    kmin AS (
        SELECT type_a, type_b, in_a, in_b FROM (
            SELECT *, row_number() OVER (PARTITION BY type_a, type_b
                                         ORDER BY h ASC) AS rn
            FROM merged) WHERE rn <= {_KMV_K}),
    est AS (
        SELECT type_a, type_b,
               CAST(count(*) AS BIGINT) AS kk,
               CAST(sum(in_a * in_b) AS BIGINT) AS n_both_sk
        FROM kmin GROUP BY type_a, type_b),
    sizes AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS n
        FROM tu GROUP BY seg),
    inter AS (
        SELECT a.seg AS type_a, b.seg AS type_b,
               CAST(count(*) AS BIGINT) AS n_both
        FROM tu a JOIN tu b
          ON a.o_custkey = b.o_custkey AND a.seg < b.seg
        GROUP BY 1, 2)
    SELECT e.type_a, e.type_b,
           CAST(10000 * coalesce(i.n_both, 0)
                // (sa.n + sb.n - coalesce(i.n_both, 0)) AS BIGINT)
               AS jaccard_x10k,
           CAST(10000 * e.n_both_sk // e.kk AS BIGINT) AS kmv_x10k,
           e.kk
    FROM est e
    JOIN sizes sa ON sa.seg = e.type_a
    JOIN sizes sb ON sb.seg = e.type_b
    LEFT JOIN inter i ON i.type_a = e.type_a AND i.type_b = e.type_b
"""


@query(
    "q_kmv_overlap",
    oracle=_KMV_ORACLE,
    tags=("sketch", "setops", "extension", "scale"),
)
def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) Jaccard estimation between customer
    segments (the distinct o_custkey set of each order priority —
    chosen over event-type user sets, whose overlap is degenerately
    1.0 in the fixtures; priority segments overlap at ~0.76), audited
    against the exact pairwise Jaccard in the same output row.  Each
    segment keeps its k=64 smallest md5 member hashes — a fixed-size,
    MERGEABLE summary (the union of two sketches, re-truncated to k,
    IS the union's sketch); the estimator counts how many of the k
    smallest hashes of A∪B belong to both sketches.  Everything is
    md5-deterministic, so the oracle rebuilds the sketch bit-for-bit.
    When a union is smaller than k the sketch holds the whole set and
    the estimate equals the truth (the sf0.001 case, a built-in
    sanity check).  At 100 TB this is THE cross-segment overlap
    answer: exact pairwise intersection needs a member-keyed
    self-join over every segment pair, while KMV ships k·|segments|
    rows — per-segment top-k via one window whose map-side
    WindowGroupLimit prunes to k rows per partition before the
    exchange — and all pair arithmetic happens on sketches."""
    orders = load_table(spark, sf_dir, "orders")
    # ONE fact scan: the (segment, member) distinct table feeds five
    # branches (hashes, segment list, sizes, both sides of the exact
    # intersection) — checkpoint it instead of re-scanning orders
    tu = (
        orders.select(F.col("o_orderpriority").alias("seg"), "o_custkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    uh = tu.select(
        "seg",
        F.expr(
            "CAST(conv(substring(md5(CAST(o_custkey AS STRING)), 1, 12), "
            "16, 10) AS BIGINT)"
        ).alias("h"),
    )
    sk = (
        uh.withColumn(
            "rn",
            F.row_number().over(W.partitionBy("seg").orderBy(F.asc("h"))),
        )
        .filter(F.col("rn") <= _KMV_K)
        .select("seg", "h")
    )
    types = tu.select("seg").distinct()
    s, t = sk.alias("s"), types.alias("t")
    tagged = (
        s.join(F.broadcast(t), F.col("s.seg") < F.col("t.seg"))
        .select(
            F.col("s.seg").alias("type_a"),
            F.col("t.seg").alias("type_b"),
            "h",
            F.lit(1).alias("in_a"),
            F.lit(0).alias("in_b"),
        )
        .unionAll(
            s.join(
                F.broadcast(t), F.col("t.seg") < F.col("s.seg")
            ).select(
                F.col("t.seg").alias("type_a"),
                F.col("s.seg").alias("type_b"),
                "h",
                F.lit(0).alias("in_a"),
                F.lit(1).alias("in_b"),
            )
        )
    )
    merged = tagged.groupBy("type_a", "type_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    kmin = (
        merged.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("type_a", "type_b").orderBy(F.asc("h"))
            ),
        )
        .filter(F.col("rn") <= _KMV_K)
    )
    est = kmin.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("kk"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both_sk"),
    )
    sizes = tu.groupBy("seg").agg(F.count("*").cast("bigint").alias("n"))
    a, b = tu.alias("a"), tu.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.seg") < F.col("b.seg")),
        )
        .groupBy(
            F.col("a.seg").alias("type_a"),
            F.col("b.seg").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sizes.select(F.col("seg").alias("type_a"), F.col("n").alias("n_a"))
    sb = sizes.select(F.col("seg").alias("type_b"), F.col("n").alias("n_b"))
    return (
        est.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(F.broadcast(inter), ["type_a", "type_b"], "left")
        .selectExpr(
            "type_a",
            "type_b",
            "CAST(10000 * coalesce(n_both, 0) "
            "div (n_a + n_b - coalesce(n_both, 0)) AS BIGINT) AS jaccard_x10k",
            "CAST(10000 * n_both_sk div kk AS BIGINT) AS kmv_x10k",
            "kk",
        )
    )


# ---------------------------------------------------------------------------
# X127 — time-decayed heavy hitters (integer halving decay)

_DECAY_BUCKET_DAYS = 3  # halve a contribution every 3 days of age
_DECAY_TOPK = 10


@query(
    "q_decayed_topk",
    oracle=f"""
        WITH ref AS (
            SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS ref_us
            FROM events),
        w AS (
            SELECT user_id,
                   10000 // (1 << CAST(least(
                       (ref.ref_us - epoch_us(CAST(ts AS TIMESTAMP)))
                           // {86400000000 * _DECAY_BUCKET_DAYS},
                       30) AS INTEGER)) AS wgt
            FROM events, ref)
        SELECT user_id,
               CAST(sum(wgt) AS BIGINT) AS decayed_x10k,
               CAST(count(*) AS BIGINT) AS n_events
        FROM w
        GROUP BY user_id
        ORDER BY decayed_x10k DESC, user_id ASC
        LIMIT {_DECAY_TOPK}
    """,
    tags=("sketch", "events", "extension", "topk"),
)
def q_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed heavy hitters (X127) — trending detection over the
    event stream: each event contributes 10000 >> (age/{_DECAY_BUCKET_DAYS}d)
    basis points, halving every {_DECAY_BUCKET_DAYS} days of age
    relative to the stream head (max ts), so a recently-active user
    outranks a historically-heavy one.  The decay is an INTEGER shift
    (10000 // 2^bucket, bucket capped at 30) — no float pow, so both
    engines score bit-identically, unlike the exponential-decay form
    that needs transcendental math.

    Engine side: one 1-row max(ts) aggregate re-enters broadcast (the
    scalar-agg class), the per-event weight is a rowwise shift, and
    the top-{_DECAY_TOPK} is a TakeOrderedAndProject over the
    per-user aggregate — at 100 TB: scan + partial agg + k-row heap.
    The streaming deployment of the same decay is REAL: X128's
    q_decayed_topk_served serves from the per-(user, bucket) count
    store that streaming/jobs.decayed_topk_maintenance keeps
    incremental, re-weighting at serve time by shifting buckets —
    the bucketed form is exactly what makes the decay maintainable
    without rescoring history."""
    events = load_table(spark, sf_dir, "events")
    ref = events.agg(F.max(F.unix_micros("ts")).alias("ref_us"))
    bucket_us = 86400000000 * _DECAY_BUCKET_DAYS
    return (
        events.select("user_id", F.unix_micros("ts").alias("ts_us"))
        .join(F.broadcast(ref))
        .select(
            "user_id",
            F.expr(
                f"10000 div shiftleft(1L, CAST(least("
                f"(ref_us - ts_us) div {bucket_us}, 30) AS INT))"
            ).alias("wgt"),
        )
        .groupBy("user_id")
        .agg(
            F.sum("wgt").cast("bigint").alias("decayed_x10k"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .orderBy(F.desc("decayed_x10k"), F.asc("user_id"))
        .limit(_DECAY_TOPK)
    )


# ---------------------------------------------------------------------------
# X128 — decayed heavy hitters SERVED from the maintained bucket store

_DECAY_BUCKET_US = 86400000000 * _DECAY_BUCKET_DAYS
_DECAY_WAVES = 3


def decayed_counts(events: DataFrame) -> DataFrame:
    """Per-(user_id, bkt) event counts at absolute {_DECAY_BUCKET_DAYS}-day
    bucket granularity — the MAINTAINABLE state behind the decayed
    heavy-hitter serve: counts are additive across micro-batches
    (streaming/jobs.decayed_counts_merge_fn folds a batch in with one
    groupBy-sum), and the decay never touches the stored numbers
    because age only enters at serve time as a bucket shift.  State
    size is |active users| x |age buckets|, independent of event
    volume."""
    return (
        events.select(
            "user_id",
            F.expr(f"unix_micros(ts) div {_DECAY_BUCKET_US}").alias("bkt"),
        )
        .groupBy("user_id", "bkt")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


def decayed_topk_from_store(
    store: DataFrame, k: int = _DECAY_TOPK
) -> DataFrame:
    """Serve the time-decayed top-k from the maintained
    (user_id, bkt, cnt) store: the reference bucket is the newest
    bucket seen (1-row max broadcast — the scalar-agg class), every
    stored bucket re-weights by ONE integer shift
    (10000 >> min(ref_b - bkt, 30)), and the top-k is a
    TakeOrderedAndProject over the per-user sum.  Serving cost is
    |store| rows — the event history is never rescored, which is the
    entire point of keeping the state bucketed."""
    ref = store.agg(F.max("bkt").alias("ref_b"))
    return (
        store.join(F.broadcast(ref))
        .select(
            "user_id",
            F.expr(
                "cnt * (10000 div shiftleft(1L, "
                "CAST(least(ref_b - bkt, 30) AS INT)))"
            ).alias("w"),
            "cnt",
        )
        .groupBy("user_id")
        .agg(
            F.sum("w").cast("bigint").alias("decayed_x10k"),
            F.sum("cnt").cast("bigint").alias("n_events"),
        )
        .orderBy(F.desc("decayed_x10k"), F.asc("user_id"))
        .limit(k)
    )


@query(
    "q_decayed_topk_served",
    oracle=f"""
        WITH ref AS (
            SELECT max(epoch_us(CAST(ts AS TIMESTAMP))
                       // {_DECAY_BUCKET_US}) AS ref_b
            FROM events),
        w AS (
            SELECT user_id,
                   10000 // (1 << CAST(least(
                       ref.ref_b - epoch_us(CAST(ts AS TIMESTAMP))
                           // {_DECAY_BUCKET_US},
                       30) AS INTEGER)) AS wgt
            FROM events, ref)
        SELECT user_id,
               CAST(sum(wgt) AS BIGINT) AS decayed_x10k,
               CAST(count(*) AS BIGINT) AS n_events
        FROM w
        GROUP BY user_id
        ORDER BY decayed_x10k DESC, user_id ASC
        LIMIT {_DECAY_TOPK}
    """,
    tags=("sketch", "events", "streaming", "extension", "topk"),
)
def q_decayed_topk_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decayed heavy hitters served from the MAINTAINED store (X128)
    — the standing-deployment twin of q_decayed_topk: the event
    stream arrives in {_DECAY_WAVES} waves (event_id mod
    {_DECAY_WAVES} — arrival simulation, same device as
    q_source_quota_gate), each wave folds into the per-(user,
    bucket) count store through the EXACT streaming merge
    (streaming/jobs.decayed_counts_merge_fn — additive counts,
    marker-gated against redelivery, stage-rename committed), and
    the registered query serves the top-{_DECAY_TOPK} from the store
    alone.  Ages here are bucket-aligned (newest bucket minus event
    bucket, the form the store can answer without per-event
    timestamps); the oracle replays exactly that over the raw events,
    so hash-green certifies the maintained state loses nothing the
    serve needs.

    Scale shape: the build is one groupBy(user, bkt) per wave plus a
    |store|-row merge; the SERVE plan never scans events — one store
    scan, a 1-row newest-bucket broadcast, a rowwise shift, and a
    TakeOrderedAndProject heap (pinned)."""
    import sys

    from ..streaming.jobs import decayed_counts_merge_fn
    from .index_cache import cached

    events = load_table(spark, sf_dir, "events")

    def _build(store: str) -> None:
        merge = decayed_counts_merge_fn(spark, f"{store}/counts")
        for wave in range(_DECAY_WAVES):
            merge(
                events.filter(F.col("event_id") % _DECAY_WAVES == wave),
                wave,
            )

    path = cached(
        "decayed_counts",
        sf_dir,
        ("events",),
        (sys.modules[__name__],),
        _build,
        extra=f"b{_DECAY_BUCKET_DAYS}w{_DECAY_WAVES}",
    )
    return decayed_topk_from_store(read_parquet(spark, f"{path}/counts"))
