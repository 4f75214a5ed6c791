"""Training-data pipeline operators — SURVEY.md §2.11 extensions.

The ops a 100 TB pretraining-data pipeline runs between raw corpus
and tokenizer, beyond dedup/langid/quality (operators/text.py,
operators/dedup.py):

* TF-IDF term scoring     — the feature-weighting join (tf ⋈ df ⋈ N)
* train/test split        — deterministic content hashing, no RNG
* contamination check     — test-set n-gram overlap against train
* sequence packing        — cumulative token budget → context bins
* redaction               — regex scrub with match accounting

Everything is built-in Column expressions (JVM, whole-stage codegen).
Cross-engine exactness rules (SURVEY.md §5.2) applied throughout: the
split uses md5 (the one hash family identical in Spark and DuckDB),
TF-IDF uses an integer-scaled rational score instead of log-idf
(transcendental libm results are not guaranteed bit-identical across
engines), and every count that DuckDB would widen to HUGEINT is cast
back to BIGINT in the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.textfeat import SHINGLES_SQL_CTE, shingles_expr
from ..plans.registry import query
from ..sources.catalog import load_table

# Deterministic 75/25 split: first hex nibble of md5(doc_id) ≤ 'b'
# (12 of 16 values) → train. Content-hash splits are the production
# pattern — stable under reshuffles, re-runs, and backfills, unlike
# rand(seed) which is partitioning-dependent in a distributed engine.
# Built lazily: Columns can't be constructed before a SparkContext
# exists, and this module imports at registry load time.
def _split_col():
    return F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "b", "train"
    ).otherwise("test")
_SPLIT_SQL = (
    "CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b' "
    "THEN 'train' ELSE 'test' END"
)

_REDACT_PAT = r"\b(key|value|customer)\b"


@query(
    "q_tfidf",
    oracle="""
        WITH tok AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT count(*) AS n_docs FROM documents)
        SELECT doc_id, term,
               CAST((tf * n_docs * 1000) // df AS BIGINT) AS score
        FROM tf JOIN dfq USING (term) CROSS JOIN n
        ORDER BY score DESC, doc_id ASC, term ASC
        LIMIT 20
    """,
    tags=("pipeline", "text", "extension"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 TF-IDF terms: tf per (doc, term) ⋈ document
    frequency ⋈ corpus size. The df side aggregates FROM the tf
    aggregate (no second corpus scan) and the 1-row N broadcasts.
    Score is the integer-scaled rational tf·N·1000 div df — rank-
    equivalent to tf/df weighting without log-idf's cross-engine
    transcendental drift. At 100 TB both aggregates are map-side
    partial; the shuffle carries vocabulary-sized rows."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    return (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.expr("(tf * n_docs * 1000) div df").alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("term"))
        .limit(20)
    )


@query(
    "q_split",
    oracle=f"""
        SELECT lang, {_SPLIT_SQL} AS split,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang, split
    """,
    tags=("pipeline", "extension"),
)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 75/25 train/test split audit: per (lang, split)
    doc and char counts. The split key is a content hash of doc_id —
    a pure rowwise expression, so the split is free (no shuffle, no
    RNG state) and reproducible on any cluster layout."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", _split_col())
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "q_contamination",
    oracle=f"""
        WITH {SHINGLES_SQL_CTE},
        split AS (SELECT doc_id, {_SPLIT_SQL} AS sp FROM documents),
        tr AS (
            SELECT DISTINCT sh FROM ex JOIN split USING (doc_id)
            WHERE sp = 'train'),
        te AS (
            SELECT ex.doc_id, sh FROM ex JOIN split USING (doc_id)
            WHERE sp = 'test'),
        tot AS (SELECT doc_id, count(*) AS n_shingles FROM te GROUP BY 1),
        hit AS (
            SELECT te.doc_id, count(*) AS n_contaminated
            FROM te JOIN tr USING (sh) GROUP BY 1)
        SELECT tot.doc_id, n_shingles,
               COALESCE(n_contaminated, CAST(0 AS BIGINT)) AS n_contaminated
        FROM tot LEFT JOIN hit USING (doc_id)
    """,
    tags=("pipeline", "dedup", "extension"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination: for every test document, how many of
    its word-3-gram shingles appear anywhere in the train split. The
    train side collapses to DISTINCT shingles before the join (the
    classic build-side reduction); the probe is a left-semi keyed on
    the shingle, then a left join restores zero-contamination docs.
    At 100 TB the shingle join is the standard shuffle-on-ngram used
    by decontamination runs (same key family as the dedup LSH)."""
    docs = load_table(spark, sf_dir, "documents").withColumn("sp", _split_col())
    ex = docs.select("doc_id", "sp", F.explode(shingles_expr()).alias("sh"))
    train_sh = ex.filter(F.col("sp") == "train").select("sh").distinct()
    test_sh = ex.filter(F.col("sp") == "test").select("doc_id", "sh")
    totals = test_sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hits = (
        test_sh.join(train_sh, "sh", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    return totals.join(hits, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_contaminated", F.lit(0).cast("bigint")).alias(
            "n_contaminated"
        ),
    )


@query(
    "q_pack",
    oracle="""
        WITH t AS (
            SELECT source, doc_id,
                   len(string_split(text, ' ')) AS ntok
            FROM documents),
        c AS (
            SELECT source, ntok,
                   sum(ntok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM t)
        SELECT source, CAST((cum - ntok) // 512 AS BIGINT) AS bin,
               count(*) AS n_docs,
               CAST(sum(ntok) AS BIGINT) AS total_tokens
        FROM c
        GROUP BY source, bin
    """,
    tags=("pipeline", "window", "extension"),
)
def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to 512-token context bins by
    cumulative token count, packed independently per source shard.
    bin = tokens-before-this-doc div budget — the scalable streaming
    approximation of greedy packing (no per-bin reset state, so it
    stays a single window cumsum). Partitioning by source is the
    100 TB shape: each shard packs in parallel; an unpartitioned
    cumsum would serialize the corpus through one window task."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    t = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ntok"),
    )
    return (
        t.withColumn("cum", F.sum("ntok").over(w))
        .select(
            "source",
            F.expr("(cum - ntok) div 512").alias("bin"),
            "ntok",
        )
        .groupBy("source", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ntok").alias("total_tokens"),
        )
    )


@query(
    "q_redact",
    oracle=f"""
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS docs_hit,
               CAST(sum(hits) AS BIGINT) AS total_redactions,
               CAST(sum(length(text) - length(red)) AS BIGINT)
                 AS chars_removed
        FROM (
            SELECT source, text,
                   len(regexp_extract_all(text, '{_REDACT_PAT}')) AS hits,
                   regexp_replace(text, '{_REDACT_PAT}', '[X]', 'g') AS red
            FROM documents)
        GROUP BY source
    """,
    tags=("pipeline", "text", "extension"),
)
def q_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redaction accounting: scrub a sensitive-term pattern (the
    vocabulary triple stands in for PII regexes — the fixture corpus
    has no digits/emails) and report per-source match and removed-char
    totals. Pattern uses only RE2 ∩ Java-regex syntax so Spark and
    DuckDB agree; Spark's regexp_replace replaces all matches by
    default (DuckDB needs the 'g' flag). Pure rowwise expressions —
    the scrub pipelines inside the scan stage at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    hits = F.size(F.regexp_extract_all("text", F.lit(_REDACT_PAT), F.lit(0)))
    red = F.regexp_replace("text", _REDACT_PAT, "[X]")
    return (
        docs.select(
            "source",
            hits.alias("hits"),
            (F.length("text") - F.length(red)).alias("delta"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("hits") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("docs_hit"),
            F.sum("hits").alias("total_redactions"),
            F.sum("delta").alias("chars_removed"),
        )
    )


# Domain-mix thresholds: 4-hex-digit md5 prefix compared as a string
# (fixed-width hex compares lexicographically == numerically), so a
# threshold of '7fff' keeps ~2^15/2^16 = 1/2 of docs. Rate class is
# derived from the source id (num % 4) instead of a lookup table so
# the op is pure expression logic at any source cardinality; swapping
# in a broadcast (source, threshold) dim table is a one-line change.
_MIX_CASE_SQL = (
    # TRY_CAST (same spelling both engines): a source name outside
    # the srcN convention extracts '' — under ANSI that cast crashed
    # the whole query (found by the unicode/foreign-source sweep);
    # NULL now falls through coalesce into the most-downsampled class
    "CASE (coalesce(TRY_CAST(regexp_extract(source, 'src(\\d+)', 1) "
    "AS INT), 3) % 4) "
    "WHEN 0 THEN 'ffff' WHEN 1 THEN '7fff' WHEN 2 THEN '3fff' "
    "ELSE '1fff' END"
)


@query(
    "q_domain_mix",
    oracle=f"""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_before,
               CAST(count(*) FILTER (
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                    <= {_MIX_CASE_SQL}) AS BIGINT) AS n_kept,
               CAST(10000 * count(*) FILTER (
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                    <= {_MIX_CASE_SQL}) // count(*) AS BIGINT) AS kept_x10k
        FROM documents
        GROUP BY source
    """,
    tags=("pipeline", "extension", "sampling", "mix"),
)
def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic domain-mix resampling: downsample each source to
    a target rate (keep-all / 1/2 / 1/4 / 1/8 by source class) via
    content-hash thresholding — md5(doc_id) 4-hex prefix compared
    against the class threshold. No RNG: the keep decision is a pure
    function of the row, so it is identical under reshuffles, retries,
    speculative execution, and backfills — THE production property a
    rand(seed) sample lacks in a distributed engine (rand is
    partitioning-dependent). Reports per-source before/after counts
    and the achieved rate x10^4.

    Scale: single map-side-partial groupBy on source; the keep flag
    never leaves the mapper. Skew-free (source cardinality is small
    but each group is a partial count, not a row list)."""
    docs = load_table(spark, sf_dir, "documents")
    threshold = F.expr(_MIX_CASE_SQL.replace("\\d", "\\\\d"))
    keep = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4) <= threshold
    return docs.groupBy("source").agg(
        F.count("*").alias("n_before"),
        F.sum(keep.cast("bigint")).alias("n_kept"),
        F.expr(
            "CAST(10000 * sum(CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 4) "
            f"<= {_MIX_CASE_SQL} THEN 1 ELSE 0 END) div count(*) AS BIGINT)".replace(
                "\\d", "\\\\d"
            )
        ).alias("kept_x10k"),
    )


@query(
    "q_curriculum",
    oracle="""
        SELECT doc_id,
               CASE WHEN n_chars < 200 THEN 0
                    WHEN n_chars < 400 THEN 1 ELSE 2 END AS stage,
               CAST(row_number() OVER (ORDER BY
                    CASE WHEN n_chars < 200 THEN 0
                         WHEN n_chars < 400 THEN 1 ELSE 2 END,
                    md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS seq
        FROM documents
    """,
    tags=("pipeline", "extension", "ordering", "curriculum"),
)
def q_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: short docs first (fixed-boundary
    length stages), deterministically shuffled within each stage by
    md5(doc_id), with a GLOBAL sequence number — the exact read order
    a trainer consumes.

    The global row_number is the scale story: a naive global window is
    a single-partition exchange of the whole corpus. Instead the first
    hash byte becomes an explicit bucket key (ordering by (stage,
    bucket, hash) == ordering by (stage, hash) because lowercase hex
    compares lexicographically == numerically): rank WITHIN each
    (stage, bucket) group — ONE corpus shuffle over 3*256 uniform
    keys — then add bucket offsets from a map-side-aggregated count
    table of ~768 rows; only that tiny table crosses a
    single-partition window, at any corpus size. This is zipWithIndex
    re-expressed in DataFrame algebra; the oracle is the plain global
    window, which hash-verifies the two are identical. (An earlier
    spark_partition_id() formulation planned an EXTRA full hash
    exchange on pid — window partitioning can't see physical
    partition grouping — and is exactly what this form avoids.)"""
    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id",
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 400, 1)
        .otherwise(2)
        .alias("stage"),
        F.md5(F.col("doc_id").cast("string")).alias("__h"),
    ).withColumn("__bkt", F.conv(F.substring("__h", 1, 2), 16, 10).cast("int"))
    w_local = W.partitionBy("stage", "__bkt").orderBy("__h", "doc_id")
    local = staged.withColumn("__rn", F.row_number().over(w_local))
    w_off = W.orderBy("stage", "__bkt").rowsBetween(W.unboundedPreceding, -1)
    offsets = (
        staged.groupBy("stage", "__bkt")
        .agg(F.count("*").alias("__cnt"))
        .withColumn("__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)))
        .select("stage", "__bkt", "__off")
    )
    return (
        local.join(F.broadcast(offsets), ["stage", "__bkt"])
        .select("doc_id", "stage", (F.col("__off") + F.col("__rn")).alias("seq"))
    )


@query(
    "q_dup_rate_by_source",
    oracle="""
        WITH h AS (
            SELECT source, md5(text) AS ch FROM documents),
        per AS (
            SELECT source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(count(DISTINCT ch) AS BIGINT) AS n_unique
            FROM h GROUP BY source)
        SELECT source, n_docs, n_unique,
               CAST(10000 * (n_docs - n_unique) // n_docs AS BIGINT)
                   AS dup_rate_x10k
        FROM per
    """,
    tags=("dedup", "pipeline", "reporting"),
)
def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation reporting: exact-duplicate rate per source — the
    number every ingest review starts with (a source whose dup rate
    spikes is re-crawling itself).  One hash aggregate per source
    with a distinct-count; integer-scaled rate.  At 100 TB the
    distinct rides source-partitioned partial aggregation — no row
    ever carries text, only its hash."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select("source", F.md5("text").alias("ch")).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("ch").cast("bigint").alias("n_unique"),
    )
    return per.selectExpr(
        "source",
        "n_docs",
        "n_unique",
        "CAST(10000 * (n_docs - n_unique) div n_docs AS BIGINT) AS dup_rate_x10k",
    )


@query(
    "q_tombstone_delete",
    oracle="""
        WITH tomb AS (
            SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
        flagged AS (
            SELECT e.event_type,
                   CASE WHEN t.user_id IS NULL THEN 0 ELSE 1 END AS del
            FROM events e LEFT JOIN tomb t ON e.user_id = t.user_id)
        SELECT event_type,
               CAST(sum(del) AS BIGINT) AS n_deleted,
               CAST(sum(1 - del) AS BIGINT) AS n_kept,
               CAST(10000 * sum(del) // count(*) AS BIGINT) AS deleted_x10k
        FROM flagged GROUP BY event_type
    """,
    tags=("pipeline", "deletion", "compliance", "extension"),
)
def q_tombstone_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone delete propagation with audit accounting — the
    right-to-be-forgotten pass every stored corpus needs: a tombstone
    key set (here: users who ever emitted an 'error' event — a
    deterministic fixture stand-in for a deletion-request table)
    marks every fact row for removal, and the output is the audit a
    compliance job must emit BEFORE the rewrite: kept/deleted counts
    and the deletion share per event_type.  ONE corpus scan: the
    tombstone set is an aggregate broadcast back as a LEFT join flag
    (never a second fact pass for the complement — kept and deleted
    are sums over the same flag), then one map-side-partial aggregate.
    At 100 TB the tombstone table is request-sized (tiny) and the
    rewrite itself is the same anti-join applied per partition, so
    this audit IS the expensive part's plan."""
    events = load_table(spark, sf_dir, "events")
    tomb = (
        events.filter(F.col("event_type") == "error")
        .select("user_id")
        .distinct()
    )
    flagged = events.select("event_type", "user_id").join(
        F.broadcast(tomb.withColumn("del", F.lit(1))), "user_id", "left"
    )
    return (
        flagged.withColumn("del", F.coalesce("del", F.lit(0)))
        .groupBy("event_type")
        .agg(
            F.sum("del").cast("bigint").alias("n_deleted"),
            F.sum(1 - F.col("del")).cast("bigint").alias("n_kept"),
            F.expr("CAST(10000 * sum(del) div count(*) AS BIGINT)").alias(
                "deleted_x10k"
            ),
        )
    )


_DSIR_BUCKETS = 256


def _dsir_tok_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, b): every token hashed into one of 256 md5
    buckets — the hashed-unigram feature space both DSIR
    distributions live in."""
    return docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS BIGINT)"
            f" % {_DSIR_BUCKETS}"
        ).alias("b"),
    )


def dsir_train_stats(docs: DataFrame) -> DataFrame:
    """ONE corpus pass → the 256-row DSIR bucket table (b, cr, ct):
    raw-corpus and target ('en' slice) token counts per hash bucket —
    the entire trained state of the importance model, small enough to
    persist as a parquet artifact and broadcast at serve time."""
    return _dsir_tok_buckets(docs).groupBy("b").agg(
        F.count("*").alias("cr"),
        F.sum((F.col("lang") == "en").cast("bigint")).alias("ct"),
    )


def dsir_score_docs(docs: DataFrame, stats: DataFrame) -> DataFrame:
    """Score ``docs`` against a trained DSIR bucket table — (doc_id,
    lang, n_toks, log2w_bits), whole-bit integer log-weights.  The
    serve half of the build/serve split (the lm_score_docs /
    ivfpq_search convention): the caller pins ``stats`` (checkpoint
    or ``spark.read.parquet(store)``), so scoring tomorrow's crawl
    costs one pass over the NEW docs plus a 256-row broadcast —
    zero historical-corpus scans."""
    totals = stats.agg(
        F.sum("cr").cast("bigint").alias("tr"),
        F.sum("ct").cast("bigint").alias("tt"),
    )
    scored = (
        # LEFT join: a new-crawl token can land in a bucket the
        # trained stats never saw — add-one smoothing scores it from
        # zero counts instead of silently dropping the token (on the
        # training corpus itself every bucket is present, so this is
        # row-identical to an inner join there).
        _dsir_tok_buckets(docs)
        .join(F.broadcast(stats), "b", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "lang",
            (
                (
                    F.length(
                        F.bin(F.expr("(tr + 256) div (coalesce(cr, 0) + 1)"))
                    )
                    - 1
                )
                - (
                    F.length(
                        F.bin(F.expr("(tt + 256) div (coalesce(ct, 0) + 1)"))
                    )
                    - 1
                )
            ).alias("bits"),
        )
    )
    return scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("n_toks"),
        F.sum("bits").alias("log2w_bits"),
    )


@query(
    "q_dsir_weights",
    oracle="""
        WITH tokb AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(unnest(string_split(text, ' '))), 1, 4))
                       ::BIGINT % 256 AS b
            FROM documents),
        stats AS (
            SELECT b,
                   count(*) AS cr,
                   count(*) FILTER (lang = 'en') AS ct
            FROM tokb GROUP BY b),
        totals AS (
            SELECT CAST(sum(cr) AS BIGINT) AS tr,
                   CAST(sum(ct) AS BIGINT) AS tt
            FROM stats),
        scored AS (
            SELECT t.doc_id, t.lang,
                   (length(bin((x.tr + 256) // (s.cr + 1))) - 1)
                 - (length(bin((x.tt + 256) // (s.ct + 1))) - 1) AS bits
            FROM tokb t JOIN stats s USING (b) CROSS JOIN totals x),
        doc AS (
            SELECT doc_id, lang,
                   count(*) AS n_toks,
                   sum(bits) AS log2w_bits
            FROM scored
            GROUP BY doc_id, lang)
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_toks,
               CAST(sum(log2w_bits) AS BIGINT) AS sum_log2w_bits,
               CAST(min(log2w_bits) AS BIGINT) AS min_doc_bits,
               CAST(max(log2w_bits) AS BIGINT) AS max_doc_bits
        FROM doc
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("pipeline", "sampling", "lm", "extension"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling weights (X35): score every
    document by how much more likely its hashed-unigram features are
    under the TARGET distribution (here: the 'en' slice) than under
    the raw corpus — log2 w(doc) = Σ_tok [log2(1/p̂_raw) −
    log2(1/p̂_target)], the hashed-n-gram importance estimate of Xie
    et al.'s Data Selection via Importance Resampling.  Reports the
    per-language weight summary (doc count, token mass, total and
    min/max per-doc log-weight) — the audit a resampling run records
    before drawing.

    Integer-exact cross-engine: features are md5-hash buckets
    (B = 256), both LMs use add-one smoothing, and each log2 is the
    floor-log2 bit-length (the q_lm_surprisal recipe) — so weights
    are whole bits, no transcendental drift, and a negative weight
    never meets integer division.  On THIS fixture the summary shows
    near-zero weights across languages — the honest reading: the
    synthetic corpus shares one 31-token vocabulary across langs, so
    there is no distribution shift for DSIR to exploit at whole-bit
    granularity (the replay pytest proves doc-level discrimination on
    a corpus whose vocabularies actually differ).

    Scale shape: BOTH distributions come out of ONE corpus pass (a
    conditional aggregate per bucket — the paper's two passes fused),
    the 256-row bucket table localCheckpoints once and broadcasts to
    the score join, so the whole query is: one explode scan, one
    bucket aggregate, one broadcast join, two roll-up aggregates.
    Re-weighting tomorrow's crawl against today's target is the same
    plan with a different left side — dsir_score_docs over
    yesterday's PERSISTED 256-row stats, zero historical-corpus
    passes (the ivfpq_search build/serve split; pytest-pinned in
    tests/test_operators.py::test_dsir_persisted_stats_serve)."""
    docs = load_table(spark, sf_dir, "documents")
    stats = dsir_train_stats(docs).localCheckpoint(eager=False)
    doc = dsir_score_docs(docs, stats)
    return (
        doc.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_toks"),
            F.sum("log2w_bits").cast("bigint").alias("sum_log2w_bits"),
            F.min("log2w_bits").cast("bigint").alias("min_doc_bits"),
            F.max("log2w_bits").cast("bigint").alias("max_doc_bits"),
        )
        .orderBy("lang")
    )


@query(
    "q_mixture_plan",
    oracle="""
        WITH d AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents),
        lt AS (
            SELECT lang, CAST(sum(n_tok) AS BIGINT) AS lang_toks
            FROM d GROUP BY lang),
        tot AS (
            SELECT CAST(sum(lang_toks) AS BIGINT) AS t,
                   CAST(count(*) AS BIGINT) AS n_langs
            FROM lt),
        rates AS (
            SELECT lt.lang, lt.lang_toks,
                   least(65536, ((tot.t // 2) * 65536)
                                // (tot.n_langs * lt.lang_toks)) AS rate
            FROM lt CROSS JOIN tot),
        flagged AS (
            SELECT d.doc_id, d.lang, d.n_tok, r.lang_toks, r.rate,
                   (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                        ::BIGINT < r.rate) AS keep
            FROM d JOIN rates r USING (lang))
        SELECT lang,
               CAST(any_value(rate) AS BIGINT) AS rate_x65536,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (keep) AS BIGINT) AS docs_kept,
               CAST(any_value(lang_toks) AS BIGINT) AS toks_before,
               CAST(coalesce(sum(n_tok) FILTER (keep), 0) AS BIGINT)
                 AS toks_kept
        FROM flagged
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("pipeline", "sampling", "mix", "extension"),
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planner (X36): q_domain_mix's rates are
    FIXED per source class; real mixing configs (Pile/Dolma-style)
    are DERIVED — given a token budget (here: half the corpus) and
    target shares (here: equal per language), compute each language's
    keep rate from its observed token mass, then apply it as a
    deterministic content-hash Bernoulli (md5 16-bit prefix <
    rate_x65536 — same no-RNG keep rule as q_domain_mix, so the plan
    is reproducible under reshuffles and backfills).  Reports the
    per-language plan and its achieved outcome (docs/tokens kept) in
    one result — over-represented languages are down-sampled toward
    the budget, under-represented ones keep rate 1 (the least(65536)
    clamp: resampling never up-samples without replacement).

    All arithmetic is integer (rates in 1/65536 units), so both
    engines agree bit-for-bit.  Scale shape: one corpus pass for the
    per-language token mass (map-side partial), the 5-row rate table
    broadcasts back onto a second pass that flags and aggregates —
    stats-then-apply, the same two-pass shape a production mixer uses
    when the plan must be logged BEFORE the write."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    flagged = mixture_flagged(d)
    return (
        flagged.groupBy("lang")
        .agg(
            F.first("rate").cast("bigint").alias("rate_x65536"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("docs_kept"),
            F.first("lang_toks").cast("bigint").alias("toks_before"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("n_tok"))), F.lit(0)
            )
            .cast("bigint")
            .alias("toks_kept"),
        )
        .orderBy("lang")
    )


def mixture_flagged(d: DataFrame) -> DataFrame:
    """The stats-then-apply core of q_mixture_plan over ANY
    (doc_id, lang, n_tok) frame: per-language keep rates for a
    half-the-tokens budget at equal shares, applied as the
    deterministic md5 16-bit Bernoulli.  Returns the input plus
    (lang_toks, rate, keep).  Factored out so the curation
    composition (curation.write_training_corpus) can plan its
    mixture over the rewrite-stage corpus."""
    # lt feeds BOTH the rate computation and the (T, n_langs) roll-up;
    # without a cut Catalyst compiles the stats subtree twice (a third
    # corpus scan).  One row per language — checkpoint once.
    lt = (
        d.groupBy("lang")
        .agg(F.sum("n_tok").cast("bigint").alias("lang_toks"))
        .localCheckpoint(eager=False)
    )
    tot = lt.agg(
        F.sum("lang_toks").cast("bigint").alias("t"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    rates = (
        lt.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "lang_toks",
            F.expr(
                "least(CAST(65536 AS BIGINT), "
                "((t div 2) * 65536) div (n_langs * lang_toks))"
            ).alias("rate"),
        )
    )
    return d.join(F.broadcast(rates), "lang").withColumn(
        "keep",
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) "
            "AS BIGINT)"
        )
        < F.col("rate"),
    )


# ---------------------------------------------------------------------------
# X37 — contrastive pair mining (embedding-model training data)

from .dedup import _CONSENSUS_TAU, _PAIRS_CTE, near_pairs_cached  # noqa: E402
from ..functions.vectors import cosine_expr  # noqa: E402

# Negative-sampling hash ring: one full byte of md5(doc_id) → 256
# uniform buckets.  At fixture scale this is latency overhead; at
# 100 TB it is the whole design — the ring window sorts WITHIN each
# bucket (corpus/256 rows per partition, embarrassingly parallel),
# never globally, and the bucket count is a constant any deployment
# widens (2 bytes → 65 536) without changing semantics, because the
# wrap-around partner is always drawn from the same bucket.
_CONTRAST_BKTS = 256


@query(
    "q_contrastive_pairs",
    oracle=f"""
        WITH {_PAIRS_CTE},
        scored AS (
            SELECT p.pa, p.pb,
                   round(list_cosine_similarity(
                       ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 4)
                     AS cos_sim
            FROM pairs p
            JOIN embeddings ea ON ea.vec_id = p.pa
            JOIN embeddings eb ON eb.vec_id = p.pb
            WHERE list_cosine_similarity(
                      ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])
                  >= {_CONSENSUS_TAU}),
        anchors AS (
            SELECT pa AS anchor, pb AS positive, cos_sim FROM scored
            UNION ALL
            SELECT pb AS anchor, pa AS positive, cos_sim FROM scored),
        u AS (
            SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h,
                   ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                       ::BIGINT % {_CONTRAST_BKTS} AS bkt
            FROM documents),
        ring AS (
            SELECT doc_id AS anchor,
                   coalesce(lead(doc_id) OVER wb,
                            first_value(doc_id) OVER wbf) AS negative
            FROM u
            WINDOW wb AS (PARTITION BY bkt ORDER BY h, doc_id),
                   wbf AS (PARTITION BY bkt ORDER BY h, doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND UNBOUNDED FOLLOWING)),
        neg AS (
            SELECT r.anchor, r.negative FROM ring r
            WHERE r.anchor <> r.negative
              AND NOT EXISTS (
                  SELECT 1 FROM pairs p
                  WHERE p.pa = least(r.anchor, r.negative)
                    AND p.pb = greatest(r.anchor, r.negative)))
        SELECT a.anchor, a.positive, a.cos_sim, n.negative
        FROM anchors a JOIN neg n USING (anchor)
    """,
    tags=("pipeline", "extension", "embedding", "dedup"),
)
def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triples (anchor, positive, negative) for
    embedding-model fine-tuning, mined from the corpus itself:
    positives are LSH near-dup candidates whose embedding cosine
    clears the consensus threshold (both directions of each verified
    pair anchor a triple); negatives are drawn from a deterministic
    md5 hash ring — each document's ring successor within its hash
    bucket — anti-joined against the candidate pair set so a
    lexically-similar doc can never masquerade as a negative.

    Scale posture: the positive path is candidate-bounded (the
    r07/r08 consensus shape — embeddings join the PAIR LIST, never
    all-pairs); the negative ring is one per-bucket window over 256
    uniform md5 buckets (no global sort), and the anti-join ships
    only (lo, hi) id pairs.  The candidate pair list is the cached
    near-pair artifact, a small parquet read shared by the positive
    scoring and the negative anti-join.  No RNG anywhere: the same
    corpus yields the same triples on any cluster layout, so a
    training run is reproducible bit-for-bit."""
    pairs = near_pairs_cached(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    ea = emb.select(
        F.col("vec_id").alias("doc_a"), F.col("embedding").alias("a_emb")
    )
    eb = emb.select(
        F.col("vec_id").alias("doc_b"), F.col("embedding").alias("b_emb")
    )
    cos = cosine_expr("a_emb", "b_emb")
    # scored feeds BOTH branches of the direction union — uncut, each
    # branch recompiles the two embeddings joins (measured 4 compiled
    # embeddings scans); the checkpoint pins it to one derivation
    scored = (
        pairs.join(ea, "doc_a")
        .join(eb, "doc_b")
        .filter(cos >= F.lit(_CONSENSUS_TAU))
        .select("doc_a", "doc_b", F.round(cos, 4).alias("cos_sim"))
        .localCheckpoint(eager=False)
    )
    anchors = scored.select(
        F.col("doc_a").alias("anchor"),
        F.col("doc_b").alias("positive"),
        "cos_sim",
    ).unionByName(
        scored.select(
            F.col("doc_b").alias("anchor"),
            F.col("doc_a").alias("positive"),
            "cos_sim",
        )
    )
    u = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("h", F.md5(F.col("doc_id").cast("string")))
        .withColumn(
            "bkt",
            F.expr(
                "CAST(conv(substring(h, 1, 2), 16, 10) AS INT) "
                f"% {_CONTRAST_BKTS}"
            ),
        )
    )
    wb = W.partitionBy("bkt").orderBy("h", "doc_id")
    wbf = wb.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ring = u.select(
        F.col("doc_id").alias("anchor"),
        F.coalesce(
            F.lead("doc_id").over(wb), F.first("doc_id").over(wbf)
        ).alias("negative"),
    ).filter(F.col("anchor") != F.col("negative"))
    neg = (
        ring.withColumn("lo", F.least("anchor", "negative"))
        .withColumn("hi", F.greatest("anchor", "negative"))
        .join(
            pairs.select(
                F.col("doc_a").alias("lo"), F.col("doc_b").alias("hi")
            ),
            ["lo", "hi"],
            "left_anti",
        )
        .select("anchor", "negative")
    )
    return anchors.join(neg, "anchor").select(
        "anchor", "positive", "cos_sim", "negative"
    )


# ---------------------------------------------------------------------------
# X39 — corpus snapshot diff (incremental-crawl change accounting)


@query(
    "q_corpus_diff",
    oracle="""
        WITH old AS (
            SELECT doc_id, source, md5(text) AS h
            FROM documents WHERE doc_id % 7 <> 0),
        new AS (
            SELECT doc_id, source,
                   md5(CASE WHEN doc_id % 13 = 0
                            THEN text || ' v2' ELSE text END) AS h
            FROM documents WHERE doc_id % 11 <> 0),
        j AS (
            SELECT coalesce(o.source, n.source) AS source,
                   CASE WHEN o.doc_id IS NULL THEN 'added'
                        WHEN n.doc_id IS NULL THEN 'removed'
                        WHEN o.h <> n.h THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM old o FULL OUTER JOIN new n USING (doc_id))
        SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
        FROM j GROUP BY source, status
    """,
    tags=("pipeline", "extension", "monitoring", "diff"),
)
def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions — the change
    accounting every incremental crawl publishes before a retrain:
    per source, how many documents were added, removed, changed
    (content hash moved), or untouched.  The fixture derives both
    snapshots deterministically from the one documents table (old
    drops doc_id % 7 == 0, new drops % 11 == 0 and rewrites % 13 ==
    0), standing in for last week's and this week's partitions.

    Scale shape: each side collapses to (doc_id, source, md5) AT THE
    SCAN — no row ever carries text past its projection — and the
    diff is ONE full outer join co-partitioned on doc_id followed by
    a tiny (source × 4 statuses) aggregate.  Reading two real
    snapshot tables instead of two filtered branches of one table
    changes nothing downstream of the projections.

    Presence is tracked with explicit non-null flags (in_o/in_n), not
    hash-nullness: a document whose text is NULL (legal per the
    null-payload contract) has a NULL md5 while the row exists, and
    keying added/removed on the hash would misclassify it.  This
    mirrors the oracle's ``doc_id IS NULL`` test exactly."""
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.col("source").alias("src_o"),
        F.md5("text").alias("h_o"),
        F.lit(True).alias("in_o"),
    )
    new = docs.filter(F.col("doc_id") % 11 != 0).select(
        "doc_id",
        F.col("source").alias("src_n"),
        F.md5(
            F.when(
                F.col("doc_id") % 13 == 0, F.concat("text", F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("h_n"),
        F.lit(True).alias("in_n"),
    )
    j = old.join(new, ["doc_id"], "full_outer").select(
        F.coalesce("src_o", "src_n").alias("source"),
        F.when(F.col("in_o").isNull(), "added")
        .when(F.col("in_n").isNull(), "removed")
        .when(F.col("h_o") != F.col("h_n"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return j.groupBy("source", "status").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# X40 — distribution drift monitor (integer log2, DSIR conventions)

_DRIFT_BUCKETS = 6


@query(
    "q_quality_drift",
    oracle=f"""
        WITH tagged AS (
            SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                             <= '7' THEN 'a' ELSE 'b' END AS w,
                   least(length(text) // 100, {_DRIFT_BUCKETS - 1}) AS bkt
            FROM documents),
        c AS (
            SELECT bkt,
                   CAST(count(*) FILTER (w = 'a') AS BIGINT) AS n_a,
                   CAST(count(*) FILTER (w = 'b') AS BIGINT) AS n_b
            FROM tagged GROUP BY bkt),
        t AS (
            SELECT CAST(sum(n_a) AS BIGINT) AS ta,
                   CAST(sum(n_b) AS BIGINT) AS tb
            FROM c)
        SELECT CAST(c.bkt AS INTEGER) AS bkt,
               c.n_a, c.n_b,
               CAST((length(bin((c.n_a + 1) * (t.tb + {_DRIFT_BUCKETS}))) - 1)
                  - (length(bin((c.n_b + 1) * (t.ta + {_DRIFT_BUCKETS}))) - 1)
                    AS INTEGER) AS log2_ratio_bits
        FROM c, t
    """,
    tags=("pipeline", "extension", "monitoring", "drift"),
)
def q_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the doc-length histogram of two
    corpus halves (an md5 split standing in for week A vs week B)
    compared bucket-by-bucket as whole-bit integer log2 rate ratios —
    the per-bucket ingredient of a PSI drift score, in the repo's
    transcendental-free convention (the DSIR / LM-surprisal
    length(bin(n))-1 trick, add-one smoothed so empty buckets stay
    defined).  |log2_ratio_bits| >= 1 flags a bucket whose share
    moved by 2x or more between windows.

    Scale shape: ONE corpus pass produces the conditional per-bucket
    counts ({_DRIFT_BUCKETS} rows), the totals are an aggregate of
    that tiny table broadcast back — the fact never shuffles twice.
    The counts table is the op's entire trained state — additive, so
    streaming/jobs.drift_stats_maintenance keeps it current per
    micro-batch and drift_report serves this exact output from the
    persisted store with zero corpus scans."""
    docs = load_table(spark, sf_dir, "documents")
    return drift_report(drift_counts(docs))


def drift_counts(docs: DataFrame) -> DataFrame:
    """The {_DRIFT_BUCKETS}-row (bkt, n_a, n_b) conditional count
    table q_quality_drift derives in its one corpus pass — the
    build half of the build/serve split, and the additive state the
    streaming maintenance job merges per micro-batch."""
    tagged = docs.select(
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "7",
            "a",
        )
        .otherwise("b")
        .alias("w"),
        F.least(
            F.expr("length(text) div 100"), F.lit(_DRIFT_BUCKETS - 1)
        )
        .cast("int")
        .alias("bkt"),
    )
    return tagged.groupBy("bkt").agg(
        F.sum((F.col("w") == "a").cast("bigint")).alias("n_a"),
        F.sum((F.col("w") == "b").cast("bigint")).alias("n_b"),
    )


def drift_report(c: DataFrame) -> DataFrame:
    """Serve half: fold a (bkt, n_a, n_b) count table — fresh from
    drift_counts or read back from the maintained store — into the
    q_quality_drift output.  Touches only the tiny count table;
    the checkpoint cuts the totals/join diamond so a fresh count
    table derives its corpus pass ONCE (was 2 compiled documents
    scans), and costs nothing when c is already a store read."""
    c = c.localCheckpoint(eager=False)
    t = c.agg(
        F.sum("n_a").cast("bigint").alias("ta"),
        F.sum("n_b").cast("bigint").alias("tb"),
    )
    return c.crossJoin(F.broadcast(t)).select(
        "bkt",
        "n_a",
        "n_b",
        (
            (
                F.length(
                    F.bin(
                        F.expr(f"(n_a + 1) * (tb + {_DRIFT_BUCKETS})")
                    )
                )
                - 1
            )
            - (
                F.length(
                    F.bin(
                        F.expr(f"(n_b + 1) * (ta + {_DRIFT_BUCKETS})")
                    )
                )
                - 1
            )
        )
        .cast("int")
        .alias("log2_ratio_bits"),
    )


# ---------------------------------------------------------------------------
# Output shard planner (distributed two-stage prefix sum)

_SHARD_BYTES = 4096  # fixture-scale shard budget; ~1 GiB in production


@query(
    "q_shard_plan",
    oracle=f"""
        WITH sized AS (
            SELECT source, doc_id,
                   CAST(coalesce(length(text), 0) AS BIGINT) AS bytes
            FROM documents),
        placed AS (
            SELECT source, doc_id, bytes,
                   CAST(coalesce(sum(bytes) OVER (
                       ORDER BY source, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS BIGINT) AS global_before
            FROM sized)
        SELECT CAST(global_before // {_SHARD_BYTES} AS BIGINT) AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(bytes) AS BIGINT) AS shard_bytes,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(max(doc_id) AS BIGINT) AS last_doc
        FROM placed
        GROUP BY 1
    """,
    tags=("pipeline", "extension", "sharding", "prefix-sum"),
)
def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform output-shard planner (X family): assign every document
    a byte offset in the (source, doc_id)-ordered corpus and cut the
    stream into fixed-byte shards — the plan a 100 TB export job
    needs before writing training shards of near-equal size (ragged
    shards skew downstream loader throughput).

    The interesting part is HOW the global offset is computed.  The
    oracle states the semantics directly: one global running sum over
    ORDER BY (source, doc_id).  Executing that literally on Spark
    would serialize the corpus through a single window task — the
    canonical scale anti-pattern q_pack's docstring warns about.
    Instead the classic two-stage distributed prefix sum:

      1. per-source subtotals (one groupBy — tiny result, one row
         per source),
      2. running offsets over THAT table only (the single-partition
         window touches #sources rows, not the corpus),
      3. broadcast the offsets back and add the within-source
         cumulative sum (window partitioned by source — fully
         parallel).

    global_before = source_offset + within-source cumsum-before, and
    shard_id = global_before div SHARD_BYTES.  Bit-identical to the
    oracle's single window because (source, doc_id) ordering nests.
    Output is the per-shard manifest (count, bytes, source span), so
    the result stays small at any corpus size.

    The compiled plan reads documents TWICE (subtotal pass + place
    pass) — that is the inherent shape of a distributed prefix sum
    (offsets must exist before any row can be placed), not a diamond
    to checkpoint-cut: the shared relation is corpus-sized, so
    materializing it would cost more than the second pruned
    (source, doc_id, length) scan."""
    docs = load_table(spark, sf_dir, "documents")
    return shard_manifest_fold(shard_manifest(shard_place(docs)))


def shard_place(docs: DataFrame, base_offset: int = 0) -> DataFrame:
    """Two-stage distributed prefix sum: every document gets its byte
    offset in the (source, doc_id)-ordered stream, starting at
    base_offset (0 for a one-shot plan; the stored end offset for an
    incremental append batch).  Returns (source, doc_id, bytes,
    global_before)."""
    sized = docs.select(
        "source",
        "doc_id",
        F.coalesce(F.length("text"), F.lit(0)).cast("bigint").alias("bytes"),
    )
    subtotal = sized.groupBy("source").agg(
        F.sum("bytes").cast("bigint").alias("src_bytes")
    )
    # single-partition window over the per-source table only: bounded
    # by the number of sources, never the corpus
    offsets = subtotal.select(
        "source",
        F.coalesce(
            F.sum("src_bytes").over(
                W.orderBy("source").rowsBetween(
                    W.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("src_offset"),
    )
    within = (
        W.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    return sized.join(F.broadcast(offsets), "source").select(
        "source",
        "doc_id",
        "bytes",
        (
            F.lit(base_offset).cast("bigint")
            + F.col("src_offset")
            + F.coalesce(F.sum("bytes").over(within), F.lit(0))
        )
        .cast("bigint")
        .alias("global_before"),
    )


def shard_manifest(placed: DataFrame) -> DataFrame:
    """Per-(shard, source) granular manifest — the mergeable state
    unit of the incremental planner: every column re-aggregates with
    sum/sum/min/max, so manifests of consecutive corpus chunks merge
    additively into the one-shot manifest (streaming/jobs.
    shard_manifest_merge_fn relies on exactly this)."""
    return placed.groupBy(
        F.expr(f"global_before div {_SHARD_BYTES}")
        .cast("bigint")
        .alias("shard_id"),
        "source",
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("bytes").cast("bigint").alias("bytes"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


def shard_manifest_fold(granular: DataFrame) -> DataFrame:
    """Fold the granular (shard, source) manifest into the per-shard
    result q_shard_plan reports; n_sources = count(*) because the
    input is one row per (shard, source)."""
    return granular.groupBy("shard_id").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("bytes").cast("bigint").alias("shard_bytes"),
        F.count("*").cast("bigint").alias("n_sources"),
        F.min("first_doc").cast("bigint").alias("first_doc"),
        F.max("last_doc").cast("bigint").alias("last_doc"),
    )


def shard_manifest_serve(spark: SparkSession, store_dir: str) -> DataFrame:
    """Serve the shard manifest from the persisted granular store
    maintained by streaming/jobs.shard_manifest_maintenance — a fold
    over rows bounded by #shards × #sources, zero corpus scans."""
    return shard_manifest_fold(
        spark.read.parquet(store_dir).select(
            "shard_id", "source", "n_docs", "bytes", "first_doc", "last_doc"
        )
    )


# ---------------------------------------------------------------------------
# X50 — sequence-length-bucketed batch planner (r09)

_CTX_MIN = 16   # smallest padded context
_CTX_MAX = 64   # model context limit: longer docs are TRUNCATED
_BATCH_TOKENS = 1024  # padded-token budget per batch


@query(
    "q_batch_plan",
    oracle=f"""
        WITH d AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents),
        bucketed AS (
            SELECT doc_id, n_tok,
                   greatest({_CTX_MIN}, least({_CTX_MAX},
                       1 << length(bin(n_tok - 1)))) AS ctx
            FROM d WHERE n_tok >= 1)
        SELECT CAST(ctx AS BIGINT) AS ctx,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST((count(*) + ({_BATCH_TOKENS} // ctx) - 1)
                    // ({_BATCH_TOKENS} // ctx) AS BIGINT) AS n_batches,
               CAST(sum(least(n_tok, ctx)) AS BIGINT) AS toks_real,
               CAST(count(*) * ctx AS BIGINT) AS toks_padded,
               CAST(count(*) FILTER (n_tok > ctx) AS BIGINT)
                 AS n_truncated,
               CAST(10000 * (count(*) * ctx - sum(least(n_tok, ctx)))
                    // (count(*) * ctx) AS BIGINT) AS waste_x10k
        FROM bucketed
        GROUP BY ctx
    """,
    tags=("pipeline", "extension", "batching", "training"),
)
def q_batch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length-bucketed batch planner (X50): the loader-side
    plan a training run derives before materializing batches — pad
    each document to the next power-of-two context (clamped to
    [{_CTX_MIN}, {_CTX_MAX}]; longer docs truncate, and the plan
    REPORTS how many, because silent truncation is the classic
    data-prep bug), group docs of one context size into batches of
    {_BATCH_TOKENS}//ctx documents (constant padded tokens per batch
    — the uniform-memory batching rule), and account padding waste
    per bucket in basis points.  Bucketing by ceil-pow2 instead of
    exact length is what makes the plan cacheable: a doc edit that
    doesn't cross a power boundary doesn't move it.

    Integer-exact in both engines: ceil-pow2 via the repo's
    length(bin(n-1)) convention (shiftleft/<<), ceil-div as
    (n + d - 1) div d, waste in 1/10000 units via truncating div.

    Scale shape: ONE corpus pass projecting a single int per doc,
    one groupBy on ~4 bucket keys (map-side partial dominates) —
    no window, no join; the per-doc batch assignment a sink would
    need is batch_assign below (a per-bucket window, parallel across
    buckets), kept out of the plan's cost because the PLAN is what
    gets logged and diffed nightly."""
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).filter(F.col("n_tok") >= 1).select(
        "doc_id",
        "n_tok",
        F.expr(
            f"greatest({_CTX_MIN}, least({_CTX_MAX}, "
            "shiftleft(1, length(bin(n_tok - 1)))))"
        ).alias("ctx"),
    )
    dpb = F.expr(f"{_BATCH_TOKENS} div ctx")
    return b.groupBy(F.col("ctx").cast("bigint").alias("ctx")).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.expr(
            f"CAST((count(*) + ({_BATCH_TOKENS} div ctx) - 1) "
            f"div ({_BATCH_TOKENS} div ctx) AS BIGINT)"
        ).alias("n_batches"),
        F.sum(F.least("n_tok", "ctx")).cast("bigint").alias("toks_real"),
        (F.count("*") * F.col("ctx")).cast("bigint").alias("toks_padded"),
        F.sum((F.col("n_tok") > F.col("ctx")).cast("bigint")).alias(
            "n_truncated"
        ),
        F.expr(
            "CAST(10000 * (count(*) * ctx - sum(least(n_tok, ctx))) "
            "div (count(*) * ctx) AS BIGINT)"
        ).alias("waste_x10k"),
    )


def batch_assign(docs: DataFrame) -> DataFrame:
    """Per-document batch assignment behind q_batch_plan: (doc_id,
    n_tok, ctx, batch_no) where batch_no numbers fixed-size batches
    WITHIN each context bucket in md5(doc_id) order — deterministic
    and layout-independent (the mixture/sampling convention), so a
    re-run or a different partitioning produces the identical plan.
    One window per bucket partition (parallel across buckets), no
    global ordering anywhere."""
    b = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tok")
    ).filter(F.col("n_tok") >= 1).select(
        "doc_id",
        "n_tok",
        F.expr(
            f"greatest({_CTX_MIN}, least({_CTX_MAX}, "
            "shiftleft(1, length(bin(n_tok - 1)))))"
        ).alias("ctx"),
    )
    w = W.partitionBy("ctx").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return b.select(
        "doc_id",
        "n_tok",
        "ctx",
        F.expr(
            f"CAST((row_number() OVER (PARTITION BY ctx ORDER BY "
            f"md5(CAST(doc_id AS STRING)) ASC, doc_id ASC) - 1) "
            f"div ({_BATCH_TOKENS} div ctx) AS BIGINT)"
        ).alias("batch_no"),
    )


# ---------------------------------------------------------------------------
# X57 — budget-constrained best-first selection (r09)

_SELECT_SHARE_DEN = 3  # keep the best ~1/3 of each source's tokens


@query(
    "q_budget_select",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, source,
                   len(string_split(text, ' ')) AS n_tok,
                   CAST(10000 * len(list_distinct(string_split(text, ' ')))
                        // len(string_split(text, ' ')) AS BIGINT) AS q
            FROM documents),
        b AS (
            SELECT source,
                   CAST(sum(n_tok) // {_SELECT_SHARE_DEN} AS BIGINT)
                     AS budget
            FROM d GROUP BY source),
        r AS (
            SELECT d.*, b.budget,
                   CAST(coalesce(sum(n_tok) OVER (
                       PARTITION BY d.source
                       ORDER BY q DESC, doc_id ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
            FROM d JOIN b USING (source)),
        kept AS (SELECT * FROM r WHERE cum_before < budget)
        SELECT source,
               CAST(any_value(budget) AS BIGINT) AS budget_toks,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS toks_kept,
               CAST(min(q) AS BIGINT) AS admission_bar_x10k
        FROM kept GROUP BY source
    """,
    tags=("pipeline", "extension", "selection", "quality"),
)
def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained best-first selection (X57) — the OTHER
    sampling regime next to q_mixture_plan's proportional Bernoulli:
    rank every document within its source by quality (distinct-token
    ratio ×10⁴ — integer-exact) and admit in rank order until the
    source's token budget (1/{_SELECT_SHARE_DEN} of its mass) is
    reached; a document STARTING under budget is admitted whole (the
    deterministic greedy a curation pass actually runs).  Reports
    per source the budget, what was admitted, and the ADMISSION BAR
    — the lowest quality that made the cut, the number that tells a
    data lead how deep into the quality tail the budget forces them.

    Scale shape: one stats pass for the per-source budgets (tiny
    table, broadcast back), then ONE per-source window (rank order +
    trailing cumsum share the same sort — a single exchange+sort per
    the q_funnel_steps discipline), aggregate on the kept rows.  No
    global ordering anywhere; sources select in parallel."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.selectExpr(
        "doc_id",
        "source",
        "size(split(text, ' ')) AS n_tok",
        "CAST(10000 * size(array_distinct(split(text, ' '))) "
        "div size(split(text, ' ')) AS BIGINT) AS q",
    )
    b = d.groupBy("source").agg(
        F.expr(f"CAST(sum(n_tok) div {_SELECT_SHARE_DEN} AS BIGINT)").alias(
            "budget"
        )
    )
    w = (
        W.partitionBy("source")
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .rowsBetween(W.unboundedPreceding, -1)
    )
    r = d.join(F.broadcast(b), "source").withColumn(
        "cum_before",
        F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint"),
    )
    kept = r.filter(F.col("cum_before") < F.col("budget"))
    return kept.groupBy("source").agg(
        F.first("budget").cast("bigint").alias("budget_toks"),
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("toks_kept"),
        F.min("q").cast("bigint").alias("admission_bar_x10k"),
    )


# ---------------------------------------------------------------------------
# X63 — temperature-scaled language mixture (r10)


def _isqrt_sql(n: str) -> str:
    """Exact integer sqrt of the non-negative BIGINT expression ``n``,
    engine-neutral: seed with floor(sqrt(double)) then correct the
    possible one-off from binary64 rounding with integer compares —
    bit-exact on both engines regardless of libm."""
    g = f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({g} + 1) * ({g} + 1) <= {n} THEN {g} + 1 "
        f"WHEN {g} * {g} > {n} THEN {g} - 1 ELSE {g} END)"
    )


def _temperature_rate_cols(divop: str) -> list[str]:
    """Engine-neutral per-language columns over (lang_toks, sq, t, ss):
    natural/target shares in basis points and the keep rate in
    1/65536 units for an alpha = 0.5 temperature mix (target mass
    proportional to sqrt of natural mass — the multilingual
    rebalancing rule, exact via integer sqrt).  ``divop`` is the
    engine's truncating integer division."""
    return [
        f"CASE WHEN t = 0 THEN 0 ELSE (lang_toks * 10000) {divop} t END"
        " AS share_nat_bp",
        f"CASE WHEN ss = 0 THEN 0 ELSE (sq * 10000) {divop} ss END"
        " AS share_tgt_bp",
        "CASE WHEN ss = 0 OR lang_toks = 0 THEN 0 "
        "ELSE least(CAST(65536 AS BIGINT), "
        f"(((t * sq) {divop} ss) * 65536) {divop} lang_toks) END"
        " AS rate_x65536",
    ]


@query(
    "q_temperature_mix",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang,
                   len(string_split(text, ' ')) AS n_tok
            FROM documents),
        lt AS (
            SELECT lang, CAST(sum(n_tok) AS BIGINT) AS lang_toks
            FROM d GROUP BY lang),
        sq AS (
            SELECT lang, lang_toks,
                   {_isqrt_sql("lang_toks")} AS sq
            FROM lt),
        tot AS (
            SELECT CAST(sum(lang_toks) AS BIGINT) AS t,
                   CAST(sum(sq) AS BIGINT) AS ss
            FROM sq),
        rates AS (
            SELECT sq.lang, sq.lang_toks,
                   {", ".join(_temperature_rate_cols("//"))}
            FROM sq CROSS JOIN tot),
        flagged AS (
            SELECT d.doc_id, d.lang, d.n_tok,
                   r.lang_toks, r.share_nat_bp, r.share_tgt_bp,
                   r.rate_x65536,
                   (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                        ::BIGINT < r.rate_x65536) AS keep
            FROM d JOIN rates r USING (lang))
        SELECT lang,
               CAST(any_value(lang_toks) AS BIGINT) AS toks_before,
               CAST(any_value(share_nat_bp) AS BIGINT) AS share_nat_bp,
               CAST(any_value(share_tgt_bp) AS BIGINT) AS share_tgt_bp,
               CAST(any_value(rate_x65536) AS BIGINT) AS rate_x65536,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(*) FILTER (keep) AS BIGINT) AS docs_kept,
               CAST(coalesce(sum(n_tok) FILTER (keep), 0) AS BIGINT)
                 AS toks_kept
        FROM flagged
        GROUP BY lang
        ORDER BY lang
    """,
    tags=("pipeline", "sampling", "mix", "temperature", "extension"),
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (X63): q_mixture_plan
    targets EQUAL shares; multilingual training mixes (XLM-R-style)
    interpolate between the natural distribution and uniform with a
    temperature exponent — target mass proportional to
    (natural mass)^alpha.  alpha = 0.5 makes the exponent an INTEGER
    SQUARE ROOT (exact on both engines: a floor(sqrt(double)) seed
    corrected one step with integer compares — no libm dependence),
    so the whole plan stays hash-checkable: head languages are
    down-weighted, tail languages gain relative share, and the keep
    rate per language is derived from the same total token budget T
    applied to the reshaped shares (the least(65536) clamp:
    resampling never up-samples without replacement).  Reports, per
    language, the natural and target shares in basis points, the
    derived keep rate, and the achieved docs/tokens kept under the
    deterministic md5 16-bit Bernoulli (identical keep rule to
    q_mixture_plan / q_domain_mix, reproducible under reshuffles,
    retries, and backfills).

    Scale shape: one corpus pass for per-language token mass
    (map-side partial, language cardinality is tiny), checkpoint-cut
    so the (T, sum-sqrt) roll-up doesn't recompile the stats subtree,
    rate table broadcast back onto the flag-and-aggregate pass —
    stats-then-apply, two corpus scans total, no shuffle wider than
    the language key."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")
    )
    lt = (
        d.groupBy("lang")
        .agg(F.sum("n_tok").cast("bigint").alias("lang_toks"))
        .localCheckpoint(eager=False)
    )
    sq = lt.select(
        "lang", "lang_toks", F.expr(_isqrt_sql("lang_toks")).alias("sq")
    )
    tot = sq.agg(
        F.sum("lang_toks").cast("bigint").alias("t"),
        F.sum("sq").cast("bigint").alias("ss"),
    )
    rates = sq.crossJoin(F.broadcast(tot)).selectExpr(
        "lang", "lang_toks", *_temperature_rate_cols("div")
    )
    flagged = d.join(F.broadcast(rates), "lang").withColumn(
        "keep",
        F.expr(
            "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) "
            "AS BIGINT)"
        )
        < F.col("rate_x65536"),
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.first("lang_toks").cast("bigint").alias("toks_before"),
            F.first("share_nat_bp").cast("bigint").alias("share_nat_bp"),
            F.first("share_tgt_bp").cast("bigint").alias("share_tgt_bp"),
            F.first("rate_x65536").cast("bigint").alias("rate_x65536"),
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("keep").cast("bigint")).alias("docs_kept"),
            F.coalesce(
                F.sum(F.when(F.col("keep"), F.col("n_tok"))), F.lit(0)
            )
            .cast("bigint")
            .alias("toks_kept"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# X81 — seeded epoch shuffle (reproducible training order, r11)

_SHUF_SEED = "epoch0"  # fixed demo seed; epoch_shuffle takes any
_SHUF_SHARD = 100  # documents per output shard
_SHUF_BUCKETS = 64  # hash-RANGE buckets for the distributed rank


def epoch_shuffle(
    docs: DataFrame, seed: str = _SHUF_SEED, shard_size: int = _SHUF_SHARD
) -> DataFrame:
    """(pos, doc_id, shard): the SEEDED GLOBAL PERMUTATION a training
    run reads the corpus in — reproducible across reruns and cluster
    layouts because the order is a pure function of (seed, doc_id):
    h = first 15 md5 hex chars of "seed:doc_id" (a 60-bit uniform
    key), total order (h, doc_id), pos = 1-based rank, shard =
    (pos-1) div shard_size.  Different epochs pass different seeds
    and get independent permutations with zero state.

    Scale shape — NO single-partition global window: positions come
    from the classic range-bucketed two-pass rank (the q_shard_plan
    prefix-sum posture).  h's top bits split the keyspace into
    {_SHUF_BUCKETS} ORDERED range buckets (h div 2^54), ranks are a
    per-bucket window (hashpartitioning on the bucket — balanced
    because h is uniform), bucket offsets are ONE bounded
    ≤{_SHUF_BUCKETS}-row aggregate prefix-summed driver-side and
    broadcast back.  At 100 TB this is exactly Spark's
    sort-shuffle geometry, with the per-bucket rank replacing a
    global zipWithIndex barrier."""
    h = F.expr(
        f"CAST(conv(substring(md5(concat('{seed}', ':', "
        f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    keyed = (
        docs.filter(F.col("doc_id").isNotNull())
        .select("doc_id", h.alias("h"))
        .withColumn("bkt", F.expr(f"h div {1 << 54}").cast("int"))
    )
    counts = {
        int(r["bkt"]): int(r["n"])
        for r in keyed.groupBy("bkt").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for b in range(_SHUF_BUCKETS):
        offsets[b] = acc
        acc += counts.get(b, 0)
    # a CASE needs >= 1 WHEN arm: on an EMPTY corpus (zero observed
    # buckets — registry empty-input contract) fall back to a plain
    # 0 literal; the branch is row-free anyway
    off_expr = (
        "CASE bkt "
        + " ".join(f"WHEN {b} THEN {offsets[b]}L" for b in sorted(counts))
        + " ELSE 0L END"
    ) if counts else "0L"
    w = W.partitionBy("bkt").orderBy("h", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("long"))
        .select(
            (F.expr(off_expr) + F.col("rk")).cast("long").alias("pos"),
            "doc_id",
        )
        .withColumn(
            "shard",
            F.expr(f"CAST((pos - 1) div {shard_size} AS BIGINT)"),
        )
        .orderBy("pos")
    )


@query(
    "q_epoch_shuffle",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   ('0x' || substr(md5('{_SHUF_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM documents
            WHERE doc_id IS NOT NULL),
        r AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY h, doc_id) AS pos
            FROM h)
        SELECT CAST(pos AS BIGINT) AS pos,
               doc_id,
               CAST((pos - 1) // {_SHUF_SHARD} AS BIGINT) AS shard
        FROM r
        ORDER BY pos
    """,
    tags=("pipeline", "extension", "shuffle", "training-order",
          "prefix-sum"),
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded epoch shuffle (X81) — the reproducible-training-order
    manifest: every document's position in the epoch's global
    permutation plus its output shard, as a pure function of
    (seed, doc_id).  The oracle replays the permutation with ONE
    global window; the engine side earns its 100 TB posture with the
    range-bucketed two-pass rank instead (per-bucket windows over a
    uniform 60-bit key + a bounded driver-side offset prefix sum) —
    hash equality proves the distributed rank IS the global rank."""
    docs = load_table(spark, sf_dir, "documents")
    return epoch_shuffle(docs)


# ---------------------------------------------------------------------------
# X82 — data-loader batches along the epoch order (r11)

_LOADER_BUDGET = 2_000  # token budget per training batch


@query(
    "q_loader_batches",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tok,
                   ('0x' || substr(md5('{_SHUF_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM documents
            WHERE doc_id IS NOT NULL),
        r AS (
            SELECT doc_id, n_tok,
                   row_number() OVER (ORDER BY h, doc_id) AS pos,
                   coalesce(sum(n_tok) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS toks_before
            FROM h),
        b AS (
            SELECT pos, doc_id, n_tok,
                   toks_before // {_LOADER_BUDGET} AS batch
            FROM r)
        SELECT CAST(batch AS BIGINT) AS batch,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(pos) AS BIGINT) AS first_pos,
               CAST(max(pos) AS BIGINT) AS last_pos,
               CAST(sum(n_tok) AS BIGINT) AS toks
        FROM b
        GROUP BY batch
        ORDER BY batch
    """,
    tags=("pipeline", "extension", "training-order", "batching",
          "prefix-sum"),
)
def q_loader_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-loader batch manifest (X82) — the step AFTER the epoch
    shuffle: walking the seeded permutation in order, documents fill
    token-budget batches of {_LOADER_BUDGET} (a doc belongs to the
    batch its RUNNING-TOKEN START falls in — greedy fill, boundary
    doc may overflow, the standard streaming-loader semantic), and
    the manifest reports each batch's doc count, position span, and
    token mass.  Together with q_epoch_shuffle this is the exact
    (shard, batch) addressing a distributed trainer replays — pure
    function of (seed, corpus), so every rerun loads identical
    batches.

    Scale shape: the running prefix sum along the permutation uses
    the SAME range-bucketed two-pass trick as the rank — per-bucket
    running sums (window over the ordered hash range) plus ONE
    bounded ≤{_SHUF_BUCKETS}-row driver-side aggregate carrying each
    bucket's (row offset, token offset); no single-partition window
    anywhere on the engine side, while the oracle uses one global
    window — hash equality proves the distributed prefix sum exact."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = _epoch_keyed_tokens(
        docs, F.size(F.split("text", " ")).cast("long")
    )
    return _loader_manifest(_ordered_token_prefix(keyed), _LOADER_BUDGET)


def _epoch_keyed_tokens(docs: DataFrame, n_tok_col) -> DataFrame:
    """(doc_id, n_tok, h, bkt) — the epoch-shuffle key (60-bit md5 of
    (seed, doc_id)) and its range bucket attached to a caller-chosen
    per-doc token measure; checkpointed because the prefix-sum pass
    consumes it twice (bucket stats + the windowed rank)."""
    h = F.expr(
        f"CAST(conv(substring(md5(concat('{_SHUF_SEED}', ':', "
        f"CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"
    )
    return (
        docs.filter(F.col("doc_id").isNotNull())
        .select("doc_id", n_tok_col.alias("n_tok"), h.alias("h"))
        .withColumn("bkt", F.expr(f"h div {1 << 54}").cast("int"))
        .localCheckpoint(eager=False)
    )


def _ordered_token_prefix(keyed: DataFrame) -> DataFrame:
    """(doc_id, n_tok, pos, toks_before) along the epoch order — the
    range-bucketed two-pass global rank + running token prefix sum:
    per-bucket windows over the ordered hash range plus ONE bounded
    ≤{_SHUF_BUCKETS}-row driver-side aggregate carrying each bucket's
    (row offset, token offset).  No single-partition window anywhere;
    the oracles use one global window and the hash gate proves the
    distributed prefix sum exact.  Shared by the whitespace-token
    loader (q_loader_batches) and the model-token loader
    (q_loader_batches_model), so the two manifests can only differ
    in the token measure, never in the order arithmetic."""
    stats = {
        int(r["bkt"]): (int(r["n"]), int(r["t"]))
        for r in keyed.groupBy("bkt")
        .agg(F.count("*").alias("n"), F.sum("n_tok").alias("t"))
        .collect()
    }
    row_off, tok_off, racc, tacc = {}, {}, 0, 0
    for b in range(_SHUF_BUCKETS):
        row_off[b], tok_off[b] = racc, tacc
        n, t = stats.get(b, (0, 0))
        racc += n
        tacc += t
    # empty-corpus guard: a CASE needs >= 1 WHEN arm (the
    # epoch_shuffle empty-input fix); branches are row-free then
    roff = (
        "CASE bkt "
        + " ".join(f"WHEN {b} THEN {row_off[b]}L" for b in sorted(stats))
        + " ELSE 0L END"
    ) if stats else "0L"
    toff = (
        "CASE bkt "
        + " ".join(f"WHEN {b} THEN {tok_off[b]}L" for b in sorted(stats))
        + " ELSE 0L END"
    ) if stats else "0L"
    w = W.partitionBy("bkt").orderBy("h", "doc_id")
    return keyed.select(
        "doc_id",
        "n_tok",
        (F.expr(roff) + F.row_number().over(w).cast("long")).alias("pos"),
        (
            F.expr(toff)
            + F.coalesce(
                F.sum("n_tok").over(
                    w.rowsBetween(W.unboundedPreceding, -1)
                ),
                F.lit(0).cast("long"),
            )
        ).alias("toks_before"),
    )


def _loader_manifest(ranked: DataFrame, budget: int) -> DataFrame:
    """Greedy token-budget batch manifest over the ordered prefix:
    a doc belongs to the batch its running-token START falls in."""
    return (
        ranked.withColumn(
            "batch",
            F.expr(f"CAST(toks_before div {budget} AS BIGINT)"),
        )
        .groupBy("batch")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("pos").cast("bigint").alias("first_pos"),
            F.max("pos").cast("bigint").alias("last_pos"),
            F.sum("n_tok").cast("bigint").alias("toks"),
        )
        .orderBy("batch")
    )


# ---------------------------------------------------------------------------
# X91 — loader batches budgeted in MODEL tokens (r12)

from .bpe import _bpe_chain_sql, _BPE_STEPS  # noqa: E402

_LOADER_BUDGET_MODEL = 4_000  # model-token budget per training batch


@query(
    "q_loader_batches_model",
    oracle=f"""
        WITH {_bpe_chain_sql(_BPE_STEPS)},
        tok AS (
            SELECT array_to_string(syms, '') AS w,
                   CAST(len(syms) AS BIGINT) AS n_tok
            FROM wf{_BPE_STEPS}),
        dw AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id IS NOT NULL),
        per AS (
            SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_model_toks
            FROM dw JOIN tok USING (w)
            WHERE w <> ''
            GROUP BY doc_id),
        h AS (
            SELECT d.doc_id,
                   coalesce(per.n_model_toks, 0) AS n_tok,
                   ('0x' || substr(md5('{_SHUF_SEED}:'
                        || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
            WHERE d.doc_id IS NOT NULL),
        r AS (
            SELECT doc_id, n_tok,
                   row_number() OVER (ORDER BY h, doc_id) AS pos,
                   coalesce(sum(n_tok) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS toks_before
            FROM h),
        b AS (
            SELECT pos, doc_id, n_tok,
                   toks_before // {_LOADER_BUDGET_MODEL} AS batch
            FROM r)
        SELECT CAST(batch AS BIGINT) AS batch,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(pos) AS BIGINT) AS first_pos,
               CAST(max(pos) AS BIGINT) AS last_pos,
               CAST(sum(n_tok) AS BIGINT) AS toks
        FROM b
        GROUP BY batch
        ORDER BY batch
    """,
    tags=("pipeline", "extension", "training-order", "batching",
          "prefix-sum", "tokenizer"),
)
def q_loader_batches_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader batches budgeted in MODEL tokens (X91) — closing the
    seam VERDICT r11 #4 named: q_loader_batches budgeted batches in
    whitespace tokens while the trainer's actual cost is model
    tokens.  Same epoch order, same greedy fill, same two-pass
    distributed prefix sum (_ordered_token_prefix — shared code, so
    the two manifests can only differ in the token measure), but the
    per-doc mass is q_bpe_token_counts' n_model_toks: train the 8
    merges, broadcast the vocabulary onto words, aggregate per doc
    (docs with zero words ride at mass 0 via a LEFT join so the
    permutation still covers the whole corpus).  Budget
    {_LOADER_BUDGET_MODEL} model tokens per batch.  Consistency with
    q_bpe_token_counts is pinned in tests/test_bpe.py: the manifest's
    total token mass equals the per-doc counts' sum.

    Scale shape: training iterates on the word-type table; the
    encode is one corpus scan + one broadcast vocabulary join + a
    per-doc aggregate; the manifest adds per-bucket windows and one
    bounded ≤{_SHUF_BUCKETS}-row driver prefix sum — no
    single-partition window, no second corpus scan."""
    from .bpe import bpe_doc_token_counts, bpe_vocab_table, train_bpe

    docs = load_table(spark, sf_dir, "documents")
    _, wf = train_bpe(spark, docs, return_state=True)
    per = bpe_doc_token_counts(docs, bpe_vocab_table(wf))
    keyed = _epoch_keyed_tokens(
        docs.join(per.select("doc_id", "n_model_toks"), "doc_id", "left"),
        F.coalesce(F.col("n_model_toks"), F.lit(0)).cast("long"),
    )
    return _loader_manifest(
        _ordered_token_prefix(keyed), _LOADER_BUDGET_MODEL
    )


# ---------------------------------------------------------------------------
# X108 — sequence packing: the concat-and-chunk manifest (r13)

_PACK_LEN = 512  # tokens per packed training sequence


@query(
    "q_pack_sequences",
    oracle=f"""
        WITH h AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tok,
                   ('0x' || substr(md5('{_SHUF_SEED}:'
                        || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
            FROM documents
            WHERE doc_id IS NOT NULL),
        r AS (
            SELECT doc_id, n_tok,
                   row_number() OVER (ORDER BY h, doc_id) AS pos,
                   coalesce(sum(n_tok) OVER (
                       ORDER BY h, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS toks_before
            FROM h),
        seg AS (
            -- DuckDB's generate_series takes no lateral column
            -- bounds, so enumerate a fixed span offset (docs are
            -- <= 100 tokens; 0..8 covers 8 x {_PACK_LEN}) and keep
            -- the offsets inside the doc's true sequence span
            SELECT doc_id, pos,
                   toks_before // {_PACK_LEN} + g.j AS seq_id,
                   greatest(toks_before,
                            (toks_before // {_PACK_LEN} + g.j)
                                * {_PACK_LEN}) AS a,
                   least(toks_before + n_tok,
                         (toks_before // {_PACK_LEN} + g.j + 1)
                             * {_PACK_LEN}) AS b,
                   toks_before
            FROM r, generate_series(0, 8) g(j)
            WHERE toks_before // {_PACK_LEN} + g.j
                  <= (toks_before + n_tok - 1) // {_PACK_LEN})
        SELECT CAST(seq_id AS BIGINT) AS seq_id,
               CAST(doc_id AS BIGINT) AS doc_id,
               CAST(pos AS BIGINT) AS pos,
               CAST(a - seq_id * {_PACK_LEN} AS BIGINT) AS seq_off,
               CAST(a - toks_before AS BIGINT) AS doc_off,
               CAST(b - a AS BIGINT) AS n_tok_seg
        FROM seg
        ORDER BY seq_id, seq_off
    """,
    tags=("pipeline", "extension", "training-order", "packing",
          "prefix-sum"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing manifest (X108) — the step AFTER the loader:
    transformer trainers consume FIXED-LENGTH sequences, so the
    epoch-ordered token stream is concatenated and chunked at
    {_PACK_LEN} tokens (the standard concat-and-chunk packing: no
    padding waste, documents split across sequence boundaries, the
    attention/loss mask derives from the manifest).  One row per
    (sequence, document) SEGMENT: which slice of which doc lands at
    which offset of which packed sequence — exactly the manifest a
    loader executes and an attribution audit reads (\"which docs are
    in the sequence that produced this loss spike?\").

    Engine side: the SHARED range-bucketed two-pass prefix sum
    (_ordered_token_prefix — the X81/X82/X91 machinery, so packing
    can never disagree with the loader about the order or the
    offsets), then each doc EXPLODES into its covered sequence span
    (F.sequence — a doc emits ceil(n_tok/{_PACK_LEN})+1 rows max,
    never a per-token explosion).  The oracle replays with ONE
    global window + a lateral generate_series; hash equality proves
    the distributed offsets exact at every sequence boundary.  At
    100 TB the manifest is |docs| + |sequences| rows — metadata-
    sized — and no stage ever materializes a token."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = _epoch_keyed_tokens(
        docs, F.size(F.split("text", " ")).cast("long")
    )
    ranked = _ordered_token_prefix(keyed)
    L = _PACK_LEN
    return (
        ranked.withColumn(
            "seq_id",
            F.explode(
                F.sequence(
                    F.expr(f"toks_before div {L}"),
                    F.expr(f"(toks_before + n_tok - 1) div {L}"),
                )
            ),
        )
        .withColumn("a", F.expr(f"greatest(toks_before, seq_id * {L})"))
        .withColumn(
            "b",
            F.expr(f"least(toks_before + n_tok, (seq_id + 1) * {L})"),
        )
        .select(
            F.col("seq_id").cast("bigint").alias("seq_id"),
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("pos").cast("bigint").alias("pos"),
            F.expr(f"a - seq_id * {L}").cast("bigint").alias("seq_off"),
            F.expr("a - toks_before").cast("bigint").alias("doc_off"),
            F.expr("b - a").cast("bigint").alias("n_tok_seg"),
        )
        .orderBy("seq_id", "seq_off")
    )


# ---------------------------------------------------------------------------
# X122 — typed PII audit with Luhn-validated card detection

# Detector patterns use only RE2 ∩ Java-regex syntax (no lookarounds,
# no backreferences) so Spark and DuckDB match identically.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_CARD = r"\b\d{16}\b"


def _pii_aug_sql(div: str, st: str) -> str:
    """The deterministic PII injection, shared verbatim by engine and
    oracle (``div``/``st`` are the integer-division operator and the
    string cast type: Spark ``div``/``STRING``, DuckDB ``//``/``VARCHAR``).  The fixture corpus is digit-free (q_redact's
    precondition), so every detector hit below is one we planted —
    which makes precision/recall EXACT, not estimated: the validators
    must reject the planted invalid IPs (4th octet up to 299) and the
    ~90% of planted cards whose doc_id-derived check digit fails Luhn."""
    return (
        "text"
        f" || CASE WHEN doc_id % 7 = 0 THEN ' contact user'"
        f" || CAST(doc_id AS {st}) || '@example.com' ELSE '' END"
        f" || CASE WHEN doc_id % 11 = 0 THEN ' call 415-555-'"
        f" || lpad(CAST(doc_id % 10000 AS {st}), 4, '0') ELSE '' END"
        f" || CASE WHEN doc_id % 13 = 0 THEN ' ip 10.'"
        f" || CAST(doc_id % 256 AS {st}) || '.'"
        f" || CAST((doc_id {div} 256) % 256 AS {st}) || '.'"
        f" || CAST(doc_id % 300 AS {st}) ELSE '' END"
        f" || CASE WHEN doc_id % 17 = 0 THEN ' card '"
        f" || lpad(CAST((doc_id * 2654435761) % 1000000000000000"
        f"         AS {st}), 15, '0')"
        f" || CAST(doc_id % 10 AS {st}) ELSE '' END"
    )


_PII_ORACLE = f"""
    WITH aug AS (
        SELECT source, {_pii_aug_sql('//', 'VARCHAR')} AS aug
        FROM documents),
    det AS (
        SELECT source,
               len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS emails,
               len(regexp_extract_all(aug, '{_PII_PHONE}')) AS phones,
               regexp_extract_all(aug, '{_PII_IP}') AS ip_cands,
               regexp_extract_all(aug, '{_PII_CARD}') AS card_cands
        FROM aug),
    val AS (
        SELECT source, emails, phones,
               len(ip_cands) AS ips_found,
               len(list_filter(ip_cands, c ->
                   list_aggregate(list_transform(string_split(c, '.'),
                                                 p -> p::INT <= 255),
                                  'bool_and'))) AS ips_valid,
               len(card_cands) AS cards_found,
               len(list_filter(card_cands, c ->
                   list_sum(list_transform(range(1, 17), i ->
                       CASE WHEN i % 2 = 1 THEN
                           CASE WHEN 2 * substring(c, i::INT, 1)::INT > 9
                                THEN 2 * substring(c, i::INT, 1)::INT - 9
                                ELSE 2 * substring(c, i::INT, 1)::INT END
                       ELSE substring(c, i::INT, 1)::INT END))
                   % 10 = 0)) AS cards_valid
        FROM det)
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(emails) AS BIGINT) AS emails,
           CAST(sum(phones) AS BIGINT) AS phones,
           CAST(sum(ips_found) AS BIGINT) AS ips_found,
           CAST(sum(ips_valid) AS BIGINT) AS ips_valid,
           CAST(sum(cards_found) AS BIGINT) AS cards_found,
           CAST(sum(cards_valid) AS BIGINT) AS cards_valid,
           CAST(sum(CASE WHEN emails + phones + ips_valid + cards_valid > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii
    FROM val
    GROUP BY source
"""


@query("q_pii_audit", oracle=_PII_ORACLE, tags=("pipeline", "text", "extension"))
def q_pii_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed PII audit (X122) — the scrub-gate every public training
    pipeline runs before release (BigCode/Dolma-style): typed
    detectors with per-type VALIDATION, not bare regex counts.  Four
    detectors over the (deterministically PII-injected, see
    _pii_aug_sql) corpus: email, NANP phone, IPv4 with per-octet
    range validation, and 16-digit card candidates validated by the
    Luhn checksum — the validators are what separate a PII gate from
    grep, and both are exact integer computations the oracle replays.

    Engine side: every stage is a rowwise built-in expression —
    regexp_extract_all for candidates, F.filter + F.forall over the
    split octets, F.aggregate over a 16-step F.sequence for Luhn —
    so the whole audit pipelines inside the scan's WholeStageCodegen
    span; the only shuffle is the final tiny groupBy(source).  At
    100 TB this is a map-side pass with a 4-row reduce."""
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "source", F.expr(_pii_aug_sql("div", "STRING")).alias("aug")
    )

    def _digit(c, i):
        return F.substr(c, i, F.lit(1)).cast("int")

    def _luhn_ok(c):
        tot = F.aggregate(
            F.sequence(F.lit(1), F.lit(16)),
            F.lit(0),
            lambda acc, i: acc
            + F.when(
                i % 2 == 1,
                F.when(2 * _digit(c, i) > 9, 2 * _digit(c, i) - 9).otherwise(
                    2 * _digit(c, i)
                ),
            ).otherwise(_digit(c, i)),
        )
        return tot % 10 == 0

    def _ip_ok(c):
        return F.forall(
            F.transform(F.split(c, r"\."), lambda p: p.cast("int") <= 255),
            lambda x: x,
        )

    det = aug.select(
        "source",
        F.size(F.regexp_extract_all("aug", F.lit(_PII_EMAIL), F.lit(0))).alias(
            "emails"
        ),
        F.size(F.regexp_extract_all("aug", F.lit(_PII_PHONE), F.lit(0))).alias(
            "phones"
        ),
        F.regexp_extract_all("aug", F.lit(_PII_IP), F.lit(0)).alias("ip_cands"),
        F.regexp_extract_all("aug", F.lit(_PII_CARD), F.lit(0)).alias(
            "card_cands"
        ),
    ).select(
        "source",
        "emails",
        "phones",
        F.size("ip_cands").alias("ips_found"),
        F.size(F.filter("ip_cands", _ip_ok)).alias("ips_valid"),
        F.size("card_cands").alias("cards_found"),
        F.size(F.filter("card_cands", _luhn_ok)).alias("cards_valid"),
    )
    return det.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("emails").cast("bigint").alias("emails"),
        F.sum("phones").cast("bigint").alias("phones"),
        F.sum("ips_found").cast("bigint").alias("ips_found"),
        F.sum("ips_valid").cast("bigint").alias("ips_valid"),
        F.sum("cards_found").cast("bigint").alias("cards_found"),
        F.sum("cards_valid").cast("bigint").alias("cards_valid"),
        F.sum(
            F.when(
                F.col("emails")
                + F.col("phones")
                + F.col("ips_valid")
                + F.col("cards_valid")
                > 0,
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("docs_with_pii"),
    )


# ---------------------------------------------------------------------------
# X126 — per-source token quota gate across ingest waves

_QUOTA_TOKENS = 800  # per-source token budget across the whole ingest
_QUOTA_WAVES = 3


@query(
    "q_source_quota_gate",
    oracle=f"""
        WITH t AS (
            SELECT doc_id % {_QUOTA_WAVES} AS wave, source, doc_id,
                   len(string_split(text, ' ')) AS toks
            FROM documents),
        p AS (
            SELECT wave, source, toks,
                   coalesce(sum(toks) OVER (
                       PARTITION BY source ORDER BY wave, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS pre
            FROM t),
        a AS (
            SELECT wave, source, toks,
                   CASE WHEN pre < {_QUOTA_TOKENS} THEN 1 ELSE 0 END AS adm
            FROM p),
        g AS (
            SELECT CAST(wave AS INTEGER) AS wave, source,
                   CAST(sum(adm) AS BIGINT) AS n_admitted,
                   CAST(count(*) - sum(adm) AS BIGINT) AS n_rejected,
                   CAST(sum(adm * toks) AS BIGINT) AS wave_toks
            FROM a GROUP BY 1, 2)
        SELECT wave, source, n_admitted, n_rejected,
               CAST(sum(wave_toks) OVER (
                   PARTITION BY source ORDER BY wave) AS BIGINT)
                 AS toks_admitted_cum
        FROM g
        ORDER BY wave, source
    """,
    tags=("pipeline", "streaming", "iterative", "extension"),
)
def q_source_quota_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token quota across ingest waves (X126) — the
    CommonCrawl/Dolma per-domain cap as a STANDING gate: each source
    may contribute at most {_QUOTA_TOKENS} tokens to the admitted
    corpus, enforced greedily in arrival order ((wave, doc_id) — a
    doc admits iff the tokens admitted from its source BEFORE it
    stay under the quota), with the per-source running totals
    MAINTAINED in a store between waves so wave N+1's decisions pay
    |wave| + |sources|, never a corpus rescan.  Because an admitted
    doc's exclusive prefix equals the raw prefix up to the cutoff
    (rejections contribute nothing and the total freezes at the
    first crossing), the three-wave stateful composition is exactly
    replayed by ONE per-source window over (wave, doc_id) — the
    oracle — so hash-green certifies the store discipline loses no
    arrival-order information.

    Scale shape: per wave, one shuffle by source for the in-wave
    prefix window plus a broadcast-sized join against the
    |sources|-row totals store; the ledger is |waves|x|sources|
    rows.  At 100 TB the per-source window is the standard
    shuffle-partitioned prefix; a skewed source is one partition's
    sequential scan — the same posture as q_sessionize."""
    import sys

    from .index_cache import cached

    docs = load_table(spark, sf_dir, "documents")

    def _gate(store: str) -> None:
        from pyspark.sql.window import Window as W

        totals = None  # (source, cum) — the maintained store
        for wave in range(_QUOTA_WAVES):
            batch = docs.filter(
                F.col("doc_id") % _QUOTA_WAVES == wave
            ).select(
                "source",
                "doc_id",
                F.size(F.split("text", " ")).cast("bigint").alias("toks"),
            )
            if totals is None:
                joined = batch.withColumn("cum", F.lit(0).cast("bigint"))
            else:
                joined = batch.join(totals, "source", "left").fillna(
                    0, subset=["cum"]
                )
            w = (
                W.partitionBy("source")
                .orderBy("doc_id")
                .rowsBetween(W.unboundedPreceding, -1)
            )
            pre = F.coalesce(F.sum("toks").over(w), F.lit(0))
            adm = joined.withColumn(
                "adm",
                F.when(F.col("cum") + pre < _QUOTA_TOKENS, 1).otherwise(0),
            )
            ledger = adm.groupBy("source").agg(
                F.sum("adm").cast("bigint").alias("n_admitted"),
                (F.count("*") - F.sum("adm"))
                .cast("bigint")
                .alias("n_rejected"),
                F.sum(F.col("adm") * F.col("toks"))
                .cast("bigint")
                .alias("wave_toks"),
            )
            ledger.withColumn(
                "wave", F.lit(wave).cast("int")
            ).write.mode("append").parquet(f"{store}/ledger")
            totals = (
                adm.groupBy("source")
                .agg(
                    (F.first("cum") + F.sum(F.col("adm") * F.col("toks")))
                    .cast("bigint")
                    .alias("cum")
                )
                .localCheckpoint()  # the store: |sources| rows
            )

    path = cached(
        "source_quota",
        sf_dir,
        ("documents",),
        (sys.modules[__name__],),
        _gate,
        extra=f"q{_QUOTA_TOKENS}w{_QUOTA_WAVES}",
    )
    led = spark.read.parquet(f"{path}/ledger")
    from pyspark.sql.window import Window as W

    cum_w = (
        W.partitionBy("source")
        .orderBy("wave")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        led.select(
            "wave",
            "source",
            "n_admitted",
            "n_rejected",
            F.sum("wave_toks").over(cum_w).alias("toks_admitted_cum"),
        )
        .orderBy("wave", "source")
    )
