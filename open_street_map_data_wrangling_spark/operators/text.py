"""Text analysis — SURVEY.md §2.11 X4 (driver-mandated extension).

Training-data-pipeline text operators over `documents`:

* word count           — the classic explode/groupBy/top-k
* language ID          — corpus-trained token-profile classifier
* quality scoring      — length / stopword / digit-ratio features
* token counting       — whitespace + BPE-ish regex segmentation
* document fingerprint — positionally weighted rolling hash

All pure built-in expressions (explode, higher-order array functions,
regexp_extract_all) — the Python-free hot path. Ratios are computed
with a single division so both engines produce bit-identical doubles.
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.catalog import load_table, read_parquet
from ..sources.sinks import commit_store
from .scale import map_rows

STOPWORDS = ("the", "and", "of", "to", "a", "in", "is")
_STOP_SQL = ", ".join(f"'{s}'" for s in STOPWORDS)


@query(
    "q_wordcount",
    oracle="""
        SELECT tok AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        GROUP BY tok ORDER BY cnt DESC, word ASC LIMIT 20
    """,
    tags=("text", "extension"),
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 word count (X4): explode → hash agg → top-k heap.
    Partial aggregation makes the shuffle carry one row per
    (partition, word) — vocabulary-sized, not corpus-sized."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(20)
    )


_LANGID_SQL = """
        tk AS (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents),
        freq AS (SELECT lang, tok, count(*) AS cnt FROM tk GROUP BY lang, tok),
        prof AS (
            SELECT lang AS plang, tok FROM (
                SELECT lang, tok,
                       row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok ASC) AS rn
                FROM freq) WHERE rn <= 10),
        scores AS (
            SELECT tk.doc_id, prof.plang, count(*) AS score
            FROM tk JOIN prof ON tk.tok = prof.tok
            GROUP BY tk.doc_id, prof.plang),
        best AS (
            SELECT doc_id, plang AS predicted_lang, score FROM (
                SELECT doc_id, plang, score,
                       row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS rn
                FROM scores) WHERE rn = 1)
"""


@query(
    "q_langid",
    oracle=f"""
        WITH {_LANGID_SQL}
        SELECT d.doc_id, d.lang AS true_lang, b.predicted_lang, b.score
        FROM documents d JOIN best b ON d.doc_id = b.doc_id
    """,
    tags=("text", "extension", "langid"),
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID (X4): n-gram-profile heuristic — train per-language
    token profiles (top-10 most frequent tokens per lang) on the
    corpus itself, score each document by profile-token hits, predict
    the argmax. The profile is tiny → broadcast; scoring is one
    equi-join + two hash aggs. (A real system would use char n-grams
    and out-of-corpus profiles; the operator shape is identical.)"""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    freq = tk.groupBy("lang", "tok").agg(F.count("*").alias("cnt"))
    w_prof = W.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("tok"))
    prof = (
        freq.withColumn("rn", F.row_number().over(w_prof))
        .filter(F.col("rn") <= 10)
        .select(F.col("lang").alias("plang"), "tok")
    )
    scores = (
        tk.join(F.broadcast(prof), "tok")
        .groupBy("doc_id", "plang")
        .agg(F.count("*").alias("score"))
    )
    w_best = W.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("plang"))
    best = (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", F.col("plang").alias("predicted_lang"), "score")
    )
    return docs.select("doc_id", F.col("lang").alias("true_lang")).join(best, "doc_id")


@query(
    "q_quality",
    oracle=f"""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_toks,
               CAST(length(text) AS INTEGER) AS n_chars_actual,
               CAST(len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL}))) AS INTEGER)
                 AS stop_cnt,
               CAST(10000 * len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL})))
                    // len(string_split(text, ' ')) AS BIGINT) AS stop_x10k,
               CAST(10000 * (length(text) - (len(string_split(text, ' ')) - 1))
                    // len(string_split(text, ' ')) AS BIGINT) AS avglen_x10k,
               CAST((6000 * len(list_filter(string_split(text, ' '), t -> t IN ({_STOP_SQL})))
                     + 1000 * (length(text) - (len(string_split(text, ' ')) - 1)))
                    // len(string_split(text, ' ')) AS BIGINT) AS quality_milli
        FROM documents
    """,
    tags=("text", "extension", "quality"),
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring (X4): token count, stopword ratio, average
    token length, and a linear quality score — row-local arithmetic
    over higher-order array functions, zero shuffles.

    Ratios are emitted integer-scaled (×10⁴ / ×10³) via exact integer
    division: rounding a float ratio at any fixed decimal count hits
    exact half-boundaries for some (numerator, n_toks) pairs — found
    at sf0.1 where quality landed on 0.48625 exactly and the two
    engines' round() tipped opposite ways."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    stop_cnt = F.size(F.expr(f"filter(split(text, ' '), t -> t IN ({stop_list}))"))
    chars_in_toks = F.length("text") - (n_toks - 1)
    base = docs.select(
        "doc_id",
        n_toks.alias("n_toks"),
        F.length("text").alias("n_chars_actual"),
        stop_cnt.alias("stop_cnt"),
        chars_in_toks.cast("bigint").alias("__cit"),
    )
    return base.select(
        "doc_id",
        "n_toks",
        "n_chars_actual",
        "stop_cnt",
        F.expr("10000 * CAST(stop_cnt AS BIGINT) div n_toks").alias("stop_x10k"),
        F.expr("10000 * __cit div n_toks").alias("avglen_x10k"),
        F.expr("(6000 * CAST(stop_cnt AS BIGINT) + 1000 * __cit) div n_toks").alias(
            "quality_milli"
        ),
    )


@query(
    "q_tokens",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS bpe_tokens,
               CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS distinct_tokens
        FROM documents
    """,
    tags=("text", "extension", "tokens"),
)
def q_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (X4): whitespace tokens vs a BPE-ish regex
    segmentation (letter runs / digit runs / single punctuation) vs
    distinct tokens."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)).alias(
            "bpe_tokens"
        ),
        F.size(F.array_distinct(F.split("text", " "))).alias("distinct_tokens"),
    )


@query(
    "q_fingerprint",
    oracle="""
        SELECT doc_id,
               CAST(sum((ascii(substr(tok, 1, 1)) * 131 + length(tok) * 7)
                        * CAST(power(31, (ord - 1) % 8) AS BIGINT)) AS BIGINT)
                 AS fingerprint
        FROM (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS ord
            FROM documents)
        GROUP BY doc_id
    """,
    tags=("text", "extension", "fingerprint"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (X4): positionally weighted rolling hash —
    token feature (first-char code, length) times a 31^(pos mod 8)
    weight, summed. Integer arithmetic end-to-end: bit-identical in
    both engines, order-insensitive (sum), and sensitive to token
    order (the weight), unlike a bag-of-words hash."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok"))
    h = F.ascii(F.substring("tok", 1, 1)) * 131 + F.length("tok") * 7
    w = F.pow(F.lit(31.0), (F.col("pos") % 8).cast("double")).cast("bigint")
    return tk.groupBy("doc_id").agg(
        F.sum((h * w).cast("bigint")).cast("bigint").alias("fingerprint")
    )


@query(
    "q_repetition",
    oracle="""
        WITH tok AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        grams AS (
            SELECT doc_id, unnest(list_concat(toks,
                list_transform(toks[2:], (b, i) -> toks[i] || ' ' || b))) AS g
            FROM tok),
        counts AS (
            SELECT doc_id, CASE WHEN contains(g, ' ') THEN 'b' ELSE 't' END
                     AS kind, g, count(*) AS c
            FROM grams GROUP BY doc_id, 2, g)
        SELECT doc_id,
               CAST(sum(c) FILTER (kind = 't') AS BIGINT) AS n_toks,
               CAST(max(c) FILTER (kind = 't') AS BIGINT) AS top_tok_cnt,
               CAST(10000 * max(c) FILTER (kind = 't')
                    // sum(c) FILTER (kind = 't') AS BIGINT) AS top_tok_x10k,
               CAST(coalesce(sum(c) FILTER (kind = 'b' AND c >= 2), 0)
                    AS BIGINT) AS dup_bigram_occ,
               CAST(coalesce(10000 * sum(c) FILTER (kind = 'b' AND c >= 2)
                             // sum(c) FILTER (kind = 'b'), 0)
                    AS BIGINT) AS dup_bigram_x10k
        FROM counts GROUP BY doc_id
    """,
    tags=("text", "extension", "quality", "repetition"),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filter (X4 extension): the classic public-pipeline
    repetition rules — fraction of tokens that are the single most
    frequent token, and fraction of bigram occurrences belonging to a
    bigram that appears >= 2 times in the doc (Gopher-style duplicate
    n-gram fraction; docs dominated by either are boilerplate/spam).

    ZERO-shuffle formulation (round-3 rewrite): every output is a
    per-document statistic, so nothing needs to leave its row. The
    token array is sorted row-locally; the top-token count is the
    longest equal run (one aggregate() fold), and a bigram occurrence
    is a duplicate iff it equals a neighbor in the sorted bigram
    array (element_at probes over an index sequence). The round-2
    form exploded the gram stream and shuffled it twice — at 100 TB
    that moved the entire corpus token stream through two exchanges
    to compute quantities that never needed cross-row data. Bigrams
    via zip_with of the token array against its own tail (zip_with
    PADS with nulls; the trailing concat-with-null is filtered, so
    1-token docs yield an empty bigram list). Ratios are
    integer-scaled x10^4 via exact integer division (round() tips on
    half-boundaries across engines). The oracle keeps its unnest +
    GROUP BY derivation — same results from an independent
    formulation is a stronger differential check than a mirrored
    one."""
    docs = load_table(spark, sf_dir, "documents")
    # longest equal run in a sorted array = max occurrence count
    run_best = (
        "aggregate(__st, "
        "named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(acc, x) -> named_struct("
        "  'prev', x, "
        "  'run', IF(x <=> acc.prev, acc.run + 1L, 1L), "
        "  'best', greatest(acc.best, IF(x <=> acc.prev, acc.run + 1L, 1L))), "
        "acc -> acc.best)"
    )
    # occurrences equal to a sorted neighbor = members of >=2 groups
    dup_occ = (
        "CAST(size(filter(sequence(1, size(__sb)), i -> "
        "(i > 1 AND element_at(__sb, i) = element_at(__sb, i - 1)) OR "
        "(i < size(__sb) AND element_at(__sb, i) = element_at(__sb, i + 1))"
        ")) AS BIGINT)"
    )
    return (
        docs.selectExpr(
            "doc_id",
            "array_sort(split(text, ' ')) AS __st",
            "array_sort(filter(zip_with(split(text, ' '), "
            "  slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)), "
            "  (a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL)) AS __sb",
        )
        .selectExpr(
            "doc_id",
            "CAST(size(__st) AS BIGINT) AS n_toks",
            f"CAST({run_best} AS BIGINT) AS top_tok_cnt",
            "__sb",
        )
        .selectExpr(
            "doc_id",
            "n_toks",
            "top_tok_cnt",
            "CAST(10000 * top_tok_cnt div n_toks AS BIGINT) AS top_tok_x10k",
            f"{dup_occ} AS dup_bigram_occ",
            f"CAST(IF(size(__sb) = 0, 0, 10000 * {dup_occ} div size(__sb)) "
            "AS BIGINT) AS dup_bigram_x10k",
        )
    )


# A token is "common" when it appears in >= RARE_DF docs. The set of
# common tokens is provably bounded: at most (total doc-token pairs)
# / RARE_DF tokens can clear the bar — so the COMMON head broadcasts
# even when the rare tail (typos, hashes, garbage) has billions of
# distinct tokens. Rare = not-in-head, never materialized as a set.
RARE_DF = 100


@query(
    "q_rare_tokens",
    oracle=f"""
        WITH pairs AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        dfq AS (
            SELECT tok, count(DISTINCT doc_id) AS df FROM pairs GROUP BY tok),
        common AS (SELECT tok FROM dfq WHERE df >= {RARE_DF})
        SELECT p.doc_id,
               CAST(count(*) AS BIGINT) AS n_toks,
               CAST(count(*) FILTER (c.tok IS NULL) AS BIGINT) AS rare_cnt,
               CAST(10000 * count(*) FILTER (c.tok IS NULL) // count(*)
                    AS BIGINT) AS rare_x10k
        FROM pairs p LEFT JOIN common c ON p.tok = c.tok
        GROUP BY p.doc_id
    """,
    tags=("text", "extension", "quality", "vocabulary"),
)
def q_rare_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token / OOV-ratio filter (X4 extension): fraction of a
    doc's token occurrences whose corpus document frequency is below
    RARE_DF — the standard garbage detector (mojibake, hashes, DNA
    strings score near 10000; clean prose near 0).

    Scale posture: the corpus df pass aggregates (doc, tok) pairs with
    map-side partials; the "common vocabulary" head is then AT MOST
    |pairs| / RARE_DF rows by construction, so it broadcasts at any
    corpus size — the unbounded rare TAIL is never collected, rare is
    just a failed broadcast-hash-join probe (left join, NULL flag).
    Per-doc ratios are exact integer division, x10^4."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    common = (
        pairs.distinct()
        .groupBy("tok")
        .count()
        .filter(F.col("count") >= RARE_DF)
        .select("tok", F.lit(True).alias("__common"))
    )
    flagged = pairs.join(F.broadcast(common), "tok", "left")
    rare_cnt = F.sum(F.when(F.col("__common").isNull(), 1).otherwise(0))
    return flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        rare_cnt.cast("bigint").alias("rare_cnt"),
        F.expr(
            "CAST(10000 * sum(CASE WHEN __common IS NULL THEN 1 ELSE 0 END) "
            "div count(*) AS BIGINT)"
        ).alias("rare_x10k"),
    )


@query(
    "q_top_ngrams",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        bigrams AS (
            SELECT doc_id, ts[i] || ' ' || ts[i + 1] AS bg
            FROM toks CROSS JOIN generate_series(1, 10000) g(i)
            WHERE i < len(ts))
        SELECT bg AS ngram,
               CAST(count(*) AS BIGINT) AS occurrences,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
        FROM bigrams
        GROUP BY bg
        ORDER BY occurrences DESC, ngram ASC
        LIMIT 50
    """,
    tags=("text", "extension", "quality"),
)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide heavy-hitter bigrams with document frequency — the
    boilerplate detector that feeds C4-style line/ngram blocklists
    (a bigram appearing in thousands of documents is template text,
    not content).  One explode off the token array inside the scan
    stage, one hash aggregate with map-side partials over uniform
    string keys, TakeOrderedAndProject for the head — the exact
    q_wordcount plan shape one n-gram level up, so it inherits the
    same 100 TB posture (no window, no join, bounded driver result).
    Bigrams via zip_with against the array tail (nulls filtered), the
    q_repetition construction; the oracle derives them independently
    by index join."""
    docs = load_table(spark, sf_dir, "documents")
    bigrams = docs.selectExpr(
        "doc_id",
        "filter(zip_with(split(text, ' '), "
        "  slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)), "
        "  (a, b) -> concat(a, ' ', b)), x -> x IS NOT NULL) AS bgs",
    ).select("doc_id", F.explode("bgs").alias("ngram"))
    return (
        bigrams.groupBy("ngram")
        .agg(
            F.count("*").cast("bigint").alias("occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("doc_freq"),
        )
        .orderBy(F.desc("occurrences"), F.asc("ngram"))
        .limit(50)
    )


@query(
    "q_chunk_overlap",
    oracle="""
        WITH toks AS (
            SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        starts AS (
            SELECT doc_id, ts, unnest(range(1, len(ts) + 1, 16)) AS st
            FROM toks)
        SELECT doc_id,
               CAST((st - 1) // 16 AS INT) AS chunk_idx,
               CAST(len(ts[st : least(st + 31, len(ts))]) AS BIGINT)
                   AS n_chunk_toks,
               md5(array_to_string(ts[st : least(st + 31, len(ts))], ' '))
                   AS chunk_md5
        FROM starts
    """,
    tags=("text", "pipeline", "extension"),
)
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (RAG/embedding prep): 32-token windows
    at stride 16, so every token appears in two chunks and no
    retrieval boundary can split a passage.  Entirely row-local —
    sequence() generates the window starts inside the scan stage,
    posexplode's position IS the chunk index, and the chunk content
    travels as an md5 + token count (compact, exact) rather than
    duplicated text.  Zero shuffles; the 2x content expansion
    happens in the narrow stage, which is what makes this shape
    viable at corpus scale (the round-2 lesson behind q_repetition:
    never move an exploded token stream through an exchange)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr("doc_id", "split(text, ' ') AS ts")
        .selectExpr(
            "doc_id",
            "ts",
            "posexplode(sequence(1, size(ts), 16)) AS (cidx, st)",
        )
        .selectExpr(
            "doc_id",
            "CAST(cidx AS INT) AS chunk_idx",
            "CAST(size(slice(ts, st, 32)) AS BIGINT) AS n_chunk_toks",
            "md5(array_join(slice(ts, st, 32), ' ')) AS chunk_md5",
        )
    )


@query(
    "q_quality_tiers",
    oracle="""
        WITH sig AS (
            SELECT lang,
                   len(string_split(text, ' ')) AS n_toks,
                   10000 * len(list_distinct(string_split(text, ' ')))
                       // len(string_split(text, ' ')) AS distinct_x10k
            FROM documents)
        SELECT lang,
               CASE WHEN n_toks < 8 OR distinct_x10k < 3000 THEN 'drop'
                    WHEN n_toks >= 20 AND distinct_x10k >= 5000 THEN 'keep'
                    ELSE 'review' END AS tier,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS total_toks
        FROM sig
        GROUP BY 1, 2
    """,
    tags=("text", "quality", "pipeline", "extension"),
)
def q_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality RUBRIC (the FineWeb-style keep/review/drop triage):
    structural signals — token count and distinct-token ratio,
    integer-scaled so both engines tier identically — fold into one
    CASE ladder, then per-(lang, tier) counts.  The point over the
    single-signal filters (q_quality, q_repetition, q_rare_tokens)
    is the POLICY layer: thresholds live in one place, the middle
    tier is routed to review instead of silently dropped, and the
    output is the per-language triage report a curation run ships.
    Rowwise signals at the scan + one small aggregate; no joins."""
    docs = load_table(spark, sf_dir, "documents")
    sig = docs.selectExpr(
        "lang",
        "size(split(text, ' ')) AS n_toks",
        "10000 * size(array_distinct(split(text, ' '))) div size(split(text, ' ')) AS distinct_x10k",
    )
    tier = (
        F.when((F.col("n_toks") < 8) | (F.col("distinct_x10k") < 3000), "drop")
        .when((F.col("n_toks") >= 20) & (F.col("distinct_x10k") >= 5000), "keep")
        .otherwise("review")
    )
    return (
        sig.withColumn("tier", tier)
        .groupBy("lang", "tier")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_toks"),
        )
    )


@query(
    "q_domain_shift",
    oracle="""
        WITH tk AS (
            SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents),
        corpus AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS c FROM tk GROUP BY tok),
        head AS (
            SELECT tok, c FROM (
                SELECT tok, c,
                       row_number() OVER (ORDER BY c DESC, tok ASC) AS rn
                FROM corpus) WHERE rn <= 64),
        sc AS (
            SELECT tk.source, tk.tok, CAST(count(*) AS BIGINT) AS o
            FROM tk JOIN head USING (tok)
            GROUP BY 1, 2),
        dots AS (
            SELECT sc.source,
                   CAST(sum(sc.o * head.c) AS BIGINT) AS dot,
                   CAST(sum(sc.o * sc.o) AS BIGINT) AS n2s
            FROM sc JOIN head USING (tok)
            GROUP BY sc.source),
        n2c AS (SELECT CAST(sum(c * c) AS BIGINT) AS v FROM head)
        SELECT d.source,
               round(CAST(d.dot AS DOUBLE)
                     / (sqrt(CAST(d.n2s AS DOUBLE)) * sqrt(CAST(n2c.v AS DOUBLE))),
                     4) AS head_cosine
        FROM dots d CROSS JOIN n2c
    """,
    tags=("text", "pipeline", "quality", "reporting"),
)
def q_domain_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-shift detector: cosine similarity between each source's
    token-count vector and the corpus's, restricted to the corpus's
    top-64 head tokens — a source whose head-vocabulary profile
    drifts from the corpus scores low and gets flagged for review
    (the cheap stand-in for per-source KL monitoring; a chi-square
    form would overflow int64 on the cross terms, while count
    vectors over a FIXED 64-token head keep every sum an exact
    bigint and the one double division is spelled identically in
    both engines).  The head is O(64) rows → broadcast; everything
    else is hash aggregates over (source, tok)."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select("source", F.explode(F.split("text", " ")).alias("tok"))
    corpus = tk.groupBy("tok").agg(F.count("*").cast("bigint").alias("c"))
    # head feeds THREE consumers (the sc filter join, the dots join,
    # and the n2c norm) — uncut, each recompiled the full-vocabulary
    # corpus aggregate from its own scan (4 documents FileScans
    # measured at r08).  Checkpointing 64 rows collapses that to two
    # corpus reads total: one inside the head base, one for sc.
    head = (
        corpus.orderBy(F.desc("c"), F.asc("tok"))
        .limit(64)
        .select("tok", "c")
        .localCheckpoint(eager=False)
    )
    sc = (
        tk.join(F.broadcast(head.select("tok")), "tok")
        .groupBy("source", "tok")
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    dots = (
        sc.join(F.broadcast(head), "tok")
        .groupBy("source")
        .agg(
            F.sum(F.expr("o * c")).cast("bigint").alias("dot"),
            F.sum(F.expr("o * o")).cast("bigint").alias("n2s"),
        )
    )
    n2c = head.agg(F.sum(F.expr("c * c")).cast("bigint").alias("v"))
    return dots.crossJoin(F.broadcast(n2c)).selectExpr(
        "source",
        "round(CAST(dot AS DOUBLE) / (sqrt(CAST(n2s AS DOUBLE)) * sqrt(CAST(v AS DOUBLE))), 4) AS head_cosine",
    )


def _compression_rows(doc_id, text):
    """zlib level-6 compressed size of one text — stdlib,
    deterministic (fixed level, no dictionary).  A NULL text (a crawl
    row with no body) yields NULL metrics, not a worker crash
    (tests/test_null_values.py); an empty text has ratio 0, not a
    division by zero."""
    if text is None:
        yield doc_id, None, None, None
        return
    raw = text.encode("utf-8")
    comp = len(zlib.compress(raw, 6))
    yield doc_id, len(raw), comp, 10000 * comp // len(raw) if raw else 0


@query("q_compression_ratio", oracle=None, tags=("text", "quality", "python-rows"))
def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal: zlib(text)/len(text) — the
    entropy proxy public pipelines use to catch pathological docs
    from BOTH tails (near-zero ratio = mechanical repetition that
    n-gram rules miss; near-1 ratio = random noise / binary spill).
    This is the one text op that legitimately needs Python: a real
    codec, so it runs stdlib zlib (level pinned for determinism)
    through the package's Python row seam, scale.map_rows — Arrow
    batches in and out, never row-at-a-time pickling.  Rows-only at
    the driver (DuckDB has no zlib); tests/test_operators.py pins
    per-doc exactness against a direct Python recomputation."""
    docs = load_table(spark, sf_dir, "documents")
    return map_rows(
        docs,
        ("doc_id", "text"),
        _compression_rows,
        "doc_id bigint, n_bytes bigint, n_compressed bigint, ratio_x10k bigint",
    )


@query(
    "q_lm_surprisal",
    oracle="""
        WITH tok AS (
            SELECT doc_id, lang,
                   unnest(string_split(text, ' ')) AS tok
            FROM documents),
        counts AS (
            SELECT tok, count(*) AS c
            FROM tok
            WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) <= 'b'
            GROUP BY tok),
        lm AS (
            SELECT CAST(sum(c) AS BIGINT) AS t_total,
                   CAST(count(*) AS BIGINT) AS v_size
            FROM counts),
        scored AS (
            SELECT t.doc_id, t.lang,
                   length(bin((lm.t_total + lm.v_size)
                              // (coalesce(c.c, 0) + 1))) - 1 AS bits
            FROM tok t LEFT JOIN counts c USING (tok) CROSS JOIN lm),
        doc AS (
            SELECT doc_id, lang,
                   count(*) AS n_toks, sum(bits) AS surprisal_bits
            FROM scored GROUP BY doc_id, lang)
        SELECT doc_id, lang,
               CAST(n_toks AS BIGINT) AS n_toks,
               CAST(surprisal_bits AS BIGINT) AS surprisal_bits,
               CAST((100 * surprisal_bits) // n_toks AS BIGINT)
                 AS cbits_per_tok
        FROM doc
        ORDER BY cbits_per_tok DESC, doc_id ASC
        LIMIT 20
    """,
    tags=("text", "quality", "lm", "extension"),
)
def q_lm_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring (X34): train a unigram LM on
    the deterministic 75/25 content-hash train split, score EVERY
    document's add-one-smoothed per-token surprisal, and report the
    20 most-surprising documents (highest centibits/token — the tail
    a perplexity filter would drop or down-weight).

    Surprisal is integer-exact on both engines: the add-one estimate
    p = (c+1)/(T+V) is scored as floor(log2((T+V) div (c+1))) via
    length(bin(n))-1 — a pure integer bit-length, no transcendental
    whose last-ulp could differ cross-engine (the q_tfidf lesson).
    The metric is defined AS this integer formula; it is
    rank-faithful to log-perplexity at whole-bit granularity.

    Scale shape: token counts are one map-side-combinable groupBy
    whose output is vocabulary-sized; the corpus-side score join keys
    on the token (Zipf-skewed — exactly the AQE-skew-split case, or
    df-capped salting in production); T and V ride along as a 1-row
    broadcast.  Nothing iterates and nothing collects: "train the LM"
    is itself a DataFrame, so rescoring tomorrow's crawl against
    today's LM is the same plan with a different left side.
    """
    docs = load_table(spark, sf_dir, "documents")
    # The trained LM feeds BOTH the score join and the (T, V) roll-up.
    # Without a cut, Catalyst compiles the diamond as two independent
    # subtrees — a second full train-corpus scan just to count the
    # vocabulary.  localCheckpoint pins the vocabulary-sized counts
    # once (the same bounded-derived-base discipline as q_cms_topk /
    # q_kmv_overlap), so the corpus is read once per side.
    counts = lm_train_counts(docs).localCheckpoint(eager=False)
    return lm_score_docs(docs, counts)


def lm_train_counts(docs: DataFrame) -> DataFrame:
    """(tok, c) unigram counts over the train split of ``docs`` (the
    md5 nibble of doc_id at most "b", about 75%): the LM q_lm_surprisal
    trains, and the per-batch delta the streaming vocabulary store
    (streaming/jobs.lm_counts_merge_fn) sums."""
    return (
        docs.filter(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) <= "b"
        )
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )


def lm_score_docs(docs: DataFrame, counts: DataFrame) -> DataFrame:
    """Score ``docs`` against a unigram LM given as a (tok, c) counts
    table — the shared serving path behind q_lm_surprisal (in-query
    LM) and the streaming vocabulary store
    (streaming/jobs.lm_vocab_maintenance): rescoring a new crawl
    against yesterday's maintained LM is THIS function with
    ``spark.read.parquet(store)`` as ``counts``.  The caller pins
    ``counts`` (checkpoint or parquet read) so the (T, V) roll-up
    does not recompile the training subtree."""
    lm = counts.agg(
        F.sum("c").cast("bigint").alias("t_total"),
        F.count("*").cast("bigint").alias("v_size"),
    )
    tok = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    scored = (
        tok.join(counts, "tok", "left")
        .crossJoin(F.broadcast(lm))
        .select(
            "doc_id",
            "lang",
            (
                F.length(
                    F.bin(
                        F.expr(
                            "(t_total + v_size) div (coalesce(c, 0) + 1)"
                        )
                    )
                )
                - 1
            ).alias("bits"),
        )
    )
    return (
        scored.groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum("bits").cast("bigint").alias("surprisal_bits"),
        )
        .select(
            "doc_id",
            "lang",
            "n_toks",
            "surprisal_bits",
            F.expr("(100 * surprisal_bits) div n_toks").alias("cbits_per_tok"),
        )
        .orderBy(F.desc("cbits_per_tok"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style local-minimum k-gram selection)

_WINNOW_K = 3  # tokens per k-gram
_WINNOW_W = 4  # winnowing window (k-grams per selection window)
_WINNOW_CROWD_CAP = 64  # a print shared by more docs is boilerplate

# shared CTE chain ending in `winnowed` (doc_id, sel, n_in_frame) —
# both winnow oracles build on it so the two stay definitionally tied
_WINNOW_SQL_CTE = f"""tok AS (
            SELECT doc_id,
                   unnest(string_split(text, ' ')) AS tok,
                   unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos
            FROM documents),
        feat AS (
            SELECT doc_id, pos,
                   CAST(ascii(substr(tok, 1, 1)) * 131 + length(tok) * 7
                        AS BIGINT) AS h
            FROM tok),
        gram AS (
            SELECT doc_id, pos,
                   h + 31 * lead(h, 1) OVER w + 961 * lead(h, 2) OVER w AS g
            FROM feat
            WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        winnowed AS (
            SELECT doc_id,
                   min(g) OVER v AS sel,
                   count(g) OVER v AS n_in_frame
            FROM gram WHERE g IS NOT NULL
            WINDOW v AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING))"""


@query(
    "q_winnow",
    oracle=f"""
        WITH {_WINNOW_SQL_CTE}
        SELECT doc_id,
               CAST(count(DISTINCT sel) AS BIGINT) AS n_fingerprints,
               CAST(min(sel) AS BIGINT) AS fp_min,
               CAST(sum(DISTINCT sel) AS BIGINT) AS fp_sum
        FROM winnowed
        WHERE n_in_frame = {_WINNOW_W}
        GROUP BY doc_id
    """,
    tags=("text", "extension", "fingerprint", "winnowing"),
)
def q_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (X4 family): the MOSS
    local-minimum scheme (Schleimer, Wilkerson, Aiken, SIGMOD'03) —
    hash every K-token gram, slide a W-gram window, keep each
    window's minimum hash.  Guarantees every match of length
    >= K + W - 1 tokens shares at least one selected fingerprint
    while storing only ~2/(W+1) of the gram hashes — the classic
    content-defined selection used for plagiarism/clone detection,
    complementing q_fingerprint's whole-document rolling hash with a
    SUBSTRING-match fingerprint set.

    Integer arithmetic end-to-end (token feature as q_fingerprint's,
    gram hash = base-31 combination via two lead()s), so both engines
    agree bit-for-bit.  Only FULL windows select (count-over-frame
    guard) — the tail of a document never winnows a short frame,
    matching the paper's definition and keeping the result a pure
    function of the token stream.

    100 TB shape: every window (lead, min-over-frame) is partitioned
    by doc_id, so the whole pipeline is ONE shuffle on doc_id; the
    final groupBy doc_id lands on the same partitioning (no second
    exchange).  No UDFs, no driver traffic; per-doc state is bounded
    by document length."""
    docs = load_table(spark, sf_dir, "documents")
    return _winnow_base(docs).groupBy("doc_id").agg(
        F.countDistinct("sel").cast("bigint").alias("n_fingerprints"),
        F.min("sel").cast("bigint").alias("fp_min"),
        F.sum_distinct(F.col("sel")).cast("bigint").alias("fp_sum"),
    )


def _winnow_base(docs: DataFrame) -> DataFrame:
    """(doc_id, sel) winnow selections, one row per FULL w-frame
    (duplicates retained — q_winnow dedups inside its aggregate,
    winnow_prints dedups relationally for the pair join)."""
    tk = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    h = (
        F.ascii(F.substring("tok", 1, 1)) * 131 + F.length("tok") * 7
    ).cast("bigint")
    wseq = W.partitionBy("doc_id").orderBy("pos")
    gram = tk.select(
        "doc_id",
        "pos",
        (
            h + 31 * F.lead(h, 1).over(wseq) + 961 * F.lead(h, 2).over(wseq)
        ).alias("g"),
    ).where(F.col("g").isNotNull())
    vframe = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.currentRow, W.currentRow + _WINNOW_W - 1)
    )
    return gram.select(
        "doc_id",
        F.min("g").over(vframe).alias("sel"),
        F.count("g").over(vframe).alias("n_in_frame"),
    ).where(F.col("n_in_frame") == _WINNOW_W).select("doc_id", "sel")


@query(
    "q_winnow_pairs",
    oracle=f"""
        WITH {_WINNOW_SQL_CTE},
        prints AS (
            SELECT DISTINCT doc_id, sel FROM winnowed
            WHERE n_in_frame = {_WINNOW_W}),
        ok AS (
            SELECT sel FROM prints
            GROUP BY sel HAVING count(*) <= {_WINNOW_CROWD_CAP}),
        elig AS (
            SELECT p.doc_id, p.sel FROM prints p JOIN ok USING (sel))
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM elig a JOIN elig b
          ON a.sel = b.sel AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING count(*) >= 2
    """,
    tags=("text", "dedup", "extension", "winnowing"),
)
def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clone-pair candidates from winnowing fingerprints — the MOSS
    matching step: documents sharing >= 2 selected prints, ranked by
    how many they share.  An exact-substring candidate generator
    complementing MinHash-LSH (bag-of-shingles similarity) and
    q_dup_spans (corpus-level coverage metric): a surviving pair
    provably shares >= 2 runs of >= K+W-1 tokens (winnowing's match
    guarantee), so the verify step can go straight to span alignment.

    Crowd cap first (the LSH bucket-cap posture): a print shared by
    more than {_WINNOW_CROWD_CAP} documents is boilerplate, and
    joining through it would emit a quadratic candidate blowup for
    zero dedup signal — cap BEFORE the self-join, so the worst
    bucket is bounded deterministically.

    100 TB shape: the distinct print relation is hash-only
    (2 bigints/row, ~2/(W+1) prints per token) and localCheckpoint'd
    ONCE feeding all three consumers (crowd count + both join
    sides) — one corpus scan at materialization, zero visible; the
    pair join is an equi-join on sel; the pair aggregate shuffles on
    the (doc_a, doc_b) key."""
    docs = load_table(spark, sf_dir, "documents")
    prints = _winnow_base(docs).distinct().localCheckpoint(eager=False)
    return winnow_pairs_from(prints)


def winnow_pairs_from(prints: DataFrame) -> DataFrame:
    """The MOSS matching step over ANY distinct (doc_id, sel) print
    relation — crowd cap BEFORE the self-join, pairs sharing >= 2
    prints.  Shared by the inline q_winnow_pairs (prints freshly
    winnowed from the corpus) and the streaming print store's serve
    path (streaming/jobs.winnow_pairs_serve: prints read back from
    the incrementally-maintained store), so both answer from one
    definition."""
    ok = (
        prints.groupBy("sel")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") <= _WINNOW_CROWD_CAP)
        .select("sel")
    )
    elig = prints.join(ok, "sel")
    pairs = elig.alias("a").join(
        elig.alias("b"),
        (F.col("a.sel") == F.col("b.sel"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    return (
        pairs.groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


# ---------------------------------------------------------------------------
# X56 — inverted-index conjunctive search (r09)

_SEARCH_TERMS = ("merge", "filter", "batch")  # fixed demo query (AND)
_INDEX_BUCKETS = 64  # token-hash partition key of the persisted index


def _tok_buckets(terms) -> list[int]:
    """Partition buckets of the given index terms, computed on the
    DRIVER with the pinned Python twin of Spark's xxhash64
    (functions.xxh64_sql, equality with F.xxhash64 pytest-pinned on
    every byte-length class) — pmod(xxhash64(tok), {_INDEX_BUCKETS})
    exactly as build_text_index/build_bm25_index wrote the bkt
    column.  r17 (guide §1.2 job-count): every serve path previously
    paid a whole Spark job (createDataFrame + distinct + collect)
    just to hash a handful of CONSTANT query terms; a pure function
    of the request costs no job at any scale."""
    from ..functions.xxh64_sql import py_signed, py_xxh64_bytes

    out = {
        py_signed(py_xxh64_bytes(t.encode("utf-8"), 42)) % _INDEX_BUCKETS
        for t in terms
    }
    return sorted(out)


def _read_index_stats(spark: SparkSession, stats_path: str):
    """1-row index stats read, driver-side (no Spark job — r17
    serve-path job-count cut; see index_cache.read_small_parquet)."""
    from .index_cache import read_small_parquet

    return read_small_parquet(
        spark,
        stats_path,
        "n_docs BIGINT, total_toks BIGINT",
        ("n_docs", "total_toks"),
    )


@query(
    "q_text_search",
    oracle=f"""
        WITH post AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)
            WHERE tok IN {_SEARCH_TERMS!r}),
        hits AS (
            SELECT doc_id FROM post
            GROUP BY doc_id
            HAVING count(*) = {len(_SEARCH_TERMS)})
        SELECT h.doc_id, d.source, d.lang,
               CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_toks
        FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    """,
    tags=("text", "extension", "search", "inverted-index"),
)
def q_text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conjunctive (AND) token search (X56) — the corpus-inspection
    query every curation team keeps around ("show me the documents
    containing all of these terms"), in its index shape: explode to
    postings, keep only the QUERY terms (at 100 TB: a partition-
    pruned read of the persisted posting index, see build_text_index
    — the inline form pushes `tok IN (...)` into the scan instead),
    distinct per (doc, term), then docs matching ALL terms via the
    count-distinct-equals-arity trick — never an N-way self-join of
    posting lists, and the metadata join happens only for final
    hits.

    Scale shape: the posting filter reaches the scan as a predicate
    on the exploded stream; the per-doc aggregate shuffles only
    (doc_id, tok) pairs of the query terms (|terms| × df rows); the
    hits ⋈ documents join is keyed on doc_id and sized by the
    result.  build_text_index/text_search below persist the same
    postings partitioned by token-hash bucket so a served query
    opens |terms| of {_INDEX_BUCKETS} directories."""
    docs = load_table(spark, sf_dir, "documents")
    post = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok").isin(*_SEARCH_TERMS))
        .distinct()
    )
    hits = (
        post.groupBy("doc_id")
        .agg(F.count("*").alias("n_terms"))
        .filter(F.col("n_terms") == len(_SEARCH_TERMS))
        .select("doc_id")
    )
    return hits.join(
        docs.select(
            "doc_id",
            "source",
            "lang",
            F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
        ),
        "doc_id",
    )


def build_text_index(docs: DataFrame, path: str) -> None:
    """Persist the inverted index: DISTINCT (tok, doc_id) postings
    parquet PARTITIONED BY bkt = pmod(xxhash64(tok), {_INDEX_BUCKETS})
    — a served query reads only its terms' buckets
    (PartitionFilters), and each bucket holds ~vocabulary/
    {_INDEX_BUCKETS} terms' postings.  One corpus scan + one
    partitioned write; the amortized offline step of
    q_text_search's inline shape."""
    # REBALANCE before the partitioned write (r17, guide §6 — see
    # build_bm25_index): data-sized output files instead of one tiny
    # file per (write task x bucket).
    text_postings(docs).hint("rebalance", "bkt").write.mode(
        "overwrite"
    ).partitionBy("bkt").parquet(f"{path}/postings")


def text_postings(docs: DataFrame) -> DataFrame:
    """DISTINCT (doc_id, tok, bkt) postings of ``docs``, non-empty
    tokens, bucketed by bkt = pmod(xxhash64(tok), 64): the rows
    build_text_index writes and the streaming index merge
    (streaming/jobs.text_index_merge_fn) set-unions per batch."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
        .withColumn(
            "bkt",
            F.pmod(F.xxhash64("tok"), F.lit(_INDEX_BUCKETS)).cast("int"),
        )
    )


def text_search(
    spark: SparkSession, index_path: str, terms: list[str]
) -> DataFrame:
    """Conjunctive search over the PERSISTED index: compute the
    terms' buckets driver-side (pure function of the term — no jobs),
    scan only those partitions, filter to the exact terms, and apply
    the count-equals-arity intersection.  Returns (doc_id) hits;
    callers join metadata as q_text_search does.  Zero corpus
    scans."""
    if not terms:
        return spark.createDataFrame([], "doc_id BIGINT")
    bkts = _tok_buckets(set(terms))
    post = (
        # explicit schema: an index built from an empty corpus has a
        # fileless postings dir; inference would raise where the
        # contract wants an empty hit set
        spark.read.schema("doc_id BIGINT, tok STRING, bkt INT")
        .parquet(f"{index_path}/postings")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("tok").isin(*set(terms)))
    )
    return (
        post.groupBy("doc_id")
        .agg(F.countDistinct("tok").alias("n_terms"))
        .filter(F.col("n_terms") == len(set(terms)))
        .select("doc_id")
    )


# ---------------------------------------------------------------------------
# X61 — BM25 ranked retrieval (r10)

_BM25_TERMS = ("merge", "filter", "batch")  # fixed demo query (OR, ranked)
_BM25_K = 10
# fixed-point BM25 constants: scale S, k1 = 1.2 (K1 = k1*S),
# b = 0.75 (B = b*S); idf is the integer bit-length of the scaled
# doc ratio (floor log2) — the q_lm_surprisal convention, so the
# whole score is integer-exact cross-engine.
_BM25_S = 10_000
_BM25_K1 = 12_000
_BM25_B = 7_500
_BM25_IDF_SHIFT = 1_048_576  # 2^20 pre-shift inside the idf log


def _bm25_contrib_cols(tf: str, df: str, divop: str, dl: str = "dl") -> str:
    """Single-term BM25 contribution as engine-neutral SQL text over
    NAMED tf/df/dl columns plus scalar columns n_docs /
    total_toks.  ``divop`` is the engine's truncating integer
    division ('div' for Spark, '//' for DuckDB — identical on the
    non-negative operands used here).  ``dl`` is passed qualified
    (e.g. 'l.dl') by the batch oracles, where a future column added
    to the `post` CTE could otherwise make the bare name ambiguous
    (ADVICE r11: the old `.replace("{dl}", ...)` was a dead no-op).

      idf_fp   = floor(log2(n_docs * 2^20 / df))        [bit-length]
      norm_fp  = S - B + B * dl / avgdl                 [x S]
      tfpart   = tf*(k1+1) / (tf + k1*norm)             [x S]
      contrib  = idf_fp * tfpart_fp

    Guarded so a term absent from the corpus (df = 0) or from the
    doc (tf = 0) contributes exactly 0.  The pivoted per-query form
    (_bm25_contrib) and the batched long form (q_bm25_batch, one
    row per (query, doc, term)) compile THIS one arithmetic."""
    norm = (
        f"({_BM25_S} - {_BM25_B} + "
        f"(({_BM25_B} * {dl} * n_docs) {divop} total_toks))"
    )
    denom = f"({tf} * {_BM25_S} + (({_BM25_K1} * {norm}) {divop} {_BM25_S}))"
    tfpart = f"(({tf} * {_BM25_K1 + _BM25_S} * {_BM25_S}) {divop} {denom})"
    idf = (
        f"(length(bin((n_docs * {_BM25_IDF_SHIFT}) {divop} {df})) - 1)"
    )
    return (
        f"CASE WHEN {tf} = 0 OR {df} = 0 THEN 0 "
        f"ELSE {idf} * {tfpart} END"
    )


def _bm25_contrib(i: int, divop: str) -> str:
    """Per-term contribution over the pivoted tf{i}/df{i} columns —
    see _bm25_contrib_cols for the arithmetic."""
    return _bm25_contrib_cols(f"tf{i}", f"df{i}", divop)


def _bm25_score_sql(divop: str, n_terms: int | None = None) -> str:
    """Full OR score as the sum of per-term contributions over columns
    tf0..tf{n-1} / df0..df{n-1}.  ``n_terms`` defaults to the fixed
    demo-query width (q_bm25 / q_rrf_fusion); bm25_search passes the
    caller's actual term count so arbitrary-width queries compile
    (fewer than 3 terms used to raise an unresolved-column error and
    more than 3 silently dropped the tail — r10 ADVICE)."""
    if n_terms is None:
        n_terms = len(_BM25_TERMS)
    return " + ".join(
        f"({_bm25_contrib(i, divop)})" for i in range(n_terms)
    )


def _bm25_tf_cols_sql(toks_expr: str, fn: str) -> list[str]:
    """tf{i} column definitions counting each demo term inside the
    tokenized text; ``fn`` is the engine's array-filter ('filter' for
    Spark, 'list_filter' for DuckDB), size via the shared
    engine-specific caller."""
    return [
        f"{fn}({toks_expr}, t -> t = '{t}')" for t in _BM25_TERMS
    ]


def _bm25_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, source, score_fp) for every document matching any
    demo term — the BM25 scoring core factored so q_bm25 (top-k) and
    q_rrf_fusion (rank fusion) rank one definition.  Single-scan
    array-function base, checkpoint-cut stats diamond, 1-row scalar
    broadcast (see q_bm25's docstring for the full scale story)."""
    toks_expr = "filter(split(text, ' '), t -> t != '')"
    base = docs.select(
        "doc_id",
        "source",
        F.expr(f"size({toks_expr})").cast("long").alias("dl"),
        *[
            F.expr(f"size({e})").cast("long").alias(f"tf{i}")
            for i, e in enumerate(_bm25_tf_cols_sql(toks_expr, "filter"))
        ],
    ).localCheckpoint(eager=False)
    n_tf = len(_BM25_TERMS)
    st = base.agg(
        F.count(F.when(F.col("dl") > 0, True)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_toks"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, True)).alias(f"df{i}")
            for i in range(n_tf)
        ],
    )
    hits = base.filter(
        F.expr(" + ".join(f"tf{i}" for i in range(n_tf))) > 0
    )
    return hits.crossJoin(F.broadcast(st)).select(
        "doc_id",
        "source",
        F.expr(_bm25_score_sql("div")).cast("long").alias("score_fp"),
    )


# shared BM25 oracle CTE chain (base -> st -> scored), reused
# verbatim by q_bm25 and q_rrf_fusion so both score one definition
_BM25_ORACLE_CTES = f"""base AS (
            SELECT doc_id, source,
                   len(list_filter(string_split(text, ' '),
                                   t -> t <> '')) AS dl,
                   {", ".join(
                       f"len({e}) AS tf{i}"
                       for i, e in enumerate(
                           _bm25_tf_cols_sql(
                               "list_filter(string_split(text, ' '), "
                               "t -> t <> '')",
                               "list_filter",
                           )
                       )
                   )}
            FROM documents),
        st AS (
            SELECT count(*) FILTER (WHERE dl > 0) AS n_docs,
                   CAST(coalesce(sum(dl), 0) AS BIGINT) AS total_toks,
                   {", ".join(
                       f"count(*) FILTER (WHERE tf{i} > 0) AS df{i}"
                       for i in range(len(_BM25_TERMS))
                   )}
            FROM base),
        scored AS (
            SELECT b.doc_id, b.source,
                   CAST({_bm25_score_sql("//")} AS BIGINT) AS score_fp
            FROM base b, st
            WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0)"""


@query(
    "q_bm25",
    oracle=f"""
        WITH {_BM25_ORACLE_CTES}
        SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id)
                    AS INTEGER) AS rank,
               doc_id, source, score_fp
        FROM scored
        ORDER BY score_fp DESC, doc_id
        LIMIT {_BM25_K}
    """,
    tags=("text", "extension", "search", "bm25", "ranking"),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (X61) — the ranked complement of
    q_text_search's boolean AND: Okapi BM25 with k1 = 1.2, b = 0.75
    over the fixed demo terms (OR semantics), top-{_BM25_K} documents.
    The score is DEFINED in integer fixed-point (x10^4 parts, idf as
    the bit-length floor-log2 of the scaled N/df ratio — the
    q_lm_surprisal convention), so Spark and DuckDB agree to the last
    bit with no transcendental in sight; it is rank-faithful to real
    BM25 at whole-bit idf granularity.

    Spark-first shape — ONE corpus scan and NO explode shuffle: term
    frequencies and doc length are per-row higher-order array
    functions (size(filter(split(...)))), so the narrow base relation
    (doc_id, source, dl, tf x |terms|) is computed map-side and
    localCheckpoint'd once to cut the stats/score diamond.  Corpus
    statistics (N, total tokens, per-term df) are ONE 1-row aggregate
    over that base, broadcast back as a scalar crossJoin (1-row BNLJ,
    the established totals shape); scoring is a pure per-row integer
    expression and the top-k is a {_BM25_K}-row heap
    (TakeOrderedAndProject), rank stamped over the collected-size
    result only.  build_bm25_index/bm25_search below persist the
    postings so a served query never rescans the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    top = _bm25_scored(docs).orderBy(
        F.desc("score_fp"), "doc_id"
    ).limit(_BM25_K)
    w = W.orderBy(F.desc("score_fp"), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "source",
        "score_fp",
    )


def _bm25_postings(docs: DataFrame, meta: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, tok, tf, dl[, meta...], bkt) BM25 postings for ANY
    document frame — a pure function of each document's text, shared
    by the offline build and the streaming maintenance merge so both
    write byte-identical rows (the _winnow_base convention).
    ``meta`` names doc-level metadata columns to denormalize onto
    every posting (the filtered-serving story, mirroring
    pq._code_projection's meta) — they ride the groupBy key for free
    (functionally dependent on doc_id) and default to absent, so
    historical stores stay byte-identical."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", *meta, F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    tf = toks.groupBy("doc_id", "tok", *meta).agg(
        F.count("*").cast("long").alias("tf")
    )
    return (
        tf.withColumn(
            "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
        )
        .withColumn(
            "bkt",
            F.pmod(F.xxhash64("tok"), F.lit(_INDEX_BUCKETS)).cast("int"),
        )
        .select("doc_id", "tok", "tf", "dl", *meta, "bkt")
    )


def write_bm25_stats(post: DataFrame, path: str) -> None:
    """Recompute and persist the 1-row stats/ (n_docs, total_toks)
    from a postings relation — shared by build and maintenance so
    the serve-side constants always describe the store exactly."""
    st = post.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_toks"),
    )
    st.write.mode("overwrite").parquet(f"{path}/stats")


def build_bm25_index(
    docs: DataFrame, path: str, meta: tuple[str, ...] = ()
) -> None:
    """Persist the BM25 artifacts under ``path``:

    * ``postings/`` — (tok, doc_id, tf, dl) parquet PARTITIONED BY
      bkt = pmod(xxhash64(tok), {_INDEX_BUCKETS}); dl is denormalized
      onto every posting so serving never joins a doc-stats table.
    * ``stats/`` — ONE row (n_docs, total_toks): the corpus constants
      the score needs, computed in the same build pass.

    One corpus scan + one partitioned write + a 1-row write — the
    amortized offline step of q_bm25's inline shape.  ``meta`` names
    doc-level metadata columns to carry into the postings files for
    filtered serving (bm25_search_many's per-query predicates);
    column pruning hides them from every unfiltered serve."""
    post = _bm25_postings(docs, meta=meta)
    # REBALANCE on the partition key before the partitioned write
    # (r17, guide §6): without it every write task emits one file
    # per bucket it happens to hold — 700+ tiny files at sf0.1
    # (measured ~8 KB each), and every serve-time scan pays per-file
    # open/footer cost.  The AQE rebalance sizes output partitions
    # from the data (splitting hot buckets, coalescing small ones),
    # so sf0.1 writes one file per bucket and a 100 TB build writes
    # advisory-sized files — the same code either way.
    post.hint("rebalance", "bkt").write.mode("overwrite").partitionBy(
        "bkt"
    ).parquet(f"{path}/postings")
    write_bm25_stats(post, path)


def ensure_bm25_index(
    docs: DataFrame, sf_dir: str, meta: tuple[str, ...] = ()
) -> str:
    """Build-or-reuse the persisted BM25 artifacts for ``sf_dir``
    under the content-tagged cache (index_cache.cached — VERDICT r12
    #6): every read-only consumer with the same (input, builder
    module, meta) shares ONE build — q_rrf_served / q_rrf_batch
    reuse the plain index, the three source-meta filtered queries
    reuse the meta one.  Mutating consumers (the tombstone purge
    composition) cache their own discriminated artifact instead."""
    import sys

    from .index_cache import cached

    kind = "bm25" + ("".join(f"_{m}" for m in meta))
    return cached(
        kind,
        sf_dir,
        ("documents",),
        (sys.modules[__name__],),
        lambda p: build_bm25_index(docs, p, meta=meta),
    )


def purge_bm25_index(
    spark: SparkSession, index_path: str, deleted: DataFrame
) -> None:
    """Tombstone purge of the persisted BM25 index — the delete half
    of the index lifecycle (build → maintain → update → DELETE):
    drop every posting of the deleted doc_ids, then RECOMPUTE stats/
    from the surviving postings, so the served idf/avgdl constants
    describe the post-deletion corpus exactly.  ``deleted`` is a
    (doc_id) frame — request-sized, broadcast into ONE store-wide
    anti-join pass; a deleted doc's tokens hash across all {_INDEX_BUCKETS}
    bucket partitions, so the honest cost IS a full postings rewrite
    (the same pass a compaction pays).  Because tf/dl are per-doc
    pure functions of text, the purged store is ROW-IDENTICAL to a
    fresh build over the filtered corpus — pinned in
    tests/test_tombstone.py, and q_tombstone_served's oracle proves
    the SERVED ranking equals the filtered-corpus recompute.
    sinks.commit_store guards readers; a crash between the postings
    commit and the stats refresh leaves a consistent store one
    stats-refresh behind, restored by the next maintenance batch
    (the bm25_index_merge_fn contract).

    The postings schema is INFERRED, not fixed: a store built with
    meta columns (filtered serving) must keep them through a purge —
    a fixed-DDL read here silently stripped the source column from
    meta stores (caught by the meta-lifecycle pytest).  A fileless
    store (empty-corpus build) has nothing to purge and returns
    unchanged."""
    from pyspark.errors import AnalysisException

    store_dir = f"{index_path}/postings"

    def fold(exists: bool) -> DataFrame | None:
        try:
            post = spark.read.parquet(store_dir)
        except AnalysisException:
            return None  # fileless (empty-corpus) store: nothing to purge
        return post.join(
            F.broadcast(deleted.select("doc_id").distinct()),
            "doc_id",
            "left_anti",
        )

    if commit_store(spark, store_dir, fold, partition_by=("bkt",)):
        write_bm25_stats(spark.read.parquet(store_dir), index_path)


def bm25_search(
    spark: SparkSession,
    index_path: str,
    terms: tuple[str, ...] = _BM25_TERMS,
    k: int = _BM25_K,
) -> DataFrame:
    """BM25 top-k over the PERSISTED index — the serving half: read
    the 1-row stats (bounded collect), compute the terms' buckets
    driver-side (pure function of the term), ONE partition-pruned
    scan of postings/ restricted to those buckets (PartitionFilters:
    |terms| of {_INDEX_BUCKETS} directories), per-term df from the
    pruned postings themselves, score as the same integer expression
    inline q_bm25 compiles, and a k-row heap.  Zero corpus scans.
    Returns (rank, doc_id, score_fp) — callers join metadata like
    q_text_search does."""
    stats = _read_index_stats(spark, f"{index_path}/stats")
    if not stats or not terms or int(stats[0]["total_toks"]) <= 0:
        return spark.createDataFrame(
            [], "rank INT, doc_id BIGINT, score_fp BIGINT"
        )
    n_docs, total_toks = int(stats[0]["n_docs"]), int(stats[0]["total_toks"])
    terms = tuple(dict.fromkeys(terms))  # dedupe, keep order
    bkts = _tok_buckets(terms)
    post = (
        spark.read.schema(
            "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT, bkt INT"
        )
        .parquet(f"{index_path}/postings")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("tok").isin(*terms))
    )
    # per-term df as a count window over the pruned postings — ONE
    # scan of the |terms| pruned buckets instead of the r10
    # aggregate-then-join-back shape (which scanned them twice); the
    # partition-by-tok exchange moves only the pruned posting rows.
    # Then pivot each posting row to (tf{i}, df{i}) columns so the
    # shared _bm25_score_sql expression applies unchanged
    from pyspark.sql import Window as _Win

    joined = post.withColumn(
        "df", F.count("*").over(_Win.partitionBy("tok"))
    )
    # cast the scalar literals to BIGINT explicitly: a small Python
    # int becomes an INT literal, and the idf's (n_docs * 2^20)
    # product overflows 32-bit under ANSI mode once the corpus passes
    # ~2k docs (caught by the sf0.1 bench serve split)
    exprs = [F.col("doc_id"), F.lit(n_docs).cast("long").alias("n_docs"),
             F.lit(total_toks).cast("long").alias("total_toks")]
    for i, t in enumerate(terms):
        exprs.append(
            F.when(F.col("tok") == t, F.col("tf"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias(f"tf{i}")
        )
        exprs.append(
            F.when(F.col("tok") == t, F.col("df"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias(f"df{i}")
        )
    exprs.append(F.col("dl"))
    per_term = joined.select(*exprs)
    # one posting row carries exactly one term's (tf, df); summing the
    # per-term contributions per doc reassembles the full OR score.
    # Width follows the CALLER's term count, not the demo query's.
    contrib = F.expr(_bm25_score_sql("div", len(terms))).cast("long")
    scored = (
        per_term.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(F.sum("contrib").cast("long").alias("score_fp"))
    )
    top = scored.orderBy(F.desc("score_fp"), "doc_id").limit(k)
    w = W.orderBy(F.desc("score_fp"), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "score_fp",
    )


# ---------------------------------------------------------------------------
# X65 — per-source gram novelty (corpus diversity attribution, r10)

from ..functions.textfeat import SHINGLES_SQL_CTE, shingles_expr  # noqa: E402


@query(
    "q_gram_novelty",
    oracle=f"""
        WITH {SHINGLES_SQL_CTE},
        shd AS (
            SELECT DISTINCT ex.doc_id, d.source,
                   ('0x' || substr(md5(ex.sh), 1, 15))::BIGINT AS shh
            FROM ex JOIN documents d ON d.doc_id = ex.doc_id),
        firstdoc AS (
            SELECT shh, min(doc_id) AS first_doc
            FROM shd GROUP BY shh),
        owner AS (
            SELECT f.shh, s.source
            FROM firstdoc f
            JOIN shd s ON s.doc_id = f.first_doc AND s.shh = f.shh),
        novel AS (
            SELECT source, count(*) AS n_novel
            FROM owner GROUP BY source),
        per_src AS (
            SELECT source,
                   count(DISTINCT doc_id) AS n_docs,
                   count(*) AS n_gram_rows,
                   count(DISTINCT shh) AS n_distinct
            FROM shd GROUP BY source)
        SELECT p.source,
               CAST(p.n_docs AS BIGINT) AS n_docs,
               CAST(p.n_gram_rows AS BIGINT) AS n_gram_rows,
               CAST(p.n_distinct AS BIGINT) AS n_distinct,
               CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
               CAST((coalesce(n.n_novel, 0) * 10000) // p.n_distinct
                    AS BIGINT) AS novelty_bp
        FROM per_src p LEFT JOIN novel n USING (source)
        ORDER BY p.source
    """,
    tags=("text", "diversity", "novelty", "extension"),
)
def q_gram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source gram novelty (X65) — the "what does each source
    actually ADD?" curation measurement: every distinct corpus
    3-gram shingle is attributed to the source of its FIRST document
    (min doc_id — deterministic, ingestion-order-free), then each
    source reports its document count, its per-doc gram rows, its
    distinct grams, how many corpus grams it introduced, and the
    novelty ratio (introduced / its distinct grams, x10⁴).  A source
    whose novelty collapses toward 0 duplicates what the corpus
    already has — the redundancy signal a mixture planner feeds on;
    compare q_dup_rate_by_source (exact doc copies) and q_dedup_
    savings (cluster token mass), which see only whole-document
    redundancy.

    Hash discipline: grams ride every shuffle as md5-prefix BIGINTs
    (the q_repetition lesson) on BOTH engines, so counts agree by
    construction.  Scale shape: the hashed (doc_id, source, shh)
    base is checkpoint-cut once, feeding the min-doc attribution
    (gram-keyed shuffle), the owner join (doc-keyed), and the
    per-source roll-up (source-keyed, tiny output); nothing is ever
    all-pairs and the gram strings never travel."""
    docs = load_table(spark, sf_dir, "documents")
    shd = (
        docs.select(
            "doc_id", "source", F.explode(shingles_expr()).alias("sh")
        )
        .select(
            "doc_id",
            "source",
            F.expr(
                "CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT)"
            ).alias("shh"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    # the owning source rides the SAME aggregate as the min-doc
    # (struct min: doc_id is unique within a gram group, so the
    # struct ordering never reaches the source field) — one
    # gram-keyed exchange instead of the former groupBy + join-back
    # pair, identical attribution (r16, guide §2.4)
    owner = shd.groupBy("shh").agg(
        F.min(F.struct("doc_id", "source"))["source"].alias("source")
    )
    novel = owner.groupBy("source").agg(F.count("*").alias("n_novel"))
    per_src = shd.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_gram_rows"),
        F.countDistinct("shh").cast("bigint").alias("n_distinct"),
    )
    return (
        per_src.join(novel, "source", "left")
        .selectExpr(
            "source",
            "n_docs",
            "n_gram_rows",
            "n_distinct",
            "CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel",
            "CAST((coalesce(n_novel, 0) * 10000) div n_distinct AS BIGINT)"
            " AS novelty_bp",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# X66 — PMI collocation / phrase detection (r10)

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


@query(
    "q_pmi_phrases",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), t -> t <> '') AS t
            FROM documents),
        uni AS (
            SELECT u.tok, count(*) AS c
            FROM toks, unnest(t) AS u(tok)
            GROUP BY u.tok),
        tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM uni),
        bg AS (
            SELECT b.pair, count(*) AS c_xy
            FROM toks,
                 unnest(list_transform(range(1, len(t)),
                        i -> t[i] || ' ' || t[i + 1])) AS b(pair)
            GROUP BY b.pair),
        btot AS (SELECT CAST(sum(c_xy) AS BIGINT) AS b FROM bg),
        scored AS (
            SELECT string_split(bg.pair, ' ')[1] AS w1,
                   string_split(bg.pair, ' ')[2] AS w2,
                   CAST(bg.c_xy AS BIGINT) AS c_xy,
                   CAST(u1.c AS BIGINT) AS c_x,
                   CAST(u2.c AS BIGINT) AS c_y,
                   CAST((length(bin(bg.c_xy)) - 1)
                      + (length(bin(tot.t // u1.c)) - 1)
                      + (length(bin(tot.t // u2.c)) - 1)
                      - (length(bin(btot.b)) - 1) AS BIGINT) AS pmi_q
            FROM bg
            JOIN uni u1 ON u1.tok = string_split(bg.pair, ' ')[1]
            JOIN uni u2 ON u2.tok = string_split(bg.pair, ' ')[2]
            CROSS JOIN tot CROSS JOIN btot
            WHERE bg.c_xy >= {_PMI_MIN_COUNT})
        SELECT * FROM scored
        ORDER BY pmi_q DESC, c_xy DESC, w1, w2
        LIMIT {_PMI_TOP}
    """,
    tags=("text", "collocation", "pmi", "extension"),
)
def q_pmi_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation / phrase detection (X66) — the corpus-analysis
    step behind phrase vocabularies (word2vec-style "new_york"
    merging): rank adjacent-token bigrams by pointwise mutual
    information against their unigram marginals, df-cut at
    {_PMI_MIN_COUNT} occurrences, top-{_PMI_TOP}.

    The score is whole-bit PMI in a FLOOR-DECOMPOSED form — each term
    is its own integer bit-length (floor log2):

        pmi_q = ⌊log2 c_xy⌋ + ⌊log2 (T div c_x)⌋
              + ⌊log2 (T div c_y)⌋ − ⌊log2 B⌋

    The decomposition is the scale choice: the textbook single-ratio
    form multiplies c_xy·T² before dividing (BIGINT overflow once the
    corpus passes ~3×10⁹ tokens), while every intermediate here is
    bounded by T itself — exact at ANY corpus size, within ±3 bits of
    true PMI, and DEFINED as this expression so both engines agree to
    the last bit (the q_lm_surprisal convention).

    Scale shape: unigram and bigram counts are map-side-combinable
    explodes of the same tokenized scan, each checkpoint-cut once
    (vocabulary-sized relations) and re-used by their totals and the
    score joins; the marginal joins key on the token (Zipf-skewed —
    the AQE-skew case); the result is a {_PMI_TOP}-row heap."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr("filter(split(text, ' '), t -> t != '')").alias("t"),
    )
    uni = (
        toks.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=False)
    )
    tot = uni.agg(F.sum("c").cast("long").alias("t"))
    bg = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1), "
                    "i -> concat_ws(' ', element_at(t, i), "
                    "element_at(t, i + 1)))"
                )
            ).alias("pair")
        )
        .groupBy("pair")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= _PMI_MIN_COUNT)
        .localCheckpoint(eager=False)
    )
    # btot must count ALL bigrams, not just the df-cut survivors —
    # recompute it from the same checkpointed toks-free pipeline? No:
    # B is the total bigram mass; derive it from the unigram relation
    # instead: every doc with n tokens has n-1 bigrams, so
    # B = T - n_docs_with_tokens.  Both quantities already live in
    # bounded relations — no extra corpus scan.
    ndocs = toks.filter(F.size("t") >= 1).agg(
        F.count("*").cast("long").alias("nd")
    )
    sp = bg.select(
        F.expr("split(pair, ' ')[0]").alias("w1"),
        F.expr("split(pair, ' ')[1]").alias("w2"),
        F.col("c_xy").cast("long").alias("c_xy"),
    )
    scored = (
        sp.join(uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_x")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_y")), "w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ndocs))
        .selectExpr(
            "w1",
            "w2",
            "c_xy",
            "CAST(c_x AS BIGINT) AS c_x",
            "CAST(c_y AS BIGINT) AS c_y",
            "CAST((length(bin(c_xy)) - 1)"
            " + (length(bin(t div c_x)) - 1)"
            " + (length(bin(t div c_y)) - 1)"
            " - (length(bin(t - nd)) - 1) AS BIGINT) AS pmi_q",
        )
    )
    return scored.orderBy(
        F.desc("pmi_q"), F.desc("c_xy"), "w1", "w2"
    ).limit(_PMI_TOP)


# ---------------------------------------------------------------------------
# X69 — pairwise source overlap matrix (r10)


@query(
    "q_source_overlap",
    oracle=f"""
        WITH {SHINGLES_SQL_CTE},
        shd AS (
            SELECT DISTINCT d.source,
                   ('0x' || substr(md5(ex.sh), 1, 15))::BIGINT AS shh
            FROM ex JOIN documents d ON d.doc_id = ex.doc_id),
        sizes AS (
            SELECT source, count(*) AS n FROM shd GROUP BY source),
        inter AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   count(*) AS n_inter
            FROM shd a JOIN shd b
              ON a.shh = b.shh AND a.source < b.source
            GROUP BY 1, 2)
        SELECT i.src_a, i.src_b,
               CAST(sa.n AS BIGINT) AS n_a,
               CAST(sb.n AS BIGINT) AS n_b,
               CAST(i.n_inter AS BIGINT) AS n_inter,
               CAST((i.n_inter * 10000) // (sa.n + sb.n - i.n_inter)
                    AS BIGINT) AS jaccard_bp
        FROM inter i
        JOIN sizes sa ON sa.source = i.src_a
        JOIN sizes sb ON sb.source = i.src_b
    """,
    tags=("text", "diversity", "overlap", "extension"),
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-overlap matrix (X69): gram-level Jaccard
    between every pair of sources — "which feeds duplicate each
    other" — the ORDER-FREE complement of q_gram_novelty (novelty
    attributes each gram to its first source; this reports mutual
    overlap symmetrically, so two mirrors of the same crawl light up
    regardless of ingestion order).  Output: every source pair with
    any shared gram, intersection size, and Jaccard in basis points.

    Scale shape: the distinct (source, gram-hash) relation is
    checkpoint-cut once; intersections come from ONE gram-keyed
    aggregate that collect_set's the sources sharing each gram (a
    set bounded by the SOURCE COUNT, not the corpus) and explodes
    its ordered pairs row-locally — never a shd⋈shd self-join, whose
    skew on boilerplate grams is the classic blow-up (the oracle
    uses the self-join form, which is fine at fixture scale and
    hash-identical).  The final size join touches #sources rows."""
    docs = load_table(spark, sf_dir, "documents")
    return source_overlap_from(source_grams(docs).localCheckpoint(eager=False))


def source_grams(docs: DataFrame) -> DataFrame:
    """DISTINCT (source, shh) word-3-gram hashes of ``docs``: the base
    q_source_overlap scores, and the per-batch delta the streaming
    source-gram store (streaming/jobs.source_gram_merge_fn)
    set-unions."""
    return (
        docs.select("source", F.explode(shingles_expr()).alias("sh"))
        .select(
            "source",
            F.expr(
                "CAST(conv(substring(md5(sh), 1, 15), 16, 10) AS BIGINT)"
            ).alias("shh"),
        )
        .distinct()
    )


def source_overlap_from(shd: DataFrame) -> DataFrame:
    """The q_source_overlap matrix over ANY distinct (source, shh)
    gram-hash relation: one gram-keyed collect_set of the sources
    sharing each gram, its ordered pairs exploded row-locally, and a
    #sources-sized size join.  Shared by the inline query (grams
    hashed from the corpus) and the streaming gram store's serve path
    (streaming/jobs.source_overlap_serve), so both answer from one
    definition."""
    sizes = shd.groupBy("source").agg(F.count("*").alias("n"))
    pairs = (
        shd.groupBy("shh")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) -> "
                    "transform(slice(srcs, i + 2, size(srcs) - i - 1), "
                    "y -> struct(x AS src_a, y AS src_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.src_a", "p.src_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        pairs.join(
            sizes.select(F.col("source").alias("src_a"), F.col("n").alias("n_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("n").alias("n_b")),
            "src_b",
        )
        .selectExpr(
            "src_a",
            "src_b",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(n_b AS BIGINT) AS n_b",
            "CAST(n_inter AS BIGINT) AS n_inter",
            "CAST((n_inter * 10000) div (n_a + n_b - n_inter) AS BIGINT)"
            " AS jaccard_bp",
        )
    )


# ---------------------------------------------------------------------------
# X72 — language-ID confusion matrix (r10)


@query(
    "q_langid_confusion",
    oracle=f"""
        WITH {_LANGID_SQL},
        joined AS (
            SELECT d.lang AS true_lang, b.predicted_lang
            FROM documents d JOIN best b ON b.doc_id = d.doc_id),
        tot AS (
            SELECT true_lang, count(*) AS n_true
            FROM joined GROUP BY true_lang)
        SELECT j.true_lang, j.predicted_lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST((count(*) * 10000) // any_value(t.n_true) AS BIGINT)
                 AS share_of_true_bp,
               (j.true_lang = j.predicted_lang) AS is_correct
        FROM joined j JOIN tot t USING (true_lang)
        GROUP BY j.true_lang, j.predicted_lang
        ORDER BY j.true_lang, j.predicted_lang
    """,
    tags=("text", "extension", "langid", "evaluation"),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix (X72) — the classifier AUDIT next
    to the classifier: per (true, predicted) language pair, document
    count and its share of the true language's docs (x10⁴), plus the
    diagonal flag — the standard eval artifact that tells a pipeline
    owner WHICH languages the profile classifier confuses before
    they trust its routing (per-true-language recall is the diagonal
    share; off-diagonal cells are the misroutes).  Shares the exact
    prediction CTE chain with q_langid (one definition, the shared-
    constant discipline), so the audit scores the classifier the
    registry actually ships.

    Scale shape: everything heavy IS q_langid (broadcast profile
    join + two hash aggs); the confusion roll-up adds one
    language-pair-keyed aggregate (#langs² rows at most) and a
    #langs-row totals join."""
    docs = load_table(spark, sf_dir, "documents")
    pred = q_langid(spark, sf_dir).select("true_lang", "predicted_lang")
    joined = pred.localCheckpoint(eager=False)
    tot = joined.groupBy("true_lang").agg(F.count("*").alias("n_true"))
    return (
        joined.groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .join(F.broadcast(tot), "true_lang")
        .selectExpr(
            "true_lang",
            "predicted_lang",
            "n_docs",
            "CAST((n_docs * 10000) div n_true AS BIGINT)"
            " AS share_of_true_bp",
            "(true_lang = predicted_lang) AS is_correct",
        )
        .orderBy("true_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# X73 — reciprocal-rank-fusion hybrid retrieval (r10)

_RRF_K = 60  # the standard RRF damping constant
_RRF_LIST = 20  # candidates taken from each ranker
_RRF_TOP = 10
_RRF_QVEC = 0  # probe vector (q_vec_topk's _QUERY_ID_TOPK)


@query(
    "q_rrf_fusion",
    oracle=f"""
        WITH {{bm_ctes}},
        bm AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score_fp DESC, doc_id)
                     AS bm25_rank
            FROM scored
            ORDER BY score_fp DESC, doc_id LIMIT {_RRF_LIST}),
        qv AS (SELECT embedding FROM embeddings
               WHERE vec_id = {_RRF_QVEC}),
        vec AS (
            SELECT vec_id AS doc_id,
                   row_number() OVER (
                       ORDER BY list_cosine_similarity(
                           e.embedding::DOUBLE[], qv.embedding::DOUBLE[]
                       ) DESC, e.vec_id) AS vec_rank
            FROM embeddings e CROSS JOIN qv
            WHERE e.vec_id <> {_RRF_QVEC} AND e.embedding IS NOT NULL
            ORDER BY list_cosine_similarity(
                e.embedding::DOUBLE[], qv.embedding::DOUBLE[]
            ) DESC, e.vec_id
            LIMIT {_RRF_LIST}),
        fused AS (
            SELECT coalesce(bm.doc_id, vec.doc_id) AS doc_id,
                   bm.bm25_rank, vec.vec_rank,
                   CAST(coalesce(10000 // ({_RRF_K} + bm.bm25_rank), 0)
                      + coalesce(10000 // ({_RRF_K} + vec.vec_rank), 0)
                      AS BIGINT) AS rrf_fp
            FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id)
        SELECT CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id)
                    AS INTEGER) AS rank,
               doc_id,
               CAST(bm25_rank AS BIGINT) AS bm25_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank,
               rrf_fp
        FROM fused
        ORDER BY rrf_fp DESC, doc_id
        LIMIT {_RRF_TOP}
    """.replace("{bm_ctes}", _BM25_ORACLE_CTES),
    tags=("text", "similarity", "search", "hybrid", "rrf", "extension"),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion (X73) — THE
    standard lexical+semantic combiner: take the top-{_RRF_LIST}
    from the BM25 ranker (the exact scored relation q_bm25 ships,
    shared definition) and the top-{_RRF_LIST} from the vector
    ranker (exact cosine to the fixed probe; doc_id aligns with
    vec_id per the fixture contract q_multimodal established), fuse
    with RRF(k={_RRF_K}) = Σ 1/(k + rank) in x10⁴ integer fixed
    point, and return the top-{_RRF_TOP} with both source ranks —
    docs found by only one ranker still fuse (the outer join), which
    is exactly why RRF beats score mixing: ranks need no
    cross-ranker calibration, and integer reciprocal ranks are
    hash-exact where blended float scores would not be.

    Scale shape: each ranker is its own audited plan (BM25:
    single-scan array-function base + heap; vector: one scan + heap
    with the probe as a plan literal); fusion touches 2x{_RRF_LIST}
    rows — a full outer join on doc_id over bounded lists, then a
    {_RRF_TOP}-row heap."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    w_bm = W.orderBy(F.desc("score_fp"), "doc_id")
    bm = (
        _bm25_scored(docs)
        .orderBy(F.desc("score_fp"), "doc_id")
        .limit(_RRF_LIST)
        .select(
            "doc_id",
            F.row_number().over(w_bm).cast("long").alias("bm25_rank"),
        )
    )
    qrows = (
        emb.filter(F.col("vec_id") == _RRF_QVEC)
        .select("embedding")
        .collect()
    )
    if not qrows:
        return _rrf_empty(spark)
    qlit = "array(" + ", ".join(
        f"{float(x)!r}D" for x in qrows[0]["embedding"]
    ) + ")"
    from ..functions.vectors import cosine_expr

    nn = emb.filter(
        (F.col("vec_id") != _RRF_QVEC) & F.col("embedding").isNotNull()
    )
    w_vec = W.orderBy(F.desc("cos"), "doc_id")
    vec = (
        nn.select(
            F.col("vec_id").alias("doc_id"),
            cosine_expr("embedding", qlit).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(_RRF_LIST)
        .select(
            "doc_id",
            F.row_number().over(w_vec).cast("long").alias("vec_rank"),
        )
    )
    return _rrf_fuse(bm, vec, _RRF_TOP)


def _rrf_empty(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [],
        "rank INT, doc_id BIGINT, bm25_rank BIGINT, "
        "vec_rank BIGINT, rrf_fp BIGINT",
    )


# ---------------------------------------------------------------------------
# X76 — served hybrid retrieval: persisted BM25 + IVF index, zero
# corpus scans (r11, closing the retrieval lifecycle VERDICT r10 §2)

from .similarity import _IVF_ASSIGN_SQL, _ivf_qcells_sql  # noqa: E402

_RRF_NPROBE = 4  # cells probed by the served vector leg


def _rrf_fuse(bm: DataFrame, vec: DataFrame, k: int) -> DataFrame:
    """RRF(k={_RRF_K}) fusion of two bounded (doc_id, *_rank) lists in
    exact integer fixed point, the top ``k`` with both source ranks —
    the one fusion q_rrf_fusion and the served rrf_search paths run.
    Full outer join over 2×list rows, then a k-row heap."""
    fused = bm.join(vec, "doc_id", "full_outer").selectExpr(
        "doc_id",
        "bm25_rank",
        "vec_rank",
        f"CAST(coalesce(10000 div ({_RRF_K} + bm25_rank), 0) "
        f"+ coalesce(10000 div ({_RRF_K} + vec_rank), 0) AS BIGINT)"
        " AS rrf_fp",
    )
    w_out = W.orderBy(F.desc("rrf_fp"), "doc_id")
    return (
        fused.orderBy(F.desc("rrf_fp"), "doc_id")
        .limit(k)
        .select(
            F.row_number().over(w_out).cast("int").alias("rank"),
            "doc_id",
            F.col("bm25_rank").cast("long").alias("bm25_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            "rrf_fp",
        )
    )


def rrf_search(
    spark: SparkSession,
    bm25_path: str,
    ivfpq_path: str,
    terms: tuple[str, ...] = _BM25_TERMS,
    query_id: int = _RRF_QVEC,
    nprobe: int = _RRF_NPROBE,
    shortlist: int | None = None,
    list_n: int = _RRF_LIST,
    k: int = _RRF_TOP,
) -> DataFrame:
    """Hybrid retrieval over PERSISTED indexes — the serving half of
    q_rrf_fusion, with ZERO corpus scans:

    * lexical leg: bm25_search over the posting index (1-row stats
      collect + ONE partition-pruned postings scan, PartitionFilters
      on the token-hash bucket), top-``list_n`` → bm25_rank;
    * vector leg: seeds parquet → plan literals + probe-cell ranking
      (pq._load_ivfpq_seeds, the one bounded read IVF serving already
      does), then ONE partition-pruned scan of codes/ restricted to
      the ``nprobe`` probed cells reading ONLY (vec_id, embedding) —
      the raw vectors ride in the codes files where parquet column
      pruning hides them from the ADC path — and an EXACT double
      cosine rerank of the probed candidates (the q_rrf_fusion
      arithmetic verbatim), top-``list_n`` → vec_rank;
    * fusion: the shared integer RRF formula, top-``k``.

    ``shortlist=L`` inserts the PQ-ADC compressed top-L between the
    probe and the exact rerank (the q_ann_rerank stage) so the
    full-precision math touches O(L), not O(cell) rows — the knob for
    cells too large to rerank exactly.  It is OFF by default because
    it trades recall for arithmetic: on the fixture the exact top-20's
    worst ADC rank inside the probed cells is 333 (sf0.1), so L=50
    would demote true neighbors, while the probed cells themselves do
    contain the entire exact top-20 at nprobe={_RRF_NPROBE} (measured
    across sf0.001/0.01/0.1).  Exact-within-probed-cells is the
    IVF-Flat posture: at 100 TB the rerank still reads only
    nprobe/C of the vector bytes, partition-pruned."""
    from ..functions.vectors import cosine_expr
    from .pq import (
        _K as _PQ_K,
        _M as _PQ_M,
        _SUBDIM as _PQ_SUBDIM,
        _adc_lut,
        _load_ivfpq_seeds,
        _quantize,
    )
    from .similarity import _rank_cells_py

    bm = bm25_search(spark, bm25_path, terms, k=list_n).select(
        "doc_id", F.col("rank").cast("long").alias("bm25_rank")
    )
    raw, c = _load_ivfpq_seeds(spark, ivfpq_path, query_id)
    if raw is None:
        vec = spark.createDataFrame([], "doc_id BIGINT, vec_rank BIGINT")
        return _rrf_fuse(bm, vec, k)
    qv = raw[query_id]
    probes = _rank_cells_py([raw[i] for i in range(c)], qv)[:nprobe]
    cand = (
        spark.read.parquet(f"{ivfpq_path}/codes")
        .filter(F.col("cid").isin([int(p) for p in probes]))
        .filter(F.col("vec_id") != query_id)
    )
    if shortlist is not None:
        cb = [
            [
                _quantize(raw[i])[s * _PQ_SUBDIM : (s + 1) * _PQ_SUBDIM]
                for i in range(_PQ_K)
            ]
            for s in range(_PQ_M)
        ]
        lut = _adc_lut(cb, _quantize(qv))
        lut_lit = F.array(
            *[F.array(*[F.lit(int(d)) for d in row]) for row in lut]
        ).cast("array<array<bigint>>")
        adc = " + ".join(
            f"element_at(element_at(__lut, {s + 1}), code{s} + 1)"
            for s in range(_PQ_M)
        )
        cand = (
            cand.withColumn("__lut", lut_lit)
            .select(
                "vec_id",
                "embedding",
                F.expr(f"CAST({adc} AS BIGINT)").alias("adc_d2"),
            )
            .orderBy("adc_d2", "vec_id")
            .limit(shortlist)
        )
    qlit = "array(" + ", ".join(f"{float(x)!r}D" for x in qv) + ")"
    w_vec = W.orderBy(F.desc("cos"), "doc_id")
    vec = (
        cand.select(
            F.col("vec_id").alias("doc_id"),
            cosine_expr("embedding", qlit).alias("cos"),
        )
        .orderBy(F.desc("cos"), "doc_id")
        .limit(list_n)
        .select(
            "doc_id",
            F.row_number().over(w_vec).cast("long").alias("vec_rank"),
        )
    )
    return _rrf_fuse(bm, vec, k)


@query(
    "q_rrf_served",
    oracle=f"""
        WITH {{bm_ctes}},
        bm AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY score_fp DESC, doc_id)
                     AS bm25_rank
            FROM scored
            ORDER BY score_fp DESC, doc_id LIMIT {_RRF_LIST}),
        {{ivf_assign}},
        {{qcells}},
        qv AS (SELECT embedding FROM embeddings
               WHERE vec_id = {_RRF_QVEC}),
        vecr AS (
            SELECT e.vec_id,
                   list_cosine_similarity(
                       e.embedding::DOUBLE[], qv.embedding::DOUBLE[]
                   ) AS cos
            FROM embeddings e
            JOIN a1 ON e.vec_id = a1.vec_id
            JOIN qc ON a1.cid = qc.qcid
            CROSS JOIN qv
            WHERE e.vec_id <> {_RRF_QVEC} AND e.embedding IS NOT NULL),
        vec AS (
            SELECT vec_id AS doc_id,
                   row_number() OVER (ORDER BY cos DESC, vec_id)
                     AS vec_rank
            FROM vecr
            ORDER BY cos DESC, vec_id LIMIT {_RRF_LIST}),
        fused AS (
            SELECT coalesce(bm.doc_id, vec.doc_id) AS doc_id,
                   bm.bm25_rank, vec.vec_rank,
                   CAST(coalesce(10000 // ({_RRF_K} + bm.bm25_rank), 0)
                      + coalesce(10000 // ({_RRF_K} + vec.vec_rank), 0)
                      AS BIGINT) AS rrf_fp
            FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id)
        SELECT CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id)
                    AS INTEGER) AS rank,
               doc_id,
               CAST(bm25_rank AS BIGINT) AS bm25_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank,
               rrf_fp
        FROM fused
        ORDER BY rrf_fp DESC, doc_id
        LIMIT {_RRF_TOP}
    """.replace("{bm_ctes}", _BM25_ORACLE_CTES)
    .replace("{ivf_assign}", _IVF_ASSIGN_SQL)
    .replace("{qcells}", _ivf_qcells_sql(_RRF_QVEC, _RRF_NPROBE)),
    tags=("text", "similarity", "search", "hybrid", "rrf", "serve",
          "extension"),
)
def q_rrf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval SERVED from persisted indexes (X76) — the
    deployment twin of q_rrf_fusion: build the BM25 posting index and
    the IVF-PQ index under deterministic temp dirs (one corpus scan
    each — at deployment the amortized offline step plus streaming
    maintenance), then answer the fused top-{_RRF_TOP} entirely from
    the artifacts via rrf_search: postings partition-pruned to the
    query terms' hash buckets, raw vectors partition-pruned to the
    {_RRF_NPROBE} probed IVF cells, exact cosine rerank of only those
    candidates, integer RRF fusion.  ZERO scans of documents or
    embeddings at serve time (plan pinned in
    tests/test_plan_shapes.py).

    The oracle recomputes the identical stack relationally from the
    corpus tables — BM25 CTE chain shared verbatim with
    q_bm25/q_rrf_fusion, IVF assignment + probe-cell CTEs shared with
    the q_ann_ivf family — so a green row proves the persisted
    artifacts serve byte-faithfully.  On the fixture the probed cells
    contain the entire exact top-{_RRF_LIST}, so the served result
    also EQUALS q_rrf_fusion's exhaustive ranking (pinned in
    tests/test_operators.py)."""
    from .pq import ensure_ivfpq_index

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return rrf_search(
        spark,
        ensure_bm25_index(docs, sf_dir),
        ensure_ivfpq_index(emb, sf_dir),
    )


# ---------------------------------------------------------------------------
# X79 — late-interaction retrieval (ColBERT-style MaxSim, r11)
#
# Per-token query/document vectors with per-query-token max
# similarity summed: score(Q, D) = sum over q in Q of max over t in D
# of sim(q, t) — the late-interaction shape between bi-encoder
# (q_vec_topk: one vector per doc) and cross-encoder.  Token vectors
# are deterministic 16-dim integer embeddings derived from md5(tok)
# bytes (each lane = hex pair - 128; the container ships no trained
# encoder, and the md5 lanes are the established cross-engine
# determinism currency), and sim is the exact integer dot product —
# so the whole score has an exact DuckDB twin.

_MAXSIM_DIM = 16
_MAXSIM_K = 10


def _maxsim_qvec(term: str) -> list[int]:
    """Deterministic 16-lane integer vector for a token — Python twin
    of the in-plan md5-byte expression (worker and driver agree
    because md5 is md5)."""
    import hashlib

    h = hashlib.md5(term.encode()).hexdigest()
    return [int(h[2 * i : 2 * i + 2], 16) - 128 for i in range(_MAXSIM_DIM)]


def _maxsim_dot_sql(qv: list[int], byte_expr) -> str:
    """Integer dot product of a literal query vector against the
    md5-lane vector of a token column; ``byte_expr(i)`` renders lane
    i of the token (engine-specific hex extraction)."""
    return " + ".join(
        f"({qv[i]}) * ({byte_expr(i)})" for i in range(_MAXSIM_DIM)
    )


def _maxsim_oracle(terms: tuple[str, ...]) -> str:
    def byte(i: int) -> str:
        return f"(('0x' || substr(md5(t.tok), {2 * i + 1}, 2))::BIGINT - 128)"

    dots = ",\n                   ".join(
        f"CAST({_maxsim_dot_sql(_maxsim_qvec(t), byte)} AS BIGINT) AS d{j}"
        for j, t in enumerate(terms)
    )
    maxes = " + ".join(f"max(d{j})" for j in range(len(terms)))
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)
            WHERE tok <> ''),
        cand AS (
            SELECT DISTINCT doc_id FROM toks
            WHERE tok IN ({in_list})),
        tv AS (
            SELECT t.doc_id,
                   {dots}
            FROM toks t JOIN cand USING (doc_id)),
        sc AS (
            SELECT doc_id, CAST({maxes} AS BIGINT) AS maxsim
            FROM tv GROUP BY doc_id)
        SELECT CAST(row_number() OVER (ORDER BY maxsim DESC, doc_id)
                    AS INTEGER) AS rank,
               doc_id, maxsim
        FROM sc
        ORDER BY maxsim DESC, doc_id
        LIMIT {_MAXSIM_K}
    """


def _maxsim_scored(
    toks: DataFrame,
    terms: tuple[str, ...],
    k: int,
    cand: DataFrame | None = None,
) -> DataFrame:
    """(rank, doc_id, maxsim) over a DISTINCT (doc_id, tok) relation:
    candidates = docs containing any query term (semi-join — the
    late-interaction pass is CANDIDATE-BOUNDED, never corpus x
    terms), then per query term the max integer dot over each
    candidate's token vectors, summed.  Shared by the inline query
    (tokens from the corpus scan, candidates derived in place) and
    maxsim_search (tokens AND candidates from the partition-pruned
    posting index — passed explicitly so the served plan stays two
    index scans)."""

    def byte(i: int) -> str:
        return (
            f"(CAST(conv(substring(md5(tok), {2 * i + 1}, 2), 16, 10) "
            f"AS BIGINT) - 128)"
        )

    if cand is None:
        cand = (
            toks.filter(F.col("tok").isin(*terms))
            .select("doc_id")
            .distinct()
        )
    tv = toks.join(cand, "doc_id").select(
        "doc_id",
        *[
            F.expr(_maxsim_dot_sql(_maxsim_qvec(t), byte))
            .cast("long")
            .alias(f"d{j}")
            for j, t in enumerate(terms)
        ],
    )
    sc = tv.groupBy("doc_id").agg(
        F.expr(
            " + ".join(f"max(d{j})" for j in range(len(terms)))
        )
        .cast("long")
        .alias("maxsim")
    )
    top = sc.orderBy(F.desc("maxsim"), "doc_id").limit(k)
    w = W.orderBy(F.desc("maxsim"), "doc_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rank"),
        "doc_id",
        "maxsim",
    )


@query(
    "q_maxsim",
    oracle=_maxsim_oracle(_BM25_TERMS),
    tags=("text", "similarity", "search", "late-interaction", "maxsim",
          "extension"),
)
def q_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (X79) — ColBERT-style MaxSim over
    the fixed demo terms: score(Q, D) = Σ_q max_t dot(v(q), v(t))
    with deterministic 16-lane md5-byte token vectors and exact
    integer dots, top-{_MAXSIM_K}.  The shape that matters is the
    CANDIDATE BOUND: the expensive per-token interaction runs only
    over docs sharing at least one query term (semi-join), never
    corpus × query — at 100 TB the candidate list comes from the
    posting index (maxsim_search below, partition-pruned to the
    terms' buckets) and this inline form is its hash-checked
    semantic twin.

    Scale shape: one corpus scan to the distinct (doc, tok)
    relation; the term filter + semi-join bound the interaction set;
    per-row integer expressions (16 lanes × |terms|), one 64-ish-key
    max aggregate per doc, a {_MAXSIM_K}-row heap."""
    docs = load_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
        .localCheckpoint(eager=False)
    )
    return _maxsim_scored(toks, _BM25_TERMS, _MAXSIM_K)


def maxsim_search(
    spark: SparkSession,
    index_path: str,
    terms: tuple[str, ...] = _BM25_TERMS,
    k: int = _MAXSIM_K,
) -> DataFrame:
    """MaxSim over the PERSISTED BM25 posting index — zero corpus
    scans: candidate doc_ids from ONE partition-pruned postings scan
    (PartitionFilters on the terms' hash buckets — the plan-pinned
    candidate source), then the candidates' full token rows from a
    postings read semi-joined on the broadcast candidate list (the
    posting table IS the distinct (doc, tok) relation MaxSim needs),
    and the shared _maxsim_scored interaction.  At 100 TB the second
    read is an index-only broadcast-semi-join scan — full-precision
    interaction touches O(candidate tokens), never the corpus."""
    terms = tuple(dict.fromkeys(terms))
    if not terms:
        return spark.createDataFrame(
            [], "rank INT, doc_id BIGINT, maxsim BIGINT"
        )
    bkts = _tok_buckets(terms)
    post_ddl = "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT, bkt INT"
    cand = (
        spark.read.schema(post_ddl)
        .parquet(f"{index_path}/postings")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("tok").isin(*terms))
        .select("doc_id")
        .distinct()
    )
    toks = (
        spark.read.schema(post_ddl)
        .parquet(f"{index_path}/postings")
        .join(F.broadcast(cand), "doc_id", "left_semi")
        .select("doc_id", "tok")
    )
    return _maxsim_scored(toks, terms, k, cand=cand)


# ---------------------------------------------------------------------------
# X84 — batched multi-query BM25 (one pass per query SET, r11)

_BM25_BATCH_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("merge", "filter")),
    (1, ("batch",)),
    (2, ("merge", "filter", "batch")),
)
_BM25_BATCH_K = 5

_BM25_BATCH_QT_SQL = ", ".join(
    f"({qid}, '{t}')" for qid, ts in _BM25_BATCH_QUERIES for t in ts
)


@query(
    "q_bm25_batch",
    oracle=f"""
        WITH post AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY doc_id, tok),
        dlt AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
            FROM post GROUP BY doc_id),
        st AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(dl), 0) AS BIGINT) AS total_toks
            FROM dlt),
        qt(qid, tok) AS (VALUES {_BM25_BATCH_QT_SQL}),
        dfq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df
            FROM post GROUP BY tok),
        sc AS (
            SELECT q.qid, p.doc_id,
                   CAST(sum({_bm25_contrib_cols('p.tf', 'd.df', '//', 'l.dl')})
                        AS BIGINT) AS score_fp
            FROM qt q
            JOIN post p USING (tok)
            JOIN dfq d USING (tok)
            JOIN dlt l ON l.doc_id = p.doc_id
            CROSS JOIN st
            GROUP BY 1, 2),
        r AS (
            SELECT qid, doc_id, score_fp,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY score_fp DESC, doc_id)
                     AS rank
            FROM sc)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               doc_id, score_fp
        FROM r WHERE rank <= {_BM25_BATCH_K}
        ORDER BY qid, rank
    """,
    tags=("text", "extension", "search", "bm25", "ranking", "batch"),
)
def q_bm25_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-query BM25 (X84) — the scan-amortization shape a
    real search tier runs: a whole query SET (here the fixed 3-query
    demo table) answered in ONE pass over the corpus instead of one
    job per query.  The long form replaces q_bm25's per-query pivoted
    columns: one row per (query, doc, matched term), the SAME integer
    contribution arithmetic (_bm25_contrib_cols — literally the
    expression q_bm25 compiles), a (qid, doc) sum, and a per-query
    top-{_BM25_BATCH_K} via rank-filter (WindowGroupLimit pushes the
    per-query heap map-side).

    Scale shape: the postings relation is built once (one corpus
    scan), df is a term-keyed aggregate of it, the query table
    broadcasts onto the postings (|queries|x|terms| rows — tiny), and
    nothing downstream exceeds candidate volume.  At 100 TB batching
    N queries costs ONE corpus pass + N heaps instead of N passes —
    the amortization bm25_search_many applies to the PERSISTED index
    (zero corpus scans, bucket pruning over the union of the batch's
    terms)."""
    docs = load_table(spark, sf_dir, "documents")
    # the postings relation feeds three consumers (stats aggregate,
    # token slice, df aggregate) — checkpoint-cut once so the corpus
    # scan + explode compile once, not per branch (the q_containment
    # diamond discipline; uncut this was a 3-scan plan)
    post = (
        _bm25_postings(docs)
        .select("doc_id", "tok", "tf", "dl")
        .localCheckpoint(eager=False)
    )
    st = post.groupBy("doc_id").agg(F.first("dl").alias("dl")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("total_toks"),
    )
    qt = spark.createDataFrame(
        [(qid, t) for qid, ts in _BM25_BATCH_QUERIES for t in ts],
        "qid long, tok string",
    )
    from pyspark.sql import Window as _Win

    # semi-restrict the postings to the batch's tokens BEFORE any
    # aggregate: df for a token is the same whether counted over the
    # full posting table or its token-filtered slice, and the oracle
    # (which aggregates the full table) proves the equivalence by
    # hash — only the matched slice ever shuffles here
    postq = post.join(
        F.broadcast(qt.select("tok").distinct()), "tok", "left_semi"
    )
    dfq = postq.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    joined = (
        postq.join(F.broadcast(qt), "tok")
        .join(F.broadcast(dfq), "tok")
        .crossJoin(F.broadcast(st))
    )
    sc = (
        joined.withColumn(
            "contrib",
            F.expr(_bm25_contrib_cols("tf", "df", "div")).cast("long"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").cast("long").alias("score_fp"))
    )
    w = _Win.partitionBy("qid").orderBy(F.desc("score_fp"), "doc_id")
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _BM25_BATCH_K)
        .select("qid", "rank", "doc_id", "score_fp")
        .orderBy("qid", "rank")
    )


def bm25_search_many(
    spark: SparkSession,
    index_path: str,
    queries: tuple[tuple[int, tuple[str, ...]], ...] = _BM25_BATCH_QUERIES,
    k: int = _BM25_BATCH_K,
    filters: dict[int, str] | None = None,
    filter_col: str = "source",
) -> DataFrame:
    """q_bm25_batch over the PERSISTED posting index — N queries, ONE
    partition-pruned postings scan over the UNION of the batch's
    token buckets, zero corpus scans: stats from the 1-row artifact,
    per-term df from the pruned postings (a window, the bm25_search
    shape), the shared long-form contribution arithmetic, per-query
    WindowGroupLimit heaps.  Returns (qid, rank, doc_id, score_fp).
    Per-query results are IDENTICAL to calling bm25_search once per
    query (pytest-pinned) — batching changes the cost, not the
    answer.

    ``filters`` maps qid -> required ``filter_col`` value (the index
    must have been built with meta carrying that column).  Filtered
    lexical semantics are the Lucene convention: the predicate
    restricts CANDIDATES, while idf/avgdl stay corpus-global — a
    doc's score does not change because the caller filtered.  That
    is also why, unlike ivfpq_search_many, NO source predicate is
    pushed into the scan: per-term df is computed FROM the scanned
    postings, and pre-filtering the scan would silently turn global
    idf into per-source idf.  The per-query equality rides the
    broadcast query-term table after the df window; queries absent
    from ``filters`` stay unfiltered (NULL rows)."""
    from pyspark.sql import Window as _Win

    queries = tuple((int(q), tuple(dict.fromkeys(ts))) for q, ts in queries)
    all_terms = tuple(dict.fromkeys(t for _, ts in queries for t in ts))
    if not queries or not all_terms:
        return spark.createDataFrame(
            [], "qid BIGINT, rank INT, doc_id BIGINT, score_fp BIGINT"
        )
    stats = _read_index_stats(spark, f"{index_path}/stats")
    if not stats or int(stats[0]["total_toks"]) <= 0:
        return spark.createDataFrame(
            [], "qid BIGINT, rank INT, doc_id BIGINT, score_fp BIGINT"
        )
    n_docs, total_toks = int(stats[0]["n_docs"]), int(stats[0]["total_toks"])
    bkts = _tok_buckets(all_terms)
    filters = filters or {}
    if filters:
        # Fail fast on a misconfigured index (ADVICE r12): forcing the
        # meta column into the read schema makes a missing/mistyped
        # column read as all-NULL, which silently starves every
        # filtered query.  One parquet-footer schema inspection
        # catches it before any scan.
        actual = read_parquet(spark, f"{index_path}/postings").schema
        if filter_col not in actual.names:
            raise ValueError(
                f"bm25_search_many: index at {index_path} has no meta "
                f"column {filter_col!r} (built without meta?); filtered "
                f"search needs build_bm25_index(..., meta including "
                f"{filter_col!r})"
            )
        ftype = actual[filter_col].dataType.simpleString()
        if ftype != "string":
            raise ValueError(
                f"bm25_search_many: meta column {filter_col!r} is "
                f"{ftype}, expected string"
            )
    meta_ddl = f", {filter_col} STRING" if filters else ""
    post = (
        spark.read.schema(
            "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT"
            + meta_ddl
            + ", bkt INT"
        )
        .parquet(f"{index_path}/postings")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("tok").isin(*all_terms))
        .withColumn("df", F.count("*").over(_Win.partitionBy("tok")))
    )
    qt = spark.createDataFrame(
        [
            (q, t, filters.get(q))
            for q, ts in queries
            for t in ts
        ],
        "qid long, tok string, __flt string",
    )
    joined = post.join(F.broadcast(qt), "tok")
    if filters:
        joined = joined.filter(
            F.col("__flt").isNull()
            | (F.col(filter_col) == F.col("__flt"))
        )
    sc = (
        joined
        .select(
            "qid",
            "doc_id",
            F.lit(n_docs).cast("long").alias("n_docs"),
            F.lit(total_toks).cast("long").alias("total_toks"),
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            "dl",
        )
        .withColumn(
            "contrib",
            F.expr(_bm25_contrib_cols("tf", "df", "div")).cast("long"),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("contrib").cast("long").alias("score_fp"))
    )
    w = _Win.partitionBy("qid").orderBy(F.desc("score_fp"), "doc_id")
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "score_fp")
        .orderBy("qid", "rank")
    )


# ---------------------------------------------------------------------------
# X86 — batched hybrid retrieval (r11 capstone: N fused queries,
# two pruned index scans, zero corpus scans)

# fixed demo batch: (qid, terms, probe vec_id) — probe vectors are
# corpus rows here (bounded 3-row read in the registry query); the
# serve API takes raw vectors from the caller
_RRF_BATCH: tuple[tuple[int, tuple[str, ...], int], ...] = (
    (0, ("merge", "filter"), 0),
    (1, ("batch",), 17),
    (2, ("merge", "filter", "batch"), 42),
)


def rrf_search_many(
    spark: SparkSession,
    bm25_path: str,
    ivfpq_path: str,
    queries: dict[int, tuple[tuple[str, ...], list[float], int | None]],
    nprobe: int = _RRF_NPROBE,
    list_n: int = _RRF_LIST,
    k: int = _RRF_TOP,
    filters: dict[int, str] | None = None,
    filter_col: str = "source",
) -> DataFrame:
    """Batched hybrid retrieval — the whole query set fused with TWO
    pruned index scans and zero corpus scans: the lexical leg is
    bm25_search_many (one postings scan over the union of the
    batch's token buckets), the vector leg is one codes scan over
    the UNION of every query's probe cells with an exact per-query
    cosine rerank (raw vectors ride in codes/; per-query probe cells
    and query-vector literals enter as broadcast tables), and the
    RRF fusion + per-query top-k run over 2×list_n rows per query.
    ``queries`` maps qid -> (terms, raw query vector, vec_id to
    exclude or None — the self-row when the probe is a corpus
    vector).  Batching N hybrid queries costs two scans + N heaps
    instead of 2N scans.

    ``filters`` maps qid -> required ``filter_col`` value — ONE
    metadata predicate applied coherently to BOTH legs (r13, the
    X92/X97 machinery composed): the lexical leg inherits
    bm25_search_many's Lucene convention (candidates restricted,
    idf/avgdl stay corpus-global — no scan pushdown, both indexes
    must carry ``filter_col`` in their files), the vector leg
    inherits ivfpq_search_many's pushdown (the union of requested
    values prunes the codes scan when every query is filtered —
    nothing statistical derives from that scan — and the per-query
    equality rides the broadcast query table).  Each leg's list_n
    shortlist is therefore a PRE-filtered ranking — full list depth
    of survivors, never post-filter starvation — and the fused ranks
    are ranks among the query's own label."""
    from pyspark.sql import Window as _Win

    from ..functions.vectors import cosine_expr
    from .pq import _load_ivfpq_seeds
    from .similarity import _rank_cells_py

    empty_ddl = (
        "qid BIGINT, rank INT, doc_id BIGINT, bm25_rank BIGINT, "
        "vec_rank BIGINT, rrf_fp BIGINT"
    )
    filters = filters or {}
    if not queries:
        return spark.createDataFrame([], empty_ddl)
    bm = bm25_search_many(
        spark,
        bm25_path,
        tuple((qid, ts) for qid, (ts, _, _) in sorted(queries.items())),
        k=list_n,
        filters=filters,
        filter_col=filter_col,
    ).select("qid", "doc_id", F.col("rank").cast("long").alias("bm25_rank"))

    raw, c = _load_ivfpq_seeds(spark, ivfpq_path, 0)
    if raw is None:
        vec = spark.createDataFrame(
            [], "qid BIGINT, doc_id BIGINT, vec_rank BIGINT"
        )
    else:
        cents = [raw[i] for i in range(c)]
        probe_rows, qv_rows, union_cells = [], [], set()
        for qid, (_, qv, excl) in sorted(queries.items()):
            qvf = [float(x) for x in qv]
            cells = _rank_cells_py(cents, qvf)[:nprobe]
            union_cells.update(int(p) for p in cells)
            probe_rows += [(int(qid), int(p)) for p in cells]
            qv_rows.append(
                (
                    int(qid),
                    qvf,
                    -1 if excl is None else int(excl),
                    filters.get(qid),
                )
            )
        probes = spark.createDataFrame(probe_rows, "qid LONG, cid INT")
        qvdf = spark.createDataFrame(
            qv_rows,
            "qid LONG, qvec ARRAY<DOUBLE>, excl LONG, __flt STRING",
        )
        vcols = ["vec_id", "cid", "embedding"] + (
            [filter_col] if filters else []
        )
        codes = spark.read.parquet(f"{ivfpq_path}/codes").filter(
            F.col("cid").isin(sorted(union_cells))
        )
        if filters and all(q in filters for q in queries):
            # every query is filtered: the union of requested values
            # prunes the codes scan (the X92 rationale — the exact
            # cosine rerank derives nothing statistical from the scan,
            # the contrast with the lexical leg's df window)
            codes = codes.filter(
                F.col(filter_col).isin(sorted(set(filters.values())))
            )
        scored = (
            codes.select(*vcols)
            .join(F.broadcast(probes), "cid")
            .join(F.broadcast(qvdf), "qid")
            .filter(F.col("vec_id") != F.col("excl"))
        )
        if filters:
            scored = scored.filter(
                F.col("__flt").isNull()
                | (F.col(filter_col) == F.col("__flt"))
            )
        scored = scored.select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            cosine_expr("embedding", "qvec").alias("cos"),
        )
        w_vec = _Win.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
        vec = (
            scored.withColumn(
                "vec_rank", F.row_number().over(w_vec).cast("long")
            )
            .filter(F.col("vec_rank") <= list_n)
            .select("qid", "doc_id", "vec_rank")
        )
    fused = bm.join(vec, ["qid", "doc_id"], "full_outer").selectExpr(
        "qid",
        "doc_id",
        "bm25_rank",
        "vec_rank",
        f"CAST(coalesce(10000 div ({_RRF_K} + bm25_rank), 0) "
        f"+ coalesce(10000 div ({_RRF_K} + vec_rank), 0) AS BIGINT)"
        " AS rrf_fp",
    )
    w_out = _Win.partitionBy("qid").orderBy(F.desc("rrf_fp"), "doc_id")
    return (
        fused.withColumn("rank", F.row_number().over(w_out).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "rank",
            "doc_id",
            F.col("bm25_rank").cast("long").alias("bm25_rank"),
            F.col("vec_rank").cast("long").alias("vec_rank"),
            "rrf_fp",
        )
        .orderBy("qid", "rank")
    )


def _rrf_batch_oracle() -> str:
    from .similarity import _IVF_ASSIGN_SQL

    qt_vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts, _ in _RRF_BATCH for t in ts
    )
    pv_vals = ", ".join(f"({qid}, {pv})" for qid, _, pv in _RRF_BATCH)
    return f"""
        WITH post AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY doc_id, tok),
        dlt AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
            FROM post GROUP BY doc_id),
        st AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(dl), 0) AS BIGINT) AS total_toks
            FROM dlt),
        qt(qid, tok) AS (VALUES {qt_vals}),
        dfq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df
            FROM post GROUP BY tok),
        scb AS (
            SELECT q.qid, p.doc_id,
                   CAST(sum({_bm25_contrib_cols('p.tf', 'd.df', '//', 'l.dl')})
                        AS BIGINT) AS score_fp
            FROM qt q
            JOIN post p USING (tok)
            JOIN dfq d USING (tok)
            JOIN dlt l ON l.doc_id = p.doc_id
            CROSS JOIN st
            GROUP BY 1, 2),
        bmr AS (
            SELECT qid, doc_id, bm25_rank FROM (
                SELECT qid, doc_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY score_fp DESC, doc_id)
                         AS bm25_rank
                FROM scb)
            WHERE bm25_rank <= {_RRF_LIST}),
        {_IVF_ASSIGN_SQL},
        qv AS (
            SELECT q.qid, q.pvid, e.embedding
            FROM (VALUES {pv_vals}) q(qid, pvid)
            JOIN embeddings e ON e.vec_id = q.pvid),
        qcb AS (
            SELECT qid, cid AS qcid FROM (
                SELECT qv.qid, c.cid,
                       row_number() OVER (
                           PARTITION BY qv.qid
                           ORDER BY list_cosine_similarity(
                               c.cemb::DOUBLE[], qv.embedding::DOUBLE[]
                           ) DESC, c.cid ASC) AS qrn
                FROM cents c CROSS JOIN qv)
            WHERE qrn <= {_RRF_NPROBE}),
        vecr AS (
            SELECT qcb.qid, e.vec_id,
                   list_cosine_similarity(
                       e.embedding::DOUBLE[], qv.embedding::DOUBLE[]
                   ) AS cos
            FROM embeddings e
            JOIN a1 ON e.vec_id = a1.vec_id
            JOIN qcb ON a1.cid = qcb.qcid
            JOIN qv ON qv.qid = qcb.qid
            WHERE e.vec_id <> qv.pvid AND e.embedding IS NOT NULL),
        vecb AS (
            SELECT qid, vec_id AS doc_id, vec_rank FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, vec_id)
                         AS vec_rank
                FROM vecr)
            WHERE vec_rank <= {_RRF_LIST}),
        fusedb AS (
            SELECT coalesce(b.qid, v.qid) AS qid,
                   coalesce(b.doc_id, v.doc_id) AS doc_id,
                   b.bm25_rank, v.vec_rank,
                   CAST(coalesce(10000 // ({_RRF_K} + b.bm25_rank), 0)
                      + coalesce(10000 // ({_RRF_K} + v.vec_rank), 0)
                      AS BIGINT) AS rrf_fp
            FROM bmr b
            FULL OUTER JOIN vecb v
              ON b.qid = v.qid AND b.doc_id = v.doc_id),
        rb AS (
            SELECT qid, doc_id, bm25_rank, vec_rank, rrf_fp,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY rrf_fp DESC, doc_id)
                     AS rank
            FROM fusedb)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               doc_id,
               CAST(bm25_rank AS BIGINT) AS bm25_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank,
               rrf_fp
        FROM rb WHERE rank <= {_RRF_TOP}
        ORDER BY qid, rank
    """


@query(
    "q_rrf_batch",
    oracle=_rrf_batch_oracle(),
    tags=("text", "similarity", "search", "hybrid", "rrf", "batch",
          "serve", "extension"),
)
def q_rrf_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hybrid retrieval (X86) — the round's serving capstone:
    the fixed 3-query demo batch (terms + probe vector each) fused
    through rrf_search_many over persisted indexes — ONE postings
    scan (union token buckets), ONE codes scan (union probe cells,
    exact per-query cosine rerank from the in-codes raw vectors),
    integer RRF, per-query top-{_RRF_TOP}.  The oracle replays all
    three queries' full lexical + vector + fusion stacks in one
    relational chain, so a green row proves the batch path answers
    every query exactly as the per-query machinery would — at the
    cost of 2 scans instead of 2N."""
    from .pq import ensure_ivfpq_index

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm25_path = ensure_bm25_index(docs, sf_dir)
    ivfpq_path = ensure_ivfpq_index(emb, sf_dir)
    pvids = [pv for _, _, pv in _RRF_BATCH]
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin(pvids)
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    }
    # registry empty/null-input contract: probes missing from the
    # corpus (empty table, NULL embedding) drop out of the batch —
    # an empty batch serves typed empty
    queries = {
        qid: (ts, qrows[pv], pv)
        for qid, ts, pv in _RRF_BATCH
        if pv in qrows
    }
    return rrf_search_many(spark, bm25_path, ivfpq_path, queries)


# ---------------------------------------------------------------------------
# X87 — batched MaxSim (late interaction completes the batch matrix)

_MAXSIM_BATCH: tuple[tuple[int, tuple[str, ...]], ...] = (
    (0, ("merge", "filter")),
    (1, ("batch",)),
    (2, ("merge", "filter", "batch")),
)


def _maxsim_pair_dot_sql(qcol: str, tcol: str, hexfn) -> str:
    """Integer dot product between the md5-lane vectors of TWO token
    columns — both sides derived in-engine (no driver literals), so
    the batched form needs no per-query plan constants; ``hexfn(col,
    i)`` renders lane i of a column (engine-specific hex extract)."""
    return " + ".join(
        f"(({hexfn(qcol, i)}) - 128) * (({hexfn(tcol, i)}) - 128)"
        for i in range(_MAXSIM_DIM)
    )


def _maxsim_batch_scored(
    toks: DataFrame,
    qt: DataFrame,
    k: int,
    qf: DataFrame | None = None,
    dsrc: DataFrame | None = None,
) -> DataFrame:
    """(qid, rank, doc_id, maxsim) over a DISTINCT (doc_id, tok)
    relation and a (qid, qtok) query table: candidates per query =
    docs sharing a term with THAT query, then per (qid, qtok, doc)
    the max integer dot over the doc's token vectors, summed per
    (qid, doc), per-query WindowGroupLimit top-k.  Shared by the
    inline q_maxsim_batch and maxsim_search_many.

    ``qf`` (qid, __flt) + ``dsrc`` (doc_id, __src) optionally
    restrict CANDIDATES per query to docs whose metadata equals the
    query's required value (r13 filtered serving) — applied at the
    |candidates| relation, before any lane extraction, so filtered
    queries pay the interaction arithmetic only for their own
    label's docs.  A doc's MaxSim score is a pure per-(query, doc)
    quantity (no corpus statistics), so filtering candidates cannot
    change a surviving doc's score — pinned in
    tests/test_operators.py."""
    from pyspark.sql import Window as _Win

    # lane vectors are hoisted to EACH SIDE before the pair join: one
    # md5 + 16 substr/conv per (doc, tok) row and per (qid, qtok) row,
    # so the pair-volume work is a pure 16-lane integer zip_with fold
    # — the r11 first cut extracted lanes AT pair volume (2 md5 + 32
    # string ops per candidate×token×term row) and ran 8.3 s at
    # sf0.1; this shape does the string work at token volume.  The
    # oracle keeps the direct per-pair expression — same integers,
    # hash-identical, which is the proof the hoist is sound.
    lanes = (
        f"transform(sequence(0, {_MAXSIM_DIM - 1}), i -> "
        f"CAST(conv(substring(__h, i * 2 + 1, 2), 16, 10) AS BIGINT)"
        f" - 128)"
    )
    if "tv" in toks.columns:
        # pre-laned relation (the r14 maxsim_toks cache ships tv):
        # the md5 + 16 substr/conv per token row were paid once at
        # build; bigint arrays roundtrip parquet exactly
        toksv = toks
        toks = toks.drop("tv")
    else:
        toksv = (
            toks.withColumn("__h", F.md5("tok"))
            .withColumn("tv", F.expr(lanes))
            .drop("__h")
        )
    qtv = (
        qt.withColumn("__h", F.md5("qtok"))
        .withColumn("qv", F.expr(lanes))
        .drop("__h")
    )
    cand = (
        toks.join(
            F.broadcast(qt.withColumnRenamed("qtok", "tok")), "tok"
        )
        .select("qid", "doc_id")
        .distinct()
    )
    if qf is not None:
        cand = (
            cand.join(F.broadcast(qf), "qid", "left")
            .join(dsrc, "doc_id", "left")
            .filter(
                F.col("__flt").isNull()
                | (F.col("__src") == F.col("__flt"))
            )
            .select("qid", "doc_id")
        )
    pairs = cand.join(toksv, "doc_id").join(F.broadcast(qtv), "qid")
    best = (
        pairs.withColumn(
            "d",
            F.expr(
                "aggregate(zip_with(qv, tv, (a, b) -> a * b), 0L, "
                "(acc, v) -> acc + v)"
            ).cast("long"),
        )
        .groupBy("qid", "qtok", "doc_id")
        .agg(F.max("d").alias("m"))
    )
    sc = best.groupBy("qid", "doc_id").agg(
        F.sum("m").cast("long").alias("maxsim")
    )
    w = _Win.partitionBy("qid").orderBy(F.desc("maxsim"), "doc_id")
    return (
        sc.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("qid", "rank", "doc_id", "maxsim")
        .orderBy("qid", "rank")
    )


def _maxsim_batch_oracle() -> str:
    def hexfn(col: str, i: int) -> str:
        return f"(('0x' || substr(md5({col}), {2 * i + 1}, 2))::BIGINT)"

    qt_vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts in _MAXSIM_BATCH for t in ts
    )
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)
            WHERE tok <> ''),
        qt(qid, qtok) AS (VALUES {qt_vals}),
        cand AS (
            SELECT DISTINCT q.qid, t.doc_id
            FROM qt q JOIN toks t ON t.tok = q.qtok),
        best AS (
            SELECT c.qid, q.qtok, c.doc_id,
                   max({_maxsim_pair_dot_sql('q.qtok', 't.tok', hexfn)})
                     AS m
            FROM cand c
            JOIN toks t ON t.doc_id = c.doc_id
            JOIN qt q ON q.qid = c.qid
            GROUP BY 1, 2, 3),
        sc AS (
            SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS maxsim
            FROM best GROUP BY qid, doc_id),
        r AS (
            SELECT qid, doc_id, maxsim,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY maxsim DESC, doc_id)
                     AS rank
            FROM sc)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               doc_id, maxsim
        FROM r WHERE rank <= {_MAXSIM_K}
        ORDER BY qid, rank
    """


@query(
    "q_maxsim_batch",
    oracle=_maxsim_batch_oracle(),
    tags=("text", "similarity", "search", "late-interaction", "maxsim",
          "batch", "extension"),
)
def q_maxsim_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched MaxSim (X87) — late interaction joins the batch matrix
    (lexical q_bm25_batch, vector q_ivfpq_batch, hybrid q_rrf_batch):
    the fixed 3-query demo set scored in ONE pass, candidates bounded
    PER QUERY (docs sharing a term with that query), per-(query,
    term, doc) max integer dot, per-query top-{_MAXSIM_K}.  Unlike
    the solo form, BOTH sides of the dot derive from md5 lanes
    in-engine (no per-query plan literals), so the batch needs no
    driver-side vector construction at any batch size — query terms
    are data, not plan constants.  maxsim_search_many serves the
    identical rankings from the persisted posting index.

    The DISTINCT (doc_id, tok) relation is served from the
    content-tagged index cache (VERDICT r13 #4): the corpus explode +
    distinct shuffle runs once per content state; repeat calls read
    the relation back (strings/bigints roundtrip parquet exactly)."""
    import sys as _sys

    from .index_cache import cached as _cached

    def _build_toks(p: str) -> None:
        docs = load_table(spark, sf_dir, "documents")
        lanes = (
            f"transform(sequence(0, {_MAXSIM_DIM - 1}), i -> "
            f"CAST(conv(substring(__h, i * 2 + 1, 2), 16, 10) AS BIGINT)"
            f" - 128)"
        )
        (
            docs.select(
                "doc_id", F.explode(F.split("text", " ")).alias("tok")
            )
            .filter(F.col("tok") != "")
            .distinct()
            .withColumn("__h", F.md5("tok"))
            .withColumn("tv", F.expr(lanes))
            .drop("__h")
            .write.mode("overwrite")
            .parquet(f"{p}/toks")
        )

    toks_path = _cached(
        "maxsim_toks",
        sf_dir,
        ("documents",),
        (_sys.modules[__name__],),
        _build_toks,
    )
    toks = spark.read.schema(
        "doc_id BIGINT, tok STRING, tv ARRAY<BIGINT>"
    ).parquet(f"{toks_path}/toks")
    qt = spark.createDataFrame(
        [(q, t) for q, ts in _MAXSIM_BATCH for t in ts],
        "qid long, qtok string",
    )
    return _maxsim_batch_scored(toks, qt, _MAXSIM_K)


def maxsim_search_many(
    spark: SparkSession,
    index_path: str,
    queries: tuple[tuple[int, tuple[str, ...]], ...] = _MAXSIM_BATCH,
    k: int = _MAXSIM_K,
    filters: dict[int, str] | None = None,
    filter_col: str = "source",
) -> DataFrame:
    """q_maxsim_batch over the PERSISTED posting index — zero corpus
    scans: the batch's candidate doc set from ONE postings scan
    pruned to the UNION of every query's token buckets, the
    candidates' full token rows via a broadcast semi-join, then the
    shared batched interaction.  Per-qid results are IDENTICAL to
    maxsim_search solo (pytest-pinned).

    ``filters`` maps qid -> required ``filter_col`` value (the index
    must carry the column via build_bm25_index meta — validated
    fail-fast, never a silent all-NULL read).  Candidates are
    PRE-filtered per query; the doc metadata comes for free from the
    SAME pruned candidate scan (any posting row of a candidate doc
    carries its source), so the filtered path adds zero extra
    scans.  MaxSim has no corpus-global statistics, so unlike BM25
    there is no idf-corruption hazard in any placement — candidates
    convention is chosen for coherence with the rest of the filtered
    matrix."""
    queries = tuple((int(q), tuple(dict.fromkeys(ts))) for q, ts in queries)
    all_terms = tuple(dict.fromkeys(t for _, ts in queries for t in ts))
    if not queries or not all_terms:
        return spark.createDataFrame(
            [], "qid BIGINT, rank INT, doc_id BIGINT, maxsim BIGINT"
        )
    filters = filters or {}
    if filters:
        from pyspark.errors import AnalysisException

        try:
            actual = read_parquet(spark, f"{index_path}/postings").schema
        except AnalysisException:
            # an EMPTY index has no data files to infer from — there
            # is no meta column to mis-read and no candidate either,
            # so skip the guard and let the explicit-schema reads
            # below return the correct zero rows
            actual = None
        if actual is not None and filter_col not in actual.names:
            raise ValueError(
                f"maxsim_search_many: index at {index_path} has no meta "
                f"column {filter_col!r} (built without meta?); filtered "
                f"search needs build_bm25_index(..., meta including "
                f"{filter_col!r})"
            )
    bkts = _tok_buckets(all_terms)
    meta_ddl = f", {filter_col} STRING" if filters else ""
    post_ddl = (
        "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT"
        + meta_ddl
        + ", bkt INT"
    )
    pruned = (
        spark.read.schema(post_ddl)
        .parquet(f"{index_path}/postings")
        .filter(F.col("bkt").isin(bkts))
        .filter(F.col("tok").isin(*all_terms))
    )
    cand_docs = pruned.select("doc_id").distinct()
    toks = (
        spark.read.schema(post_ddl)
        .parquet(f"{index_path}/postings")
        .join(F.broadcast(cand_docs), "doc_id", "left_semi")
        .select("doc_id", "tok")
    )
    qt = spark.createDataFrame(
        [(q, t) for q, ts in queries for t in ts], "qid long, qtok string"
    )
    qf = dsrc = None
    if filters:
        qf = spark.createDataFrame(
            [(int(q), v) for q, v in sorted(filters.items())],
            "qid long, __flt string",
        )
        dsrc = (
            pruned.select("doc_id", F.col(filter_col).alias("__src"))
            .distinct()
        )
    return _maxsim_batch_scored(toks, qt, k, qf=qf, dsrc=dsrc)


# ---------------------------------------------------------------------------
# X88 — tombstone propagation into the serving stores (r12)
#
# q_tombstone_delete (pipeline_ops.py) audits right-to-be-forgotten
# against the CORPUS; until this round a deleted doc_id kept
# surfacing from every persisted serving artifact — BM25 postings,
# IVF-PQ codes, span-gram counters, winnow prints — until a full
# rebuild.  Updates got their lifecycle story in r11 (doc-replace
# merge, ivfpq compaction); this closes the delete half: purge
# functions per store (purge_bm25_index above, pq.purge_ivfpq_index,
# streaming.jobs.purge_span_gram_store / purge_winnow_store) plus
# this end-to-end proof that after the purge NO serve path — bm25,
# ADC probe, hybrid RRF, late-interaction MaxSim — returns a
# tombstoned id, and that every served ranking equals the
# filtered-corpus recompute (the oracle), stats and all.

# The demo tombstone set: ids >= _TOMB_MIN with id % _TOMB_MOD ==
# _TOMB_RES — deterministic, ~1/5 of the fixture corpus, and floored
# ABOVE the IVF-PQ seed horizon (max(_K, C, query_id+1) = 18 at
# every test scale) so the frozen serving model is untouched and
# purge == filtered rebuild holds exactly (ids below the horizon are
# model parameters; purge_ivfpq_index raises on them by contract).
_TOMB_MIN = 32
_TOMB_MOD = 5
_TOMB_RES = 0


def _tomb_keep_sql(col: str) -> str:
    """SQL predicate keeping NON-tombstoned ids — shared by every
    oracle leg so the filtered recompute and the Spark-side request
    set can never drift."""
    return (
        f"NOT ({col} >= {_TOMB_MIN} AND {col} % {_TOMB_MOD} = {_TOMB_RES})"
    )


def _tombstone_oracle() -> str:
    """Four-leg filtered recompute: each serve path's existing oracle
    chain over the corpus MINUS the tombstone set.  The lexical legs
    (bm25, maxsim, rrf's bm25 arm) filter `documents` outright —
    the purged postings ARE a fresh build over the filtered corpus,
    stats included.  The vector legs keep the MODEL CTEs (codebook,
    centroids, probe cells) over the FULL embeddings — purge freezes
    the model, exactly like the purged store keeps its seeds/ — and
    filter only the candidate rows.  Leg CTEs stay inside their own
    parenthesized subqueries so the four chains' names never
    collide."""
    from .pq import _CODES_SQL, _IVFPQ_NPROBE, _QUERY_ID, _SUBDIM, _d2_terms

    keep_doc = _tomb_keep_sql("doc_id")
    assert _BM25_ORACLE_CTES.count("FROM documents") == 1
    bm_f = _BM25_ORACLE_CTES.replace(
        "FROM documents", f"FROM documents WHERE {keep_doc}"
    )
    bm_leg = f"""
        SELECT 'bm25' AS path, rank, doc_id, score_fp FROM (
          WITH {bm_f}
          SELECT CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id)
                      AS INTEGER) AS rank,
                 doc_id, score_fp
          FROM scored ORDER BY score_fp DESC, doc_id LIMIT {_BM25_K})"""
    ivf_leg = f"""
        SELECT 'ivfpq' AS path, rank, vec_id AS doc_id,
               adc_d2 AS score_fp FROM (
          WITH {_CODES_SQL},
          {_IVF_ASSIGN_SQL},
          {_ivf_qcells_sql(_QUERY_ID, _IVFPQ_NPROBE)},
          q AS (SELECT embedding FROM embeddings
                WHERE vec_id = {_QUERY_ID}),
          lut AS (
              SELECT subs.s, seeds.cid, sum({_d2_terms('q', 'seeds')}) AS d2
              FROM q CROSS JOIN subs CROSS JOIN seeds
              CROSS JOIN generate_series(1, {_SUBDIM}) g(i)
              GROUP BY 1, 2),
          ivfcand AS (
              SELECT a1.vec_id FROM a1 JOIN qc ON a1.cid = qc.qcid
              WHERE a1.vec_id <> {_QUERY_ID}
                AND {_tomb_keep_sql('a1.vec_id')}),
          adcq AS (
              SELECT c.vec_id,
                     CAST(l0.d2 + l1.d2 + l2.d2 + l3.d2 AS BIGINT) AS adc_d2
              FROM codes c
              JOIN ivfcand USING (vec_id)
              JOIN lut l0 ON l0.s = 0 AND l0.cid = c.code0
              JOIN lut l1 ON l1.s = 1 AND l1.cid = c.code1
              JOIN lut l2 ON l2.s = 2 AND l2.cid = c.code2
              JOIN lut l3 ON l3.s = 3 AND l3.cid = c.code3)
          SELECT CAST(row_number() OVER (ORDER BY adc_d2, vec_id) AS INT)
                   AS rank,
                 vec_id, adc_d2
          FROM adcq ORDER BY adc_d2, vec_id LIMIT 10)"""
    rrf_leg = f"""
        SELECT 'rrf' AS path, rank, doc_id, rrf_fp AS score_fp FROM (
          WITH {bm_f},
          bm AS (
              SELECT doc_id,
                     row_number() OVER (ORDER BY score_fp DESC, doc_id)
                       AS bm25_rank
              FROM scored
              ORDER BY score_fp DESC, doc_id LIMIT {_RRF_LIST}),
          {_IVF_ASSIGN_SQL},
          {_ivf_qcells_sql(_RRF_QVEC, _RRF_NPROBE)},
          qv AS (SELECT embedding FROM embeddings
                 WHERE vec_id = {_RRF_QVEC}),
          vecr AS (
              SELECT e.vec_id,
                     list_cosine_similarity(
                         e.embedding::DOUBLE[], qv.embedding::DOUBLE[]
                     ) AS cos
              FROM embeddings e
              JOIN a1 ON e.vec_id = a1.vec_id
              JOIN qc ON a1.cid = qc.qcid
              CROSS JOIN qv
              WHERE e.vec_id <> {_RRF_QVEC} AND e.embedding IS NOT NULL
                AND {_tomb_keep_sql('e.vec_id')}),
          vec AS (
              SELECT vec_id AS doc_id,
                     row_number() OVER (ORDER BY cos DESC, vec_id)
                       AS vec_rank
              FROM vecr ORDER BY cos DESC, vec_id LIMIT {_RRF_LIST}),
          fused AS (
              SELECT coalesce(bm.doc_id, vec.doc_id) AS doc_id,
                     CAST(coalesce(10000 // ({_RRF_K} + bm.bm25_rank), 0)
                        + coalesce(10000 // ({_RRF_K} + vec.vec_rank), 0)
                        AS BIGINT) AS rrf_fp
              FROM bm FULL OUTER JOIN vec ON bm.doc_id = vec.doc_id)
          SELECT CAST(row_number() OVER (ORDER BY rrf_fp DESC, doc_id)
                      AS INTEGER) AS rank,
                 doc_id, rrf_fp
          FROM fused ORDER BY rrf_fp DESC, doc_id LIMIT {_RRF_TOP})"""
    ms = _maxsim_oracle(_BM25_TERMS)
    assert ms.count("FROM documents") == 1
    ms_f = ms.replace("FROM documents", f"FROM documents WHERE {keep_doc}")
    ms_leg = (
        f"SELECT 'maxsim' AS path, rank, doc_id, maxsim AS score_fp "
        f"FROM ({ms_f})"
    )
    return (
        bm_leg
        + "\n        UNION ALL\n"
        + ivf_leg
        + "\n        UNION ALL\n"
        + rrf_leg
        + "\n        UNION ALL\n"
        + ms_leg
        + "\n        ORDER BY path, rank"
    )


@query(
    "q_tombstone_served",
    oracle=_tombstone_oracle(),
    tags=("pipeline", "deletion", "compliance", "serve", "search",
          "extension"),
)
def q_tombstone_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone propagation, SERVED (X88): build the BM25 posting
    index and the IVF-PQ index, purge the tombstone set from BOTH
    persisted stores (purge_bm25_index / pq.purge_ivfpq_index), then
    answer all four serve paths — lexical BM25, vector ADC probe,
    hybrid RRF, late-interaction MaxSim — entirely from the purged
    artifacts and return the union (path, rank, doc_id, score_fp).
    A hash-green row proves two things at once: no deleted id
    surfaces from ANY serve path, and every served ranking equals
    the filtered-corpus recompute — including the BM25 idf/avgdl
    constants, which the purge RECOMPUTES from the surviving
    postings (a purge that only dropped rows would leave stale stats
    and fail this oracle).

    Scale shape: the builds are the amortized offline step (one
    corpus scan each); the purges are one broadcast anti-join
    rewrite per store (request-sized tombstone set, never a corpus
    scan); the serves are the same partition-pruned index scans as
    q_rrf_served — zero corpus scans after the purge.  The whole
    build→purge composition is ONE cached artifact (index_cache,
    extra="tomb" — it MUTATES its stores, so it must never share the
    read-only queries' plain indexes; re-running the composition on
    a cached dir is idempotent by the purges' anti-join/stats
    contracts, but the marker means it never has to)."""
    import sys

    from pyspark.sql import Window as _Win

    from . import pq as _pq
    from .index_cache import cached
    from .pq import ivfpq_search, purge_ivfpq_index

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    def _build_and_purge(base: str) -> None:
        build_bm25_index(docs, f"{base}/bm25")
        _pq.build_ivfpq_index(emb, f"{base}/ivfpq")
        tomb_pred = (F.col("doc_id") >= _TOMB_MIN) & (
            F.col("doc_id") % _TOMB_MOD == _TOMB_RES
        )
        purge_bm25_index(
            spark, f"{base}/bm25", docs.filter(tomb_pred).select("doc_id")
        )
        purge_ivfpq_index(
            spark,
            f"{base}/ivfpq",
            emb.filter(
                (F.col("vec_id") >= _TOMB_MIN)
                & (F.col("vec_id") % _TOMB_MOD == _TOMB_RES)
            ).select("vec_id"),
        )

    base = cached(
        "tomb",
        sf_dir,
        ("documents", "embeddings"),
        (sys.modules[__name__], _pq),
        _build_and_purge,
        extra=f"tomb:{_TOMB_MIN}:{_TOMB_MOD}:{_TOMB_RES}",
    )
    bm = bm25_search(spark, f"{base}/bm25").select(
        F.lit("bm25").alias("path"), "rank", "doc_id", "score_fp"
    )
    iv_top = ivfpq_search(spark, f"{base}/ivfpq")
    iv = iv_top.select(
        F.lit("ivfpq").alias("path"),
        F.row_number()
        .over(_Win.orderBy("adc_d2", "vec_id"))
        .cast("int")
        .alias("rank"),
        F.col("vec_id").alias("doc_id"),
        F.col("adc_d2").alias("score_fp"),
    )
    rr = rrf_search(spark, f"{base}/bm25", f"{base}/ivfpq").select(
        F.lit("rrf").alias("path"),
        "rank",
        "doc_id",
        F.col("rrf_fp").alias("score_fp"),
    )
    mx = maxsim_search(spark, f"{base}/bm25").select(
        F.lit("maxsim").alias("path"),
        "rank",
        "doc_id",
        F.col("maxsim").alias("score_fp"),
    )
    return (
        bm.unionByName(iv)
        .unionByName(rr)
        .unionByName(mx)
        .orderBy("path", "rank")
    )


# ---------------------------------------------------------------------------
# X97 — filtered batched lexical serving (r12)

_BM25_BATCH_FILTERED: tuple[tuple[int, tuple[str, ...], str], ...] = (
    (0, ("merge", "filter"), "src1"),
    (1, ("batch",), "src3"),
    (2, ("merge", "filter", "batch"), "src7"),
)

_BM25_FILT_QT_SQL = ", ".join(
    f"({qid}, '{t}', '{src}')"
    for qid, ts, src in _BM25_BATCH_FILTERED
    for t in ts
)


@query(
    "q_bm25_batch_filtered",
    oracle=f"""
        WITH post AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY doc_id, tok),
        dlt AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
            FROM post GROUP BY doc_id),
        st AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(dl), 0) AS BIGINT) AS total_toks
            FROM dlt),
        srcd AS (SELECT doc_id, source FROM documents),
        qt(qid, tok, fsource) AS (VALUES {_BM25_FILT_QT_SQL}),
        dfq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df
            FROM post GROUP BY tok),
        sc AS (
            SELECT q.qid, p.doc_id,
                   CAST(sum({_bm25_contrib_cols('p.tf', 'd.df', '//', 'l.dl')})
                        AS BIGINT) AS score_fp
            FROM qt q
            JOIN post p USING (tok)
            JOIN dfq d USING (tok)
            JOIN dlt l ON l.doc_id = p.doc_id
            JOIN srcd s ON s.doc_id = p.doc_id AND s.source = q.fsource
            CROSS JOIN st
            GROUP BY 1, 2),
        r AS (
            SELECT qid, doc_id, score_fp,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY score_fp DESC, doc_id)
                     AS rank
            FROM sc)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               doc_id, score_fp
        FROM r WHERE rank <= {_BM25_BATCH_K}
        ORDER BY qid, rank
    """,
    tags=("text", "extension", "search", "bm25", "ranking", "batch",
          "filtered"),
)
def q_bm25_batch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered batched BM25 (X97) — the lexical half of the
    filtered-serving dimension (X92 covered vectors): the index is
    built with the source column riding in the postings files
    (meta=("source",) — column-pruned away from unfiltered serves),
    and each demo query carries its own required source.  Filtered
    lexical semantics per the Lucene convention: the predicate
    restricts CANDIDATES while idf/avgdl stay corpus-global — which
    is exactly why the oracle's dfq/st CTEs aggregate the UNFILTERED
    postings and only sc applies the per-query source equality, and
    why the serve path computes the df window BEFORE the predicate
    (a scan-level source pushdown here would silently turn global
    idf into per-source idf — the documented contrast with
    ivfpq_search_many's pushdown, where nothing statistical derives
    from the scan).

    Scale shape: identical to q_bm25_batch plus one broadcast-joined
    equality — the postings scan stays pruned to the union of the
    batch's token-hash buckets, zero corpus scans."""
    docs = load_table(spark, sf_dir, "documents")
    path = ensure_bm25_index(docs, sf_dir, meta=("source",))
    return bm25_search_many(
        spark,
        path,
        queries=tuple((q, ts) for q, ts, _ in _BM25_BATCH_FILTERED),
        filters={q: src for q, ts, src in _BM25_BATCH_FILTERED},
    )


# ---------------------------------------------------------------------------
# X100 — filtered batched HYBRID serving (r13)
#
# VERDICT r12 #5: production hybrid retrieval is almost always
# filtered ("top-k about X, WHERE source = Y"), and the filtered
# dimension stopped at the single-leg paths (X92 vector, X97
# lexical).  This composes both conventions under ONE per-query
# predicate: the lexical leg restricts candidates while idf/avgdl
# stay corpus-global (X97's Lucene convention — no scan pushdown),
# the vector leg pushes the union of requested values into the codes
# scan (X92 — nothing statistical derives from it) with the
# per-query equality on the broadcast query table.  Both list_n
# shortlists are PRE-filtered rankings, so fusion sees full-depth
# survivor lists — never post-filter starvation.

_RRF_BATCH_FILTERED: tuple[tuple[int, tuple[str, ...], int, str], ...] = (
    (0, ("merge", "filter"), 0, "src1"),
    (1, ("batch",), 17, "src3"),
    (2, ("merge", "filter", "batch"), 42, "src7"),
)


def _rrf_batch_filtered_oracle() -> str:
    from .similarity import _IVF_ASSIGN_SQL

    qt_vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts, _, _ in _RRF_BATCH_FILTERED
        for t in ts
    )
    pv_vals = ", ".join(
        f"({qid}, {pv})" for qid, _, pv, _ in _RRF_BATCH_FILTERED
    )
    qf_vals = ", ".join(
        f"({qid}, '{src}')" for qid, _, _, src in _RRF_BATCH_FILTERED
    )
    return f"""
        WITH post AS (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents)
            WHERE tok <> ''
            GROUP BY doc_id, tok),
        dlt AS (
            SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
            FROM post GROUP BY doc_id),
        st AS (
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(coalesce(sum(dl), 0) AS BIGINT) AS total_toks
            FROM dlt),
        qt(qid, tok) AS (VALUES {qt_vals}),
        qf(qid, fsrc) AS (VALUES {qf_vals}),
        -- dfq/st aggregate the UNFILTERED postings: the Lucene
        -- convention — the predicate restricts candidates, never the
        -- corpus statistics
        dfq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS df
            FROM post GROUP BY tok),
        scb AS (
            SELECT q.qid, p.doc_id,
                   CAST(sum({_bm25_contrib_cols('p.tf', 'd.df', '//', 'l.dl')})
                        AS BIGINT) AS score_fp
            FROM qt q
            JOIN post p USING (tok)
            JOIN dfq d USING (tok)
            JOIN dlt l ON l.doc_id = p.doc_id
            JOIN qf ON qf.qid = q.qid
            JOIN documents dd
              ON dd.doc_id = p.doc_id AND dd.source = qf.fsrc
            CROSS JOIN st
            GROUP BY 1, 2),
        bmr AS (
            SELECT qid, doc_id, bm25_rank FROM (
                SELECT qid, doc_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY score_fp DESC, doc_id)
                         AS bm25_rank
                FROM scb)
            WHERE bm25_rank <= {_RRF_LIST}),
        {_IVF_ASSIGN_SQL},
        qv AS (
            SELECT q.qid, q.pvid, e.embedding
            FROM (VALUES {pv_vals}) q(qid, pvid)
            JOIN embeddings e ON e.vec_id = q.pvid),
        qcb AS (
            SELECT qid, cid AS qcid FROM (
                SELECT qv.qid, c.cid,
                       row_number() OVER (
                           PARTITION BY qv.qid
                           ORDER BY list_cosine_similarity(
                               c.cemb::DOUBLE[], qv.embedding::DOUBLE[]
                           ) DESC, c.cid ASC) AS qrn
                FROM cents c CROSS JOIN qv)
            WHERE qrn <= {_RRF_NPROBE}),
        vecr AS (
            SELECT qcb.qid, e.vec_id,
                   list_cosine_similarity(
                       e.embedding::DOUBLE[], qv.embedding::DOUBLE[]
                   ) AS cos
            FROM embeddings e
            JOIN a1 ON e.vec_id = a1.vec_id
            JOIN qcb ON a1.cid = qcb.qcid
            JOIN qv ON qv.qid = qcb.qid
            JOIN qf ON qf.qid = qcb.qid
            JOIN documents md
              ON md.doc_id = e.vec_id AND md.source = qf.fsrc
            WHERE e.vec_id <> qv.pvid AND e.embedding IS NOT NULL),
        vecb AS (
            SELECT qid, vec_id AS doc_id, vec_rank FROM (
                SELECT qid, vec_id,
                       row_number() OVER (PARTITION BY qid
                                          ORDER BY cos DESC, vec_id)
                         AS vec_rank
                FROM vecr)
            WHERE vec_rank <= {_RRF_LIST}),
        fusedb AS (
            SELECT coalesce(b.qid, v.qid) AS qid,
                   coalesce(b.doc_id, v.doc_id) AS doc_id,
                   b.bm25_rank, v.vec_rank,
                   CAST(coalesce(10000 // ({_RRF_K} + b.bm25_rank), 0)
                      + coalesce(10000 // ({_RRF_K} + v.vec_rank), 0)
                      AS BIGINT) AS rrf_fp
            FROM bmr b
            FULL OUTER JOIN vecb v
              ON b.qid = v.qid AND b.doc_id = v.doc_id),
        rb AS (
            SELECT qid, doc_id, bm25_rank, vec_rank, rrf_fp,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY rrf_fp DESC, doc_id)
                     AS rank
            FROM fusedb)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               doc_id,
               CAST(bm25_rank AS BIGINT) AS bm25_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank,
               rrf_fp
        FROM rb WHERE rank <= {_RRF_TOP}
        ORDER BY qid, rank
    """


@query(
    "q_rrf_batch_filtered",
    oracle=_rrf_batch_filtered_oracle(),
    tags=("text", "similarity", "search", "hybrid", "rrf", "batch",
          "filtered", "serve", "extension"),
)
def q_rrf_batch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered batched hybrid retrieval (X100): the fixed 3-query
    demo batch, each query carrying its own required source, fused
    through rrf_search_many over persisted indexes BUILT WITH the
    source column riding in both artifacts (postings meta AND codes
    meta — the vector side's source joins in from documents at build
    time, vec_id == doc_id on this fixture).  One pruned postings
    scan, one doubly-pruned codes scan (union probe cells AS
    PartitionFilters + union sources AS PushedFilters), per-leg
    PRE-filtered list_n shortlists, integer RRF, per-query
    top-{_RRF_TOP}.  The oracle replays both legs with the
    per-query predicate in exactly the documented place for each:
    candidates-only for BM25 (dfq/st stay unfiltered), candidate
    rows for the vector leg — so a green hash proves the
    per-leg filter semantics, not just the fusion."""
    import sys

    from . import pq as _pq
    from .index_cache import cached

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    bm25_path = ensure_bm25_index(docs, sf_dir, meta=("source",))
    # the source-meta codes store joins its metadata in from
    # documents at build time (vec_id == doc_id on this fixture), so
    # its cache key covers BOTH input tables
    ivfpq_path = cached(
        "ivfpq_srcjoin",
        sf_dir,
        ("embeddings", "documents"),
        (sys.modules[__name__], _pq),
        lambda p: _pq.build_ivfpq_index(
            emb.join(
                docs.select(F.col("doc_id").alias("vec_id"), "source"),
                "vec_id",
                "left",
            ),
            p,
            meta=("source",),
        ),
    )
    pvids = [pv for _, _, pv, _ in _RRF_BATCH_FILTERED]
    qrows = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(
            F.col("vec_id").isin(pvids)
            & F.col("embedding").isNotNull()
        )
        .select("vec_id", "embedding")
        .collect()
    }
    queries = {
        qid: (ts, qrows[pv], pv)
        for qid, ts, pv, _ in _RRF_BATCH_FILTERED
        if pv in qrows
    }
    return rrf_search_many(
        spark,
        bm25_path,
        ivfpq_path,
        queries,
        filters={
            q: src
            for q, _, pv, src in _RRF_BATCH_FILTERED
            if pv in qrows
        },
    )


# ---------------------------------------------------------------------------
# X101 — filtered batched MaxSim serving (r13)

_MAXSIM_BATCH_FILTERED: tuple[tuple[int, tuple[str, ...], str], ...] = (
    (0, ("merge", "filter"), "src1"),
    (1, ("batch",), "src3"),
    (2, ("merge", "filter", "batch"), "src7"),
)


def _maxsim_batch_filtered_oracle() -> str:
    def hexfn(col: str, i: int) -> str:
        return f"(('0x' || substr(md5({col}), {2 * i + 1}, 2))::BIGINT)"

    qt_vals = ", ".join(
        f"({qid}, '{t}')" for qid, ts, _ in _MAXSIM_BATCH_FILTERED
        for t in ts
    )
    qf_vals = ", ".join(
        f"({qid}, '{src}')" for qid, _, src in _MAXSIM_BATCH_FILTERED
    )
    return f"""
        WITH toks AS (
            SELECT DISTINCT doc_id, tok FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents)
            WHERE tok <> ''),
        qt(qid, qtok) AS (VALUES {qt_vals}),
        qf(qid, fsrc) AS (VALUES {qf_vals}),
        cand AS (
            SELECT DISTINCT q.qid, t.doc_id
            FROM qt q
            JOIN toks t ON t.tok = q.qtok
            JOIN qf ON qf.qid = q.qid
            JOIN documents dd
              ON dd.doc_id = t.doc_id AND dd.source = qf.fsrc),
        best AS (
            SELECT c.qid, q.qtok, c.doc_id,
                   max({_maxsim_pair_dot_sql('q.qtok', 't.tok', hexfn)})
                     AS m
            FROM cand c
            JOIN toks t ON t.doc_id = c.doc_id
            JOIN qt q ON q.qid = c.qid
            GROUP BY 1, 2, 3),
        sc AS (
            SELECT qid, doc_id, CAST(sum(m) AS BIGINT) AS maxsim
            FROM best GROUP BY qid, doc_id),
        r AS (
            SELECT qid, doc_id, maxsim,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY maxsim DESC, doc_id)
                     AS rank
            FROM sc)
        SELECT CAST(qid AS BIGINT) AS qid,
               CAST(rank AS INTEGER) AS rank,
               doc_id, maxsim
        FROM r WHERE rank <= {_MAXSIM_K}
        ORDER BY qid, rank
    """


@query(
    "q_maxsim_batch_filtered",
    oracle=_maxsim_batch_filtered_oracle(),
    tags=("text", "similarity", "search", "late-interaction", "maxsim",
          "batch", "filtered", "serve", "extension"),
)
def q_maxsim_batch_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered batched MaxSim (X101) — late interaction completes
    the filtered serving matrix (lexical X97, vector X92, hybrid
    X100): the fixed 3-query demo batch, each with its own required
    source, served from the persisted posting index built with
    meta=("source",).  Candidates are PRE-filtered per query at the
    |candidates| relation — the doc's source comes from the SAME
    pruned scan that found the candidates, zero extra scans — so
    each query pays interaction arithmetic only for its own label's
    docs and gets a full top-{_MAXSIM_K} of survivors (the
    post-filter starvation pin lives in tests/test_operators.py).
    MaxSim scores are pure per-(query, doc) quantities, so a
    surviving doc's score equals its unfiltered score — also
    pinned."""
    docs = load_table(spark, sf_dir, "documents")
    path = ensure_bm25_index(docs, sf_dir, meta=("source",))
    return maxsim_search_many(
        spark,
        path,
        queries=tuple((q, ts) for q, ts, _ in _MAXSIM_BATCH_FILTERED),
        filters={q: src for q, ts, src in _MAXSIM_BATCH_FILTERED},
    )


# ---------------------------------------------------------------------------
# X119 — tokenizer vocabulary coverage curve (r14)

_VOCAB_CURVE_NS = (10, 100, 1000)  # candidate vocabulary sizes


def _vocab_coverage_oracle() -> str:
    branches = "\n            UNION ALL ".join(
        f"SELECT CAST({n} AS BIGINT) AS top_n, "
        f"CAST(count(*) FILTER (rk <= {n}) AS BIGINT) AS n_tokens_in_vocab, "
        f"CAST(coalesce(sum(cnt) FILTER (rk <= {n}), 0) * 10000 "
        f"// (SELECT t FROM total) AS BIGINT) AS coverage_bp "
        f"FROM ranked"
        for n in _VOCAB_CURVE_NS
    )
    return f"""
        WITH tok AS (
            SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        counts AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS cnt
            FROM tok WHERE tok <> '' GROUP BY tok),
        total AS (SELECT sum(cnt) AS t FROM counts),
        ranked AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk
            FROM counts)
        SELECT * FROM ({branches}) ORDER BY top_n
    """


@query(
    "q_vocab_coverage",
    oracle=_vocab_coverage_oracle(),
    tags=("text", "tokenizer", "pipeline", "extension"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocabulary coverage curve (X119): what fraction of
    all corpus token OCCURRENCES the top-N token types cover, for
    candidate vocabulary sizes {_VOCAB_CURVE_NS} — the first number a
    tokenizer design consults (coverage at the knee decides the
    vocab budget; the complement is the OOV mass a fallback byte
    encoder must absorb).  Exact integers end to end: counts are
    exact, the rank order (count DESC, token ASC) is total, coverage
    is basis points by integer division.

    Scale shape: one corpus scan into a token-keyed count (map-side
    combined), then a top-{max(_VOCAB_CURVE_NS)}
    TakeOrderedAndProject heap — the global sort only ever sees the
    CAPPED head (bounded by the constant, never vocab-sized: unique
    tokens at 100 TB are billions, the heap is 1 000), one bounded
    window over those rows, one scalar total, conditional sums
    stacked into {len(_VOCAB_CURVE_NS)} rows."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    head = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(
        max(_VOCAB_CURVE_NS)
    )
    # the window runs over the <=1000-row capped head — bounded by
    # the constant, so the single partition is a constant, not a
    # scale hazard
    w = W.orderBy(F.desc("cnt"), F.asc("tok"))
    ranked = head.withColumn("rk", F.row_number().over(w))
    total = counts.agg(F.sum("cnt").alias("t"))
    aggs = []
    for n in _VOCAB_CURVE_NS:
        aggs += [
            F.sum(F.when(F.col("rk") <= n, 1).otherwise(0))
            .cast("bigint")
            .alias(f"nv{n}"),
            F.coalesce(
                F.sum(F.when(F.col("rk") <= n, F.col("cnt"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"cov{n}"),
        ]
    one = ranked.agg(*aggs).crossJoin(F.broadcast(total))
    stack = ", ".join(
        f"CAST({n} AS BIGINT), nv{n}, CAST(cov{n} * 10000 div t AS BIGINT)"
        for n in _VOCAB_CURVE_NS
    )
    return one.selectExpr(
        f"stack({len(_VOCAB_CURVE_NS)}, {stack}) AS "
        "(top_n, n_tokens_in_vocab, coverage_bp)"
    ).orderBy("top_n")


# ---------------------------------------------------------------------------
# X124 — quality-score calibration (reliability curve + per-bucket ECE)

_CALIB_BUCKETS = 10
_CALIB_SUBB = 16  # doc_id sub-buckets inside one pred_bp value (skew guard)


@query(
    "q_quality_calibration",
    oracle=f"""
        WITH sig AS (
            SELECT doc_id,
                   (6000 * len(list_filter(string_split(text, ' '),
                                           t -> t IN ({_STOP_SQL})))
                    + 1000 * (length(text)
                              - (len(string_split(text, ' ')) - 1)))
                       // len(string_split(text, ' ')) AS q_milli,
                   CASE WHEN len(string_split(text, ' ')) >= 20
                             AND 10000 * len(list_distinct(
                                     string_split(text, ' ')))
                                 // len(string_split(text, ' ')) >= 5000
                        THEN 1 ELSE 0 END AS gold
            FROM documents
            WHERE text IS NOT NULL),
        mm AS (SELECT min(q_milli) AS qlo, max(q_milli) AS qhi FROM sig),
        scored AS (
            SELECT CASE WHEN qhi = qlo THEN 0
                        ELSE (10000 * (q_milli - qlo)) // (qhi - qlo)
                   END AS pred_bp,
                   gold, doc_id
            FROM sig, mm),
        bucketed AS (
            SELECT ntile({_CALIB_BUCKETS})
                       OVER (ORDER BY pred_bp, doc_id) AS bucket,
                   pred_bp, gold
            FROM scored)
        SELECT CAST(bucket AS INTEGER) AS bucket,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(pred_bp) // count(*) AS BIGINT) AS mean_pred_bp,
               CAST(10000 * sum(gold) // count(*) AS BIGINT) AS gold_rate_bp,
               CAST(abs(sum(pred_bp) // count(*)
                        - 10000 * sum(gold) // count(*)) AS BIGINT)
                 AS gap_bp
        FROM bucketed
        GROUP BY bucket
        ORDER BY bucket
    """,
    tags=("text", "quality", "pipeline", "extension"),
)
def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score calibration (X124) — the reliability curve every
    classifier-filtered corpus needs before its scores gate admission
    (FineWeb-Edu-style): does a higher quality score actually mean a
    higher keep probability?  The heuristic score (q_quality's
    quality_milli) is min-max normalized to basis points, decile-
    bucketed (ntile semantics, doc_id tiebreak so both engines bucket
    identically), and each bucket reports mean predicted score vs the
    observed rate of the structural gold rule (q_quality_tiers' keep
    gate) plus the absolute gap — the per-bucket term of expected
    calibration error.  All integer arithmetic end to end.

    Engine side: rowwise signals at the scan; one 4-value global
    min/max broadcast (scalar agg cross join — the q_winsorize
    class).  The decile assignment is the range-bucketed TWO-PASS
    RANK (q_epoch_shuffle's machinery, pipeline_ops.epoch_shuffle),
    never a single-partition global window: the ordering key
    (pred_bp, doc_id) is split into ordered range buckets — pred_bp
    is already an integer in [0, 10000], and each pred_bp value is
    sub-split into {_CALIB_SUBB} doc_id ranges so even a corpus
    where every document lands on ONE score (the qhi = qlo
    degenerate case) still fans out — per-bucket row_number windows
    hashpartition on the bucket pair, and the bucket offsets come
    from a VALUE-BOUNDED (≤ 10001 × {_CALIB_SUBB} rows, independent
    of corpus size) count aggregate prefix-summed driver-side and
    broadcast back.  Global rank = offset + in-bucket rank because
    (pred_bp, dbkt) bucket order refines (pred_bp, doc_id) row
    order; the rank→ntile arithmetic is SQL ntile's own definition
    (first n mod B buckets take ceil(n/B) rows), so the boundaries
    land bit-identically to the oracle's ntile; final 10-group
    aggregate.  The corpus-sized signal relation is
    localCheckpoint'd once so the counts pass and the rank pass
    share one materialization."""
    docs = load_table(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    q_milli = F.expr(
        f"(6000 * CAST(size(filter({toks}, t -> t IN ({_STOP_SQL}))) AS BIGINT)"
        f" + 1000 * CAST(length(text) - (size({toks}) - 1) AS BIGINT))"
        f" div size({toks})"
    )
    gold = F.expr(
        f"CASE WHEN size({toks}) >= 20 AND "
        f"10000 * size(array_distinct({toks})) div size({toks}) >= 5000 "
        f"THEN 1 ELSE 0 END"
    )
    # NULL-text rows are excluded up front (the _quality_scored
    # convention): a score that does not exist cannot be calibrated,
    # and a NULL ordering key would crash the driver-side offset sort
    # while three-valued ntile NULL placement diverges between
    # engines anyway (caught by the r16 null-payload sweep)
    sig = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", q_milli.alias("q_milli"), gold.alias("gold")
    )
    mm = sig.agg(
        F.min("q_milli").alias("qlo"),
        F.max("q_milli").alias("qhi"),
        F.min("doc_id").alias("dlo"),
        F.max("doc_id").alias("dhi"),
    )
    scored = (
        sig.join(F.broadcast(mm))
        .select(
            "doc_id",
            "gold",
            F.expr(
                "CASE WHEN qhi = qlo THEN CAST(0 AS BIGINT) "
                "ELSE (10000 * (q_milli - qlo)) div (qhi - qlo) END"
            ).alias("pred_bp"),
            F.expr(
                f"CAST((doc_id - dlo) div "
                f"((dhi - dlo) div {_CALIB_SUBB} + 1) AS INT)"
            ).alias("dbkt"),
        )
        .localCheckpoint()
    )
    # pass 1: value-bounded bucket counts (<= 10001 * _CALIB_SUBB
    # rows whatever the corpus size) -> driver-side prefix sum
    counts = (
        scored.groupBy("pred_bp", "dbkt")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    counts.sort(key=lambda r: (r["pred_bp"], r["dbkt"]))
    offsets, acc = [], 0
    for r in counts:
        offsets.append((int(r["pred_bp"]), int(r["dbkt"]), acc))
        acc += int(r["n"])
    n_total = acc
    offs = spark.createDataFrame(
        offsets, "pred_bp BIGINT, dbkt INT, off BIGINT"
    )
    # pass 2: per-bucket rank + offset = the global (pred_bp, doc_id)
    # rank; then ntile's own arithmetic maps rank -> decile
    nq, nrem = divmod(n_total, _CALIB_BUCKETS)
    cutoff = nrem * (nq + 1)
    bucket_expr = (
        f"CASE WHEN rk <= {cutoff} THEN (rk - 1) div {nq + 1} + 1 "
        f"ELSE {nrem} + (rk - {cutoff} - 1) div {max(nq, 1)} + 1 END"
    )
    w = W.partitionBy("pred_bp", "dbkt").orderBy("doc_id")
    return (
        scored.join(F.broadcast(offs), ["pred_bp", "dbkt"])
        .withColumn(
            "rk", F.col("off") + F.row_number().over(w).cast("long")
        )
        .withColumn("bucket", F.expr(bucket_expr))
        .groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.expr("sum(pred_bp) div count(*)").alias("mean_pred_bp"),
            F.expr("10000 * sum(gold) div count(*)").alias("gold_rate_bp"),
            F.expr(
                "abs(sum(pred_bp) div count(*)"
                " - 10000 * sum(gold) div count(*))"
            ).alias("gap_bp"),
        )
        .select(
            F.col("bucket").cast("int").alias("bucket"),
            "n_docs",
            "mean_pred_bp",
            "gold_rate_bp",
            "gap_bp",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# X130/X131: Pareto front + ranking quality of the heuristic score
# ---------------------------------------------------------------------------

# the shared (doc_id, n_tok, gold, pred_bp) relation: q_quality's
# heuristic score min-max normalized to basis points plus the
# structural gold keep rule — exactly q_quality_calibration's signal
# CTEs with the token count carried along
_QSIG_CTES = f"""sig AS (
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tok,
                   (6000 * len(list_filter(string_split(text, ' '),
                                           t -> t IN ({_STOP_SQL})))
                    + 1000 * (length(text)
                              - (len(string_split(text, ' ')) - 1)))
                       // len(string_split(text, ' ')) AS q_milli,
                   CASE WHEN len(string_split(text, ' ')) >= 20
                             AND 10000 * len(list_distinct(
                                     string_split(text, ' ')))
                                 // len(string_split(text, ' ')) >= 5000
                        THEN 1 ELSE 0 END AS gold
            FROM documents
            WHERE text IS NOT NULL),
        mm AS (SELECT min(q_milli) AS qlo, max(q_milli) AS qhi FROM sig),
        scored AS (
            SELECT doc_id, n_tok, gold,
                   CASE WHEN qhi = qlo THEN 0
                        ELSE (10000 * (q_milli - qlo)) // (qhi - qlo)
                   END AS pred_bp
            FROM sig, mm)"""


def _quality_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tok, gold, pred_bp) — the Spark twin of _QSIG_CTES:
    rowwise signals at the scan, one 2-value global min/max broadcast
    (scalar agg cross join, the q_winsorize class), basis-point
    min-max normalization.  Integer end to end; shared by
    q_pareto_front and q_quality_auc (q_quality_calibration builds
    the same relation inline with its doc_id range sub-bucket).
    NULL-text rows are excluded up front — with text present every
    signal is non-null, so the dominance/ranking comparisons never
    see SQL NULL three-valued logic (which would diverge between the
    NOT EXISTS oracle and the staircase)."""
    docs = docs.filter(F.col("text").isNotNull())
    toks = "split(text, ' ')"
    q_milli = F.expr(
        f"(6000 * CAST(size(filter({toks}, t -> t IN ({_STOP_SQL}))) AS BIGINT)"
        f" + 1000 * CAST(length(text) - (size({toks}) - 1) AS BIGINT))"
        f" div size({toks})"
    )
    gold = F.expr(
        f"CASE WHEN size({toks}) >= 20 AND "
        f"10000 * size(array_distinct({toks})) div size({toks}) >= 5000 "
        f"THEN 1 ELSE 0 END"
    )
    sig = docs.select(
        "doc_id",
        F.expr(f"CAST(size({toks}) AS BIGINT)").alias("n_tok"),
        q_milli.alias("q_milli"),
        gold.alias("gold"),
    )
    mm = sig.agg(F.min("q_milli").alias("qlo"), F.max("q_milli").alias("qhi"))
    return sig.join(F.broadcast(mm)).select(
        "doc_id",
        "n_tok",
        "gold",
        F.expr(
            "CASE WHEN qhi = qlo THEN CAST(0 AS BIGINT) "
            "ELSE (10000 * (q_milli - qlo)) div (qhi - qlo) END"
        ).alias("pred_bp"),
    )


@query(
    "q_pareto_front",
    oracle=f"""
        WITH {_QSIG_CTES}
        SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
               CAST(s.pred_bp AS BIGINT) AS pred_bp,
               CAST(s.n_tok AS BIGINT) AS n_tok
        FROM scored s
        WHERE NOT EXISTS (
            SELECT 1 FROM scored u
            WHERE u.pred_bp >= s.pred_bp AND u.n_tok >= s.n_tok
              AND (u.pred_bp > s.pred_bp OR u.n_tok > s.n_tok))
        ORDER BY pred_bp, doc_id
    """,
    tags=("text", "quality", "pipeline", "extension"),
)
def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto front / skyline (X130) — the documents no other
    document dominates on (quality score, length): the shortlist a
    curation pass inspects when it wants "the best long docs and the
    longest good docs" without committing to a single weighting.
    Dominance is the standard strict skyline rule (≥ on both axes,
    > on at least one); duplicate (score, length) points all survive.

    Engine side: NEVER the quadratic NOT EXISTS the oracle declares —
    the 2-D skyline is a staircase, computed in two bounded passes
    over the VALUE-BOUNDED score axis: pred_bp ∈ [0, 10000] by
    construction, so groupBy(pred_bp).max(n_tok) is ≤ 10001 rows
    whatever the corpus size; the suffix-max staircase over those
    rows folds driver-side (the q_quality_calibration prefix-sum
    pattern), and survivors come back as ONE broadcast hash join
    against the checkpointed scored relation — corpus scans: 1, the
    only corpus-sized shuffle is none at all.  The oracle's NOT
    EXISTS is the independent quadratic spec; hash equality proves
    the staircase is the same set."""
    docs = load_table(spark, sf_dir, "documents")
    scored = _quality_scored(docs).localCheckpoint()
    byv = (
        scored.groupBy("pred_bp")
        .agg(F.max("n_tok").alias("nmax"))
        .collect()
    )
    keep, best = [], None
    for r in sorted(byv, key=lambda t: -int(t["pred_bp"])):
        nmax = int(r["nmax"])
        if best is None or nmax > best:
            keep.append((int(r["pred_bp"]), nmax))
        best = nmax if best is None else max(best, nmax)
    if not keep:
        return spark.createDataFrame(
            [], "doc_id BIGINT, pred_bp BIGINT, n_tok BIGINT"
        )
    front = spark.createDataFrame(keep, "pred_bp BIGINT, nmax BIGINT")
    return (
        scored.join(
            F.broadcast(front),
            (scored["pred_bp"] == front["pred_bp"])
            & (scored["n_tok"] == front["nmax"]),
        )
        .select("doc_id", scored["pred_bp"], "n_tok")
        .orderBy("pred_bp", "doc_id")
    )


@query(
    "q_quality_auc",
    oracle=f"""
        WITH {_QSIG_CTES},
        by_v AS (
            SELECT pred_bp, sum(gold) AS pos,
                   count(*) - sum(gold) AS neg
            FROM scored GROUP BY pred_bp),
        cum AS (
            SELECT pred_bp, pos, neg,
                   coalesce(sum(neg) OVER (
                       ORDER BY pred_bp
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING), 0) AS cumneg
            FROM by_v),
        tot AS (
            SELECT sum(pos) AS p, sum(neg) AS n,
                   sum(pos * 2 * cumneg + pos * neg) AS num
            FROM cum)
        SELECT CAST(p AS BIGINT) AS n_pos,
               CAST(n AS BIGINT) AS n_neg,
               CAST(CASE WHEN p = 0 OR n = 0 THEN 5000
                         ELSE (10000 * num) // (2 * p * n)
                    END AS BIGINT) AS auc_bp
        FROM tot WHERE p IS NOT NULL
    """,
    tags=("text", "quality", "pipeline", "extension"),
)
def q_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking quality of the heuristic score (X131) — exact AUC of
    pred_bp against the structural gold keep rule, the
    threshold-free complement to q_quality_calibration's ECE: does
    the score ORDER documents correctly, before any decile choice?
    AUC = P(random gold doc outranks random non-gold doc), ties at
    half credit — computed exactly in integers as basis points:
    auc_bp = 10000·(2·Σ_v pos_v·cumneg_<v + Σ_v pos_v·neg_v)
    / (2·P·N), every term a BIGINT.

    Engine side: ONE corpus scan into the VALUE-BOUNDED per-score
    aggregate (pred_bp ∈ [0, 10000] ⇒ ≤ 10001 rows whatever the
    corpus size — map-side partials eat the fan-in), then the
    strictly-below negative prefix and the final ratio fold
    driver-side over those ≤ 10001 rows (the q_quality_calibration
    prefix-sum pattern; the pairwise O(P·N) comparison never
    materializes anywhere).  The oracle replays the same per-value
    accumulation with a window over the grouped relation."""
    docs = load_table(spark, sf_dir, "documents")
    byv = (
        _quality_scored(docs)
        .groupBy("pred_bp")
        .agg(
            F.sum("gold").alias("pos"),
            (F.count("*") - F.sum("gold")).alias("neg"),
        )
        .collect()
    )
    ddl = "n_pos BIGINT, n_neg BIGINT, auc_bp BIGINT"
    if not byv:
        return spark.createDataFrame([], ddl)
    p_tot = n_tot = num = cum = 0
    for r in sorted(byv, key=lambda t: int(t["pred_bp"])):
        pos, neg = int(r["pos"]), int(r["neg"])
        num += pos * 2 * cum + pos * neg
        cum += neg
        p_tot += pos
        n_tot += neg
    auc_bp = (
        5000
        if p_tot == 0 or n_tot == 0
        else (10000 * num) // (2 * p_tot * n_tot)
    )
    return spark.createDataFrame([(p_tot, n_tot, auc_bp)], ddl)
