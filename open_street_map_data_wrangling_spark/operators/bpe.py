"""BPE tokenizer training — subword merge learning as an engine job.

Training a tokenizer is a first-class step of a training-data
pipeline, and its core loop (count adjacent symbol pairs, merge the
most frequent, repeat) is an iterative aggregate the engine should
own.  Production trainers (the original BPE formulation and its
descendants) operate on the WORD-TYPE frequency table, not the raw
corpus, and so does this: the corpus is scanned once into
(word, freq) — vocabulary-sized by Heaps' law, millions of rows at
100 TB, not billions — and each of the N merge rounds is one
explode+aggregate over that table plus a row-local regexp rewrite.
Above scale.DRIVER_SOLVE_BOUND word types, per round the driver
receives exactly ONE row (the winning pair), the PQ-codebook
bounded-collect convention.  At or below the bound the table is
collected once and the same recurrence runs on the driver, because
a vocabulary of a few dozen types would otherwise pay a planned
Spark job per merge round; the Spark loop stays as the only path
for vocabularies too large to collect.

Merging is greedy left-to-right non-overlapping, implemented with a
zero-width-delimited regexp — `(?<= )l r(?= )` — so consecutive
matches can share a delimiter: in the run `a a a` the first merge
consumes `a a` but the lookahead leaves the middle space in the
input, giving `aa a`, the standard BPE result.  Java and Python
regex engines agree on this scan, which is what lets
tests/test_bpe.py replay the whole training loop in pure Python
(word freqs pulled via DuckDB, merges re-learned with re.sub) and
assert the learned merge table EXACTLY — the rows-only +
bit-exact-replay honesty class of q_semantic_dedup and q_pagerank,
since an N-round recurrence has no SQL twin.

Determinism: pair selection orders by (freq DESC, left ASC,
right ASC) — a total order, so ties cannot flap across partitionings
or engines.  Training stops early if no pair occurs twice.

DuckDB oracle (r08 promotion — formerly rows-only): RE2 lacks the
lookarounds the Java merge regexp uses, but greedy left-to-right
non-overlapping merging has an exact fold formulation — walk the
symbol list with a list accumulator, merging (acc[-1], x) into one
token when they equal the chosen pair, else appending.  A just-merged
token l||r can never equal l (r is non-empty), so the fold never
re-merges its own output within a round — precisely the zero-width-
delimiter regexp's semantics, expressed as DuckDB ``list_reduce``.
The 8 training rounds unroll into chained MATERIALIZED CTEs
(the q_pagerank / q_semantic_dedup fixed-iteration recipe), each
round = pair-count aggregate → 1-row argmax (LEFT JOIN ON TRUE so an
early-stopped round degrades to identity instead of emptying the
chain, mirroring the Spark break) → per-word fold rewrite.  Sound
because the corpus is printable ASCII (verified 32..121): Spark's
char split `regexp_replace(w, '(.)', '$1 ')` and DuckDB's
`string_split(w, '')` agree codepoint-for-codepoint, and both
engines compare ASCII strings with binary collation so tie-breaks
cannot flap.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.catalog import load_table

_BPE_STEPS = 8


def _bpe_chain_sql(steps: int = _BPE_STEPS) -> str:
    """The shared CTE chain: wf0 (word types as symbol lists) then,
    per round t, p{t} (pair counts) → t{t} (1-row argmax, empty when
    training would break) → wf{t} (fold-rewritten word types)."""
    ctes = [
        """wf0 AS MATERIALIZED (
            SELECT string_split(w, '') AS syms,
                   CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY w)"""
    ]
    for t in range(1, steps + 1):
        ctes.append(f"""p{t} AS MATERIALIZED (
            SELECT syms[i] AS l, syms[i + 1] AS r,
                   CAST(sum(freq) AS BIGINT) AS f
            FROM wf{t - 1}, unnest(range(1, len(syms))) AS u(i)
            GROUP BY 1, 2)""")
        ctes.append(f"""t{t} AS MATERIALIZED (
            SELECT l, r, f FROM p{t} WHERE f >= 2
            ORDER BY f DESC, l ASC, r ASC LIMIT 1)""")
        ctes.append(f"""wf{t} AS MATERIALIZED (
            SELECT CASE WHEN t.l IS NULL THEN w.syms ELSE
                list_reduce(
                    list_transform(w.syms, s -> [s]),
                    (acc, x) -> CASE
                        WHEN acc[-1] = t.l AND x[1] = t.r
                        THEN list_append(acc[1:len(acc) - 1], t.l || t.r)
                        ELSE list_concat(acc, x) END)
                END AS syms, w.freq
            FROM wf{t - 1} w LEFT JOIN t{t} t ON TRUE)""")
    return ",\n        ".join(ctes)


def _merges_oracle(steps: int = _BPE_STEPS) -> str:
    rows = "\n            UNION ALL ".join(
        f'SELECT CAST({t} AS INTEGER) AS step, l AS "left",'
        f' r AS "right", f AS pair_freq FROM t{t}'
        for t in range(1, steps + 1)
    )
    return f"""
        WITH {_bpe_chain_sql(steps)}
        SELECT * FROM (
            {rows}
        ) ORDER BY step
    """


def _encode_oracle(steps: int = _BPE_STEPS, topk: int = 15) -> str:
    return f"""
        WITH {_bpe_chain_sql(steps)},
        enc AS (
            SELECT token, CAST(sum(freq) AS BIGINT) AS n_occurrences
            FROM wf{steps}, unnest(syms) AS u(token)
            GROUP BY token)
        SELECT CAST(row_number() OVER (
                   ORDER BY n_occurrences DESC, token ASC) AS INTEGER)
                 AS rank,
               token,
               CAST(length(token) AS INTEGER) AS token_len,
               n_occurrences
        FROM enc
        ORDER BY n_occurrences DESC, token ASC
        LIMIT {topk}
    """


def _java_quote(s: str) -> str:
    """Literal-quote a learned symbol for a Java regex (\\Q…\\E, with
    the embedded-\\E escape, mirroring Pattern.quote)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def word_type_freqs(docs: DataFrame) -> DataFrame:
    """One corpus scan → (word, freq): the vocabulary-sized table BPE
    training iterates on."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def _train_bpe_local(
    wf: list[tuple[str, int]], steps: int
) -> tuple[list[tuple[int, str, str, int]], list[tuple[str, int]]]:
    """train_bpe's round recurrence on the driver, over the collected
    (seq, freq) word-type rows: the Spark loop's pair count
    (``split(trim(seq), ' ')`` is ``seq.strip(' ').split(' ')``), its
    (freq DESC, left ASC, right ASC) winner — Python compares str by
    code point, which is Spark's UTF-8 binary order — its ``f < 2`` /
    no-pair break, and its zero-width-delimited literal rewrite.
    Returns (merges, final word-type rows)."""
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, steps + 1):
        counts: dict[tuple[str, str], int] = {}
        for seq, freq in wf:
            syms = seq.strip(" ").split(" ")
            for pair in zip(syms, syms[1:]):
                counts[pair] = counts.get(pair, 0) + freq
        if not counts:
            break
        (l, r), f = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if f < 2:
            break
        merges.append((step, l, r, f))
        pat = re.compile(f"(?<= ){re.escape(l)} {re.escape(r)}(?= )")
        merged = l + r
        wf = [(pat.sub(lambda _: merged, seq), freq) for seq, freq in wf]
    return merges, wf


def train_bpe(
    spark: SparkSession,
    docs: DataFrame,
    steps: int = _BPE_STEPS,
    return_state: bool = False,
):
    """Learn `steps` BPE merges from the corpus; returns
    (step, left, right, pair_freq) in learning order — or, with
    ``return_state=True``, the tuple (merges, encoded_wf) where
    encoded_wf is the final (seq, freq) word-type table with ALL
    merges applied: training's last state IS the encoded vocabulary,
    so the application path costs nothing extra.

    State per round is the word-type table with each word as a
    space-delimited symbol sequence (leading/trailing space so the
    merge regexp's lookarounds hold at the edges).  The character
    split always runs in Spark: Java's ``.`` skips line terminators
    (``\\r``, ``\\u0085``, ``\\u2028``, ``\\u2029``) where Python's does
    not, so those characters stay glued to the next symbol on both
    paths.

    Path choice (scale.collect_if_small, one probe of the lazily
    checkpointed word-type table — the probe is the action that
    materializes the checkpoint, so above the bound the rounds read
    it without a second corpus scan): at most DRIVER_SOLVE_BOUND word
    types are collected once and trained on the driver
    (_train_bpe_local), the state returned as an Arrow local frame —
    a vocabulary of a few dozen types otherwise pays a planned Spark
    job per merge.  Above the bound the Spark loop runs: it is the
    only path for 100 TB-scale vocabularies.  Its rounds run through
    scale.spark_rounds at the width of the checkpointed word-type
    table; each round's ONE action — the top-pair collect, which
    training cannot avoid because the winning merge feeds the next
    round's regexp as a literal — is what materializes the previous
    round's lazily cut rewrite: per round the driver receives exactly
    ONE row."""
    from .scale import collect_if_small, local_frame, spark_rounds

    wf = (
        word_type_freqs(docs)
        .select(
            F.concat(
                F.lit(" "), F.expr("regexp_replace(w, '(.)', '$1 ')")
            ).alias("seq"),
            "freq",
        )
        .localCheckpoint(eager=False)
    )
    small = collect_if_small(wf, "bpe word types")
    if small is not None:
        merges, state = _train_bpe_local(
            [(r["seq"], r["freq"]) for r in small], steps
        )
        if return_state:
            return merges, local_frame(spark, state, "seq string, freq bigint")
        return merges
    merges = []

    def step(wf):
        top = (
            # single-symbol words carry no pairs (and sequence(0, -1)
            # would count DOWN in Spark — filter, don't guard)
            wf.where(F.expr("size(split(trim(seq), ' ')) >= 2"))
            .select(
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(split(trim(seq), ' ')) - 2),"
                        " i -> struct(split(trim(seq), ' ')[i] AS l,"
                        " split(trim(seq), ' ')[i + 1] AS r))"
                    )
                ).alias("p"),
                "freq",
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("f"))
            .orderBy(F.desc("f"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["f"] < 2:
            return None
        l, r, f = top[0]["l"], top[0]["r"], int(top[0]["f"])
        merges.append((len(merges) + 1, l, r, f))
        pat = f"(?<= ){_java_quote(l)} {_java_quote(r)}(?= )"
        # Java replacement strings treat BOTH '\' and '$' as escapes
        # (Matcher.quoteReplacement quotes exactly these two); escaping
        # only '$' silently dropped backslashes from merged symbols
        # ("\x" -> "x"), diverging from the pure-Python replay.
        # Backslash must be doubled FIRST or the '$' escape's own
        # backslash would be re-escaped.
        repl = (l + r).replace("\\", "\\\\").replace("$", "\\$")
        return wf.select(F.regexp_replace("seq", pat, repl).alias("seq"), "freq")

    wf, _ = spark_rounds(
        wf, step, width_of=wf, max_rounds=steps, what="bpe merges"
    )
    return (merges, wf) if return_state else merges


@query(
    "q_bpe_merges",
    oracle=_merges_oracle(),
    tags=("text", "iterative", "extension"),
)
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 8 learned BPE merges over the documents corpus, with
    each pair's frequency at the time it was chosen — the tokenizer-
    training artifact (a merges.txt prefix) as a query result.
    Hash-green as of r08 (formerly rows-only): the merge recurrence
    unrolls into MATERIALIZED CTEs with a list_reduce fold standing
    in for the lookaround merge regexp (see module docstring);
    tests/test_bpe.py additionally re-learns the same table in pure
    Python from DuckDB-extracted word frequencies."""
    from .scale import local_frame

    merges = train_bpe(spark, load_table(spark, sf_dir, "documents"))
    return local_frame(
        spark, merges, "step int, left string, right string, pair_freq bigint"
    )


_BPE_TOPK = 15


@query(
    "q_bpe_encode",
    oracle=_encode_oracle(),
    tags=("text", "iterative", "extension"),
)
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION — the other half of the BPE story: after
    learning the 8 merges, report the {_BPE_TOPK} most-used tokens of
    the encoded corpus (occurrences weighted by word-type frequency,
    i.e. true corpus counts), with token length — the vocabulary-usage
    report a tokenizer-training pipeline ships with its merges.txt.
    Training's final word-type state IS the encoded vocabulary
    (return_state=True), so application adds one explode+aggregate
    over the vocabulary-sized table — no second corpus scan, no
    per-document re-encode; at 100 TB the encode of the CORPUS is a
    broadcast join of this table back onto words, never a re-run of
    the merge regexes per document.  Hash-green as of r08 alongside
    q_bpe_merges (the encode oracle is the same unrolled chain plus
    one unnest+aggregate over the final word-type state);
    tests/test_bpe.py additionally re-encodes in pure Python."""
    from pyspark.sql import Window as _W

    _, wf = train_bpe(
        spark, load_table(spark, sf_dir, "documents"), return_state=True
    )
    toks = (
        wf.select(
            F.explode(F.split(F.trim("seq"), " ")).alias("token"), "freq"
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.sum("freq").cast("bigint").alias("n_occurrences"))
    )
    top = (
        toks.orderBy(F.desc("n_occurrences"), F.asc("token"))
        .limit(_BPE_TOPK)
        .withColumn(
            "rank",
            F.row_number()
            .over(_W.orderBy(F.desc("n_occurrences"), F.asc("token")))
            .cast("int"),
        )
    )
    return top.select(
        "rank", "token", F.length("token").cast("int").alias("token_len"),
        "n_occurrences",
    )


# ---------------------------------------------------------------------------
# X51 — per-language tokenizer-efficiency audit (r09)


def _efficiency_oracle(steps: int = _BPE_STEPS) -> str:
    return f"""
        WITH {_bpe_chain_sql(steps)},
        lw AS (
            SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
            FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
                  FROM documents)
            WHERE w <> '' GROUP BY lang, w),
        tok AS (
            SELECT array_to_string(syms, '') AS w,
                   CAST(len(syms) AS BIGINT) AS n_tok
            FROM wf{steps})
        SELECT lang,
               CAST(sum(freq) AS BIGINT) AS n_words,
               CAST(sum(freq * length(w)) AS BIGINT) AS n_chars,
               CAST(sum(freq * n_tok) AS BIGINT) AS n_bpe_tokens,
               CAST(100 * sum(freq * length(w)) // sum(freq * n_tok)
                    AS BIGINT) AS chars_per_tok_x100
        FROM lw JOIN tok USING (w)
        GROUP BY lang
    """


@query(
    "q_bpe_efficiency",
    oracle=_efficiency_oracle(),
    tags=("text", "iterative", "extension", "tokenizer"),
)
def q_bpe_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility (X51): after learning the 8
    merges corpus-wide, how efficiently does the vocabulary encode
    EACH language — words, characters, BPE tokens, and integer
    chars-per-token ×100 per lang.  This is the audit multilingual
    tokenizer work ships (languages under-represented at training
    time tokenize worse — lower chars/token — and the gap is the
    signal that feeds the next mixture plan), composed entirely from
    the promoted BPE machinery: training's final word-type state IS
    the encoding, so per-language accounting is one (lang, word)
    count join against the vocabulary-sized table.  The original
    word is reconstructed from its symbol sequence (merges only
    concatenate adjacent symbols, so the join key is exact).

    Scale shape: one corpus scan for (lang, word) freqs, one
    vocabulary-sized join keyed on the word, one ~#langs aggregate —
    re-encoding documents never happens (the q_bpe_encode
    broadcast-the-vocab argument)."""
    docs = load_table(spark, sf_dir, "documents")
    _, wf = train_bpe(spark, docs, return_state=True)
    tok = wf.select(
        F.expr("replace(trim(seq), ' ', '')").alias("w"),
        F.expr("CAST(size(split(trim(seq), ' ')) AS BIGINT)").alias("n_tok"),
    )
    lw = (
        docs.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )
    return (
        lw.join(tok, "w")
        .groupBy("lang")
        .agg(
            F.sum("freq").cast("bigint").alias("n_words"),
            F.sum(F.col("freq") * F.length("w")).cast("bigint").alias(
                "n_chars"
            ),
            F.sum(F.col("freq") * F.col("n_tok")).cast("bigint").alias(
                "n_bpe_tokens"
            ),
            F.expr(
                "CAST(100 * sum(freq * length(w)) "
                "div sum(freq * n_tok) AS BIGINT)"
            ).alias("chars_per_tok_x100"),
        )
    )


# ---------------------------------------------------------------------------
# X90 — corpus-scale BPE encode: per-document model-token counts (r12)


def bpe_vocab_table(wf: DataFrame) -> DataFrame:
    """(w, n_tok) — the trained tokenizer as a RELATION: each word
    type reconstructed from its final symbol sequence (merges only
    concatenate adjacent symbols, so the concat IS the original word
    and the key is exact/unique), with the number of model tokens
    the vocabulary spends on it.  This table is the X31 doc's scale
    recipe made first-class: encoding the CORPUS is a broadcast join
    of this vocabulary-sized table back onto words — the merge
    regexes never run per document."""
    return wf.select(
        F.expr("replace(trim(seq), ' ', '')").alias("w"),
        F.expr("CAST(size(split(trim(seq), ' ')) AS BIGINT)").alias(
            "n_tok"
        ),
    )


def bpe_doc_token_counts(docs: DataFrame, tok: DataFrame) -> DataFrame:
    """(doc_id, n_words, n_model_toks) for every document with at
    least one word: one corpus scan exploded to words, ONE broadcast
    join against the trained vocabulary (vocabulary-sized by Heaps'
    law — millions of rows at 100 TB, broadcastable; were it not,
    the same plan shuffles on the word key), one per-doc aggregate.
    Every corpus word is in the vocabulary by construction (the
    vocabulary was learned from this corpus), so the inner join
    drops nothing."""
    words = (
        docs.filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
    )
    return (
        words.join(F.broadcast(tok), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_words"),
            F.sum("n_tok").cast("bigint").alias("n_model_toks"),
        )
    )


def _token_counts_oracle(steps: int = _BPE_STEPS) -> str:
    return f"""
        WITH {_bpe_chain_sql(steps)},
        tok AS (
            SELECT array_to_string(syms, '') AS w,
                   CAST(len(syms) AS BIGINT) AS n_tok
            FROM wf{steps}),
        dw AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents WHERE doc_id IS NOT NULL),
        per AS (
            SELECT doc_id,
                   CAST(count(*) AS BIGINT) AS n_words,
                   CAST(sum(n_tok) AS BIGINT) AS n_model_toks
            FROM dw JOIN tok USING (w)
            WHERE w <> ''
            GROUP BY doc_id)
        SELECT doc_id, n_words, n_model_toks,
               CAST(100 * n_model_toks // n_words AS BIGINT)
                 AS toks_per_100_words
        FROM per
        ORDER BY doc_id
    """


@query(
    "q_bpe_token_counts",
    oracle=_token_counts_oracle(),
    tags=("text", "iterative", "extension", "tokenizer", "encode"),
)
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BPE encode (X90) — the materialized per-document
    MODEL-token accounting (VERDICT r11 #4): after learning the 8
    merges, every document's whitespace-word count, model-token
    count under the trained vocabulary, and integer fertility
    (tokens per 100 words).  This is the number every
    token-budgeted pipeline stage actually needs — loader batches,
    batch plans, and billing all count MODEL tokens, not whitespace
    — and q_loader_batches_model re-expresses the loader seam on
    exactly this column (consistency pinned in tests/test_bpe.py).

    Scale shape: training iterates on the vocabulary-sized word-type
    table (never the corpus); the encode is ONE corpus scan exploded
    to words + ONE broadcast vocabulary join + a per-doc aggregate —
    the merge regexes run zero times per document.  The oracle
    replays the identical accounting through the unrolled
    MATERIALIZED-CTE training chain."""
    docs = load_table(spark, sf_dir, "documents")
    _, wf = train_bpe(spark, docs, return_state=True)
    per = bpe_doc_token_counts(docs, bpe_vocab_table(wf))
    return per.select(
        "doc_id",
        "n_words",
        "n_model_toks",
        F.expr("CAST(100 * n_model_toks div n_words AS BIGINT)").alias(
            "toks_per_100_words"
        ),
    ).orderBy("doc_id")
