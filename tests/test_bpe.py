"""Determinism contract for operators/bpe.py (BPE training).

q_bpe_merges is rows-only at the driver (N-round recurrence, no SQL
twin).  The claim is carried here: the full training loop is
re-learned in pure Python from word frequencies extracted by DuckDB
— an independent engine end to end — and the merge tables must match
EXACTLY, including tie-breaks and pair frequencies.  The replay uses
re.sub with the same zero-width-delimited pattern, which scans
left-to-right non-overlapping exactly like Java's replaceAll, so
greedy merge semantics (``a a a`` → ``aa a``) agree by construction.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from open_street_map_data_wrangling_spark.operators import bpe
from open_street_map_data_wrangling_spark.plans import load_all_queries

SF = "/root/testdata/sf0.01"


def _replay(sf_dir: str, steps: int):
    """(merges, final seqs) — training replay AND the encoded
    word-type state, so the application test shares one source of
    truth with the training test."""
    con = duckdb.connect()
    freqs = con.execute(
        "SELECT tok, count(*) FROM (SELECT unnest(string_split(text, ' ')) "
        f"AS tok FROM read_parquet('{sf_dir}/documents.parquet')) "
        "WHERE tok <> '' GROUP BY tok"
    ).fetchall()
    seqs = {" " + " ".join(w) + " ": int(f) for w, f in freqs}
    merges = []
    for step in range(1, steps + 1):
        pc: Counter = Counter()
        for seq, f in seqs.items():
            syms = seq.split()
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += f
        if not pc:
            break
        # (freq DESC, left ASC, right ASC) — the engine's total order
        (l, r), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        if f < 2:
            break
        merges.append((step, l, r, f))
        pat = re.compile(f"(?<= ){re.escape(l)} {re.escape(r)}(?= )")
        seqs = {
            pat.sub((l + r).replace("\\", "\\\\"), seq): fv
            for seq, fv in seqs.items()
        }
    return merges, seqs


def test_bpe_merges_match_pure_python_replay(spark, fixpoint_path):
    got = [
        (r["step"], r["left"], r["right"], r["pair_freq"])
        for r in load_all_queries()["q_bpe_merges"].spark(spark, SF).collect()
    ]
    assert got == _replay(SF, bpe._BPE_STEPS)[0]
    assert len(got) == bpe._BPE_STEPS  # fixture corpus has 8 mergeable pairs


def test_bpe_backslash_symbols_survive_merge(spark, fixpoint_path):
    """Java replacement strings eat unescaped backslashes; a learned
    symbol containing '\\' (or '$') must survive the rewrite verbatim.
    Corpus: '\\a \\a b$ b$' repeated — the top pair is ('\\', 'a'),
    and after the merge the next pair is ('b', '$'); if the
    replacement dropped the backslash, step 2's left symbol would be
    'a', not '\\a'."""
    docs = spark.createDataFrame(
        [(i, "\\a \\a b$ b$") for i in range(3)], "doc_id int, text string"
    )
    merges = bpe.train_bpe(spark, docs, steps=2)
    assert merges == [(1, "\\", "a", 6), (2, "b", "$", 6)]


def test_bpe_greedy_run_semantics():
    """The delimiter-lookaround pattern must merge runs left-to-right
    non-overlapping: 'a a a' -> 'aa a', 'a a a a' -> 'aa aa'."""
    pat = re.compile("(?<= )a a(?= )")
    assert pat.sub("aa", " a a a ") == " aa a "
    assert pat.sub("aa", " a a a a ") == " aa aa "


def test_bpe_encode_matches_pure_python_replay(spark, fixpoint_path):
    """q_bpe_encode (rows-only at the driver) re-proven end to end:
    encode the replayed final word-type state, count token usage
    weighted by word frequency, and the Spark top-15 vocabulary-usage
    report must match exactly — rank, token, length, and counts."""
    _, seqs = _replay(SF, bpe._BPE_STEPS)
    usage: Counter = Counter()
    for seq, f in seqs.items():
        for tok in seq.split():
            usage[tok] += f
    expected = [
        (i + 1, tok, len(tok), n)
        for i, (tok, n) in enumerate(
            sorted(usage.items(), key=lambda kv: (-kv[1], kv[0]))[
                : bpe._BPE_TOPK
            ]
        )
    ]
    got = [
        (r["rank"], r["token"], r["token_len"], r["n_occurrences"])
        for r in load_all_queries()["q_bpe_encode"].spark(spark, SF).collect()
    ]
    assert got == expected
    # the learned merges actually show up in the served vocabulary:
    # at least one top token is multi-character
    assert any(ln > 1 for _, _, ln, _ in got)


def test_model_token_counts_consistent_with_loader_manifest(
    spark, fixpoint_path
):
    """X90/X91 consistency: the model-token loader manifest's total
    mass equals q_bpe_token_counts' per-doc sum (same vocabulary,
    same corpus — the two seams VERDICT r11 #4 said should meet),
    every batch's start offset lies in its own budget window (the
    greedy-fill invariant from q_loader_batches), and per-doc model
    tokens are bounded by words below and characters above (a merge
    only ever concatenates)."""
    from open_street_map_data_wrangling_spark.operators.bpe import (
        q_bpe_token_counts,
    )
    from open_street_map_data_wrangling_spark.operators.pipeline_ops import (
        _LOADER_BUDGET_MODEL,
        q_loader_batches_model,
    )

    sf = "/root/testdata/sf0.001"
    per = q_bpe_token_counts(spark, sf).collect()
    assert per
    for r in per:
        assert r["n_words"] <= r["n_model_toks"]  # >= 1 token per word
    total = sum(r["n_model_toks"] for r in per)
    man = q_loader_batches_model(spark, sf).collect()
    assert sum(r["toks"] for r in man) == total
    # greedy-fill: batch b starts in [b*B, (b+1)*B) of the running sum
    start = 0
    for r in sorted(man, key=lambda r: r["batch"]):
        assert start // _LOADER_BUDGET_MODEL == r["batch"]
        start += r["toks"]
    # chars upper bound: one token can never span beyond its word
    docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
    chars = {
        d["doc_id"]: sum(len(w) for w in (d["text"] or "").split(" ") if w)
        for d in docs
    }
    assert all(r["n_model_toks"] <= chars[r["doc_id"]] for r in per)


def _train_both(spark, monkeypatch, texts, steps):
    """train_bpe on ``texts`` down each fixpoint path: (merges, final
    (seq, freq) rows sorted, state dtypes) per path."""
    from open_street_map_data_wrangling_spark.operators import scale

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id int, text string"
    )
    out = {}
    for path, bound in (("driver", scale.DRIVER_SOLVE_BOUND), ("spark", -1)):
        monkeypatch.setattr(scale, "DRIVER_SOLVE_BOUND", bound)
        merges, wf = bpe.train_bpe(spark, docs, steps=steps, return_state=True)
        out[path] = (
            merges,
            sorted((r["seq"], r["freq"]) for r in wf.collect()),
            wf.dtypes,
        )
    return out


# regex metacharacters, '\\' and '$', non-ASCII and supplementary code
# points, line terminators Java's '.' skips (so they stay glued to the
# next symbol), and single-symbol words
_EDGE_CORPUS = [
    ".*+?()[]{}|^ .*+?()[]{}|^ \\$ \\$ a$b a$b",
    "ééé ééé 日本日本 日本 😀😀x 😀😀x 😀😀x 😀 a",
    "a\nb a\nb a\nb x\ry x\ry p\u2028q p\u2028q p\u2028q b\n \n",
    "[a] [a] (a) (a) a.b a.b ^a ^a",
]


@pytest.mark.parametrize(
    "texts, steps, n_merges",
    [
        (_EDGE_CORPUS, 30, 29),  # stops at f < 2 after 29 merges
        (["ab cd ef"], 4, 0),  # top pair has f < 2
        (["a b 😀 a"], 4, 0),  # single-symbol words only: no pair
    ],
    ids=["edge-corpus", "top-pair-once", "no-pairs"],
)
def test_bpe_paths_agree(spark, monkeypatch, texts, steps, n_merges):
    """The driver and Spark paths of train_bpe learn identical merges
    and leave identical final (seq, freq) multisets and dtypes."""
    got = _train_both(spark, monkeypatch, texts, steps)
    assert got["driver"] == got["spark"]
    assert len(got["driver"][0]) == n_merges


def test_bpe_merges_job_count_pinned(spark, count_jobs, sf_dir):
    """Under the bound, q_bpe_merges at sf0.001 is the word-type
    aggregate, the size probe that materializes its checkpoint, and
    the write: at most 5 jobs (12 when every merge round was a Spark
    job)."""
    q = load_all_queries()["q_bpe_merges"].spark

    def run():
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()

    run()
    assert count_jobs(run) <= 5
