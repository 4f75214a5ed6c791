"""Skew soak (VERDICT r13 #8): run the most shuffle-intensive
registry queries against the hostile Zipf fixture
(tools/gen_skew_fixture.py, 10x sf0.1 with hot tokens / hot users /
a 500-member duplicate family) under AQE skew-split, and record
straggler ratios from the Spark event log.

Methodology: one session, `spark.eventLog.enabled=true`; each query
runs inside its own job group, so JobStart events map every stage to
its query; per task the EXECUTOR RUN TIME metric is attributed to
its stage.  For each query we report its worst stage — the one with
the largest max task time — as (n_tasks, median_ms, max_ms,
max/median).  A ratio > ~4x on a multi-task stage marks a straggler
the next round should salt.

Writes SKEW.md.  Usage:
    python tools/gen_skew_fixture.py   # once
    python tools/skew_soak.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SKEW_DIR = os.environ.get("SKEW_DIR", "/tmp/skewdata")
LOG_DIR = "/tmp/skew-eventlog"

# the shuffle-heavy set the verdict names: token joins, batched
# retrieval, dedup chains, the rewrite composition, event windows
QUERIES = [
    "q_dedup_near",          # runs (and caches) the LSH pipeline
    "q_wordcount",
    "q_tfidf",
    "q_lm_surprisal",
    "q_bm25_batch",
    "q_maxsim_batch",
    "q_dedup_clusters",
    "q_keep_best_containment",
    "q_pack_sequences",
    "q_training_corpus",
    "q_sessionize",
    "q_top_users",
    # r15 additions: the new per-source window/rollup operators (the
    # fixture's Zipf source distribution is their hostile case) and
    # the scan-heavy PII audit
    "q_source_quota_gate",
    "q_datasheet",
    "q_pii_audit",
    # r16 additions (VERDICT r15 #5): the rewritten two-pass-rank
    # calibration, the decayed heavy hitters (user 0's 20% of events
    # is exactly their hot key) inline + served, and range search
    # inline + served over the fixture's hot-cluster embeddings
    # (30% of vectors collapse into a handful of IVF cells)
    "q_quality_calibration",
    "q_decayed_topk",
    "q_decayed_topk_served",
    "q_ann_range",
    "q_ann_range_served",
    # Gini concentration (X134/X137): user 0's 20% ownership and the
    # Zipf source mix are their exact stress cases (the
    # per-distinct-value folds stay tiny)
    "q_gini",
    "q_gini_by_source",
    # staircase + value-bounded evals over the hot-score corpus
    "q_pareto_front",
    "q_quality_auc",
    # served drift: 3-wave streaming-merge build + 128-row serve
    "q_embedding_drift_served",
    # KS value-distribution drift (X138)
    "q_ks_drift",
]


def main() -> None:
    os.makedirs(LOG_DIR, exist_ok=True)
    from pyspark.sql import SparkSession

    from open_street_map_data_wrangling_spark.session import default_driver_memory

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            "64KB",
        )
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file:{LOG_DIR}")
        .config("spark.ui.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .appName("skew-soak")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from open_street_map_data_wrangling_spark.plans import load_all_queries
    from open_street_map_data_wrangling_spark.sources.catalog import (
        apply_runtime_conf,
    )

    apply_runtime_conf(spark)
    specs = load_all_queries()
    wall: dict[str, float] = {}
    rows_out: dict[str, int] = {}
    for name in QUERIES:
        spark.sparkContext.setJobGroup(name, name)
        t0 = time.time()
        rows_out[name] = len(specs[name].spark(spark, SKEW_DIR).collect())
        wall[name] = time.time() - t0
        spark.sparkContext.setJobGroup("", "")
        print(f"{name}: {wall[name]:.1f}s, {rows_out[name]} rows", flush=True)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # Spark 4 writes rolling v2 event logs: a directory
    # eventlog_v2_<appId> holding events_N_<appId> part files
    single = os.path.join(LOG_DIR, app_id)
    if os.path.isfile(single):
        log_files = [single]
    else:
        import glob as _glob

        log_files = sorted(
            _glob.glob(
                os.path.join(LOG_DIR, f"eventlog_v2_{app_id}", "events_*")
            )
        )
    stage_to_query: dict[int, str] = {}
    stage_tasks: dict[int, list[float]] = {}
    for lf in log_files:
        if lf.endswith(".zstd"):
            # Spark 4 zstd-compresses rolling event logs by default;
            # this container has the zstd CLI but no Python binding
            import subprocess

            text = subprocess.run(
                ["zstd", "-dc", lf], capture_output=True, check=True
            ).stdout.decode()
            _parse(text.splitlines(), stage_to_query, stage_tasks)
        else:
            with open(lf) as f:
                _parse(f, stage_to_query, stage_tasks)

    lines = _report(stage_to_query, stage_tasks, wall, rows_out)
    with open(
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SKEW.md",
        ),
        "w",
    ) as f:
        f.write("\n".join(lines))
    print("\n".join(lines))


def _parse(f, stage_to_query, stage_tasks) -> None:
    for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", ""
                )
                if group in QUERIES:
                    for si in ev.get("Stage Infos", []):
                        stage_to_query[si["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd":
                sid = ev.get("Stage ID")
                tm = (ev.get("Task Metrics") or {}).get(
                    "Executor Run Time"
                )
                if sid is not None and tm is not None:
                    stage_tasks.setdefault(sid, []).append(float(tm))


def _report(stage_to_query, stage_tasks, wall, rows_out) -> list:
    lines = [
        "# SKEW.md — straggler soak on the hostile Zipf fixture (r16)",
        "",
        f"Fixture: `{SKEW_DIR}` (tools/gen_skew_fixture.py — 50k docs /",
        "1M events / 20k embeddings, 10x sf0.1; hot token in ~every",
        "doc, user 0 owns 20% of events, 500-member verbatim duplicate",
        "family, 90/6/4 lang skew, Zipf sources, 30% of vectors in one",
        "hot IVF cluster).  Session: local[32], AQE + skew-join ON,",
        "task times = Executor Run Time from the event log.  Cold",
        "content-tagged caches: served queries' walls INCLUDE their",
        "index build; ratios cover the build-side stages too.",
        "",
        "Per query, the WORST stage (largest max task time):",
        "",
        "| query | wall s | rows | worst stage tasks | median ms |"
        " max ms | max/median |",
        "| --- | --- | --- | --- | --- | --- | --- |",
    ]
    flagged: list[str] = []
    for name in QUERIES:
        stages = [s for s, q in stage_to_query.items() if q == name]
        best = None
        for s in stages:
            ts = stage_tasks.get(s)
            if not ts:
                continue
            med = statistics.median(ts)
            mx = max(ts)
            if best is None or mx > best[2]:
                best = (len(ts), med, mx)
        if best is None:
            lines.append(f"| {name} | {wall[name]:.1f} | {rows_out[name]} "
                         f"| - | - | - | - |")
            continue
        n, med, mx = best
        ratio = mx / med if med > 0 else float("inf")
        mark = " ⚠" if (ratio > 4.0 and n >= 8 and mx > 1000) else ""
        if mark:
            flagged.append(name)
        lines.append(
            f"| {name} | {wall[name]:.1f} | {rows_out[name]} | {n} "
            f"| {med:.0f} | {mx:.0f} | {ratio:.1f}{mark} |"
        )
    lines += [
        "",
        "⚠ = max/median > 4 on a ≥8-task stage with a >1 s straggler —",
        "the salting threshold VERDICT r13 set.",
        "",
        (
            f"Flagged: {', '.join(flagged)}."
            if flagged
            else "Flagged: none — every multi-task stage's straggler "
            "ratio is within the 4x bound under AQE skew handling."
        ),
        "",
        "Cache attribution: queries that serve from content-tagged",
        "index-cache artifacts report the SERVE path when the artifact",
        "was already built; run once with a cold /tmp to measure the",
        "build-side stages (their ratios are part of the soak too).",
        "",
    ]
    return lines


if __name__ == "__main__":
    main()
