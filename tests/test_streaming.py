"""Structured Streaming tests: drive each job with availableNow into
a memory sink and check against the batch-equivalent logic (batch is
the oracle for streaming — SURVEY.md §2.9)."""

import uuid

import pytest

from pyspark.sql import functions as F

from open_street_map_data_wrangling_spark.sources.catalog import load_table
from open_street_map_data_wrangling_spark.streaming import (
    deduped_events,
    events_file_stream,
    run_to_memory,
    sessionized_counts,
    tumbling_counts,
    user_running_counts,
)


@pytest.fixture(scope="module")
def stream_src(spark, sf_dir, tmp_path_factory):
    """Write a 300-row slice of events as a µs-timestamp parquet dir —
    the file-source a streaming job would tail."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    events = load_table(spark, sf_dir, "events").orderBy("event_id").limit(300)
    events.write.mode("overwrite").parquet(path)
    return path


def _batch(spark, path):
    return spark.read.parquet(path)


def test_tumbling_stream_matches_batch(spark, stream_src):
    stream = events_file_stream(spark, stream_src)
    got = run_to_memory(tumbling_counts(stream), f"t_{uuid.uuid4().hex[:8]}")
    exp = (
        _batch(spark, stream_src)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "cnt")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_dedup_stream(spark, stream_src):
    stream = events_file_stream(spark, stream_src)
    got = run_to_memory(
        deduped_events(stream), f"d_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    n_src = _batch(spark, stream_src).count()
    assert got.count() == _batch(spark, stream_src).select("event_id").distinct().count()
    assert got.count() <= n_src


def test_session_stream(spark, stream_src):
    stream = events_file_stream(spark, stream_src)
    got = run_to_memory(sessionized_counts(stream), f"s_{uuid.uuid4().hex[:8]}")
    total = got.agg(F.sum("n_events")).collect()[0][0]
    assert total == _batch(spark, stream_src).count()
    # session windows must not overlap per user
    rows = got.orderBy("user_id", "start_us").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append((r.start_us, r.end_us))
    for spans in by_user.values():
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_stateful_running_counts(spark, stream_src):
    stream = events_file_stream(spark, stream_src)
    got = run_to_memory(
        user_running_counts(stream), f"u_{uuid.uuid4().hex[:8]}", output_mode="update"
    )
    exp = (
        _batch(spark, stream_src).groupBy("user_id").agg(F.count("*").alias("n_events"))
    )
    # memory sink in update mode may hold several versions; take the max
    final = got.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    assert sorted(map(tuple, final.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_parquet_sink_roundtrip(spark, stream_src, tmp_path):
    """Streaming sink coverage: stream -> transform -> parquet sink
    with checkpoint, read back as batch and compare to batch twin."""
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = events_file_stream(spark, stream_src)
    q = (
        tumbling_counts(stream)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out)
    # append mode emits only watermark-finalized windows: a subset of
    # the batch result, never contradicting it
    exp = {
        (r.win_start_us, r.event_type): r.cnt
        for r in _batch(spark, stream_src)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "cnt")
        .collect()
    }
    got = back.collect()
    assert len(got) > 0
    for r in got:
        assert exp[(r.win_start_us, r.event_type)] == r.cnt


def test_incremental_hourly_rollup(spark, tmp_path):
    """Two micro-batches of events must leave the rollup equal to the
    batch aggregate of all events seen (the continuous-aggregate
    invariant), rewriting only touched hour partitions."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        incremental_hourly_rollup,
    )

    src = str(tmp_path / "src")
    target = str(tmp_path / "rollup")

    def mk(rows):
        return spark.createDataFrame(
            [(i, ts, 1, et, 1.0, "{}") for i, (ts, et) in enumerate(rows)],
            "event_id long, ts_s string, user_id long, event_type string, value double, props string",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        )

    mk([("2024-01-01 10:05:00", "click"), ("2024-01-01 10:20:00", "view"),
        ("2024-01-01 11:05:00", "click")]).write.mode("overwrite").parquet(src)
    stream = events_file_stream(spark, src)
    q = incremental_hourly_rollup(stream, target)
    try:
        q.processAllAvailable()
        # second batch touches hour 11 only (hour 10 partition untouched)
        mk([("2024-01-01 11:30:00", "click"), ("2024-01-01 11:45:00", "view")]).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.hour_key, r.event_type): r.cnt
        for r in spark.read.parquet(target).collect()
    }
    # partition-column values come back type-inferred (int)
    assert got == {
        (2024010110, "click"): 1,
        (2024010110, "view"): 1,
        (2024010111, "click"): 2,
        (2024010111, "view"): 1,
    }


def test_stream_static_join(spark, stream_src):
    """Stream-static join: a streaming fact enriched by a static
    (broadcastable) dimension — the standard streaming enrichment
    pattern; the static side is re-resolved per micro-batch."""
    static_dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement"),
         ("purchase", "revenue"), ("signup", "growth"), ("error", "ops")],
        "event_type string, category string",
    )
    stream = events_file_stream(spark, stream_src)
    enriched = (
        stream.join(F.broadcast(static_dim), "event_type")
        .groupBy("category")
        .agg(F.count("*").alias("cnt"))
    )
    got = run_to_memory(enriched, f"ss_{uuid.uuid4().hex[:8]}")
    exp = (
        _batch(spark, stream_src)
        .join(static_dim, "event_type")
        .groupBy("category")
        .agg(F.count("*").alias("cnt"))
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_stream_stream_join(spark, stream_src):
    """Stream-stream interval join vs its batch twin."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        signup_purchase_correlation,
    )

    stream = events_file_stream(spark, stream_src)
    got = run_to_memory(
        signup_purchase_correlation(stream),
        f"ssj_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    )
    b = _batch(spark, stream_src)
    s = b.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("su"), F.col("ts").alias("s_ts")
    )
    p = b.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts"), F.col("value")
    )
    exp = s.join(
        p,
        (s.su == p.pu)
        & (p.p_ts >= s.s_ts)
        & (p.p_ts <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("su").alias("user_id"),
        F.unix_micros("s_ts").alias("signup_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
        F.col("value").alias("p_value"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))


def test_dedup_within_watermark_stream(spark, stream_src):
    """dropDuplicatesWithinWatermark (Spark 3.5+): unlike plain
    dropDuplicates, state for a key is evicted once the watermark
    passes it, so unbounded streams don't grow state forever — the
    production shape for at-least-once source dedup. On this bounded
    fixture (no late duplicates beyond the delay) its output must
    equal exact distinct-by-event_id."""
    stream = events_file_stream(spark, stream_src)
    deduped = stream.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    got = run_to_memory(
        deduped.select("event_id"), f"dw_{uuid.uuid4().hex[:8]}", output_mode="append"
    )
    exp = _batch(spark, stream_src).select("event_id").distinct().count()
    assert got.count() == exp


def test_asof_enrichment_stream(spark, stream_src):
    """Streaming as-of enrichment must agree with the batch as-of join
    when the whole stream arrives in order (the availableNow single
    pass over an ordered fixture): same purchase count, and every
    enriched row's click is at-or-before its purchase for that user."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        asof_enriched_purchases,
    )

    stream = events_file_stream(spark, stream_src)
    got = run_to_memory(
        asof_enriched_purchases(stream),
        f"ae_{uuid.uuid4().hex[:8]}",
        output_mode="append",
    ).collect()

    batch = _batch(spark, stream_src)
    n_purchases = batch.filter(F.col("event_type") == "purchase").count()
    assert len(got) == n_purchases
    assert any(r["click_id"] is not None for r in got)
    for r in got:
        if r["click_id"] is not None:
            assert r["click_ts_us"] <= r["p_ts_us"]

    # exact agreement with the batch union+window as-of on this slice
    from pyspark.sql import Window as W

    clicks = batch.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.lit(0).alias("tag"),
        F.col("event_id").alias("click_id"),
        F.lit(None).cast("bigint").alias("purchase_id"),
    )
    purchases = batch.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.lit(1).alias("tag"),
        F.lit(None).cast("bigint").alias("click_id"),
        F.col("event_id").alias("purchase_id"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    exp = {
        r["purchase_id"]: r["click_id"]
        for r in clicks.unionByName(purchases)
        .select(
            "purchase_id",
            F.last("click_id", ignorenulls=True).over(w).alias("click_id"),
            "tag",
        )
        .filter(F.col("tag") == 1)
        .collect()
    }
    assert {r["purchase_id"]: r["click_id"] for r in got} == exp


def test_quality_gated_ingest_chain(spark, stream_src):
    """The composed streaming ingest (validate → stateful dedup →
    windowed admit counts) equals the same chain run as a batch
    query over the identical input — micro-batch execution is an
    implementation detail, not a semantics change."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        quality_gated_ingest,
    )

    stream = events_file_stream(spark, stream_src)
    got = run_to_memory(quality_gated_ingest(stream), f"q_{uuid.uuid4().hex[:8]}")
    ok = (
        F.col("user_id").isNotNull()
        & F.col("value").between(0, 100)
        & F.col("event_type").isin("click", "view", "signup", "purchase", "error")
    )
    exp = (
        _batch(spark, stream_src)
        .filter(ok)
        .dropDuplicates(["event_id"])
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F.count("*").alias("n_admitted"))
        .select(
            F.unix_micros("w.start").alias("win_start_us"),
            "event_type",
            "n_admitted",
        )
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, exp.collect()))
    assert got.count() > 0


def test_scd2_dimension_maintenance(spark, tmp_path):
    """Two delta batches must leave full type-2 history: changed keys
    carry a closed-out old version plus a current row at the new
    generation; untouched and inserted keys stay current."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        scd2_dimension_maintenance,
    )

    src = str(tmp_path / "deltas")
    target = str(tmp_path / "dim")

    def mk(rows):
        return spark.createDataFrame(rows, "k long, bal double, seg string")

    mk([(1, 10.0, "A"), (2, 20.0, "B")]).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("k long, bal double, seg string").parquet(src)
    q = scd2_dimension_maintenance(stream, target)
    try:
        q.processAllAvailable()
        mk([(1, 15.0, "A"), (2, 20.0, "B"), (3, 30.0, "C")]).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        (r.k, r.bal, r.seg, r.version, r.is_current)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {
        (1, 10.0, "A", 1, False),  # closed out by the generation-2 change
        (1, 15.0, "A", 2, True),
        (2, 20.0, "B", 1, True),   # no-op update: no new version
        (3, 30.0, "C", 2, True),   # insert arrives at generation 2
    }


def test_incremental_near_dedup_stream(spark, tmp_path):
    """Batch 2's near-copy of an accepted batch-1 doc must be
    rejected by the signature store; its genuinely new doc must be
    accepted; batch-internal duplicates resolve to the lowest id."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        incremental_near_dedup,
    )

    src = str(tmp_path / "docs")
    store = str(tmp_path / "store")
    out = str(tmp_path / "accepted")

    base = "the quick brown fox jumps over the lazy dog again and again today"
    distinct = "completely different content about spark adaptive query execution plans"
    fresh = "yet another unrelated document concerning parquet row group statistics"

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # batch 1: two distinct docs + an in-batch near-dup of doc 1
    mk([(1, base), (2, distinct), (3, base + " extra")]).write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = incremental_near_dedup(stream, store, out)
    try:
        q.processAllAvailable()
        # batch 2: near-copy of accepted doc 1 + a genuinely new doc
        mk([(10, base + " more"), (11, fresh)]).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    )
    assert accepted == [1, 2, 11]


def test_rollup_merge_is_retry_safe(spark, tmp_path):
    """A redelivered batch id must not double-count: the applied-batch
    marker makes re-running merge(batch, id) a no-op."""
    from open_street_map_data_wrangling_spark.streaming.jobs import rollup_merge_fn

    target = str(tmp_path / "rollup")
    merge = rollup_merge_fn(spark, target)
    batch = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    merge(batch, 0)
    first = {(r.hour_key, r.event_type): r.cnt for r in spark.read.parquet(target).collect()}
    merge(batch, 0)  # redelivery of the same batch id
    again = {(r.hour_key, r.event_type): r.cnt for r in spark.read.parquet(target).collect()}
    assert first == again == {(2024010110, "click"): 1}
    merge(batch, 1)  # a genuinely new batch still merges
    assert {
        (r.hour_key, r.event_type): r.cnt for r in spark.read.parquet(target).collect()
    } == {(2024010110, "click"): 2}


def test_near_dedup_merge_is_retry_safe(spark, tmp_path):
    """A redelivered near-dedup batch must reproduce its first
    attempt, not reject its own docs against the signatures that
    attempt stored (the self-partition is excluded from the probe)."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        near_dedup_merge_fn,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "accepted")
    merge = near_dedup_merge_fn(spark, store, out)
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    merge(b1, 0)
    first = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert first == [1]
    merge(b1, 0)  # redelivery: must keep doc 1, not reject it
    again = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert again == [1]


def test_scd2_three_generations_and_empty_batch(spark, tmp_path):
    """Generations must keep stacking (v1 change then v2 change to
    the same key leaves two closed rows + one current) and an empty
    delta batch must leave the dimension untouched."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        scd2_dimension_maintenance,
    )

    src = str(tmp_path / "deltas")
    target = str(tmp_path / "dim")

    def mk(rows):
        return spark.createDataFrame(rows, "k long, bal double, seg string")

    mk([(1, 10.0, "A")]).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("k long, bal double, seg string").parquet(src)
    q = scd2_dimension_maintenance(stream, target)
    try:
        q.processAllAvailable()
        mk([(1, 20.0, "A")]).write.mode("append").parquet(src)
        q.processAllAvailable()
        mk([(1, 30.0, "A")]).write.mode("append").parquet(src)
        q.processAllAvailable()
        snapshot = {
            (r.k, r.bal, r.version, r.is_current)
            for r in spark.read.parquet(target).collect()
        }
        # empty batch: a file with zero rows must not bump generations
        mk([]).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    final = {
        (r.k, r.bal, r.version, r.is_current)
        for r in spark.read.parquet(target).collect()
    }
    assert final == snapshot == {
        (1, 10.0, 1, False),
        (1, 20.0, 2, False),
        (1, 30.0, 3, True),
    }


def test_near_dedup_batch_internal_clique(spark, tmp_path):
    """Near-identical docs inside ONE batch must admit only the
    lowest id: 2 and 3 each collide with surviving doc 1, so both are
    rejected under id-order greedy selection."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        near_dedup_merge_fn,
    )

    store = str(tmp_path / "store")
    out = str(tmp_path / "accepted")
    merge = near_dedup_merge_fn(spark, store, out)
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    batch = spark.createDataFrame(
        [(1, base), (2, base + " mu"), (3, base + " nu")],
        "doc_id long, text string",
    )
    merge(batch, 0)
    accepted = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert accepted == [1]


def test_greedy_chain_rejects_semantics(spark):
    """Id-order greedy selection: a doc is rejected only against a
    SURVIVING lower-id neighbor.  Chain 1~2, 2~3: 2 falls to 1, but 3
    survives because its only near-dup (2) did not survive — the
    reject-every-doc_b form silently lost 3.  Diamond 1~2, 2~4, 3~4:
    1 and 3 survive, 2 falls to 1, 4 falls to surviving 3."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        greedy_chain_rejects,
    )

    def pairs(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    def rejected(rows):
        return sorted(
            r["doc_id"] for r in greedy_chain_rejects(pairs(rows)).collect()
        )

    assert rejected([(1, 2), (2, 3)]) == [2]
    assert rejected([(1, 2), (2, 4), (3, 4)]) == [2, 4]
    # triangle: both higher members collide with surviving 1
    assert rejected([(1, 2), (1, 3), (2, 3)]) == [2, 3]
    # two sources sharing one sink: 5 falls, 2 and 3 both survive
    assert rejected([(2, 5), (3, 5)]) == [5]
    # empty pair set: nothing rejected
    assert rejected([]) == []


def test_near_dedup_soak_restart_and_redeliver(spark, tmp_path):
    """Multi-batch crash/restart soak for the signature store: three
    stop/restart cycles of the real StreamingQuery (fresh query object
    per cycle, same checkpoint) with a direct redelivery of an
    already-committed batch injected between cycles — simulating a
    crash between the marker write and the checkpoint commit.  The
    accepted set must equal a clean no-failure sequential run's."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        incremental_near_dedup,
        near_dedup_merge_fn,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    uniq2 = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    uniq4 = "zero one two three four five six seven eight nine ten eleven"
    batches = [
        # b0: two unique docs
        [(1, base), (2, uniq2)],
        # b1: 3 near-dups accepted 1 (store reject); 4 unique
        [(3, base + " mu"), (4, uniq4)],
        # b2: 5 near-dups 4 (store reject); 6/7 an in-batch pair on
        # FRESH text (7 falls to surviving 6); 8 unique
        [
            (5, uniq4 + " nu"),
            (6, "red orange yellow green blue indigo violet cyan magenta pink"),
            (7, "red orange yellow green blue indigo violet cyan magenta pink maroon"),
            (8, "omega psi chi phi upsilon tau sigma rho qoppa san sho je"),
        ],
    ]

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    # clean reference run: direct merge calls, no failures
    ref_store, ref_out = str(tmp_path / "ref_store"), str(tmp_path / "ref_out")
    ref_merge = near_dedup_merge_fn(spark, ref_store, ref_out)
    for bid, rows in enumerate(batches):
        ref_merge(mk(rows), bid)
    expected = sorted(r["doc_id"] for r in spark.read.parquet(ref_out).collect())
    assert expected == [1, 2, 4, 6, 8]  # the soak must reproduce THIS

    # soaked run: real stream, one batch per restart cycle, redelivery
    # of the previous committed batch injected between cycles
    src = str(tmp_path / "src")
    store, out = str(tmp_path / "store"), str(tmp_path / "out")
    merge = near_dedup_merge_fn(spark, store, out)
    for bid, rows in enumerate(batches):
        mode = "overwrite" if bid == 0 else "append"
        mk(rows).write.mode(mode).parquet(src)
        stream = spark.readStream.schema("doc_id long, text string").parquet(src)
        q = incremental_near_dedup(stream, store, out)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        # crash-replay: the just-committed batch arrives again
        merge(mk(rows), bid)

    got = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert got == expected


def test_scd2_soak_survives_restarts(spark, tmp_path):
    """SCD2 crash/restart soak: three generations applied across three
    separate StreamingQuery incarnations sharing one checkpoint must
    stack exactly like the single-query run (versions are a pure
    function of batch arrival order, not query lifetime)."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        scd2_dimension_maintenance,
    )

    src = str(tmp_path / "deltas")
    target = str(tmp_path / "dim")

    def mk(rows):
        return spark.createDataFrame(rows, "k long, bal double, seg string")

    gens = [[(1, 10.0, "A")], [(1, 20.0, "A"), (2, 5.0, "B")], [(1, 30.0, "A")]]
    for i, rows in enumerate(gens):
        mode = "overwrite" if i == 0 else "append"
        mk(rows).write.mode(mode).parquet(src)
        stream = spark.readStream.schema("k long, bal double, seg string").parquet(src)
        q = scd2_dimension_maintenance(stream, target)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    final = {
        (r.k, r.bal, r.version, r.is_current)
        for r in spark.read.parquet(target).collect()
    }
    assert final == {
        (1, 10.0, 1, False),
        (1, 20.0, 2, False),
        (1, 30.0, 3, True),
        (2, 5.0, 2, True),
    }


def test_hll_sketch_maintenance_matches_batch_and_survives_replay(
    spark, tmp_path
):
    """Two micro-batches of events must leave the register store
    bit-identical to hll_registers() over all events seen (the
    streaming = batch sketch invariant), and re-applying the LAST
    batch's merge by hand — the at-least-once redelivery case — must
    leave the store unchanged because register max is idempotent."""
    from open_street_map_data_wrangling_spark.operators.sketches import (
        hll_registers,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        hll_merge_fn,
        hll_sketch_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "hll_store")

    def mk(first_id, n, et):
        return spark.createDataFrame(
            [
                (first_id + i, "2024-01-01 10:00:00", 1, et, 1.0, "{}")
                for i in range(n)
            ],
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )

    batch1 = mk(0, 300, "click")
    batch2 = mk(300, 200, "view")
    batch1.write.mode("overwrite").parquet(src)
    stream = events_file_stream(spark, src)
    q = hll_sketch_maintenance(stream, store)
    try:
        q.processAllAvailable()
        batch2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    def regs_of(path):
        return {
            (r.event_type, r.b, r.m)
            for r in spark.read.parquet(path).collect()
        }

    expected = {
        (r.event_type, r.b, r.m)
        for r in hll_registers(
            batch1.unionByName(batch2), "event_type", "event_id"
        )
        .select("event_type", "b", "m")
        .collect()
    }
    assert regs_of(store) == expected

    # redelivery: merging batch2 again must be a no-op
    hll_merge_fn(spark, store)(batch2, batch_id=999)
    assert regs_of(store) == expected

    # mid-commit crash: the stage-rename protocol's only window is
    # between store-delete and stage-rename.  Simulate it (store gone,
    # complete stage present) and verify the next merge recovers the
    # staged state before reading — no registers lost.
    import os

    os.rename(store, f"{store}_stage")
    hll_merge_fn(spark, store)(batch2, batch_id=999)
    assert regs_of(store) == expected


def test_cms_counter_maintenance_needs_and_uses_markers(spark, tmp_path):
    """The additive-counter contrast to the HLL store: two batches
    must leave counters equal to the batch CMS over all documents;
    a redelivered batch must be a no-op ONLY because of the
    applied-batch marker (counter addition itself double-counts,
    which the test proves by deleting the marker and re-merging)."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        cms_counter_maintenance,
        cms_merge_fn,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "cms_store")

    def mk(first_id, texts):
        return spark.createDataFrame(
            [(first_id + i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )

    # the doubled space is deliberate: split(' ') emits an empty token
    # in BOTH engines and the batch CMS counts it, so the store must
    # too (dropping empties streaming-side broke store == batch)
    b1 = mk(0, ["the cat sat", "the  dog ran"])
    b2 = mk(10, ["the cat ran far "])
    b1.write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(b1.schema).parquet(src)
    )
    q = cms_counter_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    def counters():
        return {
            (r.d, r.pos): r.c for r in spark.read.parquet(store).collect()
        }

    got = counters()
    # invariant: store == batch CMS over the concatenated corpus
    from pyspark.sql import functions as SF

    from open_street_map_data_wrangling_spark.operators.sketches import (
        _CMS_D,
        _CMS_W,
    )

    tf = (
        b1.unionByName(b2)
        .select(SF.explode(SF.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(SF.count("*").cast("bigint").alias("n"))
    )
    expected = {}
    for d in range(_CMS_D):
        for r in tf.groupBy(
            SF.expr(
                f"CAST(conv(substring(md5(concat('c{d}:', tok)), 1, 12),"
                f" 16, 10) AS BIGINT) % {_CMS_W}"
            ).alias("pos")
        ).agg(SF.sum("n").cast("bigint").alias("c")).collect():
            expected[(d, r.pos)] = r.c
    assert got == expected

    # redelivery with the marker present: no-op (markers live INSIDE
    # the store dir so they commit atomically with the counters)
    cms_merge_fn(spark, store)(b2, batch_id=1)
    assert counters() == got
    # proof the MARKER is what saves us: drop it and the same replay
    # double-counts batch 2's tokens
    import glob
    import os

    markers = glob.glob(f"{store}/_applied_*")
    assert markers, "store should carry in-store applied markers"
    for p in markers:
        os.remove(p)
    cms_merge_fn(spark, store)(b2, batch_id=1)
    assert counters() != got


def test_ivfpq_index_maintenance_matches_rebuild_and_survives_replay(
    spark, tmp_path
):
    """Streaming index freshness: build the persisted IVF-PQ index
    from the first 300 vectors, stream the remaining 200 in two
    micro-batches, and the maintained index must serve EXACTLY what a
    from-scratch rebuild over all 500 serves (one projection, one
    codebook — byte-identical codes).  Then replay a batch through
    the merge fn directly: the dynamic-partition-overwrite layout
    must leave the codes table unchanged (idempotence from layout,
    no markers)."""
    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.sources.catalog import load_table
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        ivfpq_codes_merge_fn,
        ivfpq_index_maintenance,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.filter(F.col("vec_id") < 300)
    rest = emb.filter(F.col("vec_id") >= 300)

    maintained = str(tmp_path / "ivfpq_maint")
    pq.build_ivfpq_index(base, maintained)

    src = str(tmp_path / "vec_arrivals")
    rest.filter(F.col("vec_id") < 400).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "vec_id bigint, embedding array<float>"
    ).parquet(src)
    q = ivfpq_index_maintenance(stream, maintained)
    try:
        q.processAllAvailable()
        rest.filter(F.col("vec_id") >= 400).write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    rebuilt = str(tmp_path / "ivfpq_rebuild")
    pq.build_ivfpq_index(emb, rebuilt)

    # identical code rows (ignoring the batch sublevel) ...
    cols = ["vec_id", "cid", "code0", "code1", "code2", "code3"]
    got = {tuple(r) for r in spark.read.parquet(f"{maintained}/codes").select(*cols).collect()}
    want = {tuple(r) for r in spark.read.parquet(f"{rebuilt}/codes").select(*cols).collect()}
    assert got == want and len(got) == 500
    # ... and identical serving results
    served_m = [tuple(r) for r in pq.ivfpq_search(spark, maintained).collect()]
    served_r = [tuple(r) for r in pq.ivfpq_search(spark, rebuilt).collect()]
    assert served_m == served_r

    # replay batch 0 (same id, same rows) straight through the merge
    # fn: the __batch=1 leaves are rewritten in place, nothing else
    merge = ivfpq_codes_merge_fn(spark, maintained)
    merge(rest.filter(F.col("vec_id") < 400), 0)
    after = {tuple(r) for r in spark.read.parquet(f"{maintained}/codes").select(*cols).collect()}
    assert after == want


def test_ivfpq_maintenance_soak_survives_restarts(spark, tmp_path):
    """Index-maintenance crash/restart soak: three vector-arrival
    waves applied across three separate StreamingQuery incarnations
    sharing one checkpoint must leave the same codes table as the
    single-query run — the checkpoint assigns each source file
    exactly-once batch membership, and the __batch partition layout
    absorbs any replay in between."""
    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.sources.catalog import load_table
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        ivfpq_index_maintenance,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    maint = str(tmp_path / "idx")
    pq.build_ivfpq_index(emb.filter(F.col("vec_id") < 200), maint)

    src = str(tmp_path / "arrivals")
    waves = [(200, 300), (300, 420), (420, 500)]
    for i, (lo, hi) in enumerate(waves):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).write.mode(
            "overwrite" if i == 0 else "append"
        ).parquet(src)
        stream = spark.readStream.schema(
            "vec_id bigint, embedding array<float>"
        ).parquet(src)
        q = ivfpq_index_maintenance(stream, maint)
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    rebuilt = str(tmp_path / "rebuilt")
    pq.build_ivfpq_index(emb, rebuilt)
    cols = ["vec_id", "cid", "code0", "code1", "code2", "code3"]
    got = {tuple(r) for r in spark.read.parquet(f"{maint}/codes").select(*cols).collect()}
    want = {tuple(r) for r in spark.read.parquet(f"{rebuilt}/codes").select(*cols).collect()}
    assert got == want and len(got) == 500


def test_lm_vocab_maintenance_matches_batch_and_serves_scoring(
    spark, tmp_path
):
    """The streaming LM store after two micro-batches must equal the
    batch train-split token counts over the concatenated corpus, AND
    serving q_lm_surprisal's scoring from the store must equal the
    one-shot batch query on the same corpus (the retrain-free path).
    Redelivery with the marker present is a no-op; without it, the
    additive merge double-counts — proving the marker is the guard."""
    import glob
    import os

    from pyspark.sql import functions as SF

    import open_street_map_data_wrangling_spark.operators.text as text_mod
    from open_street_map_data_wrangling_spark.operators.text import (
        lm_score_docs,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        lm_counts_merge_fn,
        lm_vocab_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "lm_store")

    def mk(first_id, texts):
        return spark.createDataFrame(
            [
                (first_id + i, t, "en", "s", len(t))
                for i, t in enumerate(texts)
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )

    # ids 0..6: md5 nibble puts some in train, some in test — the
    # store must count ONLY train-split tokens, like the batch query
    b1 = mk(0, ["the cat sat", "the  dog ran", "rare unseen words"])
    b2 = mk(10, ["the cat ran far ", "zz qq zz"])
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = lm_vocab_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = b1.unionByName(b2)
    expected_counts = {
        (r.tok): r.c
        for r in corpus.filter(
            SF.substring(SF.md5(SF.col("doc_id").cast("string")), 1, 1)
            <= "b"
        )
        .select(SF.explode(SF.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(SF.count("*").cast("bigint").alias("c"))
        .collect()
    }
    assert expected_counts, "fixture must put at least one doc in train"

    def store_counts():
        return {r.tok: r.c for r in spark.read.parquet(store).collect()}

    got = store_counts()
    assert got == expected_counts

    # serving: scoring from the maintained store == the one-shot query
    served = [
        tuple(r)
        for r in lm_score_docs(
            corpus, spark.read.parquet(store)
        ).collect()
    ]
    import unittest.mock as mock

    with mock.patch.object(
        text_mod, "load_table", lambda s, d, n: corpus
    ):
        oneshot = [
            tuple(r) for r in text_mod.q_lm_surprisal(spark, "_").collect()
        ]
    assert served == oneshot

    # replay safety: marker present -> no-op
    lm_counts_merge_fn(spark, store)(b2, batch_id=1)
    assert store_counts() == got
    # and the marker is the only thing preventing double-count
    markers = glob.glob(f"{store}/_applied_*")
    assert markers
    for p in markers:
        os.remove(p)
    lm_counts_merge_fn(spark, store)(b2, batch_id=1)
    assert store_counts() != got


def test_drift_stats_maintenance_matches_batch_and_serves_report(
    spark, tmp_path
):
    """The streamed drift store after two micro-batches must equal
    drift_counts over the concatenated corpus, AND folding the store
    through drift_report must equal the one-shot q_quality_drift on
    the same corpus (monitoring with zero corpus scans at serve
    time).  Redelivery with the marker present is a no-op."""
    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po
    from open_street_map_data_wrangling_spark.operators.pipeline_ops import (
        drift_counts,
        drift_report,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        drift_counts_merge_fn,
        drift_stats_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "drift_store")

    def mk(first_id, texts):
        return spark.createDataFrame(
            [
                (first_id + i, t, "en", "s", len(t))
                for i, t in enumerate(texts)
            ],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )

    b1 = mk(0, ["short", "x" * 150, "y" * 310, "z" * 999])
    b2 = mk(10, ["medium " * 20, "tiny", "w" * 520])
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = drift_stats_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = b1.unionByName(b2)
    expected = sorted(
        tuple(r) for r in drift_counts(corpus).collect()
    )

    def store_rows():
        return sorted(
            tuple(r)
            for r in spark.read.parquet(store)
            .select("bkt", "n_a", "n_b")
            .collect()
        )

    assert store_rows() == expected

    # serving: report from the store == the one-shot query
    served = sorted(
        tuple(r)
        for r in drift_report(
            spark.read.parquet(store).select("bkt", "n_a", "n_b")
        ).collect()
    )
    import unittest.mock as mock

    with mock.patch.object(po, "load_table", lambda s, d, n: corpus):
        oneshot = sorted(
            tuple(r) for r in po.q_quality_drift(spark, "_").collect()
        )
    assert served == oneshot

    # replay safety: marker present -> no-op
    drift_counts_merge_fn(spark, store)(b2, batch_id=1)
    assert store_rows() == expected


def test_text_index_maintenance_matches_batch_build(spark, tmp_path):
    """Incremental inverted index (r09): streaming two corpus chunks
    through text_index_maintenance yields the same postings (and the
    same conjunctive search hits, including cross-chunk conjunctions)
    as build_text_index over the concatenated corpus; redelivery is a
    no-op (idempotent distinct-union)."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        text_index_maintenance,
        text_index_merge_fn,
    )

    schema = "doc_id long, text string, lang string, source string"
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma", "en", "s0"),
         (2, "alpha delta", "en", "s0")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(3, "beta gamma epsilon", "fr", "s1"),
         (4, "alpha beta zeta", "fr", "s1")],
        schema,
    )
    src = str(tmp_path / "src")
    inc = str(tmp_path / "inc_ix")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = text_index_maintenance(stream, inc)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    full = str(tmp_path / "full_ix")
    tx.build_text_index(b1.unionByName(b2), full)
    p_inc = {
        (r["tok"], r["doc_id"], r["bkt"])
        for r in spark.read.parquet(f"{inc}/postings").collect()
    }
    p_full = {
        (r["tok"], r["doc_id"], r["bkt"])
        for r in spark.read.parquet(f"{full}/postings").collect()
    }
    assert p_inc == p_full and p_inc
    hits = {
        r["doc_id"]
        for r in tx.text_search(spark, inc, ["alpha", "beta"]).collect()
    }
    assert hits == {1, 4}
    text_index_merge_fn(spark, inc)(b1, 0)
    again = {
        (r["tok"], r["doc_id"], r["bkt"])
        for r in spark.read.parquet(f"{inc}/postings").collect()
    }
    assert again == p_inc


def test_hardneg_cells_maintenance_matches_rebuild(spark, tmp_path):
    """Incremental hard-negative index (r09): bootstrapping the index
    on chunk 1 and streaming chunk 2 through the maintenance job
    yields EXACTLY the cells a fresh build over the concatenated
    corpus produces (the min-k merge property), serving identical
    negatives; re-merging a delivered chunk is a no-op (set-semantics
    idempotence, no markers)."""
    from pyspark.sql import functions as F

    from open_street_map_data_wrangling_spark.operators.similarity import (
        build_hardneg_index,
        hardneg_search,
    )
    from open_street_map_data_wrangling_spark.operators.similarity import (
        _HARDNEG_CELL_CAP,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        hardneg_cells_maintenance,
        hardneg_cells_merge_fn,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    b1 = emb.filter(F.col("vec_id") % 3 != 0)
    # keep the codebook seeds in chunk 1 so the bootstrap build and
    # the full build derive the same fixture-scale C=8 cell layout
    b1 = b1.unionByName(emb.filter(F.col("vec_id") < 8)).distinct()
    b2 = emb.join(b1.select("vec_id"), "vec_id", "left_anti")

    inc = str(tmp_path / "inc")
    build_hardneg_index(b1, inc)
    src = str(tmp_path / "vec_src")
    b2.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b2.schema).parquet(src)
    q = hardneg_cells_maintenance(stream, inc)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    full = str(tmp_path / "full")
    build_hardneg_index(emb, full)
    cells_inc = {
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{inc}/cells").collect()
    }
    cells_full = {
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{full}/cells").collect()
    }
    assert cells_inc == cells_full and len(cells_inc) > 0

    batch = emb.filter(F.col("vec_id") < 5)
    served_inc = {
        r["anchor"]: r["hard_negative"]
        for r in hardneg_search(spark, inc, batch).collect()
    }
    served_full = {
        r["anchor"]: r["hard_negative"]
        for r in hardneg_search(spark, full, batch).collect()
    }
    assert served_inc == served_full

    # idempotent redelivery
    hardneg_cells_merge_fn(spark, inc)(b2, 0)
    again = {
        (r["vec_id"], r["cid"])
        for r in spark.read.parquet(f"{inc}/cells").collect()
    }
    assert again == cells_inc


def test_span_gram_store_matches_batch_and_gates_new_docs(
    spark, tmp_path, monkeypatch
):
    """Incremental ExactSubstr gate (r09): streaming two corpus
    chunks into the gram-count store and serving coverage for the
    full corpus equals the one-shot q_dup_spans (streamed == batch —
    cross-CHUNK duplicates only become visible once both chunks are
    merged, which is exactly what the additive counts provide); a
    brand-new doc repeating corpus text scores covered BEFORE being
    merged (the admission-gate use); marker-gated redelivery is a
    no-op."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        span_dup_coverage_serve,
        span_gram_maintenance,
        span_gram_merge_fn,
    )

    k = dd._SPAN_K
    run = " ".join(f"w{i}" for i in range(k))
    uniq1 = " ".join(f"a{i}" for i in range(4))
    uniq2 = " ".join(f"b{i}" for i in range(6))
    rows = [
        (1, f"{uniq1} {run}", "en", "s0"),      # chunk 1: run's 1st copy
        (2, "x1 x2 x3 x4 x5", "en", "s0"),       # unique
        (3, f"{run} {uniq2}", "en", "s1"),      # chunk 2: run's 2nd copy
        (4, "y1 y2 y3 y4", "fr", "s1"),          # unique
    ]
    schema = "doc_id long, text string, lang string, source string"
    b1 = spark.createDataFrame(rows[:2], schema)
    b2 = spark.createDataFrame(rows[2:], schema)
    src = str(tmp_path / "src")
    store = str(tmp_path / "gram_store")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = span_gram_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = b1.unionByName(b2)
    monkeypatch.setattr(dd, "load_table", lambda s, d, n: corpus)
    expected = sorted(
        tuple(r) for r in dd.q_dup_spans(spark, "_").collect()
    )
    served = sorted(
        tuple(r)
        for r in span_dup_coverage_serve(spark, store, corpus).collect()
    )
    assert served == expected
    # the cross-chunk duplicate is visible: docs 1 and 3 covered
    cov = {r[0]: r[2] for r in served}
    assert cov[1] == k and cov[3] == k and cov[2] == 0

    # admission gate: a NEW doc repeating the corpus run scores
    # covered against history WITHOUT being merged first
    newdoc = spark.createDataFrame(
        [(99, f"fresh lead {run} trailer", "en", "s9")], schema
    )
    gate = span_dup_coverage_serve(spark, store, newdoc).collect()[0]
    assert gate["dup_toks"] == k

    # marker-gated redelivery: replaying chunk 1 changes nothing
    span_gram_merge_fn(spark, store)(b1, 0)
    again = sorted(
        tuple(r)
        for r in span_dup_coverage_serve(spark, store, corpus).collect()
    )
    assert again == served

    # r11: the loss-mask consumer serves the identical intervals from
    # the same store — masks for merged docs == batch q_loss_mask,
    # and the NEW doc's mask lands exactly on the repeated run
    # (positions 3..3+k-1 after the 2-token lead, 1-based)
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        loss_mask_serve,
    )

    mask_expected = sorted(
        tuple(r) for r in dd.q_loss_mask(spark, "_").collect()
    )
    mask_served = sorted(
        tuple(r) for r in loss_mask_serve(spark, store, corpus).collect()
    )
    assert mask_served == mask_expected and mask_served
    new_mask = loss_mask_serve(spark, store, newdoc).collect()
    assert [tuple(r) for r in new_mask] == [(99, 3, 2 + k, k)]


def test_winnow_print_maintenance_matches_batch_and_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """Incremental clone-detection index (r09): streaming two corpus
    chunks through winnow_print_maintenance and serving pairs from
    the store must equal the one-shot q_winnow_pairs over the
    concatenated corpus (streamed == batch, the store-fed contract
    all five sibling stores pin), and replaying an already-applied
    batch is a no-op because the distinct-union merge is idempotent
    by construction (no markers needed)."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        winnow_pairs_serve,
        winnow_print_maintenance,
        winnow_print_merge_fn,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "winnow_store")
    run = " ".join(f"w{i}" for i in range(14))
    run2 = " ".join(f"z{i}" for i in range(12))
    rows = [
        (1, f"intro {run} alpha beta {run2}", "en", "s0"),
        (2, f"{run} gamma delta {run2} tail", "en", "s1"),
        (3, "unrelated tokens only here nothing shared", "en", "s0"),
        (4, f"late {run} arrival chunk two", "fr", "s2"),
        (5, "another lonely document entirely", "fr", "s2"),
    ]
    schema = "doc_id long, text string, lang string, source string"
    b1 = spark.createDataFrame(rows[:3], schema)
    b2 = spark.createDataFrame(rows[3:], schema)
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = winnow_print_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = b1.unionByName(b2)
    monkeypatch.setattr(tx, "load_table", lambda s, d, n: corpus)
    expected = sorted(
        tuple(r) for r in tx.q_winnow_pairs(spark, "_").collect()
    )
    served = sorted(
        tuple(r) for r in winnow_pairs_serve(spark, store).collect()
    )
    assert served == expected
    assert any(p[:2] == (1, 2) for p in served)  # the clone pair

    # idempotent redelivery: re-merging chunk 1 changes nothing
    winnow_print_merge_fn(spark, store)(b1, 0)
    after = sorted(
        tuple(r) for r in winnow_pairs_serve(spark, store).collect()
    )
    assert after == served


def test_shard_manifest_maintenance_matches_one_shot_plan(spark, tmp_path):
    """Incremental shard planning: streaming two corpus chunks that
    arrive in (source, doc_id) order and folding the maintained
    granular store must equal the ONE-SHOT q_shard_plan manifest over
    the concatenated corpus — the append-only export contract with
    zero corpus scans at serve time.  Replaying the merge with its
    marker present is a no-op (placement is not idempotent)."""
    import open_street_map_data_wrangling_spark.operators.pipeline_ops as po
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        shard_manifest_maintenance,
        shard_manifest_merge_fn,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "shard_store")

    def mk(rows):
        return spark.createDataFrame(
            [(i, t, "en", s, len(t)) for i, t, s in rows],
            "doc_id long, text string, lang string, source string,"
            " n_chars long",
        )

    # chunk 2 is strictly after chunk 1 in (source, doc_id) order
    b1 = mk(
        [(1, "a" * 900, "s0"), (2, "b" * 2500, "s0"), (3, "c" * 700, "s1")]
    )
    b2 = mk(
        [(4, "d" * 1800, "s2"), (5, "e" * 300, "s2"), (6, "f" * 4300, "s3")]
    )
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = shard_manifest_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = b1.unionByName(b2)
    expected = sorted(
        tuple(r)
        for r in po.shard_manifest_fold(
            po.shard_manifest(po.shard_place(corpus))
        ).collect()
    )
    served = sorted(
        tuple(r) for r in po.shard_manifest_serve(spark, store).collect()
    )
    assert served == expected
    assert len(served) >= 2  # the fixture spans multiple shards

    # marker-gated redelivery: replaying batch 0 changes nothing
    before = served
    shard_manifest_merge_fn(spark, store)(b1, 0)
    after = sorted(
        tuple(r) for r in po.shard_manifest_serve(spark, store).collect()
    )
    assert after == before


def test_bm25_index_maintenance_matches_batch_build(spark, tmp_path):
    """Incremental BM25 index (r10): streaming two corpus chunks
    through bm25_index_maintenance yields the same postings AND the
    same 1-row stats as build_bm25_index over the concatenated
    corpus, serving an identical ranking; redelivery is a no-op and a
    doc re-ingested with MODIFIED text replaces its old posting rows
    wholesale (doc-replace anti-join merge, r10 ADVICE) instead of
    coexisting with them."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        bm25_index_maintenance,
        bm25_index_merge_fn,
    )

    schema = "doc_id long, text string, lang string, source string"
    b1 = spark.createDataFrame(
        [(1, "merge filter batch merge", "en", "s0"),
         (2, "filter scan", "en", "s0")],
        schema,
    )
    b2 = spark.createDataFrame(
        [(3, "batch merge filter join", "fr", "s1"),
         (4, "scan only words here", "fr", "s1")],
        schema,
    )
    src = str(tmp_path / "src")
    inc = str(tmp_path / "inc_bm25")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = bm25_index_maintenance(stream, inc)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    full = str(tmp_path / "full_bm25")
    tx.build_bm25_index(b1.unionByName(b2), full)
    key = lambda d: {
        (r["tok"], r["doc_id"], r["tf"], r["dl"], r["bkt"])
        for r in spark.read.parquet(f"{d}/postings").collect()
    }
    assert key(inc) == key(full) and key(inc)
    st = lambda d: [
        (r["n_docs"], r["total_toks"])
        for r in spark.read.parquet(f"{d}/stats").collect()
    ]
    assert st(inc) == st(full) == [(4, 14)]
    served_inc = [tuple(r) for r in tx.bm25_search(spark, inc).collect()]
    served_full = [tuple(r) for r in tx.bm25_search(spark, full).collect()]
    assert served_inc == served_full and served_inc
    # redelivery: replacing rows with identical rows is a no-op
    bm25_index_merge_fn(spark, inc)(b1, 0)
    assert key(inc) == key(full)
    assert st(inc) == [(4, 14)]
    # modified re-ingest: doc 1's text changes; its OLD postings
    # (incl. the old dl=4) must vanish, store == fresh build over the
    # updated corpus, and the served dl is single-valued per doc
    b1_mod = spark.createDataFrame(
        [(1, "merge join join", "en", "s0")], schema
    )
    bm25_index_merge_fn(spark, inc)(b1_mod, 1)
    updated = b1_mod.unionByName(
        b1.filter("doc_id <> 1")
    ).unionByName(b2)
    full2 = str(tmp_path / "full_bm25_v2")
    tx.build_bm25_index(updated, full2)
    assert key(inc) == key(full2)
    dls = {
        (r["doc_id"], r["dl"])
        for r in spark.read.parquet(f"{inc}/postings").collect()
    }
    assert len({d for d, _ in dls}) == len(dls)  # one dl per doc
    assert (1, 3) in dls and (1, 4) not in dls
    assert st(inc) == [(4, 13)]


def test_int8_scales_maintenance_matches_batch_and_serves(spark, tmp_path):
    """Incremental int8 scale store (r11): streaming two vector
    chunks through int8_scales_maintenance yields EXACTLY the batch
    build over the concatenated corpus (per-dim max is exactly
    mergeable — float max of the same doubles, no arithmetic);
    redelivery is a no-op; the MONOTONE property holds (a chunk with
    smaller values cannot shrink a scale); and int8_recall_served
    from the maintained store equals the inline q_int8_recall audit
    at the fixture."""
    import open_street_map_data_wrangling_spark.operators.similarity as sim
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        int8_scales_maintenance,
        int8_scales_merge_fn,
    )

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    b1 = emb.filter(F.col("vec_id") < 200)
    b2 = emb.filter(F.col("vec_id") >= 200)
    src = str(tmp_path / "src")
    store = str(tmp_path / "int8_scales")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = int8_scales_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    full = str(tmp_path / "int8_scales_full")
    sim.build_int8_scales(emb, full)
    scales = lambda d: {
        (r["pos"], r["m"]) for r in spark.read.parquet(d).collect()
    }
    want = scales(full)
    assert scales(store) == want and want
    # redelivery: max-of-max is idempotent
    int8_scales_merge_fn(spark, store)(b1, 0)
    assert scales(store) == want
    # monotone: a shrunken re-embedding cannot pull a scale down
    tiny = b1.withColumn(
        "embedding",
        F.expr("transform(embedding, x -> CAST(x * 0.1 AS FLOAT))"),
    )
    int8_scales_merge_fn(spark, store)(tiny, 1)
    assert scales(store) == want
    # serve == inline: the recall audit from the maintained store
    served = [
        tuple(r)
        for r in sim.int8_recall_served(spark, emb, store).collect()
    ]
    inline = [tuple(r) for r in sim.q_int8_recall(spark, sf).collect()]
    assert served == inline and served


def test_rrf_search_over_maintained_stores_matches_batch(spark, tmp_path):
    """Hybrid-serve composition coherence (r11): rrf_search composes
    TWO maintained stores — BM25 postings (doc-replace merge) and the
    IVF codes-with-vectors table (leaf-partition overwrite).  Feeding
    half the fixture as a base build and streaming the other half
    through BOTH maintenance jobs must serve the exact fused ranking
    the batch builds over the full corpus serve.  This pins the
    cross-store contract the individual maintenance tests cannot see:
    both legs' artifacts describe the same corpus generation."""
    import open_street_map_data_wrangling_spark.operators.pq as pq
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        bm25_index_merge_fn,
        ivfpq_codes_merge_fn,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    emb = load_table(spark, sf, "embeddings").select("vec_id", "embedding")
    maint = str(tmp_path / "maint")
    tx.build_bm25_index(docs.filter("doc_id < 250"), f"{maint}/bm25")
    pq.build_ivfpq_index(
        emb.filter("vec_id < 250"), f"{maint}/ivfpq"
    )
    bm25_index_merge_fn(spark, f"{maint}/bm25")(
        docs.filter("doc_id >= 250"), 0
    )
    ivfpq_codes_merge_fn(spark, f"{maint}/ivfpq")(
        emb.filter("vec_id >= 250"), 0
    )
    full = str(tmp_path / "full")
    tx.build_bm25_index(docs, f"{full}/bm25")
    pq.build_ivfpq_index(emb, f"{full}/ivfpq")
    got = [
        tuple(r)
        for r in tx.rrf_search(
            spark, f"{maint}/bm25", f"{maint}/ivfpq"
        ).collect()
    ]
    want = [
        tuple(r)
        for r in tx.rrf_search(
            spark, f"{full}/bm25", f"{full}/ivfpq"
        ).collect()
    ]
    assert got == want and got
    # the maxsim serve leg composes off the same maintained postings
    ms_got = [
        tuple(r)
        for r in tx.maxsim_search(spark, f"{maint}/bm25").collect()
    ]
    ms_want = [
        tuple(r)
        for r in tx.maxsim_search(spark, f"{full}/bm25").collect()
    ]
    assert ms_got == ms_want and ms_got


def test_gram_novelty_gate_matches_batch_attribution(spark, tmp_path):
    """Incremental novelty (r10): streaming chunk 1 into the gram
    store, then gating chunk 2 BEFORE its merge, must score exactly
    what batch attribution says — a doc repeating chunk-1 content
    scores 0 bp, a fresh doc scores 10000 bp, a half-overlap doc
    scores the exact gram fraction; redelivered merges are no-ops and
    after merging chunk 2 the same gate drops to 0 for all."""
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        gram_novelty_maintenance,
        gram_store_merge_fn,
        novelty_gate_serve,
    )

    schema = "doc_id long, text string, lang string, source string"
    a = " ".join(f"w{i}" for i in range(12))
    fresh = " ".join(f"x{i}" for i in range(12))
    b1 = spark.createDataFrame([(1, a, "en", "s0")], schema)
    b2 = spark.createDataFrame(
        [(2, a, "en", "s1"),       # pure repeat -> 0 novel
         (3, fresh, "en", "s1")],  # disjoint -> 10000 bp
        schema,
    )
    src = str(tmp_path / "src")
    store = str(tmp_path / "gram_store")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = gram_novelty_maintenance(stream, store)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    gate = {
        r["doc_id"]: r for r in novelty_gate_serve(spark, store, b2).collect()
    }
    assert gate[2]["n_novel"] == 0 and gate[2]["novelty_bp"] == 0
    assert gate[3]["n_novel"] == gate[3]["n_grams"] > 0
    assert gate[3]["novelty_bp"] == 10000
    # redelivery of chunk 1 is a no-op
    before = {r["shh"] for r in spark.read.parquet(store).collect()}
    gram_store_merge_fn(spark, store)(b1, 0)
    assert {r["shh"] for r in spark.read.parquet(store).collect()} == before
    # after merging chunk 2, gating it again scores 0 everywhere
    gram_store_merge_fn(spark, store)(b2, 1)
    again = {
        r["doc_id"]: r["n_novel"]
        for r in novelty_gate_serve(spark, store, b2).collect()
    }
    assert again == {2: 0, 3: 0}


def test_source_overlap_maintenance_matches_inline(spark, tmp_path):
    """Incremental source-overlap (r10): streaming two corpus chunks
    into the source-gram store and serving the matrix from the store
    yields exactly the inline q_source_overlap result over the
    concatenated corpus; redelivery is a no-op."""
    import open_street_map_data_wrangling_spark.operators.text as tx
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        source_gram_merge_fn,
        source_overlap_maintenance,
        source_overlap_serve,
    )

    sf = "/root/testdata/sf0.001"
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )

    docs = load_table(spark, sf, "documents")
    b1 = docs.filter("doc_id % 2 = 0")
    b2 = docs.filter("doc_id % 2 = 1")
    src = str(tmp_path / "src")
    store = str(tmp_path / "sg_store")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = source_overlap_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    served = sorted(
        tuple(r) for r in source_overlap_serve(spark, store).collect()
    )
    inline = sorted(
        tuple(r) for r in tx.q_source_overlap(spark, sf).collect()
    )
    assert served == inline and served
    before = sorted(tuple(r) for r in spark.read.parquet(store).collect())
    source_gram_merge_fn(spark, store)(b1, 0)
    assert sorted(
        tuple(r) for r in spark.read.parquet(store).collect()
    ) == before


def test_contamination_store_serves_inline_gate(spark, tmp_path):
    """Served fuzzy decontamination (r12): streaming the TRAIN split
    in two chunks through contamination_bands_maintenance builds a
    band store equal to the batch derivation (set-union, idempotent
    on redelivery), and contamination_check over the fixture's test
    split answers EXACTLY inline q_fuzzy_contamination — the eval
    gate runs against corpus history with zero train-corpus scans."""
    import open_street_map_data_wrangling_spark.operators.dedup as dd
    from open_street_map_data_wrangling_spark.operators.pipeline_ops import (
        _split_col,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        contamination_bands_maintenance,
        contamination_bands_merge_fn,
        contamination_check,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").withColumn(
        "sp", _split_col()
    )
    train = docs.filter("sp = 'train'").select("doc_id", "text")
    test = docs.filter("sp = 'test'").select("doc_id", "text")
    b1 = train.filter("doc_id < 250")
    b2 = train.filter("doc_id >= 250")
    src = str(tmp_path / "src")
    store = str(tmp_path / "contam_bands")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = contamination_bands_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    # streamed == batch: one merge of the whole train split
    full = str(tmp_path / "contam_bands_full")
    contamination_bands_merge_fn(spark, full)(train, 0)
    rows = lambda d: {
        (r["doc_id"], r["bi"], r["bv"])
        for r in spark.read.parquet(d).collect()
    }
    assert rows(store) == rows(full) and rows(store)
    # redelivery: distinct-union is a no-op
    contamination_bands_merge_fn(spark, store)(b1, 0)
    assert rows(store) == rows(full)

    served = {
        tuple(r) for r in contamination_check(spark, store, test).collect()
    }
    inline = {
        tuple(r) for r in dd.q_fuzzy_contamination(spark, sf).collect()
    }
    assert served == inline and served
    # overlap dedup (ADVICE r12): re-checking docs that were already
    # ingested must not double-count them in the bucket-size prepass —
    # a batch of train ∪ test still answers exactly the inline gate
    # for the test docs (a doc in both sides counts once toward cap)
    overlap = {
        tuple(r)
        for r in contamination_check(
            spark, store, train.unionByName(test)
        ).collect()
    }
    test_ids = {r["doc_id"] for r in test.select("doc_id").collect()}
    assert {t for t in overlap if t[0] in test_ids} == inline


def test_image_prints_store_serves_dedup_gate(spark, tmp_path):
    """Standing image-dedup gate (r12): streaming half the corpus's
    images through image_prints_maintenance builds a fingerprint
    store equal to the batch derivation (idempotent set-union), and
    image_dedup_check over the OTHER half returns exactly the inline
    q_image_dedup pairs that cross the halves — upload screening
    against ingest history with zero corpus re-decodes."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        image_fingerprints,
        q_image_dedup,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        image_dedup_check,
        image_prints_maintenance,
        image_prints_merge_fn,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id")
    old = docs.filter("doc_id % 2 = 0")   # ingest history
    new = docs.filter("doc_id % 2 = 1")   # the arriving batch
    b1 = old.filter("doc_id < 250")
    b2 = old.filter("doc_id >= 250")
    src = str(tmp_path / "src")
    store = str(tmp_path / "image_prints")
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = image_prints_maintenance(stream, store)
    try:
        q.processAllAvailable()
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    prints = lambda d: {
        tuple(r) for r in spark.read.parquet(d).collect()
    }
    batch_fp = {tuple(r) for r in image_fingerprints(old).collect()}
    assert prints(store) == batch_fp and batch_fp
    # redelivery no-op
    image_prints_merge_fn(spark, store)(b1, 0)
    assert prints(store) == batch_fp

    served = {
        (r["new_doc"], r["corpus_doc"], r["hamming"])
        for r in image_dedup_check(spark, store, new).collect()
    }
    # inline pairs that cross the halves (planted twins 4g/4g+1
    # always do — one id even, one odd)
    inline = {
        tuple(r) for r in q_image_dedup(spark, sf).collect()
    }
    cross = {
        (b if b % 2 == 1 else a, a if b % 2 == 1 else b, h)
        for a, b, h in inline
        if (a % 2) != (b % 2)
    }
    assert served == cross and served


def test_family_registry_streams_to_batch_clustering(spark, tmp_path):
    """Incremental family registry (X102): streaming the three
    channels' edges in interleaved chunks through
    family_registry_maintenance lands on EXACTLY the batch
    connected-components labeling (same partition, same min-id
    representatives); a redelivered chunk contracts to self-loops
    and is a bit-identical no-op (the restart soak); the served
    per-family report equals the batch aggregate."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
        q_dedup_near,
    )
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        q_audio_dedup,
        q_image_dedup,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        family_registry_maintenance,
        family_registry_merge_fn,
        family_registry_serve,
    )

    sf = "/root/testdata/sf0.001"
    sel = lambda df: df.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    edges = (
        sel(q_dedup_near(spark, sf))
        .unionByName(sel(q_image_dedup(spark, sf)))
        .unionByName(sel(q_audio_dedup(spark, sf)))
        .distinct()
        .localCheckpoint()
    )
    c1 = edges.where((F.col("a") + F.col("b")) % 2 == 0)
    c2 = edges.where((F.col("a") + F.col("b")) % 2 == 1)
    src = str(tmp_path / "edges_src")
    store = str(tmp_path / "family_registry")
    c1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(edges.schema).parquet(src)
    q = family_registry_maintenance(stream, store)
    try:
        q.processAllAvailable()
        c2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    nodes = (
        edges.select(F.col("a").alias("n"))
        .unionByName(edges.select(F.col("b").alias("n")))
        .distinct()
    )
    batch = {
        tuple(r) for r in connected_components(edges, nodes).collect()
    }
    labels = lambda d: {tuple(r) for r in spark.read.parquet(d).collect()}
    assert labels(store) == batch and batch
    # restart soak: redeliver chunk 1, then an EMPTY batch — both
    # bit-identical no-ops (contracted edge set empty)
    family_registry_merge_fn(spark, store)(c1, 0)
    assert labels(store) == batch
    family_registry_merge_fn(spark, store)(c1.limit(0), 7)
    assert labels(store) == batch
    served = {
        tuple(r) for r in family_registry_serve(spark, store).collect()
    }
    from collections import Counter

    want = Counter(cid for _, cid in batch)
    assert served == {(cid, n) for cid, n in want.items()}


def test_family_registry_purge_splits_and_heals(spark, tmp_path):
    """family_registry_purge (X105): tombstoning a bridge doc SPLITS
    its family into the exact components of the surviving edges;
    survivors that lose their last edge drop OUT of the registry;
    unknown ids are a no-op; a re-run of the same purge is
    idempotent; and the post-purge registry equals a from-scratch
    batch clustering of the surviving edge set (the pinned
    invariant, now under deletes)."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        family_registry_merge_fn,
        family_registry_purge,
        family_registry_serve,
    )

    # two families: a path 1-2-3-4-5 (purging 3 splits it into
    # {1,2} and {4,5}) and a triangle 10-11-12 (untouched); plus an
    # edge 20-21 whose member 21 is purged (20 must drop out)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
         (20, 21)],
        "a BIGINT, b BIGINT",
    )
    store = str(tmp_path / "registry")
    family_registry_merge_fn(spark, store)(edges, 0)

    tomb = spark.createDataFrame([(3,), (21,), (999,)], "doc_id BIGINT")
    family_registry_purge(spark, store, tomb)

    labels = {tuple(r) for r in spark.read.parquet(store).collect()}
    surviving = spark.createDataFrame(
        [(1, 2), (4, 5), (10, 11), (11, 12), (10, 12)],
        "a BIGINT, b BIGINT",
    )
    nodes = (
        surviving.select(F.col("a").alias("n"))
        .unionByName(surviving.select(F.col("b").alias("n")))
        .distinct()
    )
    batch = {
        tuple(r)
        for r in connected_components(surviving, nodes).collect()
    }
    assert labels == batch
    assert labels == {(1, 1), (2, 1), (4, 4), (5, 4),
                      (10, 10), (11, 10), (12, 10)}
    # the edge side-store dropped every incident edge (channel ""
    # for these channel-less producer edges)
    surv_edges = {
        (r["a"], r["b"])
        for r in spark.read.parquet(f"{store}_edges").collect()
    }
    assert surv_edges == {(1, 2), (4, 5), (10, 11), (11, 12), (10, 12)}
    # idempotent re-run: both stores bit-identical
    family_registry_purge(spark, store, tomb)
    assert {tuple(r) for r in spark.read.parquet(store).collect()} == labels
    assert {
        (r["a"], r["b"])
        for r in spark.read.parquet(f"{store}_edges").collect()
    } == surv_edges
    served = {
        tuple(r) for r in family_registry_serve(spark, store).collect()
    }
    assert served == {(1, 2), (4, 2), (10, 3)}


def test_media_gates_audio_video_match_inline_cross_half(
    spark, tmp_path
):
    """Generic media gate (X107): media_dedup_check with the audio /
    video fingerprint stages returns exactly the inline dedup pairs
    that cross the even/odd ingest split — one gate body, three
    modalities (the image instance is pinned above); every planted
    twin straddles the split by construction so the gate must catch
    them all."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        audio_fingerprints,
        q_audio_dedup,
        q_video_dedup,
        video_fingerprints,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        media_dedup_check,
        media_prints_merge_fn,
    )

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents").select("doc_id")
    old = docs.filter("doc_id % 2 = 0")
    new = docs.filter("doc_id % 2 = 1")
    for fp_fn, inline_q in (
        (audio_fingerprints, q_audio_dedup),
        (video_fingerprints, q_video_dedup),
    ):
        store = str(tmp_path / f"media_prints_{fp_fn.__name__}")
        merge = media_prints_merge_fn(spark, store, fp_fn)
        merge(old, 0)
        merge(old.limit(40), 1)  # redelivered subset: set-union no-op
        served = {
            (r["new_doc"], r["corpus_doc"], r["hamming"])
            for r in media_dedup_check(spark, store, new, fp_fn).collect()
        }
        inline = {tuple(r) for r in inline_q(spark, sf).collect()}
        cross = {
            (b if b % 2 == 1 else a, a if b % 2 == 1 else b, h)
            for a, b, h in inline
            if (a % 2) != (b % 2)
        }
        assert served == cross and served


def test_ingest_registry_wave_redelivery_is_noop(spark, tmp_path):
    """X110 composition soak: replaying a whole ingest wave (prints
    merges + gate checks + registry merges) after the pipeline has
    completed leaves every store bit-identical — set-union prints,
    deterministic gate output, and the contracted-components merge
    are each idempotent, so their COMPOSITION is too (the property
    that makes at-least-once delivery safe end to end)."""
    from open_street_map_data_wrangling_spark.operators.multimodal import (
        audio_fingerprints,
        image_fingerprints,
    )
    from open_street_map_data_wrangling_spark.sources.catalog import (
        load_table,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        family_registry_merge_fn,
        media_dedup_check,
        media_prints_merge_fn,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    reg = str(tmp_path / "registry")
    merge = family_registry_merge_fn(spark, reg)
    channels = (
        ("image", image_fingerprints),
        ("audio", audio_fingerprints),
    )

    def run_wave(wave: int) -> None:
        batch = docs.filter(
            F.col("doc_id").isNotNull() & (F.col("doc_id") % 2 == wave)
        ).select("doc_id")
        for ci, (name, fp_fn) in enumerate(channels):
            prints = str(tmp_path / f"prints_{name}")
            media_prints_merge_fn(spark, prints, fp_fn)(batch, wave)
            edges = media_dedup_check(spark, prints, batch, fp_fn).select(
                F.col("new_doc").alias("a"),
                F.col("corpus_doc").alias("b"),
            )
            merge(edges, wave * 10 + ci)

    run_wave(0)
    run_wave(1)
    snap = lambda d: {tuple(r) for r in spark.read.parquet(d).collect()}
    before = {
        d: snap(str(tmp_path / d))
        for d in ("registry", "registry_edges", "prints_image",
                  "prints_audio")
    }
    assert all(before.values())
    run_wave(1)  # full redelivery of the last wave
    for d, rows in before.items():
        assert snap(str(tmp_path / d)) == rows, d


def test_family_registry_purge_streams(spark, tmp_path):
    """family_registry_purge_maintenance: tombstones arriving as a
    STREAM purge the registry micro-batch by micro-batch, and after
    any prefix of deletes the registry equals a from-scratch
    clustering of the surviving edges (the pinned invariant at every
    batch boundary — here checked after two delete batches that
    split one family and dissolve another)."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        family_registry_merge_fn,
        family_registry_purge_maintenance,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (20, 21)],
        "a BIGINT, b BIGINT",
    )
    store = str(tmp_path / "registry")
    family_registry_merge_fn(spark, store)(edges, 0)

    src = str(tmp_path / "tombs")
    spark.createDataFrame([(3,)], "doc_id BIGINT").write.mode(
        "overwrite"
    ).parquet(src)
    stream = spark.readStream.schema("doc_id BIGINT").parquet(src)
    q = family_registry_purge_maintenance(stream, store)
    try:
        q.processAllAvailable()
        spark.createDataFrame([(21,), (999,)], "doc_id BIGINT").write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    surviving = spark.createDataFrame(
        [(1, 2), (4, 5), (10, 11), (11, 12)], "a BIGINT, b BIGINT"
    )
    nodes = (
        surviving.select(F.col("a").alias("n"))
        .unionByName(surviving.select(F.col("b").alias("n")))
        .distinct()
    )
    batch = {
        tuple(r)
        for r in connected_components(surviving, nodes).collect()
    }
    got = {tuple(r) for r in spark.read.parquet(store).collect()}
    assert got == batch
    assert got == {(1, 1), (2, 1), (4, 4), (5, 4), (10, 10), (11, 10),
                   (12, 10)}


def test_family_registry_compact_is_row_identical_and_shrinks_files(
    spark, tmp_path
):
    """family_registry_compact (r14): after a multi-batch merge soak
    both stores carry many small part files; compaction must (1)
    leave the label and edge RELATIONS bit-identical, (2) reduce the
    data-file count to the target, (3) leave the store fully usable
    — a post-compact merge and purge behave exactly as on the
    uncompacted store."""
    import os

    from open_street_map_data_wrangling_spark.streaming.jobs import (
        family_registry_compact,
        family_registry_merge_fn,
        family_registry_purge,
        family_registry_serve,
    )

    store = str(tmp_path / "registry")
    merge = family_registry_merge_fn(spark, store)
    batches = [
        [(1, 2, "text"), (3, 4, "image")],
        [(2, 3, "text"), (10, 11, "audio")],
        [(11, 12, "video"), (5, 6, "text")],
        [(4, 5, "image")],
    ]
    for i, b in enumerate(batches):
        merge(
            spark.createDataFrame(
                b, "a BIGINT, b BIGINT, channel STRING"
            ),
            i,
        )

    def parts(d):
        return [
            f
            for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith("_")
        ]

    labels_before = {
        tuple(r) for r in spark.read.parquet(store).collect()
    }
    edges_before = {
        tuple(r) for r in spark.read.parquet(store + "_edges").collect()
    }
    n_label_files = len(parts(store))
    n_edge_files = len(parts(store + "_edges"))

    family_registry_compact(spark, store)

    assert {
        tuple(r) for r in spark.read.parquet(store).collect()
    } == labels_before
    assert {
        tuple(r) for r in spark.read.parquet(store + "_edges").collect()
    } == edges_before
    assert len(parts(store)) == 1
    assert len(parts(store + "_edges")) == 1
    # the soak accumulated more than one leaf per store, so the
    # compaction actually reduced something
    assert n_label_files > 1 or n_edge_files > 1

    # still a live store: a merge and a purge behave normally
    merge(
        spark.createDataFrame([(6, 10, "text")], "a BIGINT, b BIGINT, channel STRING"),
        99,
    )
    served = {
        tuple(r) for r in family_registry_serve(spark, store).collect()
    }
    assert (1, 9) in served  # 1..6 + 10..12 fused into one family
    family_registry_purge(
        spark, store, spark.createDataFrame([(6,)], "doc_id BIGINT")
    )
    served2 = {
        tuple(r) for r in family_registry_serve(spark, store).collect()
    }
    assert (1, 5) in served2 and (10, 3) in served2


def test_ingest_text_edges_admission_semantics_and_fixture_equality(
    spark,
):
    """Two pins for q_ingest_registry_full's text channel (X117):

    1. FIXTURE EQUALITY — on the driver fixture no LSH bucket
       crosses the cap between waves, so the admission-time edge set
       must equal inline q_dedup_near's (the claim the docstring
       makes).
    2. ADMISSION SEMANTICS — on a synthetic corpus engineered so a
       bucket IS under cap at wave 0 and over cap at wave 2, the
       wave-sequenced Spark machinery (contamination_bands_merge_fn
       + text_dedup_check per wave) produces exactly the oracle's
       three-wave unroll: wave-0 edges are kept (no retraction),
       wave-2 edges from the now-hot bucket are dropped."""
    from open_street_map_data_wrangling_spark.operators.dedup import (
        _LSH_BUCKET_CAP,
        q_dedup_near,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        contamination_bands_merge_fn,
        text_dedup_check,
    )

    sf = "/root/testdata/sf0.001"

    def wave_edges(docs, store):
        out = set()
        for wave in range(3):
            batch = docs.filter(F.col("doc_id") % 3 == wave).select(
                "doc_id", "text"
            )
            contamination_bands_merge_fn(spark, store)(batch, wave)
            for r in text_dedup_check(spark, store, batch).collect():
                a, b = r["new_doc"], r["corpus_doc"]
                out.add((min(a, b), max(a, b)))
        return out

    import tempfile

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    with tempfile.TemporaryDirectory() as td:
        seq = wave_edges(docs, f"{td}/bands")
    inline = {
        (r["doc_a"], r["doc_b"])
        for r in q_dedup_near(spark, sf).collect()
    }
    assert seq == inline  # claim 1

    # claim 2: one shared text duplicated across cap+2 docs; two of
    # them land in wave 0 (bucket size 2 <= cap: edge admitted), the
    # rest arrive by wave 2 pushing every band bucket over cap
    n_hot = _LSH_BUCKET_CAP + 2
    rows = [(i, "alpha beta gamma delta epsilon") for i in range(n_hot)]
    # plus an isolated pair in wave 1 (ids 301/304: both %3 == 1)
    rows += [(301, "zeta eta theta iota"), (304, "zeta eta theta iota")]
    sdocs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    with tempfile.TemporaryDirectory() as td:
        got = wave_edges(sdocs, f"{td}/bands")
    w0 = [i for i in range(n_hot) if i % 3 == 0]
    w01 = [i for i in range(n_hot) if i % 3 <= 1]
    expect = set()
    # wave 0: bucket size = |w0| -> admitted iff within cap
    if len(w0) <= _LSH_BUCKET_CAP:
        expect |= {(a, b) for a in w0 for b in w0 if a < b}
    # wave 1: cumulative size = |w01|
    if len(w01) <= _LSH_BUCKET_CAP:
        expect |= {
            (min(a, b), max(a, b))
            for a in w01
            for b in w01
            if (a % 3 == 1 or b % 3 == 1) and a != b
        }
    # wave 2: cumulative size = n_hot > cap -> nothing admitted
    expect.add((301, 304))
    got_hot = {e for e in got if e != (301, 304)}
    exp_hot = {e for e in expect if e != (301, 304)}
    assert (301, 304) in got
    assert got_hot == exp_hot
    # the definitional property: wave-0 edges exist although the
    # final bucket is hot (admission-time, no retraction), and no
    # wave-2 doc of the hot bucket gained an edge
    assert any(a % 3 == 0 and b % 3 == 0 for a, b in got_hot)
    w2 = {i for i in range(n_hot) if i % 3 == 2}
    assert not any(a in w2 or b in w2 for a, b in got_hot)


def test_decayed_topk_maintenance_matches_batch_and_survives_replay(
    spark, tmp_path
):
    """The trending-user state (X128): after every micro-batch the
    per-(user, bucket) count store must equal decayed_counts() over
    everything seen so far (streamed == batch, checked at BOTH
    boundaries), the serve from the store must rank recency over
    volume exactly as the batch-aligned decay does, a redelivered
    batch must be a no-op ONLY because of the applied-batch marker
    (counter addition double-counts — proven by deleting the
    marker), and the stage-rename crash window must recover."""
    from open_street_map_data_wrangling_spark.operators.sketches import (
        decayed_counts,
        decayed_topk_from_store,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        decayed_counts_merge_fn,
        decayed_topk_maintenance,
    )

    src = str(tmp_path / "src")
    store = str(tmp_path / "decay_store")

    def mk(first_id, n, user, day):
        return spark.createDataFrame(
            [
                (first_id + i, f"2024-01-{day:02d} 10:00:00", user,
                 "click", 1.0, "{}")
                for i in range(n)
            ],
            "event_id long, ts_s string, user_id long,"
            " event_type string, value double, props string",
        ).select(
            "event_id",
            F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )

    # user 1: heavy but OLD (day 1); user 2: light but RECENT —
    # 9 days apart = 3 decay buckets, so user 1's 8 events weigh
    # 8 * (10000 >> 3) = 10000 < user 2's 2 * 10000 = 20000
    b1 = mk(0, 8, 1, 1)
    b2 = mk(100, 2, 2, 10)
    b1.write.mode("overwrite").parquet(src)
    stream = events_file_stream(spark, src)
    q = decayed_topk_maintenance(stream, store)

    def counts_of(path):
        return {
            (r.user_id, r.bkt): r.cnt
            for r in spark.read.parquet(path).collect()
        }

    def expected_counts(df):
        return {
            (r.user_id, r.bkt): r.cnt for r in decayed_counts(df).collect()
        }

    try:
        q.processAllAvailable()
        assert counts_of(store) == expected_counts(b1)
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    both = b1.unionByName(b2)
    got = counts_of(store)
    assert got == expected_counts(both)

    # serve: recency beats volume, counts preserved
    served = decayed_topk_from_store(spark.read.parquet(store)).collect()
    assert [(r.user_id, r.decayed_x10k, r.n_events) for r in served] == [
        (2, 20000, 2),
        (1, 10000, 8),
    ]

    # redelivery with the marker present: no-op
    decayed_counts_merge_fn(spark, store)(b2, batch_id=1)
    assert counts_of(store) == got

    # proof the MARKER is what saves us: drop it and the same replay
    # double-counts batch 2
    import glob
    import os

    for p in glob.glob(f"{store}/_applied_*"):
        os.remove(p)
    decayed_counts_merge_fn(spark, store)(b2, batch_id=1)
    assert counts_of(store) != got

    # mid-commit crash: store gone, complete stage present — the next
    # merge must recover the staged state before reading anything
    os.rename(store, f"{store}_stage")
    decayed_counts_merge_fn(spark, store)(b1, batch_id=0)  # marker no-op
    assert spark.read.parquet(store).count() > 0


def test_embedding_drift_maintenance_matches_batch_and_survives_replay(
    spark, tmp_path
):
    """The embedding-drift state (X135): after every micro-batch the
    per-(wave, dim) sums store must equal drift_wave_sums() over
    everything seen so far (streamed == batch at BOTH boundaries),
    the serve from the store must equal the inline drift report over
    the full corpus, a redelivered batch must be a no-op ONLY
    because of the applied-batch marker (sum addition double-counts
    — proven by deleting the marker), and the stage-rename crash
    window must recover."""
    from open_street_map_data_wrangling_spark.operators.similarity import (
        drift_from_sums,
        drift_wave_sums,
        embedding_drift_from_store,
    )
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        emb_drift_merge_fn,
        embedding_drift_maintenance,
    )

    src = str(tmp_path / "vec_src")
    store = str(tmp_path / "drift_store")

    def mk(first_id, n):
        return spark.createDataFrame(
            [
                (
                    first_id + i,
                    [
                        float(((first_id + i) * 13 + d) % 7 - 3) / 4
                        for d in range(8)
                    ],
                )
                for i in range(n)
            ],
            "vec_id long, embedding array<float>",
        )

    b1, b2 = mk(0, 6), mk(100, 5)
    b1.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(b1.schema).parquet(src)
    q = embedding_drift_maintenance(stream, store)

    def sums_of(path):
        return {
            (r.wave, r.pos): (r.s, r.n)
            for r in spark.read.parquet(path).collect()
        }

    def expected(df):
        return {
            (r.wave, r.pos): (r.s, r.n)
            for r in drift_wave_sums(df).collect()
        }

    try:
        q.processAllAvailable()
        assert sums_of(store) == expected(b1)
        b2.write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()

    both = b1.unionByName(b2)
    got = sums_of(store)
    assert got == expected(both) and got

    # serve from the store == inline report over the full corpus
    served = [
        tuple(r)
        for r in embedding_drift_from_store(spark, store).collect()
    ]
    inline = [
        tuple(r) for r in drift_from_sums(drift_wave_sums(both)).collect()
    ]
    assert served == inline and len(served) == 8

    # redelivery with the marker present: no-op
    emb_drift_merge_fn(spark, store)(b2, batch_id=1)
    assert sums_of(store) == got

    # proof the MARKER is what saves us
    import glob
    import os

    for p in glob.glob(f"{store}/_applied_*"):
        os.remove(p)
    emb_drift_merge_fn(spark, store)(b2, batch_id=1)
    assert sums_of(store) != got

    # mid-commit crash: store gone, complete stage present
    os.rename(store, f"{store}_stage")
    emb_drift_merge_fn(spark, store)(b1, batch_id=0)  # marker no-op
    assert spark.read.parquet(store).count() > 0


def test_scd2_recovers_history_a_crash_left_in_stage(spark, tmp_path):
    """A crash between deleting the dimension and renaming its stage
    into place leaves only ``{target}_stage``.  The next batch must
    recover that stage first: history survives and the new change is
    generation 3, not a restart at generation 1."""
    import os

    from open_street_map_data_wrangling_spark.streaming.jobs import (
        scd2_dimension_maintenance,
    )

    src = str(tmp_path / "deltas")
    target = str(tmp_path / "dim")
    ddl = "k long, bal double, seg string"

    def run(rows, mode):
        spark.createDataFrame(rows, ddl).write.mode(mode).parquet(src)
        q = scd2_dimension_maintenance(
            spark.readStream.schema(ddl).parquet(src), target
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run([(1, 10.0, "A")], "overwrite")
    run([(1, 20.0, "A"), (2, 5.0, "B")], "append")
    os.rename(target, f"{target}_stage")
    run([(1, 30.0, "A"), (3, 7.0, "C")], "append")

    assert not os.path.exists(f"{target}_stage")
    got = {
        (r.k, r.bal, r.version, r.is_current)
        for r in spark.read.parquet(target).collect()
    }
    assert got == {
        (1, 10.0, 1, False),
        (1, 20.0, 2, False),
        (1, 30.0, 3, True),
        (2, 5.0, 2, True),
        (3, 7.0, 3, True),
    }


def test_rollup_marker_commits_inside_the_store(spark, tmp_path):
    """The rollup's applied-batch marker is committed with the rows it
    certifies, inside the store; no sibling marker directory and no
    stage are left behind."""
    import os

    from open_street_map_data_wrangling_spark.streaming.jobs import rollup_merge_fn

    target = str(tmp_path / "rollup")
    batch = spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}")],
        "event_id long, ts_s string, user_id long, event_type string, value double, props string",
    ).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    rollup_merge_fn(spark, target)(batch, 0)
    assert os.path.isfile(f"{target}/_applied_0")
    assert not os.path.exists(f"{target}_applied")
    assert not os.path.exists(f"{target}_stage")


def test_partition_overwrite_merges_write_no_session_conf(
    spark, tmp_path, monkeypatch
):
    """The IVF-PQ codes and geo points merges overwrite only their
    batch's leaf partitions without touching the shared session's
    partitionOverwriteMode: a conf write there leaks into every query
    running on the session at the same time."""
    from pyspark.sql.conf import RuntimeConfig

    from open_street_map_data_wrangling_spark.operators import pq
    from open_street_map_data_wrangling_spark.operators.geo import synth_points
    from open_street_map_data_wrangling_spark.streaming.jobs import (
        geo_points_merge_fn,
        ivfpq_codes_merge_fn,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    pts = synth_points(load_table(spark, "/root/testdata/sf0.001", "customer"))
    index = str(tmp_path / "ivfpq")
    geo = str(tmp_path / "geo")
    pq.build_ivfpq_index(emb.filter(F.col("vec_id") < 300), index)

    written = []
    set_conf = RuntimeConfig.set
    monkeypatch.setattr(
        RuntimeConfig,
        "set",
        lambda self, k, v: (written.append(k), set_conf(self, k, v))[1],
    )
    ivfpq_codes_merge_fn(spark, index)(emb.filter(F.col("vec_id") >= 300), 0)
    geo_points_merge_fn(spark, geo)(pts.filter("id <= 75"), 0)
    geo_points_merge_fn(spark, geo)(pts.filter("id > 75"), 1)
    assert key not in written

    # still a dynamic overwrite: earlier batches' leaves survive
    assert spark.read.parquet(f"{index}/codes").count() == emb.count()
    assert spark.read.parquet(geo).count() == pts.count()


# Every merge that folds a batch through sinks.merge_store, with the
# merge kind it declares: (merge function name, input frame, store
# subdirectory, kind).  "sum" stores are marker-gated; "max" and
# "distinct" stores are idempotent and carry no marker.
_STORE_MERGES = [
    ("rollup_merge_fn", "events", "", "sum"),
    ("hll_merge_fn", "events", "", "max"),
    ("cms_merge_fn", "docs", "", "sum"),
    ("int8_scales_merge_fn", "vecs", "", "max"),
    ("lm_counts_merge_fn", "docs", "", "sum"),
    ("drift_counts_merge_fn", "docs", "", "sum"),
    ("decayed_counts_merge_fn", "events", "", "sum"),
    ("emb_drift_merge_fn", "vecs", "", "sum"),
    ("span_gram_merge_fn", "docs", "", "sum"),
    ("text_index_merge_fn", "docs", "/postings", "distinct"),
    ("winnow_print_merge_fn", "docs", "", "distinct"),
    ("contamination_bands_merge_fn", "docs", "", "distinct"),
    ("media_prints_merge_fn", "docs", "", "distinct"),
    ("gram_store_merge_fn", "docs", "", "distinct"),
    ("source_gram_merge_fn", "docs", "", "distinct"),
]


def _tiny_batch(spark, kind):
    """Two-row input frames: events, (doc_id, source, text) documents
    long enough for every gram window and both in the LM train split,
    or 4-dim vectors."""
    if kind == "events":
        return spark.createDataFrame(
            [
                (1, "2024-01-01 10:05:00", 1, "click", 1.0, "{}"),
                (2, "2024-01-01 11:10:00", 2, "view", 2.0, "{}"),
            ],
            "event_id long, ts_s string, user_id long, event_type string,"
            " value double, props string",
        ).select(
            "event_id", F.col("ts_s").cast("timestamp").alias("ts"),
            "user_id", "event_type", "value", "props",
        )
    if kind == "docs":
        words = [f"w{i % 7}" for i in range(40)]
        return spark.createDataFrame(
            [
                (4, "web", " ".join(words)),
                (6, "wiki", " ".join(reversed(words)) + "  tail"),
            ],
            "doc_id long, source string, text string",
        )
    return spark.createDataFrame(
        [(1, [0.5, -1.0, 2.0, 0.25]), (2, [1.5, 0.0, -3.0, 0.75])],
        "vec_id long, embedding array<float>",
    )


@pytest.mark.parametrize(
    "name, frame, sub, kind", _STORE_MERGES, ids=[m[0] for m in _STORE_MERGES]
)
def test_store_merge_redelivery(spark, tmp_path, count_jobs, name, frame, sub, kind):
    """Merging the same (batch, batch_id) twice leaves the store's rows
    as the first merge wrote them.  A summing store holds the batch's
    ``_applied_<id>`` marker and its redelivery starts no Spark job
    (the rollup's empty-batch probe excepted); a max or distinct store
    holds no marker."""
    import os
    from collections import Counter

    from open_street_map_data_wrangling_spark.streaming import jobs

    store = str(tmp_path / "store")
    if name == "media_prints_merge_fn":
        merge = jobs.media_prints_merge_fn(
            spark,
            store,
            lambda d: d.select(
                "doc_id",
                (F.col("doc_id") * 7).alias("dhash_hi"),
                (F.col("doc_id") * 13).alias("dhash_lo"),
            ),
        )
    else:
        merge = getattr(jobs, name)(spark, store)
    batch = _tiny_batch(spark, frame)
    path = store + sub

    def rows():
        return Counter(map(tuple, spark.read.parquet(path).collect()))

    merge(batch, 5)
    first = rows()
    assert first
    jobs_run = count_jobs(lambda: merge(batch, 5))
    assert rows() == first
    markers = sorted(n for n in os.listdir(path) if n.startswith("_applied_"))
    if kind == "sum":
        assert markers == ["_applied_5"]
        assert jobs_run <= (1 if name == "rollup_merge_fn" else 0)
    else:
        assert markers == []
