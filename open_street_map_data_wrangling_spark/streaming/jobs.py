"""Structured Streaming jobs — SURVEY.md §2.9.

The reference is batch-only; this module wires the *same logical
expressions* as operators/streaming_batch.py behind `readStream`, so
batch is the oracle for streaming (the driver rows-only checks the
streaming path; the windowing/sessionization logic itself is
hash-verified through the batch twins).

Patterns covered:
* file-source stream with explicit schema (no inference at scale)
* watermark + tumbling window aggregation (late-data bound = state
  retention bound — without it, window state grows forever)
* watermark + dropDuplicates (stateful dedup; state keyed by id,
  expired by the watermark)
* session_window aggregation (gap-close semantics)
* applyInPandasWithState custom stateful operator (per-user running
  count) — the escape hatch when built-in stateful ops can't express
  the semantics
* stream-stream interval join (watermarks on both sides bound the
  join state) — signup→purchase correlation; batch twin: q_funnel
* foreachBatch continuous aggregate (incremental_hourly_rollup) —
  MERGE-style rollup maintenance folded in by sinks.merge_store.

All jobs are trigger-agnostic: tests drive them with
`trigger(availableNow=True)` into a memory sink; production would use
a continuous trigger + checkpointLocation on durable storage.

Deployment API.  No registry query calls these entry points; the soak
tests in tests/test_streaming.py drive them:
* store maintenance — each `*_maintenance` function, plus
  incremental_hourly_rollup, scd2_dimension_maintenance and
  incremental_near_dedup, runs one store's foreachBatch merge over a
  stream and returns the StreamingQuery;
* deletes — the `purge_*` functions and
  family_registry_purge_maintenance remove ids from a store;
* stream shapes — quality_gated_ingest, asof_enriched_purchases and
  signup_purchase_correlation.
The `*_merge_fn` foreachBatch bodies are module-level so tests can
replay a batch directly.

Commit semantics.  A maintained store is rewritten through
sinks.commit_store (stage, then rename over the store).  Fifteen
stores fold each batch in by one rule, sinks.merge_store: the
`*_merge_fn` names the batch's delta, its key columns and the merge
kind (sum, max or distinct), and the kind alone decides the
`_applied_<batch_id>` redelivery marker (only a sum is marked).  The
merges that rule cannot express stay custom, each on commit_store:
the SCD2 dimension (a redelivered delta adds no rows), the BM25
doc-replace, the hard-negative per-cell cap, the shard manifest's
offset placement, the family registry and the purges and compactions.
The near-dedup store, the IVF-PQ codes and the geo points instead
overwrite batch-keyed slices (a `batch_id=` directory, or `__batch=`
leaves under a dynamic partition overwrite set as a writer option),
so a replayed batch rewrites only its own slice.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.sinks import commit_store, merge_store

# Explicit source schema — streaming readers must not infer (a schema
# change midstream is an operational event, not a silent widening).
EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)


def events_file_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files
    (µs timestamps — i.e. files written by this engine's sinks)."""
    return spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(src_dir)


def tumbling_counts(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Tumbling 5-minute counts per event type (q_tumbling's logic).
    The watermark bounds both late-data acceptance and window state."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "cnt")
    )


def sessionized_counts(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Per-user session event counts via session_window (q_session_window's
    logic, incremental form)."""
    return (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("start_us"),
            F.unix_micros("sw.end").alias("end_us"),
            "n_events",
        )
    )


def deduped_events(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful dedup on event_id (q_stream_dedup's streaming form);
    watermark expires dedup state so it cannot grow unboundedly."""
    return stream.withWatermark("ts", watermark).dropDuplicates(["event_id"])


def user_running_counts(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: running
    per-user event count — the template for stateful logic Spark's
    built-ins can't express (per-key model state, decayed counters,
    online sketches)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, n_events bigint"
    state_schema = "n bigint"

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_to_memory(result: DataFrame, name: str, output_mode: str = "complete") -> DataFrame:
    """Drive a streaming result to completion with availableNow into a
    memory sink; returns the materialized table (test/demo harness)."""
    spark = result.sparkSession
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def rollup_merge_fn(spark: SparkSession, target_dir: str):
    """The rollup's per-batch merge, exposed at module level so tests
    can drive RETRIES directly (foreachBatch is at-least-once: a
    crash between sink commit and checkpoint commit re-runs the
    batch).  A sum merge (sinks.merge_store), so a redelivered batch
    id is a no-op instead of a double count.

    Cost: each batch rewrites the whole rollup — O(hours x event
    types) rows, one ``hour_key`` partition per hour — not only the
    hours the batch touched."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_store(
            spark, target_dir, batch_id,
            lambda: batch_df.groupBy(
                F.date_trunc("hour", "ts").alias("hour"), "event_type"
            )
            .agg(F.count("*").alias("cnt"))
            .withColumn("hour_key", F.date_format("hour", "yyyyMMddHH")),
            ("hour", "event_type", "hour_key"), "sum",
            partition_by=("hour_key",),
        )

    return merge


def incremental_hourly_rollup(stream: DataFrame, target_dir: str):
    """Continuous-aggregate pattern (the 'hypertable rollup'): keep a
    parquet table of per-(hour, event_type) counts incrementally
    up-to-date as events stream in. Each micro-batch is partially
    aggregated, then folded into the current rollup state by
    sinks.merge_store.

    foreachBatch is the escape hatch for sinks Spark cannot express
    declaratively (MERGE-style upserts); the batch function receives a
    normal DataFrame, so the merge itself is ordinary engine code —
    see rollup_merge_fn for the retry-safety contract.
    Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        stream, rollup_merge_fn(stream.sparkSession, target_dir), target_dir
    )


def signup_purchase_correlation(stream: DataFrame) -> DataFrame:
    """Stream-stream join: purchases matched to the same user's signup
    within 1 hour — both sides watermarked, join condition bounded in
    event time so state on each side is expirable (an unbounded
    stream-stream join would accumulate state forever).

    Canonical funnel/correlation shape: at 100 TB the state store
    holds only the watermark-bounded window of each side, keyed by
    user — size is bounded by (event rate x window), not history."""
    signups = (
        stream.filter(F.col("event_type") == "signup")
        .select(
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.col("event_id").alias("s_event"),
        )
        .withWatermark("s_ts", "30 minutes")
    )
    purchases = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "30 minutes")
    )
    return signups.join(
        purchases,
        (F.col("s_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("s_ts"))
        & (F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(
        F.col("s_user").alias("user_id"),
        F.unix_micros("s_ts").alias("signup_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
        "p_value",
    )


def asof_enriched_purchases(stream: DataFrame) -> DataFrame:
    """Streaming AS-OF enrichment: every purchase is emitted with the
    user's most recent at-or-before click — the streaming twin of the
    batch q_asof_join (operators/joins.py). Per-user state holds just
    the latest click (ts, id, value): O(keys) state, no buffering of
    the click stream, which is why this is the canonical enrichment
    shape for unbounded streams where a stream-stream interval join
    would have to retain a whole watermark window of both sides.

    Rows within each micro-batch are processed in ts order; clicks
    update state, purchases read it. Late clicks (arriving after a
    purchase they precede logically) are not retro-applied — the
    at-most-state-size tradeoff every streaming as-of makes; bound
    staleness with the source's ordering guarantees or fall back to
    the interval join."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = (
        "purchase_id bigint, user_id bigint, p_ts_us bigint, "
        "click_id bigint, click_ts_us bigint, click_value double"
    )
    state_schema = "click_id bigint, click_ts_us bigint, click_value double"

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        last = state.get if state.exists else None
        out: list[dict[str, Any]] = []
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values("ts_us", kind="mergesort")
        for row in pdf.itertuples(index=False):
            if row.event_type == "click":
                last = (int(row.event_id), int(row.ts_us), float(row.value))
            elif row.event_type == "purchase":
                out.append(
                    {
                        "purchase_id": int(row.event_id),
                        "user_id": int(key[0]),
                        "p_ts_us": int(row.ts_us),
                        "click_id": last[0] if last else None,
                        "click_ts_us": last[1] if last else None,
                        "click_value": last[2] if last else None,
                    }
                )
        if last is not None:
            state.update(last)
        yield pd.DataFrame(
            out,
            columns=[
                "purchase_id", "user_id", "p_ts_us",
                "click_id", "click_ts_us", "click_value",
            ],
        )

    prepared = stream.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        "user_id", "event_id", "event_type", "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    return prepared.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def quality_gated_ingest(
    stream: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming ingest chain — the composed form of the batch
    pipeline ops run continuously at the door of a training corpus:
    validate (q_validate's predicate), stateful dedup on the natural
    key, then per-(minute, event_type) admit/reject accounting.
    Stateless filters run BEFORE the stateful dedup so invalid rows
    never enter dedup state. Dedup state is bounded by the watermark
    ONLY because this uses dropDuplicatesWithinWatermark: plain
    dropDuplicates(['event_id']) never evicts state when the
    event-time column is not part of the dedup key subset, so a
    long-running stream would grow its state store without bound —
    the within-watermark form expires each key once it falls behind
    the watermark (the correct semantics for at-least-once sources,
    where redeliveries arrive close in event time). At scale this is
    the pattern where cleaning costs nothing extra — every filter
    fuses into the same micro-batch scan.

    Rejected rows are counted, not dropped silently: the output is
    the admit/reject ledger per window (the monitoring stream); the
    admitted rows themselves would tee to the corpus sink via
    foreachBatch in deployment."""
    ok = (
        F.col("user_id").isNotNull()
        & F.col("value").between(0, 100)
        & F.col("event_type").isin("click", "view", "signup", "purchase", "error")
    )
    validated = stream.withColumn("__ok", ok)
    admitted = (
        validated.filter("__ok")
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    return (
        admitted.groupBy(
            F.window("ts", "1 minute").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_admitted"))
        .select(F.unix_micros("w.start").alias("win_start_us"), "event_type", "n_admitted")
    )


def scd2_dimension_maintenance(delta_stream: DataFrame, target_dir: str):
    """Streaming SCD2: keep a type-2 dimension parquet incrementally
    consistent as (k, bal, seg) delta batches arrive.

    Each micro-batch merges against the target's CURRENT rows only —
    history rows are immutable and pass through untouched — with the
    generation stamp max(version)+1, so versions are a pure function
    of batch arrival order.  The merge itself is the batch operator
    (operators/cdc.scd2_merge): delta broadcast, snapshot streamed,
    never shuffled.  The streaming checkpoint gives each source file
    exactly-once batch membership, and each batch commits through
    sinks.commit_store, so a crash mid-commit is finished by the next
    batch instead of losing the dimension.  No applied-batch marker
    is needed: a redelivered delta finds every key unchanged
    (``eqNullSafe``) or already present, so it adds no rows.  Batches
    must be key-unique — reduce an ingest stream to latest-per-key
    upstream (deduped_events is the streaming shape for that).

    Returns the StreamingQuery (caller stops it)."""
    from ..operators.cdc import scd2_merge

    spark = delta_stream.sparkSession

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return

        def fold(exists: bool) -> DataFrame:
            if not exists:  # first batch: everything is an insert at generation 1
                return scd2_merge(batch_df.limit(0), batch_df, gen=1)
            full = spark.read.parquet(target_dir)
            gen = full.agg(F.max("version")).first()[0] + 1
            return scd2_merge(
                full.filter(F.col("is_current")).select("k", "bal", "seg", "version"),
                batch_df,
                gen=gen,
            ).unionByName(full.filter(~F.col("is_current")))

        commit_store(spark, target_dir, fold)

    return _maintain(delta_stream, merge, target_dir)


def incremental_near_dedup(doc_stream: DataFrame, store_dir: str, out_dir: str):
    """Streaming near-dedup: admit only documents that are not
    near-duplicates of anything already ACCEPTED, maintaining a
    MinHash band-signature store across batches.

    Per micro-batch: band signatures for the batch (the batch
    operator pipeline — one md5 per shingle, 8 permutations, 4
    bands); batch docs sharing ANY band bucket with the store are
    rejected as near-dups; batch-internal near-dups resolve by
    id-order greedy selection over the capped candidate pairs
    (greedy_chain_rejects — a doc is rejected only against a
    SURVIVING lower-id doc, mirroring the store rule); survivors'
    bands land in the store and survivors' ids in ``out_dir``.

    Idempotence: both the store and the output are written to
    batch_id-keyed subdirectories with overwrite, so a retried batch
    rewrites its own slice instead of appending twice — together with
    the checkpoint's exactly-once file-to-batch assignment this makes
    the whole job replay-safe.  The store stays O(accepted docs x 4
    bands) rows of (bi, bv) — signatures, never text; the probe join
    is keyed on (bi, bv), the LSH bucket posture dedup.py audits.

    Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream,
        near_dedup_merge_fn(doc_stream.sparkSession, store_dir, out_dir),
        out_dir,
    )


def near_dedup_merge_fn(spark: SparkSession, store_dir: str, out_dir: str):
    """incremental_near_dedup's per-batch merge, module-level so tests
    can drive redeliveries directly (see the retry notes inline)."""
    from ..operators.dedup import (
        _capped_band_pairs,
        _lsh_bands,
        greedy_chain_rejects,
        minhash_sigs,
    )

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bands = _lsh_bands(minhash_sigs(batch_df)).localCheckpoint()
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        store_path = jvm.org.apache.hadoop.fs.Path(store_dir)
        fs = store_path.getFileSystem(hconf)
        if fs.exists(store_path):
            # exclude THIS batch's own partition from the probe: a
            # RETRIED batch otherwise collides with the signatures its
            # first attempt stored and rejects every one of its own
            # docs — silent data loss on at-least-once redelivery.
            # With the self-partition excluded, a retry reproduces the
            # first attempt bit-for-bit (the batch_id-keyed overwrite
            # below is already idempotent).
            store = (
                spark.read.parquet(store_dir)
                .filter(F.col("batch_id") != batch_id)
                .select("bi", "bv")
            )
            vs_store = (
                bands.join(store, ["bi", "bv"], "left_semi")
                .select("doc_id")
                .distinct()
            )
        else:
            vs_store = bands.select("doc_id").limit(0)
        # batch-internal near-dups: id-order greedy selection over the
        # candidate pairs among STORE-SURVIVING docs, so the whole job
        # obeys one rule — a doc is rejected iff it collides with an
        # ACCEPTED doc (prior batch via the store, or a lower-id
        # in-batch survivor).  Rejecting doc_b of every pair dropped
        # chain tails (a~b, b~c lost c though b never survived);
        # pairs touching a store-rejected doc are excluded the same
        # way the store itself only carries survivors' bands.
        pairs = _capped_band_pairs(bands)
        alive = (
            pairs.join(vs_store, pairs.doc_a == vs_store.doc_id, "left_anti")
            .join(vs_store, F.col("doc_b") == vs_store.doc_id, "left_anti")
        )
        internal = greedy_chain_rejects(alive)
        rejected = vs_store.unionByName(internal).distinct()
        kept = batch_df.select("doc_id").join(rejected, "doc_id", "left_anti")
        kept_bands = bands.join(kept, "doc_id", "left_semi")
        kept_bands.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={batch_id}"
        )
        kept.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return merge


def _maintain(stream: DataFrame, merge_fn, store: str):
    """Run ``merge_fn`` as the foreachBatch body of ``stream`` with its
    checkpoint at ``{store}_ckpt``; returns the StreamingQuery (caller
    stops it)."""
    return (
        stream.writeStream.foreachBatch(merge_fn)
        .option("checkpointLocation", f"{store}_ckpt")
        .start()
    )


def hll_merge_fn(spark: SparkSession, store_dir: str):
    """Register-max merge for the deterministic HLL
    (operators/sketches.hll_registers): the store holds at most
    |groups| x 256 (event_type, b, m) rows and a micro-batch folds in
    via max(m) per register (sinks.merge_store: max needs no
    redelivery marker)."""
    from ..operators.sketches import hll_registers

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: hll_registers(batch_df, "event_type", "event_id").select(
                "event_type", "b", "m"
            ),
            ("event_type", "b"), "max",
        )

    return merge


def hll_sketch_maintenance(stream: DataFrame, store_dir: str):
    """Continuous distinct-count sketch: maintain the deterministic
    HLL register table across micro-batches.  The store IS the
    sketch — any reader can turn it into per-group estimates at any
    moment without touching the event history, and because the
    registers are md5-deterministic the store after N batches is
    bit-identical to hll_registers() over the concatenated input
    (pinned in tests/test_streaming.py, including under replay).
    Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        stream, hll_merge_fn(stream.sparkSession, store_dir), store_dir
    )


def cms_merge_fn(spark: SparkSession, store_dir: str):
    """Count-min counter merge: each batch's counters are
    sketches.cms_counters over its token frequencies — q_cms_topk's
    own definition, empty tokens included — summed into the store
    (sinks.merge_store: a sum commits an ``_applied_<batch_id>``
    marker, so a redelivered batch is not counted twice).  Contrast
    hll_merge_fn: pick sketch state whose merge is idempotent (max /
    set-union) when you can, pay the marker only when the semantics
    force addition."""
    from ..operators.sketches import cms_counters, token_freq

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: cms_counters(token_freq(batch_df)), ("d", "pos"), "sum",
        )

    return merge


def cms_counter_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous token-frequency sketch over a document stream: the
    3x1024-counter table stays additive across micro-batches, so
    any reader answers "how often has token X occurred so far" from
    a few KB of state.  Marker-gated against redelivery (see
    cms_merge_fn).  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream, cms_merge_fn(doc_stream.sparkSession, store_dir), store_dir
    )


def ivfpq_codes_merge_fn(
    spark: SparkSession, index_path: str, meta: tuple[str, ...] = ()
):
    """foreachBatch body for ivfpq_index_maintenance, exposed so
    tests can drive replays directly.

    Per micro-batch of (vec_id, embedding) rows: rebuild the plan
    literals from the tiny seeds parquet (bounded read — the corpus
    table is never touched), run the SAME row-local code projection
    the batch build uses (pq._code_projection, so maintained codes
    are byte-identical to a full rebuild), stamp the rows with this
    batch's id, and dynamic-partition-overwrite them into
    ``codes/cid=*/__batch=<id>/``.

    Replay safety comes from the LAYOUT, not a marker: every row of
    batch b lands in a ``__batch=b`` leaf partition, and dynamic
    overwrite mode replaces exactly the leaf partitions present in
    the written frame — a redelivered batch rewrites its own leaves
    and cannot double-append or touch any other batch (contrast the
    additive CMS store, which needs markers).  Contract: vec_ids are
    append-only unique across batches (new documents); re-embedding
    an existing id is a compaction event, not an append."""
    from ..operators import pq as pq_mod

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        bs = batch_df.sparkSession
        seeds = bs.read.parquet(f"{index_path}/seeds").collect()
        raw = {
            int(r["vec_id"]): [float(x) for x in r["embedding"]]
            for r in seeds
        }
        qs = [pq_mod._quantize(raw[i]) for i in range(pq_mod._K)]
        cb = [
            [qv[s * pq_mod._SUBDIM : (s + 1) * pq_mod._SUBDIM] for qv in qs]
            for s in range(pq_mod._M)
        ]
        c = int(seeds[0]["n_centroids"]) if seeds else 0
        cents = [raw[i] for i in range(c)]
        coded = pq_mod._code_projection(
            batch_df.select("vec_id", "embedding", *meta), cb, cents,
            with_embedding=True, meta=meta,
        ).withColumn("__batch", F.lit(batch_id + 1))
        # a writer option, not a session conf: a static overwrite
        # would replace the WHOLE codes table with one batch, and a
        # conf write would leak into queries sharing the session
        coded.hint("rebalance", "cid", "__batch").write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "cid", "__batch"
        ).parquet(f"{index_path}/codes")

    return merge


def ivfpq_index_maintenance(
    vec_stream: DataFrame, index_path: str, meta: tuple[str, ...] = ()
):
    """Streaming IVF-PQ index freshness: keep the persisted codes
    table (operators/pq.build_ivfpq_index) current as new vectors
    arrive, so ivfpq_search always serves the full corpus without a
    rebuild.  At 100 TB this is the ingest half of the index story:
    the build pass is the one-off backfill, this job is the nightly/
    continuous delta, and both produce byte-identical codes because
    they share one projection against one persisted codebook.
    Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        vec_stream,
        ivfpq_codes_merge_fn(vec_stream.sparkSession, index_path, meta),
        index_path,
    )


def int8_scales_merge_fn(spark: SparkSession, store_dir: str):
    """Incremental int8 scale store (X70/X71 serving): merge each
    micro-batch's per-dimension max|x| into the (pos, m) store with a
    per-dim MAX (sinks.merge_store: no redelivery marker).  The
    store is MONOTONE: scales only grow as vectors arrive — exactly
    what int8 serving needs after corpus growth (the r10 VERDICT
    deployment failure: serving from scales that predate new
    out-of-range values mis-weights every dimension they widened).  A
    re-embedding that shrinks a dimension's range is a rebuild event
    (similarity.build_int8_scales), the ivfpq-compaction contract."""
    from ..operators.similarity import _int8_scales

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        merge_store(
            spark, store_dir, batch_id,
            lambda: _int8_scales(batch_df.filter(F.col("embedding").isNotNull())),
            ("pos",), "max",
        )

    return merge


def int8_scales_maintenance(vec_stream: DataFrame, store_dir: str):
    """Continuous int8 scale upkeep over a (vec_id, embedding)
    stream; serving is similarity.int8_recall_served (or any int8
    scorer) reading the 64-row store instead of re-aggregating the
    corpus.  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        vec_stream,
        int8_scales_merge_fn(vec_stream.sparkSession, store_dir),
        store_dir,
    )


def lm_counts_merge_fn(spark: SparkSession, store_dir: str):
    """Unigram-LM vocabulary maintenance — exact (tok, c) counts over
    the TRAIN split of a document stream, kept current so the
    q_lm_surprisal quality filter (operators/text.py) can score
    incoming documents against yesterday's LM without retraining:
    serving is text.lm_score_docs(docs, spark.read.parquet(store)).

    Each batch's delta is text.lm_train_counts, the counts
    q_lm_surprisal trains on, summed into the store
    (sinks.merge_store, marker-gated), so streamed store == batch LM
    counts over the concatenated corpus, which the soak test pins
    exactly."""
    from ..operators.text import lm_train_counts

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: lm_train_counts(batch_df), ("tok",), "sum",
        )

    return merge


def lm_vocab_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous unigram-LM training over a document stream: each
    micro-batch's train-split token counts merge additively into the
    vocabulary store (marker-gated against redelivery, see
    lm_counts_merge_fn).  The store IS the LM — scoring new docs
    against it is one broadcast join (text.lm_score_docs), no
    retraining pass.  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream,
        lm_counts_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def drift_counts_merge_fn(spark: SparkSession, store_dir: str):
    """Distribution-drift monitor maintenance — the (bkt, n_a, n_b)
    count table of pipeline_ops.q_quality_drift kept current over a
    document stream, summed per batch (sinks.merge_store,
    marker-gated).  The window/bucket tagging is the SAME
    drift_counts expression the batch query uses, so streamed store
    == batch counts over the concatenated corpus, and serving the
    full drift report is pipeline_ops.drift_report(read(store)) — a
    fold over at most `_DRIFT_BUCKETS` rows, zero corpus scans."""
    from ..operators.pipeline_ops import drift_counts

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: drift_counts(batch_df), ("bkt",), "sum",
        )

    return merge


def drift_stats_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous drift monitoring over a document stream: each
    micro-batch's per-bucket window counts merge additively into the
    store (marker-gated against redelivery, see drift_counts_merge_fn).
    The store IS the monitor's state — any reader folds it into the
    q_quality_drift report at any moment without touching the
    document history.  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream,
        drift_counts_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def decayed_counts_merge_fn(spark: SparkSession, store_dir: str):
    """Additive per-(user_id, bkt) event-count merge — the state
    behind the time-decayed heavy hitters (X127/X128): counts at
    absolute 3-day-bucket granularity, so the decay NEVER touches
    the stored numbers — age enters only at serve time as a bucket
    shift (sketches.decayed_topk_from_store).  A sum merge
    (sinks.merge_store, marker-gated).  The store stays |active
    users| x |age buckets| rows whatever the event volume — the
    compaction that makes a standing trending query affordable."""
    from ..operators.sketches import decayed_counts

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: decayed_counts(batch_df), ("user_id", "bkt"), "sum",
        )

    return merge


def decayed_topk_maintenance(stream: DataFrame, store_dir: str):
    """Continuous trending-user state over the event stream: each
    micro-batch folds its per-(user, bucket) counts into the store
    additively (marker-gated against redelivery, see
    decayed_counts_merge_fn).  The store IS the trending query's
    state — sketches.decayed_topk_from_store turns it into the
    decayed top-k at any moment without rescoring the event history,
    and the streamed store equals decayed_counts() over everything
    seen (pinned in tests/test_streaming.py, including under
    replay).  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        stream,
        decayed_counts_merge_fn(stream.sparkSession, store_dir),
        store_dir,
    )


def emb_drift_merge_fn(spark: SparkSession, store_dir: str):
    """Additive per-(wave, dim) fixed-point sums merge — the state
    behind the embedding-drift monitor (X132/X135): each micro-batch
    of newly ingested vectors folds its quantized component sums and
    counts into the store, so the standing drift report never
    rescans the embeddings history.  A sum merge
    (sinks.merge_store, marker-gated).  The store stays 2 x |dims|
    rows (128 here) whatever the ingest volume."""
    from ..operators.similarity import drift_wave_sums

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: drift_wave_sums(batch_df), ("wave", "pos"), "sum",
        )

    return merge


def embedding_drift_maintenance(vec_stream: DataFrame, store_dir: str):
    """Continuous embedding-drift state over a vector ingest stream:
    each micro-batch folds its per-(wave, dim) quantized sums into
    the store additively (marker-gated against redelivery, see
    emb_drift_merge_fn).  similarity.embedding_drift_from_store
    turns the store into the drift report at any moment with zero
    history rescans, and the streamed store equals
    drift_wave_sums() over everything seen (pinned in
    tests/test_streaming.py, including under replay).  Returns the
    StreamingQuery (caller stops it)."""
    return _maintain(
        vec_stream,
        emb_drift_merge_fn(vec_stream.sparkSession, store_dir),
        store_dir,
    )


def shard_manifest_merge_fn(spark: SparkSession, store_dir: str):
    """Incremental output-shard planning — pipeline_ops.q_shard_plan's
    granular (shard, source) manifest kept current as corpus chunks
    arrive IN (source, doc_id) ORDER (the append-only export
    contract: a batch is placed after everything already planned).
    The stored end offset is simply sum(bytes) over the store — no
    separate state row — so placement is not idempotent and each
    batch commits an `_applied_` marker through sinks.commit_store,
    like the summing stores of sinks.merge_store; the offset and the
    mixed sum/sum/min/max merge at (shard_id, source) grain keep it
    custom.  That merge is why the streamed store folded through
    shard_manifest_fold equals the one-shot plan over the
    concatenated corpus (pytest-pinned)."""
    from ..operators.pipeline_ops import shard_manifest, shard_place

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        def fold(exists: bool) -> DataFrame:
            if not exists:
                return shard_manifest(shard_place(batch_df, 0))
            store = spark.read.parquet(store_dir).select(
                "shard_id", "source", "n_docs", "bytes",
                "first_doc", "last_doc",
            )
            # bounded scalar: one aggregate row over the tiny store
            end_offset = store.agg(F.sum("bytes")).collect()[0][0] or 0
            delta = shard_manifest(shard_place(batch_df, int(end_offset)))
            return (
                store.unionByName(delta)
                .groupBy("shard_id", "source")
                .agg(
                    F.sum("n_docs").cast("bigint").alias("n_docs"),
                    F.sum("bytes").cast("bigint").alias("bytes"),
                    F.min("first_doc").cast("bigint").alias("first_doc"),
                    F.max("last_doc").cast("bigint").alias("last_doc"),
                )
            )

        commit_store(spark, store_dir, fold, marker=f"_applied_{batch_id}")

    return merge


def text_index_merge_fn(spark: SparkSession, index_path: str):
    """Incremental inverted-index maintenance
    (text.build_text_index's postings kept current over a document
    stream): each micro-batch's text.text_postings — the rows the
    batch build writes — set-union into postings/
    (sinks.merge_store, distinct: no markers).  The store is read
    with the postings' schema, so an index bootstrapped from an empty
    corpus (a fileless postings dir that EXISTS) merges instead of
    crashing schema inference.  text.text_search serves from the
    maintained index unchanged, and streamed == batch-built is
    pytest-pinned."""
    from ..operators.text import text_postings

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, f"{index_path}/postings", batch_id,
            lambda: text_postings(batch_df), partition_by=("bkt",),
        )

    return merge


def text_index_maintenance(doc_stream: DataFrame, index_path: str):
    """Continuous inverted-index upkeep over a document stream;
    serving is text.text_search over the maintained postings —
    zero corpus scans.  Returns the StreamingQuery (caller stops
    it)."""
    return _maintain(
        doc_stream,
        text_index_merge_fn(doc_stream.sparkSession, index_path),
        f"{index_path}/postings",
    )


def hardneg_cells_merge_fn(spark: SparkSession, index_path: str):
    """Incremental maintenance of the hard-negative cell index
    (similarity.build_hardneg_index must have run once): each
    micro-batch of new (vec_id, embedding) rows is cell-tagged
    against the PERSISTED codebook (seeds/, whose rows carry the
    build-time centroid count — the ivfpq
    maintenance convention: the build-time cell layout is pinned,
    codebook refresh is a rebuild), normed, unioned with the stored
    cells, and re-reduced to the ≤ _HARDNEG_CELL_CAP md5-rank-LOWEST
    members per cell.  min-k of a union equals min-k of the union of
    min-k's (the KMV-sketch merge property), so the maintained store
    is IDENTICAL to a fresh build over the concatenated corpus
    (pytest-pinned) and the set-semantics merge is idempotent — no
    applied-batch markers, just sinks.commit_store.  The whole
    store is ≤ C × CAP rows, so the rewrite is bounded regardless of
    corpus size.  Append-only ids: re-embedding an existing id is the
    rebuild path's job, as with the ivfpq codes compaction."""
    from ..operators.similarity import (
        _HARDNEG_CELL_CAP,
        _HARDNEG_SEEDS_DDL,
        _with_cell,
        dot_expr,
    )

    store_dir = f"{index_path}/cells"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        def fold(exists: bool) -> DataFrame | None:
            seeds = (
                spark.read.schema(_HARDNEG_SEEDS_DDL)
                .parquet(f"{index_path}/seeds")
                .collect()
            )
            raw = {
                int(r["vec_id"]): [float(x) for x in r["embedding"]]
                for r in seeds
            }
            c = int(seeds[0]["n_centroids"]) if seeds else 0
            if c == 0 or any(i not in raw for i in range(c)):
                return None  # bootstrap index was empty: nothing to tag against
            cents = [raw[i] for i in range(c)]
            delta = _with_cell(
                batch_df.select("vec_id", "embedding"), cents
            ).select(
                "vec_id",
                "embedding",
                F.sqrt(dot_expr("embedding", "embedding")).alias("nrm"),
                "cid",
            )
            store = spark.read.parquet(store_dir).select(
                "vec_id", "embedding", "nrm", "cid"
            )
            rk_w = W.partitionBy("cid").orderBy(
                F.md5(F.col("vec_id").cast("string")).asc(),
                F.col("vec_id").asc(),
            )
            return (
                store.unionByName(delta)
                .distinct()
                .withColumn("rk", F.row_number().over(rk_w))
                .filter(F.col("rk") <= _HARDNEG_CELL_CAP)
                .drop("rk")
            )

        commit_store(spark, store_dir, fold, partition_by=("cid",))

    return merge


def hardneg_cells_maintenance(vec_stream: DataFrame, index_path: str):
    """Continuous hard-negative index maintenance over a vector
    stream: new embeddings fold into the bounded per-cell samples;
    similarity.hardneg_search serves from the maintained cells/
    unchanged.  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        vec_stream,
        hardneg_cells_merge_fn(vec_stream.sparkSession, index_path),
        f"{index_path}/cells",
    )


def span_gram_merge_fn(spark: SparkSession, store_dir: str):
    """ExactSubstr gram-count maintenance — the corpus-wide
    (g, cnt) table behind q_dup_spans' duplicated-gram set, kept
    current over a document stream.  A sum merge
    (sinks.merge_store, marker-gated; commit_store also carries any
    `_purged_` marker purge_span_gram_store left).
    The gram derivation is dedup._span_gram_base — the SAME exact
    md5 window hash the batch query uses — so the streamed store's
    cnt >= 2 set over the concatenated corpus equals the batch dup
    set, and span_dup_coverage_serve scores any doc batch against
    corpus history with zero history scans: the incremental "how
    much of this new crawl is already in the corpus" gate."""
    from ..operators.dedup import _span_gram_base

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: _span_gram_base(batch_df.select("doc_id", "text"))
            .where(F.col("g").isNotNull())
            .groupBy("g")
            .agg(F.count("*").cast("bigint").alias("cnt")),
            ("g",), "sum",
        )

    return merge


def span_gram_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous ExactSubstr gram counting over a document stream:
    each micro-batch's full-gram counts merge additively into the
    store (marker-gated).  The store is the incremental dedup gate's
    state — span_dup_coverage_serve scores new documents against the
    whole streamed history without re-reading it.  Returns the
    StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream,
        span_gram_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def span_dup_coverage_serve(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """q_dup_spans' per-doc duplicated-span coverage for ANY document
    frame, with the duplicated-gram set read from the maintained
    store instead of derived from a corpus scan — dedup.span_coverage
    over the batch's own gram base joined against the store's
    cnt >= 2 grams.  For documents already merged into the store this
    equals the batch q_dup_spans over the full streamed corpus
    (pytest-pinned); for a NEW batch it answers "which spans of these
    docs already exist in corpus history" before the batch is
    admitted."""
    from ..operators.dedup import _span_gram_base, span_coverage

    dupg = (
        spark.read.parquet(store_dir)
        .where(F.col("cnt") >= 2)
        .select("g")
    )
    return span_coverage(
        _span_gram_base(docs.select("doc_id", "text")), dupg
    )


def winnow_print_merge_fn(spark: SparkSession, store_dir: str):
    """Set-union merge of each micro-batch's winnow prints
    (text._winnow_base over the batch docs) into the store
    (sinks.merge_store, distinct: no markers).  The store is the
    incremental clone-detection index: at 2 bigints per print and
    ~2/(W+1) prints per token it is a small constant fraction of
    corpus size, and serving pairs never re-reads any document."""
    from ..operators.text import _winnow_base

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: _winnow_base(batch_df.select("doc_id", "text")),
        )

    return merge


def winnow_print_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous winnow fingerprinting over a document stream: each
    micro-batch's prints set-union into the store; serving clone-pair
    candidates is winnow_pairs_serve — the full MOSS matching step
    over the store alone, zero corpus scans.  Returns the
    StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream,
        winnow_print_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def winnow_pairs_serve(spark: SparkSession, store_dir: str) -> DataFrame:
    """Clone-pair candidates from the maintained print store —
    text.winnow_pairs_from (crowd cap, >= 2 shared prints) over the
    store relation, definitionally the same matching the inline
    q_winnow_pairs runs, so streamed == batch is pinned in
    tests/test_streaming.py."""
    from ..operators.text import winnow_pairs_from

    return winnow_pairs_from(
        spark.read.parquet(store_dir).select("doc_id", "sel")
    )


def _purge_ids(
    spark: SparkSession,
    store_dir: str,
    deleted: DataFrame,
    read: Callable[[], DataFrame],
    key: str = "doc_id",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Tombstone purge shared by the stores that key rows by id: drop
    ``deleted``'s ``key`` values from the rows ``read()`` returns in
    one broadcast anti-join rewrite, committed by sinks.commit_store.
    A missing store is a no-op."""

    def fold(exists: bool) -> DataFrame | None:
        if not exists:
            return None
        ids = F.broadcast(deleted.select(key).distinct())
        return read().join(ids, key, "left_anti")

    commit_store(spark, store_dir, fold, partition_by=partition_by)


def purge_span_gram_store(
    spark: SparkSession, store_dir: str, deleted_docs: DataFrame
) -> None:
    """Tombstone purge of the ExactSubstr gram-count store: subtract
    the deleted documents' gram counts (dedup._span_gram_base over
    the SAME text the maintenance merge once added — counters are
    additive, so subtraction is exact) and drop grams whose count
    reaches zero.  ``deleted_docs`` is a (doc_id, text) frame: a
    counter store keeps no per-doc rows, so forgetting a doc needs
    its text one last time — the deletion request runs BEFORE the
    corpus rewrite drops the row (the q_tombstone_delete audit's
    ordering).  The purged store equals a rebuild from the filtered
    corpus (pinned in tests/test_tombstone.py).  A missing store is a
    no-op.

    Counter subtraction is NOT idempotent (the same hazard the
    _applied_ markers close for additive merges), so each deletion
    request commits a ``_purged_<request-hash>`` marker through
    sinks.commit_store: the hash is md5 over the sorted deleted
    doc_ids, so a retried or redelivered request no-ops instead of
    subtracting shared gram counts a second time (ADVICE r12: a
    double purge silently under-counted grams shared with surviving
    docs).  The helper carries every marker through later merges
    too, so neither the purge nor any applied batch is forgotten."""
    from ..operators.dedup import _span_gram_base

    h = (
        deleted_docs.select(F.col("doc_id").cast("bigint").alias("doc_id"))
        .distinct()
        .agg(
            F.md5(
                F.concat_ws(",", F.sort_array(F.collect_list("doc_id")))
            ).alias("h")
        )
        .collect()[0]["h"]
    )

    def fold(exists: bool) -> DataFrame | None:
        if not exists:
            return None
        neg = (
            _span_gram_base(deleted_docs.select("doc_id", "text"))
            .where(F.col("g").isNotNull())
            .groupBy("g")
            .agg((-F.count("*")).cast("bigint").alias("cnt"))
        )
        return (
            spark.read.parquet(store_dir)
            .select("g", "cnt")
            .unionByName(neg)
            .groupBy("g")
            .agg(F.sum("cnt").cast("bigint").alias("cnt"))
            .where(F.col("cnt") > 0)
        )

    commit_store(spark, store_dir, fold, marker=f"_purged_{h}")


def purge_text_index(
    spark: SparkSession, index_path: str, deleted: DataFrame
) -> None:
    """Tombstone purge of the inverted text index
    (text.build_text_index postings): drop every (tok, doc_id)
    posting of the deleted doc_ids in one broadcast anti-join
    rewrite, preserving the token-hash bucket partitioning.  Like
    the BM25 purge, a deleted doc's tokens hash across all buckets,
    so the honest cost is a store-wide pass; unlike BM25 there are
    no corpus stats to refresh (q_text_search ranks by plain match
    counts).  Purged store == fresh build over the filtered corpus
    (tests/test_tombstone.py)."""
    store_dir = f"{index_path}/postings"
    ddl = "doc_id BIGINT, tok STRING, bkt INT"
    _purge_ids(
        spark,
        store_dir,
        deleted,
        lambda: spark.read.schema(ddl).parquet(store_dir),
        partition_by=("bkt",),
    )


def purge_image_prints(
    spark: SparkSession, store_dir: str, deleted: DataFrame
) -> None:
    """Tombstone purge of the perceptual image-fingerprint store:
    one broadcast anti-join on doc_id — a forgotten image can never
    again be named by image_dedup_check.  Set-union state, no
    markers.  == filtered rebuild (tests/test_tombstone.py)."""
    _purge_ids(
        spark,
        store_dir,
        deleted,
        lambda: spark.read.schema(_IMAGE_PRINTS_DDL).parquet(store_dir),
    )


def purge_contamination_bands(
    spark: SparkSession, store_dir: str, deleted: DataFrame
) -> None:
    """Tombstone purge of the train-split LSH band store: anti-join
    on doc_id — a forgotten training document can never again be
    cited as a contamination partner by contamination_check.
    == filtered rebuild (tests/test_tombstone.py).

    Contrast documented for the stores this family CANNOT purge
    row-wise: the gram-novelty store keeps only DISTINCT gram hashes
    (a gram may be shared by surviving docs, so forgetting one doc's
    contribution needs a corpus recount — rebuild, not purge), and
    the HLL/KMV/CMS sketch stores are fold-only by construction.
    Those are rebuild-required under deletion, the standard sketch
    contract."""
    _purge_ids(
        spark,
        store_dir,
        deleted,
        lambda: spark.read.schema(_CONTAM_BANDS_DDL).parquet(store_dir),
    )


def geo_points_merge_fn(spark: SparkSession, store_dir: str):
    """foreachBatch body for geo_index_maintenance: project each
    micro-batch of (id, lat, lon) points through the SAME grid/
    superblock coding the offline build uses (geo.geo_code_points —
    byte-identical rows), stamp them with this batch's id, and
    dynamic-partition-overwrite into
    ``gbx=*/gby=*/__batch=<id>/`` leaves.  Replay safety comes from
    the LAYOUT (the ivfpq codes contract): a redelivered batch
    rewrites exactly its own leaf partitions and cannot double-append
    or touch other batches.  Contract: point ids are append-only
    unique across batches; a moved point is an update event —
    purge + re-ingest, not an append."""
    from ..operators.geo import geo_code_points

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        coded = geo_code_points(
            batch_df.select("id", "lat", "lon")
        ).withColumn("__batch", F.lit(batch_id + 1))
        coded.hint("rebalance", "gbx", "gby", "__batch").write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "dynamic").partitionBy(
            "gbx", "gby", "__batch"
        ).parquet(store_dir)

    return merge


def geo_index_maintenance(point_stream: DataFrame, store_dir: str):
    """Streaming freshness for the spatial grid index: new points
    land in their superblock's leaf partitions as they arrive, so
    proximity_search always serves the full ingest history without a
    rebuild.  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        point_stream,
        geo_points_merge_fn(point_stream.sparkSession, store_dir),
        store_dir,
    )


def purge_geo_index(
    spark: SparkSession, store_dir: str, deleted: DataFrame
) -> None:
    """Tombstone purge of the spatial grid index: drop the deleted
    point ids in one broadcast anti-join rewrite, preserving the
    superblock + batch partitioning.  Commit is sinks.commit_store
    (ADVICE r12: a second overwrite into the live path deletes the
    live dir before rewriting, so a crash mid-commit left the store
    missing/partial).  A forgotten point can never again be returned
    by proximity_search; == filtered rebuild pinned in
    tests/test_tombstone.py."""
    from ..operators.geo import _GEO_STORE_DDL

    _purge_ids(
        spark,
        store_dir,
        deleted,
        lambda: spark.read.schema(_GEO_STORE_DDL).parquet(store_dir),
        key="id",
        partition_by=("gbx", "gby", "__batch"),
    )


def purge_winnow_store(
    spark: SparkSession, store_dir: str, deleted: DataFrame
) -> None:
    """Tombstone purge of the winnow-print store: drop the deleted
    doc_ids' print rows in one broadcast anti-join rewrite, so
    winnow_pairs_serve can never again pair a forgotten document.
    The store keys prints BY doc_id (unlike the span-gram counters),
    so the request set alone suffices — no text replay.  Set-union
    state needs no markers (the merge is idempotent).  Purged store
    == rebuild from the filtered corpus, pinned in
    tests/test_tombstone.py."""
    _purge_ids(
        spark,
        store_dir,
        deleted,
        lambda: spark.read.parquet(store_dir).select("doc_id", "sel"),
    )


def contamination_bands_merge_fn(spark: SparkSession, store_dir: str):
    """Set-union merge of each micro-batch's MinHash-LSH band rows
    (dedup.minhash_sigs + dedup._lsh_bands — the SAME band
    derivation inline q_fuzzy_contamination runs) into the
    train-split contamination store (sinks.merge_store, distinct: no
    markers).  The store is the standing eval gate's state: ~4 rows
    × (8 bytes + a ~26-char band value) per train doc, and checking
    a NEW test set against the whole train history never re-reads a
    train document (contamination_check below)."""
    from ..operators.dedup import _lsh_bands, minhash_sigs

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: _lsh_bands(minhash_sigs(batch_df.select("doc_id", "text"))),
        )

    return merge


_CONTAM_BANDS_DDL = "doc_id BIGINT, bi INT, bv STRING"


def contamination_bands_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous LSH-band fingerprinting of the training corpus:
    each micro-batch's band rows set-union into the store, so the
    fuzzy decontamination gate (contamination_check) always reflects
    everything the model will train on.  Returns the StreamingQuery
    (caller stops it)."""
    return _maintain(
        doc_stream,
        contamination_bands_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def contamination_check(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """The SERVED fuzzy decontamination gate (VERDICT r11 #7):
    q_fuzzy_contamination's per-test-doc audit for ANY candidate
    eval batch, answered from the maintained train-band store with
    ZERO train-corpus scans — the real deployment shape, where the
    eval set arrives long after the crawl was ingested.

    Semantics replayed exactly from the inline query: the
    (test, train) pairs are text_dedup_check's (batch bands, bucket
    sizes over store ∪ batch, over-cap buckets dropped, store join
    within surviving buckets, DISTINCT pairs), then the per-test
    aggregate.  When the batch is the fixture's test split and the
    store holds its train split this EQUALS inline
    q_fuzzy_contamination (pytest-pinned); for a new eval batch it
    answers the same question against corpus history."""
    return (
        text_dedup_check(spark, store_dir, docs)
        .groupBy(F.col("new_doc").alias("test_doc"))
        .agg(
            F.count("*").cast("bigint").alias("n_train_neardups"),
            F.min("corpus_doc").cast("bigint").alias("example_train_doc"),
        )
    )


def text_dedup_check(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """The SERVED text near-dup gate (X112): for a NEW document
    batch, every (new_doc, corpus_doc) MinHash-LSH candidate pair
    against the maintained band store, completing the admission-gate
    matrix across all four evidence channels (text + the three
    media gates).  Bucket-cap semantics follow inline q_dedup_near:
    sizes count DISTINCT (doc, band) across store ∪ batch — a doc
    re-checked after ingestion sits in both sides, and counting it
    twice could push a bucket past the cap (ADVICE r12) — and
    over-cap buckets are dropped, so the gate EQUALS the inline
    query's cross-subset exactly when store ∪ batch covers the corpus
    (the even/odd q_text_gate fixture).  NOTE the deliberate
    asymmetry with the media gates: the text cap is a CORPUS-GLOBAL
    statistic (a bucket's hotness depends on documents not yet
    ingested), so this gate is NOT wave-incremental the way the
    cap-free media gates are — which is exactly why
    q_ingest_registry folds only media edges; a standing text
    registry takes the inline pair pipeline (X102's path), not this
    gate.

    Scale shape: one Python-free pass over the batch (bands are
    column expressions), one store-sized equi-join on (bi, bv) with
    the hot buckets pruned by the cap prepass.  The store never
    leaves parquet except for matching band values."""
    from ..operators.dedup import _LSH_BUCKET_CAP, _lsh_bands, minhash_sigs

    qb = _lsh_bands(
        minhash_sigs(docs.select("doc_id", "text"))
    ).localCheckpoint(eager=False)
    store = spark.read.schema(_CONTAM_BANDS_DDL).parquet(store_dir)
    sizes = (
        store.select("doc_id", "bi", "bv")
        .unionByName(qb.select("doc_id", "bi", "bv"))
        .distinct()
        .groupBy("bi", "bv")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") <= _LSH_BUCKET_CAP)
        .select("bi", "bv")
    )
    return (
        qb.select("bi", "bv", F.col("doc_id").alias("new_doc"))
        .join(sizes.hint("shuffle_hash"), ["bi", "bv"])
        .join(
            store.select("bi", "bv", F.col("doc_id").alias("corpus_doc")),
            ["bi", "bv"],
        )
        .where(F.col("new_doc") != F.col("corpus_doc"))
        .select("new_doc", "corpus_doc")
        .distinct()
    )


_IMAGE_PRINTS_DDL = "doc_id BIGINT, dhash_hi BIGINT, dhash_lo BIGINT"


def media_prints_merge_fn(
    spark: SparkSession, store_dir: str, fingerprints_fn
):
    """Set-union merge of each micro-batch's perceptual media
    fingerprints into a prints store — MODALITY-GENERIC (X107):
    ``fingerprints_fn(docs) -> (doc_id, dhash_hi, dhash_lo)`` is the
    SAME codec + hash stage the modality's inline dedup query runs
    (multimodal.image_fingerprints / audio_fingerprints /
    video_fingerprints — all column-compatible by design).
    sinks.merge_store, distinct: no markers.  12 bytes of state per
    item makes the store a negligible fraction of any media corpus,
    and checking a NEW batch for near-duplicates of corpus history
    never re-decodes stored media (media_dedup_check below)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: fingerprints_fn(batch_df.select("doc_id")),
        )

    return merge


def image_prints_merge_fn(spark: SparkSession, store_dir: str):
    """The image instance of media_prints_merge_fn (the original
    X96 entry point, kept as the named front door)."""
    from ..operators.multimodal import image_fingerprints

    return media_prints_merge_fn(spark, store_dir, image_fingerprints)


def image_prints_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous perceptual fingerprinting over an image-document
    stream: each micro-batch's dHashes set-union into the store, so
    the near-duplicate admission gate (image_dedup_check) always
    reflects the full ingest history.  Returns the StreamingQuery
    (caller stops it)."""
    return _maintain(
        doc_stream,
        image_prints_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def media_dedup_check(
    spark: SparkSession, store_dir: str, docs: DataFrame, fingerprints_fn
) -> DataFrame:
    """The SERVED media near-dup gate, MODALITY-GENERIC (X107): for
    a NEW media batch, every (new_doc, corpus_doc, hamming) pair
    within Hamming <= multimodal._IMG_HAMMING_K of the maintained
    fingerprint store — "is this upload a re-encoded/retouched/
    re-mastered copy of something we already have?" answered with
    ZERO decodes of corpus history.  The batch pays one codec pass
    (its own media); candidates come from the pigeonhole band
    equi-join of batch bands against store bands — NO cap-drop here,
    matching the inline dedup queries, whose over-cap buckets route
    through the spillable self-join rather than being dropped
    (perceptual recall is the product) — then the exact popcount
    verify on candidates only.  For a batch ∪ store covering the
    corpus this equals the inline query's cross-subset
    (pytest-pinned); a re-ingested id is excluded (same doc_id is an
    update, not a duplicate).  The banding/verify machinery is the
    fingerprint-generic image one — all three modalities ship
    64-bit signatures as two 32-bit halves BY CONVENTION, so one
    gate body serves image, audio, and video."""
    from ..operators.multimodal import (
        _IMG_HAMMING_K,
        _image_band_rows,
        _image_hamming_col,
    )

    qf = fingerprints_fn(docs.select("doc_id")).localCheckpoint(
        eager=False
    )
    store = spark.read.schema(_IMAGE_PRINTS_DDL).parquet(store_dir)
    qb = _image_band_rows(qf).withColumnRenamed("m", "a")
    sb = _image_band_rows(store).withColumnRenamed("m", "b")
    return (
        qb.join(sb, ["bi", "bv"])
        .where(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("new_doc"),
            F.col("b.doc_id").alias("corpus_doc"),
            _image_hamming_col().alias("hamming"),
        )
        .filter(F.col("hamming") <= _IMG_HAMMING_K)
        .distinct()
    )


def image_dedup_check(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """The image instance of media_dedup_check (the original X96
    entry point, kept as the named front door)."""
    from ..operators.multimodal import image_fingerprints

    return media_dedup_check(spark, store_dir, docs, image_fingerprints)


def shard_manifest_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous shard planning over an ordered document stream:
    each micro-batch is placed after the stored end offset and its
    granular manifest merges into the store; serving the full
    per-shard manifest is pipeline_ops.shard_manifest_serve(store) —
    a fold over #shards × #sources rows, zero corpus scans.  Returns
    the StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream,
        shard_manifest_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


# ---------------------------------------------------------------------------
# X61 — BM25 index maintenance (r10)

def bm25_index_merge_fn(
    spark: SparkSession, index_path: str, meta: tuple[str, ...] = ()
):
    """Incremental BM25 maintenance (text.build_bm25_index's postings
    and 1-row stats kept current over a document stream): each
    micro-batch's postings — a pure function of each doc's text
    (text._bm25_postings, the same builder the offline build uses) —
    merged doc-replace-wise into postings/, then stats/ is RECOMPUTED
    from the merged postings (text.write_bm25_stats), so the
    serve-side constants always describe the store exactly.  The
    merge anti-joins existing postings on the batch's doc_ids BEFORE
    the union, so a doc re-ingested with MODIFIED text replaces its
    old rows wholesale (last-write-wins per doc) — the plain
    distinct-union kept both generations, leaving two dl values per
    doc and nondeterministic served stats (r10 ADVICE).  Idempotent
    for redelivery (replacing rows with byte-identical rows is a
    no-op and the stats recompute is deterministic) — no
    applied-batch markers.  sinks.commit_store guards readers; the
    anti-join keys are the micro-batch's bounded doc set broadcast
    against the store, so the merge stays a store-sized map-side
    pass, never a shuffle of the store.  stats/ is
    rewritten after the postings commit, so a crash between the two
    leaves a consistent store one stats-refresh behind — the next
    micro-batch (or a zero-row one) restores agreement."""
    from ..operators.text import _bm25_postings, write_bm25_stats

    store_dir = f"{index_path}/postings"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        meta_ddl = "".join(
            f", {m} {batch_df.schema[m].dataType.simpleString()}"
            for m in meta
        )
        ddl = (
            "doc_id BIGINT, tok STRING, tf BIGINT, dl BIGINT"
            + meta_ddl
            + ", bkt INT"
        )

        def fold(exists: bool) -> DataFrame:
            delta = _bm25_postings(
                batch_df.select("doc_id", "text", *meta), meta=meta
            )
            if not exists:
                return delta
            # explicit schema: a store bootstrapped from an empty
            # corpus exists but is fileless (the text_index lesson).
            # Doc-replace merge: drop the store's rows for every doc
            # in this batch (left_anti on the batch's bounded doc set,
            # broadcast), THEN union the fresh postings — a modified
            # re-ingest replaces its old generation instead of
            # coexisting with it.
            batch_docs = batch_df.select("doc_id").distinct()
            return (
                spark.read.schema(ddl)
                .parquet(store_dir)
                .join(F.broadcast(batch_docs), "doc_id", "left_anti")
                .unionByName(delta)
            )

        commit_store(spark, store_dir, fold, partition_by=("bkt",))
        write_bm25_stats(spark.read.schema(ddl).parquet(store_dir), index_path)

    return merge


def bm25_index_maintenance(
    doc_stream: DataFrame, index_path: str, meta: tuple[str, ...] = ()
):
    """Continuous BM25 index upkeep over a document stream; serving
    is text.bm25_search over the maintained postings + stats — zero
    corpus scans.  Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        doc_stream,
        bm25_index_merge_fn(doc_stream.sparkSession, index_path, meta),
        f"{index_path}/postings",
    )


# ---------------------------------------------------------------------------
# X65 — incremental gram-novelty store + admission gate (r10)


def gram_store_merge_fn(spark: SparkSession, store_dir: str):
    """Set-union merge of each micro-batch's hashed shingles
    (functions.textfeat.hashed_shingles — the q_containment /
    q_gram_novelty hash discipline) into the gram store
    (sinks.merge_store, distinct: no markers).  The store holds one
    8-byte hash per distinct corpus gram — the crawl-history index
    the novelty gate serves from."""
    from ..functions.textfeat import hashed_shingles

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(
            spark, store_dir, batch_id,
            lambda: hashed_shingles(batch_df.select("doc_id", "text")).select("shh"),
        )

    return merge


def gram_novelty_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous gram-history upkeep over a document stream; the
    serving half is novelty_gate_serve.  Returns the StreamingQuery
    (caller stops it)."""
    return _maintain(
        doc_stream,
        gram_store_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def novelty_gate_serve(
    spark: SparkSession, store_dir: str, batch_docs: DataFrame
) -> DataFrame:
    """Admission-gate novelty for a NEW batch against the maintained
    gram history (the q_gram_novelty question turned incremental —
    the span-gate convention): per batch doc, how many of its
    distinct grams the corpus has never seen.  One hash-keyed
    LEFT ANTI join of the batch's grams against the store — zero
    history document scans; returns (doc_id, n_grams, n_novel,
    novelty_bp).  Gate BEFORE merging the batch, or every doc scores
    0 against itself."""
    from ..functions.textfeat import hashed_shingles

    store_path = spark._jvm.org.apache.hadoop.fs.Path(store_dir)
    fs = store_path.getFileSystem(spark._jsc.hadoopConfiguration())
    bg = hashed_shingles(
        batch_docs.select("doc_id", "text")
    ).localCheckpoint(eager=False)
    if fs.exists(store_path):
        seen = spark.read.schema("shh BIGINT").parquet(store_dir)
        novel = bg.join(seen, "shh", "left_anti")
    else:
        novel = bg
    n_all = bg.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    n_new = novel.groupBy("doc_id").agg(F.count("*").alias("n_novel"))
    return (
        n_all.join(n_new, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "CAST(n_grams AS BIGINT) AS n_grams",
            "CAST(coalesce(n_novel, 0) AS BIGINT) AS n_novel",
            "CAST((coalesce(n_novel, 0) * 10000) div n_grams AS BIGINT)"
            " AS novelty_bp",
        )
    )


# ---------------------------------------------------------------------------
# X69 — incremental source-overlap store (r10)


def source_gram_merge_fn(spark: SparkSession, store_dir: str):
    """Set-union merge of each micro-batch's text.source_grams — the
    q_source_overlap base — into the source-gram store
    (sinks.merge_store, distinct: no markers)."""
    from ..operators.text import source_grams

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_store(spark, store_dir, batch_id, lambda: source_grams(batch_df))

    return merge


def source_overlap_maintenance(doc_stream: DataFrame, store_dir: str):
    """Continuous source-gram upkeep over a document stream; serving
    is source_overlap_serve.  Returns the StreamingQuery."""
    return _maintain(
        doc_stream,
        source_gram_merge_fn(doc_stream.sparkSession, store_dir),
        store_dir,
    )


def source_overlap_serve(spark: SparkSession, store_dir: str) -> DataFrame:
    """The q_source_overlap matrix computed from the maintained store
    alone — zero corpus scans: text.source_overlap_from over the
    stored (source, shh) relation, so streamed == batch is
    pytest-pinned."""
    from ..operators.text import source_overlap_from

    return source_overlap_from(
        spark.read.schema("source STRING, shh BIGINT").parquet(store_dir)
    )


def loss_mask_serve(
    spark: SparkSession, store_dir: str, docs: DataFrame
) -> DataFrame:
    """q_loss_mask's duplicated-span interval manifest for ANY
    document frame, with the duplicated-gram set read from the
    maintained span-gram store instead of a corpus scan
    (dedup.span_mask over the batch's own gram base — the
    span_dup_coverage_serve pattern applied to the masking consumer).
    For documents already merged into the store this equals the batch
    q_loss_mask over the full streamed corpus (pytest-pinned); for a
    NEW batch it yields the loss mask its docs would need against
    corpus history."""
    from ..operators.dedup import _span_gram_base, span_mask

    dupg = (
        spark.read.parquet(store_dir)
        .where(F.col("cnt") >= 2)
        .select("g")
    )
    return span_mask(
        _span_gram_base(docs.select("doc_id", "text")), dupg
    )


# ---------------------------------------------------------------------------
# X102 — incremental multimodal duplicate-family registry (r13)

_FAMILY_DDL = "n BIGINT, cluster_id BIGINT"
_FAMILY_EDGE_DDL = "a BIGINT, b BIGINT, channel STRING"


def family_registry_merge_fn(spark: SparkSession, store_dir: str):
    """Incremental connected-components merge for the duplicate-
    family registry (VERDICT r12 #7): X95/X98 recomputed components
    from scratch each run; this store folds NEW edge batches (any
    channel — text LSH, image dHash, audio energy pairs) into a
    maintained (n, cluster_id) labeling, re-labeling ONLY touched
    components.

    Per batch: map each edge endpoint to its current cluster id
    (unlabeled endpoints are their own provisional cluster),
    CONTRACT the batch to inter-cluster edges (intra-cluster edges
    vanish — the common case for redelivered or repeated evidence),
    run the pointer-doubling components over the contracted graph —
    sized by |touched clusters|, not |registry| — and rewrite labels
    through one left join.  Representative stays the MIN member id:
    cluster ids are min node ids by induction, and the contracted
    components take the min of mins, so the registry after any batch
    sequence is row-identical to a batch recompute over the union of
    all edges (pinned in tests/test_streaming.py, including under
    interleaved channels and redelivery).

    Retry-safety: IDEMPOTENT by construction, no markers — a
    redelivered batch's edges contract to self-loops against the
    labels they already produced, the touched set is empty, and the
    rewrite is bit-identical.  sinks.commit_store guards readers.

    Since r13 the merge ALSO maintains an edge side-store at
    ``{store_dir}_edges`` — the undirected (least, greatest) set
    union of every accepted edge, carrying the evidence ``channel``
    when the producer supplies one (X111: the channel makes the
    store sufficient for the FULL capstone report — per-family
    per-channel counts + modality — served with zero pair-pipeline
    work; see family_registry_report).  Labels alone cannot answer a
    DELETE: removing a doc may SPLIT its family, and the split is a
    function of the surviving edges (family_registry_purge reads
    them).  The side-store is |pairs|-sized, its merge is a
    union+distinct (idempotent), and it commits BEFORE the labels so
    a crash between the two commits always leaves a state a retry
    heals."""
    from ..operators.dedup import connected_components

    edir = f"{store_dir}_edges"

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        ch = (
            F.col("channel").cast("string")
            if "channel" in batch_df.columns
            else F.lit("")  # channel-less producers still merge fine
        )
        ech = (
            batch_df.select(
                F.least("a", "b").cast("bigint").alias("a"),
                F.greatest("a", "b").cast("bigint").alias("b"),
                ch.alias("channel"),
            )
            .where(
                F.col("a").isNotNull()
                & F.col("b").isNotNull()
                & (F.col("a") != F.col("b"))
            )
            .distinct()
            .localCheckpoint()
        )

        def fold_edges(exists: bool) -> DataFrame:
            if not exists:
                return ech
            return (
                spark.read.schema(_FAMILY_EDGE_DDL)
                .parquet(edir)
                .unionByName(ech)
                .distinct()
            )

        # edge side-store first (see docstring for the crash order)
        commit_store(spark, edir, fold_edges)
        e = ech.select("a", "b").distinct()
        commit_store(spark, store_dir, lambda exists: relabel(e, exists))

    def relabel(e: DataFrame, exists: bool) -> DataFrame:
        """The label store after folding edge batch ``e`` into it."""
        if exists:
            lab = (
                spark.read.schema(_FAMILY_DDL)
                .parquet(store_dir)
                .localCheckpoint()
            )
        else:
            lab = spark.createDataFrame([], _FAMILY_DDL)
        la = lab.select(F.col("n").alias("a"), F.col("cluster_id").alias("ca"))
        lb = lab.select(F.col("n").alias("b"), F.col("cluster_id").alias("cb"))
        ce = (
            e.join(la, "a", "left")
            .join(lb, "b", "left")
            .select(
                F.coalesce("ca", "a").alias("a"),
                F.coalesce("cb", "b").alias("b"),
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        ends = (
            e.select(F.col("a").alias("n"))
            .unionByName(e.select(F.col("b").alias("n")))
            .distinct()
        )
        newn = ends.join(lab.select("n"), "n", "left_anti").select(
            "n", F.col("n").alias("cluster_id")
        )
        base = lab.unionByName(newn)
        if ce.head(1):
            relab = connected_components(ce).select(
                F.col("n").alias("cluster_id"),
                F.col("cluster_id").alias("__new"),
            )
            return base.join(relab, "cluster_id", "left").select(
                "n",
                F.coalesce("__new", "cluster_id")
                .cast("bigint")
                .alias("cluster_id"),
            )
        return base

    return merge


def family_registry_maintenance(edge_stream: DataFrame, store_dir: str):
    """Continuous duplicate-family maintenance over an (a, b) edge
    stream: each micro-batch folds into the registry via the
    incremental contracted-components merge, so "which family is doc
    X in" is answerable at any moment from |edge-touched nodes| rows
    of state without ever re-running a pair pipeline.  Returns the
    StreamingQuery (caller stops it)."""
    return _maintain(
        edge_stream,
        family_registry_merge_fn(edge_stream.sparkSession, store_dir),
        store_dir,
    )


def family_registry_serve(spark: SparkSession, store_dir: str) -> DataFrame:
    """Per-family report from the maintained registry — (cluster_id,
    n_docs) over the label store alone, zero pair pipelines, zero
    corpus scans.  Equals the same aggregate over a batch
    connected-components recompute (q_family_registry's oracle)."""
    return (
        spark.read.schema(_FAMILY_DDL)
        .parquet(store_dir)
        .groupBy("cluster_id")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


def family_registry_report(
    spark: SparkSession, store_dir: str
) -> DataFrame:
    """The FULL capstone report from the maintained registry alone
    (X111): per family — size, per-channel evidence-edge counts, and
    the modality attribution — exactly q_multimodal_dedup's output,
    but computed from the label store + channel-tagged edge
    side-store with ZERO pair-pipeline work: one |labels| scan, one
    |edges| scan, an equi-join on the edge's least endpoint (both
    endpoints share a cluster by invariant), a conditional-count
    pivot over the four known channels.  Hash-equality with the
    inline capstone is the q_registry_report correctness gate."""
    from ..operators.multimodal import _CHANNELS, _family_report

    lab = spark.read.schema(_FAMILY_DDL).parquet(store_dir)
    edges = spark.read.schema(_FAMILY_EDGE_DDL).parquet(
        f"{store_dir}_edges"
    )
    cc = edges.join(
        lab.select(F.col("n").alias("a"), "cluster_id"), "a"
    ).groupBy("cluster_id").agg(
        *[
            F.sum(F.when(F.col("channel") == c, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{c}_pairs")
            for c in _CHANNELS
        ]
    )
    return _family_report(lab, cc)


def family_registry_purge(
    spark: SparkSession, store_dir: str, tombstones: DataFrame
) -> None:
    """DELETE for the duplicate-family registry (X105) — the
    lifecycle closure the other serving stores already have, with
    the one semantics labels alone cannot express: removing a doc
    may SPLIT its family (a path a—b—c loses b: a and c are no
    longer duplicates of anything), so the purge recomputes
    components over the SURVIVING edges of the touched clusters
    only, read from the ``{store_dir}_edges`` side-store the merge
    maintains.

    Shape: tombstones are request-sized (broadcast); touched
    clusters come from one label join; the subgraph recompute is
    pointer-doubling over |touched clusters' surviving edges|, never
    the registry; untouched clusters' labels are rewritten verbatim.
    A tombstoned doc in NO cluster is a no-op by construction, and a
    RERUN of the same purge is idempotent (its ids are already gone
    from both stores, so the touched set is empty) — no markers, the
    same argument as the merge.  Survivors that lose their last edge
    drop OUT of the registry, preserving the pinned invariant:
    registry == batch recompute over the surviving edge set.

    Commit order: edges first, then labels — a crash between the two
    leaves edges-new/labels-old, and the retry's touched-cluster
    recompute over the already-purged edges heals the labels; the
    reverse order could strand a split forever."""
    from ..operators.dedup import connected_components

    edir = f"{store_dir}_edges"
    ts = (
        tombstones.select(F.col("doc_id").cast("bigint").alias("n"))
        .where(F.col("n").isNotNull())
        .distinct()
        .localCheckpoint()
    )

    def fold_labels(exists: bool) -> DataFrame:
        lab = (
            spark.read.schema(_FAMILY_DDL).parquet(store_dir).localCheckpoint()
        )
        touched = (
            lab.join(F.broadcast(ts), "n")
            .select("cluster_id")
            .distinct()
            .localCheckpoint()
        )
        surv = None

        def fold_edges(exists: bool) -> DataFrame:
            nonlocal surv
            edges = spark.read.schema(_FAMILY_EDGE_DDL).parquet(edir)
            # eager: `sub` reads surv after the edge store is swapped
            surv = (
                edges.join(
                    F.broadcast(ts.select(F.col("n").alias("a"))),
                    "a",
                    "left_anti",
                )
                .join(
                    F.broadcast(ts.select(F.col("n").alias("b"))),
                    "b",
                    "left_anti",
                )
                .select("a", "b", "channel")  # anti-joins rotate keys to front
                .localCheckpoint()
            )
            return surv

        # nested so the edges commit lands before the labels commit
        # (see the commit order above), with both stores recovered
        # before either is read
        commit_store(spark, edir, fold_edges)
        # an edge's endpoints share a cluster by invariant, so joining
        # endpoint a to the labels classifies the whole edge
        sub = (
            surv.join(lab.select(F.col("n").alias("a"), "cluster_id"), "a")
            .join(F.broadcast(touched), "cluster_id", "left_semi")
            .select("a", "b")
            .localCheckpoint()
        )
        if sub.head(1):
            relab = connected_components(sub)
        else:
            relab = spark.createDataFrame([], _FAMILY_DDL)
        kept = lab.join(F.broadcast(touched), "cluster_id", "left_anti").select(
            "n", "cluster_id"
        )
        return kept.unionByName(relab.select("n", "cluster_id"))

    commit_store(spark, store_dir, fold_labels)


def family_registry_purge_maintenance(
    tomb_stream: DataFrame, store_dir: str
):
    """Continuous delete processing for the family registry: each
    micro-batch of tombstoned doc_ids flows through
    family_registry_purge — touched-cluster recompute over the
    surviving edges, untouched families untouched.  With
    family_registry_maintenance (edge ingest) this closes the
    registry's streaming lifecycle: adds and deletes both arrive as
    streams, and the pinned invariant (registry == batch recompute
    over surviving edges) holds at every micro-batch boundary.
    Purge idempotency (already-purged ids contract to an empty
    touched set) makes at-least-once delivery safe without markers.
    Returns the StreamingQuery (caller stops it)."""
    return _maintain(
        tomb_stream,
        lambda batch_df, batch_id: family_registry_purge(
            tomb_stream.sparkSession, store_dir, batch_df
        ),
        f"{store_dir}_purge",
    )


def family_registry_compact(
    spark: SparkSession, store_dir: str, target_files: int = 1
) -> None:
    """Small-file compaction for the family registry's two stores
    (VERDICT r13 #5) — the OPTIMIZE step of the registry lifecycle
    (merge → purge → COMPACT), same role as compact_ivfpq_index for
    the ANN store: every micro-batch merge rewrites both stores at
    the write parallelism of its union+distinct plan, so after many
    batches each snapshot carries dozens of KB-sized part files and
    a serve pays file-open cost instead of scan cost.  Compaction
    rewrites each store's rows VERBATIM (no dedup, no filter — the
    relation must be bit-identical, pinned in tests/test_streaming)
    coalesced to ``target_files`` leaves, via sinks.commit_store like
    every other rewrite (which also carries any markers a store
    holds).  Labels and edges are
    committed independently — each store is internally consistent at
    every instant, and compaction changes no rows, so there is no
    cross-store ordering to protect.  At 100 TB a deployment sizes
    ``target_files`` by bytes (≈1 GiB per file); the fixture default
    folds each store to one leaf."""
    for path_str, ddl in (
        (f"{store_dir}_edges", _FAMILY_EDGE_DDL),
        (store_dir, _FAMILY_DDL),
    ):
        # fold runs inside this iteration's call, so the loop
        # variables bind correctly
        def fold(exists: bool) -> DataFrame | None:
            if not exists:
                return None
            rows = spark.read.schema(ddl).parquet(path_str).localCheckpoint()
            return rows.coalesce(target_files)

        commit_store(spark, path_str, fold)
