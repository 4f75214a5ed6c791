"""Sinks — SURVEY.md §2.1 S3/S4/S5.

Reference: csv.DictWriter per shaped table (S3), one JSON doc per
element (S4), sqlite3/pymongo load (S5). Engine equivalents are the
DataFrameWriter formats; parquet is the engine-default (columnar,
statistics, predicate-pushdown-able on re-read).  `write_csv`,
`write_json` and `write_sqlite` are those reference-parity sinks
(PARITY.md); no query calls them.

`partition_by` is the 100 TB lever: a layout partitioned on the query
key (e.g. event date) turns full scans into partition-pruned scans;
`bucket_by` co-locates join keys so repeated joins skip the exchange.

`commit_store` is the one crash- and redelivery-safe rewrite of a
maintained store (streaming merges, tombstone purges, compactions).

`merge_store` is the one fold of a micro-batch into a maintained
store: the store's rows and the batch's delta are unioned and
re-aggregated per key, by ``sum`` (counters), ``max`` (registers,
scales) or ``distinct`` (set-valued stores, no keys).  The merge kind
alone decides redelivery safety.  Max and distinct-union are
idempotent: folding a batch twice leaves the store unchanged, so they
commit without a marker.  A sum is not: a redelivered batch would
count twice, so a summing merge commits an ``_applied_<batch_id>``
marker with its rows and a redelivered batch id is a no-op.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Store-dir files that certify applied merge batches / purge requests;
# the underscore prefix hides them from parquet readers (like _SUCCESS).
_MARKER_PREFIXES = ("_applied_", "_purged_")


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = (),
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def commit_store(
    spark: SparkSession,
    store_dir: str,
    fold: Callable[[bool], DataFrame | None],
    marker: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> bool:
    """Replace the maintained parquet store at ``store_dir`` with the
    frame ``fold`` returns, through the stage-rename commit every
    incremental store shares (streaming merges, tombstone purges,
    compactions).  Returns True when a new store was committed.

    Steps, in order:

    1. Recover: a missing store next to a ``{store_dir}_stage`` dir
       means a crash landed between step 6's delete and rename; the
       stage was complete before the delete ran, so it IS the
       committed state and is renamed into place before anything
       reads the store.
    2. Redelivery: when ``marker`` (an ``_applied_<batch>`` or
       ``_purged_<request>`` name) already sits in the store, the
       request was committed before — return without calling ``fold``
       or writing anything.  Non-idempotent merges (counter addition
       and subtraction) rely on this; idempotent ones pass no marker.
    3. ``fold(exists)`` builds the new store from the current one
       (``exists`` says whether there is one).  ``None`` means there
       is nothing to commit, e.g. a purge of a store never built.
    4. Write the stage with overwrite, so a partial stage left by a
       crash before the commit is replaced.  ``partition_by`` writes a
       partitioned store, rebalanced on the same columns first so each
       partition gets few files.
    5. Carry every ``_applied_`` / ``_purged_`` marker of the store,
       plus ``marker``, into the stage: the rename then commits the
       markers atomically with the rows they certify, so neither a
       marker without its rows nor rows without their marker can be
       observed.
    6. Delete the store and rename the stage over it.

    A crash before step 6 leaves the old store intact (the retry
    rebuilds the stage); a crash inside step 6 is finished by step 1
    of the next call; no interleaving loses or double-applies state.
    """
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    store_path = hpath(store_dir)
    stage_dir = f"{store_dir}_stage"
    stage_path = hpath(stage_dir)
    fs = store_path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(store_path) and fs.exists(stage_path):
        fs.rename(stage_path, store_path)
    exists = fs.exists(store_path)
    if marker and fs.exists(hpath(f"{store_dir}/{marker}")):
        return False
    merged = fold(exists)
    if merged is None:
        return False
    if partition_by:
        merged = merged.hint("rebalance", *partition_by)
    write_parquet(merged, stage_dir, partition_by=partition_by)
    markers = [marker] if marker else []
    if exists:
        markers += [
            s.getPath().getName()
            for s in fs.listStatus(store_path)
            if s.getPath().getName().startswith(_MARKER_PREFIXES)
        ]
    for name in markers:
        fs.create(hpath(f"{stage_dir}/{name}"), True).close()
    fs.delete(store_path, True)
    fs.rename(stage_path, store_path)
    return True


# merge kind -> per-column aggregate over store ∪ delta (None: the
# distinct union of whole rows)
_MERGE_AGGS = {"sum": F.sum, "max": F.max, "distinct": None}


def merge_store(
    spark: SparkSession,
    store_dir: str,
    batch_id: int,
    delta: Callable[[], DataFrame],
    keys: tuple[str, ...] = (),
    kind: str = "distinct",
    partition_by: tuple[str, ...] = (),
) -> bool:
    """Fold batch ``batch_id``'s ``delta()`` into the store at
    ``store_dir`` and commit through ``commit_store``.  Returns True
    when a new store was committed.

    The store is read with the delta's own schema (a fileless store
    or a partition column then never needs inference), unioned with
    the delta, and re-aggregated: ``sum`` or ``max`` of every non-key
    column per ``keys``, or ``distinct`` rows when there are no keys.
    A first batch is aggregated the same way, so the store is
    key-unique from its first commit.  Columns keep the delta's order
    and types.

    Only a sum is marked (``_applied_<batch_id>``): see the module
    docstring.  ``delta`` is called inside the fold, so a marked
    redelivery plans nothing and runs no Spark job."""
    if kind not in _MERGE_AGGS or (kind == "distinct") == bool(keys):
        raise ValueError(f"merge kind {kind!r} with keys {keys!r}")

    def fold(exists: bool) -> DataFrame:
        new = delta()
        rows = (
            spark.read.schema(new.schema).parquet(store_dir).unionByName(new)
            if exists
            else new
        )
        agg = _MERGE_AGGS[kind]
        if agg is None:
            return rows.distinct()
        return (
            rows.groupBy(*keys)
            .agg(
                *[
                    agg(f.name).cast(f.dataType).alias(f.name)
                    for f in new.schema
                    if f.name not in keys
                ]
            )
            .select(*new.columns)
        )

    marker = f"_applied_{batch_id}" if kind == "sum" else None
    return commit_store(spark, store_dir, fold, marker, partition_by)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink (reference: UnicodeDictWriter) — header on, standard
    quoting; for interchange only (no stats, no pushdown)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (reference: the Mongo-variant dump) — one doc
    per row; nested structs/arrays serialize naturally."""
    df.write.mode(mode).json(path)


def write_table(
    df: DataFrame,
    name: str,
    mode: str = "overwrite",
    bucket_by: tuple[int, tuple[str, ...]] | None = None,
) -> None:
    """Managed-table sink (reference: sqlite3/pymongo load). With
    bucket_by=(n, cols), repeated equi-joins/aggs on cols skip their
    shuffle — the lakehouse version of the reference's DB indexes."""
    w = df.write.mode(mode)
    if bucket_by:
        n, cols = bucket_by
        w = w.bucketBy(n, *cols).sortBy(*cols)
    w.saveAsTable(name)


def write_sqlite(
    df: DataFrame, db_path: str, table: str, batch_size: int = 10_000
) -> int:
    """SQLite sink — the reference's ACTUAL load target (S5: `data.py`
    writes CSVs, the case study loads them into SQLite and queries
    with a sqlite3 cursor).  A JDBC path is container-blocked (no
    driver jar, no server), but the stdlib sqlite3 module is present,
    so reference parity is closed with it directly: the DataFrame
    streams through `toLocalIterator()` into batched executemany
    INSERTs inside one transaction.

    Deliberately DRIVER-SIDE and documented as such: a SQLite file is
    a single-writer artifact — this is the small-export / parity path
    (the reference's own usage: a few hundred MB of shaped OSM
    tables), NOT a cluster sink.  Memory stays bounded at one
    partition (toLocalIterator) regardless of table size; at scale
    the managed-table / parquet sinks above are the real load path.
    Returns the row count written."""
    import sqlite3

    def q(ident: str) -> str:
        # double-quote identifiers (SQL standard, sqlite-supported) so
        # names with spaces, hyphens, or keyword collisions work
        return '"' + ident.replace('"', '""') + '"'

    cols = df.columns
    placeholders = ", ".join("?" for _ in cols)
    col_list = ", ".join(q(c) for c in cols)
    qtable = q(table)
    con = sqlite3.connect(db_path)
    try:
        con.execute(f"DROP TABLE IF EXISTS {qtable}")
        defs = []
        for f in df.schema.fields:
            t = f.dataType.simpleString()
            sql_t = (
                "INTEGER"
                if t in ("bigint", "int", "smallint", "tinyint", "boolean")
                else "REAL"
                if t in ("double", "float")
                else "TEXT"
            )
            defs.append(f"{q(f.name)} {sql_t}")
        con.execute(f"CREATE TABLE {qtable} ({', '.join(defs)})")
        n, batch = 0, []
        for row in df.toLocalIterator():
            batch.append(tuple(row))
            if len(batch) >= batch_size:
                con.executemany(
                    f"INSERT INTO {qtable} ({col_list}) VALUES ({placeholders})",
                    batch,
                )
                n += len(batch)
                batch = []
        if batch:
            con.executemany(
                f"INSERT INTO {qtable} ({col_list}) VALUES ({placeholders})", batch
            )
            n += len(batch)
        con.commit()
        return n
    finally:
        con.close()


def write_clean_corpus(
    docs: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: tuple[str, ...] = ("source",),
) -> None:
    """Materialize the boilerplate-stripped corpus (the write step
    behind q_boilerplate_strip's audit): documents rebuilt without
    cross-document 10-token chunks, written as parquet with the
    documents-table schema so every downstream operator (dedup, LM
    scoring, packing) runs on the cleaned corpus unchanged.
    Partitioned by source by default — the curation-pipeline read key.
    n_chars is recomputed from the rebuilt text, not copied."""
    from pyspark.sql import functions as F

    from ..operators.dedup import boilerplate_rewrite

    cleaned = boilerplate_rewrite(docs).select(
        "doc_id",
        F.col("new_text").alias("text"),
        "lang",
        "source",
        F.length("new_text").cast("bigint").alias("n_chars"),
    )
    write_parquet(cleaned, path, mode=mode, partition_by=partition_by)


def write_training_corpus(spark, sf_dir: str, path: str) -> None:
    """Materialize the full rewrite pipeline (curation.
    training_corpus: boilerplate strip → ExactSubstr dup-strip →
    mixture plan → shard plan) as the artifacts a training run
    consumes:

    * ``shards/`` — (doc_id, lang, source, text, n_tok, bytes)
      parquet PARTITIONED BY shard_id: the loader reads one
      near-uniform-byte directory per shard, and a resumable export
      re-writes single shards idempotently.
    * ``manifest/`` — the 5-stage (stage, n_docs, n_tokens, n_bytes)
      audit q_training_corpus hash-checks, persisted next to the
      data it describes (the provenance record reviewers diff
      between nightly runs).

    At 100 TB the partitionBy write is the only extra exchange over
    the plan itself, and it shuffles exactly the bytes being
    exported once — the same posture as write_clean_corpus."""
    from pyspark.sql import functions as F

    from ..operators.curation import training_corpus

    _, placed, manifest = training_corpus(spark, sf_dir)
    placed.select(
        "doc_id", "lang", "source", "text", "n_tok", "bytes", "shard_id"
    ).hint("rebalance", "shard_id").write.mode("overwrite").partitionBy(
        "shard_id"
    ).parquet(f"{path}/shards")
    manifest.write.mode("overwrite").parquet(f"{path}/manifest")
