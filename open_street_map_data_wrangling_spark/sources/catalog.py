"""Table catalog over the driver fixture universe.

Reference scan (SURVEY.md §2.1 S1): `ET.iterparse` over one OSM XML
file, `elem.clear()` to bound memory — a streaming row scan. Engine
equivalent: columnar Parquet scans; Catalyst gives predicate pushdown
+ column pruning into the scan for free, which is the 100 TB version
of "only touch what you need".

The fixture universe (TESTDATA.md / FIXTURES.md):
    region nation customer supplier part orders lineitem
    events documents embeddings

OSM-analog binding (FIXTURES.md §B): events ≈ the element-metadata
stream (user_id≈uid, ts≈timestamp, props≈tag map), star-schema joins
≈ nodes_tags-style id joins, documents/embeddings serve the text /
similarity extensions.

ts normalization note: the fixture generator has shipped `events.ts`
in two physical forms across rounds — TIMESTAMP(NANOS) (rejected by
Spark's vectorized reader; `nanosAsLong=true` surfaces it as a long
we exactly-truncate with `ts div 1000` — integer division, a double
would lose precision above 2^53) and plain TIMESTAMP(MICROS) with
isAdjustedToUTC=false (arrives as TIMESTAMP_NTZ, which rejects
`unix_micros` et al.). `load_table` normalizes BOTH to TimestampType;
the NTZ→LTZ cast is instant-preserving because the session timezone
is pinned UTC (session.py). DuckDB reads the same file as a naive
µs timestamp, so both engines see identical µs instants either way.

Schema memo: a schemaless `spark.read.parquet` runs a whole footer-
inference job per read, so every table load used to cost one Spark job
before the query itself ran. `read_parquet` infers a file listing's
schema once and passes it to every later read of the same listing,
which then submits no job. The memo is keyed by the resolved local
path, the `(relative name, size, mtime_ns)` of every file under it
(`listing_sig`, which `index_cache` also keys its build tokens with)
and the session confs that change inferred types, so a rewritten
table or a flipped conf is inferred again. Paths that do not resolve
to the local filesystem (`local_fs_path`), missing paths and empty
listings always take the plain read, so remote stores and Spark's own
errors are unchanged.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_log = logging.getLogger(__name__)

# Session confs that change the schema parquet inference derives from
# the same footers; their values are part of every memo key.
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# resolved local path -> (listing signature + conf values, schema); a
# new key for a path replaces the old entry, so there is one per path.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


def local_fs_path(spark: SparkSession, path: str) -> str | None:
    """The local-filesystem path ``path`` resolves to, or None when it
    resolves to any other filesystem: a ``file:`` URI, or a schemeless
    path under a ``file:`` ``fs.defaultFS`` (read from the session's
    Hadoop conf, the one Spark's own read would resolve it with)."""
    from urllib.parse import urlparse

    url = urlparse(path)
    if url.scheme:
        return url.path if url.scheme == "file" else None
    default = (
        spark._jsparkSession.sessionState()
        .newHadoopConf()
        .get("fs.defaultFS", "file:///")
    )
    return path if urlparse(default).scheme == "file" else None


def listing_sig(local: str) -> tuple | None:
    """``(relative name, size, mtime_ns)`` of every file under
    ``local`` (or of ``local`` itself when it is a file); None when
    there is no file to sign."""
    try:
        if os.path.isfile(local):
            st = os.stat(local)
            return ((os.path.basename(local), st.st_size, st.st_mtime_ns),)
        sig = []
        for root, dirs, files in os.walk(local):
            dirs.sort()
            for f in sorted(files):
                full = os.path.join(root, f)
                st = os.stat(full)
                sig.append(
                    (os.path.relpath(full, local), st.st_size, st.st_mtime_ns)
                )
    except OSError:  # a file vanished mid-listing: do not memoize
        return None
    return tuple(sig) or None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only the
    first time it sees this file listing under these confs; later
    reads pass the remembered schema and submit no inference job.
    Non-local paths, missing paths and empty listings take the plain
    read (see the module docstring). Logs one record per inference."""
    local = local_fs_path(spark, path)
    sig = listing_sig(local) if local is not None else None
    if sig is None:
        _log.info("inferring parquet schema of %s (not memoized)", path)
        return spark.read.parquet(path)
    slot = os.path.abspath(local)
    key = (sig, tuple(spark.conf.get(k) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(slot)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    _log.info("inferring parquet schema of %s", path)
    df = spark.read.parquet(path)
    _SCHEMAS[slot] = (key, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table through the schema memo (`read_parquet`:
    only the first load of a listing runs an inference job); the raw
    read schema is what is remembered, so events.ts is normalized to
    TimestampType on every call. Writes no session conf: a load from
    one thread must not undo a conf scope another thread runs under
    (`scale.spark_rounds`); `get_spark` and the `__spark_entry__`
    wrappers apply the engine's runtime confs."""
    df = read_parquet(spark, f"{sf_dir.rstrip('/')}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) via nanosAsLong
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # TIMESTAMP(MICROS), naive
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES, register: bool = True
) -> dict[str, DataFrame]:
    """Load fixture tables; optionally register temp views under their
    bare names so `spark.sql` queries see the same catalog the DuckDB
    oracle does."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        if register:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def tags_long_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `nodes_tags`-shaped long table (SURVEY.md §1.2): one row per
    (element id, key, value). Derived from `events` by unpivoting the
    typed column plus the JSON props map — the engine's analog of
    exploding the per-element OSM tag soup into the join-friendly
    canonical form.

    stack() is a zero-shuffle narrow transform; at 100 TB this stays
    embarrassingly parallel (no exchange in the plan).
    """
    events = load_table(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").alias("id"),
        F.expr(
            "stack(2, 'event_type', event_type, 'k', get_json_object(props, '$.k')) AS (key, value)"
        ),
    )


# DuckDB twin of tags_long_table, spliced into oracle SQL strings.
TAGS_LONG_SQL = """
    SELECT event_id AS id, 'event_type' AS key, event_type AS value FROM events
    UNION ALL
    SELECT event_id AS id, 'k' AS key, regexp_extract(props, '"k":\\s*(\\d+)', 1) AS value FROM events
"""
