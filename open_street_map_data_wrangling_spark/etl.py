"""The reference's complete ETL, end-to-end (SURVEY.md §3.1 EP1+EP2).

data.py::process_map + audit.py in one distributed pipeline:

    OSM XML ──parse once──▶ tagged rows, persisted for the run
             ──check──▶ ONE aggregate: street-type variants (audit)
                         and node accept/reject counts (validate)
             ──split──▶ 5 shaped relations
             ──clean──▶ last-token street-suffix rewrite
             ──write──▶ parquet per table (the CSV-per-table analog),
                         the five writes submitted concurrently
             ──read back──▶ ONE action: every written table's row count

Like the reference's single iterparse pass, the extract is parsed
once per run: the check aggregate fills the cache of the persisted
tagged parse (sources/osm_xml.py) and every write scans it; it is
unpersisted when the run ends, whether or not it succeeded. On an
extract of a few MB the run is bound by per-job driver overhead, not
by the parse, so the steps share actions wherever their results allow:
the run is ten Spark jobs, three for the check, one per write and two
for the read-back. This module only composes verified relational
pieces, which is the point: the reference's monolithic script becomes
a composition of them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.osm_xml import parse_osm_tagged, split_osm_tables
from .sources.sinks import write_parquet

EXPECTED_STREET_TYPES = ("Street", "Road", "Avenue", "Boulevard", "Lane", "Drive")

# update_name's mapping: abbreviated last token -> canonical suffix
STREET_SUFFIXES = (
    ("St", "Street"), ("St.", "Street"), ("Ave", "Avenue"), ("Ave.", "Avenue"),
    ("Rd", "Road"), ("Rd.", "Road"), ("Blvd", "Boulevard"), ("Ln", "Lane"),
    ("Dr", "Drive"),
)

# the shaped tables the ETL writes, in report order
WRITTEN_TABLES = ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes")


def check_parse(
    tagged: DataFrame,
) -> tuple[list[tuple[str, str]], list[tuple[bool | None, int]]]:
    """audit.py::audit and validate_element in ONE aggregate over the
    tagged parse. Returns the sorted distinct (street_type, name)
    variants whose last token is not an expected street type, and the
    nodes' (ok, count) pairs under typed constraints: NULL ok (a node
    missing lat or lon) first, then True and False in the order each
    first occurs in the parse, the order the report has printed them
    in at the engine's shuffle widths."""
    is_node = F.col("table") == "nodes"
    is_street = (
        (F.col("table") == "nodes_tags")
        & (F.col("type") == "addr")
        & (F.col("key") == "street")
    )
    stype = F.regexp_extract(
        F.regexp_replace(F.col("value"), r"\.$", ""), r"([^ ]+)$", 1
    )
    ok = (
        F.col("id").isNotNull()
        & F.col("lat").between(-90.0, 90.0)
        & F.col("lon").between(-180.0, 180.0)
        & F.col("uid").isNotNull()
    )
    # node rows have no value (street_type and name are NULL); the
    # table key keeps a node whose ok is NULL apart from a tag row.
    # `seen` rises with the position in the parse, partition by
    # partition.
    rows = (
        tagged.filter(is_node | (is_street & ~stype.isin(*EXPECTED_STREET_TYPES)))
        .select(
            "table",
            stype.alias("street_type"),
            F.col("value").alias("name"),
            F.when(is_node, ok).alias("ok"),
            F.monotonically_increasing_id().alias("seen"),
        )
        .groupBy("table", "street_type", "name", "ok")
        .agg(F.count("*").alias("count"), F.min("seen").alias("first_seen"))
        .collect()
    )
    variants = sorted((r.street_type, r.name) for r in rows if r.table != "nodes")
    nodes = sorted(
        (r for r in rows if r.table == "nodes"),
        key=lambda r: (r.ok is not None, r.first_seen),
    )
    return variants, [(r.ok, r["count"]) for r in nodes]


def clean_street_names(tags: DataFrame) -> DataFrame:
    """update_name as a literal-map lookup on the last token of the
    street rows; non-street rows and unmapped suffixes pass through
    unchanged."""
    mapping = F.create_map(*(F.lit(x) for pair in STREET_SUFFIXES for x in pair))
    is_street = (F.col("type") == "addr") & (F.col("key") == "street")
    clean = mapping[F.regexp_extract(F.col("value"), r"([^ ]+)$", 1)]
    cleaned = F.when(
        is_street & clean.isNotNull(),
        F.concat(F.regexp_replace(F.col("value"), r"[^ ]+$", ""), clean),
    ).otherwise(F.col("value"))
    return tags.select("id", "key", cleaned.alias("value"), "type")


def _write_concurrently(
    spark: SparkSession, frames: dict[str, DataFrame], out_dir: str
) -> None:
    """Write each frame to `<out_dir>/<name>.parquet`, all at once from
    one driver thread per frame: Spark runs the jobs side by side, and
    the paths are disjoint. Each thread target copies the caller's job
    group and local properties when it is wrapped, one copy per write.
    Every write has finished when this returns; the first failure in
    submission order is re-raised."""
    with ThreadPoolExecutor(max_workers=len(frames)) as pool:
        futures = [
            pool.submit(
                inheritable_thread_target(spark)(write_parquet),
                df,
                f"{out_dir}/{name}.parquet",
            )
            for name, df in frames.items()
        ]
    for future in futures:
        future.result()


def _count_written(
    spark: SparkSession, frames: dict[str, DataFrame], out_dir: str
) -> dict[str, int]:
    """Row count of every written table, read back from its parquet
    files in ONE action: a union of the scans, one group per table. A
    table with no rows has no group and counts 0. Each scan takes the
    written schema, so no footer-inference job runs."""
    scans = [
        spark.read.schema(df.schema)
        .parquet(f"{out_dir}/{name}.parquet")
        .select(F.lit(name).alias("table"))
        for name, df in frames.items()
    ]
    grouped = reduce(DataFrame.union, scans).groupBy("table").count()
    counts = {r.table: r["count"] for r in grouped.collect()}
    return {name: counts.get(name, 0) for name in frames}


def run_osm_etl(spark: SparkSession, xml_path: str, out_dir: str) -> list[str]:
    """process_map: parse, audit, clean, validate, write. Returns a
    human-readable report (the reference printed its audit dict).
    Three steps, each one action or one batch of concurrent actions:
    the audit+validate check (it also fills the cache of the tagged
    parse, so the XML is parsed once), the five writes, and the
    read-back of the written row counts from disk. The parse is
    unpersisted on the way out, also when a step raises; a failed
    write is re-raised only after every other write has finished."""
    parsed = parse_osm_tagged(spark, xml_path).persist()
    try:
        variants, validity = check_parse(parsed)
        report = [f"street-type variants flagged: {len(variants)}"]
        report += [f"  {stype}: {name}" for stype, name in variants[:20]]
        report += [f"nodes valid={ok}: {n}" for ok, n in validity]

        tables = split_osm_tables(parsed)
        written = {name: tables[name] for name in WRITTEN_TABLES}
        for name in ("nodes_tags", "ways_tags"):
            written[name] = clean_street_names(written[name])
        _write_concurrently(spark, written, out_dir)
        for name, n in _count_written(spark, written, out_dir).items():
            report.append(f"wrote {name}: {n} rows")
        return report
    finally:
        parsed.unpersist()


def generate_report(spark: SparkSession, sf_dir: str) -> dict:
    """EP3's final artifact: the reference's case-study report numbers
    (element counts, distinct contributors, top contributors, top
    categories) computed in one place from the registered queries —
    the engine's analog of the README the project family publishes."""
    from .plans import load_all_queries

    specs = load_all_queries()

    def rows(name):
        return [tuple(r) for r in specs[name].spark(spark, sf_dir).collect()]

    return {
        "table_counts": dict((t, n) for t, n in rows("q_count")),
        "distinct_users": rows("q_distinct_users")[0][0],
        "one_time_users": rows("q_onetime_users")[0][0],
        "top_users": rows("q_top_users"),
        "top_categories": rows("q_top_amenities"),
        "key_buckets": dict((b, n) for b, n in rows("q_keybuckets")),
    }
