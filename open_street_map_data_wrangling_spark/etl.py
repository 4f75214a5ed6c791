"""The reference's complete ETL, end-to-end (SURVEY.md §3.1 EP1+EP2).

data.py::process_map + audit.py in one distributed pipeline:

    OSM XML ──parse once──▶ tagged rows, persisted for the run
             ┌─check──▶ ONE aggregate: street-type variants (audit)
             │          and node accept/reject counts (validate)
             └─per table, 5 at once──▶ where + selectExpr (split)
                        ──▶ last-token street-suffix rewrite (clean)
                        ──▶ parquet write (the CSV-per-table analog)
                        ──▶ plan its read-back scan
             ──read back──▶ ONE action: every written table's row count

Like the reference's single iterparse pass, the extract is parsed
once per run. The check and the five writes are one overlapped step:
six driver threads submit their actions together over the persisted
tagged parse (sources/osm_xml.py). The first action to reach a
cached partition parses it; the others wait on Spark's per-block
write lock and then read the block. The parse is unpersisted when
the step ends, whether or not it succeeded. On an extract of a few
MB the run is bound by driver time between jobs, not by the parse,
so the steps share actions wherever their results allow and plan
while other steps run: the run is ten Spark jobs, three for the
check, one per write and two for the read-back. A failing check or
write does not cancel the others; the first failure in submission
order (the check, then the writes) is raised once all have finished.
This module only composes verified relational pieces, which is the
point: the reference's monolithic script becomes a composition of
them.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.osm_xml import _TABLE_SCHEMAS, osm_table, parse_osm_tagged
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


# update_name on the street rows: the last token looked up in a SQL
# map literal of STREET_SUFFIXES; concat is NULL when the token has no
# mapping, and coalesce then keeps the value
_CLEAN_VALUE = (
    "CASE WHEN type = 'addr' AND key = 'street' THEN coalesce(concat("
    "regexp_replace(value, '[^ ]+$', ''), map({})[regexp_extract(value, '([^ ]+)$', 1)]"
    "), value) ELSE value END AS value"
).format(", ".join(f"'{x}'" for pair in STREET_SUFFIXES for x in pair))


def clean_street_names(tags: DataFrame) -> DataFrame:
    """update_name as a literal-map lookup on the last token of the
    street rows; non-street rows and unmapped suffixes pass through
    unchanged."""
    return tags.selectExpr("id", "key", _CLEAN_VALUE, "type")


def run_osm_etl(spark: SparkSession, xml_path: str, out_dir: str) -> list[str]:
    """process_map: parse, audit, clean, validate, write. Returns a
    human-readable report (the reference printed its audit dict).

    One overlapped step over the persisted tagged parse: the
    audit+validate check and the five table writes are submitted
    together from one driver pool, each target wrapped so that its
    jobs keep the caller's job group. Whichever action first reaches
    a cached partition parses it; the others wait on the block's write
    lock and then read it, so the XML is parsed once. Each write
    target plans its table's read-back scan (with the table's DDL, so
    no footer-inference job runs) right after its write, and the
    written row counts are read back from disk in ONE action: a union
    of the scans, one group per table (an empty table counts 0).

    A failing target does not stop the others: every target finishes,
    then the first failure in submission order (the check first, then
    the writes in WRITTEN_TABLES order) is raised. The parse is
    unpersisted on the way out, also when a target raises."""
    parsed = parse_osm_tagged(spark, xml_path).persist()

    def write(name: str) -> DataFrame:
        table = osm_table(parsed, name)
        if name in ("nodes_tags", "ways_tags"):
            table = clean_street_names(table)
        path = f"{out_dir}/{name}.parquet"
        write_parquet(table, path)
        return spark.read.schema(_TABLE_SCHEMAS[name]).parquet(path).selectExpr(
            f"'{name}' AS table"
        )

    try:
        with ThreadPoolExecutor(max_workers=1 + len(WRITTEN_TABLES)) as pool:
            check = pool.submit(inheritable_thread_target(spark)(check_parse), parsed)
            writes = [
                pool.submit(inheritable_thread_target(spark)(write), name)
                for name in WRITTEN_TABLES
            ]
        variants, validity = check.result()
        scans = [w.result() for w in writes]
    finally:
        parsed.unpersist()
    grouped = reduce(DataFrame.union, scans).groupBy("table").count()
    counts = {r.table: r["count"] for r in grouped.collect()}
    report = [f"street-type variants flagged: {len(variants)}"]
    report += [f"  {stype}: {name}" for stype, name in variants[:20]]
    report += [f"nodes valid={ok}: {n}" for ok, n in validity]
    report += [f"wrote {name}: {counts.get(name, 0)} rows" for name in WRITTEN_TABLES]
    return report


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
