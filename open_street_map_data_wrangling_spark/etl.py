"""The reference's complete ETL, end-to-end (SURVEY.md §3.1 EP1+EP2).

data.py::process_map + audit.py in one distributed pipeline:

    OSM XML ──parse once──▶ tagged rows, persisted for the run
             ──split──▶ 5 shaped relations
             ──audit──▶ street-type variants report
             ──clean──▶ last-token street-suffix rewrite
             ──validate──▶ reject counts
             ──write──▶ parquet per table (the CSV-per-table analog)

Like the reference's single iterparse pass, the extract is parsed
once per run: audit, validate and every write scan the persisted
tagged parse (sources/osm_xml.py), which is unpersisted when the run
ends, whether or not it succeeded. This module only composes verified
relational pieces, which is the point: the reference's monolithic
script becomes a composition of them.
"""

from __future__ import annotations

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


def audit_street_types(nodes_tags: DataFrame) -> DataFrame:
    """audit.py::audit - distinct (street_type, name) variants whose
    last token is not an expected street type."""
    street = nodes_tags.filter((F.col("type") == "addr") & (F.col("key") == "street"))
    stype = F.regexp_extract(
        F.regexp_replace(F.col("value"), r"\.$", ""), r"([^ ]+)$", 1
    )
    return (
        street.select(stype.alias("street_type"), F.col("value").alias("name"))
        .filter(~F.col("street_type").isin(*EXPECTED_STREET_TYPES))
        .distinct()
    )


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


def validate(nodes: DataFrame) -> DataFrame:
    """validate_element: typed constraints -> accept/reject counts."""
    ok = (
        F.col("id").isNotNull()
        & F.col("lat").between(-90.0, 90.0)
        & F.col("lon").between(-180.0, 180.0)
        & F.col("uid").isNotNull()
    )
    return nodes.select(ok.alias("ok")).groupBy("ok").count()


def run_osm_etl(spark: SparkSession, xml_path: str, out_dir: str) -> list[str]:
    """process_map: parse, audit, clean, validate, write. Returns a
    human-readable report (the reference printed its audit dict).
    The tagged parse is persisted for the run, so the XML is parsed
    once; it is unpersisted on the way out, also when a stage
    raises."""
    parsed = parse_osm_tagged(spark, xml_path).persist()
    try:
        tables = split_osm_tables(parsed)
        report: list[str] = []

        variants = audit_street_types(tables["nodes_tags"]).collect()
        report.append(f"street-type variants flagged: {len(variants)}")
        for r in sorted(variants, key=lambda r: (r.street_type, r.name))[:20]:
            report.append(f"  {r.street_type}: {r.name}")

        for r in validate(tables["nodes"]).collect():
            report.append(f"nodes valid={r.ok}: {r['count']}")

        written = {name: tables[name] for name in ("nodes", "ways", "ways_nodes")}
        written["nodes_tags"] = clean_street_names(tables["nodes_tags"])
        written["ways_tags"] = clean_street_names(tables["ways_tags"])
        for name, df in written.items():
            write_parquet(df, f"{out_dir}/{name}.parquet")
        for name in ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"):
            # the written schema is known: skip the footer-inference job
            n = spark.read.schema(written[name].schema).parquet(
                f"{out_dir}/{name}.parquet"
            ).count()
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
