"""OSM XML ingestion — SURVEY.md §2.1 S1, the reference's native
source format, distributed.

The reference streams one XML file through `ET.iterparse` with
`elem.clear()` (single process, O(1) memory). The Spark-first form
keeps the same per-element parser — stdlib ElementTree, no extra
packages — but runs it through the package's Python row seam
(`operators.scale.map_rows`, one Arrow-batched `mapInArrow` pass)
over a DataFrame of XML *fragments*, one top-level element per row,
so a 100 TB extract parses across every core of the cluster:

1. `spark.read.text` with a custom line separator splits the raw XML
   at element boundaries — a narrow, streaming scan (each task sees
   only its byte range; no document-level DOM ever exists).
2. Each fragment parses independently into typed rows for the five
   reference tables (schema.py shapes): nodes, nodes_tags, ways,
   ways_tags, ways_nodes.
3. Like the reference's single pass, the parse runs once: one
   row-seam pass emits every row tagged with its target table
   (`parse_osm_tagged`, schema `TAGGED_SCHEMA` = `table` plus the
   union of the table schemas), and each table is a where +
   selectExpr over that one tagged parse (`osm_table`,
   `split_osm_tables`). Persist the tagged parse to share it between
   consumers: run_osm_etl's check aggregate and its five writes run
   at once over it, and whichever reaches a partition first fills
   its cache block for the others.

`<relation>` elements — which the reference project family ignores
(SURVEY.md §1.1) — are parsed into `relations`, `relations_tags` and
`relation_members(id, member_type, member_ref, role, position)`,
completing the OSM data model (multipolygons, routes, turn
restrictions all live in relations).

The element boundary chosen for the text splitter is "\\n  <node" /
"\\n  <way" nesting-level-2 newlines — OSM extracts are one element
per line at indent level 2 (both osmosis and the API emit this
layout); the parser also tolerates fragments that arrive
whole. Malformed fragments are skipped, not raised (the validation
operator C7 owns rejects). Known limitation: a tag value containing a
literal newline followed by exactly two spaces and '<' would split
mid-element — osmosis/API output escapes newlines in attribute values
(&#10;), so the layout assumption holds for real extracts.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import map_rows

NODES_SCHEMA = (
    "id bigint, lat double, lon double, user string, uid bigint, "
    "version int, changeset bigint, timestamp string"
)
WAYS_SCHEMA = (
    "id bigint, user string, uid bigint, version int, changeset bigint, "
    "timestamp string"
)
TAGS_SCHEMA = "id bigint, key string, value string, type string"
WAY_NODES_SCHEMA = "id bigint, node_id bigint, position int"
RELATIONS_SCHEMA = WAYS_SCHEMA
RELATION_MEMBERS_SCHEMA = (
    "id bigint, member_type string, member_ref bigint, role string, position int"
)

# one output relation per reference table (schema.py), plus the
# relation tables the reference family omits
_TABLE_SCHEMAS = {
    "nodes": NODES_SCHEMA,
    "nodes_tags": TAGS_SCHEMA,
    "ways": WAYS_SCHEMA,
    "ways_tags": TAGS_SCHEMA,
    "ways_nodes": WAY_NODES_SCHEMA,
    "relations": RELATIONS_SCHEMA,
    "relations_tags": TAGS_SCHEMA,
    "relation_members": RELATION_MEMBERS_SCHEMA,
}

# element kind -> (own table, child list key, child table); its tags
# go to "<own table>_tags"
_KIND_TABLES = {
    "node": ("nodes", None, None),
    "way": ("ways", "nd", "ways_nodes"),
    "relation": ("relations", "members", "relation_members"),
}


def _fields(schema: str) -> list[tuple[str, str]]:
    """'id bigint, lat double' → [('id', 'bigint'), ('lat', 'double')]."""
    return [tuple(f.split()) for f in schema.split(", ")]


def _tagged_fields() -> list[tuple[str, str]]:
    """`table` plus the union of the eight tables' columns, in
    first-seen order; a column shared by two tables must agree on
    its type."""
    union: dict[str, str] = {}
    for schema in _TABLE_SCHEMAS.values():
        for name, typ in _fields(schema):
            if union.setdefault(name, typ) != typ:
                raise TypeError(f"column {name!r} is {union[name]} and {typ}")
    return [("table", "string"), *union.items()]


_TAGGED_FIELDS = _tagged_fields()
TAGGED_SCHEMA = ", ".join(f"{n} {t}" for n, t in _TAGGED_FIELDS)
_TAGGED_COLS = [n for n, _ in _TAGGED_FIELDS]


def _split_tag_key(k: str) -> tuple[str, str]:
    """'addr:street' → ('addr', 'street'); ≥2 colons keep remainder;
    no colon → type 'regular' (data.py::shape_element semantics)."""
    if ":" in k:
        t, rest = k.split(":", 1)
        return t, rest
    return "regular", k


def _parse_element(frag: str) -> tuple[str, dict] | None:
    """Parse one top-level OSM element fragment; None if malformed or
    not a node/way."""
    try:
        elem = ET.fromstring(frag)
    except ET.ParseError:
        return None
    if elem.tag not in ("node", "way", "relation"):
        return None
    return elem.tag, _shape(elem)


def _shape(elem: ET.Element) -> dict:
    """shape_element: fixed attrs + tags (+ ordered nd refs for ways)."""
    a = elem.attrib
    shaped = {
        "id": int(a["id"]),
        "user": a.get("user"),
        "uid": int(a["uid"]) if "uid" in a else None,
        "version": int(a["version"]) if "version" in a else None,
        "changeset": int(a["changeset"]) if "changeset" in a else None,
        "timestamp": a.get("timestamp"),
    }
    if elem.tag == "node":
        shaped["lat"] = float(a["lat"]) if "lat" in a else None
        shaped["lon"] = float(a["lon"]) if "lon" in a else None
    tags = []
    for t in elem.findall("tag"):
        typ, key = _split_tag_key(t.attrib.get("k", ""))
        tags.append({"id": shaped["id"], "key": key, "value": t.attrib.get("v"), "type": typ})
    shaped["tags"] = tags
    if elem.tag == "way":
        shaped["nd"] = [
            {"id": shaped["id"], "node_id": int(nd.attrib["ref"]), "position": i}
            for i, nd in enumerate(elem.findall("nd"))
        ]
    if elem.tag == "relation":
        shaped["members"] = [
            {
                "id": shaped["id"],
                "member_type": m.attrib.get("type"),
                "member_ref": int(m.attrib["ref"]) if "ref" in m.attrib else None,
                "role": m.attrib.get("role"),
                "position": i,
            }
            for i, m in enumerate(elem.findall("member"))
        ]
    return shaped


def read_osm_fragments(spark: SparkSession, path: str) -> DataFrame:
    """Raw XML → one row per candidate element fragment. lineSep on
    nesting-level-2 newlines keeps each task's memory bounded by one
    element, the distributed analog of iterparse+clear."""
    return spark.read.option("lineSep", "\n  <").text(path)


def _repair(raw: str) -> tuple[str, str | None]:
    """One boundary-split fragment (lineSep scan or byte-range data
    source — both split on the same "\\n  <" marker, so both lose the
    element's leading '<' and possibly its own closing tag) → (its
    text with the '<' put back and a trailing document close dropped,
    the element's closing tag, or None for a non-element fragment)."""
    raw = raw.strip()
    if not raw.startswith("<"):
        raw = "<" + raw
    if raw.endswith("</osm>"):
        raw = raw[: -len("</osm>")].rstrip()
    kind = next((k for k in _KIND_TABLES if raw.startswith("<" + k)), None)
    return raw, kind and f"</{kind}>"


def _parse_fragment(raw: str) -> tuple[str, dict] | None:
    """One boundary-split fragment → parsed (kind, shaped), or None
    for non-element fragments."""
    raw = raw.strip()
    if not raw or raw.startswith(("?", "<?", "osm", "/", "bounds")):
        return None
    text, close = _repair(raw)
    parsed = _parse_element(text)
    if parsed is None and close:
        # the splitter consumed "\n  <" of the element's own closing
        # tag — retry with it rebuilt
        parsed = _parse_element(text + close)
    return parsed


def _table_rows(kind: str, shaped: dict) -> Iterator[tuple[str, dict]]:
    """One parsed element → its (table, row) pairs: the element's own
    row, its tags, and its ordered children (way refs, relation
    members)."""
    table, child_key, child_table = _KIND_TABLES[kind]
    tags = shaped.pop("tags")
    children = shaped.pop(child_key) if child_key else ()
    yield table, shaped
    for tag in tags:
        yield f"{table}_tags", tag
    for child in children:
        yield child_table, child


def _tagged_rows(raw: str) -> Iterator[tuple]:
    """One fragment → its `TAGGED_SCHEMA` tuples (none for a
    non-element fragment)."""
    parsed = _parse_fragment(raw)
    if parsed is not None:
        for table, row in _table_rows(*parsed):
            yield table, *map(row.get, _TAGGED_COLS[1:])


def parse_osm_tagged(spark: SparkSession, path: str) -> DataFrame:
    """The reference ETL's single streaming pass (data.py::process_map),
    distributed: ONE row-seam pass (scale.map_rows) over the fragment
    scan emits every parsed row once, tagged with its target table
    (`TAGGED_SCHEMA`).  Persist it to let several consumers share one
    parse (run_osm_etl's check aggregate and five writes run together
    over its cache); split it with `osm_table` or `split_osm_tables`."""
    return map_rows(
        read_osm_fragments(spark, path), ("value",), _tagged_rows, TAGGED_SCHEMA
    )


def osm_table(tagged: DataFrame, name: str) -> DataFrame:
    """One shaped relation of a tagged parse, planned from SQL text:
    `where(table = name).selectExpr(<its columns>)` over `tagged`."""
    return tagged.where(f"`table` = '{name}'").selectExpr(
        *(f"`{c}`" for c, _ in _fields(_TABLE_SCHEMAS[name]))
    )


def split_osm_tables(tagged: DataFrame) -> dict[str, DataFrame]:
    """The eight shaped relations of a tagged parse (`osm_table`)."""
    return {name: osm_table(tagged, name) for name in _TABLE_SCHEMAS}


def parse_osm_xml(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """The reference ETL main (data.py::process_map), distributed:
    returns the eight shaped relations as one tagged parse, split by
    table. Left unpersisted, every relation that is materialized
    re-parses the extract; run_osm_etl instead persists the tagged
    parse and runs its check and its per-table writes over it, so
    all its steps share one parse."""
    return split_osm_tables(parse_osm_tagged(spark, path))


def write_osm_sample(
    spark: SparkSession, src_path: str, out_path: str, k: int = 10
) -> int:
    """sample.py, distributed-scan edition: keep every k-th top-level
    element and write a well-formed sample .osm file. The scan and
    systematic filter are distributed; assembly is driver-side because
    a sample is small by definition (the reference's sample.osm is the
    smoke-test input, not a dataset). Returns elements written."""
    from pyspark.sql import Window as W

    frags = read_osm_fragments(spark, src_path)
    # stable element index in file order (driver-side assembly anyway,
    # so the single-partition window is not a scale concern here)
    w = W.orderBy(F.monotonically_increasing_id())
    elems = (
        frags.withColumn("__v", F.ltrim(F.col("value")))
        .filter(F.col("__v").rlike("^<?(node|way)"))
        .withColumn("__i", F.row_number().over(w))
        # row_number is 1-based: (i-1) % k == 0 keeps the first element
        # for every k, including k=1 ("keep everything")
        .filter(((F.col("__i") - 1) % k) == 0)
        .select("value")
    )
    rows = [r.value for r in elems.collect()]
    with open(out_path, "w") as f:
        f.write('<?xml version="1.0" encoding="UTF-8"?>\n<osm version="0.6">\n')
        for raw in rows:
            text, close = _repair(raw)
            if close and not text.endswith(("/>", close)):
                text += close
            f.write("  " + text + "\n")
        f.write("</osm>\n")
    return len(rows)
