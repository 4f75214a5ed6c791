"""OSM XML ingestion tests (SURVEY.md §2.1 S1): generate a
deterministic synthetic extract in the reference's layout (osmosis
indent style, FIXTURES.md §C constraints), parse it distributed, and
run the audit/clean logic over the shaped tables."""

import pytest

from pyspark.sql import functions as F

from open_street_map_data_wrangling_spark.sources.osm_xml import parse_osm_xml

N_NODES = 60
N_WAYS = 12

STREETS = [
    "Main Street",
    "Oak Ave",  # abbreviated -> audit hit
    "Pine St.",  # abbreviated -> audit hit
    "Elm Road",
    "Birch Blvd",  # abbreviated -> audit hit
]


def _make_xml() -> str:
    lines = ['<?xml version="1.0" encoding="UTF-8"?>', '<osm version="0.6">']
    lines.append('  <bounds minlat="41.0" minlon="-81.0" maxlat="41.5" maxlon="-80.5"/>')
    for i in range(N_NODES):
        uid = i % 7
        attrs = (
            f'id="{i}" lat="{41.0 + i * 0.001:.4f}" lon="{-81.0 + i * 0.001:.4f}" '
            f'user="user{uid}" uid="{uid}" version="1" changeset="{1000 + i}" '
            f'timestamp="2024-01-0{1 + i % 9}T00:00:00Z"'
        )
        if i % 3 == 0:  # node with child tags (multi-line form)
            lines.append(f"  <node {attrs}>")
            lines.append(f'    <tag k="addr:street" v="{STREETS[i % len(STREETS)]}"/>')
            if i % 6 == 0:
                lines.append('    <tag k="amenity" v="restaurant"/>')
                lines.append('    <tag k="cuisine" v="pizza"/>')
            lines.append("  </node>")
        else:  # self-closed node
            lines.append(f"  <node {attrs}/>")
    for w in range(N_WAYS):
        uid = w % 5
        lines.append(
            f'  <way id="{10000 + w}" user="user{uid}" uid="{uid}" version="2" '
            f'changeset="{2000 + w}" timestamp="2024-01-15T12:00:00Z">'
        )
        for p in range(3):  # ordered refs to existing nodes
            lines.append(f'    <nd ref="{(w * 3 + p) % N_NODES}"/>')
        lines.append(f'    <tag k="highway" v="residential"/>')
        lines.append(f'    <tag k="name" v="Way {w}"/>')
        lines.append("  </way>")
    # relations — parsed into relations/relations_tags/relation_members
    # (the reference family ignores them; we complete the data model)
    lines.append('  <relation id="99" user="user0" uid="0" version="1" changeset="3000" timestamp="2024-01-20T00:00:00Z">')
    lines.append('    <member type="way" ref="10000" role="outer"/>')
    lines.append("  </relation>")
    lines.append('  <relation id="100" user="user1" uid="1" version="2" changeset="3001" timestamp="2024-01-21T00:00:00Z">')
    lines.append('    <member type="way" ref="10001" role="outer"/>')
    lines.append('    <member type="way" ref="10002" role="inner"/>')
    lines.append('    <member type="node" ref="7" role=""/>')
    lines.append('    <tag k="type" v="multipolygon"/>')
    lines.append('    <tag k="addr:city" v="Akron"/>')
    lines.append("  </relation>")
    lines.append("</osm>")
    return "\n".join(lines) + "\n"


@pytest.fixture(scope="module")
def osm_tables(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("osm") / "sample.osm"
    path.write_text(_make_xml())
    return parse_osm_xml(spark, str(path))


def test_counts(osm_tables):
    assert osm_tables["nodes"].count() == N_NODES
    assert osm_tables["ways"].count() == N_WAYS
    assert osm_tables["ways_nodes"].count() == N_WAYS * 3
    assert osm_tables["ways_tags"].count() == N_WAYS * 2


def test_node_values(osm_tables):
    r = osm_tables["nodes"].filter(F.col("id") == 3).collect()[0]
    assert r.uid == 3 and r.user == "user3"
    assert abs(r.lat - 41.003) < 1e-9


def test_tag_key_split(osm_tables):
    tags = osm_tables["nodes_tags"]
    addr = tags.filter(F.col("key") == "street").collect()
    assert addr and all(t.type == "addr" for t in addr)
    amen = tags.filter(F.col("key") == "amenity").collect()
    assert amen and all(t.type == "regular" for t in amen)


def test_way_ordinals(osm_tables):
    wn = osm_tables["ways_nodes"].filter(F.col("id") == 10001).orderBy("position").collect()
    assert [r.position for r in wn] == [0, 1, 2]
    assert [r.node_id for r in wn] == [3, 4, 5]


def test_relations_parsed(osm_tables):
    """Relations land in relations/relations_tags/relation_members
    with ordered, typed member rows."""
    rels = {r.id: r for r in osm_tables["relations"].collect()}
    assert set(rels) == {99, 100}
    assert rels[100].user == "user1" and rels[100].version == 2

    members = (
        osm_tables["relation_members"]
        .filter(F.col("id") == 100)
        .orderBy("position")
        .collect()
    )
    assert [m.position for m in members] == [0, 1, 2]
    assert [m.member_type for m in members] == ["way", "way", "node"]
    assert [m.member_ref for m in members] == [10001, 10002, 7]
    assert [m.role for m in members] == ["outer", "inner", ""]

    tags = {
        (t.type, t.key): t.value
        for t in osm_tables["relations_tags"].filter(F.col("id") == 100).collect()
    }
    assert tags == {("regular", "type"): "multipolygon", ("addr", "city"): "Akron"}


def test_street_audit_over_parsed(osm_tables):
    """The reference's audit (C1) on real parsed OSM tags: last token
    not in the expected list -> flagged variant."""
    expected = ("Street", "Road")
    tags = osm_tables["nodes_tags"].filter(
        (F.col("type") == "addr") & (F.col("key") == "street")
    )
    street_type = F.regexp_extract(
        F.regexp_replace(F.col("value"), r"\.$", ""), r"([^ ]+)$", 1
    )
    flagged = (
        tags.select(street_type.alias("street_type"), F.col("value"))
        .filter(~F.col("street_type").isin(*expected))
        .distinct()
        .collect()
    )
    got = {(r.street_type, r.value) for r in flagged}
    assert got == {("Ave", "Oak Ave"), ("St", "Pine St."), ("Blvd", "Birch Blvd")}


def test_restaurant_cuisine_join_over_parsed(osm_tables):
    """The reference's signature nodes_tags self-join (J1) on real
    parsed data: cuisines of amenity=restaurant nodes."""
    tags = osm_tables["nodes_tags"]
    rest = tags.filter((F.col("key") == "amenity") & (F.col("value") == "restaurant")).select("id")
    cuisine = tags.filter(F.col("key") == "cuisine").select("id", F.col("value").alias("cuisine"))
    got = cuisine.join(rest, "id").groupBy("cuisine").count().collect()
    assert len(got) == 1 and got[0].cuisine == "pizza" and got[0]["count"] == N_NODES // 6


def test_way_geometry_resolution(osm_tables):
    """J3's way ⋈ ways_nodes ⋈ nodes geometry resolution: ordered
    coordinates per way and a planar segment-length sum."""
    from pyspark.sql import Window as W

    wn = osm_tables["ways_nodes"]
    nodes = osm_tables["nodes"].select("id", "lat", "lon").withColumnRenamed("id", "node_id")
    w = W.partitionBy("id").orderBy("position")
    seg = (
        wn.join(nodes, "node_id")
        .withColumn("plat", F.lag("lat").over(w))
        .withColumn("plon", F.lag("lon").over(w))
        .withColumn(
            "seg_len",
            F.sqrt(
                (F.col("lat") - F.col("plat")) ** 2 + (F.col("lon") - F.col("plon")) ** 2
            ),
        )
    )
    lengths = {
        r.id: r.total
        for r in seg.groupBy("id").agg(F.sum("seg_len").alias("total")).collect()
    }
    assert len(lengths) == N_WAYS
    # nodes step 0.001/0.001 per id; consecutive refs -> 2 segments of
    # sqrt(2)*0.001 each
    import math

    assert abs(lengths[10000] - 2 * math.sqrt(2) * 0.001) < 1e-9


def test_full_etl_roundtrip(spark, tmp_path_factory):
    """EP1+EP2 end-to-end: XML -> audit -> clean -> validate -> parquet;
    cleaned street tags must use canonical suffixes."""
    from open_street_map_data_wrangling_spark.etl import run_osm_etl

    src = tmp_path_factory.mktemp("etl") / "map.osm"
    src.write_text(_make_xml())
    out = str(tmp_path_factory.mktemp("etl_out"))
    report = run_osm_etl(spark, str(src), out)
    text = "\n".join(report)
    assert "street-type variants flagged: 3" in text
    assert f"wrote nodes: {N_NODES} rows" in text

    tags = spark.read.parquet(f"{out}/nodes_tags.parquet")
    streets = {
        r.value
        for r in tags.filter(
            (F.col("type") == "addr") & (F.col("key") == "street")
        ).collect()
    }
    assert "Oak Avenue" in streets and "Pine Street" in streets
    assert "Oak Ave" not in streets and "Pine St." not in streets
    # unmapped variant passes through
    assert "Birch Boulevard" in streets or "Birch Blvd" in streets


def test_multi_file_extract(spark, tmp_path_factory):
    """A directory of extract files parses as one logical dataset —
    the scale shape: each file (or byte range) is an independent task,
    so a 100 TB planet dump is as parallel as its file count."""
    d = tmp_path_factory.mktemp("osm_multi")
    (d / "part1.osm").write_text(_make_xml())
    (d / "part2.osm").write_text(_make_xml().replace('id="1', 'id="9001'))
    tables = parse_osm_xml(spark, str(d))
    # part2 renames a subset of ids; total node count doubles
    assert tables["nodes"].count() == 2 * N_NODES
    assert tables["nodes"].select("id").distinct().count() > N_NODES


def test_write_osm_sample_roundtrip(spark, tmp_path_factory):
    """S2 faithful form: sampled .osm file is well-formed and
    re-parseable; every 10th element kept."""
    from open_street_map_data_wrangling_spark.sources.osm_xml import write_osm_sample

    d = tmp_path_factory.mktemp("osm_sample")
    src = d / "map.osm"
    src.write_text(_make_xml())
    out = str(d / "sample.osm")
    n = write_osm_sample(spark, str(src), out, k=10)
    assert n == (N_NODES + N_WAYS + 10 - 1) // 10  # ceil((60+12)/10)
    back = parse_osm_xml(spark, out)
    assert back["nodes"].count() + back["ways"].count() == n


def test_write_osm_sample_k1_keeps_everything(spark, tmp_path_factory):
    """k=1 means 'keep every element', not an empty file (the 1-based
    row_number off-by-one regression)."""
    from open_street_map_data_wrangling_spark.sources.osm_xml import write_osm_sample

    d = tmp_path_factory.mktemp("osm_sample_k1")
    src = d / "map.osm"
    src.write_text(_make_xml())
    n = write_osm_sample(spark, str(src), str(d / "full.osm"), k=1)
    assert n == N_NODES + N_WAYS


def test_etl_to_sqlite_reference_migration(spark, tmp_path_factory):
    """The complete reference workflow on this engine: OSM XML → ETL
    (EP1) → SQLite load (S5) → the case study's own cursor queries
    (EP3).  A reference user's existing sqlite3 analysis scripts run
    unchanged against the file this engine produces."""
    import sqlite3

    from open_street_map_data_wrangling_spark.etl import run_osm_etl
    from open_street_map_data_wrangling_spark.sources.sinks import write_sqlite

    base = tmp_path_factory.mktemp("etl_sqlite")
    src = base / "map.osm"
    src.write_text(_make_xml())
    out = str(base / "shaped")
    run_osm_etl(spark, str(src), out)

    db = str(base / "osm.db")
    for table in ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"):
        df = spark.read.parquet(f"{out}/{table}.parquet")
        assert write_sqlite(df, db, table) == df.count()

    con = sqlite3.connect(db)
    try:
        # the reference's EP3 queries, verbatim style
        n_nodes = con.execute("SELECT count(*) FROM nodes").fetchone()[0]
        assert n_nodes == spark.read.parquet(f"{out}/nodes.parquet").count()
        users = con.execute(
            "SELECT count(DISTINCT user) FROM "
            "(SELECT user FROM nodes UNION ALL SELECT user FROM ways)"
        ).fetchone()[0]
        assert users >= 1
        amenities = con.execute(
            "SELECT value, count(*) c FROM nodes_tags WHERE key = 'amenity' "
            "GROUP BY value ORDER BY c DESC, value LIMIT 3"
        ).fetchall()
        want = (
            spark.read.parquet(f"{out}/nodes_tags.parquet")
            .filter("key = 'amenity'")
            .groupBy("value")
            .count()
            .orderBy(F.desc("count"), "value")
            .limit(3)
            .collect()
        )
        assert [(v, c) for v, c in amenities] == [
            (r["value"], r["count"]) for r in want
        ]
    finally:
        con.close()


# ---------------------------------------------------------------------------
# One parse per ETL run: every stage scans the persisted tagged parse

# run_osm_etl on the test extract runs 20 jobs; the pin leaves ~25%
# slack.
MAX_ETL_JOBS = 25


@pytest.fixture(scope="module")
def etl_run(spark, tmp_path_factory):
    """One run_osm_etl under a job group, recording the executed plan
    of every DataFrame it hands to the parquet sink."""
    from open_street_map_data_wrangling_spark import etl

    base = tmp_path_factory.mktemp("etl_once")
    src = base / "map.osm"
    src.write_text(_make_xml())
    plans = {}
    inner = etl.write_parquet

    def spy(df, path, *args, **kwargs):
        plans[path.rsplit("/", 1)[-1]] = df._jdf.queryExecution().executedPlan().toString()
        return inner(df, path, *args, **kwargs)

    sc = spark.sparkContext
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(etl, "write_parquet", spy)
        sc.setJobGroup("etl-once", "run_osm_etl job-count pin")
        try:
            report = etl.run_osm_etl(spark, str(src), str(base / "out"))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("etl-once")
    return report, plans, jobs


def test_etl_writes_scan_persisted_parse(etl_run):
    """Every written table reads the cached tagged parse: its executed
    plan scans an InMemoryRelation, and the XML parse (MapInPandas)
    appears only inside the cached relation, never above the scan."""
    report, plans, _ = etl_run
    assert f"wrote nodes: {N_NODES} rows" in report
    assert sorted(plans) == sorted(
        f"{t}.parquet" for t in ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes")
    )
    for name, plan in plans.items():
        above, scan, _ = plan.partition("InMemoryTableScan")
        assert scan, (name, plan)
        assert "MapInPandas" not in above, (name, plan)


def test_etl_job_count_pinned(etl_run):
    """The whole run stays within MAX_ETL_JOBS Spark jobs: cleaning
    starts no job of its own, and a read-back with the written schema
    starts no footer-inference job."""
    _, _, jobs = etl_run
    assert 0 < len(jobs) <= MAX_ETL_JOBS, sorted(jobs)


def test_etl_failure_leaves_no_cached_parse(spark, tmp_path_factory):
    """A run whose write fails (its output dir is a regular file)
    still unpersists the tagged parse it cached."""
    from open_street_map_data_wrangling_spark.etl import run_osm_etl

    base = tmp_path_factory.mktemp("etl_fail")
    src = base / "map.osm"
    src.write_text(_make_xml())
    occupied = base / "occupied"
    occupied.write_text("not a directory")
    spark.catalog.clearCache()
    with pytest.raises(Exception, match="ParentNotDirectory|not a directory"):
        run_osm_etl(spark, str(src), str(occupied))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_clean_street_names_matches_mapping_join(spark):
    """The literal-map street cleaner reproduces the rows of the
    broadcast mapping join it replaced: mapped suffixes (with and
    without a trailing dot, single-token values), untouched non-street
    tags, NULLs and unmapped suffixes."""
    from open_street_map_data_wrangling_spark.etl import clean_street_names

    rows = [
        (1, "street", "Main St", "addr"),
        (2, "street", "Pine St.", "addr"),
        (3, "street", "Oak Ave.", "addr"),
        (4, "street", "Elm Dr", "addr"),
        (5, "street", "St", "addr"),
        (6, "name", "Corner St", "regular"),
        (7, "street", None, "addr"),
        (8, "street", "Maple Court", "addr"),
        (9, "city", "Akron St", "addr"),
        (10, "street", "Birch Blvd", "addr"),
        (11, "street", "Main Street", "addr"),
        (12, "street", "Main St ", "addr"),
        (13, "street", "Elm St", None),
    ]
    df = spark.createDataFrame(rows, "id bigint, key string, value string, type string")
    out = clean_street_names(df)
    assert out.columns == ["id", "key", "value", "type"]
    assert sorted(tuple(r) for r in out.collect()) == [
        (1, "street", "Main Street", "addr"),
        (2, "street", "Pine Street", "addr"),
        (3, "street", "Oak Avenue", "addr"),
        (4, "street", "Elm Drive", "addr"),
        (5, "street", "Street", "addr"),
        (6, "name", "Corner St", "regular"),
        (7, "street", None, "addr"),
        (8, "street", "Maple Court", "addr"),
        (9, "city", "Akron St", "addr"),
        (10, "street", "Birch Boulevard", "addr"),
        (11, "street", "Main Street", "addr"),
        (12, "street", "Main St ", "addr"),
        (13, "street", "Elm St", None),
    ]
