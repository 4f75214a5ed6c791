"""OSM XML ingestion tests (SURVEY.md §2.1 S1): generate a
deterministic synthetic extract in the reference's layout (osmosis
indent style, FIXTURES.md §C constraints), parse it distributed, and
run the audit/clean logic over the shaped tables."""

import threading
import time

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

# run_osm_etl on the test extract runs 10 jobs: 3 for the audit+validate
# check (cache fill, shuffle map, result), 5 writes and 2 for the
# one-action read-back.  The pin leaves ~25% slack.
MAX_ETL_JOBS = 12

WRITTEN = ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes")


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
    tracker = sc.statusTracker()
    # job id -> the names of its stages, read before later tests evict
    # them; a skipped stage may already be gone (the store drops
    # stages without a completion time first)
    jobs = {
        j: [
            info.name
            for info in map(tracker.getStageInfo, tracker.getJobInfo(j).stageIds)
            if info is not None
        ]
        for j in tracker.getJobIdsForGroup("etl-once")
    }
    return report, plans, jobs


def test_etl_writes_scan_persisted_parse(etl_run):
    """Every written table reads the cached tagged parse: its executed
    plan scans an InMemoryRelation, and the XML parse (MapInArrow)
    appears only inside the cached relation, never above the scan."""
    report, plans, _ = etl_run
    assert f"wrote nodes: {N_NODES} rows" in report
    assert sorted(plans) == sorted(f"{t}.parquet" for t in WRITTEN)
    for name, plan in plans.items():
        above, scan, _ = plan.partition("InMemoryTableScan")
        assert scan, (name, plan)
        assert "MapInArrow" not in above, (name, plan)
        assert "MapInPandas" not in above, (name, plan)


def test_etl_job_count_pinned(etl_run):
    """The whole run stays within MAX_ETL_JOBS Spark jobs: cleaning
    starts no job of its own, and a read-back with the written schema
    starts no footer-inference job."""
    _, _, jobs = etl_run
    assert 0 < len(jobs) <= MAX_ETL_JOBS, sorted(jobs)


def test_etl_job_group_holds_the_writes(etl_run):
    """The writes run on driver threads, yet their five parquet jobs
    land in the caller's job group, so the job-count pin counts them
    and cannot pass by losing them."""
    _, _, jobs = etl_run
    writes = [j for j, stages in jobs.items() if any(n.startswith("parquet at ") for n in stages)]
    assert len(writes) == len(WRITTEN), jobs


# run_osm_etl's full report as the earlier 20-job pipeline printed it (shuffle
# partitions 2, as the test session): on _make_xml(); on a copy with a
# node out of range, an anonymous node and a node without lat; on a
# copy whose first node is anonymous; and on its self-closed nodes
# alone, so four written tables are empty
ETL_REPORTS = {
    "extract": [
        "street-type variants flagged: 3",
        "  Ave: Oak Ave",
        "  Blvd: Birch Blvd",
        "  St: Pine St.",
        "nodes valid=True: 60",
        "wrote nodes: 60 rows",
        "wrote nodes_tags: 40 rows",
        "wrote ways: 12 rows",
        "wrote ways_tags: 24 rows",
        "wrote ways_nodes: 36 rows",
    ],
    "invalid_nodes": [
        "street-type variants flagged: 3",
        "  Ave: Oak Ave",
        "  Blvd: Birch Blvd",
        "  St: Pine St.",
        "nodes valid=None: 1",
        "nodes valid=True: 57",
        "nodes valid=False: 2",
        "wrote nodes: 60 rows",
        "wrote nodes_tags: 40 rows",
        "wrote ways: 12 rows",
        "wrote ways_tags: 24 rows",
        "wrote ways_nodes: 36 rows",
    ],
    "invalid_first": [
        "street-type variants flagged: 3",
        "  Ave: Oak Ave",
        "  Blvd: Birch Blvd",
        "  St: Pine St.",
        "nodes valid=False: 1",
        "nodes valid=True: 59",
        "wrote nodes: 60 rows",
        "wrote nodes_tags: 40 rows",
        "wrote ways: 12 rows",
        "wrote ways_tags: 24 rows",
        "wrote ways_nodes: 36 rows",
    ],
    "bare_nodes": [
        "street-type variants flagged: 0",
        "nodes valid=True: 40",
        "wrote nodes: 40 rows",
        "wrote nodes_tags: 0 rows",
        "wrote ways: 0 rows",
        "wrote ways_tags: 0 rows",
        "wrote ways_nodes: 0 rows",
    ],
}


def _etl_extract(kind: str) -> str:
    xml = _make_xml()
    if kind == "invalid_nodes":
        return (
            xml.replace('lat="41.0040"', 'lat="95.0040"')
            .replace('uid="5" version="1" changeset="1005"', 'version="1" changeset="1005"')
            .replace('lat="41.0080" ', "")
        )
    if kind == "invalid_first":
        return xml.replace('uid="0" version="1" changeset="1000"', 'version="1" changeset="1000"')
    if kind == "bare_nodes":
        keep = ("<?xml", "<osm", "</osm", "  <bounds")
        lines = xml.splitlines()
        return "\n".join(
            ln for ln in lines
            if ln.startswith(keep) or (ln.startswith("  <node") and ln.endswith("/>"))
        ) + "\n"
    return xml


@pytest.mark.parametrize("kind", sorted(ETL_REPORTS))
def test_etl_report_is_pinned(spark, tmp_path_factory, kind):
    """The whole report, line order included: the sorted variants, the
    validity lines (None first, then True and False as each first
    occurs in the extract), and a zero for every empty written
    table."""
    from open_street_map_data_wrangling_spark.etl import run_osm_etl

    base = tmp_path_factory.mktemp(f"etl_report_{kind}")
    src = base / "map.osm"
    src.write_text(_etl_extract(kind))
    assert run_osm_etl(spark, str(src), str(base / "out")) == ETL_REPORTS[kind]


def test_etl_failed_write_waits_for_the_others(spark, tmp_path_factory, monkeypatch):
    """One of the five concurrent writes fails (ways.parquet is a
    symlink into a regular file, so the write cannot make its
    directory; a regular file there would just be overwritten).
    run_osm_etl raises that write's error only once every write has
    finished and its thread is gone, and leaves nothing cached.  The
    other writes start late, the later their table comes in WRITTEN,
    so some are still running when the failure is known."""
    from open_street_map_data_wrangling_spark import etl

    base = tmp_path_factory.mktemp("etl_fail_one")
    src = base / "map.osm"
    src.write_text(_make_xml())
    out = base / "out"
    out.mkdir()
    (base / "plain").write_text("not a directory")
    (out / "ways.parquet").symlink_to(base / "plain" / "ways")
    calls = []
    inner = etl.write_parquet

    def spy(df, path, *args, **kwargs):
        call = {"path": path, "thread": threading.current_thread(), "done": False}
        calls.append(call)
        name = path.rsplit("/", 1)[-1].removesuffix(".parquet")
        if name != "ways":
            time.sleep(0.5 * WRITTEN.index(name))
        try:
            return inner(df, path, *args, **kwargs)
        finally:
            call["done"] = True

    monkeypatch.setattr(etl, "write_parquet", spy)
    spark.catalog.clearCache()
    with pytest.raises(Exception, match=r"(?s)Mkdirs failed to create \S*/ways\.parquet/"):
        etl.run_osm_etl(spark, str(src), str(out))
    assert sorted(c["path"] for c in calls) == sorted(f"{out}/{t}.parquet" for t in WRITTEN)
    assert [c for c in calls if not c["done"] or c["thread"].is_alive()] == []
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


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


def test_etl_parses_once(spark, tmp_path_factory, monkeypatch):
    """The check and the five writes run together over the persisted
    parse, yet each parse partition is parsed exactly once: a counting
    mapInPandas under the persisted relation adds one per partition
    it parses."""
    from open_street_map_data_wrangling_spark import etl
    from open_street_map_data_wrangling_spark.sources.osm_xml import TAGGED_SCHEMA

    base = tmp_path_factory.mktemp("etl_parse_once")
    src = base / "map.osm"
    src.write_text(_make_xml())
    parses = spark.sparkContext.accumulator(0)
    inner = etl.parse_osm_tagged

    def counted(batches):
        parses.add(1)
        yield from batches

    def parse(spark, path):
        return inner(spark, path).mapInPandas(counted, schema=TAGGED_SCHEMA)

    monkeypatch.setattr(etl, "parse_osm_tagged", parse)
    partitions = inner(spark, str(src)).rdd.getNumPartitions()
    spark.catalog.clearCache()
    report = etl.run_osm_etl(spark, str(src), str(base / "out"))
    assert report == ETL_REPORTS["extract"]
    assert parses.value == partitions


def test_etl_check_overlaps_writes(spark, tmp_path_factory, monkeypatch):
    """The check does not run ahead of the writes: it can wait for the
    first write to start and still finish with the pinned report."""
    from open_street_map_data_wrangling_spark import etl

    base = tmp_path_factory.mktemp("etl_overlap")
    src = base / "map.osm"
    src.write_text(_make_xml())
    writing = threading.Event()
    check, write = etl.check_parse, etl.write_parquet

    def late_check(tagged):
        assert writing.wait(timeout=30), "no write started while the check ran"
        return check(tagged)

    def spy(df, path, *args, **kwargs):
        writing.set()
        return write(df, path, *args, **kwargs)

    monkeypatch.setattr(etl, "check_parse", late_check)
    monkeypatch.setattr(etl, "write_parquet", spy)
    assert etl.run_osm_etl(spark, str(src), str(base / "out")) == ETL_REPORTS["extract"]


def test_etl_failed_check_waits_for_writes(spark, tmp_path_factory, monkeypatch):
    """A check that raises at once does not stop the writes: all five
    finish and their threads are gone before run_osm_etl re-raises the
    check's error, and nothing stays cached."""
    from open_street_map_data_wrangling_spark import etl

    base = tmp_path_factory.mktemp("etl_fail_check")
    src = base / "map.osm"
    src.write_text(_make_xml())
    out = base / "out"
    calls = []
    write = etl.write_parquet

    def broken_check(tagged):
        raise RuntimeError("check failed")

    def spy(df, path, *args, **kwargs):
        call = {"path": path, "thread": threading.current_thread(), "done": False}
        calls.append(call)
        write(df, path, *args, **kwargs)
        call["done"] = True

    monkeypatch.setattr(etl, "check_parse", broken_check)
    monkeypatch.setattr(etl, "write_parquet", spy)
    spark.catalog.clearCache()
    with pytest.raises(RuntimeError, match="check failed"):
        etl.run_osm_etl(spark, str(src), str(out))
    assert sorted(c["path"] for c in calls) == sorted(f"{out}/{t}.parquet" for t in WRITTEN)
    assert [c for c in calls if not c["done"] or c["thread"].is_alive()] == []
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
