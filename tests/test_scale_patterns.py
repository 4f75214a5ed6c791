"""Scale-pattern proofs (SURVEY.md §4.3): each 100 TB lever is shown
(a) result-equivalent to its naive form and (b) — where it is a plan
property — visible in the physical plan."""

import ast
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from open_street_map_data_wrangling_spark.operators.scale import (
    explain_string,
    salted_count,
    salted_join,
)
from open_street_map_data_wrangling_spark.sources.catalog import load_table


def _sorted(df):
    return sorted(map(tuple, df.collect()))


def test_salted_count_equivalent(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    naive = events.groupBy("event_type").agg(F.count("*").alias("cnt"))
    assert _sorted(salted_count(events, "event_type")) == _sorted(naive)


def test_salted_join_equivalent(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    naive = orders.join(customer, "c_custkey").groupBy("c_mktsegment").count()
    got = salted_join(orders, customer, "c_custkey").groupBy("c_mktsegment").count()
    assert _sorted(got) == _sorted(naive)


def test_dynamic_partition_pruning_in_plan(spark, sf_dir, tmp_path):
    """A date-partitioned layout + a selective dim filter must produce
    a dynamicpruning partition filter on the fact scan — the write-
    time lever that turns full scans into partition scans at 100 TB."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "orders_part")
    orders.write.partitionBy("o_month").mode("overwrite").parquet(path)

    dim_path = str(tmp_path / "months_dim")
    orders.groupBy("o_month").count().write.mode("overwrite").parquet(dim_path)

    spark.read.parquet(path).createOrReplaceTempView("dpp_fact")
    spark.read.parquet(dim_path).createOrReplaceTempView("dpp_dim")
    joined = spark.sql(
        """
        SELECT f.o_month, count(*) AS n
        FROM dpp_fact f JOIN dpp_dim d ON f.o_month = d.o_month
        WHERE d.count > 10
        GROUP BY f.o_month
        """
    )
    plan = explain_string(joined)
    lower = plan.lower()
    assert "dynamicpruning" in lower
    # the pruning subquery must reach the fact SCAN as a partition
    # filter (not just appear somewhere in the plan): the scan line
    # carries PartitionFilters: [..dynamicpruning..]
    scan_lines = [
        ln for ln in lower.splitlines()
        if "partitionfilters" in ln and "dynamicpruning" in ln
    ]
    assert scan_lines, "no scan carries a dynamicpruning PartitionFilter"
    assert joined.count() > 0


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with
    zero Exchange operators — the bucketing lever sinks.write_table
    exposes."""
    # warehouse dir is a static conf; tables land in ./spark-warehouse
    # (gitignored) and are dropped in the finally block
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        orders = load_table(spark, sf_dir, "orders")
        customer = load_table(spark, sf_dir, "customer")
        orders.write.bucketBy(4, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).saveAsTable("orders_b")
        customer.write.bucketBy(4, "c_custkey").sortBy("c_custkey").mode(
            "overwrite"
        ).saveAsTable("customer_b")
        joined = spark.table("orders_b").join(
            spark.table("customer_b"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = explain_string(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join should not shuffle"
        n = joined.count()
        assert n == orders.join(customer, orders.o_custkey == customer.c_custkey).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_broadcast_threshold_flips_join_strategy(spark, sf_dir):
    """Join strategy is config-sensitive, not hardcoded: with
    broadcasting disabled the un-hinted orders⋈customer join must plan
    as SortMergeJoin; with defaults it broadcasts. (The engine's
    explicit F.broadcast hints are for dimensions that must never
    shuffle; everything else stays Catalyst's choice.)"""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(customer, orders.o_custkey == customer.c_custkey)

    plan_default = explain_string(joined)
    assert "BroadcastHashJoin" in plan_default

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan_smj = explain_string(
            orders.join(customer, orders.o_custkey == customer.c_custkey)
        )
        assert "SortMergeJoin" in plan_smj or "ShuffledHashJoin" in plan_smj
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_analyze_table_feeds_cbo(spark, sf_dir):
    """ANALYZE TABLE statistics reach the optimizer: after COMPUTE
    STATISTICS the plan's cost view carries real rowCount — what CBO
    join reordering consumes at scale."""
    load_table(spark, sf_dir, "nation").write.mode("overwrite").saveAsTable(
        "nation_stats_test"
    )
    old_cbo = spark.conf.get("spark.sql.cbo.enabled")
    try:
        spark.sql("ANALYZE TABLE nation_stats_test COMPUTE STATISTICS")
        desc = {
            r.col_name: r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED nation_stats_test").collect()
        }
        assert "25 rows" in desc.get("Statistics", "")
        # with CBO on, the cost view consumes the rowCount
        spark.conf.set("spark.sql.cbo.enabled", "true")
        cost = explain_string(spark.table("nation_stats_test"), mode="cost")
        assert "rowCount=25" in cost.replace(" ", "")
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old_cbo)
        spark.sql("DROP TABLE IF EXISTS nation_stats_test")


def test_runtime_bloom_filter_injection(spark, sf_dir):
    """Runtime bloom-filter join pruning: with a selective filter on
    the build side of a shuffle join, Spark injects bloom_filter_agg
    (creation side) / might_contain (application side) so the fact
    scan discards non-joining rows BEFORE the shuffle — at 100 TB this
    is the difference between shuffling the whole fact table and
    shuffling the ~join-selectivity fraction of it. Thresholds are
    lowered because the default application-side floor is 10 GB."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt or "might_contain" in opt
        phys = explain_string(j)
        assert "might_contain" in phys.lower() or "bloom" in phys.lower()
        # and the filtered join still computes the right answer
        rows = j.collect()
        assert len(rows) == 1 and rows[0]["n"] > 0
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_dynamic_partition_overwrite_backfill(spark, sf_dir, tmp_path):
    """Idempotent backfill: with partitionOverwriteMode=dynamic,
    rewriting ONE date partition replaces only that partition —
    the property that makes per-day reprocessing safe at 100 TB
    (static mode would truncate the whole table)."""
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    path = str(tmp_path / "events_by_type")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        events.write.partitionBy("event_type").mode("overwrite").parquet(path)
        before = spark.read.parquet(path)
        n_total = before.count()
        n_click = before.filter("event_type = 'click'").count()
        # backfill: rewrite ONLY the click partition with halved values
        patched = (
            events.filter("event_type = 'click'")
            .withColumn("value", F.col("value") / 2)
        )
        patched.write.partitionBy("event_type").mode("overwrite").parquet(path)
        after = spark.read.parquet(path)
        assert after.count() == n_total  # other partitions intact
        assert after.filter("event_type = 'click'").count() == n_click
        got = after.filter("event_type = 'click'").agg(F.sum("value")).first()[0]
        want = patched.agg(F.sum("value")).first()[0]
        assert abs(got - want) < 1e-6
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    """Small-file compaction: a fragmented write (many tasks x tiny
    files) compacts to one file per partition-slot via repartition —
    the maintenance op that keeps 100 TB scans from dying on file
    metadata overhead."""
    import os

    frag = str(tmp_path / "fragmented")
    comp = str(tmp_path / "compacted")
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    events.repartition(16).write.mode("overwrite").parquet(frag)
    n_frag = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_frag >= 16
    spark.read.parquet(frag).repartition(2).write.mode("overwrite").parquet(comp)
    n_comp = len([f for f in os.listdir(comp) if f.endswith(".parquet")])
    assert n_comp == 2
    assert spark.read.parquet(comp).count() == events.count()


def test_schema_evolution_mergeschema_read(spark, tmp_path):
    """Schema evolution: a corpus written over time gains columns
    (quality scores, new metadata). mergeSchema must union the file
    schemas — old files surface NULL for the new column, filters on
    the new column still push down, and writes never rewrite history.
    The 100 TB relevance: evolution must be a metadata operation, not
    a table rewrite."""
    d = str(tmp_path / "evolving")
    spark.createDataFrame(
        [(1, "old doc")], "doc_id long, text string"
    ).write.mode("append").parquet(d)
    spark.createDataFrame(
        [(2, "new doc", 0.9)], "doc_id long, text string, quality double"
    ).write.mode("append").parquet(d)

    merged = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(merged.columns) == {"doc_id", "text", "quality"}
    rows = {r["doc_id"]: r["quality"] for r in merged.collect()}
    assert rows == {1: None, 2: 0.9}
    # predicate on the evolved column: old files are pruned by the
    # reader (NULL never satisfies >), new files filter normally
    assert merged.filter(F.col("quality") > 0.5).count() == 1
    plan = merged.filter(F.col("quality") > 0.5)._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "quality" in plan


def test_aqe_splits_skewed_join_partitions(spark, tmp_path):
    """AQE skew-join handling, demonstrated rather than just enabled:
    a join keyed on a pathologically hot key must show skew=true
    (runtime partition splitting) in the post-execution adaptive
    plan once broadcast is off and the skew thresholds are scaled to
    fixture bytes. This is the no-code-change half of the skew story
    (operators/scale.py's salting is the manual half for aggregates
    and pre-AQE engines)."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        # coalescing merges away the small partitions the skew
        # detector medians against; 8 shuffle partitions give the
        # detector a real distribution at fixture bytes
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k) for k in confs}
    left_dir = str(tmp_path / "left")
    right_dir = str(tmp_path / "right")
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # 8 mapper files explicitly: AQE can only split a skewed
        # reduce partition at MAPPER boundaries, so the split
        # granularity must not depend on the test host's core count
        spark.range(500_000).selectExpr(
            "CAST(0 AS BIGINT) AS k", "id AS payload"
        ).union(
            spark.range(1_000).selectExpr("id % 100 + 1 AS k", "id AS payload")
        ).repartition(8).write.mode("overwrite").parquet(left_dir)
        spark.range(101).selectExpr("id AS k", "id * 2 AS attr").write.mode(
            "overwrite"
        ).parquet(right_dir)
        # global aggregate downstream: a groupBy on the JOIN KEY would
        # require the join's hash partitioning and AQE would refuse to
        # split the skewed partition (splitting breaks the required
        # distribution) — the realistic shape is a join feeding
        # non-keyed or differently-keyed work
        df = (
            spark.read.parquet(left_dir)
            .join(spark.read.parquet(right_dir), "k")
            .agg(F.count("*").alias("n"), F.sum("attr").alias("s"))
        )
        row = df.collect()[0]
        assert row["n"] == 501_000
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_collect_if_small_logs_each_path_decision(spark, caplog, monkeypatch):
    """collect_if_small returns the rows at or under the bound and None
    above it, logging one record per decision with the path taken and
    the probed row count."""
    from open_street_map_data_wrangling_spark.operators import scale

    caplog.set_level("INFO", logger=scale.__name__)
    monkeypatch.setattr(scale, "DRIVER_SOLVE_BOUND", 3)
    assert [r.id for r in scale.collect_if_small(spark.range(3), "three")] == [
        0, 1, 2,
    ]
    assert scale.collect_if_small(spark.range(10), "ten") is None
    assert [
        (r.name, r.levelname, r.getMessage()) for r in caplog.records
    ] == [
        (scale.__name__, "INFO", "three: driver path (probed 3 rows, bound 3)"),
        (scale.__name__, "INFO", "ten: spark path (probed 4 rows, bound 3)"),
    ]


class _AutoWidthConf:
    """``spark.conf`` as on a platform that accepts a non-numeric
    ``spark.sql.shuffle.partitions`` (``auto``): such a value is kept
    here instead of being passed to Spark, which only takes ints."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, real, width):
        self._real, self.width = real, width

    def get(self, key, *default):
        if key == self.KEY and self.width is not None:
            return self.width
        return self._real.get(key, *default)

    def set(self, key, value):
        if key == self.KEY:
            self.width = None if str(value).isdigit() else str(value)
            if self.width is not None:
                return
        self._real.set(key, value)

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_spark_rounds_keeps_non_numeric_width(spark, monkeypatch):
    """With the configured width ``auto``, the round loops neither
    crash nor replace the string, which is restored on exit: a
    PageRank above the driver bound and connected components."""
    from open_street_map_data_wrangling_spark.operators import graph, scale
    from open_street_map_data_wrangling_spark.operators.dedup import (
        connected_components,
    )

    key = _AutoWidthConf.KEY
    before = spark.conf.get(key)
    conf = _AutoWidthConf(spark.conf, "auto")
    monkeypatch.setattr(spark, "conf", conf)
    monkeypatch.setattr(scale, "DRIVER_SOLVE_BOUND", -1)
    try:
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1), (4, 5)], "doc_a long, doc_b long"
        )
        ranks = graph.pagerank_fixed(pairs).collect()
        assert sorted(r.doc_id for r in ranks) == [1, 2, 3, 4, 5]
        assert conf.get(key) == "auto"
        edges = pairs.toDF("a", "b")
        nodes = spark.createDataFrame([(i,) for i in range(1, 7)], "n long")
        got = {r.n: r.cluster_id for r in connected_components(edges, nodes).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}
        assert conf.get(key) == "auto"
    finally:
        conf._real.set(key, before)


def test_spark_rounds_scope_stop_and_log(spark, caplog):
    """spark_rounds runs its rounds with AQE off at the floored width
    of ``width_of``, stops on None or at the round budget, restores
    both confs also when a round raises, and logs one record per loop."""
    from open_street_map_data_wrangling_spark.operators import scale

    caplog.set_level("INFO", logger=scale.__name__)
    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    before = [spark.conf.get(k) for k in keys]
    seen = []

    def step(df):
        seen.append([spark.conf.get(k) for k in keys])
        n = df.count()
        return None if n >= 3 else df.union(spark.range(n, n + 1))

    sc = spark.sparkContext
    empty = spark.createDataFrame(sc.emptyRDD(), "id bigint")
    three = spark.createDataFrame(sc.parallelize([(0,), (1,)], 3), "id bigint")
    assert empty.rdd.getNumPartitions() == 0
    out, converged = scale.spark_rounds(
        spark.range(1), step, width_of=empty, max_rounds=5, what="grow"
    )
    assert (sorted(r.id for r in out.collect()), converged) == ([0, 1, 2], True)
    assert seen == [["false", "1"]] * 3
    out, converged = scale.spark_rounds(
        spark.range(1), step, width_of=three, max_rounds=1, what="short",
    )
    assert (out.count(), converged) == (2, False)

    def boom(df):
        raise ValueError("round failed")

    with pytest.raises(ValueError, match="round failed"):
        scale.spark_rounds(
            spark.range(1), boom, width_of=empty, max_rounds=2, what="boom"
        )
    assert [spark.conf.get(k) for k in keys] == before
    assert [r.getMessage() for r in caplog.records] == [
        "grow: spark path (2 rounds, converged, width 1)",
        "short: spark path (1 rounds, round budget spent, width 3)",
    ]


def test_load_table_keeps_the_round_loop_conf(spark, sf_dir):
    """A table load on another thread while a spark_rounds step runs
    (the greedy chain inside a streaming foreachBatch) writes no
    session conf, so AQE stays off inside the loop."""
    import threading

    from open_street_map_data_wrangling_spark.operators import scale
    from open_street_map_data_wrangling_spark.sources.catalog import load_table

    key = "spark.sql.adaptive.enabled"
    seen = []

    def step(df):
        loader = threading.Thread(target=load_table, args=(spark, sf_dir, "nation"))
        loader.start()
        loader.join(timeout=60)
        assert not loader.is_alive()
        seen.append(spark.conf.get(key))
        return None

    scale.spark_rounds(
        spark.range(1), step, width_of=spark.range(1), max_rounds=1, what="load"
    )
    assert seen == ["false"]
    assert spark.conf.get(key) == "true"


# Round-loop guard: every Spark fixpoint runs its rounds through
# scale.spark_rounds.  A loop outside it whose body cuts a relation or
# runs a Spark action is a hand-rolled round loop.
# A loop kept on purpose goes in ROUND_LOOPS_KEPT, keyed by its
# innermost enclosing function, with the reason it stays.

PKG = Path(__file__).resolve().parents[1] / "open_street_map_data_wrangling_spark"
# method -> its argument count as a Spark call (None: any); the counts
# keep str.count(sub) and list.count(x) out
_ROUND_CALLS = {
    "localCheckpoint": None,
    "head": None,
    "count": 0,
    "collect": 0,
    "first": 0,
    "isEmpty": 0,
}
ROUND_LOOPS_KEPT = {
    "spark_rounds": "the one round loop itself",
    "_gate": "per-wave ledger writes of the source quota gate, not a fixpoint",
    "train_codebook": "Lloyd rounds over centroids collected to the driver",
    "family_registry_compact": "one commit per store, not a fixpoint",
}


def _round_loops() -> set[tuple[str, int, str, str]]:
    """(file, loop line, innermost function, call) of every ``for`` or
    ``while`` loop in the package whose body makes a _ROUND_CALLS call."""
    found = set()

    def visit(node, fn, rel):
        loop = isinstance(node, (ast.For, ast.AsyncFor, ast.While))
        for part in node.body if loop else ():
            for c in ast.walk(part):
                if not (
                    isinstance(c, ast.Call)
                    and isinstance(c.func, ast.Attribute)
                    and c.func.attr in _ROUND_CALLS
                ):
                    continue
                nargs = len(c.args) + len(c.keywords)
                if _ROUND_CALLS[c.func.attr] in (None, nargs):
                    found.add((rel, node.lineno, fn, c.func.attr))
        for child in ast.iter_child_nodes(node):
            inner = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            visit(child, child.name if inner else fn, rel)

    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        visit(ast.parse(path.read_text()), "<module>", rel)
    return found


def test_no_hand_rolled_round_loops():
    """No loop outside scale.spark_rounds cuts a relation or runs a
    Spark action each iteration, apart from the kept ones; and every
    kept entry still names such a loop."""
    loops = _round_loops()
    hand_rolled = sorted(f for f in loops if f[2] not in ROUND_LOOPS_KEPT)
    assert not hand_rolled, (
        "loops that cut or run an action per iteration; move their rounds "
        f"onto scale.spark_rounds or keep them with a reason: {hand_rolled}"
    )
    assert set(ROUND_LOOPS_KEPT) == {f[2] for f in loops}


def test_local_frame_types_rows_from_ddl(spark):
    """local_frame types the Arrow table from the DDL — empty input
    included — and round-trips the rows."""
    from open_street_map_data_wrangling_spark.operators.scale import local_frame

    ddl = "step int, tok string, n bigint"
    df = local_frame(spark, [(1, "a 😀", 2**40), (2, None, -1)], ddl)
    assert df.dtypes == [("step", "int"), ("tok", "string"), ("n", "bigint")]
    assert [tuple(r) for r in df.collect()] == [
        (1, "a 😀", 2**40),
        (2, None, -1),
    ]
    empty = local_frame(spark, [], ddl)
    assert empty.dtypes == df.dtypes and empty.collect() == []
