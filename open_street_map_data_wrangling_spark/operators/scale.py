"""Scale patterns — the 100 TB levers as reusable operators.

These are not fixture queries; they are the building blocks the
SURVEY.md §4.3 posture names for surviving scale-up, packaged so any
query in the inventory can adopt them:

* salted aggregation — two-phase groupBy for skewed keys (a hot key's
  rows split across `n_salts` partial groups, then recombined; the
  shuffle never concentrates a hot key on one task)
* salted skew join — explode the small side per salt so a skewed fact
  key joins against n copies, spreading its rows over n tasks
* driver-side fixpoints — the one size decision (collect_if_small)
  that lets an iterative operator solve a tiny relation on the driver
  and return it as an Arrow local frame (local_frame), while larger
  relations keep the Spark round loop
* the Spark round loop — spark_rounds, the one loop the seven
  fixpoints (connected components, the greedy dedup chain, the
  frontier BFS, PageRank, label propagation, k-core, BPE training)
  run their rounds through: AQE off, a shuffle width taken from a
  materialized relation, a lazy cut per round, and one log record of
  the rounds run and whether they converged
* the Python row seam — map_rows, the one way the package runs Python
  over executor rows: one ``mapInArrow`` pass that hands a per-row
  generator Python values and types its output from a DDL (the OSM
  parse, the multimodal stages and the compression signal)

tests/test_scale_patterns.py proves each pattern equivalent to its
naive form, and additionally demonstrates (with plan assertions)
dynamic partition pruning and bucketed shuffle-free joins on written
layouts — the two write-time levers sources/sinks.py exposes.
"""

from __future__ import annotations

import logging
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..sources.catalog import load_table

_log = logging.getLogger(__name__)

# Row bound under which an iterated relation (BPE word types, PageRank
# pairs) is solved on the driver instead of by the Spark round loop —
# the autoBroadcastJoinThreshold idea applied to fixpoints, chosen
# from the observed input size alone.  Set at or below the measured
# driver/Spark crossover (CHANGES.md); a negative bound, as with
# autoBroadcastJoinThreshold, disables the driver path.
DRIVER_SOLVE_BOUND = 10_000


def collect_if_small(df: DataFrame, what: str) -> list[Row] | None:
    """The rows of ``df`` when it has at most DRIVER_SOLVE_BOUND of
    them, else None.  One early-stopping ``limit(bound + 1)`` job —
    so ``df`` must be a plain scan or a checkpoint, or above the bound
    the caller's Spark path recomputes what the probe already read.
    Logs one record per decision: the path taken and the probed row
    count (capped at bound + 1)."""
    bound = DRIVER_SOLVE_BOUND
    rows = df.limit(bound + 1).collect()
    small = len(rows) <= bound
    _log.info(
        "%s: %s path (probed %d rows, bound %d)",
        what,
        "driver" if small else "spark",
        len(rows),
        bound,
    )
    return rows if small else None


def arrow_table(rows, schema):
    """``rows`` (tuples in ``schema`` column order) as one Arrow table
    of ``schema``, an Arrow schema typed from a DDL
    (``to_arrow_schema(StructType.fromDDL(ddl))``, parsed on the
    driver).  Each column is built at its own type, so a NULL next to
    an exact 64-bit int never detours through float64, and no rows
    give an empty, typed table.  Needs no session: Arrow workers on
    the executors use it too."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


def map_rows(
    df: DataFrame,
    in_cols: Sequence[str],
    rows_fn: Callable[..., Iterator[tuple]],
    ddl: str,
) -> DataFrame:
    """``rows_fn`` over the ``in_cols`` of every row of ``df``: the one
    way the package runs Python over executor rows.  One
    ``mapInArrow`` pass that keeps ``df``'s partitioning (it adds no
    exchange), in Arrow batches of
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows.

    ``rows_fn`` gets each input row as Python values read straight from
    the Arrow batch (None for NULL; a nullable bigint never passes
    through float64) and yields any number of output tuples in ``ddl``
    column order, so each stage keeps its own null rule and row
    explosion.  Each output batch is typed from ``ddl``, parsed once on
    the driver, by arrow_table."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def worker(batches):
        for batch in batches:
            ins = [batch.column(c).to_pylist() for c in in_cols]
            out = [row for args in zip(*ins) for row in rows_fn(*args)]
            yield from arrow_table(out, schema).to_batches()

    worker.__name__ = rows_fn.__name__
    return df.select(*in_cols).mapInArrow(worker, schema=ddl)


def local_frame(spark: SparkSession, rows, ddl: str) -> DataFrame:
    """A DataFrame of driver-built ``rows`` (tuples in ``ddl`` column
    order), shipped as one Arrow table typed from ``ddl``: no pickled
    RDD and no job to materialize it."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    schema = to_arrow_schema(StructType.fromDDL(ddl))
    return spark.createDataFrame(arrow_table(rows, schema))


def spark_rounds(
    init: DataFrame,
    step: Callable[[DataFrame], DataFrame | None],
    *,
    width_of: DataFrame,
    max_rounds: int,
    what: str,
) -> tuple[DataFrame, bool]:
    """The Spark round loop of every fixpoint: ``state = init``, then
    up to ``max_rounds`` times ``nxt = step(state)``, where None means
    converged and anything else becomes the next state, cut with a
    lazy ``localCheckpoint``.  Returns ``(state, converged)`` and logs
    one record: the round count, whether the loop converged, and the
    width.  The stop and fail rules stay in ``step`` and its caller.

    The rounds run with AQE off and the shuffle width set to the
    partition count of ``width_of``, a materialized relation the
    rounds join against (floored at 1: an empty one has none); both
    confs are restored verbatim on exit.  With AQE on, even a lazy
    checkpoint submits each exchange as its own query-stage job while
    the round is planned (q_multimodal_dedup once ran 121 jobs, ~9 per
    round); with it off, a round compiles to a plain plan that runs
    inside the next action, and the lazy cut keeps each round's plan
    flat.  The rounds join on unique node ids and aggregate map-side,
    so AQE's skew split has nothing to split here.  ``init`` is used
    as given, not cut: a lazy cut outside this scope would plan with
    AQE on."""
    conf = init.sparkSession.conf
    width = max(1, width_of.rdd.getNumPartitions())
    aqe_before = conf.get("spark.sql.adaptive.enabled", "true")
    width_before = conf.get("spark.sql.shuffle.partitions", "200")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", str(width))
    state, rounds, converged = init, 0, False
    try:
        while rounds < max_rounds:
            nxt = step(state)
            if nxt is None:
                converged = True
                break
            state = nxt.localCheckpoint(eager=False)
            rounds += 1
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe_before)
        conf.set("spark.sql.shuffle.partitions", width_before)
    _log.info(
        "%s: spark path (%d rounds, %s, width %d)",
        what,
        rounds,
        "converged" if converged else "round budget spent",
        width,
    )
    return state, converged


def salted_count(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Two-phase count per key. Phase 1 groups on (key, salt) —
    partial counts spread a hot key over n_salts reducers; phase 2
    recombines per key. Identical result to groupBy(key).count() for
    any input; strictly more shuffle rows (n_salts per key), which is
    the price of flattening the skew."""
    salt = (F.rand(seed=42) * n_salts).cast("int").alias("__salt")
    partial = df.select(F.col(key), salt).groupBy(key, "__salt").agg(
        F.count("*").alias("__partial")
    )
    return partial.groupBy(key).agg(F.sum("__partial").alias("cnt"))


def salted_join(
    fact: DataFrame, dim: DataFrame, key: str, n_salts: int = 8
) -> DataFrame:
    """Skew-resistant equi-join: fact rows get a random salt; the dim
    side is exploded once per salt value, so a hot fact key's rows
    land on n_salts different tasks instead of one. Equivalent to
    fact.join(dim, key) for any input. AQE's skew-join split covers
    moderate skew automatically; explicit salting is for the
    pathological keys AQE cannot subdivide (a single key larger than
    a task)."""
    fact_s = fact.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    return fact_s.join(dim_s, [key, "__salt"]).drop("__salt")


@query(
    "q_salted_join",
    oracle="""
        SELECT c_mktsegment, count(*) AS n_events,
               round(sum(value), 2) AS sum_value,
               count(DISTINCT user_id) AS n_users
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY c_mktsegment
    """,
    tags=("scale", "join", "skew"),
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The salted skew join wired into a real query: events (fact,
    skewed user_id) joined to customer (dim) through salted_join, then
    aggregated per market segment. The oracle is the PLAIN join — the
    salt must be semantically invisible, which is exactly what this
    row hash-verifies. At 100 TB the fact side's hot user spreads over
    n_salts tasks instead of stalling one reducer; the dim side pays
    an n_salts× row duplication, fine for dimension-sized tables."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(events, customer, "user_id", n_salts=8)
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def plain_join_twin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_salted_join WITHOUT the salt — the events⋈customer aggregate
    as a plain equi-join, relying on AQE's skew-join split instead of
    explicit salting.  Not registered (its SQL twin IS q_salted_join's
    oracle); bench.py times it against the salted form every round so
    the salting overhead at fixture scale (the dim side's n_salts× row
    duplication) stays measured, not assumed — the AQE-mechanism demo
    in tests/test_scale_patterns.py proves the split fires, this row
    tracks what it costs to opt out of it."""
    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return events.join(customer, "user_id").groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


def explain_string(df: DataFrame, mode: str = "formatted") -> str:
    """The explain text as a string (plan-assertion helper)."""
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


@query(
    "q_skew_stats",
    oracle="""
        WITH c AS (
            SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        top10 AS (
            SELECT cnt FROM c ORDER BY cnt DESC, user_id ASC LIMIT 10),
        tot AS (
            SELECT CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(sum(cnt) AS BIGINT) AS n_rows,
                   CAST(max(cnt) AS BIGINT) AS max_key_rows
            FROM c)
        SELECT n_rows, n_keys, max_key_rows,
               CAST(n_rows // n_keys AS BIGINT) AS avg_key_rows,
               CAST(10000 * max_key_rows // n_rows AS BIGINT) AS top1_x10k,
               CAST((SELECT sum(cnt) FROM top10) AS BIGINT) AS top10_rows,
               CAST(10000 * (SELECT sum(cnt) FROM top10) // n_rows
                    AS BIGINT) AS top10_x10k
        FROM tot
    """,
    tags=("scale", "skew", "diagnostics"),
)
def q_skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostics — the measurement you run BEFORE choosing
    a skew mitigation (salt? AQE skew-join? broadcast?): per-key row
    counts reduced to max / average / top-1 and top-10 concentration
    shares. One map-side-partial groupBy on the key, then a 10-row
    TakeOrderedAndProject and a scalar aggregate — nothing larger
    than the distinct-key table ever moves. Reading the output:
    top1_x10k >> 10000/n_keys means a hot key; if top10_x10k is a
    large fraction of 10000, salting the top-k keys specifically
    (not all keys) is the cheapest fix."""
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("user_id").agg(F.count("*").alias("cnt"))
    tot = c.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_key_rows"),
    )
    top10 = (
        c.orderBy(F.desc("cnt"), F.asc("user_id"))
        .limit(10)
        .agg(F.sum("cnt").alias("top10_rows"))
    )
    return (
        tot.crossJoin(F.broadcast(top10))
        .select(
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("n_keys").cast("bigint").alias("n_keys"),
            F.col("max_key_rows").cast("bigint").alias("max_key_rows"),
            F.expr("CAST(n_rows div n_keys AS BIGINT)").alias("avg_key_rows"),
            F.expr("CAST(10000 * max_key_rows div n_rows AS BIGINT)").alias("top1_x10k"),
            F.col("top10_rows").cast("bigint").alias("top10_rows"),
            F.expr("CAST(10000 * top10_rows div n_rows AS BIGINT)").alias("top10_x10k"),
        )
    )
