"""SparkSession factory.

Reference lifecycle (SURVEY.md §3.1 EP1): single process, single
thread, `ET.iterparse` streaming scan. Engine equivalent: one
SparkSession whose defaults are chosen for the Catalyst/Tungsten
path — AQE on (runtime coalesce + skew-join split), Arrow on for
driver-side pandas conversions (every Python stage moves Arrow
batches, never pickled rows: the row seam `operators/scale.map_rows`
and the streaming jobs' `applyInPandasWithState`), UTC session
timezone (deterministic vs. the DuckDB oracle), and
`nanosAsLong` so the ns-precision `events.ts` fixture column loads
(Spark timestamps are µs — see sources/catalog.py).

At 100 TB these remain correct: AQE handles post-shuffle partition
sizing per stage, so one static `shuffle.partitions` value never has
to be "right" for every query; the broadcast threshold keeps
dimension joins shuffle-free.

Python workers run under the package's own daemon (`worker_daemon.py`,
set as `spark.python.daemon.module`). Before every task `pyspark.worker`
calls `importlib.invalidate_caches()`, and on CPython 3.11 each cached
`zipimporter` then re-reads its archive's whole central directory: 16
importers of `pyspark.zip` and the spark-core jar, ~0.1 s of CPU per
Python task (`mapInArrow`, `applyInPandasWithState`, UDF). The daemon drops the importers of
the archives it started with before each task, so none is re-read. The
daemon is started with `python -m`, so the package root is put on
`spark.executorEnv.PYTHONPATH`: workers find it whatever the caller's
cwd and PYTHONPATH.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from . import worker_daemon

# The directory holding the package, for the workers' PYTHONPATH.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# SQL (runtime-settable) conf applied both at build time and defensively
# onto externally provided sessions (the verify driver builds its own).
_RUNTIME_SQL_CONF: dict[str, str] = {
    # events.parquet stores TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long and convert exactly (catalog.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalesces by BYTES; a CPU-dense byte-light merge aggregate
    # (millions of compressed-long partial rows) collapses to one
    # task under the 1MB default floor — the skew soak measured
    # q_maxsim_batch's merge at 23.7 s in a single task on the Zipf
    # fixture, and 64KB restored 16-way parallelism (37.2 s -> 9.0 s
    # warm).  Lowering the floor only splits stages that would have
    # been merged below 1MB, so tiny stages gain sub-ms scheduling
    # overhead at worst (bench-validated: no regression).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64KB",
    # Join strategy: Spark defaults (prefer sort-merge; AQE SHJ
    # rewrite off).  The r16 global shuffled-hash preference was
    # REVERTED in r17: the rigorous interleaved control pair
    # (BENCH_CONTROL_r16_opt.json) measured it as a net regression —
    # 18 join-family queries 1.14-1.47x slower (q_training_corpus
    # +0.58s, q_tpch_q3 1.47x) despite the builder's smaller A/B
    # suggesting a win.  It also risks spilling hash builds on
    # large-large candidate-pair joins at 100 TB where SMJ's sort is
    # strictly safer.  If a specific operator provably wins under
    # SHJ, apply a SHUFFLE_HASH hint there with its own control
    # measurement, not a global default.
    "spark.sql.join.preferSortMergeJoin": "true",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "0",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def default_driver_memory() -> str:
    """The driver heap of every session the package builds:
    OSMDW_DRIVER_MEM, else 8g."""
    return os.environ.get("OSMDW_DRIVER_MEM", "8g")


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Best-effort apply of runtime-settable SQL conf to a session we
    did not build (e.g. the verify driver's). Never raises."""
    for k, v in _RUNTIME_SQL_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    return spark


def get_spark(
    app_name: str = "osmdw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    local[N] is a single JVM: `driver_memory` is the only memory knob.
    On a real cluster the same builder works — only master/memory conf
    change; nothing in the engine assumes local mode.

    Python workers start from `worker_daemon` (`spark.python.daemon.module`),
    which keeps CPython 3.11's per-task `invalidate_caches()` from
    re-reading `pyspark.zip` and the spark-core jar before every task.
    The package root is set as `spark.executorEnv.PYTHONPATH` (Spark
    puts its own zips before it and the process's PYTHONPATH after
    it), so the daemon module imports on workers started from any cwd.
    Both are static confs: they apply only when this call creates the
    SparkContext.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Shuffle partitions sized to cores for local runs; AQE coalesces
    # further down when maps are small, so oversizing is harmless.
    shuffle_partitions = shuffle_partitions or int(
        os.environ.get("OSMDW_SHUFFLE_PARTITIONS", cpus if cpus.isdigit() else "32")
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", driver_memory or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Split size, measured at sf0.1: finer splits (2m) LOSE to
        # the 128m default — task-launch overhead exceeds the scan win
        # on MB-scale files. The default is also what a TB-scale
        # deployment wants, so it stays.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # The generated-class cache defaults to 100 entries; a session
        # running the full headline suite compiles several hundred
        # WholeStageCodegen stages, so giant classes (q_repetition's
        # sorted-run fold takes multiple SECONDS to janino-compile)
        # get evicted between passes and recompiled per run — round 4
        # recorded 6.4 s for a 1.2 s query this way.  The cache holds
        # class references (driver-side KBs each); thousands of
        # entries are noise in driver memory at any deployment size.
        # Sized for headroom over the bench suite: 78 headline
        # queries x 2 passes + warmup overflowed the round-5 value of
        # 2000 (round 6 measured a diffuse +8% with the PQ fold
        # queries, the largest generated classes, +30%).  Static conf:
        # must be set at builder time, apply_runtime_conf cannot
        # rescue it on foreign sessions.
        .config("spark.sql.codegen.cache.maxEntries", "8000")
        .config("spark.python.daemon.module", worker_daemon.__name__)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in _RUNTIME_SQL_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_conf(spark)
