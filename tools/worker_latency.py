"""Start cost of a Python-worker task on a `get_spark` session.

    python tools/worker_latency.py [--runs N] [--cores C]

Times a one-row `mapInArrow(identity).collect()` against the JVM-only
`collect()` of the same one-partition range, each warmed once and then
run N times, and prints both medians in ms.  It also prints how many
zipimporters of start-up archives (the zip and jar files on the
worker's `sys.path`: `pyspark.zip`, `py4j-*.zip`, the spark-core jar)
the worker's `sys.path_importer_cache` holds when the task's function
starts: each one re-reads its archive's central directory at the next
task's `importlib.invalidate_caches()` on CPython 3.11.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from open_street_map_data_wrangling_spark.session import get_spark  # noqa: E402


def _identity(batches):
    yield from batches


def _startup_importers(batches):
    """One row per batch: the start-up archives' cached zipimporters."""
    import zipimport

    import pyarrow as pa

    archives = {p for p in sys.path if os.path.isfile(p)}
    held = sum(
        isinstance(f, zipimport.zipimporter) and f.archive in archives
        for f in list(sys.path_importer_cache.values())
    )
    for _ in batches:
        yield pa.RecordBatch.from_pydict({"importers": [held], "archives": [len(archives)]})


def _median_ms(action, runs: int) -> float:
    action()
    times = []
    for _ in range(runs):
        t0 = time.perf_counter()
        action()
        times.append((time.perf_counter() - t0) * 1000)
    return statistics.median(times)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=15)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)

    spark = get_spark(
        "worker-latency",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        driver_memory="1g",
    )
    spark.sparkContext.setLogLevel("ERROR")
    one = spark.range(1, numPartitions=1)
    python_ms = _median_ms(one.mapInArrow(_identity, one.schema).collect, args.runs)
    jvm_ms = _median_ms(one.collect, args.runs)
    probe = one.mapInArrow(_startup_importers, "importers long, archives long")
    probe.collect()  # a warm worker, as in the timed runs
    row = probe.collect()[0]
    print(f"daemon module: {spark.conf.get('spark.python.daemon.module', 'pyspark.daemon')}")
    print(f"one-row mapInArrow collect: median {python_ms:.0f} ms over {args.runs} warm runs")
    print(f"JVM-only collect:           median {jvm_ms:.0f} ms over {args.runs} warm runs")
    print(f"start-up archives on the worker's sys.path: {row.archives}")
    print(f"their zipimporters cached at task start: {row.importers}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
