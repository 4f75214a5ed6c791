"""Job timeline of warm `etl.run_osm_etl` runs.

    python tools/etl_timeline.py [--runs N] [--seed S] [--cores C]

Writes the benchmark's OSM extract (`perfbench/gen.write_osm`, 2 500
nodes and 375 ways, as the `osm_etl` workload does) to a temporary
directory, runs `run_osm_etl` on it once to warm the session, then
N more times, each under its own job group.  For every timed run it
prints the run's wall time and one line per Spark job: its submit and
finish offsets in ms from the run's first job submission, and its
call site, all read from the status store.  A last line gives the
median wall time and the median offset of the last job's finish.
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from gen import write_osm  # noqa: E402

from open_street_map_data_wrangling_spark import etl  # noqa: E402
from open_street_map_data_wrangling_spark.session import get_spark  # noqa: E402


def _ms(opt) -> int | None:
    """A status-store `Option[Date]` as epoch ms."""
    return opt.get().getTime() if opt.isDefined() else None


def job_timeline(spark, group: str) -> list[tuple[int, int | None, int | None, str]]:
    """(job id, submitted, finished, call site) of every job in
    ``group``, times in epoch ms, ordered by submission."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    rows = []
    for j in sc.statusTracker().getJobIdsForGroup(group):
        data = store.job(j)
        site = re.sub(r"\S*/", "", data.name())  # file names without directories
        rows.append((j, _ms(data.submissionTime()), _ms(data.completionTime()), site))
    return sorted(rows, key=lambda r: (r[1] or 0, r[0]))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1502)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args(argv)

    spark = get_spark(
        "etl-timeline",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores,
        driver_memory="1g",
    )
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="etl_timeline_")
    try:
        xml = os.path.join(work, "extract.osm")
        write_osm(xml, args.seed, 2500, 375)
        print(f"extract: {os.path.getsize(xml)} bytes, seed {args.seed}, local[{args.cores}]")
        etl.run_osm_etl(spark, xml, os.path.join(work, "warm"))
        sc = spark.sparkContext
        walls, ends = [], []
        for run in range(args.runs):
            group = f"etl-timeline-{run}"
            out = os.path.join(work, f"out{run}")
            sc.setJobGroup(group, "etl timeline")
            t0 = time.perf_counter()
            try:
                etl.run_osm_etl(spark, xml, out)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            walls.append(time.perf_counter() - t0)
            shutil.rmtree(out, ignore_errors=True)
            jobs = job_timeline(spark, group)
            start = min(s for _, s, _, _ in jobs if s is not None)
            ends.append(max((f or start) - start for _, _, f, _ in jobs))
            print(f"run {run}: {walls[-1] * 1e3:.0f} ms wall, {len(jobs)} jobs")
            for j, sub, fin, site in jobs:
                sub, fin = ("?" if t is None else str(t - start) for t in (sub, fin))
                print(f"  job {j:>4}  {sub:>5} -> {fin:>5} ms  {site}")
        print(
            f"median over {args.runs} runs: wall {statistics.median(walls) * 1e3:.0f} ms, "
            f"last job finished at {statistics.median(ends):.0f} ms"
        )
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
