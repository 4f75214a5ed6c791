"""Benchmark entry point.

    python3 perfbench/run.py --workload {osm_etl,analytics} \
        --seed N --seconds S --trace {0,1} [--smoke]

Runs one workload in one process on ``local[nproc]``: starts the
session, generates the seeded inputs (three times; the median counts
as set-up), prepares and warms up, then drives the closed loop for
``--seconds``.  The last line of standard output is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced loop (run after an untraced one of the same length) with
``--trace 1``.  The line before it records the run's environment and
details.  Everything the run writes lives under
``.perfbench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import spans
import workloads  # puts the checkout's package first on sys.path

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "open_street_map_data_wrangling_spark"
SETUP_ROUNDS = 3
DRIVER_MEMORY = "1g"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_geomean_s": "s",
    "pass_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "sources.osm_xml.scan_amplification": "ratio",
    "sources.osm_xml.parse_cpu_s": "s",
    "sources.osm_xml.parse_tasks": "count",
    "etl.jobs": "count",
    "etl.audit_s": "s",
    "etl.validate_s": "s",
    "etl.readback_s": "s",
    "sources.sinks.write_s": "s",
    "sources.sinks.bytes_written": "bytes",
    "sources.sinks.files_written": "count",
    **{
        f"plans.{g}.{m}": u
        for g in ("report", "curation", "kernels")
        for m, u in (("build_s", "s"), ("build_jobs", "count"), ("build_share", "ratio"))
    },
    **{
        f"operators.{mod}.{m}": u
        for mod in workloads.MODULES
        for m, u in (("wall_s", "s"), ("build_s", "s"), ("jobs", "count"),
                     ("busy_fraction", "ratio"))
    },
    "operators.index_cache.calls": "count",
    "operators.index_cache.builds": "count",
    **{
        f"spark.{m}": u
        for m, u in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                     ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("jvm_gc_s", "s"),
                     ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
                     ("spill_bytes", "bytes"), ("busy_fraction", "ratio"))
    },
    "trace.overhead_s": "s",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=tuple(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for a quick check")
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every file the engine, Spark or the JVM writes under
    ``work``, and let the Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable  # workers run this interpreter
    # every JVM, the spark-submit launcher included: no hsperfdata
    # files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join((
        "--conf", f"spark.local.dir={work}/spark",
        "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
        # local mode: bind to the loopback whatever the host name
        # resolves to
        "--conf", "spark.driver.bindAddress=127.0.0.1",
        "--conf", "spark.driver.host=127.0.0.1",
        # traced runs read job and stage records back after each
        # operation; keep enough of them
        "--conf", "spark.ui.retainedJobs=20000",
        "--conf", "spark.ui.retainedStages=20000",
        "pyspark-shell",
    ))


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(procs, timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while procs.children() and time.monotonic() < deadline:
        time.sleep(0.1)


def environment(args) -> dict:
    import pyspark

    commit = "unknown"
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            commit = out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    digest = hashlib.sha256()
    for d, _, files in sorted(os.walk(os.path.join(ROOT, PACKAGE))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "spark": pyspark.__version__, "python": platform.python_version(),
        "commit": commit, "package_sha256": digest.hexdigest()[:16],
    }


def unstolen(fn):
    """Run ``fn``; return its result and its wall time less the
    hypervisor's share (spans.steal_share)."""
    h0, t0 = spans.host_ticks(), time.perf_counter()
    out = fn()
    return out, (time.perf_counter() - t0) * (1.0 - spans.steal_share(h0, spans.host_ticks()))


def tail(xs: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 20:
        return None
    beyond = max(10, n // 100)
    q = round(100 * (n - beyond) / n)
    return {"percentile": q, "value": sorted(xs)[n - beyond - 1], "samples": n}


def measure(wl, seconds: float) -> list:
    """Closed loop: the whole passes that fit in ``seconds``, judged by
    the last pass's length, and at least one."""
    passes = []
    t0 = last = time.perf_counter()
    while not passes or 2 * time.perf_counter() - last - t0 <= seconds:
        last = time.perf_counter()
        passes.append(wl.cycle())
    return passes


def spark_layers(passes: list, cores: int) -> dict[str, float]:
    per: dict[str, list[float]] = {}
    for ops in passes:
        tot: dict[str, float] = {}
        for rec in ops:
            for k, v in rec.totals().items():
                tot[k] = tot.get(k, 0) + v
        wall = sum(r.wall_s for r in ops)
        tot["busy_fraction"] = tot["executor_run_s"] / (wall * cores)
        for k, v in tot.items():
            per.setdefault(f"spark.{k}", []).append(v)
    return {k: statistics.median(v) for k, v in per.items()}


def run(args, work: str) -> tuple[dict, dict]:
    from open_street_map_data_wrangling_spark.session import get_spark

    info = environment(args)
    cores = info["nproc"]
    with spans.ProcWatch() as procs:
        spark, session_s = unstolen(
            # shuffle partitions sized to the cores, as get_spark does
            # for local runs
            lambda: get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
                              driver_memory=DRIVER_MEMORY)
        )
        try:
            tracer = spans.Tracer(spark, procs, enabled=bool(args.trace))
            ctx = workloads.Context(spark, tracer, args.seed, work, args.smoke, cores)
            wl = workloads.WORKLOADS[args.workload](ctx)
            gen_s = []
            for r in range(SETUP_ROUNDS):
                d = os.path.join(work, f"inputs{r}")
                gen_s.append(unstolen(lambda: wl.make_inputs(d))[1])
                if r:
                    shutil.rmtree(os.path.join(work, f"inputs{r - 1}"))
            if args.trace:
                for hook in ("wrap_sinks", "wrap_index_cache"):
                    getattr(wl, hook, lambda: None)()
            tracer.active = bool(args.trace)
            t0 = time.perf_counter()
            wl.prepare()
            prepare_s = time.perf_counter() - t0
            warm_ops = list(ctx.log)
            warm_s = sum(rec.unstolen_s for rec in warm_ops)  # checks are not set-up
            tracer.active = False
            passes = measure(wl, args.seconds)
            traced = []
            if args.trace:
                tracer.active = True
                traced = measure(wl, args.seconds)
                tracer.active = False
            layers = (
                {"session.start_s": session_s, **wl.layers(traced),
                 **spark_layers(traced, cores)} if args.trace else {}
            )
        finally:
            stop_session(spark)
            wait_children(procs)
    walls = [r.unstolen_s for ops in passes for r in ops]
    pass_s = [sum(r.unstolen_s for r in ops) for ops in passes]
    setup_s = session_s + statistics.median(gen_s) + warm_s
    metrics = {
        "setup_s": setup_s,
        "peak_rss_mb": procs.peak_bytes / 2**20,
        "op_geomean_s": math.exp(statistics.fmean(math.log(x) for x in walls)),
        "pass_s": statistics.median(pass_s),
    }
    if args.trace:
        traced_pass_s = statistics.median(sum(r.unstolen_s for r in ops) for ops in traced)
        layers["trace.overhead_s"] = traced_pass_s - metrics["pass_s"]
        metrics = {k: layers.get(k, 0) for k in PER_LAYER}
    info.update({
        "sizes": wl.sizes(),
        "setup": {"session_s": session_s, "inputs_s": gen_s, "warm_s": warm_s,
                  "prepare_s": prepare_s,
                  "warm_ops": [(r.kind, r.wall_s, r.steal) for r in warm_ops]},
        "passes": len(passes), "ops": len(walls), "op_tail_s": tail(walls),
        "pass_wall_s": [sum(r.wall_s for r in ops) for ops in passes],
        "pass_steal": [sum(r.steal * r.wall_s for r in ops) / sum(r.wall_s for r in ops)
                       for ops in passes],
        "ops_by_kind": {k: statistics.median(r.unstolen_s for ops in passes for r in ops
                                             if r.kind == k)
                        for k in sorted({r.kind for ops in passes for r in ops})},
    })
    checks = ctx.checks
    info["failed_ratio"] = checks.failed / max(checks.attempted, 1)
    units = PER_LAYER if args.trace else END_TO_END
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return info, result


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    isolate(work)
    try:
        info, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
