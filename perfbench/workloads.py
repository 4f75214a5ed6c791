"""The two workloads: ``osm_etl`` and ``analytics``.

Each workload is driven by one closed-loop client (the next operation
starts when the previous one returns) and exposes:

* ``make_inputs(dir)``: write its seeded inputs;
* ``prepare()``: one warm-up pass whose results are checked for
  correctness, outside the timed region;
* ``cycle()``: one timed pass of its operation mix, returning ``Op``s;
* ``layers(passes)``: its per-layer metrics from traced passes.

Failed operations and failed correctness checks are counted in
``Checks``; neither aborts the run.
"""

from __future__ import annotations

import inspect
import os
import re
import shutil
import statistics
import sys
import traceback

import duckdb
import numpy as np

import gen
from spans import Op, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The package under test is imported from this checkout before
# verify_local, which puts a default checkout of its own first on
# sys.path; sys.path is restored after it.
sys.path.insert(0, ROOT)
import open_street_map_data_wrangling_spark.plans  # noqa: E402,F401

_path = list(sys.path)
sys.path.insert(0, os.path.join(ROOT, "tools"))
import verify_local  # noqa: E402  the repository's correctness gate

sys.path[:] = _path


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def oracle_connection(sf_dir: str):
    """DuckDB with a view per registry table present in ``sf_dir``."""
    from open_street_map_data_wrangling_spark.sources.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


class Collected:
    """A collected Spark result in the shape ``verify_local.compare``
    reads, so the comparison does not run the query a second time."""

    def __init__(self, df):
        self.columns = list(df.columns)
        self.dtypes = df.dtypes
        self.rows = df.collect()

    def collect(self) -> list:
        return self.rows


def oracle_errors(con, got: Collected, sql: str) -> list[str]:
    """``verify_local.compare`` of ``got`` against the oracle ``sql``:
    column names and types, row count, order-insensitive cells with
    float tolerance."""
    types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()}
    return verify_local.compare(got, con.sql(sql), types)


class Checks:
    """Attempted and failed operations of one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def op(self) -> None:
        self.attempted += 1

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)


class Context:
    def __init__(self, spark, tracer: Tracer, seed: int, work: str, smoke: bool, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.smoke = smoke
        self.cores = cores
        self.checks = Checks()
        self.log: list[Op] = []  # every operation run
        self.rng = np.random.default_rng([seed, 7])


class Workload:
    name = ""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer

    def sizes(self) -> dict:
        raise NotImplementedError

    def make_inputs(self, d: str) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        raise NotImplementedError

    def cycle(self) -> list[Op]:
        raise NotImplementedError

    def layers(self, passes: list[list[Op]]) -> dict[str, float]:
        return {}

    def _run(self, kind: str, fn) -> Op:
        """Time ``fn(op)`` as one operation; an exception fails it."""
        self.ctx.checks.op()
        with self.tracer.op(kind) as rec:
            try:
                rec.extra["result"] = fn(rec)
                rec.extra["ok"] = True
            except Exception:
                traceback.print_exc()
                rec.extra["ok"] = False
        self.ctx.log.append(rec)
        if not rec.extra["ok"]:
            self.ctx.checks.fail(f"{kind} raised")
        return rec


# ---------------------------------------------------------------------------
# osm_etl


class OsmEtl(Workload):
    """``etl.run_osm_etl`` over a generated extract, into a fresh
    output directory per run; every report is checked against the
    extract's ground truth."""

    name = "osm_etl"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        from open_street_map_data_wrangling_spark import etl

        self.etl = etl
        self.n_nodes, self.n_ways = (1800, 200) if ctx.smoke else (2500, 375)
        self._n = 0
        self._rec: Op | None = None

    def sizes(self) -> dict:
        return {"nodes": self.n_nodes, "ways": self.n_ways, "xml_bytes": self.xml_bytes}

    def make_inputs(self, d: str) -> None:
        os.makedirs(d, exist_ok=True)
        self.xml = os.path.join(d, "extract.osm")
        self.truth = gen.write_osm(self.xml, self.ctx.seed, self.n_nodes, self.n_ways)
        self.xml_bytes = os.path.getsize(self.xml)

    def _expected_report(self) -> list[str]:
        t = self.truth
        lines = [f"street-type variants flagged: {t['variants']}"]
        for ok in (True, False):
            n = t["valid_true" if ok else "valid_false"]
            if n:
                lines.append(f"nodes valid={ok}: {n}")
        for name in ("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes"):
            lines.append(f"wrote {name}: {t[name]} rows")
        return lines

    def _etl(self) -> tuple[Op, str]:
        self._n += 1
        out = os.path.join(self.ctx.work, "etl", f"out{self._n}")

        def run(rec: Op):
            self._rec = rec
            return self.etl.run_osm_etl(self.spark, self.xml, out)

        rec = self._run("run_osm_etl", run)
        if rec.extra["ok"]:
            report = [ln for ln in rec.extra["result"] if not ln.startswith("  ")]
            if sorted(report) != sorted(self._expected_report()):
                self.ctx.checks.fail(f"etl report {report} != ground truth")
            if self.tracer.active:
                rec.extra["files"] = sum(
                    f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
                )
        return rec, out

    def _check_parquet(self, out: str) -> None:
        """The cleaned street values read back from the written tables
        equal the ground truth's, row for row."""
        con = duckdb.connect()
        got = []
        for table in ("nodes_tags", "ways_tags"):
            got += [
                (table, int(i), v)
                for i, v in con.execute(
                    f"SELECT id, value FROM read_parquet('{out}/{table}.parquet/*.parquet') "
                    "WHERE type = 'addr' AND key = 'street'"
                ).fetchall()
            ]
        con.close()
        if sorted(got) != self.truth["streets"]:
            self.ctx.checks.fail("etl street values read back differ from ground truth")

    def prepare(self) -> None:
        rec, out = self._etl()
        if rec.extra["ok"]:
            self._check_parquet(out)
        shutil.rmtree(out, ignore_errors=True)

    def cycle(self) -> list[Op]:
        rec, out = self._etl()
        shutil.rmtree(out, ignore_errors=True)
        return [rec]

    def wrap_sinks(self) -> None:
        """Time the package's parquet sink inside the ETL as a phase."""
        inner = self.etl.write_parquet

        def write_parquet(*args, **kwargs):
            with self.tracer.phase(self._rec, "write"):
                return inner(*args, **kwargs)

        self.etl.write_parquet = write_parquet

    def layers(self, passes: list[list[Op]]) -> dict[str, float]:
        src, start = inspect.getsourcelines(self.etl.run_osm_etl)
        where = {}
        for i, line in enumerate(src):
            if ".collect()" in line:
                if "audit_street_types(" in line:
                    where[start + i] = "audit"
                elif "validate(" in line:
                    where[start + i] = "validate"

        def kind(job: dict) -> str:
            if job["phase"] == "write":
                return "write"
            m = re.search(r"etl\.py:(\d+)$", job.get("name") or "")
            return where.get(int(m.group(1)), "other") if m else "readback"

        per: dict[str, list[float]] = {}
        for ops in passes:
            for rec in ops:
                jobs = {k: [j for j in rec.jobs if kind(j) == k] for k in
                        ("audit", "validate", "write", "readback")}
                xml_jobs = [j for j in rec.jobs if kind(j) != "readback"]
                xml_stage_ids = {s for j in xml_jobs for s in j["stageIds"]}
                xml_stages = [rec.stages[s] for s in xml_stage_ids
                              if rec.stages[s]["status"] != "SKIPPED"]
                vals = {
                    "sources.osm_xml.scan_amplification":
                        sum(s["inputBytes"] for s in xml_stages) / self.xml_bytes,
                    "sources.osm_xml.parse_cpu_s": rec.worker_cpu_s,
                    "sources.osm_xml.parse_tasks":
                        sum(s["numTasks"] for s in xml_stages if s["inputBytes"] > 0),
                    "etl.jobs": len(rec.jobs),
                    "etl.audit_s": sum(j["wall_s"] for j in jobs["audit"]),
                    "etl.validate_s": sum(j["wall_s"] for j in jobs["validate"]),
                    "etl.readback_s": sum(j["wall_s"] for j in jobs["readback"]),
                    "sources.sinks.write_s": rec.phase_s.get("write", 0.0),
                    "sources.sinks.bytes_written": rec.totals(jobs["write"])["output_bytes"],
                    "sources.sinks.files_written": rec.extra.get("files", 0),
                }
                for k, v in vals.items():
                    per.setdefault(k, []).append(v)
        return {k: median(v) for k, v in per.items()}


# ---------------------------------------------------------------------------
# analytics

# query -> group (report: Catalyst-bound; curation: driver-bound plan
# builds; kernels: executor-bound).  One query per operator module in
# MODULES, so each module's layer numbers come from this pass; within a
# module the query with the cheapest cold run and oracle, so that the
# runs a measurement campaign makes fit its time budget.
ANALYTICS_QUERIES = {
    "q_top_users": "report",
    "q_fuzzy_street": "report",
    "q_tpch_q3": "report",
    "q_sessionize": "report",
    "q_moving_avg": "report",
    "q_split": "report",
    "q_dedup_exact": "report",
    "q_vec_topk": "report",
    "q_pagerank": "curation",
    "q_bpe_merges": "curation",
    "q_datasheet": "curation",
    "q_video_sample": "kernels",
}
GROUPS = ("report", "curation", "kernels")
MODULES = (
    "relational", "cleaning", "tpch", "windows", "streaming_batch", "dedup",
    "curation", "pipeline_ops", "graph", "bpe", "multimodal", "similarity",
)


class Analytics(Workload):
    """Registry queries over generated tables, in a seed-shuffled order
    per pass, each materialized through the ``noop`` sink."""

    name = "analytics"

    def __init__(self, ctx: Context):
        super().__init__(ctx)
        from open_street_map_data_wrangling_spark.operators import index_cache
        from open_street_map_data_wrangling_spark.plans import load_all_queries

        self.index_cache = index_cache
        self.specs = {n: load_all_queries()[n] for n in ANALYTICS_QUERIES}
        self.sf = 0.001
        self._rec: Op | None = None

    def sizes(self) -> dict:
        return {"sf": self.sf, "queries": len(self.specs), **self.rows}

    def make_inputs(self, d: str) -> None:
        self.sf_dir = d
        self.rows = gen.write_tables(d, self.ctx.seed, self.sf)

    def _order(self) -> list[str]:
        return [str(n) for n in self.ctx.rng.permutation(sorted(self.specs))]

    def prepare(self) -> None:
        """Warm-up pass: collect every query once and compare it with
        its DuckDB oracle (the comparison is not timed)."""
        results = {}
        for name in self._order():
            spec = self.specs[name]

            def run(rec: Op, spec=spec):
                self._rec = rec
                return Collected(spec.spark(self.spark, self.sf_dir))

            rec = self._run(name, run)
            if rec.extra["ok"]:
                results[name] = rec.extra["result"]
        con = oracle_connection(self.sf_dir)
        try:
            for name, got in results.items():
                errs = oracle_errors(con, got, self.specs[name].oracle)
                if errs:
                    self.ctx.checks.fail(f"{name}: {'; '.join(errs)}")
        finally:
            con.close()

    def cycle(self) -> list[Op]:
        ops = []
        for name in self._order():
            spec = self.specs[name]

            def run(rec: Op, spec=spec):
                self._rec = rec
                with self.tracer.phase(rec, "build"):
                    df = spec.spark(self.spark, self.sf_dir)
                with self.tracer.phase(rec, "run"):
                    df.write.format("noop").mode("overwrite").save()

            ops.append(self._run(name, run))
        return ops

    def wrap_index_cache(self) -> None:
        """Count index-cache lookups and the builds they trigger."""
        inner = self.index_cache.cached

        def cached(kind, sf_dir, tables, modules, build_fn, extra=""):
            rec = self._rec
            rec.extra["cache_calls"] = rec.extra.get("cache_calls", 0) + 1

            def build(path):
                rec.extra["cache_builds"] = rec.extra.get("cache_builds", 0) + 1
                return build_fn(path)

            return inner(kind, sf_dir, tables, modules, build, extra)

        self.index_cache.cached = cached

    def layers(self, passes: list[list[Op]]) -> dict[str, float]:
        per: dict[str, list[float]] = {}
        for ops in passes:
            vals: dict[str, float] = {}

            def add(key: str, v: float) -> None:
                vals[key] = vals.get(key, 0.0) + v

            for rec in ops:
                group = ANALYTICS_QUERIES[rec.kind]
                module = self.specs[rec.kind].spark.__module__.rsplit(".", 1)[1]
                build_jobs = [j for j in rec.jobs if j["phase"] == "build"]
                run_s = rec.totals()["executor_run_s"]
                add(f"plans.{group}.build_s", rec.phase_s.get("build", 0.0))
                add(f"plans.{group}.build_jobs", len(build_jobs))
                add(f"plans.{group}.wall_s", rec.wall_s)
                add(f"operators.{module}.wall_s", rec.wall_s)
                add(f"operators.{module}.build_s", rec.phase_s.get("build", 0.0))
                add(f"operators.{module}.jobs", len(rec.jobs))
                add(f"operators.{module}.executor_run_s", run_s)
                add("operators.index_cache.calls", rec.extra.get("cache_calls", 0))
                add("operators.index_cache.builds", rec.extra.get("cache_builds", 0))
            for g in GROUPS:
                wall = vals.pop(f"plans.{g}.wall_s", 0.0)
                vals[f"plans.{g}.build_share"] = vals.get(f"plans.{g}.build_s", 0.0) / wall
            for m in MODULES:
                run_s = vals.pop(f"operators.{m}.executor_run_s", 0.0)
                wall = vals.get(f"operators.{m}.wall_s", 0.0)
                vals[f"operators.{m}.busy_fraction"] = run_s / (wall * self.ctx.cores)
            for k, v in vals.items():
                per.setdefault(k, []).append(v)
        return {k: median(v) for k, v in per.items()}


WORKLOADS = {w.name: w for w in (OsmEtl, Analytics)}
