"""Content-tagged build cache for persisted serving artifacts
(VERDICT r12 #6).

The served-index queries (q_rrf_served, q_*_batch*, q_ivfpq_serve,
q_tombstone_served, the standing gates) are HERMETIC by design: each
builds its artifacts from the fixture corpus before serving, so the
driver can verify any one of them in isolation.  But the builds are
pure functions of (input data, builder code, build parameters) — and
the bench/driver/pytest loop re-ran every one of them on every call,
~15-20 s of repeated identical builds per bench pass at sf0.1.

``cached`` keeps the hermetic contract while skipping byte-identical
rebuilds: the artifact lives under a temp dir whose name embeds a
token hashed from

* the SOURCE of every module the build depends on (whole-module
  hashing on purpose: a missed helper edit must invalidate, because a
  stale index built by old code would silently diverge from the
  current oracle — the correctness gate is the thing being protected),
* a (name, size, mtime_ns) signature of every input table's files
  (regenerated fixtures invalidate even at the same path), and
* an ``extra`` discriminator for build parameters (meta columns,
  purge composition, ...).

A ``_built_<token>`` marker INSIDE the dir commits the build: written
only after the build function returns, invisible to parquet readers
(underscore prefix), and because the token is also in the DIR NAME a
code/data change can never alias onto a stale dir — it lands in a
fresh one.  Builds are CRASH- and RACE-safe via build-then-rename
(r14 advice #2): the artifact is built into a per-process temp path
(pid + random suffix), the marker is written there, and the results
are ``os.rename``d into place — atomic syscalls on the same
filesystem, so concurrent first-builders can never interleave writes
into the published path; the rename loser discards its copy and reads
the winner's.  Build functions may create SIBLING artifacts at
``{path}<suffix>`` (the family-registry edge side-store pattern,
``{store}_edges``); the publish step renames every prefixed sibling
first and the marker-carrying main dir LAST, so a crash mid-publish
still leaves no marked-but-incomplete artifact set, and the next call
rebuilds (sweeping any stale unmarked leftovers aside).  Mutating
consumers (the tombstone query purges its stores) get their own token
via ``extra`` so shared read-only artifacts are never poisoned;
re-running a cached build+purge composition is idempotent by those
purges' contracts.
"""

from __future__ import annotations

import atexit
import hashlib
import inspect
import logging
import os
import shutil
import tempfile
import uuid
from typing import Callable, Iterable

from ..sources.catalog import listing_sig, local_fs_path

_log = logging.getLogger(__name__)


def _input_sig(sf_dir: str, tables: Iterable[str]) -> str:
    """(name, size, mtime_ns) of every file under each input table's
    parquet path — cheap (os.stat only) and regeneration-sensitive;
    ``{table}:absent`` for a table with no file behind it."""
    parts = []
    for t in tables:
        sig = listing_sig(os.path.join(sf_dir, f"{t}.parquet"))
        parts.append(f"{t}:absent" if sig is None else f"{t}={sig!r}")
    return ";".join(parts)


def _rm_prefixed(parent: str, prefix: str) -> None:
    """Remove every entry under ``parent`` whose name starts with
    ``prefix`` — the main artifact dir plus any sibling artifacts a
    build function created next to it (``{path}_edges`` etc.)."""
    try:
        entries = os.listdir(parent)
    except OSError:
        return
    for e in entries:
        if e.startswith(prefix):
            shutil.rmtree(os.path.join(parent, e), ignore_errors=True)


def _modules_sig(modules: Iterable) -> str:
    """Concatenated source of the builder-owning modules — the
    conservative invalidation key (any edit anywhere in the module
    rebuilds; correctness beats cache hits)."""
    return "".join(inspect.getsource(m) for m in modules)


def cached(
    kind: str,
    sf_dir: str,
    tables: tuple[str, ...],
    modules: tuple,
    build_fn: Callable[[str], None],
    extra: str = "",
) -> str:
    """Return the path of the ``kind`` artifact for ``sf_dir``,
    building it via ``build_fn(path)`` only when no current-token
    build exists.  See the module docstring for the token contract.
    Logs one record per call: a hit, a build, or an ephemeral build
    (an input without files, or an aborted publish), with ``kind``
    and the token."""
    parent = tempfile.gettempdir()

    def ephemeral(why: str) -> str:
        # Build into a unique dir, never reused, and register it (plus
        # any sibling artifacts sharing its prefix) for atexit cleanup.
        _log.info("index cache %s: ephemeral build (%s)", kind, why)
        base = f"osm_spark_idx_{kind}_ephemeral_{uuid.uuid4().hex[:16]}"
        path = os.path.join(parent, base)
        atexit.register(_rm_prefixed, parent, base)
        build_fn(path)
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "_built_ephemeral"), "w"):
            pass
        return path

    input_sig = _input_sig(sf_dir, tables)
    if ":absent" in input_sig:
        # An input table has no file behind it — the pytest
        # monkeypatch pattern (load_table patched to a synthetic
        # DataFrame, sf_dir a placeholder).  The content token
        # cannot see THAT data, so two tests patching different
        # frames would alias onto one artifact; build ephemerally
        # every call, so monkeypatch-heavy test runs don't leak one
        # dir per call.  Real corpora always have files, so
        # production caching is unaffected.
        return ephemeral("an input has no file")

    token = hashlib.md5(
        (
            _modules_sig(modules)
            + "|"
            + input_sig
            + "|"
            + extra
            + "|"
            + os.path.abspath(sf_dir)
        ).encode()
    ).hexdigest()[:16]
    final_base = f"osm_spark_idx_{kind}_{token}"
    path = os.path.join(parent, final_base)
    marker = os.path.join(path, f"_built_{token}")
    if os.path.exists(marker):
        _log.info("index cache %s: hit (token %s)", kind, token)
        return path
    # Build under a per-process temp prefix, mark the main dir, then
    # publish with atomic renames — siblings first, the
    # marker-carrying main dir LAST, so the marker's existence always
    # implies the complete artifact set.  Concurrent first-builders
    # each build their own copy and exactly one publish wins; a loser
    # (rename raises because the target exists non-empty) discards
    # its copy and reads the winner's — the builds are pure functions
    # of the token, so the copies are interchangeable.
    tmp_base = f"{final_base}.build.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    tmp = os.path.join(parent, tmp_base)
    try:
        build_fn(tmp)
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, f"_built_{token}"), "w"):
            pass
        suffixes = sorted(
            e[len(tmp_base):]
            for e in os.listdir(parent)
            if e.startswith(tmp_base) and e != tmp_base
        )
        aborted = False
        for suffix in suffixes + [""]:
            src = tmp + suffix
            dst = path + suffix
            if os.path.exists(marker):
                break  # a concurrent winner published a complete set
            try:
                os.rename(src, dst)
            except OSError:
                # ``dst`` is occupied: either a stale unmarked
                # leftover (pre-publish crash) or a concurrent
                # winner's piece.  Re-check the marker FIRST: if it
                # appeared between the loop-top check and the rename,
                # the occupant belongs to a winner's COMPLETE set —
                # adopt it untouched (swapping it aside would delete
                # a published artifact out from under a reader that
                # already passed its marker check).
                if os.path.exists(marker):
                    break
                stale = f"{dst}.stale.{uuid.uuid4().hex[:8]}"
                try:
                    os.rename(dst, stale)
                    shutil.rmtree(stale, ignore_errors=True)
                    os.rename(src, dst)
                except OSError:
                    # Second loss.  If a winner repopulated ``dst``
                    # the published set stays complete (our copies
                    # are interchangeable) and the next iteration's
                    # marker check decides; if ``dst`` is ABSENT we
                    # swapped a sibling aside and could not replace
                    # it — publishing the marker now would certify an
                    # incomplete set, so abort the publish entirely.
                    if not os.path.exists(dst):
                        aborted = True
                        break
        if aborted:
            # The shared location is in a raced, unmarked state this
            # process cannot repair without deleting a concurrent
            # winner's work.  Serve THIS call from a private
            # ephemeral build (the ``:absent`` discipline); the next
            # call finds either a winner's marker or rebuilds and
            # publishes cleanly.
            return ephemeral(f"token {token} publish aborted")
    finally:
        _rm_prefixed(parent, tmp_base)
    _log.info("index cache %s: build (token %s)", kind, token)
    return path


def read_small_parquet(spark, path: str, schema_ddl: str, columns):
    """Driver-side read of a TINY serving-artifact parquet (index
    seeds, 1-row stats, request-sized probe lists — relations bounded
    by the request or the model, never by the corpus).

    r17 (guide §1.2, job-count): the serve paths previously paid one
    whole Spark job (scan + collect) per such read, and the job-count
    profile shows the slow serve queries are job-overhead-bound at
    bench scale (PERF_r16: 8 cores ~= 32).  pyarrow reads the same
    bytes on the driver with no job at all, cast to ``schema_ddl`` so
    both paths return the same types.  It is used only when the path
    resolves to the local filesystem: a schemeless path under a
    remote ``fs.defaultFS`` names a remote store, and reading a
    same-named driver-local file instead would succeed wrongly; the
    rule is ``sources.catalog.local_fs_path``, the one the schema memo
    (``catalog.read_parquet``) uses too.  Anything else, and any
    pyarrow failure (missing path, empty dir, schema drift), reads
    through Spark, so error semantics and remote-store support are
    Spark's.  Returns a list of dict rows either way.
    """
    cols = list(columns)
    local = local_fs_path(spark, path)
    if local is not None:
        try:
            import pyarrow as pa
            import pyarrow.parquet as _pq
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            want = to_arrow_schema(StructType.fromDDL(schema_ddl))
            return (
                _pq.read_table(local, columns=cols)
                .cast(pa.schema([want.field(c) for c in cols]))
                .to_pylist()
            )
        except Exception:
            pass
    return [
        r.asDict()
        for r in spark.read.schema(schema_ddl).parquet(path).collect()
    ]
