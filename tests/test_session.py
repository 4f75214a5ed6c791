"""The session's Python worker daemon (`worker_daemon`): tasks run under
it, the start-up archives are not re-read before each task, and the
daemon starts wherever the caller runs from."""

import importlib
import os
import subprocess
import sys
import textwrap
import uuid
import zipfile
import zipimport

from open_street_map_data_wrangling_spark import worker_daemon

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _one_value(spark, fn, ddl):
    """The single value `fn` yields for a one-row mapInArrow task."""
    return spark.range(1, numPartitions=1).mapInArrow(fn, ddl).collect()[0][0]


def test_prune_skips_archive_rereads(tmp_path, monkeypatch):
    pkg = f"zpkg_{uuid.uuid4().hex}"
    archive = str(tmp_path / "startup.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{pkg}/__init__.py", "")
        z.writestr(f"{pkg}/first.py", "VALUE = 1\n")
        z.writestr(f"{pkg}/second.py", "VALUE = 2\n")
    reads = []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(f"{pkg}.first").VALUE == 1
        reads.clear()
        importlib.invalidate_caches()
        assert len(reads) >= 1  # the stock per-task cost

        worker_daemon.prune_startup_importers(frozenset([archive]))
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []
        # A later import from the archive rebuilds its importer from
        # zipimport's directory cache without reading the archive.
        assert importlib.import_module(f"{pkg}.second").VALUE == 2
        assert reads == []
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == pkg]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


def test_python_tasks_run_under_the_package_daemon(spark):
    def main_module(batches):
        import sys

        import pyarrow as pa

        name = sys.modules["__main__"].__spec__.name
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"main": [name]})

    assert _one_value(spark, main_module, "main string") == worker_daemon.__name__


def test_added_py_file_still_imports(spark, tmp_path):
    name = f"added_{uuid.uuid4().hex}"
    archive = str(tmp_path / f"{name}.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(archive)

    def added_value(batches):
        import importlib

        import pyarrow as pa

        value = importlib.import_module(name).VALUE
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"value": [value]})

    assert _one_value(spark, added_value, "value long") == 42


def test_foreign_cwd_session_runs_python_tasks(tmp_path):
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from open_street_map_data_wrangling_spark.session import get_spark

        def identity(batches):
            yield from batches

        spark = get_spark("foreign-cwd", master="local[1]", shuffle_partitions=1, driver_memory="512m")
        spark.sparkContext.setLogLevel("ERROR")
        rows = spark.range(3, numPartitions=1).mapInArrow(identity, "id long").collect()
        print("ids", sorted(r.id for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ids [0, 1, 2]" in out.stdout
