"""Spark's Python worker daemon, reading the start-up archives' zip
directories once per worker instead of once per task.

Before every task `pyspark.worker` calls `importlib.invalidate_caches()`
(`worker_util.setup_spark_files`). On CPython 3.11 every `zipimporter`
in `sys.path_importer_cache` then re-reads its archive's whole central
directory: one importer per imported package of `pyspark.zip`, plus the
spark-core jar Spark puts on the workers' PYTHONPATH, about 0.1 s of CPU
per task. The archives on `sys.path` when the daemon starts never change
under a running worker, so their importers are dropped before each task;
a later import rebuilds one from `zipimport._zip_directory_cache` without
reading the archive. Archives that `addPyFile` ships at run time are not
on that list and keep the stock invalidation.

`session.get_spark` sets `spark.python.daemon.module` to this module.
"""

import os
import sys
import zipimport

STARTUP_ARCHIVES = frozenset(p for p in sys.path if os.path.isfile(p))


def prune_startup_importers(archives=STARTUP_ARCHIVES):
    """Drop the cached zipimporters of `archives` from sys.path_importer_cache."""
    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive in archives:
            del sys.path_importer_cache[key]


def _pruned(main):
    def run(infile, outfile):
        prune_startup_importers()
        return main(infile, outfile)

    return run


if __name__ == "__main__":
    import importlib

    # pyspark.daemon binds its worker's `main` at import, taken from the
    # module Spark names in sys.argv[1] when it names one.
    name = sys.argv[1] if len(sys.argv) > 1 and sys.argv[1].startswith("pyspark") else "pyspark.worker"
    worker = importlib.import_module(name)
    worker.main = _pruned(worker.main)
    from pyspark import daemon

    daemon.manager()
