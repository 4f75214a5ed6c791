"""One way to run Python over executor rows.

Every package stage that runs Python over rows goes through the row
seam, ``map_rows`` in operators/scale.py: one ``mapInArrow`` pass that
hands a per-row generator Python values and types its output from a
DDL.  These guards walk the package's syntax trees: a ``mapInPandas``
or ``mapInArrow`` call in any other function fails, and so does a
pandas import outside streaming/jobs.py, whose two
``applyInPandasWithState`` calls (a different API, not matched here)
take pandas frames.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "open_street_map_data_wrangling_spark"
SEAM = "operators/scale.py:map_rows"
WORKER_CALLS = {"mapInPandas", "mapInArrow"}
PANDAS_USERS = {"streaming/jobs.py"}


def _owned_nodes(path: Path):
    """(owner, node) for every syntax node of the file, the owner being
    its enclosing top-level definition (``Class.method`` inside a
    class) or ``<module>``."""
    rel = path.relative_to(PKG).as_posix()
    for top in ast.parse(path.read_text()).body:
        if isinstance(top, ast.ClassDef):
            owned = [(f"{top.name}.{getattr(s, 'name', '<body>')}", s) for s in top.body]
        else:
            owned = [(getattr(top, "name", "<module>"), top)]
        for name, node in owned:
            for sub in ast.walk(node):
                yield f"{rel}:{name}", sub


def _package_nodes():
    for path in sorted(PKG.rglob("*.py")):
        yield path, _owned_nodes(path)


def test_only_the_seam_starts_python_workers():
    callers = sorted(
        {
            f"{owner} calls {node.func.attr}"
            for _, nodes in _package_nodes()
            for owner, node in nodes
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in WORKER_CALLS
        }
    )
    assert callers == [f"{SEAM} calls mapInArrow"], (
        "run Python over rows through scale.map_rows, not a second "
        f"worker protocol: {callers}"
    )


def test_pandas_is_imported_only_by_the_streaming_state_jobs():
    importers = set()
    for path, nodes in _package_nodes():
        for _, node in nodes:
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module or ""]
            else:
                continue
            if any(m == "pandas" or m.startswith("pandas.") for m in mods):
                importers.add(path.relative_to(PKG).as_posix())
    assert importers == PANDAS_USERS
