"""Reachability guard: no package definition lives only for its tests.

Every top-level function or class in the package that is not a
``@query`` registration must be named somewhere in non-test code
outside its own definition: the package itself, ``__spark_entry__.py``,
``bench.py``, ``tools/`` or ``perfbench/``.  The check is textual — a
word-boundary match over code, comments and function docstrings;
module docstrings are skipped, since they list a module's API rather
than use it — so it errs toward keeping: a definition it flags is
certainly not called.  A definition kept on purpose although nothing
calls it goes in ``KEPT`` with the reason.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "open_street_map_data_wrangling_spark"
_WORD = re.compile(r"\w+")

_PARITY = "paper parity: a parse/load/report step of the reference (PARITY.md, COVERAGE.md S2-S5)"
_DEPLOY = "streaming deployment API; tests/test_streaming.py soak tests drive it"
_REFERENCE = "reference implementation the tests compare the engine against"

KEPT = {
    # paper parity
    "write_csv": _PARITY,
    "write_json": _PARITY,
    "write_sqlite": _PARITY,
    "write_osm_sample": _PARITY,
    "generate_report": _PARITY,
    "parse_osm_xml": _PARITY,
    "OsmXmlDataSource": (
        "the OSM parser as a registered Spark read format, "
        "spark.dataSource.register(OsmXmlDataSource) (PARITY.md)"
    ),
    # streaming deployment API
    "signup_purchase_correlation": _DEPLOY,
    "asof_enriched_purchases": _DEPLOY,
    "quality_gated_ingest": _DEPLOY,
    "incremental_hourly_rollup": _DEPLOY,
    "hll_sketch_maintenance": _DEPLOY,
    "cms_counter_maintenance": _DEPLOY,
    "embedding_drift_maintenance": _DEPLOY,
    "text_index_maintenance": _DEPLOY,
    "hardneg_cells_maintenance": _DEPLOY,
    "span_gram_maintenance": _DEPLOY,
    "winnow_print_maintenance": _DEPLOY,
    "contamination_bands_maintenance": _DEPLOY,
    "image_prints_maintenance": _DEPLOY,
    "bm25_index_maintenance": _DEPLOY,
    "gram_novelty_maintenance": _DEPLOY,
    "source_overlap_maintenance": _DEPLOY,
    "family_registry_purge_maintenance": _DEPLOY,
    "purge_text_index": _DEPLOY,
    "purge_image_prints": _DEPLOY,
    "purge_contamination_bands": _DEPLOY,
    "purge_geo_index": _DEPLOY,
    # references the tests compare against
    "py_xxh64_long": _REFERENCE,
    "partsupp_sql_cte": _REFERENCE,
    "pq_assignment_error": _REFERENCE,
    "ivfpq_code_table": _REFERENCE,
    "explain_string": "plan-assertion helper of the scale-pattern plan tests",
    # layout and scale primitives pinned by property tests
    "with_zvalue": (
        "2-D Morton clustering primitive the skipping tests lay their "
        "fixture out with; q_zorder shares its zvalue_sql"
    ),
    "salted_count": (
        "two-phase salted aggregation, the aggregate half of the salting "
        "pattern q_salted_join uses; pinned against groupBy().count()"
    ),
}


def _is_query(node) -> bool:
    for d in node.decorator_list:
        f = d.func if isinstance(d, ast.Call) else d
        if getattr(f, "id", None) == "query" or getattr(f, "attr", None) == "query":
            return True
    return False


def _definitions():
    """(module path, name, first line, last line) of every top-level
    non-query function or class in the package."""
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and not _is_query(node):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                yield path, node.name, first, node.end_lineno


def _without_module_docstring(src: str) -> str:
    """``src`` with its module docstring blanked (line numbers kept):
    a module docstring catalogues the module's API, it calls nothing."""
    body = ast.parse(src).body
    if not (body and isinstance(body[0], ast.Expr) and isinstance(
        getattr(body[0], "value", None), ast.Constant
    ) and isinstance(body[0].value.value, str)):
        return src
    lines = src.splitlines()
    doc = body[0]
    lines[doc.lineno - 1 : doc.end_lineno] = [""] * (doc.end_lineno - doc.lineno + 1)
    return "\n".join(lines)


def _unreached() -> dict[str, str]:
    """name -> module of every definition no non-test code names."""
    sources = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    sources += sorted(PKG.rglob("*.py"))
    sources += sorted((ROOT / "tools").glob("*.py"))
    sources += sorted((ROOT / "perfbench").glob("*.py"))
    lines = {p: _without_module_docstring(p.read_text()).splitlines() for p in sources}
    words = {p: Counter(_WORD.findall("\n".join(ls))) for p, ls in lines.items()}
    everywhere = sum(words.values(), Counter())
    out = {}
    for path, name, first, last in _definitions():
        own = Counter(_WORD.findall("\n".join(lines[path][first - 1 : last])))
        if everywhere[name] - own[name] <= 0:
            out[name] = str(path.relative_to(ROOT))
    return out


def test_every_definition_is_reached_or_kept():
    dead = {n: m for n, m in _unreached().items() if n not in KEPT}
    assert not dead, (
        "definitions only tests reach; delete them with their tests, or "
        f"add them to KEPT with a reason: {dead}"
    )


def test_kept_names_are_live_and_needed():
    defined = {name for _, name, _, _ in _definitions()}
    assert set(KEPT) <= defined, f"KEPT names no longer defined: {set(KEPT) - defined}"
    stale = set(KEPT) - set(_unreached())
    assert not stale, f"KEPT names now reached from non-test code; drop them: {stale}"
