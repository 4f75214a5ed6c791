"""QUERIES.md must stay in sync with the registry — a generated doc
that drifts is worse than none."""

import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_queries_md_matches_registry(tmp_path):
    current = (ROOT / "QUERIES.md").read_text()
    # regenerate into a scratch copy by running the tool with a
    # temporary HOME-side file: the tool writes next to the repo, so
    # instead regenerate for real and compare against git if changed
    out = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "gen_inventory.py")],
        capture_output=True,
        text=True,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-500:]
    regenerated = (ROOT / "QUERIES.md").read_text()
    assert regenerated == current, (
        "QUERIES.md is stale — run tools/gen_inventory.py and commit"
    )


def test_coverage_md_totals_match_registry():
    """COVERAGE.md's hand-maintained totals line drifted in r14
    (VERDICT r14 'what's wrong' #1) — derive the expected numbers
    from the registry so it can never drift silently again."""
    import re

    sys.path.insert(0, str(ROOT))
    from open_street_map_data_wrangling_spark.plans import (
        load_all_queries,
    )

    qs = load_all_queries()
    n_total = len(qs)
    n_rows_only = sum(1 for s in qs.values() if s.oracle is None)
    n_oracle = n_total - n_rows_only
    text = (ROOT / "COVERAGE.md").read_text()
    m = re.search(
        r"Totals \(r\d+\): (\d+) `queries\(\)` entries — (\d+) "
        r"oracle-checked, (\d+) rows-only",
        text,
    )
    assert m, "COVERAGE.md totals line missing or reformatted"
    assert (int(m.group(1)), int(m.group(2)), int(m.group(3))) == (
        n_total,
        n_oracle,
        n_rows_only,
    ), (
        f"COVERAGE.md totals stale: says {m.groups()}, registry has "
        f"({n_total}, {n_oracle}, {n_rows_only})"
    )


def test_bench_gate_flags_regressions_and_passes_noise():
    """tools/bench_gate.py turns the per-query bench map into
    enforcement (r15 verdict #8): a >1.5x regression on a
    non-trivial query fails, sub-floor jitter and new/removed
    queries never do."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_gate", str(ROOT / "tools" / "bench_gate.py")
    )
    bg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bg)

    base = {"queries": {"q_a": 1.0, "q_b": 0.05, "q_gone": 0.5}}
    cur = {"queries": {"q_a": 1.6, "q_b": 0.09, "q_new": 2.0}}
    fails, notes = bg.gate(cur, base)
    assert len(fails) == 1 and fails[0].startswith("q_a:")
    assert any("q_new" in n for n in notes)
    assert any("q_gone" in n for n in notes)
    # within threshold -> clean pass
    ok, _ = bg.gate({"queries": {"q_a": 1.4}}, {"queries": {"q_a": 1.0}})
    assert ok == []
    # the real artifact resolves a previous committed map (or is the
    # first of its kind) without raising
    import json

    with open(ROOT / "BENCH_FULL_LATEST.json") as f:
        current = json.load(f)
    prev = bg.previous_committed_map(current)
    if prev is not None:
        fl, _ = bg.gate(current, prev)
        assert isinstance(fl, list)


def test_bench_gate_ambient_normalization_and_waivers(tmp_path, monkeypatch):
    """r16 gate upgrades: (1) a UNIFORM map-wide slowdown (machine
    state, not code) passes — only the residual above the median
    ratio is gated, and a single true outlier still fails; (2) a
    waived query (documented intentional trade) is a note, not a
    failure, but ONLY while the baseline is below the waiver's pin —
    once the new cost is the committed baseline the waiver is inert;
    (3) a uniform SPEEDUP never excuses an outlier (ambient floor 1)."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "bench_gate2", str(ROOT / "tools" / "bench_gate.py")
    )
    bg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bg)

    # everything 2x slower together: ambient, pass
    base = {"queries": {f"q_{i}": 1.0 for i in range(9)}}
    cur = {"queries": {f"q_{i}": 2.0 for i in range(9)}}
    fails, notes = bg.gate(cur, base)
    assert fails == [] and any("ambient" in n for n in notes)

    # same ambient shift plus one genuine 8x outlier: only it fails
    cur["queries"]["q_0"] = 8.0
    fails, _ = bg.gate(cur, base)
    assert len(fails) == 1 and fails[0].startswith("q_0:")

    # uniform speedup with one 2x outlier: ambient clamps at 1, fails
    fast = {"queries": {f"q_{i}": 0.5 for i in range(9)}}
    fast["queries"]["q_0"] = 2.0
    fails, _ = bg.gate(fast, base)
    assert len(fails) == 1 and fails[0].startswith("q_0:")

    # waiver honored while baseline is below the pin...
    monkeypatch.setattr(bg, "REPO", str(tmp_path))
    (tmp_path / "BENCH_WAIVERS.json").write_text(
        json.dumps(
            {"q_w": {"baseline_below": 0.6, "reason": "plan rewrite"}}
        )
    )
    fails, notes = bg.gate(
        {"queries": {"q_w": 1.1}}, {"queries": {"q_w": 0.35}}
    )
    assert fails == [] and any("waived: q_w" in n for n in notes)
    # ...and inert once the baseline has absorbed the new cost
    fails, _ = bg.gate(
        {"queries": {"q_w": 3.0}}, {"queries": {"q_w": 1.1}}
    )
    assert len(fails) == 1 and fails[0].startswith("q_w:")


def test_bench_gate_always_check_ignores_floor():
    """r17 (VERDICT r16 #8): the codec-family queries fell below the
    gate's 0.30 s floor after their r16 optimization — a regression
    there must STILL fail the gate (with the 0.15 s absolute guard
    keeping ms-jitter quiet)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_gate_ac", str(ROOT / "tools" / "bench_gate.py")
    )
    bg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bg)
    assert "q_image_gif" in bg.ALWAYS_CHECK
    # baseline below the floor; 4x regression above the abs guard
    base = {"queries": {"q_image_gif": 0.20, "q_other": 0.20}}
    cur = {"queries": {"q_image_gif": 0.80, "q_other": 0.80}}
    failures, _ = bg.gate(cur, base)
    assert any("q_image_gif" in f for f in failures)
    # same ratio on a non-always-check query stays floored out
    assert not any("q_other" in f for f in failures)
    # jitter below the absolute guard never flags
    failures2, _ = bg.gate(
        {"queries": {"q_image_gif": 0.34}},
        {"queries": {"q_image_gif": 0.20}},
    )
    assert failures2 == []


def test_missing_operator_module_fails_loudly(monkeypatch):
    """A module named in _OPERATOR_MODULES that cannot be imported
    must raise: skipping it would silently drop every query it
    registers."""
    import pytest

    sys.path.insert(0, str(ROOT))
    from open_street_map_data_wrangling_spark.plans import registry

    monkeypatch.setattr(
        registry,
        "_OPERATOR_MODULES",
        registry._OPERATOR_MODULES + ("no_such_operator_module",),
    )
    with pytest.raises(ModuleNotFoundError, match="no_such_operator_module"):
        registry.load_all_queries()
