"""Duplication guard: no run of code is written out twice in the package.

The test fails when any ``WINDOW`` consecutive code lines of the package
appear at two places.  Lines are compared stripped; blank lines, comment
lines and every line of a multi-line string literal (docstrings, the
DuckDB oracle SQL) are skipped, so only executable code counts.  A
duplicate kept on purpose goes in ``ALLOWED``, keyed by the sorted pair
of top-level definitions that enclose the two copies (line shifts do not
break the key), with the reason it stays.
"""

import ast
import io
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "open_street_map_data_wrangling_spark"
WINDOW = 12

ALLOWED: dict[tuple[str, str], str] = {}


def _string_lines(src: str) -> set[int]:
    """Line numbers covered by a string literal that spans lines."""
    out: set[int] = set()
    starts = []
    fstart = getattr(tokenize, "FSTRING_START", None)
    fend = getattr(tokenize, "FSTRING_END", None)
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == fstart:
            starts.append(tok.start[0])
            continue
        if tok.type == fend:
            first, last = starts.pop(), tok.end[0]
        elif tok.type == tokenize.STRING and not starts:
            first, last = tok.start[0], tok.end[0]
        else:
            continue
        if last > first:
            out.update(range(first, last + 1))
    return out


def _owners(tree: ast.Module) -> list[tuple[int, int, str]]:
    """(first line, last line, name) of every top-level definition;
    a class contributes its methods as ``Class.method``."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            out.append((node.lineno, node.end_lineno, node.name))
        elif isinstance(node, ast.ClassDef):
            for sub in node.body:
                if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out.append(
                        (sub.lineno, sub.end_lineno, f"{node.name}.{sub.name}")
                    )
    return out


def _code_lines(path: Path):
    """[(stripped line, line number, owner)] of the file's code lines."""
    src = path.read_text()
    skip = _string_lines(src)
    owners = _owners(ast.parse(src))
    rel = path.relative_to(PKG).as_posix()
    out = []
    for no, line in enumerate(src.splitlines(), 1):
        text = line.strip()
        if not text or text.startswith("#") or no in skip:
            continue
        owner = next(
            (name for lo, hi, name in owners if lo <= no <= hi),
            f"{rel}:<module>",
        )
        out.append((text, no, owner))
    return rel, out


def _duplicates() -> dict[tuple[str, str], list[str]]:
    """(owner, owner) -> ["file:line = file:line", ...] for every
    window of WINDOW code lines seen at two non-overlapping places."""
    seen = defaultdict(list)  # window text -> [(file, index, line, owner)]
    for path in sorted(PKG.rglob("*.py")):
        rel, lines = _code_lines(path)
        for i in range(len(lines) - WINDOW + 1):
            key = tuple(text for text, _, _ in lines[i : i + WINDOW])
            _, no, owner = lines[i]
            seen[key].append((rel, i, no, owner))
    found = defaultdict(list)
    for places in seen.values():
        first = places[0]
        for other in places[1:]:
            if other[0] == first[0] and other[1] - first[1] < WINDOW:
                continue  # one run repeating into itself
            pair = tuple(sorted((first[3], other[3])))
            found[pair].append(
                f"{first[0]}:{first[2]} = {other[0]}:{other[2]}"
            )
    return found


def test_no_duplicated_code_runs():
    found = _duplicates()
    new = {
        pair: places[0]
        for pair, places in sorted(found.items())
        if pair not in ALLOWED
    }
    assert not new, (
        f"{len(new)} pair(s) of definitions share {WINDOW}+ code lines "
        "(fold them into one definition, or add the pair to ALLOWED "
        "with a reason):\n"
        + "\n".join(f"  {a} / {b}: {where}" for (a, b), where in new.items())
    )


def test_allowed_pairs_are_still_duplicates():
    found = _duplicates()
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, f"ALLOWED entries no longer duplicated: {stale}"
