"""Every public engine function or class has a caller outside the tests.

An engine path that only tests reach is a twin of the one production runs:
it can drift from it while its own test stays green. The scan walks every
``.py`` file of the repo outside ``tests/`` and counts, per name, the
references (a name, an attribute or an imported name) anywhere but the
definition itself. ``oracle/`` (the executable spec) and ``sources/`` (the
fixture and table readers the tests share) are not scanned for definitions.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "micro_lab_ocr_spark"
NOT_SCANNED = ("oracle", "sources")

# (module path under the package, name) → why it stays without a caller
ALLOWED = {
    ("kernels/jpeg.py", "encode_jpeg"):
        "test-side encoder beside its decoder: shares _DCT_A, _canonical_codes and ZIGZAG",
    ("kernels/pdf.py", "encode_real_pdf"):
        "test-side encoder beside its decoder, like encode_pdf (used by the fixtures)",
    ("sinks/xlsx.py", "export_cells"):
        "the reference's S13 workbook export; no job exposes it yet",
}


def _sources():
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT)
        if rel.parts[0] != "tests" and not any(p.startswith(".") for p in rel.parts):
            yield rel, ast.parse(path.read_text(encoding="utf-8"))


def _public_defs(tree):
    return [
        node for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not node.name.startswith("_")
    ]


def unreferenced(sources) -> set[tuple[str, str]]:
    """(module path under the package, name) of every public top-level
    function or class that no scanned file refers to."""
    refs: Counter = Counter()
    defs = []
    for rel, tree in sources:
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                refs[node.id] += 1
            elif isinstance(node, ast.Attribute):
                refs[node.attr] += 1
            elif isinstance(node, ast.alias):
                refs[node.name.rsplit(".", 1)[-1]] += 1
        if rel.parts[0] == PACKAGE.name and rel.parts[1] not in NOT_SCANNED:
            defs += [("/".join(rel.parts[1:]), n.name) for n in _public_defs(tree)]
    return {d for d in defs if refs[d[1]] == 0}


def test_every_public_engine_def_has_a_caller():
    dead = unreferenced(list(_sources()))
    assert dead <= ALLOWED.keys(), f"no caller outside tests/: {sorted(dead - ALLOWED.keys())}"
    assert ALLOWED.keys() <= dead, f"allowlisted but referenced: {sorted(ALLOWED.keys() - dead)}"


def test_guard_flags_a_planted_dead_function():
    planted = ast.parse("def planted_dead():\n    return 1\n")
    sources = [*_sources(), (Path(PACKAGE.name, "operators", "planted.py"), planted)]
    assert ("operators/planted.py", "planted_dead") in unreferenced(sources)
