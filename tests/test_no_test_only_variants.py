"""Guard against test-only variants: every top-level function and class of
the package must be referenced by the program itself, not only by tests.

Pure ``ast`` scan, no Spark session.  A reference is a name, an attribute,
an import or a string constant equal to the name (string constants count
because perfbench's tracer patches functions by name).  Program files are
the package, ``jobs/``, ``tools/``, ``perfbench/`` without its tests,
``BENCH/``, ``bench*.py`` and ``__spark_entry__.py``.  ``oracles.py`` is
frozen, so its definitions are not checked (its references still count).
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "image_deduplication_3m_images_spark"
FROZEN = {PKG / "oracles.py"}

# name -> why it may stay without a program caller
ALLOWLIST = {
    "shingles": "pure-Python reference implementation the kernels are tested against",
    "signature_py": "pure-Python reference implementation the kernels are tested against",
    "hamming64": "pure-Python reference implementation the kernels are tested against",
    "jaccard_est": "pure-Python reference implementation the kernels are tested against",
    "_fingerprints_one": "pure-Python reference implementation the kernels are tested against",
    "synthetic_media": "seeded test input for the multimodal operators",
}


def _program_files() -> list[Path]:
    files = set(PKG.rglob("*.py"))
    for d in ("jobs", "tools", "BENCH"):
        files |= set((REPO / d).rglob("*.py"))
    files |= {
        p for p in (REPO / "perfbench").rglob("*.py")
        if not p.name.startswith("test_")
    }
    files |= set(REPO.glob("bench*.py"))
    files.add(REPO / "__spark_entry__.py")
    return sorted(files)


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _references(tree: ast.AST) -> set[str]:
    refs = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            refs.add(node.id)
        elif isinstance(node, ast.Attribute):
            refs.add(node.attr)
        elif isinstance(node, ast.alias):
            refs.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            refs.add(node.value)
    return refs


def _definitions() -> dict[str, Path]:
    defs = {}
    for path in sorted(PKG.rglob("*.py")):
        if path in FROZEN:
            continue
        for node in _parse(path).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[node.name] = path
    return defs


def test_every_package_definition_has_a_program_reference():
    refs = set()
    for path in _program_files():
        refs |= _references(_parse(path))
    defs = _definitions()
    unused = sorted(
        f"{name} ({path.relative_to(REPO)})"
        for name, path in defs.items()
        if name not in refs and name not in ALLOWLIST
    )
    assert not unused, (
        "defined in the package but referenced by no program file (delete "
        f"them, or allowlist with a reason): {unused}"
    )
    stale = [name for name in ALLOWLIST if name not in defs]
    assert not stale, f"allowlisted names no longer defined: {stale}"
