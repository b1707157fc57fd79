"""Guard against test-only variants: every top-level function and class of
the package must be referenced by the program itself, not only by tests,
and every defaulted parameter of a top-level package function must be set
by at least one program call.

Pure ``ast`` scan, no Spark session.  A reference is a name, an attribute,
an import or a string constant equal to the name (string constants count
because perfbench's tracer patches functions by name).  A parameter is set
when a call to a function of that name passes it by keyword or by position
(``*args`` / ``**kwargs`` count as setting every parameter).  Program files
are the package, ``jobs/``, ``tools/``, ``perfbench/`` without its tests,
``BENCH/``, ``bench*.py`` and ``__spark_entry__.py``.  ``oracles.py`` is
frozen, so its definitions are not checked (its references and calls still
count).
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

# (function, parameter) -> why its default may stay although no program call
# sets it: each forces the other production branch in a test
PARAM_ALLOWLIST = {
    ("connected_components", "max_local_edges"): "test hook: forces the distributed CC loop",
    ("contamination_flags", "join_threshold"): "test hook: forces the broadcast hash-join form",
    ("hamming_block_pairs", "bucket_cap"): "test hook: forces the hot self-join tier",
    ("hot_bucket_probe", "target_sample"): "test hook: forces the sampled probe",
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


def _defaulted_params() -> dict[str, list[tuple[Path, list[str], list[str]]]]:
    """function name -> [(path, positional parameter names, defaulted
    parameter names)] for every top-level package function."""
    out: dict[str, list] = {}
    for path in sorted(PKG.rglob("*.py")):
        if path in FROZEN:
            continue
        for node in _parse(path).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            positional = [x.arg for x in a.posonlyargs + a.args]
            defaulted = positional[len(positional) - len(a.defaults):]
            defaulted += [
                x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
            ]
            if defaulted:
                out.setdefault(node.name, []).append((path, positional, defaulted))
    return out


def _set_params(defs: dict) -> dict[str, set[str]]:
    """function name -> parameters some program call passes."""
    passed: dict[str, set[str]] = {}
    for path in _program_files():
        for node in ast.walk(_parse(path)):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in defs:
                continue
            s = passed.setdefault(name, set())
            star = any(isinstance(x, ast.Starred) for x in node.args)
            for _path, positional, defaulted in defs[name]:
                if star or any(kw.arg is None for kw in node.keywords):
                    s.update(defaulted)
                s.update(positional[: len(node.args)])
            s.update(kw.arg for kw in node.keywords if kw.arg)
    return passed


def test_every_defaulted_parameter_is_set_by_a_program_call():
    defs = _defaulted_params()
    passed = _set_params(defs)
    never = sorted(
        f"{name}({param}) ({path.relative_to(REPO)})"
        for name, entries in defs.items()
        if name not in ALLOWLIST
        for path, _positional, defaulted in entries
        for param in defaulted
        if param not in passed.get(name, set())
        and (name, param) not in PARAM_ALLOWLIST
    )
    assert not never, (
        "defaulted parameters no program call sets (make them constants, or "
        f"allowlist with a reason): {never}"
    )
    stale = [
        key for key in PARAM_ALLOWLIST
        if not any(key[1] in d for _p, _pos, d in defs.get(key[0], []))
    ]
    assert not stale, f"allowlisted parameters no longer defaulted: {stale}"
