"""Every import of a package module resolves.

The CLI and several modules import lazily, inside functions, so a module
that is removed or renamed only fails once that code path runs. This
walks the AST of every package file plus the two entry scripts, and
checks each import of ``vuln_datasync_spark`` (absolute or relative,
top-level or function-local) against the installed modules.
"""

from __future__ import annotations

import ast
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "vuln_datasync_spark"


def _sources() -> list[str]:
    out = [os.path.join(ROOT, "__spark_entry__.py"),
           os.path.join(ROOT, "spark_submit_main.py")]
    for dirpath, dirs, files in os.walk(os.path.join(ROOT, PKG)):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        out += [os.path.join(dirpath, f) for f in sorted(files)
                if f.endswith(".py")]
    return out


def _module_of(path: str) -> tuple[str, bool]:
    """Dotted module name of ``path`` and whether it is a package init."""
    rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
    is_pkg = rel[-1] == "__init__"
    if is_pkg:
        rel = rel[:-1]
    return ".".join(rel), is_pkg


def _imports(path: str) -> list[tuple[int, str, list[str]]]:
    """(line, absolute module, imported names) for each package import."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    mod, is_pkg = _module_of(path)
    found = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    found.append((node.lineno, a.name, []))
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = mod.split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (node.level - 1)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            if target.split(".")[0] == PKG:
                found.append(
                    (node.lineno, target, [a.name for a in node.names])
                )
    return found


def _unresolved(path: str) -> list[str]:
    bad = []
    for line, target, names in _imports(path):
        try:
            m = importlib.import_module(target)
        except ImportError as e:
            bad.append(f"{line}: {target} ({e})")
            continue
        for n in names:
            if n == "*" or hasattr(m, n):
                continue
            try:
                importlib.import_module(f"{target}.{n}")
            except ImportError:
                bad.append(f"{line}: {target}.{n}")
    return bad


@pytest.mark.parametrize(
    "path", _sources(), ids=lambda p: os.path.relpath(p, ROOT)
)
def test_package_imports_resolve(path):
    assert _unresolved(path) == []


def test_import_walk_sees_lazy_imports():
    """The walk reaches function-local imports, not only module-level
    ones: the CLI imports every subsystem lazily."""
    cli = os.path.join(ROOT, PKG, "cli.py")
    targets = {t for _line, t, _n in _imports(cli)}
    assert f"{PKG}.sinks.manifest_table" in targets
    assert f"{PKG}.streaming.pipeline" in targets
