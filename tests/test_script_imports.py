"""Scripts and bench harnesses only run by hand, so a package name they
import can vanish without any test noticing. Parse each file (never run
it) and check that every ``ee_outliers_spark`` name it imports resolves:
``from ee_outliers_spark.m import x``, and ``import ee_outliers_spark.m as
B`` (or ``from ee_outliers_spark import m``) followed by ``B.x``."""

from __future__ import annotations

import ast
import glob
import importlib
import os
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ee_outliers_spark"
FILES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    + [os.path.join(ROOT, f)
       for f in ("bench.py", "scaling_bench.py", "__spark_entry__.py")])


def _lookup(obj, name: str, dotted: str):
    """``obj.name``, importing ``dotted`` when it is a not-yet-loaded
    submodule; AttributeError when neither exists."""
    if hasattr(obj, name):
        return getattr(obj, name)
    if isinstance(obj, types.ModuleType):
        try:
            return importlib.import_module(dotted)
        except ModuleNotFoundError as e:
            if e.name != dotted:
                raise
    raise AttributeError(dotted)


def _resolve(dotted: str):
    parts = dotted.split(".")
    obj = importlib.import_module(parts[0])
    for i in range(1, len(parts)):
        obj = _lookup(obj, parts[i], ".".join(parts[:i + 1]))
    return obj


def _unresolved(path: str) -> list[str]:
    """Package names ``path`` uses that do not resolve (``file:line name``)."""
    tree = ast.parse(open(path).read(), filename=path)
    bad: list[str] = []
    modules: dict[str, str] = {}  # local name bound to a package module

    def check(dotted: str, line: int):
        try:
            return _resolve(dotted)
        except (AttributeError, ModuleNotFoundError):
            bad.append(f"{os.path.relpath(path, ROOT)}:{line} {dotted}")
            return None

    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level and (
                node.module or "").split(".")[0] == PKG:
            for a in node.names:
                dotted = f"{node.module}.{a.name}"
                if isinstance(check(dotted, node.lineno), types.ModuleType):
                    modules[a.asname or a.name] = dotted
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG and isinstance(
                        check(a.name, node.lineno), types.ModuleType):
                    if a.asname:
                        modules[a.asname] = a.name
                    else:
                        modules[PKG] = PKG
    # attribute chains rooted at a bound module: check each step while the
    # object reached is still a package module (B.x, pkg.index.build.x)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Attribute):
            continue
        chain = []
        base = node
        while isinstance(base, ast.Attribute):
            chain.append(base.attr)
            base = base.value
        if not isinstance(base, ast.Name) or base.id not in modules:
            continue
        dotted = modules[base.id]
        obj = _resolve(dotted)
        for attr in reversed(chain):
            if not isinstance(obj, types.ModuleType):
                break
            dotted += "." + attr
            obj = check(dotted, node.lineno)
    return sorted(set(bad))


@pytest.mark.parametrize(
    "path", FILES, ids=[os.path.relpath(f, ROOT) for f in FILES])
def test_script_package_imports_resolve(path):
    assert _unresolved(path) == []


def test_checker_flags_missing_names(tmp_path):
    p = tmp_path / "probe.py"
    p.write_text(
        "import ee_outliers_spark.index.build as B\n"
        "from ee_outliers_spark.index.build import _no_such_kernel\n"
        "from ee_outliers_spark.index import build\n"
        "B.build_segments\n"
        "B.NO_SUCH_KNOB = 1\n"
        "build.segment_frames_df.__name__\n"
        "build.no_such_fn()\n")
    got = [s.split(" ", 1)[1] for s in _unresolved(str(p))]
    assert got == ["ee_outliers_spark.index.build._no_such_kernel",
                   "ee_outliers_spark.index.build.NO_SUCH_KNOB",
                   "ee_outliers_spark.index.build.no_such_fn"]
