"""Every package function and class is reached from an entry point, or is a
test oracle named in ``ORACLES``.

Parse every module (never import it) and walk references from the roots:

- the module-level code of each package module that reached code imports
  (``__init__`` and ``__main__`` always), including the functions that
  ``entrypoints.register`` decorates;
- every file under ``scripts/`` and ``perfbench/``, plus ``bench.py``,
  ``scaling_bench.py`` and ``__spark_entry__.py`` — whole files, and string
  constants in them count as names, since perfbench wraps functions through
  ``getattr``.

A name resolves through its module's own definitions and imports, and
``module.attr`` through imported modules. A reached class reaches everything
its body names. Tests are not roots: code that only tests call is dead
surface, not product."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "ee_outliers_spark"

ROOT_FILES = ["bench.py", "scaling_bench.py", "__spark_entry__.py",
              "scripts/*.py", "perfbench/*.py"]

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# decorators that store the decorated function at import time
REGISTERING = {(f"{PKG}.entrypoints", "register")}

# (module, name) -> why tests keep it although no entry point reaches it
ORACLES = {
    ("oracle", "OracleIndex"):
        "pure-Python BM25 index that the top-k tests rank against",
    ("oracle", "bm25_tf_part"):
        "the oracle's per-term BM25 formula, checked against the kernel's",
    ("index.codec", "encode_postings"):
        "reference posting-list encoder for the codec round-trip tests",
    ("index.codec", "decode_postings"):
        "reference posting-list decoder for the codec round-trip tests",
    ("index.codec", "delta_encode"):
        "reference gap encoder for the codec round-trip tests",
    ("index.codec", "delta_decode"):
        "reference gap decoder for the codec round-trip tests",
    ("index.codec", "encode_position_stream"):
        "reference position encoder for the positional codec tests",
    ("index.query", "_wand_segment"):
        "single-segment WAND that the block-max kernel is tested against",
    ("index.query", "_sloppy_tf"):
        "pure-Python sloppy-phrase frequency the phrase kernel is tested "
        "against",
    ("queryparser", "to_python_predicate"):
        "pure-Python evaluator of a parsed query, the randomized filter "
        "tests' oracle",
    ("queryparser", "_rowget"):
        "field lookup used only by the to_python_predicate oracle",
    ("functions.nested", "dig"):
        "pure-Python dotted-path lookup that the nested-field tests compare "
        "the Spark paths against",
}


def _modname(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")
    return rel[:-len(".__init__")] if rel.endswith(".__init__") else rel


class _Module:
    def __init__(self, path: str, name: str, is_pkg: bool):
        with open(path) as fh:
            self.tree = ast.parse(fh.read(), filename=path)
        self.path = os.path.relpath(path, ROOT)
        self.name, self.is_pkg = name, is_pkg
        self.defs = {n.name: n for n in self.tree.body
                     if isinstance(n, _DEFS)}
        # alias -> ("mod", module) | ("sym", module, name); function-local
        # imports included (a shadowed alias would be a NameError anyway)
        self.aliases: dict[str, tuple] = {}
        for n in ast.walk(self.tree):
            for target in self._imports(n):
                self.aliases[target[0]] = target[1]

    def _base(self, n: ast.ImportFrom) -> str:
        if not n.level:
            return n.module or ""
        parts = self.name.split(".")
        parts = parts if self.is_pkg else parts[:-1]
        parts = parts[:len(parts) - n.level + 1]
        return ".".join(parts + ([n.module] if n.module else []))

    def _imports(self, n: ast.AST):
        if isinstance(n, ast.Import):
            for a in n.names:
                if a.asname:
                    yield a.asname, ("mod", a.name)
                else:
                    head = a.name.split(".")[0]
                    yield head, ("mod", head)
        elif isinstance(n, ast.ImportFrom):
            base = self._base(n)
            for a in n.names:
                yield a.asname or a.name, ("sym", base, a.name)

    def imported_modules(self, n: ast.AST):
        if isinstance(n, ast.Import):
            yield from (a.name for a in n.names)
        elif isinstance(n, ast.ImportFrom):
            base = self._base(n)
            yield base
            yield from (f"{base}.{a.name}" for a in n.names)


class _Scan:
    def __init__(self):
        self.mods: dict[str, _Module] = {}
        for path in sorted(glob.glob(os.path.join(ROOT, PKG, "**", "*.py"),
                                     recursive=True)):
            name = _modname(path)
            self.mods[name] = _Module(path, name,
                                      path.endswith("__init__.py"))
        self.reached_defs: set[tuple[str, str]] = set()
        self.reached_mods: set[str] = set()
        self.todo: list[tuple[_Module, list[ast.AST]]] = []

    def resolve(self, target: tuple):
        """("mod", m) | ("def", m, name) | None for a non-package target."""
        if target[0] == "mod":
            return target if target[1] in self.mods else None
        _, mod, name = target
        if f"{mod}.{name}" in self.mods:
            return ("mod", f"{mod}.{name}")
        m = self.mods.get(mod)
        if m is None:
            return None
        if name in m.defs:
            return ("def", mod, name)
        if name in m.aliases and m.aliases[name] != target:
            return self.resolve(m.aliases[name])
        return None

    def expr(self, m: _Module, n: ast.AST):
        if isinstance(n, ast.Name):
            if n.id in m.defs:
                return ("def", m.name, n.id)
            if n.id in m.aliases:
                return self.resolve(m.aliases[n.id])
        elif isinstance(n, ast.Attribute):
            owner = self.expr(m, n.value)
            if owner and owner[0] == "mod":
                return self.resolve(("sym", owner[1], n.attr))
        return None

    def reach_mod(self, name: str):
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            sub = ".".join(parts[:i])
            if sub in self.mods and sub not in self.reached_mods:
                self.reached_mods.add(sub)
                m = self.mods[sub]
                top = []
                for stmt in m.tree.body:
                    if isinstance(stmt, _DEFS):
                        top += stmt.decorator_list
                        top += getattr(stmt, "bases", [])
                        self.reach_registered(m, stmt)
                    else:
                        top.append(stmt)
                self.todo.append((m, top))

    def reach_registered(self, m: _Module, d: ast.AST):
        for deco in d.decorator_list:
            fn = deco.func if isinstance(deco, ast.Call) else deco
            hit = self.expr(m, fn)
            if hit and hit[0] == "def" and hit[1:] in REGISTERING:
                self.reach(("def", m.name, d.name))

    def reach(self, target):
        if target is None:
            return
        if target[0] == "mod":
            self.reach_mod(target[1])
            return
        key = target[1:]
        if key in self.reached_defs or key[0] not in self.mods:
            return
        self.reached_defs.add(key)
        self.reach_mod(key[0])
        m = self.mods[key[0]]
        self.todo.append((m, [m.defs[key[1]]]))

    def walk(self, m: _Module, nodes: list[ast.AST], strings: bool = False):
        for root in nodes:
            for n in ast.walk(root):
                for mod in m.imported_modules(n):
                    if mod in self.mods:
                        self.reach_mod(mod)
                if isinstance(n, (ast.Name, ast.Attribute)):
                    self.reach(self.expr(m, n))
                elif (strings and isinstance(n, ast.Constant)
                        and isinstance(n.value, str)
                        and n.value.isidentifier()):
                    for mm in self.mods.values():
                        if n.value in mm.defs:
                            self.reach(("def", mm.name, n.value))

    def run(self) -> set[tuple[str, str]]:
        self.reach_mod(PKG)
        self.reach_mod(f"{PKG}.__main__")
        for pattern in ROOT_FILES:
            for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
                m = _Module(path, _modname(path), False)
                self.walk(m, [m.tree], strings=True)
        while self.todo:
            self.walk(*self.todo.pop())
        return self.reached_defs


def _rel(mod: str) -> str:
    return mod[len(PKG) + 1:] if mod.startswith(PKG + ".") else mod


def test_every_package_definition_is_reachable():
    scan = _Scan()
    reached = scan.run()
    assert f"{PKG}.config" in scan.reached_mods  # the walk saw the CLI
    dead, oracles_seen = [], set()
    for mod, m in sorted(scan.mods.items()):
        for name, d in m.defs.items():
            if (mod, name) in reached:
                continue
            if (_rel(mod), name) in ORACLES:
                oracles_seen.add((_rel(mod), name))
            else:
                dead.append(f"{m.path}:{d.lineno} {name}")
    assert not dead, (
        "no entry point reaches these definitions; delete each one, or, if "
        "a test uses it as an oracle, add it to ORACLES with the reason:\n"
        + "\n".join(dead))
    stale = sorted(set(ORACLES) - oracles_seen)
    assert not stale, (
        "these ORACLES entries are deleted or now reached from an entry "
        f"point; remove them from the allowlist: {stale}")
