"""Intra-query materialization has one policy, ``session.materialize``.
Parse every package module (never import it) and fail on any
``localCheckpoint`` attribute outside ``session.py``, or any ``.cache()`` /
``.persist()`` call outside the allowlist, so a new operator cannot fork
the policy again."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "ee_outliers_spark")

# (package-relative path, method) -> why that call is not a materialize
CACHE_ALLOWED = {
    ("index/build.py", "persist"):
        "the segment write is the action that computes the segment frame, "
        "and persist keeps its blobs for the manifest, stats and termstats "
        "passes of the same build; materialize would compute the frame in "
        "a job of its own before the write",
}


def _trees():
    files = sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"),
                             recursive=True))
    assert files
    for path in files:
        with open(path) as fh:
            yield os.path.relpath(path, PKG_DIR), ast.parse(fh.read(),
                                                            filename=path)


def test_local_checkpoint_only_in_session():
    hits = []
    for rel, tree in _trees():
        if rel == "session.py":
            continue
        hits += [f"{rel}:{n.lineno}" for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute) and n.attr == "localCheckpoint"]
    assert not hits, f"use session.materialize instead: {hits}"


def test_no_cache_or_persist_outside_allowlist():
    hits, allowed_seen = [], set()
    for rel, tree in _trees():
        for n in ast.walk(tree):
            if not (isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
                    and n.func.attr in ("cache", "persist")):
                continue
            if (rel, n.func.attr) in CACHE_ALLOWED:
                allowed_seen.add((rel, n.func.attr))
            else:
                hits.append(f"{rel}:{n.lineno} .{n.func.attr}()")
    assert not hits, f"use session.materialize instead: {hits}"
    # an allowlist entry whose call is gone must go too
    assert allowed_seen == set(CACHE_ALLOWED)
