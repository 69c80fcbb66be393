"""Intra-query materialization has one policy, ``session.materialize``.
Parse every package module (never import it) and fail on any
``localCheckpoint`` attribute outside ``session.py``, so a new operator
cannot fork the policy again."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG_DIR = os.path.join(ROOT, "ee_outliers_spark")


def test_local_checkpoint_only_in_session():
    files = sorted(glob.glob(os.path.join(PKG_DIR, "**", "*.py"),
                             recursive=True))
    assert files
    hits = []
    for path in files:
        if os.path.relpath(path, PKG_DIR) == "session.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        hits += [f"{os.path.relpath(path, ROOT)}:{n.lineno}"
                 for n in ast.walk(tree)
                 if isinstance(n, ast.Attribute) and n.attr == "localCheckpoint"]
    assert not hits, f"use session.materialize instead: {hits}"
