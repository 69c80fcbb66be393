"""Pattern atoms (wildcard / regexp / fuzzy) have one dictionary matcher,
``filter.spec_matcher``, which expands them on the driver for both the
scorer and the filter kernel. Parse every index module (never import it)
and fail on any ``rlike`` or ``levenshtein`` call, so a JVM twin of that
matcher cannot come back into the index layer."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INDEX_DIR = os.path.join(ROOT, "ee_outliers_spark", "index")


def test_no_jvm_pattern_matcher_in_index():
    files = sorted(glob.glob(os.path.join(INDEX_DIR, "**", "*.py"),
                             recursive=True))
    assert files
    hits = []
    for path in files:
        with open(path) as fh:
            tree = ast.parse(fh.read(), filename=path)
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(
                f, "id", None)
            if name in ("rlike", "levenshtein"):
                hits.append(f"{os.path.relpath(path, ROOT)}:{n.lineno}")
    assert not hits, f"match pattern atoms with filter.spec_matcher: {hits}"
