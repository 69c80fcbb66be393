"""Nested-document access (ref X8/X9; /root/reference/app/helpers/
utils.py:47-76 ``get_dotkey_value`` resolves dotted keys case-insensitively,
utils.py:155-189 ``flatten_dict`` flattens nested dicts to dotted keys).

Spark analogs: struct columns ARE the nesting, so
- ``flatten_schema_paths`` enumerates every leaf as a dotted path (the
  universe the query parser resolves field names against), and
- ``dig`` is the Python-oracle twin for row dicts / Row objects.
"""

from __future__ import annotations

from pyspark.sql.types import StructType


def flatten_schema_paths(schema: StructType, prefix: str = "") -> list[str]:
    """Dotted paths of every leaf field (struct branches recursed;
    arrays/maps are leaves — explosion is a separate, explicit operator)."""
    out: list[str] = []
    for f in schema.fields:
        path = f"{prefix}{f.name}"
        if isinstance(f.dataType, StructType):
            out.extend(flatten_schema_paths(f.dataType, path + "."))
        else:
            out.append(path)
    return out


def dig(row, dotted: str, case_insensitive: bool = True):
    """Python-side dotted getter over dicts / Rows (ref utils.py:47-76)."""
    cur = row
    for part in dotted.split("."):
        if cur is None:
            return None
        if hasattr(cur, "asDict"):
            cur = cur.asDict()
        if not isinstance(cur, dict):
            return None
        if part in cur:
            cur = cur[part]
            continue
        if case_insensitive:
            hit = next((k for k in cur if k.lower() == part.lower()), None)
            cur = cur[hit] if hit is not None else None
        else:
            return None
    return cur
