"""Outlier rendering: placeholder substitution and summary wrap (SURVEY
X12/X13).

- ``render_template``: '{field.name}' placeholders → column values
  (case-insensitive field resolution; arrays comma-joined; missing →
  literal '{field x not found in event}') — ref utils.py:233-262 +
  analyzer.py:158-188. Compiled at plan time into concat() — JVM-side.
- ``wrap_summary``: textwrap.fill(width=150) — ref outlier.py:14-15; an
  Arrow UDF (cosmetic but required for byte-identical summaries).
"""

from __future__ import annotations

import re
import textwrap

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_PLACEHOLDER = re.compile(r"\{([^{}]+)\}")


def _resolve(name: str, columns: list[str]) -> str | None:
    for c in columns:
        if c.lower() == name.lower():
            return c
    return None


def render_template(template: str, df: DataFrame) -> Column:
    """Plan-time compilation of '{field}' placeholders to concat() parts.
    Array columns are comma-joined (ref utils.py:245-252); missing fields
    render the reference's literal error text (utils.py:256-259)."""
    parts: list[Column] = []
    pos = 0
    dtypes = dict(df.dtypes)
    for m in _PLACEHOLDER.finditer(template):
        if m.start() > pos:
            parts.append(F.lit(template[pos:m.start()]))
        name = m.group(1)
        col = _resolve(name, df.columns)
        if col is None:
            parts.append(F.lit("{field " + name + " not found in event}"))
        elif dtypes[col].startswith("array"):
            parts.append(F.concat_ws(",", F.col(col)))
        else:
            parts.append(F.coalesce(F.col(col).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(template):
        parts.append(F.lit(template[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)


@F.pandas_udf(StringType())
def wrap_summary(s: pd.Series) -> pd.Series:
    """Hard-wrap at 150 chars (ref outlier.py:14-15 textwrap.fill)."""
    return s.map(lambda x: textwrap.fill(x, width=150) if x is not None else None)

