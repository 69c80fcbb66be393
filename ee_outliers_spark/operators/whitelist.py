"""Whitelisting (SURVEY U3/A8; /root/reference/app/helpers/outlier.py:66-110,
app/helpers/settings.py:73-111).

Reference semantics:
- a **literals** entry is a comma-separated conjunction: the outlier is
  whitelisted iff *every* literal appears among the stringified values of the
  document (+ outlier observation values);
- a **regexps** entry: every regex (compiled case-insensitive) must fully
  match at least one of those values.

Here a document's "value set" is the stringified set of its columns (plus any
observation columns the analyzer added). The predicate compiles to pure
Column expressions (array_contains / exists+rlike over an array column) —
JVM-side, no UDF; whitelists are config-sized, so the compiled predicate is a
literal expression tree, broadcast implicitly with the plan.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def value_set_col(df: DataFrame, cols: list[str] | None = None) -> Column:
    """Array<string> of the row's stringified values (nulls dropped) —
    the analog of flattening the whole `_source` (ref outlier.py:77-86)."""
    cols = cols or df.columns
    arr = F.array(*[F.col(c).cast("string") for c in cols])
    return F.filter(arr, lambda v: v.isNotNull())


def whitelist_predicate(
    values_col: Column,
    literals: list[list[str]] | None = None,
    regexps: list[list[str]] | None = None,
) -> Column:
    """True iff the row is whitelisted by any entry.

    ``literals``: each entry is a list of literals that must ALL be present
    (exact, case-sensitive — ref outlier.py:88-97 uses set membership).
    ``regexps``: each entry is a list of patterns that must ALL match some
    value (case-insensitive fullmatch — ref settings.py:101 re.IGNORECASE,
    outlier.py:99-110 .match anchored at start; we anchor both ends as the
    reference patterns conventionally do)."""
    pred = F.lit(False)
    for entry in literals or []:
        cond = F.lit(True)
        for lit_ in entry:
            cond = cond & F.array_contains(values_col, lit_)
        pred = pred | cond
    def _rx_exists(pattern: str):
        # NB: close over the pattern via factory — a default-arg lambda has
        # arity 2 and Spark would bind it as the (value, index) HOF variant
        return F.exists(values_col, lambda v: v.rlike(pattern))

    for entry in regexps or []:
        cond = F.lit(True)
        for rx in entry:
            cond = cond & _rx_exists(f"(?i)^(?:{rx})$")
        pred = pred | cond
    return pred


def retract_fixpoint(
    one_pass: Callable[[DataFrame], DataFrame],
    df: DataFrame,
    literals: list[list[str]] | None,
    regexps: list[list[str]] | None,
    max_iters: int,
) -> DataFrame:
    """Outlier rows of ``one_pass`` after the whitelist-retract fixpoint:
    whitelisted outliers are dropped from the window and the analyzer is
    re-run until no flagged row is whitelisted (or ``max_iters`` passes).
    ``one_pass`` maps a window to rows + ``is_outlier``; ``df``'s columns
    are the window's and feed the whitelist value set."""
    if not (literals or regexps):
        return one_pass(df).where("is_outlier")

    work = df
    wl = None
    for _ in range(max_iters):
        res = materialize(one_pass(work))
        if wl is None:
            wl = whitelist_predicate(
                value_set_col(res, df.columns), literals, regexps)
        if res.where(F.col("is_outlier") & wl).count() == 0:
            return res.where("is_outlier")
        # drop whitelisted flagged docs from the window and recompute
        work = res.where(~(F.col("is_outlier") & wl)).select(*df.columns)
    return materialize(one_pass(work).where("is_outlier"))
