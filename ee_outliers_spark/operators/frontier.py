"""Decision-frontier statistics + outlier test (SURVEY A5/A6;
/root/reference/app/helpers/utils.py:308-443 ``get_decision_frontier`` /
``is_outlier``), re-expressed as per-group Spark aggregations.

Semantic quirks preserved exactly (SURVEY §7.3):
- ``percentile``: np.percentile (linear interpolation) over the **distinct**
  value set (utils.py:364-373 ``list(set(values))``) — Spark's ``percentile``
  uses the same interpolation; we pre-dedupe per group.
- ``mad``/``madpos``: frontier = median ± s·MAD; when that equals the median
  (MAD==0 or s==0 — "more than half of all values are equal") fall back to the
  stdev frontier **with sensitivity 1** (utils.py:336-341); ``madpos`` clamps
  the frontier at 0 (utils.py:343-345).
- ``stdev``: population σ (np.std default), not sample (utils.py:383).
- ``coeff_of_variation``: the *frontier* is σ/µ of the group, and the
  outlier test compares the frontier itself against the sensitivity —
  flagging the whole group (terms.py:383-396).

At scale these are single hash aggregations (partial+final map-side combine);
the MAD two-pass is two aggregations + one co-partitioned join on the group
key. No Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize

TRIGGER_METHODS = {
    "percentile", "pct_of_max_value", "pct_of_median_value", "pct_of_avg_value",
    "mad", "madpos", "stdev", "float", "coeff_of_variation",
}


def _median(c: Column) -> Column:
    # numpy-compatible: linear interpolation at 0.5
    return F.percentile(c, F.lit(0.5))


def frontier_df(
    df: DataFrame,
    groups: list[str],
    value: str,
    method: str,
    sensitivity: float,
    trigger_on: str,
) -> DataFrame:
    """Per-group decision frontier: (groups..., decision_frontier)."""
    if method not in TRIGGER_METHODS:
        raise ValueError(f"unexpected trigger method {method}")
    v = F.col(value)
    g = df.groupBy(*groups)

    if method == "percentile":
        dedup = df.dropDuplicates([*groups, value])
        return dedup.groupBy(*groups).agg(
            F.percentile(v, F.lit(sensitivity / 100.0)).alias("decision_frontier")
        )
    if method == "pct_of_max_value":
        return g.agg((F.max(v) * (sensitivity / 100.0)).alias("decision_frontier"))
    if method == "pct_of_median_value":
        return g.agg((_median(v) * (sensitivity / 100.0)).alias("decision_frontier"))
    if method == "pct_of_avg_value":
        return g.agg((F.avg(v) * (sensitivity / 100.0)).alias("decision_frontier"))
    if method == "stdev":
        sgn = 1.0 if trigger_on == "high" else -1.0
        return g.agg(
            (F.avg(v) + sgn * sensitivity * F.stddev_pop(v)).alias("decision_frontier")
        )
    if method == "float":
        return g.agg(F.lit(float(sensitivity)).alias("decision_frontier"))
    if method == "coeff_of_variation":
        return g.agg((F.stddev_pop(v) / F.avg(v)).alias("decision_frontier"))

    # mad / madpos: two-pass (median, then median absolute deviation)
    sgn = 1.0 if trigger_on == "high" else -1.0
    med = g.agg(_median(v).alias("_med"))
    j = df.join(med, groups) if groups else df.crossJoin(F.broadcast(med))
    stats = j.groupBy(*groups).agg(
        _median(F.abs(v - F.col("_med"))).alias("_mad"),
        F.first("_med").alias("_med"),
        F.avg(v).alias("_avg"),
        F.stddev_pop(v).alias("_std"),
    )
    mad_frontier = F.col("_med") + sgn * sensitivity * F.col("_mad")
    stdev_fallback = F.col("_avg") + sgn * 1.0 * F.col("_std")  # sensitivity 1!
    frontier = F.when(mad_frontier == F.col("_med"), stdev_fallback).otherwise(
        mad_frontier
    )
    if method == "madpos":
        frontier = F.greatest(frontier, F.lit(0.0))
    return stats.select(*groups, frontier.alias("decision_frontier"))


def outlier_test(value_col: Column, frontier_col: Column, trigger_on: str) -> Column:
    """ref utils.py:429-443: strict > (high) / < (low)."""
    if trigger_on == "high":
        return value_col > frontier_col
    if trigger_on == "low":
        return value_col < frontier_col
    raise ValueError(f"unexpected trigger condition {trigger_on}")


#: Max rows of a group-level frame to broadcast back onto the row stream
#: (~60 B/row ⇒ ≲30 MB). Above this, joins fall back to sort-merge —
#: unbounded aggregator cardinality must never become an unbounded
#: broadcast (guide §3.2).
BROADCAST_GROUP_ROWS = 500_000


def flag_outliers(
    df: DataFrame,
    groups: list[str],
    value: str,
    method: str,
    sensitivity: float,
    trigger_on: str,
) -> DataFrame:
    """df + (decision_frontier, is_outlier) per row.

    coeff_of_variation flags every row of a group whose σ/µ crosses the
    sensitivity (the whole-group semantics of terms.py:383-396)."""
    fr = frontier_df(df, groups, value, method, sensitivity, trigger_on)
    if groups:
        # its row count, observed by the materializing job, picks the
        # broadcast join: the rows cross no exchange
        fr, n_groups = materialize(fr, count=True)
        if n_groups <= BROADCAST_GROUP_ROWS:
            fr = F.broadcast(fr)
    # empty groups = one global frontier (ref terms across_aggregators)
    out = df.join(fr, groups, "left") if groups else df.crossJoin(F.broadcast(fr))
    if method == "coeff_of_variation":
        flag = outlier_test(F.col("decision_frontier"), F.lit(float(sensitivity)), trigger_on)
    else:
        flag = outlier_test(F.col(value), F.col("decision_frontier"), trigger_on)
    return out.withColumn("is_outlier", F.coalesce(flag, F.lit(False)))
