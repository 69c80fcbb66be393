"""Metrics analyzer (SURVEY §2.4 A5-A8 + §2.8 X1-X7;
/root/reference/app/analyzers/metrics.py).

Per event: metric = f(target field) (length / numerical_value / entropy /
hex|base64|url lengths / relative_english_entropy). Per aggregator group:
decision frontier over the group's metric values; a doc is an outlier iff its
metric crosses the frontier (metrics.py:231-266). Docs whose metric is None
are skipped (metrics.py:120-132 — ref F8).

Whole-window semantics (the reference's 100k batching + MIN_EVALUATE_BATCH
carryover, metrics.py:16-22,59-87, is client-memory management; SURVEY A7).
``min_evaluate_batch`` survives as a HAVING count>=n guard when requested.

Scale: metric computation is a narrow map (JVM or Arrow UDF); the frontier is
one hash-agg per group + an equi-join back. coeff_of_variation flags whole
groups, same as terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.metrics import metric_column
from .frontier import flag_outliers
from .terms import aggregator_col, expand_multivalued
from .whitelist import retract_fixpoint


def metrics_values(
    df: DataFrame, groups: list[str], target: str, metric: str,
    with_observations: bool = True,
) -> DataFrame:
    """rows + aggregator + metric_value (None-metric rows dropped, ref F8);
    hex/base64/url metrics also carry the matched/decoded words as an
    ``observation`` column (ref T3, metrics.py:427-485)."""
    from ..functions.metrics import OBSERVATIONS, observation_column

    base = expand_multivalued(df, [*groups, target]).dropna(
        subset=[*groups, target])
    base = base.withColumn("aggregator", aggregator_col(groups)).withColumn(
        "metric_value", metric_column(metric, F.col(target).cast("string"))
    )
    if with_observations and metric in OBSERVATIONS:
        base = base.withColumn(
            "observation",
            observation_column(metric, F.col(target).cast("string")),
        )
    return base.where(F.col("metric_value").isNotNull())


def metrics_outliers(
    df: DataFrame,
    groups: list[str],
    target: str,
    metric: str,
    trigger_method: str,
    trigger_sensitivity: float,
    trigger_on: str,
    min_evaluate_batch: int | None = None,
    whitelist_literals: list[list[str]] | None = None,
    whitelist_regexps: list[list[str]] | None = None,
    max_fixpoint_iters: int = 20,
) -> DataFrame:
    """Outlier rows + (metric_value, decision_frontier, is_outlier)."""

    def one_pass(d: DataFrame) -> DataFrame:
        vals = metrics_values(d, groups, target, metric)
        if min_evaluate_batch:
            ok = (
                vals.groupBy("aggregator")
                .agg(F.count("*").alias("_n"))
                .where(F.col("_n") >= min_evaluate_batch)
                .select("aggregator")
            )
            vals = vals.join(ok, "aggregator", "left_semi")
        return flag_outliers(
            vals, ["aggregator"], "metric_value",
            trigger_method, trigger_sensitivity, trigger_on,
        )

    return retract_fixpoint(one_pass, df, whitelist_literals,
                            whitelist_regexps, max_fixpoint_iters)
