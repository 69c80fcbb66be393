"""Terms analyzer (SURVEY A2/A3/A7/A8; /root/reference/app/analyzers/terms.py).

Whole-window semantics: the reference evaluates in client-side batches of
100k targets with carryover (terms.py:40-72) purely to bound client memory —
Spark aggregates the full window distributed, which the reference's own
single-batch configs make canonical (SURVEY §7.3). ``min_target_buckets``
survives as a HAVING filter.

- ``within_aggregator`` (terms.py:311-377): per aggregator, count each target
  value; frontier over that aggregator's counts; a doc is an outlier iff its
  target's count crosses the frontier.
- ``across_aggregators`` (terms.py:185-298): per aggregator, count DISTINCT
  targets; ONE global frontier over those counts; every doc of a flagged
  aggregator is an outlier.

Whitelist-retract fixpoint (terms.py:138-157): whitelisted flagged docs are
removed and the frontier recomputed until no flagged doc is whitelisted —
a driver loop over materialized passes (monotone shrinking ⇒ converges).

Scale: groupBy(aggregator, target) with map-side partial aggregation; the
across variant's frontier input is aggregator-cardinality-sized. The doc→flag
join is an equi-join on the group keys (AQE handles skewed aggregators). Each
variant runs one eager action of its own: it materializes the flagged
group-level frame, and the same job's observed row count decides whether
that frame is broadcast back onto the rows (``session.materialize``); the
within variant's frontier adds one more (``frontier.flag_outliers``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .frontier import BROADCAST_GROUP_ROWS, flag_outliers
from .whitelist import retract_fixpoint

AGG_SEP = " - "  # composite-key separator (ref es.py:796-803, utils.py:160-184)


def aggregator_col(groups: list[str]) -> Column:
    """Composite aggregator sentence — keeps the exact ' - ' join (ref A1)."""
    return F.concat_ws(AGG_SEP, *[F.col(g).cast("string") for g in groups])


def expand_multivalued(df: DataFrame, cols: list[str]) -> DataFrame:
    """Cartesian sentence expansion for array-typed fields (ref X11,
    app/helpers/utils.py:192-230 flatten_fields_into_sentences): a doc whose
    aggregator/target field holds N values contributes N rows per other
    field's value — explode per array column = the cartesian product. Docs
    with an empty array produce no sentences, like the reference."""
    from pyspark.sql.types import ArrayType

    out = df
    names = set(out.schema.fieldNames())
    for c in cols:
        if c in names and isinstance(out.schema[c].dataType, ArrayType):
            out = out.withColumn(c, F.explode(c))
    return out


def _unflattenable(dt) -> bool:
    """True when a field's TYPE can never flatten to a sentence under the
    reference's flatten_sentence rule (ref X10, app/helpers/utils.py:160-184):
    a dict, or a list containing lists/dicts, yields None — the sentence is
    dropped. Spark columns are uniformly typed, so the per-value Python rule
    becomes a per-column type rule: struct/map, or array whose element is
    array/struct/map, can never produce a sentence."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dt, (StructType, MapType)):
        return True
    if isinstance(dt, ArrayType):
        return isinstance(dt.elementType, (ArrayType, StructType, MapType))
    return False


def _prepare(df: DataFrame, groups: list[str], target: str) -> DataFrame:
    """Client-side existence skip (ref F8 terms.py:112-120): drop rows missing
    aggregator or target fields; array-typed fields expand to sentences;
    nested-typed fields (array-of-array/dict — ref X10) drop every sentence,
    exactly like flatten_sentence returning None."""
    names = set(df.schema.fieldNames())
    if any(c in names and _unflattenable(df.schema[c].dataType)
           for c in [*groups, target]):
        out = df.where(F.lit(False))
        for c in [*groups, target]:
            if c in names and _unflattenable(df.schema[c].dataType):
                out = out.withColumn(c, F.lit(None).cast("string"))
        return out.withColumn("aggregator", F.lit(None).cast("string")
                              ).withColumn("target", F.lit(None).cast("string"))
    out = expand_multivalued(df, [*groups, target])
    out = out.dropna(subset=[*groups, target])
    return out.withColumn("aggregator", aggregator_col(groups)).withColumn(
        "target", F.col(target).cast("string")
    )


def _cap_buckets(counts: DataFrame, max_num_aggregators: int | None,
                 max_num_targets: int | None, count_col: str) -> DataFrame:
    """Terms-agg bucket caps (ref T2, es.py:755,762: ES truncates to the
    `size:` largest buckets; defaults 100k). Exact groupBy needs no cap for
    correctness — these reproduce the reference's truncation when a config
    relies on it. None = exact (the default and the recommended mode)."""
    from pyspark.sql.window import Window

    out = counts
    if max_num_targets is not None and "target" in out.columns:
        w = Window.partitionBy("aggregator").orderBy(
            F.desc(count_col), F.asc("target"))
        out = out.withColumn("_rk", F.row_number().over(w)).where(
            F.col("_rk") <= max_num_targets).drop("_rk")
    if max_num_aggregators is not None:
        top = (
            out.groupBy("aggregator")
            .agg(F.sum(count_col).alias("_tot"))
            .orderBy(F.desc("_tot"), F.asc("aggregator"))
            .limit(max_num_aggregators)
            .select("aggregator")
        )
        out = out.join(F.broadcast(top), "aggregator", "left_semi")
    return out


def _non_outlier_samples(flagged: DataFrame) -> DataFrame:
    """≤3 non-outlier target values per aggregator, recorded as an
    observation (ref A10, terms.py:432-438 uses random.sample — here the
    sample is the 3 smallest distinct values: deterministic, documented
    divergence)."""
    return (
        flagged.where(~F.col("is_outlier"))
        .groupBy("aggregator")
        .agg(
            F.concat_ws(
                ",", F.slice(F.sort_array(F.collect_set("target")), 1, 3)
            ).alias("non_outlier_values_sample")
        )
    )


def terms_within(
    df: DataFrame,
    groups: list[str],
    target: str,
    trigger_method: str,
    trigger_sensitivity: float,
    trigger_on: str,
    min_target_buckets: int | None = None,
    max_num_aggregators: int | None = None,
    max_num_targets: int | None = None,
) -> DataFrame:
    """One pass (no whitelist): rows + term_count/decision_frontier/
    is_outlier/non_outlier_values_sample."""
    base = _prepare(df, groups, target)
    counts = base.groupBy("aggregator", "target").agg(
        F.count("*").cast("long").alias("term_count")
    )
    counts = _cap_buckets(counts, max_num_aggregators, max_num_targets,
                          "term_count")
    if min_target_buckets:
        ok = counts.groupBy("aggregator").agg(
            F.count("*").alias("_nb")
        ).where(F.col("_nb") >= min_target_buckets).select("aggregator")
        counts = counts.join(ok, "aggregator", "left_semi")
    # `flagged` is read by the samples and the row join; its row count
    # comes from the materializing job
    flagged, n_groups = materialize(flag_outliers(
        counts, ["aggregator"], "term_count",
        trigger_method, trigger_sensitivity, trigger_on,
    ), count=True)
    samples = _non_outlier_samples(flagged)
    flag_sel = flagged.select(
        "aggregator", "target", "term_count", "decision_frontier",
        "is_outlier")
    # guide §3.1: broadcast the group-sized side when it provably fits —
    # the row-level result then streams through two broadcast joins with
    # ZERO row-side shuffles (vs two full sort-merge exchanges of the
    # corpus). Materialized frames carry no size stats, so the planner
    # cannot make this call itself; the row count observed while
    # materializing does, and keeps unbounded-cardinality aggregators on
    # the sort-merge path.
    if n_groups <= BROADCAST_GROUP_ROWS:
        flag_sel = F.broadcast(flag_sel)
        samples = F.broadcast(samples)
    return base.join(
        flag_sel,
        ["aggregator", "target"],
        "inner",
    ).join(samples, "aggregator", "left")


def terms_across(
    df: DataFrame,
    groups: list[str],
    target: str,
    trigger_method: str,
    trigger_sensitivity: float,
    trigger_on: str,
    max_num_aggregators: int | None = None,
) -> DataFrame:
    """One pass: rows + unique_target_count/decision_frontier/is_outlier.
    The frontier is GLOBAL (one per window), computed over per-aggregator
    distinct-target counts (ref terms.py:229-255)."""
    base = _prepare(df, groups, target)
    counts = base.groupBy("aggregator").agg(
        F.countDistinct("target").cast("long").alias("unique_target_count")
    )
    counts = _cap_buckets(counts, max_num_aggregators, None,
                          "unique_target_count")
    # same shape as terms_within: broadcast back to rows when it fits
    flagged, n_groups = materialize(flag_outliers(
        counts, [], "unique_target_count",
        trigger_method, trigger_sensitivity, trigger_on,
    ), count=True)
    flag_sel = flagged.select(
        "aggregator", "unique_target_count", "decision_frontier",
        "is_outlier")
    if n_groups <= BROADCAST_GROUP_ROWS:
        flag_sel = F.broadcast(flag_sel)
    return base.join(
        flag_sel,
        "aggregator",
        "inner",
    )


def terms_outliers(
    df: DataFrame,
    groups: list[str],
    target: str,
    target_count_method: str,
    trigger_method: str,
    trigger_sensitivity: float,
    trigger_on: str,
    min_target_buckets: int | None = None,
    whitelist_literals: list[list[str]] | None = None,
    whitelist_regexps: list[list[str]] | None = None,
    max_fixpoint_iters: int = 20,
) -> DataFrame:
    """Full analyzer incl. whitelist-retract fixpoint → outlier rows only."""

    def one_pass(d: DataFrame) -> DataFrame:
        if target_count_method == "within_aggregator":
            return terms_within(d, groups, target, trigger_method,
                                trigger_sensitivity, trigger_on,
                                min_target_buckets)
        if target_count_method == "across_aggregators":
            return terms_across(d, groups, target, trigger_method,
                                trigger_sensitivity, trigger_on)
        raise ValueError(f"unexpected target count method {target_count_method}")

    return retract_fixpoint(one_pass, df, whitelist_literals,
                            whitelist_regexps, max_fixpoint_iters)
