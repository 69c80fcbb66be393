"""Use-case config layer (SURVEY S7; /root/reference/app/outliers.py:234-246,
app/helpers/analyzerfactory.py:12-86, app/helpers/analyzer.py:66-116).

Same INI shape as the reference's use_cases/*.conf: section name prefix picks
the analyzer class (``simplequery_* | terms_* | metrics_* |
sudden_appearance_* | word2vec_*``); keys mirror the reference
(``es_query_filter, aggregator, target, target_count_method, trigger_on,
trigger_method, trigger_sensitivity, outlier_type/reason/summary,
run_model``). Aggregators are comma-separated column lists.

Reference keys this engine does not implement (a use-case file that sets
them runs as if they were absent): ``use_derived_fields`` and the
outliers.conf ``[derivedfields]`` grok patterns; word2vec's
``trigger_focus`` and ``trigger_score`` (texts are scored by their center
words); and the outliers.conf ``[general]`` settings, whose run-time
choices are CLI arguments here (``python -m ee_outliers_spark``).

``run_analyzer`` executes one spec against an events DataFrame and returns
the outlier rows with rendered reason/summary columns; ``run_all`` executes
every enabled spec and merges all their outliers into an OutlierStore in one
write — one tick of the reference daemon (§3.1's perform_analysis,
distributed). ``run_all`` plans the tick once, as the reference's cluster
shares the work of its use cases' queries: one filter pass over every
spec's es_query_filter builds one shared, materialized window, and the
analyzers are then planned concurrently on their slices of it.
"""

from __future__ import annotations

import configparser
import datetime as dt
import functools
import glob as _glob
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions.render import render_template, wrap_summary
from .operators.metrics_analyzer import metrics_outliers
from .operators.sudden import sudden_appearance
from .operators.terms import terms_outliers
from .queryparser import (
    MatchAll, Or, parse_query_string, resolve_analyzed, to_spark_predicate,
)
from .session import materialize

ANALYZER_PREFIXES = ("simplequery", "terms", "metrics", "sudden_appearance",
                     "word2vec")


@dataclass
class AnalyzerSpec:
    name: str
    model_type: str
    es_query_filter: str | None = None
    aggregator: list[str] = field(default_factory=list)
    target: str | None = None
    target_count_method: str | None = None
    metric: str | None = None
    trigger_on: str | None = None
    trigger_method: str | None = None
    trigger_sensitivity: float | None = None
    min_target_buckets: int | None = None
    outlier_type: str | None = None
    outlier_reason: str | None = None
    outlier_summary: str | None = None
    run_model: bool = True
    highlight_match: bool = False
    # sudden_appearance extras (DDD:HH:MM in the reference; we take timedeltas)
    history_start: dt.datetime | None = None
    history_end: dt.datetime | None = None
    sliding_window_size: dt.timedelta | None = None
    sliding_window_step_size: dt.timedelta | None = None
    # word2vec extras (ml_models/word2vec.py defaults)
    word2vec_window: int = 2
    max_voc_size: int = 6000
    min_voc_occurrence: int = 1
    # per-file whitelists (ref analyzerfactory.py:76-83 attaches the file's
    # [whitelist_literals]/[whitelist_regexps] sections to every model in it)
    whitelist_literals: list[list[str]] = field(default_factory=list)
    whitelist_regexps: list[list[str]] = field(default_factory=list)


def parse_duration(s: str) -> dt.timedelta:
    """'DDD:HH:MM' (ref sudden_appearance.py:36-50)."""
    d, h, m = (int(x) for x in s.split(":"))
    return dt.timedelta(days=d, hours=h, minutes=m)


def load_use_cases(pattern_or_paths) -> list[AnalyzerSpec]:
    """Glob-expanded INI files, multi-section (ref analyzerfactory.py:56-86)."""
    if isinstance(pattern_or_paths, str):
        paths = sorted(_glob.glob(pattern_or_paths))
    else:
        paths = list(pattern_or_paths)
    specs: list[AnalyzerSpec] = []
    for path in paths:
        cp = configparser.ConfigParser(interpolation=None)
        cp.read(path)
        # file-scoped whitelists: each literals value is a comma-separated
        # CONJUNCTION; each regexps value a comma-separated set of patterns
        # that must all match (ref settings.py:73-111)
        wl_lit = [
            [x.strip() for x in v.split(",") if x.strip()]
            for _, v in (cp["whitelist_literals"].items()
                         if "whitelist_literals" in cp else [])
        ]
        wl_rx = [
            [x.strip() for x in v.split(",") if x.strip()]
            for _, v in (cp["whitelist_regexps"].items()
                         if "whitelist_regexps" in cp else [])
        ]
        for section in cp.sections():
            prefix = next(
                (p for p in ANALYZER_PREFIXES if section.startswith(p + "_")), None
            )
            if prefix is None:
                continue
            sec = cp[section]
            spec = AnalyzerSpec(
                name=section,
                model_type=prefix,
                es_query_filter=sec.get("es_query_filter"),
                aggregator=[a.strip() for a in sec.get("aggregator", "").split(",")
                            if a.strip()],
                target=sec.get("target") or None,
                target_count_method=sec.get("target_count_method") or None,
                metric=sec.get("metric") or None,
                trigger_on=sec.get("trigger_on") or None,
                trigger_method=sec.get("trigger_method") or None,
                trigger_sensitivity=sec.getfloat("trigger_sensitivity", fallback=None),
                min_target_buckets=sec.getint("min_target_buckets", fallback=None),
                outlier_type=sec.get("outlier_type"),
                outlier_reason=sec.get("outlier_reason"),
                outlier_summary=sec.get("outlier_summary"),
                run_model=sec.getboolean("run_model", fallback=True),
                highlight_match=sec.getboolean("highlight_match",
                                               fallback=False),
                whitelist_literals=wl_lit,
                whitelist_regexps=wl_rx,
            )
            if prefix == "word2vec":
                spec.word2vec_window = sec.getint("size_window", fallback=2)
                spec.max_voc_size = sec.getint("max_voc_size", fallback=6000)
                spec.min_voc_occurrence = sec.getint(
                    "min_voc_occurrence", fallback=1)
            if prefix == "sudden_appearance":
                if sec.get("sliding_window_size"):
                    spec.sliding_window_size = parse_duration(sec["sliding_window_size"])
                if sec.get("sliding_window_step_size"):
                    spec.sliding_window_step_size = parse_duration(
                        sec["sliding_window_step_size"])
            specs.append(spec)
    return specs


def _retract_whitelisted(out: DataFrame, source_cols, spec: AnalyzerSpec) -> DataFrame:
    """Drop flagged rows matching the spec's whitelists (ref outlier.py:66-110;
    terms/metrics do this inside their fixpoint — this is the single-pass
    variant for analyzers whose frontier doesn't depend on the flagged set)."""
    if not (spec.whitelist_literals or spec.whitelist_regexps):
        return out
    from .operators.whitelist import value_set_col, whitelist_predicate

    usable = [c for c in source_cols if c in out.columns]
    wl = whitelist_predicate(
        value_set_col(out, usable), spec.whitelist_literals,
        spec.whitelist_regexps,
    )
    return out.where(~wl)


#: Helper column of ``run_all``'s shared window: the indices, in enabled-spec
#: order, of the use cases whose filter a row matches.
WINDOW_SPECS_COL = "__run_all_specs"


def run_analyzer(
    df: DataFrame,
    spec: AnalyzerSpec,
    text_col: str = "text",
    ts_col: str | None = None,
    history: tuple[dt.datetime, dt.datetime] | None = None,
    key_col: str = "doc_id",
    index=None,
) -> DataFrame:
    """Execute one spec → outlier rows + (outlier_type/reason/summary).

    ``index`` (an index.build.IndexPaths for the df's corpus) makes every
    es_query_filter compile through the posting lists (index/filter.py) —
    text atoms resolve in the per-segment posting-list kernel instead of
    per-row regex scans, exactly like the gated filter-context path. Without it the
    runner falls back to the regex compilation (small corpora / no index).

    A frame that carries ``WINDOW_SPECS_COL`` is one spec's slice of
    ``run_all``'s shared window, whose filter and time range were applied
    when the window was built: it goes straight to the model step."""
    if WINDOW_SPECS_COL in df.columns:
        return _run_model(df.drop(WINDOW_SPECS_COL), spec, text_col, ts_col,
                          history, key_col)
    work = df
    if spec.es_query_filter:
        node = parse_query_string(spec.es_query_filter)
        if index is not None:
            from .index.filter import indexed_filter

            work = indexed_filter(df.sparkSession, index, work, key_col,
                                  text_col, node, df.columns)
        else:
            work = work.where(to_spark_predicate(node, text_col, df.columns))
    if ts_col and history:
        work = work.where(F.col(ts_col).between(*history))
    return _run_model(work, spec, text_col, ts_col, history, key_col)


def _run_model(
    work: DataFrame,
    spec: AnalyzerSpec,
    text_col: str,
    ts_col: str | None,
    history: tuple[dt.datetime, dt.datetime] | None,
    key_col: str,
) -> DataFrame:
    """The model step of ``run_analyzer``: the spec's analyzer over the
    rows its filter and time range selected (``work``), with the rendered
    outlier columns. A simplequery spec's outliers are those rows."""
    wl = dict(whitelist_literals=spec.whitelist_literals or None,
              whitelist_regexps=spec.whitelist_regexps or None)
    if spec.model_type == "simplequery":
        out = work
        if spec.highlight_match and spec.es_query_filter:
            # ref highlight_match (es.py:567-587 + simplequery.py:83-93):
            # <value>-wrapped fragment + the extracted matched values
            from .operators.simplequery import (
                extract_matched_values, highlight_fragment,
            )

            out = out.withColumn(
                "matched_fields",
                highlight_fragment(spec.es_query_filter, text_col),
            ).withColumn(
                "matched_values",
                F.concat_ws(",", extract_matched_values("matched_fields")),
            )
        out = _retract_whitelisted(out, work.columns, spec)
    elif spec.model_type == "terms":
        out = terms_outliers(
            work, spec.aggregator, spec.target, spec.target_count_method,
            spec.trigger_method, spec.trigger_sensitivity, spec.trigger_on,
            min_target_buckets=spec.min_target_buckets, **wl,
        )
    elif spec.model_type == "metrics":
        out = metrics_outliers(
            work, spec.aggregator, spec.target, spec.metric,
            spec.trigger_method, spec.trigger_sensitivity, spec.trigger_on,
            **wl,
        )
    elif spec.model_type == "sudden_appearance":
        start, end = history if history else (spec.history_start, spec.history_end)
        out = sudden_appearance(
            work, spec.aggregator, spec.target, ts_col, start, end,
            spec.sliding_window_size, spec.sliding_window_step_size,
        )
        out = _retract_whitelisted(out, work.columns, spec)
    elif spec.model_type == "word2vec":
        from .operators.word2vec import word2vec_outliers

        out = word2vec_outliers(
            work, spec.aggregator, key_col, spec.target or text_col,
            spec.trigger_method or "stdev", spec.trigger_sensitivity or 1.0,
            spec.trigger_on or "low",
            window=spec.word2vec_window, max_voc_size=spec.max_voc_size,
            min_voc_occurrence=spec.min_voc_occurrence,
        ).withColumnRenamed("text_id", key_col)
        out = _retract_whitelisted(out, [c for c in out.columns], spec)
    else:
        raise ValueError(f"unsupported model type {spec.model_type}")

    for col_name, tpl in (("outlier_type", spec.outlier_type),
                          ("outlier_reason", spec.outlier_reason)):
        out = out.withColumn(
            col_name, render_template(tpl, out) if tpl else F.lit(None).cast("string")
        )
    if spec.outlier_summary:
        out = out.withColumn(
            "outlier_summary", wrap_summary(render_template(spec.outlier_summary, out))
        )
    else:
        out = out.withColumn("outlier_summary", F.lit(None).cast("string"))
    return out.withColumn("model_name", F.lit(spec.name)).withColumn(
        "model_type", F.lit(spec.model_type)
    )


def _shared_window(
    df: DataFrame,
    specs: list[AnalyzerSpec],
    key_col: str,
    text_col: str,
    ts_col: str | None,
    history: tuple[dt.datetime, dt.datetime] | None,
    index,
) -> DataFrame:
    """The rows of ``df`` in the time range that match at least one spec's
    es_query_filter (a spec without one matches every row), each with
    ``WINDOW_SPECS_COL``: the indices of the specs it matches — an array,
    so the number of specs is unbounded. Materialized once.

    With an ``index``, every filter is evaluated in ONE marker-kernel pass
    over the Or of all filters, parsed against one stats snapshot, and
    each filter compiles to a predicate over the shared markers
    (``filter.marker_join``); without one, each compiles to its regex
    predicate. Either way the events are scanned once."""
    nodes = [parse_query_string(s.es_query_filter) if s.es_query_filter
             else MatchAll() for s in specs]
    columns = df.columns
    window = df
    if ts_col and history:
        window = window.where(F.col(ts_col).between(*history))
    markers: dict = {}
    if index is not None:
        from .index.build import load_stats
        from .index.filter import MARKER_COL, marker_join

        stats = load_stats(index)
        nodes = [resolve_analyzed(n, stats.get("analyzed_fields"))
                 for n in nodes]
        window, markers = marker_join(df.sparkSession, index, stats, window,
                                      key_col, Or(nodes))
    hits = F.array(*[
        F.when(to_spark_predicate(n, text_col, columns, **markers), F.lit(i))
        for i, n in enumerate(nodes)])
    window = window.withColumn(
        WINDOW_SPECS_COL, F.filter(hits, lambda x: x.isNotNull()))
    if index is not None:
        window = window.drop(MARKER_COL)
    return materialize(window.where(F.size(WINDOW_SPECS_COL) > 0))


def run_all(
    df: DataFrame,
    specs: list[AnalyzerSpec],
    store=None,
    key_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str | None = None,
    history: tuple[dt.datetime, dt.datetime] | None = None,
    detected_ts: dt.datetime | None = None,
    stats: list | None = None,
    index=None,
) -> dict[str, int]:
    """One daemon tick: run every enabled spec and merge all their outliers
    into the OutlierStore with ONE ``upsert``, as the reference sends bulk
    updates. Returns {model_name: n_new_outliers} for every enabled spec (0
    when it inserted nothing); without a store, each spec's outlier count.

    The tick is planned once. One filter pass builds one shared window of
    the events that match any spec (``_shared_window``: with an ``index``,
    every es_query_filter is evaluated in one posting-list kernel job), and
    it is materialized once. Each spec's ``run_analyzer`` then reads its
    slice of that window; the specs are planned concurrently, on a driver
    thread pool of min(enabled specs, default parallelism) threads whose
    jobs carry the caller's job group and local properties. The staged
    outliers are merged in spec order, and an analyzer's exception is
    raised from here.

    Pass ``stats=[]`` to collect per-model run records, in spec order, for
    ``analysis_summary``. A record's ``analysis_time_seconds`` is the
    spec's own time: ``run_analyzer``, plus its count when there is no
    store. The specs are planned concurrently, so these times overlap; the
    shared window and the shared write are attributed to no model."""
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    enabled = [s for s in specs if s.run_model]
    if not enabled:
        return {}
    window = _shared_window(df, enabled, key_col, text_col, ts_col, history,
                            index)

    def plan(i: int, spec: AnalyzerSpec) -> tuple[DataFrame, int, float]:
        t0 = _time.monotonic()
        out = run_analyzer(
            window.where(F.array_contains(WINDOW_SPECS_COL, i)), spec,
            text_col=text_col, ts_col=ts_col, history=history,
            key_col=key_col)
        if store is not None:
            out, n = _staged(out, key_col, detected_ts), 0
        else:
            n = out.count()
        return out, n, _time.monotonic() - t0

    # wrapped here, in the caller's thread: each task gets its own copy of
    # the local properties (job group, scheduler pool) and tags the caller
    # has set — a shared copy would let one thread's SQL execution id leak
    # into another's jobs
    spark = df.sparkSession
    tasks = [inheritable_thread_target(spark)(functools.partial(plan, i, spec))
             for i, spec in enumerate(enabled)]
    cores = spark.sparkContext.defaultParallelism
    with ThreadPoolExecutor(max_workers=min(len(enabled), cores)) as pool:
        futures = [pool.submit(task) for task in tasks]
    # every spec is planned (or failed) here; the first failure in spec
    # order is raised
    planned = [f.result() for f in futures]

    results = {spec.name: n for spec, (_, n, _) in zip(enabled, planned)}
    if store is not None:
        store.upsert(functools.reduce(DataFrame.unionByName,
                                      [out for out, _, _ in planned]))
        results.update(store.last_inserted)
    if stats is not None:
        stats.extend({
            "model_name": spec.name,
            "model_type": spec.model_type,
            "total_outliers": results[spec.name],
            "analysis_time_seconds": secs,
            "completed": True,
        } for spec, (_, _, secs) in zip(enabled, planned))
    return results


def _staged(out: DataFrame, key_col: str,
            detected_ts: dt.datetime | None) -> DataFrame:
    """One spec's outlier rows in the ``OutlierStore`` upsert columns."""
    return out.select(
        F.col(key_col).cast("string").alias("doc_key"),
        "model_name", "model_type",
        F.col("outlier_reason").alias("reason"),
        F.col("outlier_summary").alias("summary"),
        F.to_json(F.struct(
            *[c for c in ("aggregator", "target", "term_count",
                          "decision_frontier", "metric_value",
                          "non_outlier_values_sample", "observation",
                          "score")
              if c in out.columns]
        )).alias("observations"),
        F.lit(detected_ts or dt.datetime(2024, 1, 1)).alias("detected_ts"),
    )


def run_daemon(
    df_provider,
    specs: list[AnalyzerSpec],
    schedule: str = "0 0 * * *",
    max_ticks: int | None = None,
    store=None,
    clock=None,
    sleeper=None,
    **run_kwargs,
) -> list[dict]:
    """Reference daemon mode (ref ST1, app/outliers.py:103-198): fire
    run_all on each cron match. ``df_provider()`` re-reads the source each
    tick (rolling snapshot, ST2); clock/sleeper injectable for tests.
    Returns the collected per-model stats across ticks."""
    import datetime as _dt
    import time as _time

    from .streaming.cron import daemon_loop

    stats: list[dict] = []

    def tick(fire_time):
        run_all(df_provider(), specs, store=store, stats=stats,
                detected_ts=fire_time, **run_kwargs)

    daemon_loop(schedule, tick, max_ticks=max_ticks,
                clock=clock or _dt.datetime.now,
                sleeper=sleeper or _time.sleep)
    return stats


def analysis_summary(stats: list[dict]) -> dict:
    """Run-summary report (ref A9/T4, app/outliers.py:298-367
    print_analysis_summary): totals + the 10 most time-consuming use cases.
    Returns the numbers instead of logging them — callers render."""
    completed = [s for s in stats if s.get("completed")]
    times = [s["analysis_time_seconds"] for s in completed]
    slowest = sorted(
        completed, key=lambda s: s["analysis_time_seconds"], reverse=True
    )[:10]
    return {
        "total_use_cases_processed": len(stats),
        "total_outliers_detected": sum(s["total_outliers"] for s in completed),
        "succesfully_analyzed_use_cases": len(completed),
        "use_cases_with_errors": len(stats) - len(completed),
        "total_analysis_time_seconds": float(sum(times)),
        "average_analysis_time_seconds": (
            float(sum(times) / len(times)) if times else 0.0
        ),
        "most_time_consuming_use_cases_top10": [
            {
                "model": f"{s['model_type']}_{s['model_name']}"
                if not s["model_name"].startswith(s["model_type"])
                else s["model_name"],
                "total_outliers": s["total_outliers"],
                "analysis_time_seconds": s["analysis_time_seconds"],
            }
            for s in slowest
        ],
    }
