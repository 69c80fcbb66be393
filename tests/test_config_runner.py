"""Config layer: INI use-case parsing (reference format) + end-to-end
run_all tick into an OutlierStore."""

import datetime as dt
import os
import re
import textwrap

from ee_outliers_spark.config import (
    AnalyzerSpec, load_use_cases, parse_duration, run_all, run_analyzer,
)
from ee_outliers_spark.sources.results import OutlierStore

INI = """
[simplequery_powershell_hidden]
es_query_filter=powershell AND "hidden window"
outlier_type=powershell
outlier_reason=hidden powershell window
outlier_summary=hidden powershell on {host}
run_model=1

[terms_rare_host_process]
es_query_filter=_exists_:host
aggregator=proc
target=host
target_count_method=across_aggregators
trigger_on=low
trigger_method=float
trigger_sensitivity=2
outlier_summary=rare process {proc}
run_model=1

[metrics_long_cmdline]
aggregator=host
target=text
metric=length
trigger_on=high
trigger_method=float
trigger_sensitivity=30
run_model=0

[not_an_analyzer]
foo=bar
"""


def test_parse_use_cases(tmp_path):
    p = tmp_path / "cases.conf"
    p.write_text(textwrap.dedent(INI))
    specs = load_use_cases(str(p))
    assert [s.name for s in specs] == [
        "simplequery_powershell_hidden", "terms_rare_host_process",
        "metrics_long_cmdline",
    ]
    sq, tm, mt = specs
    assert sq.model_type == "simplequery"
    assert tm.aggregator == ["proc"] and tm.trigger_sensitivity == 2.0
    assert mt.run_model is False
    assert parse_duration("001:12:30") == dt.timedelta(days=1, hours=12, minutes=30)


def _events(spark):
    rows = [
        (1, "powershell -W hidden window run", "hostA", "pwsh"),
        (2, "powershell plain", "hostA", "pwsh"),
        (3, "explorer stuff", "hostB", "explorer"),
        (4, "svc beacon", "hostB", "rare.exe"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, host string, proc string")


def test_run_analyzer_simplequery_render(spark):
    spec = AnalyzerSpec(
        name="simplequery_x", model_type="simplequery",
        es_query_filter='powershell AND "hidden window"',
        outlier_summary="hidden powershell on {host}",
    )
    out = run_analyzer(_events(spark), spec)
    rows = out.collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["outlier_summary"] == "hidden powershell on hostA"
    assert rows[0]["model_name"] == "simplequery_x"


WL_INI = """
[simplequery_powershell_hidden]
es_query_filter=powershell AND "hidden window"
outlier_summary=hidden powershell on {host}
run_model=1

[terms_rare_host_process]
es_query_filter=_exists_:host
aggregator=proc
target=host
target_count_method=across_aggregators
trigger_on=low
trigger_method=float
trigger_sensitivity=2
run_model=1

[whitelist_literals]
known_admin_host=hostA

[whitelist_regexps]
trusted_procs=^expl.*$,^hostB$
"""


def test_whitelists_from_ini(spark, tmp_path):
    """Ref analyzerfactory.py:76-83: the file's whitelist sections attach to
    every model; whitelisted flagged docs are retracted (and for terms the
    frontier is recomputed — the fixpoint)."""
    p = tmp_path / "wl.conf"
    p.write_text(textwrap.dedent(WL_INI))
    specs = load_use_cases(str(p))
    assert all(s.whitelist_literals == [["hostA"]] for s in specs)
    assert all(s.whitelist_regexps == [["^expl.*$", "^hostB$"]] for s in specs)
    sq = run_analyzer(_events(spark), specs[0])
    # doc 1 matched the query but carries hostA -> whitelisted away
    assert sq.count() == 0
    tm = run_analyzer(_events(spark), specs[1])
    got = sorted(r["doc_id"] for r in tm.collect())
    # without whitelists all 4 flagged; hostA docs (1,2) retracted by the
    # literal, doc 3 by the regex conjunction (explorer+hostB); doc 4 stays
    assert got == [4]


def test_run_analyzer_word2vec(spark):
    spec = AnalyzerSpec(
        name="word2vec_cmdline", model_type="word2vec",
        aggregator=["host"], target="text",
        trigger_method="stdev", trigger_sensitivity=0.5, trigger_on="low",
    )
    rows = [
        (i, "run job batch run job batch queue", "hostA", "p") for i in range(8)
    ] + [(99, "zz yy xx ww vv uu tt", "hostA", "p")]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, host string, proc string")
    out = run_analyzer(df, spec)
    got = [r["doc_id"] for r in out.collect()]
    assert got == [99]
    assert out.columns.count("doc_id") == 1


def test_word2vec_from_ini(tmp_path):
    p = tmp_path / "w2v.conf"
    p.write_text(textwrap.dedent("""
    [word2vec_text_anomaly]
    aggregator=host
    target=text
    trigger_on=low
    trigger_method=stdev
    trigger_sensitivity=1
    size_window=3
    max_voc_size=100
    min_voc_occurrence=2
    """))
    (spec,) = load_use_cases(str(p))
    assert spec.model_type == "word2vec"
    assert spec.word2vec_window == 3
    assert spec.max_voc_size == 100
    assert spec.min_voc_occurrence == 2


def test_simplequery_highlight_match(spark):
    spec = AnalyzerSpec(
        name="simplequery_hl", model_type="simplequery",
        es_query_filter='powershell AND "hidden window"',
        highlight_match=True,
    )
    rows = run_analyzer(_events(spark), spec).collect()
    assert len(rows) == 1
    assert rows[0]["matched_fields"] == (
        "<value>powershell</value> -W <value>hidden window</value> run")
    assert rows[0]["matched_values"] == "powershell,hidden window"


def test_run_daemon_and_summary(spark):
    import datetime as dtm

    from ee_outliers_spark.config import analysis_summary, run_daemon

    spec = AnalyzerSpec(
        name="simplequery_ps", model_type="simplequery",
        es_query_filter="powershell",
    )
    now = [dtm.datetime(2024, 1, 1, 23, 59)]

    def clock():
        return now[0]

    def sleeper(secs):
        now[0] = now[0] + dtm.timedelta(seconds=secs)

    stats = run_daemon(lambda: _events(spark), [spec], schedule="0 0 * * *",
                       max_ticks=2, clock=clock, sleeper=sleeper)
    assert len(stats) == 2
    assert all(s["total_outliers"] == 2 for s in stats)
    summ = analysis_summary(stats)
    assert summ["total_use_cases_processed"] == 2
    assert summ["total_outliers_detected"] == 4
    assert len(summ["most_time_consuming_use_cases_top10"]) == 2


def test_run_all_into_store(spark, tmp_path):
    p = tmp_path / "cases.conf"
    p.write_text(textwrap.dedent(INI))
    specs = load_use_cases(str(p))
    store = OutlierStore(spark, str(tmp_path / "outliers.parquet"))
    counts = run_all(_events(spark), specs, store=store)
    assert counts["simplequery_powershell_hidden"] == 1
    assert "metrics_long_cmdline" not in counts  # run_model=0
    # terms across: each proc has 1 distinct host; frontier 'float' 2 low
    # flags every aggregator (1 < 2) -> all 4 docs
    assert counts["terms_rare_host_process"] == 4
    # idempotent re-run inserts nothing
    counts2 = run_all(_events(spark), specs, store=store)
    assert sum(counts2.values()) == 0
    df = store.read()
    assert df.where("model_name = 'simplequery_powershell_hidden'").count() == 1


def _write_jobs(path) -> set:
    """The write-job UUIDs named in a parquet table's part files."""
    return {m.group(1) for f in os.listdir(path)
            if (m := re.match(r"part-\d+-([0-9a-f-]{36})-c\d+", f))}


def test_run_all_one_write_per_tick(spark, tmp_path):
    """run_all merges every spec's outliers with ONE write: the store holds
    the part files of a single write job, and its counts and rows equal a
    store filled by one run_analyzer + upsert per spec. A spec without
    outliers reports 0, and a rerun reports 0 for every model."""
    p = tmp_path / "cases.conf"
    p.write_text(textwrap.dedent(INI))
    specs = load_use_cases(str(p)) + [AnalyzerSpec(
        name="simplequery_nothing", model_type="simplequery",
        es_query_filter="nosuchword")]
    enabled = [s.name for s in specs if s.run_model]
    store = OutlierStore(spark, str(tmp_path / "merged.parquet"))
    counts = run_all(_events(spark), specs, store=store)
    assert list(counts) == enabled
    assert counts["simplequery_nothing"] == 0
    assert len(_write_jobs(store.path)) == 1

    per_spec = OutlierStore(spark, str(tmp_path / "per_spec.parquet"))
    want = {}
    for spec in specs:
        want.update(run_all(_events(spark), [spec], store=per_spec))
    assert counts == want
    assert sorted(store.read().collect()) == sorted(per_spec.read().collect())

    assert run_all(_events(spark), specs, store=store) == dict.fromkeys(
        enabled, 0)
    assert len(_write_jobs(store.path)) == 1


def test_ini_runner_uses_index(spark, documents, tmp_path):
    """The production INI path compiles es_query_filter through the posting
    lists when an index is supplied: the physical plan scans segments.parquet
    and contains NO rlike for single-token terms — the engine's machinery
    reaches the product entry point, not just the gates."""
    import textwrap as _tw

    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.queryparser import parse_query_string, to_spark_predicate

    idx = build_segments(spark, documents, "doc_id", "text",
                         str(tmp_path / "idx"), num_segments=4)
    p = tmp_path / "cases.conf"
    p.write_text(_tw.dedent("""
        [simplequery_window_en]
        es_query_filter=window AND customer AND _exists_:lang
        outlier_summary=windowed doc {doc_id}
        run_model=1

        [terms_rare_source_filtered]
        es_query_filter=window AND batch
        aggregator=lang
        target=source
        target_count_method=across_aggregators
        trigger_on=low
        trigger_method=float
        trigger_sensitivity=99
        run_model=1
    """))
    specs = load_use_cases(str(p))
    sq, tm = specs

    out = run_analyzer(documents, sq, text_col="text", key_col="doc_id",
                       index=idx)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rlike" not in plan.lower()
    # the text atoms resolve in the segment kernel (a MapInPandas of
    # run_segment_kernel's task function over a Range)
    from test_index_bm25 import _segment_kernel_nodes

    assert _segment_kernel_nodes(plan), plan
    # identical rows to the regex compilation
    node = parse_query_string(sq.es_query_filter)
    want = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node, "text", documents.columns)
    ).select("doc_id").collect())
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == want and got

    # non-simplequery analyzers route their filter through the index too
    out2 = run_analyzer(documents, tm, text_col="text", key_col="doc_id",
                        index=idx)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "rlike" not in plan2.lower()
    assert out2.count() >= 0  # executes

    # run_all forwards the index
    res = run_all(documents, [sq], key_col="doc_id", text_col="text",
                  index=idx)
    assert res["simplequery_window_en"] == len(got)


def test_cli_main_interactive(spark, sf_dir, tmp_path):
    """The `python -m ee_outliers_spark interactive` surface (reference run
    modes, app/helpers/settings.py:10-49): INI use cases + parquet corpus +
    index + MERGE sink, end to end, returning the run summary."""
    import textwrap as _tw

    from ee_outliers_spark.__main__ import main

    cases = tmp_path / "cases.conf"
    cases.write_text(_tw.dedent("""
        [simplequery_windowed]
        es_query_filter=window AND customer
        outlier_type=test
        outlier_summary=doc {doc_id}
        run_model=1
    """))
    summary = main([
        "interactive",
        "--use-cases", str(cases),
        "--data", sf_dir,
        "--index", str(tmp_path / "idx"),
        "--results", str(tmp_path / "store"),
    ], spark=spark)
    assert summary["total_use_cases_processed"] == 1
    assert summary["total_outliers_detected"] > 0
    # the MERGE sink got the rows; a second run inserts zero (idempotent)
    summary2 = main([
        "interactive",
        "--use-cases", str(cases),
        "--data", sf_dir,
        "--index", str(tmp_path / "idx"),
        "--results", str(tmp_path / "store"),
    ], spark=spark)
    assert summary2["total_outliers_detected"] == 0


def test_ini_runner_multiterm_forms(spark, documents, tmp_path):
    """A use-case file exercising the round-3 grammar — wildcard, fuzzy,
    sloppy phrase, boost, field group — runs through the indexed product
    path and matches the regex/HOF compilation of the same AST."""
    import textwrap as _tw

    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.queryparser import (
        parse_query_string, to_spark_predicate,
    )

    idx = build_segments(spark, documents, "doc_id", "text",
                         str(tmp_path / "idx"), num_segments=4,
                         positions=True)
    p = tmp_path / "cases.conf"
    p.write_text(_tw.dedent("""
        [simplequery_multiterm]
        es_query_filter=cust*^2 AND "order key"~2 AND lang:(en OR de) AND NOT batc?
        outlier_summary=multiterm doc {doc_id}
        run_model=1
    """))
    spec, = load_use_cases(str(p))
    out = run_analyzer(documents, spec, text_col="text", key_col="doc_id",
                       index=idx)
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    node = parse_query_string(spec.es_query_filter)
    want = sorted(r["doc_id"] for r in documents.where(
        to_spark_predicate(node, "text", documents.columns)
    ).select("doc_id").collect())
    assert got == want


def _clear_job_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


def _shapes_specs() -> list:
    """One spec per filter shape run_all's shared window must reproduce."""
    def terms(name, flt, agg, target, method, sens, **kw):
        return AnalyzerSpec(
            name=name, model_type="terms", es_query_filter=flt,
            aggregator=[agg], target=target, target_count_method=method,
            trigger_on="low", trigger_method="float",
            trigger_sensitivity=sens, outlier_summary=f"{{{agg}}}", **kw)

    return [
        AnalyzerSpec(
            name="metrics_no_filter", model_type="metrics",
            aggregator=["lang"], target="text", metric="length",
            trigger_on="high", trigger_method="stdev",
            trigger_sensitivity=1.0),
        terms("terms_field_range", "lang:(en OR de) AND n_chars:[100 TO 400]",
              "lang", "source", "within_aggregator", 4),
        terms("terms_pure_negation", "NOT batch", "source", "lang",
              "across_aggregators", 5),
        AnalyzerSpec(name="simplequery_phrase", model_type="simplequery",
                     es_query_filter='"order key" AND customer',
                     outlier_reason="phrase in {lang}"),
        AnalyzerSpec(name="simplequery_highlight", model_type="simplequery",
                     es_query_filter="window AND NOT vector",
                     highlight_match=True),
        terms("terms_whitelisted", "customer", "lang", "source",
              "within_aggregator", 6, whitelist_literals=[["en"]],
              whitelist_regexps=[["^src1$"]]),
    ]


def test_run_all_shared_window_equals_per_spec(spark, documents, tmp_path):
    """run_all's one filter pass and shared window give the same per-model
    counts and store rows as one run_analyzer + upsert per spec, for every
    filter shape at once — no filter, field/range, a pure negation (no
    guaranteed text atom), a phrase, a highlighted simplequery and a
    whitelisted spec — with an index and without one."""
    import datetime as dtm

    from ee_outliers_spark.config import _staged
    from ee_outliers_spark.index.build import build_segments
    from pyspark.sql import functions as F

    docs = documents.withColumn(
        "ts", F.timestamp_seconds(F.lit(1_700_000_000) + F.col("doc_id") * 60))
    history = (dtm.datetime(2023, 11, 14, 23), dtm.datetime(2023, 11, 15, 3))
    idx = build_segments(spark, documents, "doc_id", "text",
                         str(tmp_path / "idx"), num_segments=4,
                         positions=True)
    specs = _shapes_specs()
    kw = dict(key_col="doc_id", text_col="text", ts_col="ts",
              history=history)
    for name, index in (("indexed", idx), ("regex", None)):
        store = OutlierStore(spark, str(tmp_path / f"{name}_all"))
        counts = run_all(docs, specs, store=store, index=index, **kw)

        per_spec = OutlierStore(spark, str(tmp_path / f"{name}_per_spec"))
        want = {}
        for spec in specs:
            per_spec.upsert(_staged(
                run_analyzer(docs, spec, index=index, **kw), "doc_id", None))
            want[spec.name] = per_spec.last_inserted.get(spec.name, 0)
        assert counts == want, name
        assert all(want.values()), want
        assert (sorted(store.read().collect())
                == sorted(per_spec.read().collect())), name


def _segment_kernel_queries(spark, group: str) -> int:
    """SQL executions with a job in job group ``group`` whose physical plan
    runs a segment kernel (``build.run_segment_kernel``'s MapInPandas)."""
    jobs = set(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    n = 0
    for i in range(execs.size()):
        e = execs.apply(i)
        it = e.jobs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(int(it.next()))
        if ids & jobs and "segment_kernel(" in e.physicalPlanDescription():
            n += 1
    return n


def test_run_all_runs_one_segment_kernel_job(spark, documents, tmp_path):
    """With an index, every spec's es_query_filter is evaluated in ONE
    segment-kernel pass; the analyzers then read the materialized window,
    so no other query of the tick runs a kernel. (When each spec filtered
    on its own, the analyzers' sizing materializations and the shared
    upsert each ran the kernels of their specs again.)"""
    from ee_outliers_spark.index.build import build_segments

    idx = build_segments(spark, documents, "doc_id", "text",
                         str(tmp_path / "idx"), num_segments=4,
                         positions=True)
    specs = [s for s in _shapes_specs() if s.es_query_filter][:4]
    store = OutlierStore(spark, str(tmp_path / "store"))
    sc = spark.sparkContext
    sc.setJobGroup("run-all-kernels", "run-all-kernels")
    try:
        counts = run_all(documents, specs, store=store, key_col="doc_id",
                         text_col="text", index=idx)
    finally:
        _clear_job_group(sc)
    assert sum(counts.values()) > 0
    assert _segment_kernel_queries(spark, "run-all-kernels") == 1


def test_run_all_threads_raise_and_inherit_job_group(spark, monkeypatch):
    """The specs are planned on worker threads: their jobs carry the
    caller's job group (no job of the call runs without one), and an
    analyzer's exception is raised from run_all."""
    import threading

    from ee_outliers_spark import config

    sc = spark.sparkContext
    planners = set()
    terms = config.terms_outliers

    def spy(*args, **kwargs):
        planners.add(threading.current_thread().name)
        return terms(*args, **kwargs)

    monkeypatch.setattr(config, "terms_outliers", spy)
    specs = [
        AnalyzerSpec(name=f"terms_{m}", model_type="terms", aggregator=["proc"],
                     target="host", target_count_method=m, trigger_on="low",
                     trigger_method="float", trigger_sensitivity=2)
        for m in ("within_aggregator", "across_aggregators")]
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("run-all-threads", "run-all-threads")
    try:
        counts = run_all(_events(spark), specs)
    finally:
        _clear_job_group(sc)
    assert counts == {"terms_within_aggregator": 2,
                      "terms_across_aggregators": 4}
    assert planners and threading.current_thread().name not in planners
    assert sc.statusTracker().getJobIdsForGroup("run-all-threads")
    assert set(sc.statusTracker().getJobIdsForGroup(None)) == ungrouped

    def boom(*args, **kwargs):
        raise RuntimeError("analyzer failed")

    monkeypatch.setattr(config, "terms_outliers", boom)
    import pytest

    with pytest.raises(RuntimeError, match="analyzer failed"):
        run_all(_events(spark), specs)


def test_materialize_counts_without_a_job(spark):
    """materialize(df, count=True) returns the row count observed by the
    materializing job: it runs exactly the jobs materialize(df) runs."""
    from ee_outliers_spark.session import empty_frame, materialize

    sc = spark.sparkContext
    for what, df, want in (
            ("rows", spark.range(50).where("id % 7 = 0"), 8),
            ("empty", spark.range(50).where("id < 0"), 0),
            ("local-empty", empty_frame(spark, "a long"), 0)):
        jobs = {}
        for count in (False, True):
            group = f"materialize-{what}-{count}"
            sc.setJobGroup(group, group)
            try:
                got = materialize(df, count=count)
            finally:
                _clear_job_group(sc)
            jobs[count] = len(sc.statusTracker().getJobIdsForGroup(group))
        frame, n = got
        assert n == want and frame.count() == want, what
        assert jobs[True] == jobs[False], what


def test_repeated_run_all_compiles_no_class(spark, documents, tmp_path):
    """The generated-class cache holds a whole tick (more classes than
    Spark's default cache of 100): a second identical run_all compiles
    nothing."""
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for i in range(2):
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        run_all(documents, _shapes_specs(), key_col="doc_id", text_col="text",
                store=OutlierStore(spark, str(tmp_path / f"store{i}")))
        compiles.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiles[1] == 0, compiles
