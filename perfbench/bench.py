"""Benchmark worker: one workload, one seed, one Spark session.

Started by ``perfbench/run.py``, which gives it a private run directory and
the Spark environment. It writes its result object to ``--out``.

Workloads (each one client issuing calls one after another, closed loop):

- ``search``: positional index over a seeded Zipf corpus; the timed phase
  issues whole cycles of eight query shapes (see ``SHAPES``).
- ``outlier_scan``: the ee-outliers daemon tick over a seeded events table:
  append the next batch of events to the index, compact, count the batch
  marker and two use-case filters, then ``config.run_all`` over the 7-day
  window into a fresh ``OutlierStore``.

Every answer is checked, untimed, after the timed phase (see
``expected.py``).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as sp  # noqa: E402

SETUP_REPEATS = 3
K = 10

# search: corpus size and document-frequency bands (share of docs)
SEARCH_DOCS = 20_000
BANDS = {"head": (0.05, 0.30), "mid": (0.005, 0.02), "rare": (1e-4, 1e-3)}
SHAPES = ("term_head", "term_rare", "and2", "or4", "phrase", "wildcard",
          "count", "filtered")
WARMUP = ("term_head", "phrase", "wildcard", "count", "filtered")

# outlier_scan: window size, appended batch size, compaction fan-in
SCAN_EVENTS = 10_000
BATCH_EVENTS = 250
MAX_TICKS = 6
MERGE_FANIN = 2
MODELS = ("terms_within", "terms_across", "metrics_length",
          "metrics_numerical", "simplequery", "sudden_appearance")


def perf() -> float:
    return time.perf_counter()


T_START = perf()


def package_digest() -> tuple[str, str]:
    """sha256 over the source of every ee_outliers_spark module, as the
    importing interpreter's loaders see it, plus where the package came
    from. Runs on the driver and inside a Python worker."""
    import hashlib
    import importlib.util
    import pkgutil

    import ee_outliers_spark as pkg

    names = ["ee_outliers_spark"] + sorted(
        m.name for m in pkgutil.walk_packages(pkg.__path__,
                                              "ee_outliers_spark."))
    h = hashlib.sha256()
    for name in names:
        src = importlib.util.find_spec(name).loader.get_source(name) or ""
        h.update(name.encode() + b"\0" + src.encode() + b"\0")
    return h.hexdigest(), pkg.__file__


def quantile(xs: list[float], q: int) -> float:
    """q-th percentile, linear interpolation between samples."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


@dataclass
class Ctx:
    args: argparse.Namespace
    run_dir: str
    tracer: sp.Tracer
    spark: object = None
    jobs: sp.JobCounter | None = None
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    def log(self, what: str) -> None:
        print(f"perfbench: {perf() - T_START:7.1f} s  {what}", file=sys.stderr,
              flush=True)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)


# --------------------------------------------------------------------------
# setup: session start + the initial index build, several times
# --------------------------------------------------------------------------

def start_session(ctx: Ctx) -> float:
    t0 = perf()
    from ee_outliers_spark import ensure_py_files
    from ee_outliers_spark.session import get_spark

    ctx.spark = get_spark(app_name=f"perfbench-{ctx.args.workload}")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(ctx.spark)
    start_s = perf() - t0
    ctx.jobs = sp.JobCounter(ctx.spark, ctx.tracer.enabled)
    if ctx.tracer.enabled:
        install_wrappers(ctx.tracer)
    return start_s


def install_wrappers(tracer: sp.Tracer) -> None:
    from ee_outliers_spark import config, queryparser
    from ee_outliers_spark.index import build, filter as ifilter, merge, query
    from ee_outliers_spark.operators import (
        metrics_analyzer, simplequery, sudden, terms)
    from ee_outliers_spark.sources import results
    from ee_outliers_spark.streaming import daemon

    for owner, attr, name, *attrs in [
        (queryparser, "parse_query_string", "queryparser.parse_query_string"),
        (query, "bm25_topk_wand", "index.query.bm25_topk_wand"),
        (query, "phrase_topk_wand", "index.query.phrase_topk_wand"),
        (query, "querystring_topk", "index.query.querystring_topk"),
        (query, "search_topk", "index.query.search_topk"),
        (ifilter, "matching_ids", "index.filter.matching_ids"),
        (ifilter, "indexed_filter", "index.filter.indexed_filter"),
        (build, "build_segments", "index.build.build_segments"),
        (build, "collect_sidecar_rows", "index.build.collect_sidecar_rows"),
        (build, "write_manifest", "index.build.write_manifest"),
        (build, "refresh_stats_and_termstats",
         "index.build.refresh_stats_and_termstats"),
        (build, "incremental_append_refresh",
         "index.build.incremental_append_refresh"),
        (daemon, "append_segments", "streaming.daemon.append_segments"),
        (merge, "compact_if_needed", "index.merge.compact_if_needed"),
        (merge, "merge_tier", "index.merge.merge_tier"),
        (config, "run_all", "config.run_all"),
        (config, "run_analyzer", "config.run_analyzer",
         lambda df, spec, *a, **k: {"model": spec.name}),
        (results.OutlierStore, "upsert", "sources.results.upsert"),
        (terms, "terms_outliers", "operators.terms_outliers"),
        (metrics_analyzer, "metrics_outliers", "operators.metrics_outliers"),
        (simplequery, "simplequery_outliers",
         "operators.simplequery_outliers"),
        (sudden, "sudden_appearance", "operators.sudden_appearance"),
    ]:
        tracer.wrap(owner, attr, name, *attrs)


def setup_builds(ctx: Ctx, parquet: str, n_docs: int) -> tuple[str, float]:
    """Builds the positional index ``SETUP_REPEATS`` times into fresh
    directories; returns the first index and the median build time."""
    from ee_outliers_spark.index import build

    times = []
    for i in range(SETUP_REPEATS):
        out = os.path.join(ctx.run_dir, f"idx{i}")
        t0 = perf()
        with ctx.tracer.span("setup.build"):
            docs = ctx.spark.read.parquet(parquet)
            build.build_segments(ctx.spark, docs, "doc_id", "text", out,
                                 num_segments=None, positions=True,
                                 resume=False)
        times.append(perf() - t0)
    build_s = statistics.median(times)
    ctx.layer["build_docs_per_s"] = n_docs / build_s
    return os.path.join(ctx.run_dir, "idx0"), build_s


def check_worker_import(ctx: Ctx) -> None:
    """Python workers must run the package of the tree under test."""
    want = package_digest()[0]
    got = ctx.spark.sparkContext.parallelize([0], 1).map(
        lambda _: package_digest()).collect()[0]
    ctx.check(got[0] == want,
              f"worker imported a different ee_outliers_spark ({got[1]})")


def index_bytes(idx: str) -> tuple[int, int]:
    return (dir_bytes(os.path.join(idx, "segments.parquet")),
            dir_bytes(os.path.join(idx, "termstats.parquet")))


def manifest_rates(idx: str, merges: bool) -> list[float]:
    out = []
    with open(os.path.join(idx, "manifest.jsonl")) as fh:
        for line in fh:
            if line.strip():
                rec = json.loads(line)
                is_merge = rec["lineage"].get("kind") == "tier_merge"
                if is_merge == merges and rec["build_secs"] > 0:
                    out.append(rec["postings_per_sec"])
    return out


# --------------------------------------------------------------------------
# search
# --------------------------------------------------------------------------

@dataclass
class Query:
    shape: str
    arg: object
    rows: list | None = None
    latency_s: float = 0.0
    jobs: int = 0
    tasks: int = 0


def draw_queries(rng: np.random.Generator, c: gen.Corpus,
                 bands: dict[str, np.ndarray]) -> list[Query]:
    """One cycle: one query of every shape, terms drawn from the bands."""
    w = c.words

    def pick(band: str, n: int = 1) -> list[str]:
        return [str(x) for x in w[rng.choice(bands[band], n, replace=False)]]

    d = int(rng.integers(0, c.n_docs))  # every doc has >= 3 tokens
    start, end = int(c.offsets[d]), int(c.offsets[d + 1])
    p = start + int(rng.integers(0, end - start - 1))
    return [
        Query("term_head", pick("head")),
        Query("term_rare", pick("rare")),
        Query("and2", pick("mid", 2)),
        Query("or4", pick("head") + pick("mid", 2) + pick("rare")),
        Query("phrase", [str(w[c.tokens[p]]), str(w[c.tokens[p + 1]])]),
        Query("wildcard", pick("mid")[0][:4]),
        Query("count", pick("mid") + pick("head") + pick("mid")),
        Query("filtered", pick("mid")[0]),
    ]


def run_query(ctx: Ctx, q: Query, idx, docs) -> None:
    from ee_outliers_spark import queryparser as qp
    from ee_outliers_spark.index import filter as ifilter, query as iq

    spark = ctx.spark
    with ctx.jobs.group() as g, ctx.tracer.span("search." + q.shape):
        t0 = perf()
        with ctx.tracer.span("index.query.plan"):
            if q.shape in ("term_head", "term_rare", "or4"):
                df = iq.bm25_topk_wand(spark, idx, q.arg, K, mode="or")
            elif q.shape == "and2":
                df = iq.bm25_topk_wand(spark, idx, q.arg, K, mode="and")
            elif q.shape == "phrase":
                df = iq.phrase_topk_wand(spark, idx, " ".join(q.arg), K)
            elif q.shape == "wildcard":
                df = iq.querystring_topk(spark, idx, q.arg + "*", K)
            elif q.shape == "count":
                a, b, c = q.arg
                df = ifilter.matching_ids(
                    spark, idx, qp.parse_query_string(f"{a} AND ({b} OR {c})"),
                    count_only=True)
            else:
                df = iq.search_topk(spark, idx, docs, "doc_id", "text",
                                    f"{q.arg} AND lang:de", K, docs.columns)
        with ctx.tracer.span("index.query.collect"):
            rows = df.collect()
        q.latency_s = perf() - t0
    q.jobs, q.tasks = g["jobs"], g["tasks"]
    if q.shape == "count":
        q.rows = sum(r["cnt"] for r in rows)
    else:
        q.rows = [(int(r["doc_id"]), float(r["score"])) for r in rows]


def check_query(ctx: Ctx, oracle, q: Query) -> None:
    from expected import topk_matches

    if q.shape == "count":
        ok = q.rows == oracle.count_and_or(*q.arg)
    else:
        if q.shape in ("term_head", "term_rare", "or4"):
            ranked = oracle.terms(q.arg, "or")
        elif q.shape == "and2":
            ranked = oracle.terms(q.arg, "and")
        elif q.shape == "phrase":
            ranked = oracle.phrase(*q.arg)
        elif q.shape == "wildcard":
            ranked = oracle.prefix(q.arg)
        else:
            ranked = oracle.filtered(q.arg, "de")
        ok = topk_matches(q.rows, ranked, K)
    ctx.check(ok, f"{q.shape} {q.arg!r} differs from the oracle")


def search(ctx: Ctx) -> None:
    from ee_outliers_spark.index.build import IndexPaths

    seed = ctx.args.seed
    c = gen.corpus(seed, SEARCH_DOCS)
    docs_path = os.path.join(ctx.run_dir, "docs.parquet")
    gen.write(c.table(), docs_path)
    df = gen.doc_freq(c)
    bands = {k: gen.band(df, c.n_docs, lo, hi)
             for k, (lo, hi) in BANDS.items()}
    rng = np.random.default_rng([seed, 1])

    ctx.log("corpus written")
    start_s = start_session(ctx)
    ctx.log(f"session started in {start_s:.1f} s")
    idx_dir, build_s = setup_builds(ctx, docs_path, c.n_docs)
    ctx.log("setup builds done")
    ctx.e2e["setup_s"] = start_s + build_s
    seg_b, ts_b = index_bytes(idx_dir)
    ctx.e2e["index_bytes_per_text_byte"] = (seg_b + ts_b) / c.text_bytes()
    check_worker_import(ctx)
    ctx.log("worker import checked")
    idx = IndexPaths(idx_dir)
    docs = ctx.spark.read.parquet(docs_path)

    # warm-up, untimed: the first call of every public query function
    # (term_rare, and2 and or4 share bm25_topk_wand with term_head)
    done = [q for q in draw_queries(rng, c, bands) if q.shape in WARMUP]
    for q in done:
        run_query(ctx, q, idx, docs)

    ctx.log("warm-up done")
    timed: list[Query] = []
    cpu0, host0, t_phase = sp.tree_cpu_s(), sp.host_cpu_ticks(), perf()
    with ctx.tracer.span("timed"):
        while True:
            cycle = draw_queries(rng, c, bands)
            for q in cycle:
                run_query(ctx, q, idx, docs)
            timed += cycle
            ctx.log("cycle " + " ".join(f"{q.shape}={q.latency_s * 1e3:.0f}"
                                        for q in cycle))
            if perf() - t_phase >= ctx.args.seconds:
                break
    wall, cpu = perf() - t_phase, sp.tree_cpu_s() - cpu0
    ctx.layer["host.steal_frac"] = sp.steal_frac(host0)
    ctx.e2e["peak_rss_mb"] = sp.tree_peak_rss_mb()

    ctx.log(f"timed phase done: {len(timed)} queries")
    lat = [q.latency_s * 1e3 for q in timed]
    ctx.e2e["query_p50_ms"] = statistics.median(lat)
    ctx.layer["query_p90_ms"] = quantile(lat, 90)
    ctx.e2e["throughput_per_s"] = len(timed) / wall

    from expected import SearchOracle

    oracle = SearchOracle(c)
    for q in done + timed:
        check_query(ctx, oracle, q)

    if ctx.tracer.enabled:
        search_layers(ctx, timed, wall, cpu, t_phase)


def search_layers(ctx: Ctx, timed: list[Query], wall: float, cpu: float,
                  t_phase: float) -> None:
    t, L = ctx.tracer, ctx.layer
    L["index.query.plan.p50_ms"] = p50_ms(t, "index.query.plan", t_phase)
    L["index.query.collect.p50_ms"] = p50_ms(t, "index.query.collect",
                                             t_phase)
    for shape in SHAPES:
        qs = [q for q in timed if q.shape == shape]
        L[f"search.{shape}.p50_ms"] = sp.median(q.latency_s * 1e3 for q in qs)
        L[f"spark.jobs_per_query.{shape}"] = sp.median(q.jobs for q in qs)
        L[f"spark.tasks_per_query.{shape}"] = sp.median(q.tasks for q in qs)
    L["spark.cpu_s_per_query"] = cpu / len(timed)
    L["spark.busy_frac.search"] = cpu / (wall * cores())


# --------------------------------------------------------------------------
# outlier_scan
# --------------------------------------------------------------------------

#: filters counted in every tick, as the reference counts a use case's
#: query before it runs the model, with a (token set, token list) predicate
#: for the count oracle: a negation and a phrase
COUNTED = (
    ("exe AND NOT svchost", lambda s, _l: "exe" in s and "svchost" not in s),
    ('powershell AND "hidden window"',
     lambda s, l: "powershell" in s and any(
         l[i:i + 2] == ["hidden", "window"] for i in range(len(l) - 1))),
)


def use_cases():
    """The six use cases, each with an es_query_filter routed through the
    index."""
    from ee_outliers_spark.config import AnalyzerSpec

    day = dt.timedelta(days=1)
    return [
        AnalyzerSpec(
            name="terms_within", model_type="terms",
            es_query_filter="exe AND NOT svchost", aggregator=["host"],
            target="proc", target_count_method="within_aggregator",
            trigger_on="low", trigger_method="pct_of_max_value",
            trigger_sensitivity=5),
        AnalyzerSpec(
            name="terms_across", model_type="terms", es_query_filter="exe",
            aggregator=["user"], target="host",
            target_count_method="across_aggregators", trigger_on="low",
            trigger_method="float", trigger_sensitivity=2),
        AnalyzerSpec(
            name="metrics_length", model_type="metrics",
            es_query_filter="powershell OR cmd OR wscript OR rundll32",
            aggregator=["host"], target="text", metric="length",
            trigger_on="high", trigger_method="stdev",
            trigger_sensitivity=2),
        AnalyzerSpec(
            name="metrics_numerical", model_type="metrics",
            es_query_filter="curl OR certutil OR chrome OR outlook",
            aggregator=["user"], target="bytes", metric="numerical_value",
            trigger_on="high", trigger_method="stdev",
            trigger_sensitivity=3),
        AnalyzerSpec(
            name="simplequery", model_type="simplequery",
            es_query_filter='powershell AND "hidden window"'),
        AnalyzerSpec(
            name="sudden_appearance", model_type="sudden_appearance",
            es_query_filter="exe AND NOT (teams OR excel)",
            aggregator=["host"], target="user",
            sliding_window_size=day, sliding_window_step_size=day / 4),
    ]


def live_segments(idx_dir: str) -> list[int]:
    with open(os.path.join(idx_dir, "stats.json")) as fh:
        return json.load(fh)["live_segments"]


def count_query(ctx: Ctx, idx, qs: str) -> tuple[int, float]:
    from ee_outliers_spark import queryparser as qp
    from ee_outliers_spark.index import filter as ifilter

    t0 = perf()
    with ctx.tracer.span("query"):
        rows = ifilter.matching_ids(ctx.spark, idx, qp.parse_query_string(qs),
                                    count_only=True).collect()
    return sum(r["cnt"] for r in rows), perf() - t0


def outlier_scan(ctx: Ctx) -> None:
    from ee_outliers_spark import config
    from ee_outliers_spark.index import merge
    from ee_outliers_spark.index.build import IndexPaths
    from ee_outliers_spark.sources.results import OutlierStore
    from ee_outliers_spark.streaming import daemon

    seed = ctx.args.seed
    base = gen.events(seed, SCAN_EVENTS)
    base_path = os.path.join(ctx.run_dir, "events.parquet")
    gen.write(base, base_path)
    batches = []
    for i in range(MAX_TICKS):
        marker = f"b{i}n{seed}"
        tbl = gen.events(
            seed * 1000 + i + 1, BATCH_EVENTS,
            first_doc_id=SCAN_EVENTS + i * BATCH_EVENTS,
            start=gen.EVENT_END + dt.timedelta(hours=i), days=1 / 24,
            marker=marker)
        path = os.path.join(ctx.run_dir, f"batch{i}.parquet")
        gen.write(tbl, path)
        batches.append((path, tbl, marker))
    specs = use_cases()
    history = (gen.EVENT_START, gen.EVENT_END)

    ctx.log("events written")
    start_s = start_session(ctx)
    ctx.log(f"session started in {start_s:.1f} s")
    idx_dir, build_s = setup_builds(ctx, base_path, SCAN_EVENTS)
    ctx.log("setup builds done")
    ctx.e2e["setup_s"] = start_s + build_s
    check_worker_import(ctx)
    idx = IndexPaths(idx_dir)
    spark = ctx.spark
    events = spark.read.parquet(base_path)
    texts = base.column("text").to_pylist()
    # the merge policy keeps the live segment count at the built count, so
    # every append is followed by one tier merge of the two smallest
    # segments
    max_live = len(live_segments(idx_dir))

    ticks: list[dict] = []
    cpu0, host0, t_phase = sp.tree_cpu_s(), sp.host_cpu_ticks(), perf()
    with ctx.tracer.span("timed"):
        for path, tbl, marker in batches:
            tick = {"marker": marker, "counts": []}
            t0 = perf()
            with ctx.tracer.span("tick"):
                with ctx.jobs.group() as ga, ctx.tracer.span("append"):
                    ta = perf()
                    daemon.append_segments(spark, spark.read.parquet(path),
                                           idx, num_segments=1)
                    tick["append_s"] = perf() - ta
                with ctx.jobs.group() as gc, ctx.tracer.span("compact"):
                    tc = perf()
                    tick["merged"] = merge.compact_if_needed(
                        spark, idx, max_live=max_live, fanin=MERGE_FANIN)
                    tick["compact_s"] = perf() - tc
                texts += tbl.column("text").to_pylist()
                with ctx.jobs.group() as gq:
                    tick["fresh"] = count_query(ctx, idx, marker)
                    for qs, _pred in COUNTED:
                        tick["counts"].append(count_query(ctx, idx, qs))
                store = OutlierStore(
                    spark, os.path.join(ctx.run_dir, f"store{len(ticks)}"))
                with ctx.jobs.group() as gr, ctx.tracer.span("scan"):
                    tick["outliers"] = config.run_all(
                        events, specs, store=store, key_col="doc_id",
                        text_col="text", ts_col="ts", history=history,
                        index=idx)
            tick["wall_s"] = perf() - t0
            tick["jobs"] = {"append": ga["jobs"], "tick": sum(
                g["jobs"] for g in (ga, gc, gq, gr))}
            tick["n_texts"] = len(texts)
            ticks.append(tick)
            if perf() - t_phase >= ctx.args.seconds:
                break
    wall, cpu = perf() - t_phase, sp.tree_cpu_s() - cpu0
    ctx.layer["host.steal_frac"] = sp.steal_frac(host0)
    ctx.e2e["peak_rss_mb"] = sp.tree_peak_rss_mb()
    ctx.log(f"timed phase done: {len(ticks)} ticks, outliers "
            f"{ticks[0]['outliers']}")

    lat = [s * 1e3 for t in ticks for _n, s in [t["fresh"]] + t["counts"]]
    ctx.e2e["query_p50_ms"] = statistics.median(lat)
    ctx.layer["query_p90_ms"] = quantile(lat, 90)
    ctx.e2e["throughput_per_s"] = statistics.median(
        SCAN_EVENTS / t["wall_s"] for t in ticks)
    seg_b, ts_b = index_bytes(idx_dir)
    text_b = sum(len(x.encode()) for x in texts)
    ctx.e2e["index_bytes_per_text_byte"] = (seg_b + ts_b) / text_b

    # checks: freshness, count queries after compaction, outlier counts
    # against the regex path, identical across ticks
    from expected import count_matching

    # the regex path: the same analyzers with es_query_filter compiled to
    # a predicate over the text; the store counts distinct outlier docs
    regex = {spec.name: config.run_analyzer(
        events, spec, text_col="text", ts_col="ts", history=history,
        key_col="doc_id").select("doc_id").distinct().count()
        for spec in specs}
    ctx.log("regex-path analyzers done")
    for t in ticks:
        t["expect"] = [count_matching(texts[:t["n_texts"]], pred)
                       for _qs, pred in COUNTED]
        ctx.check(t["fresh"][0] == BATCH_EVENTS,
                  f"batch marker {t['marker']} not visible after append")
        for (qs, _p), (got, _s), want in zip(COUNTED, t["counts"],
                                              t["expect"]):
            ctx.check(got == want, f"count of {qs!r}: {got} != {want}")
        for name in MODELS:
            ctx.check(t["outliers"][name] == regex[name],
                      f"{name}: {t['outliers'][name]} outliers, regex path "
                      f"{regex[name]}")
        ctx.check(t["outliers"] == ticks[0]["outliers"],
                  "outlier counts differ between ticks")

    if ctx.tracer.enabled:
        scan_layers(ctx, ticks, wall, cpu, idx_dir, t_phase)


def scan_layers(ctx: Ctx, ticks: list[dict], wall: float, cpu: float,
                idx_dir: str, t_phase: float) -> None:
    t, L = ctx.tracer, ctx.layer
    first = ticks[0]
    scan = t.named("scan", t_phase)[0]
    # per model: run_analyzer (planning) plus the upsert that executes it
    model_s = {m: 0.0 for m in MODELS}
    current = None
    for s in t.spans:
        if s["start"] < scan["start"] or s["end"] > scan["end"]:
            continue
        if s["name"] == "config.run_analyzer":
            current = s["model"]
        if s["name"] in ("config.run_analyzer", "sources.results.upsert"):
            model_s[current] += sp.dur(s)
    for m in MODELS:
        L[f"config.model_s.{m}"] = model_s[m]
        L[f"operators.outliers.{m}"] = first["outliers"][m]
    L["config.run_analyzer.plan.p50_ms"] = p50_ms(t, "config.run_analyzer",
                                                  t_phase)
    L["sources.results.upsert.p50_s"] = p50_ms(
        t, "sources.results.upsert", t_phase) / 1e3
    L["streaming.daemon.append_segments.p50_ms"] = p50_ms(
        t, "streaming.daemon.append_segments", t_phase)
    L["index.build.incremental_append_refresh.p50_ms"] = p50_ms(
        t, "index.build.incremental_append_refresh", t_phase)
    L["index.merge.compact_if_needed_s"] = first["compact_s"]
    L["index.merge.merge_tier.p50_s"] = p50_ms(
        t, "index.merge.merge_tier", t_phase) / 1e3
    L["index.merge.merges"] = sum(len(x["merged"]) for x in ticks)
    L["index.merge.postings_per_s"] = sp.median(manifest_rates(idx_dir, True))
    L["spark.jobs_per_append"] = first["jobs"]["append"]
    L["spark.jobs_per_tick"] = first["jobs"]["tick"]
    L["spark.busy_frac.scan"] = cpu / (wall * cores())
    appended = BATCH_EVENTS * len(ticks)
    L["append_docs_per_s"] = appended / sum(
        x["append_s"] + x["compact_s"] for x in ticks)
    L["append_p50_ms"] = statistics.median(x["append_s"] * 1e3 for x in ticks)
    L["scan_events_per_s"] = ctx.e2e["throughput_per_s"]


# --------------------------------------------------------------------------

def cores() -> int:
    return int(os.environ["SPARK_GRAFT_CPUS"])


def p50_ms(t: sp.Tracer, name: str, since: float = 0.0) -> float:
    return sp.median(sp.dur(s) * 1e3 for s in t.named(name, since))


def common_layers(ctx: Ctx, idx_dir: str) -> None:
    """Layers both workloads report: setup builds, filter and parser
    calls in the timed phase, the index on disk, tracing cost."""
    t, L = ctx.tracer, ctx.layer
    timed = t.named("timed")[0]
    for name in ("queryparser.parse_query_string",
                 "index.filter.matching_ids", "index.filter.indexed_filter"):
        L[f"{name}.p50_ms"] = p50_ms(t, name, timed["start"])
    seg_b, ts_b = index_bytes(idx_dir)
    L["index.segments_bytes"] = seg_b
    L["index.termstats_bytes"] = ts_b
    L["index.live_segments"] = len(live_segments(idx_dir))
    L["traced.query_p50_ms"] = ctx.e2e["query_p50_ms"]
    L["traced.throughput_per_s"] = ctx.e2e["throughput_per_s"]
    # share of the timed phase covered by its top-level spans
    L["trace.top_span_coverage"] = sum(
        sp.dur(s) for s in t.children(timed)) / sp.dur(timed)


def build_layers(ctx: Ctx, idx_dir: str) -> None:
    """Setup-build layers (every workload builds its index in setup)."""
    t, L = ctx.tracer, ctx.layer
    builds = t.named("index.build.build_segments")[:SETUP_REPEATS]
    L["index.build.build_segments_s"] = sp.median(sp.dur(b) for b in builds)
    L["index.build.build_segments_self_s"] = sp.median(
        t.self_time(b) for b in builds)
    for name in ("collect_sidecar_rows", "write_manifest",
                 "refresh_stats_and_termstats"):
        L[f"index.build.{name}_s"] = sp.median(
            sp.dur(c) for b in builds for c in t.children(b)
            if c["name"] == f"index.build.{name}")
    L["index.build.postings_per_s"] = sp.median(manifest_rates(idx_dir, False))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("search", "outlier_scan"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    ctx = Ctx(args, args.run_dir, sp.Tracer(bool(args.trace)))
    try:
        {"search": search, "outlier_scan": outlier_scan}[args.workload](ctx)
        if ctx.tracer.enabled:
            idx_dir = os.path.join(ctx.run_dir, "idx0")
            build_layers(ctx, idx_dir)
            common_layers(ctx, idx_dir)
    finally:
        if ctx.spark is not None:
            ctx.spark.stop()
    ctx.log("session stopped")
    if ctx.tracer.enabled:
        ctx.tracer.dump(os.path.join(
            os.path.dirname(args.run_dir), "spans",
            f"{args.workload}-s{args.seed}.json"))
        wanted, values = spec["per_layer"], ctx.layer
    else:
        wanted, values = spec["end_to_end"], ctx.e2e
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        # a layer the workload does not exercise reports 0
        "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in wanted},
    }
    for note in ctx.notes:
        print("check failed:", note, file=sys.stderr)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
