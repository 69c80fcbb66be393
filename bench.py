"""Benchmark harness (driver-run per round; also the local feedback loop).

Two layers (round-3 verdict: the official record must be noise-robust and
the final stdout line must fit the driver's 2000-char tail window):

- ORCHESTRATOR (default): runs the full suite ``SPARK_GRAFT_BENCH_REPS``
  times (default 3), each invocation a FRESH JVM (separate subprocess), and
  reports per-query MEDIANS of the first-run timings plus POOLED latency
  percentiles across invocations. Host load on this box swings same-code
  totals 30-50% hour to hour (BENCH.md); medians over fresh-JVM invocations
  make a regression claim decidable from the official record alone. Full
  per-invocation detail goes to ``BENCH_FULL.json``; the final stdout line
  is a SHORT summary the driver's tail window always captures.

- WORKER (``--worker --out FILE``): one pass of the suite at
  $SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS]:
  SPIMI index build (docs/sec), BM25 block-max WAND latencies (rare, head,
  conj, disj, phrase shapes), filter context, analyzers, pipeline ops
  (minhash-LSH dedup, ANN), incremental append, and a 600k-doc scale block.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _pctile(sorted_ms: list[float], q: float) -> float:
    """Nearest-rank percentile (round-3 ADVICE: int(n*q) indexed the MAX at
    n=20; ceil(q*n)-1 is the statistic the label claims)."""
    i = max(0, math.ceil(q * len(sorted_ms)) - 1)
    return sorted_ms[i]


def _lat_summary(samples_ms: list[float], reps: int) -> dict:
    s = sorted(samples_ms)
    return {
        "p50_ms": round(_pctile(s, 0.50), 1),
        "p95_ms": round(_pctile(s, 0.95), 1),
        "reps": reps,
        "samples_ms": [round(x, 1) for x in s],
    }


def worker(out_path: str | None) -> None:
    from ee_outliers_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    spark = get_spark("bench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    from ee_outliers_spark.index.build import build_segments
    from ee_outliers_spark.index.query import bm25_topk_wand, phrase_topk_wand
    from ee_outliers_spark.operators.dedup import minhash_lsh_pairs
    from ee_outliers_spark.operators.metrics_analyzer import metrics_outliers
    from ee_outliers_spark.operators.similarity import cosine_topk
    from ee_outliers_spark.operators.terms import terms_outliers
    import ee_outliers_spark.entrypoints as ep

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_docs_total = docs.count()  # warm-up + size

    timings: dict[str, float] = {}

    def timed(name, fn):
        t0 = time.monotonic()
        out = fn()
        timings[name] = round(time.monotonic() - t0, 3)
        return out

    # p50/p95 latency protocol (BASELINE.md metric table): each headline
    # query is timed over LAT_REPS warm repetitions; queries[name] stays the
    # first (cold-plan) invocation for round-over-round comparability.
    LAT_REPS = int(os.environ.get("SPARK_GRAFT_LAT_REPS", "20"))
    latency: dict[str, dict] = {}

    def timed_with_latency(name, fn):
        out = timed(name, fn)
        samples = []
        for _ in range(LAT_REPS):
            t0 = time.monotonic()
            fn()
            samples.append((time.monotonic() - t0) * 1000.0)
        latency[name] = _lat_summary(samples, LAT_REPS)
        return out

    WAND_QUERIES = {
        "wand_rare": (["vector"], 10, "or"),
        "wand_head": (["the"], 10, "or"),
        "wand_conj": (["customer", "window", "batch"], 10, "and"),
        "wand_disj": (["customer", "window", "batch", "stream"], 10, "or"),
        "wand_head_rare": (["the", "vector"], 10, "and"),
    }

    # --- index build (SPIMI segments) ---------------------------------------
    idx_dir = tempfile.mkdtemp(prefix="bench_index_")
    try:
        paths = timed(
            "index_build",
            lambda: build_segments(
                spark, docs, "doc_id", "text", idx_dir,
                num_segments=None, resume=False,
            ),
        )
        docs_per_sec = round(n_docs_total / timings["index_build"], 1)

        # --- BM25 via block-max WAND over segments ---------------------------
        for name, (terms, k, mode) in WAND_QUERIES.items():
            timed_with_latency(name, lambda t=terms, k=k, m=mode: bm25_topk_wand(
                spark, paths, t, k, m).collect())
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # --- positional index + index-backed phrase query ------------------------
    pos_dir = tempfile.mkdtemp(prefix="bench_index_pos_")
    try:
        pos_paths = timed(
            "index_build_pos",
            lambda: build_segments(
                spark, docs, "doc_id", "text", pos_dir,
                num_segments=None, resume=False, positions=True,
            ),
        )
        timed_with_latency("wand_phrase", lambda: phrase_topk_wand(
            spark, pos_paths, "key order", 10).collect())
    finally:
        shutil.rmtree(pos_dir, ignore_errors=True)

    # --- filter context + text profiling (index-backed / codegen paths) ------
    from ee_outliers_spark.index.cache import corpus_index
    corpus_index(spark, sf_dir)  # warm the shared index: time queries, not builds
    timed("querystring_filter", lambda: ep.querystring_filter(spark, sf_dir).count())
    # postings-only count leg (ES _count fast path), same query the
    # count_matches_suite gate tags "textonly"
    from ee_outliers_spark.index.filter import matching_ids as _mids
    from ee_outliers_spark.queryparser import parse_query_string as _pq
    _to_paths = corpus_index(spark, sf_dir)
    _to_node = _pq(ep._TEXTONLY_QS)
    timed("qs_filter_textonly",
          lambda: _mids(spark, _to_paths, _to_node).count())
    timed("range_filter", lambda: ep.range_filter(spark, sf_dir).count())
    timed("text_profile", lambda: ep.text_profile_q(spark, sf_dir).count())
    timed("token_count_bpe", lambda: ep.token_count_bpe_q(spark, sf_dir).count())

    # --- incremental append (streaming ingestion path, ST5) -------------------
    from ee_outliers_spark.streaming.daemon import append_segments
    from pyspark.sql import functions as F  # noqa: N812

    inc_dir = tempfile.mkdtemp(prefix="bench_inc_")
    try:
        build_segments(spark, docs, "doc_id", "text", inc_dir,
                       num_segments=cpus, resume=False)
        from ee_outliers_spark.index.build import IndexPaths
        new_docs = docs.select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        ).limit(1000)
        timed("index_append_1k", lambda: append_segments(
            spark, new_docs, IndexPaths(inc_dir), num_segments=4))
    finally:
        shutil.rmtree(inc_dir, ignore_errors=True)

    # --- analyzers ------------------------------------------------------------
    timed("terms_within", lambda: terms_outliers(
        events, ["user_id"], "event_type", "within_aggregator", "mad", 1.0, "high"
    ).count())
    timed("metrics_length", lambda: metrics_outliers(
        docs, ["source"], "text", "length", "mad", 2.0, "high").count())
    timed("sudden_appearance", lambda: ep.sudden_appearance_q(spark, sf_dir).count())

    # --- pipeline ops ----------------------------------------------------------
    timed("dedup_minhash", lambda: minhash_lsh_pairs(
        docs, "doc_id", "text", k=3, num_perm=64, bands=16, threshold=0.5
    ).count())
    timed("ann_cosine", lambda: cosine_topk(
        emb, "vec_id", "embedding", ep.ANN_QUERY, 10).collect())

    # --- indexed LSH ANN: build once, probe buckets, rerank candidates -------
    from ee_outliers_spark.operators.similarity import (
        build_lsh_index, lsh_candidates, lsh_topk_indexed,
    )

    lsh_dir = tempfile.mkdtemp(prefix="bench_lsh_")
    try:
        qv = ep._lsh_query_vec(spark, sf_dir)
        timed("lsh_index_build", lambda: build_lsh_index(
            emb, "vec_id", "embedding", lsh_dir, dim=len(qv)))
        timed("ann_lsh", lambda: lsh_topk_indexed(
            spark, emb, "vec_id", "embedding", lsh_dir, qv, 10).collect())
        lsh_candidate_frac = round(
            lsh_candidates(spark, lsh_dir, qv).count() / emb.count(), 4
        )
    finally:
        shutil.rmtree(lsh_dir, ignore_errors=True)

    # --- load-bearing scale block: same queries on a 600k-doc corpus ---------
    # sf0.1 is 5k docs — sub-second queries there measure overhead, not work.
    # The headline WAND suite re-runs once against the deterministic 120×
    # expansion (same Zipf skew, ~600k docs) so latencies reflect real
    # posting-list sizes. Skippable via SPARK_GRAFT_BIG_MULT=0.
    big_mult = int(os.environ.get("SPARK_GRAFT_BIG_MULT", "120"))
    big_block = {}
    if big_mult > 0:
        from pyspark.sql import functions as F  # noqa: N812

        rep_ids = spark.range(big_mult).select(F.col("id").alias("rep"))
        big = docs.crossJoin(rep_ids).select(
            (F.col("doc_id") * big_mult + F.col("rep")).alias("doc_id"),
            F.concat_ws(" ", F.array_repeat(F.col("text"), 4)).alias("text"),
        ).repartition(cpus * 4).cache()
        n_big = big.count()
        big_timings: dict[str, float] = {}
        big_latency: dict[str, dict] = {}

        def btimed(name, fn, reps=0):
            t0 = time.monotonic()
            out = fn()
            big_timings[name] = round(time.monotonic() - t0, 3)
            samples = []
            for _ in range(reps):
                s0 = time.monotonic()
                fn()
                samples.append((time.monotonic() - s0) * 1000.0)
            if samples:
                big_latency[name] = _lat_summary(samples, reps)
            return out

        big_dir = tempfile.mkdtemp(prefix="bench_big_idx_")
        try:
            bpaths = btimed("index_build", lambda: build_segments(
                spark, big, "doc_id", "text", big_dir,
                num_segments=None, resume=False))
            for name, (terms, k, mode) in WAND_QUERIES.items():
                btimed(name, lambda t=terms, k=k, m=mode: bm25_topk_wand(
                    spark, bpaths, t, k, m).collect(), reps=LAT_REPS)
        finally:
            shutil.rmtree(big_dir, ignore_errors=True)
        # positional build at scale: the positions shuffle is O(total
        # tokens) — the load-bearing cost/benefit number for index-backed
        # phrases (phrase + sloppy-phrase + wildcard latencies below)
        big_pos_dir = tempfile.mkdtemp(prefix="bench_big_pos_")
        try:
            bpos = btimed("index_build_pos", lambda: build_segments(
                spark, big, "doc_id", "text", big_pos_dir,
                num_segments=None, resume=False, positions=True))
            btimed("wand_phrase", lambda: phrase_topk_wand(
                spark, bpos, "key order", 10).collect(), reps=LAT_REPS)
            from ee_outliers_spark.index.query import querystring_topk
            btimed("qs_slop_phrase", lambda: querystring_topk(
                spark, bpos, '"order key"~2', 10).collect(), reps=LAT_REPS)
            btimed("qs_wildcard", lambda: querystring_topk(
                spark, bpos, "cust* window", 10).collect(), reps=LAT_REPS)
            # filter context at scale: the reference's primary query shape
            # (es_query_filter) over the 600k corpus. Text-only boolean →
            # round-4 postings-only path (matching_ids): the count never
            # touches the docs table.
            from ee_outliers_spark.index.filter import (
                indexed_filter, matching_ids,
            )
            from ee_outliers_spark.queryparser import parse_query_string
            fq = parse_query_string(
                'window AND (cust* OR batch) AND NOT "batch batch"')
            btimed("qs_filter", lambda: indexed_filter(
                spark, bpos, big, "doc_id", "text", fq,
                ["doc_id", "text"]).count(), reps=LAT_REPS)
            btimed("qs_count", lambda: matching_ids(
                spark, bpos, fq, count_only=True).agg(
                {"cnt": "sum"}).collect(), reps=LAT_REPS)
        finally:
            shutil.rmtree(big_pos_dir, ignore_errors=True)
        big.unpersist()
        big_block = {
            "n_docs_600k": n_big,
            "docs_per_sec_index_build_600k": round(
                n_big / big_timings["index_build"], 1),
            "docs_per_sec_index_build_pos_600k": round(
                n_big / big_timings["index_build_pos"], 1),
            "queries_600k": big_timings,
            "latency_600k": big_latency,
        }

    total = round(sum(timings.values()), 3)
    record = {
        "metric": "index-build + BM25 topk + analyzer suite wall time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "latency": latency,
        "sf": sf,
        "n_docs": n_docs_total,
        "docs_per_sec_index_build": docs_per_sec,
        "lsh_candidate_frac": lsh_candidate_frac,
        "cpus": cpus,
        **big_block,
    }
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(record, fh)
    print(json.dumps(record))


# --------------------------------------------------------------------------
# orchestrator: medians over fresh-JVM invocations, short final line
# --------------------------------------------------------------------------

def _median_map(maps: list[dict[str, float]]) -> dict[str, float]:
    keys = [k for k in maps[0] if all(k in m for m in maps)]
    return {k: round(statistics.median(m[k] for m in maps), 3) for k in keys}


def _pooled_p95(lat_dicts: list[dict[str, dict]]) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in lat_dicts[0]:
        pool: list[float] = []
        for d in lat_dicts:
            pool.extend(d.get(name, {}).get("samples_ms", []))
        if pool:
            out[name] = round(_pctile(sorted(pool), 0.95), 1)
    return out


def orchestrate() -> None:
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    repo = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ)
    # per-invocation latency reps: 3 invocations × 6 reps pool 18 samples —
    # the same sample budget as round 3's single 20-rep run, but spread over
    # fresh JVMs so a host-noise burst cannot poison the whole record
    env.setdefault("SPARK_GRAFT_LAT_REPS", "6")

    invocations: list[dict] = []
    for i in range(reps):
        outf = tempfile.mktemp(prefix=f"bench_inv{i}_", suffix=".json")
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--worker",
             "--out", outf],
            env=env, stdout=subprocess.DEVNULL, timeout=3600,
        )
        wall = round(time.monotonic() - t0, 1)
        if proc.returncode != 0 or not os.path.exists(outf):
            print(f"bench invocation {i + 1}/{reps} FAILED "
                  f"(rc={proc.returncode})", file=sys.stderr)
            continue
        with open(outf) as fh:
            rec = json.load(fh)
        os.unlink(outf)
        rec["wall_secs"] = wall
        invocations.append(rec)
        print(f"bench invocation {i + 1}/{reps}: total={rec['value']}s "
              f"wall={wall}s", file=sys.stderr)
    if not invocations:
        print(json.dumps({"metric": "bench failed", "value": -1.0,
                          "unit": "sec", "queries": {}}))
        sys.exit(1)

    queries = _median_map([r["queries"] for r in invocations])
    total = round(sum(queries.values()), 3)
    summary = {
        "metric": "index-build + BM25 topk + analyzer suite wall time "
                  f"(median of {len(invocations)} fresh-JVM runs)",
        "value": total,
        "unit": "sec",
        "queries": queries,
        "sf": invocations[0]["sf"],
        "n_docs": invocations[0]["n_docs"],
        "docs_per_sec_index_build": round(statistics.median(
            r["docs_per_sec_index_build"] for r in invocations), 1),
        "cpus": invocations[0]["cpus"],
        "bench_reps": len(invocations),
        "p95_ms": _pooled_p95([r["latency"] for r in invocations]),
        "detail": "BENCH_FULL.json",
    }
    if all("queries_600k" in r for r in invocations):
        summary["queries_600k"] = _median_map(
            [r["queries_600k"] for r in invocations])
        summary["n_docs_600k"] = invocations[0]["n_docs_600k"]
        summary["docs_per_sec_index_build_600k"] = round(statistics.median(
            r["docs_per_sec_index_build_600k"] for r in invocations), 1)
        summary["p95_600k_ms"] = _pooled_p95(
            [r["latency_600k"] for r in invocations])

    full = {"invocations": invocations, "summary": summary}
    with open(os.path.join(repo, "BENCH_FULL.json"), "w") as fh:
        json.dump(full, fh, indent=1)

    line = json.dumps(summary)
    if len(line) > 1900:  # the driver keeps a 2000-char stdout tail
        for k in ("p95_ms", "p95_600k_ms", "latency"):
            summary.pop(k, None)
        line = json.dumps(summary)
    print(line)


def main() -> None:
    if "--worker" in sys.argv:
        out = None
        if "--out" in sys.argv:
            out = sys.argv[sys.argv.index("--out") + 1]
        worker(out)
    else:
        orchestrate()


if __name__ == "__main__":
    main()
