"""Capture `.explain("formatted")` physical plans for the engine's key
operators into PLANS.md — the evidence that filters push to parquet scans,
small sides broadcast, and no regex full-scans survive in the hot paths.

Usage: python scripts/capture_plans.py [sf_dir]
"""
from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

from ee_outliers_spark.session import get_spark  # noqa: E402

spark = get_spark("plans", master="local[8]", shuffle_partitions=8)
spark.sparkContext.setLogLevel("ERROR")

from ee_outliers_spark.index.cache import corpus_index, lsh_index  # noqa: E402
from ee_outliers_spark.index.filter import indexed_filter  # noqa: E402
from ee_outliers_spark.index.query import bm25_topk_wand  # noqa: E402
from ee_outliers_spark.operators.similarity import lsh_topk_indexed  # noqa: E402
from ee_outliers_spark.queryparser import parse_query_string  # noqa: E402
import ee_outliers_spark.entrypoints as ep  # noqa: E402

paths = corpus_index(spark, sf_dir)
docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

sections: list[tuple[str, str, object]] = []

node = parse_query_string("window AND (lang:en OR lang:de) AND _exists_:source")
sections.append((
    "Index-backed filter context",
    "the text atom resolves in the marker kernel: ONE MapInPandas "
    "segment_kernel over a Range, each task reading its live segments in "
    "place (`term IN (...)`), per-doc marker arrays from the kernel, ONE "
    "inner join with the documents scan (the term is required); field "
    "predicates push to the documents scan; NO rlike in the plan",
    indexed_filter(spark, paths, docs, "doc_id", "text", node,
                   ["doc_id", "text", "lang", "source", "n_chars"]),
))
sections.append((
    "Block-max WAND top-k",
    "one MapInPandas segment_kernel over a Range: each task reads the "
    "query terms + the NULL sidecar row of its live segments in place and "
    "runs the per-segment WAND; no segment scan or exchange in the JVM; "
    "TakeOrdered global top-k",
    bm25_topk_wand(spark, paths, ["customer", "window", "batch"], 10, "or"),
))
qv = ep._lsh_query_vec(spark, sf_dir)
idx = lsh_index(spark, sf_dir, n_bits=16, n_tables=16)
sections.append((
    "LSH ANN probe + rerank",
    "broadcast probe join against the (t, code, id) bucket index; exact "
    "cosine rerank only on the candidate semi-join",
    lsh_topk_indexed(spark, emb, "vec_id", "embedding", idx, qv, 10,
                     n_bits=16, n_tables=16, probe_hamming=3),
))
from ee_outliers_spark.index.query import (  # noqa: E402
    phrase_topk_wand, querystring_topk,
)

sections.append((
    "Index-backed phrase query (positional postings)",
    "the segment kernel runs eagerly as the query's one job, reading ONLY "
    "the phrase's distinct terms + the NULL sidecar rows (term IN, in place "
    "per live segment) and intersecting position lists; each segment "
    "returns its match count and top-k candidates, and the driver ranks "
    "them, so the plan left is a LocalTableScan of the top-k — the "
    "documents table is never read",
    phrase_topk_wand(spark, paths, "key order", 10),
))
sections.append((
    "Mixed query_string top-k (terms + quoted phrase)",
    "ONE segment-kernel pass (query terms, the NULL sidecar row, positions "
    "for the phrase, read in place); the per-segment scoring kernel sums "
    "term and phrase contributions per doc and keeps a local top-k; "
    "TakeOrdered — all index-side, no corpus scan",
    querystring_topk(spark, paths, 'customer window "key order"', 10),
))
wnode = parse_query_string('cust* AND custoner~1 AND "order key"~2')
sections.append((
    "Wildcard / fuzzy / sloppy-phrase filter (driver-side expansion)",
    "wildcard and fuzzy atoms expand against the term dictionary on the "
    "driver (one pyarrow read of termstats), so the segment read is a "
    "plain `term IN (...)`; the sloppy phrase intersects positional "
    "windows per segment; the boolean is text-only, so the documents "
    "table contributes only its key to a left-semi join; NO rlike in the "
    "plan — corpus text is never regex-scanned",
    indexed_filter(spark, paths, docs, "doc_id", "text", wnode,
                   ["doc_id", "text", "lang", "source", "n_chars"]),
))
from ee_outliers_spark.index.filter import matching_ids  # noqa: E402

tnode = parse_query_string('window AND (cust* OR batch) AND NOT "batch batch"')
sections.append((
    "Postings-only boolean (matching_ids — round 4)",
    "a text-only boolean never touches the documents table: ONE "
    "MapInPandas segment_kernel over a Range (term-IN over the query tokens "
    "and expanded pattern terms + the NULL sidecar row, read in place per "
    "live segment), per-segment numpy set algebra (And/Or/Not = "
    "intersect/union/setdiff vs the doclen universe), union of per-segment "
    "id arrays — no exchange in the whole plan",
    matching_ids(spark, paths, tnode),
))
sections.append((
    "Per-field analyzed filter (FieldText — round 5)",
    "field atoms on analyzed fields resolve as field-prefixed dictionary "
    "terms in the SAME postings-only set-algebra plan — one segment-kernel "
    "pass reading `term IN ('title:batch', ...)`, per-segment numpy "
    "booleans, zero documents-table access; .keyword / non-analyzed "
    "fields stay plain column predicates",
    matching_ids(spark, ep._field_index(spark, sf_dir),
                 parse_query_string(
                     'title:batch AND (window OR title:"key order")')),
))
from ee_outliers_spark.index.query import search_topk  # noqa: E402

sections.append((
    "Full search: scored text atoms + filter context (search_topk)",
    "eligibility = indexed_filter of the whole boolean; score = BM25 sum "
    "of the text atoms (posting + positional reads); the score join is "
    "doc_id-keyed on the candidate set, never corpus-sized",
    search_topk(spark, paths, docs, "doc_id", "text",
                '(window OR "key order" OR cust*) AND lang:en', 10,
                ["doc_id", "text", "lang", "source", "n_chars"]),
))
sections.append((
    "Terms analyzer (within aggregator)",
    "two hash aggregations with map-side partial agg + equi-join back; "
    "whole-stage codegen throughout",
    ep.terms_within_mad(spark, sf_dir),
))
sections.append((
    "MinHash-LSH dedup",
    "explode + 64 min-aggs (one shuffle), band self-join keyed on "
    "(band, bucket)",
    ep.dedup_minhash_lsh_q(spark, sf_dir),
))

out = ["# PLANS — physical-plan evidence (generated by "
       "scripts/capture_plans.py)\n"]
for title, why, df in sections:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    out.append(f"\n## {title}\n\n{why}\n\n```\n{buf.getvalue()}```\n")

with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
    fh.write("".join(out))
print("PLANS.md written,", len(sections), "sections")
