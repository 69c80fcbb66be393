"""Decompose the sf-level index_build fixed overhead: time each phase of
build_segments (kernel+persist, parquet write, manifest, stats refresh)
separately in a fresh JVM that mimics bench.py's session, at the sf-dir's
native size (bench sf-level shape: num_segments=None -> cores).

Usage: python scripts/build_phase_probe.py [CPUS] [REPS]
"""
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

cpus = int(sys.argv[1]) if len(sys.argv) > 1 else 32
reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from ee_outliers_spark.session import get_spark  # noqa: E402

t_sess = time.monotonic()
spark = get_spark("bpp", master="local[%d]" % cpus, shuffle_partitions=cpus)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(sf_dir + "/documents.parquet")
n = docs.count()
print(json.dumps({"phase": "session+count", "secs": round(
    time.monotonic() - t_sess, 3), "n_docs": n}), flush=True)

import ee_outliers_spark.index.build as B  # noqa: E402

for r in range(reps):
    out = tempfile.mkdtemp(prefix="bpp_")
    paths = B.IndexPaths(out)
    base = docs.selectExpr("cast(doc_id as long) doc_id", "text")
    num_segments = B.auto_num_segments(spark, n)
    rec = {"rep": r, "num_segments": num_segments}

    t0 = time.monotonic()
    seg_df = B.segment_frames_df(base, num_segments, False, todo=list(
        range(num_segments)))
    seg_df = seg_df.persist()
    seg_df.count()
    rec["kernel_persist"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    seg_df.write.mode("overwrite").partitionBy("seg_id").parquet(
        paths.segments)
    rec["parquet_write"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    B.write_manifest(paths, {"probe": True}, 0.0,
                     B.collect_sidecar_rows(seg_df))
    rec["manifest"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    B.refresh_stats_and_termstats(spark, paths, num_segments, segs=seg_df,
                                  live=list(range(num_segments)),
                                  positions=False, analyzed_fields=[])
    rec["stats_refresh"] = round(time.monotonic() - t0, 3)
    seg_df.unpersist()

    t0 = time.monotonic()
    B.build_segments(spark, docs, "doc_id", "text",
                     tempfile.mkdtemp(prefix="bpp_full_"),
                     num_segments=None, resume=False)
    rec["full_build_warm"] = round(time.monotonic() - t0, 3)
    print(json.dumps(rec), flush=True)
    shutil.rmtree(out, ignore_errors=True)
