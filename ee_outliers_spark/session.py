"""SparkSession factory tuned for the engine.

Local mode mirrors the cluster design: AQE on (runtime skew-join handling +
partition coalescing), Arrow on (every Python crossing is vectorized),
shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition an input that would otherwise run on fewer
    tasks than the cluster has cores — and do NOTHING otherwise.

    Why: a parquet file is split at row-group boundaries, so a table written
    as one fat row group scans as ONE task no matter how many cores exist,
    and every narrow operator downstream (tokenize, Arrow UDFs, partial
    aggregation before the first exchange) runs single-threaded. Measured
    round 7: the whole sf-level bench corpus (50k docs, 1M events) is one
    row group per table, which serialized the pre-shuffle stage of minhash
    (13 s) and sudden-appearance (10 s). The repartition costs one pass
    over the (already column-pruned) input — at real scale inputs have
    many splits and the condition makes this a no-op, so no extra shuffle
    ever appears on the 100 TB path (guide §2.4/§6).
    Round-robin repartition is deterministic under retries (Spark sorts
    before repartitioning, SPARK-23207) and every caller is either row-wise
    or an exact-integer aggregation, so results are partition-independent."""
    try:
        n = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - defensive (e.g. streaming frames)
        return df
    p = df.sparkSession.sparkContext.defaultParallelism
    if 0 < n < p:
        return df.repartition(p)
    return df


def materialize(df: DataFrame, count: bool = False):
    """Compute ``df`` now and return a frame that reads the computed rows —
    the one intra-query materialization policy for frames referenced more
    than once (self-join sides, count + join, iterative rounds):

    - the upstream plan runs exactly once (an eager action);
    - lineage is truncated, which keeps iterative plans such as
      ``duplicate_clusters`` O(current data) per round;
    - blocks are NOT registered with the cache manager: nothing is pinned,
      and Spark's ContextCleaner releases them after the returned DataFrame
      is garbage-collected;
    - blocks are unreplicated (``localCheckpoint``), so losing an executor
      after this call fails the query that reads them.

    With ``count=True`` returns ``(frame, n_rows)``: the row count is an
    observed metric of the same job (``DataFrame.observe``), so sizing a
    frame costs no ``count()`` job of its own."""
    if not count:
        return df.localCheckpoint(eager=True)
    obs = Observation()
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
        eager=True)
    return out, int(obs.get["n"])


def empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of the DDL ``schema`` that collects without a Spark
    job.

    ``createDataFrame([], schema)`` parallelizes an empty list, so every
    collect of it runs a Python job with one task per core (about 0.4 s on
    4 cores); an empty pandas frame takes the same path. An empty pyarrow
    table becomes a local relation, which the driver answers itself."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    return spark.createDataFrame(to_arrow_schema(struct).empty_table(), struct)


def _default_driver_mem() -> str:
    """The driver heap when ``SPARK_DRIVER_MEM`` is unset: 20g, capped at
    a quarter of physical memory (``MemTotal`` in /proc/meminfo), so a
    session on a small host starts instead of failing at JVM launch."""
    try:
        with open("/proc/meminfo") as fh:
            total_kb = next(int(line.split()[1]) for line in fh
                            if line.startswith("MemTotal:"))
    except (OSError, StopIteration):
        return "20g"
    return f"{min(20 * 1024, total_kb // 4096)}m"


def get_spark(
    app_name: str = "ee-outliers-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """The engine's session, with the package's py-files zip registered
    (``ensure_py_files``), so Python workers import ``ee_outliers_spark``
    whatever the driver's cwd."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    _mem = os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem()
    # Pre-touch is OPT-IN (default off since round 7): faulting the full
    # heap at JVM start converts host memory pressure into unbounded,
    # unattributable startup stalls — measured round 6: pre-touching 16g
    # cost 225 s in a bad hypervisor hour, and fresh-JVM benches absorbed
    # multi-minute fault storms into their first timed query (BENCH_FULL
    # round 6: same-code 600k builds of 130/45/13 s). Quiet-window pinned
    # campaigns that want fault-free timings export SPARK_GRAFT_PRETOUCH=1.
    _pretouch = os.environ.get("SPARK_GRAFT_PRETOUCH", "0") == "1"
    _java_opts = os.environ.get(
        "SPARK_DRIVER_JAVA_OPTS",
        f"-Xms{_mem}" + (" -XX:+AlwaysPreTouch" if _pretouch else ""))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Scale-adaptive reducer counts (guide §2.2): start every AQE
        # shuffle at 8× the core count and let coalescing shrink small
        # exchanges to the advisory size. With a flat reducer count = cores,
        # a corpus-sized aggregation (measured: ~780M token-pair rows from
        # 6M docs) packs ~24M groups into each reducer's hash table and
        # spills; 8× caps per-reducer state at ~64 MB-class partitions
        # while AQE still collapses tiny query shuffles to a handful of
        # tasks. Explicit repartition(n, col) exchanges (segment routing)
        # are REPARTITION_BY_NUM and stay untouched by AQE.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(shuffle_partitions * 8))
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Generated classes live in an LRU cache of 100 entries by default,
        # and one config.run_all tick needs more than that, so every warm
        # tick compiled them all again (measured: a second identical
        # six-use-case run_all compiled 112 classes). 1024 entries hold a
        # tick's and the query shapes' classes: a repeated run_all compiles
        # none. The cache is a static conf, so it is sized at session start.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = ONE JVM for driver+executors: size the heap for
        # cache + per-task shuffle/Arrow buffers × cores, or 32 concurrent
        # tasks GC-thrash an undersized heap and scaling inverts. 20g fits
        # every bench harness (the largest bench corpus caches ~11 GB
        # deserialized) on a host with ≥ 80 GB, and a quarter of physical
        # memory caps it on smaller hosts; DON'T size it "as big as the
        # box": this VM's page-fault path degrades super-linearly in
        # faulted bytes when the hypervisor is under memory pressure
        # (measured round 6, same hour: pre-touching 8g cost 7.6 s, 16g
        # 225 s, 48g 520 s wall / 192 CPU-min of sys — and while a big heap
        # faults in, the whole guest stalls). Every page the JVM never touches is startup time
        # and host co-tenancy risk saved.
        .config("spark.driver.memory", _mem)
        # Xms=Xmx + pre-touch: fault the whole heap ONCE at JVM start so
        # heap growth never serializes 32 alloc-heavy executor threads in
        # the kernel mid-job (measured: 85% sy / 11% st without it) —
        # benches keep timings fault-free this way. Harnesses with tiny
        # working sets (the pytest suite: local[4], MB-sized corpora) set
        # SPARK_GRAFT_PRETOUCH=0 instead: faulting only the ~2 GB they
        # actually use beats pre-faulting any full heap. THP
        # (-XX:+UseTransparentHugePages) was measured and REJECTED on this
        # kernel: 8g pre-touch went 7.6 s → 3m40 s / 73 CPU-min sys
        # (madvise-mode hugepage allocation storm).
        .config("spark.driver.extraJavaOptions", _java_opts)
        .config("spark.ui.enabled", "false")
    )
    from . import ensure_py_files

    spark = builder.getOrCreate()
    ensure_py_files(spark)
    return spark
