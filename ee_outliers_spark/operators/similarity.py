"""Similarity search over an embedding column (array<float>).

- ``cosine_topk``      — brute-force exact top-k: JVM-side zip_with/aggregate
                         dot product (whole-stage codegen, no Python), then
                         TakeOrdered. The correctness baseline.
- ``build_lsh_index`` / ``lsh_topk_indexed`` — random-hyperplane LSH as a
  REAL index: per-table sign-bit codes are materialized ONCE at ingest into
  a (t, code, id) parquet table partitioned by table id and sorted by code;
  at query time the driver enumerates the probe codes (Hamming ≤ r around
  the query's code per table, a few hundred longs), broadcast-joins them
  against the index — parquet reads only the probed buckets via partition +
  row-group pruning — and the exact cosine rerank touches only the candidate
  ids. Candidates ≪ corpus is the whole point; ``lsh_candidates`` exposes
  the candidate set so benchmarks can report the pruning ratio.
"""

from __future__ import annotations

from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0),
                       lambda acc, x: acc + x)


def cosine_scores(df: DataFrame, id_col: str, vec_col: str,
                  query: list[float]) -> DataFrame:
    q = np.asarray(query, dtype=np.float64)
    qn = float(np.sqrt((q * q).sum()))
    qlit = F.array(*[F.lit(float(x)) for x in q])
    v = _as_double(F.col(vec_col))
    vn = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    cos = _dot(v, qlit) / (vn * F.lit(qn))
    return df.select(F.col(id_col), cos.alias("cosine")).where(
        F.col("cosine").isNotNull()
    )


def cosine_topk(df: DataFrame, id_col: str, vec_col: str,
                query: list[float], k: int) -> DataFrame:
    """Exact top-k by cosine (desc), id asc tiebreak → (id, cosine)."""
    return (
        cosine_scores(df, id_col, vec_col, query)
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


# --- random-hyperplane LSH (indexed) --------------------------------------------
#
# Hyperplanes are ±1 sign matrices derived from md5 (Achlioptas-style random
# projections — database-friendly JL: binary coins do the job of Gaussians).
# md5 instead of a numpy RNG makes every code ENGINE-INDEPENDENT: the DuckDB
# oracle recomputes the identical codes/buckets/candidates from SQL alone,
# so the whole ANN pipeline is exactly oracled (same trick as the minhash/
# simhash gates).


def _md5_sign(key: str) -> int:
    import hashlib as _hl

    return 1 if int(_hl.md5(key.encode()).hexdigest()[-1], 16) % 2 else -1


from functools import lru_cache


@lru_cache(maxsize=16)
def _all_planes(dim: int, n_bits: int, n_tables: int, seed: int) -> np.ndarray:
    """(n_tables, n_bits, dim) ±1 planes, deterministic & engine-independent:
    sign(t,b,d) = +1 iff the last hex digit of md5('{seed}:{t}:{b}:{d}') is
    odd (DuckDB twin: right(md5(...),1) IN ('1','3','5','7','9','b','d','f'))."""
    out = np.empty((n_tables, n_bits, dim), dtype=np.float64)
    for t in range(n_tables):
        for b in range(n_bits):
            for d in range(dim):
                out[t, b, d] = _md5_sign(f"{seed}:{t}:{b}:{d}")
    return out


def lsh_codes_col(vec_col, dim: int | None, n_bits: int, n_tables: int,
                  seed: int):
    """array<long> of per-table bucket codes for a vector column — one Arrow
    pass, a single (batch, dim) × (dim, n_tables·n_bits) matmul per batch."""
    colref = F.col(vec_col) if isinstance(vec_col, str) else vec_col

    @F.pandas_udf("array<long>")
    def codes_udf(vecs: pd.Series) -> pd.Series:
        d = dim
        if d is None:
            probe = next((v for v in vecs if v is not None), None)
            d = len(probe) if probe is not None else 1
        flat = _all_planes(d, n_bits, n_tables, seed).reshape(
            n_tables * n_bits, d)
        mat = np.asarray(
            [np.asarray(v, dtype=np.float64) if v is not None
             else np.zeros(d) for v in vecs]
        )
        if len(mat) == 0:
            return pd.Series([], dtype=object)
        signs = (mat @ flat.T >= 0).reshape(len(mat), n_tables, n_bits)
        return pd.Series(list(_pack_codes(signs)))

    return codes_udf(colref)


def _pack_codes(signs: np.ndarray) -> np.ndarray:
    """(n, n_tables, n_bits) bool → (n, n_tables) int64 bucket codes."""
    weights = (np.int64(1) << np.arange(signs.shape[-1], dtype=np.int64))
    return signs.astype(np.int64) @ weights


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    out_dir: str,
    dim: int,
    n_bits: int = 16,
    n_tables: int = 16,
    seed: int = 42,
) -> None:
    """Materialize the LSH index ONCE at ingest: (t, code, id) parquet,
    partitioned by table id and sorted by code so a probe reads only its
    bucket's row groups. One Arrow pass computes all n_tables codes per row
    (a single (n, dim) × (dim, n_tables·n_bits) matmul per batch — never
    per-row Python, never array-HOF lambdas)."""
    coded = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.posexplode(
            lsh_codes_col(vec_col, dim, n_bits, n_tables, seed)
        ).alias("t", "code"),
    )
    (
        coded.repartition("t")
        .sortWithinPartitions("code")
        .write.mode("overwrite")
        .partitionBy("t")
        .parquet(out_dir)
    )


def lsh_probe_codes(
    query: list[float],
    n_bits: int = 16,
    n_tables: int = 16,
    probe_hamming: int = 3,
    seed: int = 42,
) -> list[tuple[int, int]]:
    """Driver-side probe enumeration: for each table, the query's code plus
    every code within Hamming ≤ r — Σ C(n_bits, i) codes per table (e.g.
    137 for 16 bits, r=2). A few hundred (t, code) pairs total."""
    dim = len(query)
    q = np.asarray(query, dtype=np.float64)
    planes = _all_planes(dim, n_bits, n_tables, seed)
    signs = (planes @ q >= 0)  # (n_tables, n_bits)
    base = _pack_codes(signs[None, :, :])[0]  # (n_tables,)
    pairs: list[tuple[int, int]] = []
    for t in range(n_tables):
        code = int(base[t])
        pairs.append((t, code))
        for r in range(1, probe_hamming + 1):
            for bits in combinations(range(n_bits), r):
                flip = 0
                for b in bits:
                    flip |= 1 << b
                pairs.append((t, code ^ flip))
    return pairs


def lsh_candidates(
    spark: SparkSession,
    index_dir: str,
    query: list[float],
    n_bits: int = 16,
    n_tables: int = 16,
    probe_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Distinct candidate ids from the probed buckets. The probe set is
    broadcast; the index scan prunes to the probed table partitions and,
    within them, to row groups whose code range intersects the probes."""
    pairs = lsh_probe_codes(query, n_bits, n_tables, probe_hamming, seed)
    probes = spark.createDataFrame(pairs, "t int, code long")
    idx = spark.read.parquet(index_dir)
    return (
        idx.join(F.broadcast(probes), ["t", "code"])
        .select("id")
        .distinct()
    )


def lsh_topk_indexed(
    spark: SparkSession,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    index_dir: str,
    query: list[float],
    k: int,
    n_bits: int = 16,
    n_tables: int = 16,
    probe_hamming: int = 3,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the persisted LSH buckets, exact-cosine
    rerank ONLY the candidates. Recall/cost knobs: tables × probe radius."""
    cands = lsh_candidates(
        spark, index_dir, query, n_bits, n_tables, probe_hamming, seed
    ).withColumnRenamed("id", "__cand_id")
    pruned = df.join(
        cands, df[id_col].cast("long") == F.col("__cand_id"), "leftsemi"
    )
    return cosine_topk(pruned, id_col, vec_col, query, k)


# --- IVF (inverted-file) ANN ---------------------------------------------------
#
# The second classic ANN family next to LSH: a coarse quantizer assigns every
# vector to its nearest of K centroid cells; the index is the vector table
# PARTITIONED BY cell, so a query reads only the nprobe nearest cells —
# partition pruning does the candidate cut, then the exact rerank runs on
# candidates only. The coarse quantizer here is pluggable; the default
# ``seed_centroids`` (the K lowest-id corpus vectors) is a deterministic
# stand-in that keeps the WHOLE pipeline — assignment argmin, probe order,
# candidate set, rerank — exactly recomputable by the DuckDB oracle. A
# production deployment would swap in KMeans-trained centroids; nothing else
# changes (assignment, layout and probing are centroid-agnostic).


def seed_centroids(df: DataFrame, id_col: str, vec_col: str,
                   k: int) -> list[list[float]]:
    """The K lowest-id vectors as deterministic coarse-quantizer centroids."""
    rows = (df.orderBy(F.col(id_col).cast("long")).limit(k)
            .select(vec_col).collect())
    return [[float(x) for x in r[0]] for r in rows]


def _nearest_cell(vecs, cents) -> "np.ndarray":
    """Vectorized argmin_c ||v - c||² via |c|² − 2 v·c (|v|² is constant per
    row); ties break to the lowest cell index (np.argmin rule — the oracle
    orders by (dist, cell))."""
    import numpy as np

    c = np.asarray(cents, dtype=np.float64)          # (K, d)
    v = np.asarray(vecs, dtype=np.float64)           # (n, d)
    scores = (c * c).sum(axis=1)[None, :] - 2.0 * (v @ c.T)  # (n, K)
    return np.argmin(scores, axis=1)


def ivf_assign(df: DataFrame, id_col: str, vec_col: str,
               centroids: list[list[float]]) -> DataFrame:
    """df + an int ``cell`` column (nearest centroid), via an Arrow-batched
    pandas UDF (numpy matmul per batch — no per-element HOF lambdas)."""
    import pandas as pd

    cents = [list(map(float, c)) for c in centroids]

    @F.pandas_udf("int")
    def assign(vs: pd.Series) -> pd.Series:
        import numpy as np

        if vs.empty:
            return pd.Series([], dtype="int32")
        mat = np.stack(vs.map(lambda v: np.asarray(v, dtype=np.float64)))
        return pd.Series(_nearest_cell(mat, cents).astype("int32"))

    return df.withColumn("cell", assign(F.col(vec_col)))


def build_ivf_index(df: DataFrame, id_col: str, vec_col: str,
                    out_path: str, centroids: list[list[float]]) -> None:
    """Persist the inverted file: (cell, id, vec) parquet PARTITIONED BY
    cell — a probe query's cell filter becomes partition pruning (only
    nprobe/K of the index is ever read)."""
    (ivf_assign(df, id_col, vec_col, centroids)
     .select("cell", F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
     .write.mode("overwrite").partitionBy("cell").parquet(out_path))


def ivf_topk_indexed(spark, index_path: str, centroids: list[list[float]],
                     query: list[float], k: int, nprobe: int) -> DataFrame:
    """Probe the ``nprobe`` cells nearest the query (driver-side argsort
    over K centroids — K is tiny), scan ONLY those partitions, exact cosine
    rerank → (id, cosine) top-k."""
    order = _probe_cells(centroids, query)
    cells = [int(c) for c in order[:nprobe]]
    cand = spark.read.parquet(index_path).where(F.col("cell").isin(cells))
    return cosine_topk(cand.select(F.col("id"), F.col("vec")),
                       "id", "vec", query, k)


def _probe_cells(centroids: list[list[float]], query: list[float]):
    """Cells by ascending |c|² − 2 q·c, ties by cell index (same rule as
    assignment — and as the oracle's ORDER BY (dist, cell))."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    d = (c * c).sum(axis=1) - 2.0 * (c @ q)
    return np.lexsort((np.arange(len(c)), d))
