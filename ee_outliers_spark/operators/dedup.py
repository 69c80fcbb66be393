"""Deduplication operators for large-scale training-data pipelines.

Not in the reference (ee-outliers never dedups) — added as first-class engine
operators per the build brief. All are shuffle-conscious:

- ``exact_dedup``      — hash-groupBy on a content digest; one shuffle on the
                         digest (no skew: digests are uniform).
- ``ngram_jaccard_pairs`` — exact n-gram (token shingle) Jaccard: pairs are
                         generated ONLY for docs sharing a shingle (inverted
                         index on shingles — never all-pairs), then scored
                         exactly. Head shingles are capped (stop-shingle
                         removal) to defuse the quadratic blowup, the same
                         trick as head-term skew in the text index.
- ``minhash_lsh_pairs``— MinHash signatures (num_perm seeded xxhash64 mins,
                         all JVM-side) → LSH banding → bucket self-join →
                         candidate pairs with estimated Jaccard. The scale
                         path: candidate generation cost is bands×docs.
- ``simhash``          — 64-bit SimHash fingerprint per doc (Arrow pandas
                         UDF over the token array; md5-derived token hashes
                         so the fingerprint is platform-stable).
- ``embedding_neardup_pairs`` — cosine near-duplicates over an embedding
                         column, bucketed by a partition key to avoid
                         all-pairs.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from ..session import materialize, spread_input
from ..tokenizer import tokens_col


# --- exact dedup --------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """One representative (min id) per exact content digest.
    Returns (digest, rep_id, n_dupes)."""
    return (
        df.select(
            F.md5(F.coalesce(F.col(content_col), F.lit(""))).alias("digest"),
            F.col(id_col).alias("_id"),
        )
        .groupBy("digest")
        .agg(
            F.min("_id").alias("rep_id"),
            F.count("*").cast("long").alias("n_dupes"),
        )
    )


# --- token shingles (shared by jaccard + minhash) ------------------------------

def shingles_from_tokens(toks, k: int):
    """Array of DISTINCT token k-grams joined by a single space, as an
    Arrow-batched pandas UDF over the token array.

    Why a UDF and not array HOFs: transform/element_at lambdas evaluate
    interpreted per element AND ProjectCollapse re-embeds the tokenizer
    expression into the lambda even when the token array is aliased in a
    separate projection — re-running the split per element_at made shingle
    generation O(tokens²) per row (measured 12s for 260k shingles; the same
    trap round 1 hit on phrase tf). A UDF input is evaluated exactly once."""
    toks = F.col(toks) if isinstance(toks, str) else toks

    @F.pandas_udf("array<string>")
    def gen(ts: pd.Series) -> pd.Series:
        def g(lst):
            if lst is None or len(lst) < k:
                return []
            return list(dict.fromkeys(
                " ".join(lst[i:i + k]) for i in range(len(lst) - k + 1)
            ))
        return ts.map(g)

    return gen(toks)


def _shingle_rows(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(_id, g) exploded distinct k-gram rows."""
    df = spread_input(df.select(id_col, text_col))
    return (
        df.select(
            F.col(id_col).alias("_id"),
            shingles_from_tokens(tokens_col(text_col), k).alias("sh"),
        )
        .select("_id", F.explode("sh").alias("g"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard over distinct token k-grams, computed via a shingle
    inverted index (docs sharing no shingle are never paired).

    ``max_shingle_df`` removes head shingles appearing in more docs than the
    cap from the shingle sets ENTIRELY — numerator and denominator — so the
    result is the exact Jaccard of the stop-shingle-filtered sets (the same
    move as stopword removal; an inconsistent cap that only skipped pair
    generation would silently underestimate every pair's similarity). This
    defuses the quadratic head-shingle blowup: no shingle joins more than
    ``max_shingle_df`` docs. Pass None to disable (exact raw-set Jaccard,
    quadratic risk accepted).
    """
    # the shingles feed the df cap, the sizes and both self-join sides
    inv = materialize(_shingle_rows(df, id_col, text_col, k))
    if max_shingle_df is not None:
        good = inv.groupBy("g").agg(F.count("*").alias("df_")).where(
            F.col("df_") <= max_shingle_df
        )
        inv = materialize(inv.join(good.select("g"), "g"))
    # sizes AFTER the cap: |filtered set|, consistent with the intersection
    sizes = inv.groupBy("_id").agg(F.count("*").alias("n"))
    a = inv.alias("a")
    b = inv.alias("b")
    shared = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a._id") < F.col("b._id")))
        .groupBy(F.col("a._id").alias("id1"), F.col("b._id").alias("id2"))
        .agg(F.count("*").cast("long").alias("shared"))
    )
    sa = sizes.select(F.col("_id").alias("id1"), F.col("n").alias("n1"))
    sb = sizes.select(F.col("_id").alias("id2"), F.col("n").alias("n2"))
    out = (
        shared.join(sa, "id1")
        .join(sb, "id2")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n1") + F.col("n2") - F.col("shared")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id1", "id2", "jaccard")


# --- MinHash + LSH --------------------------------------------------------------

#: universal-hash modulus (2^31 − 1, prime): products a·h stay < 2^62 so the
#: whole signature pipeline is exact int64 arithmetic in ANY engine — the
#: same numbers fall out of Spark, DuckDB and Python, which is what makes the
#: MinHash gate hard-oracled instead of "trust me"
MINHASH_P = 2147483647


def _minhash_coeffs(num_perm: int, seed: int = 42) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for h_i(x) = (a·x + b) mod P (Broder's MinHash
    with universal hashing instead of true permutations)."""
    import random

    rng = random.Random(seed)
    return [(rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
            for _ in range(num_perm)]


def md5_long_expr(col):
    """60-bit integer from the first 15 hex chars of md5 — reproducible
    everywhere (Spark conv / DuckDB '0x' cast / Python int(h[:15], 16))."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_long_sql(expr: str) -> str:
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_perm: int = 64,
    seed: int = 42,
) -> DataFrame:
    """(id, sig array<long>) — per permutation i, min over shingles of
    (aᵢ·md5₆₀(shingle) + bᵢ) mod P.

    ONE fused Arrow pass per doc batch (narrow map, ZERO shuffle): tokenize
    (C-path pandas findall, identical tokens to ``tokens_col``), shingle,
    md5₆₀ (identical to ``md5_long_expr``: int of the first 15 hex chars),
    then all ``num_perm`` mins in a single numpy broadcast. The round-6
    shape (pandas shingle UDF → explode → JVM md5 → 64 min-aggs) shipped
    every shingle STRING through Arrow and a corpus-sized shuffle; measured
    at 50k docs / 2.6M shingles that pipeline cost ~19 s vs ~2 s here —
    the min over a multiset equals the min over the distinct set, so
    per-doc shingle dedup is also gone. All arithmetic stays exact int64
    (a·h < 2^62), so the numbers are bit-identical to the DuckDB oracle."""
    coeffs = _minhash_coeffs(num_perm, seed)
    a_arr = np.asarray([a for a, _ in coeffs], dtype=np.int64)[:, None]
    b_arr = np.asarray([b for _, b in coeffs], dtype=np.int64)[:, None]

    @F.pandas_udf("array<long>")
    def sig_udf(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
        md5 = hashlib.md5
        from_bytes = int.from_bytes
        for batch in texts:
            tok_lists = batch.fillna("").str.lower().str.findall("[a-z0-9]+")
            out = []
            for toks in tok_lists:
                n = len(toks) - k + 1
                if n <= 0:
                    out.append(None)  # <k tokens: no shingles, no signature
                    continue
                # int of the first 15 hex chars == big-endian first 8
                # digest bytes >> 4 — same value as md5_long_expr, without
                # the hexdigest string round-trip (~2x per shingle)
                hs = np.fromiter(
                    (from_bytes(
                        md5(" ".join(toks[i:i + k]).encode("utf-8"))
                        .digest()[:8], "big") >> 4 for i in range(n)),
                    dtype=np.int64, count=n) % MINHASH_P
                out.append(((a_arr * hs + b_arr) % MINHASH_P).min(axis=1))
            yield pd.Series(out, dtype=object)

    # asNondeterministic stops the optimizer from pushing the isNotNull
    # filter below the projection, which would DUPLICATE the Arrow UDF and
    # land the duplicate under the spread exchange — i.e. re-evaluate the
    # whole corpus on one task (guide §4.4; measured 6.5 s vs 0.6 s here)
    sig_udf = sig_udf.asNondeterministic()
    return spread_input(df.select(id_col, text_col)).select(
        F.col(id_col), sig_udf(F.col(text_col)).alias("sig")
    ).where(F.col("sig").isNotNull())


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Candidate pairs via LSH banding + estimated Jaccard from signature
    agreement. (id1, id2, est_jaccard). Scale: the self-join key is
    (band, band-key) — collisions only for near-dups, so the join output is
    ~linear in true near-dup pairs."""
    assert num_perm % bands == 0
    rows = num_perm // bands
    sig = minhash_signatures(df, id_col, text_col, k, num_perm, seed)
    # `sig` is read by both band self-join sides (~520 B/doc, far below the text)
    sig = materialize(sig)
    band_arr = F.array(
        *[
            F.concat_ws(
                ",", *[F.element_at("sig", b * rows + r + 1).cast("string")
                       for r in range(rows)]
            )
            for b in range(bands)
        ]
    )
    banded = sig.select(
        F.col(id_col).alias("_id"), F.col("sig"),
        F.posexplode(band_arr).alias("band", "bucket"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    # est_jaccard is a deterministic function of the pair, so computing it
    # inside the join select and thresholding BEFORE dropDuplicates yields
    # the identical pair set while the dedup shuffle carries 3 scalars per
    # row instead of two num_perm-long signature arrays (~500 B → ~24 B)
    est = F.size(
        F.filter(
            F.zip_with(F.col("a.sig"), F.col("b.sig"), lambda x, y: x == y),
            lambda eq: eq,
        )
    ) / F.lit(float(num_perm))
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id1"),
            F.col("b._id").alias("id2"),
            est.alias("est_jaccard"),
        )
        .where(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id1", "id2"])
    )
    return cand


# --- SimHash ---------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars → nonneg int64 everywhere (SQL-safe)


def _simhash_tokens(tokens: list[str] | np.ndarray) -> int:
    """60-bit SimHash with md5-derived token hashes (platform-stable;
    60 bits = first 15 hex chars, so the fingerprint is reproducible as a
    plain BIGINT in any SQL engine — the DuckDB oracle recomputes it)."""
    votes = np.zeros(SIMHASH_BITS, dtype=np.int64)
    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)
    for t in tokens:
        h = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
        bits = (np.uint64(h) >> shifts) & np.uint64(1)
        votes += np.where(bits == 1, 1, -1)
    return int(((votes > 0).astype(np.uint64)
                << np.arange(SIMHASH_BITS, dtype=np.uint64)).sum())


@F.pandas_udf(LongType())
def _simhash_udf(tokens: pd.Series) -> pd.Series:
    return tokens.map(lambda ts: _simhash_tokens(ts if ts is not None else []))


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long) for docs with ≥1 token (tokenless docs are exact
    dupes of each other — exact_dedup territory, not SimHash's).
    Narrow map — Arrow batches, no shuffle."""
    df = spread_input(df.select(id_col, text_col))
    return df.select(
        F.col(id_col),
        tokens_col(text_col).alias("_toks"),
    ).where(F.size("_toks") > 0).select(
        F.col(id_col),
        _simhash_udf(F.col("_toks")).alias("simhash"),
    )


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ d, using 4×15-bit chunk
    banding (pigeonhole: distance ≤3 ⇒ some 15-bit chunk equal) — the
    standard scalable SimHash join, never all-pairs. Banding is EXACT for
    max_hamming ≤ 3: the output equals the all-pairs Hamming filter (which
    is what the DuckDB oracle computes)."""
    fps = simhash(df, id_col, text_col).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    # `fps` is read by both self-join sides
    fps = materialize(fps)
    chunks = fps.select(
        "_id", "simhash",
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col("simhash"), 15 * c).bitwiseAND(F.lit(0x7FFF))
                for c in range(4)
            ])
        ).alias("chunk_no", "chunk"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    # hamming is deterministic per pair: compute + threshold inside the join
    # select so the dedup shuffle never carries the fingerprints and drops
    # non-near rows before the exchange (same pair set either way)
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.chunk_no") == F.col("b.chunk_no"))
            & (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id1"), F.col("b._id").alias("id2"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id1", "id2"])
    )


# --- embedding near-dup ------------------------------------------------------------

def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bucket_col: str,
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """Cosine ≥ τ pairs within buckets (e.g. a cluster/label/LSH bucket),
    EXACT within each bucket. (id1, id2, cosine).

    Skew-safe block-pair self-join: each vector is hashed into one of
    ``n_blocks`` blocks inside its bucket and each task compares one
    (block_i ≤ block_j) pair, so a dominant bucket's m²/2 comparisons spread
    over n_blocks·(n_blocks+1)/2 join keys instead of landing on one reducer
    — the quadratic WORK is inherent to an exact guarantee, but no single
    task is quadratic in the dominant bucket anymore. For an approximate
    scale path with hash-bounded buckets see ``embedding_neardup_lsh``."""
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(bucket_col).alias("_b"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    norm = F.sqrt(F.aggregate("_v", F.lit(0.0), lambda acc, x: acc + x * x))
    v = v.withColumn("_n", norm).where(F.col("_n") > 0).withColumn(
        "_blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks)).cast("int")
    )
    # left role: a row in block i serves every pair (i, j≥i);
    # right role: a row in block j serves every pair (i≤j, j)
    blocks = F.sequence(F.lit(0), F.lit(n_blocks - 1))
    a = v.withColumn("_j", F.explode(F.filter(
        blocks, lambda j: j >= F.col("_blk")))).withColumnRenamed("_blk", "_i")
    b = v.withColumn("_i", F.explode(F.filter(
        blocks, lambda i: i <= F.col("_blk")))).withColumnRenamed("_blk", "_j")
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    same_block = F.col("a._i") == F.col("a._j")
    pairs = a.alias("a").join(
        b.alias("b"),
        (F.col("a._b") == F.col("b._b"))
        & (F.col("a._i") == F.col("b._i")) & (F.col("a._j") == F.col("b._j"))
        # same block pair: order inside; cross pair: every (a from i, b from j)
        # combination is a distinct unordered pair already
        & (F.when(same_block, F.col("a._id") < F.col("b._id"))
           .otherwise(F.col("a._id") != F.col("b._id"))),
    ).select(
        F.least(F.col("a._id"), F.col("b._id")).alias("id1"),
        F.greatest(F.col("a._id"), F.col("b._id")).alias("id2"),
        (dot / (F.col("a._n") * F.col("b._n"))).alias("cosine"),
    )
    # cross-block pairs appear once per (i,j) key; same least/greatest ids
    return pairs.where(F.col("cosine") >= threshold).dropDuplicates(
        ["id1", "id2"])


def embedding_neardup_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    n_bits: int = 12,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-dup pairs with NO bucket column: candidates are
    pairs sharing at least one random-hyperplane LSH bucket (hash-bounded
    bucket sizes — no label skew can degenerate the join), then exact-cosine
    verified. (id1, id2, cosine). Recall is governed by bits/tables: a pair
    at cosine τ collides per table with prob (1 - arccos(τ)/π)^n_bits; at
    τ=0.9 / 12 bits that is ≈0.66, so 8 tables give ≈1-(1-.66)^8 ≈ 0.9999.
    This is the 100-TB path: candidate generation is n·n_tables rows, never
    all-pairs, and dominant semantic clusters split across code buckets."""
    from .similarity import lsh_codes_col

    v = df.select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    norm = F.sqrt(F.aggregate("_v", F.lit(0.0), lambda acc, x: acc + x * x))
    v = v.withColumn("_n", norm).where(F.col("_n") > 0)
    # the codes are read by both self-join sides; only the posexplode repeats
    v = materialize(v.withColumn(
        "_codes", lsh_codes_col("_v", dim=None, n_bits=n_bits,
                                n_tables=n_tables, seed=seed)))
    coded = v.select(
        "_id", "_v", "_n",
        F.posexplode("_codes").alias("_t", "_code"),
    )
    a, b = coded.alias("a"), coded.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = a.join(
        b,
        (F.col("a._t") == F.col("b._t")) & (F.col("a._code") == F.col("b._code"))
        & (F.col("a._id") < F.col("b._id")),
    ).select(
        F.col("a._id").alias("id1"), F.col("b._id").alias("id2"),
        (dot / (F.col("a._n") * F.col("b._n"))).alias("cosine"),
    ).dropDuplicates(["id1", "id2"])
    return pairs.where(F.col("cosine") >= threshold)


# --- duplicate-cluster resolution (connected components) ----------------------

def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "id1",
    b_col: str = "id2",
    max_iter: int = 50,
) -> DataFrame:
    """Resolve near-duplicate PAIRS into clusters: (id, cluster_id) where
    cluster_id = the minimum id reachable through the pair graph — the
    "keep one canonical doc per duplicate group" step that follows every
    pair generator (exact / n-gram / MinHash / SimHash / embedding).

    Distributed connected components by min-label propagation with pointer
    doubling: each round every node takes the min of its own label, its
    neighbors' labels, and its label's label (path halving), so convergence
    is O(log diameter) rounds — a chain of length 2^k resolves in ~k
    rounds, not 2^k. Each round is two doc_id-keyed shuffles (neighbor agg
    + label self-join); no driver-side graph state.

    Every round ends in ``materialize``: an iterative DataFrame that
    references its previous round in three places grows its logical plan
    exponentially, and cache() only short-circuits EXECUTION — Catalyst
    still re-analyzes the whole lineage each round (measured: the chain
    fixpoint went 2s → 63s per round by iteration 4 without truncation).
    Truncating lineage resets the plan to a scan of materialized
    partitions, keeping every round O(current data). Executor loss after a
    round fails the job: see ``session.materialize``."""
    e = pairs.select(F.col(a_col).cast("long").alias("a"),
                     F.col(b_col).cast("long").alias("b"))
    edges = materialize(e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct())
    labels = materialize(edges.select("a").distinct().select(
        F.col("a").alias("id"), F.col("a").alias("cid")))
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.select(F.col("id").alias("b"),
                                     F.col("cid").alias("bcid")), "b")
            .groupBy("a").agg(F.min("bcid").alias("ncid"))
            .select(F.col("a").alias("id"), "ncid")
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id", F.least("cid", F.coalesce("ncid", "cid")).alias("cid"))
        # pointer doubling: cid := min(cid, label(cid))
        jump = stepped.select(F.col("id").alias("cid"),
                              F.col("cid").alias("jcid"))
        new = stepped.join(jump, "cid", "left").select(
            "id", F.least("cid", F.coalesce("jcid", "cid")).alias("cid"))
        new = materialize(new)
        changed = (
            new.select(F.col("id").alias("_i"), F.col("cid").alias("_n"))
            .join(labels.select(F.col("id").alias("_i"),
                                F.col("cid").alias("_o")), "_i")
            .where(F.col("_n") != F.col("_o")).count()
        )
        labels = new
        if changed == 0:
            break
    return labels.select(F.col("id"), F.col("cid").alias("cluster_id"))


def drop_duplicates_by_clusters(
    df: DataFrame,
    id_col: str,
    clusters: DataFrame,
) -> DataFrame:
    """The end of the dedup pipeline: keep one canonical row per duplicate
    cluster (the min-id member, i.e. rows whose id equals their cluster_id)
    plus every row that belongs to no cluster. One broadcast-sized anti-join
    against the non-canonical ids — clusters are pair-graph nodes only, so
    the join side is |dup nodes|, never corpus-sized."""
    losers = (clusters.where(F.col("id") != F.col("cluster_id"))
              .select(F.col("id").alias("__loser")))
    return df.join(losers, df[id_col] == F.col("__loser"), "left_anti")


# --- eval-set decontamination (k-gram collision) ------------------------------

def ngram_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    train_id: str,
    train_text: str,
    eval_id: str,
    eval_text: str,
    k: int = 13,
) -> DataFrame:
    """(train_id, eval_id) pairs sharing at least one token k-gram — the
    training-data DECONTAMINATION primitive (the GPT-3/PaLM eval-leakage
    rule: flag/drop training docs that collide with a benchmark document on
    any k-gram; k=13 is the published choice, small corpora use smaller k).

    Scale shape: the eval side is benchmark-sized (thousands of docs) — its
    exploded k-gram set is broadcast, so the train side's k-grams stream
    through a broadcast-hash join with NO shuffle of the corpus: one narrow
    pass at 100 TB. Both sides reuse the Arrow-batched shingle kernel
    (array HOFs re-evaluate the tokenizer per element — see
    shingles_from_tokens)."""
    t = _shingle_rows(train, train_id, train_text, k).withColumnRenamed(
        "_id", "train_id")
    e = _shingle_rows(eval_df, eval_id, eval_text, k).withColumnRenamed(
        "_id", "eval_id")
    return (
        t.join(F.broadcast(e), "g")
        .select("train_id", "eval_id")
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    train_id: str,
    train_text: str,
    eval_id: str,
    eval_text: str,
    k: int = 13,
) -> DataFrame:
    """train minus every doc colliding with the eval set on any k-gram
    (left-anti join against the contamination pairs — the join key set is
    contaminated-doc-sized, far below corpus-sized)."""
    bad = (
        ngram_contamination(train, eval_df, train_id, train_text,
                            eval_id, eval_text, k)
        .select(F.col("train_id").alias("__bad_id")).distinct()
    )
    return train.join(
        bad, train[train_id] == F.col("__bad_id"), "left_anti")
