"""Training-data-pipeline operators vs pure-Python oracles:
minhash-LSH recall against exact Jaccard, simhash fingerprints, LSH-ANN
recall against brute-force cosine."""

import hashlib
import itertools

import numpy as np
import pytest
from pyspark.sql import functions as F

from ee_outliers_spark.operators.dedup import (
    MINHASH_P, _minhash_coeffs, minhash_lsh_pairs, minhash_signatures,
    ngram_jaccard_pairs, simhash, _simhash_tokens,
)
from ee_outliers_spark.operators.similarity import (
    build_lsh_index, cosine_topk, lsh_candidates, lsh_topk_indexed,
)
from ee_outliers_spark.tokenizer import tokenize_py


def _grams(text, k=3):
    t = tokenize_py(text)
    return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}


def _jaccard(a, b):
    if not a or not b:
        return 0.0
    return len(a & b) / len(a | b)


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "watches from the window and the bird sings a morning song")
    rows = [(0, base)]
    words = base.split()
    # near dups: drop/replace one word
    for i in range(1, 6):
        w = list(words)
        w[i * 3] = "changed%d" % i
        rows.append((i, " ".join(w)))
    # unrelated docs
    for i in range(6, 20):
        rows.append((i, " ".join("tok%d_%d" % (i, j) for j in range(30))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_jaccard_exact(spark, near_dup_docs):
    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            near_dup_docs, "doc_id", "text", k=3, threshold=0.3,
            max_shingle_df=None,
        ).collect()
    }
    docs = {r["doc_id"]: r["text"] for r in near_dup_docs.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(docs), 2):
        j = _jaccard(_grams(docs[a]), _grams(docs[b]))
        if j >= 0.3:
            want[(a, b)] = j
    assert set(got) == set(want)
    for pair in want:
        assert abs(got[pair] - want[pair]) < 1e-12


def test_ngram_jaccard_cap_is_filtered_set_jaccard(spark, near_dup_docs):
    """With max_shingle_df, the result equals EXACT Jaccard over the
    stop-shingle-filtered sets (numerator AND denominator — the cap must not
    silently deflate similarity)."""
    cap = 3
    got = {
        (r["id1"], r["id2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            near_dup_docs, "doc_id", "text", k=3, threshold=0.3,
            max_shingle_df=cap,
        ).collect()
    }
    docs = {r["doc_id"]: r["text"] for r in near_dup_docs.collect()}
    all_grams = {d: _grams(t) for d, t in docs.items()}
    df_counts = {}
    for gs in all_grams.values():
        for g in gs:
            df_counts[g] = df_counts.get(g, 0) + 1
    filt = {d: {g for g in gs if df_counts[g] <= cap}
            for d, gs in all_grams.items()}
    want = {}
    for a, b in itertools.combinations(sorted(docs), 2):
        j = _jaccard(filt[a], filt[b])
        if j >= 0.3:
            want[(a, b)] = j
    assert set(got) == set(want)
    for pair in want:
        assert abs(got[pair] - want[pair]) < 1e-12


def test_minhash_signatures_match_python_twin(spark, near_dup_docs):
    """The md5-based universal-hash signatures are engine-independent: a
    pure-Python twin reproduces them exactly (the same property the DuckDB
    gate oracle relies on)."""
    coeffs = _minhash_coeffs(64, 42)
    sig = {r["doc_id"]: list(r["sig"]) for r in
           minhash_signatures(near_dup_docs, "doc_id", "text", k=3,
                              num_perm=64).collect()}
    docs = {r["doc_id"]: r["text"] for r in near_dup_docs.collect()}
    for d, text in docs.items():
        gs = _grams(text)
        if not gs:
            assert d not in sig
            continue
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % MINHASH_P
              for g in gs]
        want = [min((a * h + b) % MINHASH_P for h in hs) for a, b in coeffs]
        assert sig[d] == want, d


def test_minhash_lsh_recall(spark, near_dup_docs):
    got = {
        (r["id1"], r["id2"])
        for r in minhash_lsh_pairs(
            near_dup_docs, "doc_id", "text",
            k=3, num_perm=64, bands=16, threshold=0.4,
        ).collect()
    }
    docs = {r["doc_id"]: r["text"] for r in near_dup_docs.collect()}
    strong = {
        (a, b)
        for a, b in itertools.combinations(sorted(docs), 2)
        if _jaccard(_grams(docs[a]), _grams(docs[b])) >= 0.6
    }
    # all strong true pairs recalled; no wildly-false positives (est>=0.4 but true<0.1)
    assert strong <= got
    for a, b in got:
        assert _jaccard(_grams(docs[a]), _grams(docs[b])) >= 0.1


def test_pair_generators_arrow_pass_not_duplicated(spark, near_dup_docs):
    """Every pair generator self-joins a frame computed by a corpus-sized
    Arrow pass (minhash signatures, simhash fingerprints, shingle rows,
    LSH codes), and a broadcast build side cannot reuse the probe side's
    exchange — so without up-front materialization the pass is evaluated
    once PER REFERENCE (the ngram executed plan held EIGHT copies of the
    tokenize+shingle kernel). Each generator materializes the pass once
    (``session.materialize``); the returned plans must therefore contain NO
    Python evaluation node — a reappearing {Arrow,Batch}EvalPython means
    the duplication regressed."""
    from ee_outliers_spark.operators.dedup import (
        embedding_neardup_lsh, ngram_jaccard_pairs, simhash_neardup_pairs,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, float(i % 2)]) for i in range(1, 30)],
        "vec_id long, embedding array<double>")
    frames = {
        "minhash": minhash_lsh_pairs(near_dup_docs, "doc_id", "text",
                                     k=3, num_perm=64, bands=16,
                                     threshold=0.4),
        "ngram": ngram_jaccard_pairs(near_dup_docs, "doc_id", "text",
                                     k=3, threshold=0.5),
        "simhash": simhash_neardup_pairs(near_dup_docs, "doc_id", "text"),
        "emb_lsh": embedding_neardup_lsh(vecs, "vec_id", "embedding"),
    }
    for name, df in frames.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, (name, plan)


def test_simhash_matches_python_oracle(spark, near_dup_docs):
    got = {r["doc_id"]: r["simhash"] for r in
           simhash(near_dup_docs, "doc_id", "text").collect()}
    for r in near_dup_docs.collect():
        assert got[r["doc_id"]] == _simhash_tokens(tokenize_py(r["text"]))


def test_simhash_near_for_near_dups(spark, near_dup_docs):
    got = {r["doc_id"]: r["simhash"] for r in
           simhash(near_dup_docs, "doc_id", "text").collect()}
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(got[0], got[1]) <= 12      # near dup -> close
    assert ham(got[0], got[10]) >= 18     # unrelated -> far (60-bit fp)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_lsh_ann_indexed_on_sf_data(spark, emb, tmp_path):
    """On the driver's near-random embeddings: exact agreement at the head
    (where similarity is real signal) + actual pruning."""
    rows = emb.collect()
    q = [float(x) for x in rows[0]["embedding"]]
    idx_dir = str(tmp_path / "lsh_idx")
    build_lsh_index(emb, "vec_id", "embedding", idx_dir, dim=len(q))
    brute = [r["vec_id"] for r in
             cosine_topk(emb, "vec_id", "embedding", q, 3).collect()]
    approx = [r["vec_id"] for r in
              lsh_topk_indexed(spark, emb, "vec_id", "embedding", idx_dir,
                               q, 3).collect()]
    # the query vector itself must always be rank 1 in both; on NEAR-RANDOM
    # data a sublinear index is not guaranteed the full exact top-3 (the
    # 0.3-cosine "neighbors" are noise — see the gate's data-honesty note),
    # so assert head identity + majority overlap; exact pipeline parity is
    # gated against the DuckDB LSH twin (ann_lsh_topk), and ≥0.9 recall is
    # pinned on the clustered corpus below.
    assert brute[0] == rows[0]["vec_id"] == approx[0]
    assert len(set(brute) & set(approx)) >= 2
    # the index must PRUNE: candidates well under the full corpus
    n_cand = lsh_candidates(spark, idx_dir, q).count()
    assert n_cand * 2 <= len(rows), (n_cand, len(rows))


def test_lsh_ann_recall_on_clustered_corpus(spark, tmp_path):
    """The ≥0.9 recall@10 criterion, proven where ANN recall is physically
    attainable: a clustered corpus (intra-cluster cosine ≈0.95) — the shape
    real embedding models produce. Same index, same params as the gate."""
    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for c in range(40):
        center = rng.standard_normal(64)
        center /= np.linalg.norm(center)
        for _ in range(20):
            # σ=0.035/dim ⇒ ‖noise‖≈0.28 ⇒ intra-cluster cosine ≈0.96
            v = center + 0.035 * rng.standard_normal(64)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[0][1]
    idx_dir = str(tmp_path / "lsh_clustered")
    # high-similarity workload needs far less probing (knobs are per-corpus)
    args = dict(n_bits=16, n_tables=8, probe_hamming=2)
    build_lsh_index(df, "vec_id", "embedding", idx_dir, dim=64,
                    n_bits=16, n_tables=8)
    brute = [r["vec_id"] for r in
             cosine_topk(df, "vec_id", "embedding", q, 10).collect()]
    approx = [r["vec_id"] for r in
              lsh_topk_indexed(spark, df, "vec_id", "embedding", idx_dir,
                               q, 10, **args).collect()]
    recall = len(set(brute) & set(approx)) / 10
    assert recall >= 0.9, (brute, approx)
    n_cand = lsh_candidates(spark, idx_dir, q, **args).count()
    assert n_cand * 4 <= len(rows), (n_cand, len(rows))


def test_decontamination_pairs_and_anti_join(spark):
    """k-gram eval-leakage decontamination: collision pairs equal the
    brute-force python computation, the clean set is train minus flagged,
    and the eval side broadcasts (the 100 TB contract: no corpus shuffle)."""
    from ee_outliers_spark.operators.dedup import (
        decontaminate, ngram_contamination,
    )
    from ee_outliers_spark.tokenizer import tokenize_py

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a completely different training document body"),
        (3, "quick brown fox jumps high above everything"),
        (4, "nothing shared here at all frankly"),
        (100, "the quick brown fox jumps far"),       # eval
        (101, "unique benchmark question text only"),  # eval
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    train = df.where(df.doc_id < 100)
    ev = df.where(df.doc_id >= 100)
    k = 4

    def grams(s):
        t = tokenize_py(s)
        return {" ".join(t[i:i + k]) for i in range(len(t) - k + 1)}

    want = sorted(
        (tid, eid)
        for tid, tt in rows if tid < 100
        for eid, et in rows if eid >= 100
        if grams(tt) & grams(et)
    )
    pairs = ngram_contamination(train, ev, "doc_id", "text",
                                "doc_id", "text", k=k)
    got = sorted((int(r["train_id"]), int(r["eval_id"]))
                 for r in pairs.collect())
    assert got == want and got  # docs 1 and 3 collide with 100
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    clean = decontaminate(train, ev, "doc_id", "text", "doc_id", "text",
                          k=k)
    flagged = {t for t, _ in got}
    assert sorted(int(r["doc_id"]) for r in clean.collect()) == sorted(
        i for i, _ in rows if i < 100 and i not in flagged)


def test_ivf_ann_full_probe_recall_and_pruning(spark, tmp_path):
    """IVF recall@10 vs brute force on a clustered corpus: probing all K
    cells recalls exactly the brute-force top 10, and probing two cells
    reads a strict subset of the index (partition pruning is real)."""
    from ee_outliers_spark.operators.similarity import (
        build_ivf_index, cosine_topk, ivf_topk_indexed, seed_centroids,
    )
    from pyspark.sql import functions as F

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for c in range(16):
        center = rng.standard_normal(32)
        center /= np.linalg.norm(center)
        for _ in range(120):
            v = center + 0.05 * rng.standard_normal(32)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = rows[5][1]
    K = 16
    cents = seed_centroids(df, "vec_id", "embedding", K)
    assert len(cents) == K and len(cents[0]) == 32
    idx = str(tmp_path / "ivf_seed")
    build_ivf_index(df, "vec_id", "embedding", idx, cents)
    brute = [r["vec_id"] for r in
             cosine_topk(df, "vec_id", "embedding", q, 10).collect()]
    got = [r[0] for r in
           ivf_topk_indexed(spark, idx, cents, q, 10, K).collect()]
    assert set(got) == set(brute)
    scanned = spark.read.parquet(idx).count()
    assert scanned == len(rows)
    probed = (spark.read.parquet(idx).where(
        F.col("cell").isin([0, 1])).count())
    assert 0 < probed < scanned


def test_embedding_neardup_blocked_join_not_degenerate(spark):
    """Exact within-bucket near-dup with ONE dominant bucket: results equal
    the naive formulation, and the self-join input is spread over block-pair
    keys — no single join key carries the whole m² (the round-2 'weak at
    100× for skewed labels' item)."""
    from ee_outliers_spark.operators.dedup import embedding_neardup_pairs

    rng = np.random.RandomState(3)
    rows = []
    for i in range(200):
        v = rng.standard_normal(16)
        rows.append((i, "dominant", [float(x) for x in v]))
        if i < 10:  # a couple of true near-dups
            rows.append((1000 + i, "dominant",
                         [float(x) for x in v + rng.standard_normal(16) * 0.01]))
    df = spark.createDataFrame(rows, "vec_id long, label string, "
                                     "embedding array<double>")
    out = embedding_neardup_pairs(df, "vec_id", "embedding", "label",
                                  threshold=0.95, n_blocks=8)
    got = {(r["id1"], r["id2"]) for r in out.collect()}
    assert got == {(i, 1000 + i) for i in range(10)}
    # the physical plan's join keys include the block-pair columns, so the
    # dominant bucket's pairs are spread over n_blocks*(n_blocks+1)/2 keys
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_i" in plan and "_j" in plan


def test_embedding_neardup_lsh_matches_exact_on_clusters(spark):
    """The bucket-free LSH near-dup path: on clustered data at a high
    threshold it finds exactly the exact-join pairs, with hash-bounded
    buckets (no label column needed at all)."""
    from ee_outliers_spark.operators.dedup import (
        embedding_neardup_lsh, embedding_neardup_pairs,
    )

    rng = np.random.RandomState(11)
    rows = []
    vid = 0
    for c in range(30):
        center = rng.standard_normal(32)
        center /= np.linalg.norm(center)
        for _ in range(4):
            v = center + rng.standard_normal(32) * 0.02
            rows.append((vid, "x", [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, label string, "
                                     "embedding array<double>")
    exact = {(r["id1"], r["id2"]) for r in embedding_neardup_pairs(
        df, "vec_id", "embedding", "label", threshold=0.95).collect()}
    approx = {(r["id1"], r["id2"]) for r in embedding_neardup_lsh(
        df, "vec_id", "embedding", threshold=0.95,
        n_bits=12, n_tables=8).collect()}
    assert exact  # sanity: clusters produce pairs
    assert approx == exact


def test_duplicate_clusters_chain_and_components(spark):
    """Connected components over pairs: a 64-node chain collapses to one
    cluster (pointer doubling -> O(log n) rounds, verified via max_iter far
    below the chain length), disjoint components keep distinct min-id
    labels, and a union-find brute force agrees on a random graph."""
    from ee_outliers_spark.operators.dedup import duplicate_clusters

    chain = [(i, i + 1) for i in range(63)]
    out = duplicate_clusters(
        spark.createDataFrame(chain, "id1 long, id2 long"), max_iter=10)
    rows = {int(r["id"]): int(r["cluster_id"]) for r in out.collect()}
    assert set(rows) == set(range(64))
    assert set(rows.values()) == {0}

    # random sparse graph vs union-find
    import random

    rng = random.Random(11)
    pairs = sorted({tuple(sorted((rng.randrange(40), rng.randrange(40))))
                    for _ in range(25)})
    pairs = [(a, b) for a, b in pairs if a != b]
    parent = list(range(40))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = sorted({x for p in pairs for x in p})
    want = {x: find(x) for x in nodes}
    out = duplicate_clusters(
        spark.createDataFrame(pairs, "id1 long, id2 long"))
    got = {int(r["id"]): int(r["cluster_id"]) for r in out.collect()}
    assert got == want


def test_hash_split_deterministic_and_shuffle_free(spark, documents):
    """Split assignment is a pure function of (id, seed): identical across
    partitionings; proportions near the weights; the plan has NO exchange
    (narrow map — the property that survives 100 TB)."""
    from ee_outliers_spark.operators.sampling import (
        hash_split, stratified_sample,
    )

    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r["doc_id"]: r["split"] for r in hash_split(
        documents, "doc_id", w).select("doc_id", "split").collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(
        documents.repartition(13), "doc_id", w)
        .select("doc_id", "split").collect()}
    assert a == b
    n = len(a)
    from collections import Counter

    counts = Counter(a.values())
    assert abs(counts["train"] / n - 0.8) < 0.1
    assert set(counts) == {"train", "val", "test"}
    # different seed reshuffles membership
    c = {r["doc_id"]: r["split"] for r in hash_split(
        documents, "doc_id", w, seed=7).select("doc_id", "split").collect()}
    assert c != a

    plan = (hash_split(documents, "doc_id", w)._jdf.queryExecution()
            .executedPlan().toString())
    assert "Exchange" not in plan

    samp = stratified_sample(documents, "doc_id", ["lang"],
                             {"en": 0.2, "de": 1.0})
    plan = samp._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    rows = samp.select("doc_id", "lang").collect()
    langs = {r["lang"] for r in rows}
    assert langs <= {"en", "de"}
    n_de_all = documents.where("lang = 'de'").count()
    n_de = sum(1 for r in rows if r["lang"] == "de")
    assert n_de == n_de_all  # fraction 1.0 keeps every row of the stratum


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The IVF inverted file is cell-partitioned parquet: a probe query's
    plan carries a PartitionFilters entry on cell (only nprobe/K of the
    index is read), and the probed top-k equals brute force restricted to
    the probed cells."""
    import numpy as np

    from ee_outliers_spark.operators.similarity import (
        _probe_cells, build_ivf_index, cosine_topk, ivf_assign,
        ivf_topk_indexed, seed_centroids,
    )

    rng = np.random.RandomState(3)
    rows = [(int(i), [float(x) for x in rng.randn(16)]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = seed_centroids(df, "vec_id", "embedding", 4)
    path = str(tmp_path / "ivf")
    build_ivf_index(df, "vec_id", "embedding", path, cents)

    q = [float(x) for x in rng.randn(16)]
    top = ivf_topk_indexed(spark, path, cents, q, 5, nprobe=2)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    cells = {int(c) for c in _probe_cells(cents, q)[:2]}
    assigned = ivf_assign(df, "vec_id", "embedding", cents)
    eligible = assigned.where(F.col("cell").isin([int(c) for c in cells]))
    n_eligible = eligible.count()
    assert 0 < n_eligible < 300  # genuinely pruned
    want = [(int(r["vec_id"]), float(r["cosine"])) for r in cosine_topk(
        eligible, "vec_id", "embedding", q, 5).collect()]
    got = [(int(r["id"]), float(r["cosine"])) for r in top.collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
