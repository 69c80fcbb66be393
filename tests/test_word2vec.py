"""word2vec prob model vs a pure-Python oracle (conditional-probability
counting model — ref A12/A13)."""

import math
from collections import Counter, defaultdict

import pytest

from ee_outliers_spark.operators.word2vec import text_scores
from ee_outliers_spark.tokenizer import tokenize_py

WINDOW = 2

TEXTS = {
    1: "cmd exe run script now",
    2: "cmd exe run script later",
    3: "cmd exe run script now",
    4: "weird binary beacon outbound traffic",  # the odd one out
    5: "cmd exe run other script",
}


def oracle_scores(texts, window):
    toks = {i: tokenize_py(t) for i, t in texts.items()}
    pairs = []
    for i, ts in toks.items():
        for a in range(len(ts)):
            for b in range(len(ts)):
                if a != b and abs(a - b) <= window:
                    pairs.append((i, a, ts[a], ts[b]))
    cnt_pair = Counter((c, x) for _, _, c, x in pairs)
    cnt_center = Counter(c for _, _, c, _ in pairs)
    # per (text, center position): mean P(ctx|center)
    by_occ = defaultdict(list)
    for i, a, c, x in pairs:
        by_occ[(i, a)].append(cnt_pair[(c, x)] / cnt_center[c])
    word_scores = {k: sum(v) / len(v) for k, v in by_occ.items()}
    out = {}
    for i in texts:
        ws = [s for (t, _), s in word_scores.items() if t == i]
        out[i] = math.exp(sum(math.log(s) for s in ws) / len(ws))
    return out


@pytest.fixture(scope="module")
def texts_df(spark):
    rows = [("g", i, t) for i, t in TEXTS.items()]
    return spark.createDataFrame(rows, "grp string, tid long, text string")


def test_text_scores_match_oracle(spark, texts_df):
    got = {
        r["text_id"]: r["score"]
        for r in text_scores(texts_df, ["grp"], "tid", "text", window=WINDOW).collect()
    }
    want = oracle_scores(TEXTS, WINDOW)
    assert set(got) == set(want)
    for i in want:
        assert math.isclose(got[i], want[i], rel_tol=1e-9), (i, got[i], want[i])
    assert all(0.0 < want[i] <= 1.0 for i in want)


def test_skipgram_pairs_linear_on_long_doc(spark):
    """Skip-gram generation is offset-explode (2w rows per token joined on
    position), not a len² self-join: on a 2000-token document the pair count
    is exactly 2wn − w(w+1) and the join is an equi-join on
    (aggregator, text_id, j) — no post-join |i−j| band filter."""
    from ee_outliers_spark.operators.word2vec import (
        skipgram_pairs, tokens_positions, vocabulary,
    )

    n, w = 2000, 2
    text = " ".join(f"t{i % 50}" for i in range(n))
    df = spark.createDataFrame([("g", 1, text)],
                               "grp string, tid long, text string")
    toks = tokens_positions(df, ["grp"], "tid", "text")
    voc = vocabulary(toks, 10**6, 1)
    tv = toks.join(voc, ["aggregator", "word"]).select(
        "aggregator", "text_id", "pos", "voc_word")
    pairs = skipgram_pairs(tv, w)
    assert pairs.count() == 2 * w * n - w * (w + 1)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "abs(" not in plan.lower()


def test_vocab_truncation(spark, texts_df):
    # with max_voc_size=1 every word except the most frequent maps to <unk>
    got = text_scores(
        texts_df, ["grp"], "tid", "text", window=WINDOW, max_voc_size=1
    ).collect()
    assert len(got) == len(TEXTS)  # still scores (degenerate model)


def test_nn_skipgram_variant_agrees_on_clear_outlier(spark):
    """The trained skip-gram network (reference default, use_prob_model=0;
    ml_models/word2vec.py:262-343) flags the same clearly-anomalous text the
    counting model flags: behavioral parity on a fixture where the answer is
    unambiguous. Deterministic per seed (numpy Adam, full-softmax CE — the
    same architecture/loss/optimizer as the torch original)."""
    from ee_outliers_spark.operators.word2vec import word2vec_outliers

    normal = "user alice opened document report and saved document report"
    weird = "zzz qqq xxx yyy www vvv uuu ttt sss rrr"
    rows = [(i, "g", normal) for i in range(12)] + [(99, "g", weird)]
    df = spark.createDataFrame(rows, "text_id long, grp string, text string")

    prob_ids = {r["text_id"] for r in word2vec_outliers(
        df, ["grp"], "text_id", "text", "stdev", 1.0, "low",
        use_prob_model=True).collect()}
    nn_ids = {r["text_id"] for r in word2vec_outliers(
        df, ["grp"], "text_id", "text", "stdev", 1.0, "low",
        use_prob_model=False,
        nn_params={"num_epochs": 3, "seed": 42}).collect()}
    assert 99 in prob_ids
    assert 99 in nn_ids
    # determinism: same seed → same outlier set
    nn_ids2 = {r["text_id"] for r in word2vec_outliers(
        df, ["grp"], "text_id", "text", "stdev", 1.0, "low",
        use_prob_model=False,
        nn_params={"num_epochs": 3, "seed": 42}).collect()}
    assert nn_ids == nn_ids2
