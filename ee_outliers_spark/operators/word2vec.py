"""word2vec analyzer — conditional-probability ("prob") model
(SURVEY A11/A12/A13/W3; /root/reference/app/analyzers/word2vec.py and
app/analyzers/ml_models/word2vec.py with use_prob_model=1):

- vocabulary per aggregator: words ranked by occurrence count, truncated to
  ``max_voc_size``; words under ``min_voc_occurrence`` map to UNKNOWN
  (ml_models/word2vec.py:105-141, ref A11);
- skip-gram pairs: context = words within ±``window`` positions
  (ml_models/word2vec.py:173-197, ref W3);
- model: P(ctx|center) = count(center,ctx) / count(center)
  (ml_models/word2vec.py:211-259, ref A12);
- scoring: per (text, center-occurrence) word score = arithmetic mean of its
  context probabilities; per-text score = geometric mean of word scores
  (exp of mean log — word2vec.py:523-604,952-959, ref A13);
- outliers: texts whose score crosses a decision frontier (low).

Everything is DataFrame-native: two groupBy counts + a join + a division is
the whole model (ref A12's Spark mapping). The token-position self-join is
|text|×window-bounded. The NN variant (torch skip-gram) is intentionally the
counting model here — the reference's own tests exercise prob-model parity.

Scale: counts shuffle on (aggregator, word[, ctx]) with map-side combine;
vocabulary truncation is a window rank over the (small) per-agg vocab.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..session import materialize
from ..tokenizer import tokens_col
from .frontier import flag_outliers
from .terms import aggregator_col

UNKNOWN = "<unk>"


def tokens_positions(
    df: DataFrame, groups: list[str], text_id: str, text_col: str
) -> DataFrame:
    """(aggregator, text_id, pos, word) — posexplode of the token array."""
    base = df.dropna(subset=[*groups, text_col]).select(
        aggregator_col(groups).alias("aggregator"),
        F.col(text_id).alias("text_id"),
        F.posexplode(tokens_col(text_col)).alias("pos", "word"),
    )
    return base


def vocabulary(
    toks: DataFrame, max_voc_size: int = 6000, min_voc_occurrence: int = 1
) -> DataFrame:
    """(aggregator, word, voc_word): voc_word = word if kept else UNKNOWN.
    Rank by count desc then word asc (deterministic truncation)."""
    counts = toks.groupBy("aggregator", "word").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("aggregator").orderBy(F.desc("cnt"), F.asc("word"))
    ranked = counts.withColumn("rk", F.row_number().over(w))
    return ranked.select(
        "aggregator",
        "word",
        F.when(
            (F.col("rk") <= max_voc_size) & (F.col("cnt") >= min_voc_occurrence),
            F.col("word"),
        ).otherwise(F.lit(UNKNOWN)).alias("voc_word"),
    )


def skipgram_pairs(toks_voc: DataFrame, window: int) -> DataFrame:
    """(aggregator, text_id, i, center, j, ctx): each center explodes its 2w
    context OFFSETS and equi-joins on (aggregator, text_id, pos + offset) —
    LINEAR in tokens (2w rows per token). The naive formulation (self-join
    keyed on text_id with |i−j| ≤ w applied post-join) materializes len²
    rows per document before filtering: a 5k-token web page would emit 25M
    intermediate rows; this one emits 20k at w=2."""
    offsets = F.array(
        *[F.lit(o) for o in range(-window, window + 1) if o != 0]
    )
    a = toks_voc.select(
        "aggregator", "text_id",
        F.col("pos").alias("i"), F.col("voc_word").alias("center"),
        F.explode(offsets).alias("off"),
    ).withColumn("j", F.col("i") + F.col("off")).drop("off")
    b = toks_voc.select(
        "aggregator", "text_id",
        F.col("pos").alias("j"), F.col("voc_word").alias("ctx"),
    )
    return a.join(b, ["aggregator", "text_id", "j"]).select(
        "aggregator", "text_id", "i", "center", "j", "ctx"
    )


def prob_model(pairs: DataFrame) -> DataFrame:
    """(aggregator, center, ctx, p) with p = cnt(center,ctx)/cnt(center) over
    all skip-gram occurrences in the aggregator (ref A12)."""
    pair_cnt = pairs.groupBy("aggregator", "center", "ctx").agg(
        F.count("*").alias("cnt_pair")
    )
    center_cnt = pairs.groupBy("aggregator", "center").agg(
        F.count("*").alias("cnt_center")
    )
    return pair_cnt.join(center_cnt, ["aggregator", "center"]).select(
        "aggregator", "center", "ctx",
        (F.col("cnt_pair") / F.col("cnt_center")).alias("p"),
    )


NN_SCHEMA = "aggregator string, center string, ctx string, p double"


def nn_model(
    pairs: DataFrame,
    embedding_size: int = 40,
    num_epochs: int = 1,
    learning_rate: float = 0.001,
    seed: int = 42,
    train_batch_size: int = 16,
) -> DataFrame:
    """(aggregator, center, ctx, p) from the TRAINED skip-gram network — the
    reference's default word2vec path (use_prob_model=0; app/analyzers/
    ml_models/word2vec.py:262-343: nn.Embedding(V,E) → nn.Linear(E,V),
    CrossEntropyLoss, Adam, train_batch_size=16). Torch isn't available in
    this environment, so the identical network — full-softmax skip-gram with
    dense Adam — is trained in numpy inside one applyInPandas task per
    aggregator (models are per-aggregator in the reference too, so task
    memory = one vocab²-free model: V×E + E×V floats). p = softmax prob of
    each OBSERVED (center, ctx) pair, the same quantity eval_loop emits;
    downstream scoring/frontier machinery is shared with prob_model.
    Deterministic per seed; numerically ≈ torch (same architecture, loss,
    optimizer — initializer RNG differs, so parity is behavioral, pinned in
    tests by outlier-set agreement, not bitwise)."""
    b1, b2, eps = 0.9, 0.999, 1e-8

    def train_eval(key, pdf):
        import numpy as np
        import pandas as pd

        agg = key[0]
        # deterministic sample order (DataLoader without shuffle walks the
        # model_inputs order: text, center pos, context pos)
        pdf = pdf.sort_values(["text_id", "i", "j"], kind="stable")
        words = pd.unique(pd.concat([pdf["center"], pdf["ctx"]], ignore_index=True))
        words = np.sort(words)
        wid = {w: i for i, w in enumerate(words)}
        V = len(words)
        c_ids = pdf["center"].map(wid).to_numpy(dtype=np.int64)
        x_ids = pdf["ctx"].map(wid).to_numpy(dtype=np.int64)

        rng = np.random.default_rng(seed)
        E = rng.standard_normal((V, embedding_size))     # ≈ nn.Embedding init
        lim = 1.0 / np.sqrt(embedding_size)              # ≈ nn.Linear init
        W = rng.uniform(-lim, lim, (embedding_size, V))
        bb = rng.uniform(-lim, lim, V)
        params = [E, W, bb]
        mom = [np.zeros_like(p) for p in params]
        vel = [np.zeros_like(p) for p in params]
        t = 0
        for _ in range(num_epochs):
            for s in range(0, len(c_ids), train_batch_size):
                c = c_ids[s:s + train_batch_size]
                y = x_ids[s:s + train_batch_size]
                H = E[c]
                logits = H @ W + bb
                logits -= logits.max(axis=1, keepdims=True)
                p = np.exp(logits)
                p /= p.sum(axis=1, keepdims=True)
                gl = p
                gl[np.arange(len(c)), y] -= 1.0
                gl /= len(c)                              # CE mean reduction
                gE = np.zeros_like(E)
                np.add.at(gE, c, gl @ W.T)
                grads = [gE, H.T @ gl, gl.sum(axis=0)]
                t += 1
                for pr, g, m, v in zip(params, grads, mom, vel):
                    m += (1 - b1) * (g - m)
                    v += (1 - b2) * (g * g - v)
                    pr -= (learning_rate * (m / (1 - b1 ** t))
                           / (np.sqrt(v / (1 - b2 ** t)) + eps))
        # eval: softmax prob for each observed distinct (center, ctx)
        dedup = pdf[["center", "ctx"]].drop_duplicates()
        cu = dedup["center"].map(wid).to_numpy(dtype=np.int64)
        xu = dedup["ctx"].map(wid).to_numpy(dtype=np.int64)
        probs = np.empty(len(cu), dtype=np.float64)
        for cid in np.unique(cu):
            logits = E[cid] @ W + bb
            logits -= logits.max()
            sm = np.exp(logits)
            sm /= sm.sum()
            sel = cu == cid
            probs[sel] = sm[xu[sel]]
        return pd.DataFrame({
            "aggregator": agg, "center": dedup["center"].to_numpy(),
            "ctx": dedup["ctx"].to_numpy(), "p": probs,
        })

    return pairs.groupBy("aggregator").applyInPandas(train_eval, NN_SCHEMA)


def _scored_pairs(
    df: DataFrame, groups: list[str], text_id: str, text_col: str,
    window: int, max_voc_size: int, min_voc_occurrence: int,
    use_prob_model: bool = True, nn_params: dict | None = None,
) -> DataFrame:
    # toks: vocabulary + vocab join; toks_voc: both skip-gram self-join
    # sides; pairs: the model aggregation AND the score join
    toks = materialize(tokens_positions(df, groups, text_id, text_col))
    voc = vocabulary(toks, max_voc_size, min_voc_occurrence)
    toks_voc = materialize(toks.join(voc, ["aggregator", "word"]).select(
        "aggregator", "text_id", "pos", "voc_word"))
    pairs = materialize(skipgram_pairs(toks_voc, window))
    model = (prob_model(pairs) if use_prob_model
             else nn_model(pairs, **(nn_params or {})))
    return pairs.join(model, ["aggregator", "center", "ctx"])


def text_scores(
    df: DataFrame,
    groups: list[str],
    text_id: str,
    text_col: str,
    window: int = 2,
    max_voc_size: int = 6000,
    min_voc_occurrence: int = 1,
    use_prob_model: bool = True,
    nn_params: dict | None = None,
) -> DataFrame:
    """(aggregator, text_id, score): geometric mean over word-occurrence
    center scores, each the arithmetic mean of its context probabilities
    (the reference's default shape: trigger_score=center, geo text mean).
    ``use_prob_model=False`` swaps the counting model for the trained
    skip-gram network (nn_model), the reference's own default."""
    scored = _scored_pairs(df, groups, text_id, text_col, window,
                           max_voc_size, min_voc_occurrence,
                           use_prob_model, nn_params)
    word_scores = scored.groupBy("aggregator", "text_id", "i").agg(
        F.avg("p").alias("word_score")
    )
    return word_scores.groupBy("aggregator", "text_id").agg(
        F.exp(F.avg(F.log("word_score"))).alias("score")
    )


def word2vec_outliers(
    df: DataFrame,
    groups: list[str],
    text_id: str,
    text_col: str,
    trigger_method: str = "stdev",
    trigger_sensitivity: float = 1.0,
    trigger_on: str = "low",
    window: int = 2,
    max_voc_size: int = 6000,
    min_voc_occurrence: int = 1,
    use_prob_model: bool = True,
    nn_params: dict | None = None,
) -> DataFrame:
    scores = text_scores(
        df, groups, text_id, text_col, window, max_voc_size,
        min_voc_occurrence, use_prob_model, nn_params,
    )
    flagged = flag_outliers(
        scores, ["aggregator"], "score",
        trigger_method, trigger_sensitivity, trigger_on,
    )
    return flagged.where("is_outlier")
