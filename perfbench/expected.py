"""Independent expected answers for the benchmark's correctness checks.

The search oracle works on the generator's token arrays (never on the
program's index or tokenizer) and follows ``ee_outliers_spark/oracle.py``
semantics: Lucene BM25 (k1 = 1.2, b = 0.75), per-term contributions summed
in query-term order, ranking by score descending then doc id ascending,
phrase frequency counted over token positions (overlaps allowed), and a
prefix atom expanding to every dictionary term with that prefix, each term
scoring its own clause.
"""

from __future__ import annotations

import re

import numpy as np

from ee_outliers_spark.oracle import B, K1, bm25_idf

#: relative score difference below which two scores are float noise
NEAR_TIE = 1e-9
#: relative tolerance between the engine's and the oracle's scores
SCORE_TOL = 1e-6


class SearchOracle:
    def __init__(self, corpus) -> None:
        self.c = corpus
        self.doc_idx = corpus.doc_index()
        self.dl = np.diff(corpus.offsets).astype(np.float64)
        self.n = corpus.n_docs
        self.avgdl = float(self.dl.sum()) / self.n
        self.word_id = {w: i for i, w in enumerate(corpus.words.tolist())}
        self.lang = corpus.lang

    def tf(self, word: str) -> np.ndarray:
        wid = self.word_id.get(word)
        if wid is None:
            return np.zeros(self.n, dtype=np.float64)
        return np.bincount(self.doc_idx[self.c.tokens == wid],
                           minlength=self.n).astype(np.float64)

    def _clause(self, tf: np.ndarray) -> np.ndarray:
        df = int(np.count_nonzero(tf))
        norm = K1 * (1.0 - B + B * self.dl / self.avgdl)
        return bm25_idf(self.n, df) * (tf * (K1 + 1.0) / (tf + norm))

    def _rank(self, scores: np.ndarray, eligible: np.ndarray) -> list[tuple]:
        idx = np.flatnonzero(eligible)
        order = np.lexsort((self.c.doc_ids[idx], -scores[idx]))
        return [(int(self.c.doc_ids[i]), float(scores[i])) for i in idx[order]]

    def terms(self, words: list[str], mode: str) -> list[tuple]:
        """All matching docs ranked (callers cut to k)."""
        words = list(dict.fromkeys(words))
        tfs = [self.tf(w) for w in words]
        scores = np.zeros(self.n)
        for tf in tfs:
            if tf.any():
                scores = scores + self._clause(tf)
        hits = [tf > 0 for tf in tfs]
        elig = (np.logical_and.reduce(hits) if mode == "and"
                else np.logical_or.reduce(hits))
        return self._rank(scores, elig)

    def phrase(self, a: str, b: str) -> list[tuple]:
        ia, ib = self.word_id.get(a), self.word_id.get(b)
        t = self.c.tokens
        m = ((t[:-1] == ia) & (t[1:] == ib)
             & (self.doc_idx[:-1] == self.doc_idx[1:]))
        tf = np.bincount(self.doc_idx[:-1][m], minlength=self.n).astype(float)
        return self._rank(self._clause(tf), tf > 0)

    def prefix(self, prefix: str) -> list[tuple]:
        words = [w for w in self.word_id if w.startswith(prefix)]
        scores = np.zeros(self.n)
        hit = np.zeros(self.n, dtype=bool)
        for w in sorted(words):
            tf = self.tf(w)
            if tf.any():
                scores = scores + self._clause(tf)
                hit |= tf > 0
        return self._rank(scores, hit)

    def filtered(self, word: str, lang: str) -> list[tuple]:
        tf = self.tf(word)
        return self._rank(self._clause(tf), (tf > 0) & (self.lang == lang))

    def count_and_or(self, a: str, b: str, c: str) -> int:
        return int(np.count_nonzero(
            (self.tf(a) > 0) & ((self.tf(b) > 0) | (self.tf(c) > 0))))


def topk_matches(got: list[tuple], ranked: list[tuple], k: int) -> bool:
    """Rank identity of the engine's top-k against the oracle's ranking.

    Doc ids must agree position by position, ties included: two docs whose
    oracle scores are exactly equal must come in doc-id order. The one
    allowance is a swap between docs whose oracle scores differ by float
    noise only (relative difference below ``NEAR_TIE``). Engine scores must
    match the oracle's to ``SCORE_TOL``."""
    want = ranked[:k]
    if len(got) != len(want):
        return False
    score_of = dict(ranked)
    for (gd, gs), (wd, ws) in zip(got, want):
        if gd not in score_of:
            return False
        if abs(gs - score_of[gd]) > SCORE_TOL * max(1.0, abs(ws)):
            return False
        if gd != wd:
            s1 = score_of[gd]
            if s1 == ws or abs(s1 - ws) > NEAR_TIE * max(1.0, abs(ws)):
                return False
    return True


# --------------------------------------------------------------------------
# boolean filters over event command lines (outlier_scan count queries)
# --------------------------------------------------------------------------

_TOKEN = re.compile(r"[a-z0-9]+")


def tokens(text: str) -> list[str]:
    return _TOKEN.findall(text.lower())


def count_matching(texts: list[str], pred) -> int:
    """Number of texts whose token list satisfies ``pred(set, list)``."""
    n = 0
    for t in texts:
        toks = tokens(t)
        if pred(set(toks), toks):
            n += 1
    return n
