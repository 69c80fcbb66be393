"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical tables. The program under test only ever sees the parquet
files these tables are written to; the benchmark's oracles read the
in-memory token arrays instead, so they never depend on the program's
tokenizer or index.

Corpus model
------------
- Vocabulary: ``vocab`` distinct six-letter words, each three
  consonant-vowel syllables (so a two-syllable prefix such as ``kabe*``
  expands to a handful of dictionary terms). Rank ``r`` (0-based) is drawn
  with probability proportional to ``1 / (r + 1) ** zipf_s``.
- Document length: lognormal, clipped to ``[3, 400]`` tokens.
- Tokens are drawn i.i.d. from the Zipf law, so document frequency falls
  with rank and the query generator can pick terms from stated
  document-frequency bands.
- ``lang`` is a keyword field (``en`` 60 %, ``de`` 25 %, ``fr`` 10 %,
  ``nl`` 5 %) for the filtered query shape.

Events model
------------
One row per process-start event over 7 days: skewed user and host counts
(Zipf), a process name, a short command line built from the process name and
Zipf-drawn argument words, and a lognormal ``bytes`` column.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
LANGS = ("en", "de", "fr", "nl")
LANG_P = (0.60, 0.25, 0.10, 0.05)


def syllables() -> list[str]:
    return [c + v for c in CONSONANTS for v in VOWELS]


def vocabulary(n: int, rng: np.random.Generator) -> np.ndarray:
    """``n`` distinct three-syllable words in a seeded random rank order."""
    syl = syllables()
    s = len(syl)
    if n > s ** 3:
        raise ValueError(f"vocabulary of {n} words exceeds {s ** 3}")
    codes = rng.choice(s ** 3, size=n, replace=False)
    return np.array([syl[c // (s * s)] + syl[(c // s) % s] + syl[c % s]
                     for c in codes.tolist()], dtype=object)


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass
class Corpus:
    """Token-level corpus: ``tokens[offsets[i]:offsets[i + 1]]`` are the
    vocabulary ids of document ``doc_ids[i]``."""

    words: np.ndarray      # vocabulary id -> word (object array)
    doc_ids: np.ndarray    # int64, ascending
    offsets: np.ndarray    # int64, len(doc_ids) + 1
    tokens: np.ndarray     # int32 vocabulary ids
    lang: np.ndarray       # object array of LANGS values

    @property
    def n_docs(self) -> int:
        return len(self.doc_ids)

    def doc_index(self) -> np.ndarray:
        """Row index (into ``doc_ids``) of every token."""
        return np.repeat(np.arange(self.n_docs), np.diff(self.offsets))

    def texts(self) -> list[str]:
        words = self.words[self.tokens]
        return [" ".join(words[a:b])
                for a, b in zip(self.offsets[:-1].tolist(),
                                self.offsets[1:].tolist())]

    def text_bytes(self) -> int:
        """UTF-8 bytes of all document texts (ASCII words, one space
        between tokens)."""
        lens = np.array([len(w) for w in self.words], dtype=np.int64)
        n_tok = np.diff(self.offsets)
        return int(lens[self.tokens].sum() + np.maximum(n_tok - 1, 0).sum())

    def table(self) -> pa.Table:
        return pa.table({
            "doc_id": pa.array(self.doc_ids, pa.int64()),
            "text": pa.array(self.texts(), pa.string()),
            "lang": pa.array(self.lang.tolist(), pa.string()),
        })


def corpus(seed: int, n_docs: int, vocab: int = 50_000, zipf_s: float = 1.0,
           len_mu: float = 3.5, len_sigma: float = 0.6) -> Corpus:
    """Seeded Zipf corpus with doc ids ``0 .. n_docs - 1``."""
    rng = np.random.default_rng(seed)
    words = vocabulary(vocab, rng)
    lens = np.clip(np.rint(rng.lognormal(len_mu, len_sigma, n_docs)),
                   3, 400).astype(np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    tokens = rng.choice(len(words), size=int(offsets[-1]),
                        p=zipf_probs(len(words), zipf_s)).astype(np.int32)
    lang = np.array(LANGS, dtype=object)[
        rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    return Corpus(words, np.arange(n_docs, dtype=np.int64), offsets, tokens,
                  lang)


def doc_freq(c: Corpus) -> np.ndarray:
    """Document frequency of every vocabulary id."""
    pairs = np.unique(c.doc_index().astype(np.int64) * len(c.words)
                      + c.tokens)
    return np.bincount((pairs % len(c.words)).astype(np.int64),
                       minlength=len(c.words))


def band(df: np.ndarray, n_docs: int, lo: float, hi: float) -> np.ndarray:
    """Vocabulary ids whose document frequency is in ``[lo, hi]`` as a
    share of ``n_docs`` (ascending id order, so the draw is seeded only by
    the caller's generator)."""
    return np.flatnonzero((df >= lo * n_docs) & (df <= hi * n_docs))


def write(table: pa.Table, path: str) -> None:
    """One parquet file with several row groups, so Spark scans it on
    several tasks."""
    pq.write_table(table, path,
                   row_group_size=max(1, table.num_rows // 16 + 1))


# --------------------------------------------------------------------------
# events (outlier_scan)
# --------------------------------------------------------------------------

PROCS = ("svchost", "explorer", "chrome", "outlook", "powershell", "cmd",
         "rundll32", "wscript", "msiexec", "teams", "excel", "winword",
         "python", "java", "sshd", "curl", "certutil", "schtasks", "net",
         "taskhost")
ARG_WORDS = 2_000
EVENT_DAYS = 7
EVENT_END = dt.datetime(2024, 3, 8)
EVENT_START = EVENT_END - dt.timedelta(days=EVENT_DAYS)


def events(seed: int, n_events: int, n_users: int = 800,
           n_hosts: int = 300, first_doc_id: int = 0,
           start: dt.datetime = EVENT_START, days: float = EVENT_DAYS,
           marker: str | None = None) -> pa.Table:
    """Seeded events table: ``doc_id, ts, user, host, proc, text, bytes``.

    Users and hosts are Zipf-skewed (a few hot ones, a long tail seen a
    handful of times); timestamps are uniform over ``days`` days from
    ``start``; the command line is ``<proc>.exe`` plus 1–6 Zipf-drawn
    argument words and, for one event in 50, a ``-hidden window`` or
    ``-enc payload`` flag. ``marker`` appends one token to every command
    line (appended batches carry a batch-unique marker)."""
    rng = np.random.default_rng(seed)
    args = vocabulary(ARG_WORDS, rng)
    users = np.array([f"user{i:04d}" for i in range(n_users)], dtype=object)
    hosts = np.array([f"host{i:04d}" for i in range(n_hosts)], dtype=object)
    u = rng.choice(n_users, size=n_events, p=zipf_probs(n_users, 1.1))
    h = rng.choice(n_hosts, size=n_events, p=zipf_probs(n_hosts, 0.9))
    p = rng.choice(len(PROCS), size=n_events, p=zipf_probs(len(PROCS), 1.2))
    span_us = int(days * 86_400 * 1_000_000)
    ts_us = np.sort(rng.integers(0, span_us, size=n_events))
    n_args = rng.integers(1, 7, size=n_events)
    arg_ids = rng.choice(ARG_WORDS, size=int(n_args.sum()),
                         p=zipf_probs(ARG_WORDS, 1.0))
    flag = rng.choice(3, size=n_events, p=(0.98, 0.01, 0.01))
    flags = ("", " -hidden window", " -enc payload")
    procs = np.array(PROCS, dtype=object)
    tail = f" {marker}" if marker else ""
    texts = []
    pos = 0
    for i in range(n_events):
        k = int(n_args[i])
        words = " ".join(args[arg_ids[pos:pos + k]])
        texts.append(f"{procs[p[i]]}.exe {words}{flags[flag[i]]}{tail}")
        pos += k
    nbytes = np.rint(rng.lognormal(8.0, 1.0, n_events)).astype(np.int64)
    start_us = int((start - dt.datetime(1970, 1, 1)).total_seconds()
                   * 1_000_000)
    return pa.table({
        "doc_id": pa.array(np.arange(first_doc_id, first_doc_id + n_events,
                                     dtype=np.int64)),
        "ts": pa.array(ts_us + start_us, pa.timestamp("us", tz="UTC")),
        "user": pa.array(users[u].tolist(), pa.string()),
        "host": pa.array(hosts[h].tolist(), pa.string()),
        "proc": pa.array(procs[p].tolist(), pa.string()),
        "text": pa.array(texts, pa.string()),
        "bytes": pa.array(nbytes, pa.int64()),
    })
