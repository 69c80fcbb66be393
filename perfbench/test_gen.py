"""The seeded generators are deterministic per seed.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402


def test_corpus_same_seed_same_table():
    a, b = gen.corpus(7, 500), gen.corpus(7, 500)
    assert a.table().equals(b.table())
    assert np.array_equal(gen.doc_freq(a), gen.doc_freq(b))


def test_corpus_other_seed_other_table():
    assert not gen.corpus(7, 500).table().equals(gen.corpus(8, 500).table())


def test_corpus_text_matches_tokens():
    c = gen.corpus(3, 200)
    texts = c.texts()
    for i in (0, 57, 199):
        a, b = c.offsets[i], c.offsets[i + 1]
        assert texts[i].split(" ") == list(c.words[c.tokens[a:b]])
    assert c.text_bytes() == sum(len(t.encode()) for t in texts)


def test_bands_follow_document_frequency():
    c = gen.corpus(5, 2_000)
    df = gen.doc_freq(c)
    head = gen.band(df, c.n_docs, 0.05, 0.30)
    assert len(head) and df[head].min() >= 0.05 * c.n_docs
    assert df[head].max() <= 0.30 * c.n_docs


def test_events_same_seed_same_table():
    a = gen.events(11, 300, marker="b0n11")
    assert a.equals(gen.events(11, 300, marker="b0n11"))
    assert not a.equals(gen.events(12, 300, marker="b0n11"))
    assert all(t.endswith(" b0n11") for t in a.column("text").to_pylist())


if __name__ == "__main__":
    import pytest

    sys.exit(pytest.main([__file__, "-q"]))
