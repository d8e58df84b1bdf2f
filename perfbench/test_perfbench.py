"""Tests of the benchmark's own checker (no Spark needed).

    python3 -m pytest perfbench -q
"""
import numpy as np
import pytest

import oracle
from run import tail
from workloads import QueryPools, hot_mid_rare


# Lucene-9 BM25 anchors pinned in BASELINE.md (reference test_similarity.py)
ANCHORS = [
    (2, 14, 4, 2.7322686, 8516, 3.52482),
    (1, 5, 35, 50.580456, 8514, 3.8199246),
    (2, 7, 44, 50.580456, 8514, 4.5636616),
    (25, 7823, 152, 119.18542, 8516, 0.08028283),
]


@pytest.mark.parametrize("tf,df,dl,avgdl,n,want", ANCHORS)
def test_bm25_anchors(tf, df, dl, avgdl, n, want):
    got = oracle.bm25([tf], [df], [dl], avgdl, n)
    assert got.dtype == np.float32
    assert got[0] == pytest.approx(want, rel=1e-6)


def test_canonical_corpus_scores():
    """score("bar") on the canonical 4-doc x 25 corpus (BASELINE.md)."""
    texts = ["foo bar bar baz", "data2", "data3 bar", "bunny funny wunny"] * 25
    c = oracle.Corpus(range(len(texts)), texts)
    np.testing.assert_allclose(c.scores(["bar"])[:4],
                               [0.37066694, 0.0, 0.34314217, 0.0], rtol=1e-6)


@pytest.mark.parametrize("text,phrase,want", [
    ("foo bar bar baz", ["foo", "bar"], 1),
    ("foo bear bar baz", ["foo", "bar"], 0),
    ("foo bar baz foo bar baz", ["foo", "bar", "baz"], 2),
    ("foo bar baz foo bar buzz", ["foo", "bar", "baz"], 1),
    ("foo foo foo", ["foo", "foo"], 1),
    ("foo foo foo foo", ["foo", "foo"], 2),
    ("foo foo foo foo baz foo foo", ["foo", "foo"], 3),
    ("foo foo foo foo", ["foo", "foo", "foo", "foo"], 1),
])
def test_phrase_freq_matches_engine_unit_cases(text, phrase, want):
    c = oracle.Corpus([0, 1], [text, "data2"])
    assert c.phrase_freq(phrase).tolist() == [want, 0]


def test_phrase_never_straddles_docs():
    c = oracle.Corpus([0, 1], ["x foo", "bar y"])
    assert c.phrase_freq(["foo", "bar"]).tolist() == [0, 0]


def test_same_term_pairs_follow_packed_blocks():
    # run 16,17 | 18 crosses a block boundary: one inner pair plus one
    # pair straddling the two blocks
    toks = ["x"] * 16 + ["the"] * 3 + ["x"]
    c = oracle.Corpus([0], [" ".join(toks)])
    assert c.phrase_freq(["the", "the"]).tolist() == [2]
    # two odd runs in one block: pairs 4 - ceil(triples 2 / 2) = 3
    toks = ["the"] * 3 + ["x"] + ["the"] * 3
    c = oracle.Corpus([0], [" ".join(toks)])
    assert c.phrase_freq(["the", "the"]).tolist() == [3]


def _corpus():
    texts = ["a b c", "a a b", "c c c c", "b", "a c"]
    return oracle.Corpus([10, 11, 12, 13, 14], texts)


def test_check_top_k_accepts_exact_answer():
    c = _corpus()
    full = c.scores(["a"])
    order = np.lexsort((c.doc_ids, -full))
    got = [(int(c.doc_ids[r]), float(full[r])) for r in order if full[r] > 0]
    assert oracle.check_top_k(c, full, got[:2], 2) is None
    assert oracle.check_top_k(c, full, got, 10) is None


def test_check_top_k_rejects_wrong_answers():
    c = _corpus()
    full = c.scores(["a"])
    best = int(np.argmax(full))
    good = [(int(c.doc_ids[best]), float(full[best]))]
    assert oracle.check_top_k(c, full, [], 1) is not None            # short
    assert oracle.check_top_k(c, full, [(13, 1.0)], 1) is not None   # no match
    assert oracle.check_top_k(
        c, full, [(good[0][0], good[0][1] * 1.01)], 1) is not None   # score
    worse = [(d, s) for d, s in zip(c.doc_ids.tolist(), full.tolist())
             if 0 < s < good[0][1]]
    assert oracle.check_top_k(c, full, worse[:1], 1) is not None     # missed


def test_check_slop_hits():
    c = oracle.Corpus([1, 2], ["a x x b", "a x x x b"])
    assert oracle.check_slop_hits(c, ["a", "b"], 2, [(1, 1.0)]) is None
    assert oracle.check_slop_hits(c, ["a", "b"], 2, [(2, 1.0)]) is not None


def test_or_scores_sum_terms():
    c = _corpus()
    want = c.scores(["a"]).astype(np.float64) + c.scores(["c"])
    np.testing.assert_array_equal(c.or_scores([["a"], ["c"]]), want)


def test_tail_has_ten_samples_beyond():
    vals = list(range(100))
    v, pct, n = tail(vals)
    assert (v, n) == (89, 100) and sum(x > v for x in vals) == 10
    assert pct == pytest.approx(90.0)
    assert tail([3, 1, 2]) == (3, 100.0, 3)


def test_query_pools_are_seeded():
    vocab = ["the", "of", "and"] + [f"w{i:05d}" for i in range(6000)]
    docs = [" ".join(vocab[(i * 7 + j) % 50] for j in range(12))
            for i in range(20)]
    a = QueryPools(5, vocab, lambda i: docs[i].split(), len(docs), size=8)
    b = QueryPools(5, vocab, lambda i: docs[i].split(), len(docs), size=8)
    assert a.cycle(3) == b.cycle(3)
    hot, mid, rare = hot_mid_rare(vocab)
    assert all(q[0] in rare for q in a.term_rare)
    assert all(len(set(p)) in (1, len(p)) for p in a.phrase)
