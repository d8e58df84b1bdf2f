"""Workload definitions and seeded query generation.

Every workload is a closed loop with one client: the next call is issued
only after the previous one returned. Queries are drawn with the seed
from Zipf rank bands of the generated vocabulary (``webcorpus``):

- hot:  the common English words at the head of the curve;
- mid:  ``w00100`` .. ``w01000``;
- rare: ``w05000`` and beyond (the tail of a smaller vocabulary).

Phrases and slop pairs are cut from the generated documents themselves,
so they match somewhere; the same-term phrase ``the the`` is always in
the pool.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import List, Optional, Sequence

import numpy as np

K = 10
SLOP = 2
DOCS_PER_BLOCK = 4096  # as bench.py; the default 65,536 builds 20k docs as one task
# serve_local's write phase: share of --seconds, and docs per commit. It
# always makes one update and one delete commit (about 4 s together), so
# a larger share only adds commits and lengthens the run.
MAINTAIN_SHARE = 0.25
UPDATE_BATCH = 64
DELETE_BATCH = 16


@dataclass(frozen=True)
class Corpus:
    """``webcorpus.generate_corpus`` parameters of one generated corpus."""
    n_docs: int
    avg_len: int
    vocab_size: int


@dataclass(frozen=True)
class Workload:
    name: str
    corpus: Corpus
    # serve the built index through the distributed query route: the
    # driver-local gate is closed on the handle (LOCAL_QUERY_MAX_DOCS=0)
    distributed_queries: bool = False
    # writes beside reads on a second, small index after the serve loop:
    # update/delete commits between query blocks, then one compaction
    maintain: Optional[Corpus] = None


WORKLOADS = {w.name: w for w in (
    # driver-local build and query routes: under the 16,384-doc build cap
    # and the 64 MB query cap, so driver Python and the numpy kernels do
    # nearly all the work. The write phase's index is small because
    # compaction costs about 8 ms per posting row (term x block).
    Workload("serve_local", Corpus(6_000, 400, 30_000),
             maintain=Corpus(400, 30, 150)),
    # fused distributed build (above the 16,384-doc cap) and distributed
    # queries: Spark task waves dominate, the kernels are a small share
    Workload("serve_dist", Corpus(18_000, 80, 30_000),
             distributed_queries=True),
)}


def hot_mid_rare(vocab: Sequence[str]):
    hot = [w for w in vocab if not w.startswith("w")]
    words = [w for w in vocab if w.startswith("w")]
    mid = [w for w in words if "w00100" <= w <= "w01000"]
    rare = [w for w in words if w >= "w05000"] or words[len(words) * 2 // 3:]
    return hot, mid, rare


class QueryPools:
    """Seeded query pools per shape; the loop cycles through each pool."""

    def __init__(self, seed: int, vocab: Sequence[str], tokens_of,
                 n_docs: int, size: int = 256):
        rng = np.random.default_rng([seed, 7])
        hot, mid, rare = hot_mid_rare(vocab)
        self.term_hot = [[str(w)] for w in rng.choice(hot, size)]
        self.term_mid = [[str(w)] for w in rng.choice(mid, size)]
        self.term_rare = [[str(w)] for w in rng.choice(rare, size)]
        self.phrase: List[List[str]] = [["the", "the"]]
        self.slop: List[List[str]] = []
        while len(self.phrase) < size or len(self.slop) < size:
            toks = tokens_of(int(rng.integers(n_docs)))
            if len(toks) < 6:
                continue
            n = int(rng.integers(2, 5))
            p = int(rng.integers(0, len(toks) - n))
            cut = toks[p:p + n]
            if len(self.phrase) < size and len(set(cut)) == n:
                self.phrase.append(cut)
            # two distinct terms SLOP positions apart: inside the window
            a, b = toks[p], toks[p + SLOP]
            if len(self.slop) < size and a != b:
                self.slop.append([a, b])
        self.or_ = [[[str(rng.choice(hot))], [str(rng.choice(mid))],
                     [str(rng.choice(rare))]] for _ in range(size)]
        self.size = size

    def cycle(self, i: int):
        """The i-th cycle: (shape, query) pairs in issue order. The term
        query walks the hot, mid and rare bands in turn; the batch holds
        this cycle's and the next cycle's term and phrase queries (8)."""
        j = i % self.size
        band = (self.term_hot, self.term_mid, self.term_rare)[i % 3]
        batch = [q for jj in (j, (j + 1) % self.size)
                 for q in (self.term_hot[jj], self.term_mid[jj],
                           self.term_rare[jj], self.phrase[jj])]
        return [("term", band[j]), ("phrase", self.phrase[j]),
                ("or", self.or_[j]), ("slop", self.slop[j]),
                ("batch", batch)]
