"""Independent answer checker: a numpy BM25 scorer over the raw corpus.

Shares no code with the engine. Tokens come from Arrow's whitespace
split (the same contract as the ``ws`` tokenizer on generated text), and
every score is recomputed from first principles with the Lucene-9 BM25
formula in float32 (k1=1.2, b=0.75, no (k1+1) numerator):

    idf   = sum over query terms of ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score = idf * tf / (tf + k1 * (1 - b + b * dl / avgdl))

Exact phrases count match start positions. A phrase that repeats one
term follows the engine's same-term rule, which is the reference's
``bigram_freqs._adj_to_phrase_freq`` (``searcharray_spark/kernels.py``
``_phrase_step``; SURVEY.md, operator PH2):

- two terms (``the the``): per 18-position block of the packed layout,
  adjacent pairs minus ceil(triples / 2), plus one per pair straddling
  two blocks;
- more terms: disjoint runs, floor(run / m).

Phrases that mix repeated and distinct terms are never generated, so no
other rule is needed.
"""
from __future__ import annotations

from typing import Dict, List, Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

K1 = np.float32(1.2)
B = np.float32(0.75)

BLOCK_POSNS = 18  # positions per packed posting word
MAX_BLOCKS = (1 << 18) // BLOCK_POSNS + 1  # position blocks per doc

# relative slack for float32 scores computed in a different order
RTOL = 1e-5
ATOL = 1e-6


def bm25(tf, dfs, dl, avgdl: float, n_docs: int) -> np.ndarray:
    """Lucene-9 BM25 in float32; ``dfs`` holds one df per query term."""
    dfs = np.asarray(dfs, dtype=np.float32)
    idf = np.float32(np.sum(np.log(
        np.float32(1) + (np.float32(n_docs) - dfs + np.float32(0.5))
        / (dfs + np.float32(0.5)))))
    tf = np.asarray(tf, dtype=np.float32)
    dl = np.asarray(dl, dtype=np.float32)
    norm = K1 * (np.float32(1) - B + B * (dl / np.float32(avgdl)))
    return (tf / (tf + norm)) * idf


class Corpus:
    """Token-id view of a corpus: one flat int32 array plus doc offsets."""

    def __init__(self, doc_ids: Sequence[int], texts: Sequence[str]):
        self.doc_ids = np.asarray(doc_ids, dtype=np.int64)
        arr = texts if isinstance(texts, (pa.Array, pa.ChunkedArray)) \
            else pa.array(list(texts), type=pa.string())
        lists = pc.utf8_split_whitespace(arr)
        self.lens = pc.list_value_length(lists).to_numpy(
            zero_copy_only=False).astype(np.int64)
        flat = pc.list_flatten(lists)
        enc = pc.dictionary_encode(flat)
        if isinstance(enc, pa.ChunkedArray):
            enc = enc.combine_chunks()
        self.vocab: Dict[str, int] = {
            s: i for i, s in enumerate(enc.dictionary.to_pylist())}
        self.tokens = enc.indices.to_numpy().astype(np.int32)
        self.n = len(self.doc_ids)
        self.doc_of = np.repeat(np.arange(self.n, dtype=np.int64), self.lens)
        self.starts = np.concatenate(([0], np.cumsum(self.lens)[:-1]))
        self.avgdl = float(self.lens.sum()) / self.n if self.n else 0.0
        self.row_of = {int(d): i for i, d in enumerate(self.doc_ids)}
        self._df: Dict[str, int] = {}

    # --- statistics --------------------------------------------------------
    def _tid(self, term: str) -> int:
        return self.vocab.get(term, -1)

    def tf(self, term: str) -> np.ndarray:
        mask = self.tokens == self._tid(term)
        return np.bincount(self.doc_of[mask], minlength=self.n)

    def df(self, term: str) -> int:
        if term not in self._df:
            self._df[term] = int(np.count_nonzero(self.tf(term)))
        return self._df[term]

    def phrase_freq(self, terms: Sequence[str]) -> np.ndarray:
        ids = [self._tid(t) for t in terms]
        m = len(ids)
        if min(ids) < 0:
            return np.zeros(self.n, dtype=np.int64)
        if len(set(ids)) == 1:
            if m == 2:
                return self._packed_pairs(ids[0])
            return self._run_freq(ids[0], m)
        if len(set(ids)) != m:
            raise ValueError(f"mixed repeated-term phrase {terms!r}")
        t = self.tokens
        last = len(t) - (m - 1)
        hit = t[:last] == ids[0]
        for j in range(1, m):
            hit &= t[j:last + j] == ids[j]
        starts = np.flatnonzero(hit)
        # a match may not straddle two docs
        same = self.doc_of[starts] == self.doc_of[starts + m - 1]
        return np.bincount(self.doc_of[starts[same]], minlength=self.n)

    def _run_freq(self, tid: int, m: int) -> np.ndarray:
        pos = np.flatnonzero(self.tokens == tid)
        if not len(pos):
            return np.zeros(self.n, dtype=np.int64)
        doc = self.doc_of[pos]
        brk = np.flatnonzero((np.diff(pos) != 1) | (np.diff(doc) != 0)) + 1
        run_starts = np.concatenate(([0], brk))
        run_lens = np.diff(np.concatenate((run_starts, [len(pos)])))
        return np.bincount(doc[run_starts], weights=run_lens // m,
                           minlength=self.n).astype(np.int64)

    def _packed_pairs(self, tid: int) -> np.ndarray:
        """Same-term pair count: per 18-position block, adjacent pairs
        minus ceil(triples / 2), plus every pair straddling two blocks."""
        pos = np.flatnonzero(self.tokens == tid)
        out = np.zeros(self.n, dtype=np.int64)
        if len(pos) < 2:
            return out
        doc = self.doc_of[pos]
        block = (pos - self.starts[doc]) // BLOCK_POSNS
        adj = (np.diff(pos) == 1) & (np.diff(doc) == 0)
        inner = adj & (np.diff(block) == 0)
        triple = inner[:-1] & inner[1:]
        key = doc * (MAX_BLOCKS + 1) + block
        uniq, inv = np.unique(key[:-1], return_inverse=True)
        pairs = np.bincount(inv, weights=inner, minlength=len(uniq))
        trip = np.bincount(inv[:-1], weights=triple, minlength=len(uniq))
        per_block = pairs - np.ceil(trip / 2)
        out += np.bincount(uniq // (MAX_BLOCKS + 1), weights=per_block,
                           minlength=self.n).astype(np.int64)
        out += np.bincount(doc[:-1][adj & ~inner], minlength=self.n)
        return out

    # --- scoring -----------------------------------------------------------
    def scores(self, terms: Sequence[str]) -> np.ndarray:
        """float32 BM25 per doc for a term (len 1) or an exact phrase."""
        terms = list(terms)
        freq = (self.tf(terms[0]) if len(terms) == 1
                else self.phrase_freq(terms))
        out = np.zeros(self.n, dtype=np.float32)
        m = freq > 0
        out[m] = bm25(freq[m], [self.df(t) for t in terms], self.lens[m],
                      self.avgdl, self.n)
        return out

    def or_scores(self, queries: Sequence[Sequence[str]]) -> np.ndarray:
        """Sum of per-query float32 scores (float64 accumulate)."""
        total = np.zeros(self.n, dtype=np.float64)
        for q in queries:
            total += self.scores(q)
        return total

    def positions(self, row: int, term: str) -> np.ndarray:
        s = self.starts[row]
        seg = self.tokens[s:s + self.lens[row]]
        return np.flatnonzero(seg == self._tid(term))


def check_top_k(corpus: Corpus, full: np.ndarray, got: List[tuple],
                k: int) -> Optional[str]:
    """Validate an engine top-k ``[(doc_id, score), ...]`` against the
    oracle's score vector. Ties at the k-th score may resolve either way;
    anything else must agree. Returns None or a reason string."""
    matching = int(np.count_nonzero(full > 0))
    if len(got) != min(k, matching):
        return f"returned {len(got)} rows, expected {min(k, matching)}"
    if not got:
        return None
    rows = corpus.row_of
    seen = set()
    prev = np.inf
    for doc, score in got:
        r = rows.get(int(doc))
        if r is None or doc in seen:
            return f"doc {doc} unknown or repeated"
        seen.add(doc)
        want = float(full[r])
        if want <= 0 or abs(score - want) > RTOL * abs(want) + ATOL:
            return f"doc {doc} scored {score}, oracle {want}"
        if score > prev + RTOL * abs(prev) + ATOL:
            return "scores not in descending order"
        prev = score
    floor = min(s for _, s in got)
    better = np.flatnonzero(full > floor + RTOL * abs(floor) + ATOL)
    missing = [int(corpus.doc_ids[r]) for r in better
               if int(corpus.doc_ids[r]) not in seen]
    if missing:
        return f"docs {missing[:3]} outscore the k-th hit but are absent"
    return None


def check_slop_hits(corpus: Corpus, terms: Sequence[str], slop: int,
                    got: List[tuple]) -> Optional[str]:
    """Every hit must hold all (distinct) query terms inside one window of
    width len(terms) - 1 + slop."""
    rows = corpus.row_of
    width = len(terms) - 1 + slop
    for doc, score in got:
        r = rows.get(int(doc))
        if r is None or not np.isfinite(score) or score <= 0:
            return f"slop hit {doc} unknown or unscored"
        pos = [corpus.positions(r, t) for t in terms]
        if any(len(p) == 0 for p in pos):
            return f"slop hit {doc} lacks a query term"
        ev = np.concatenate(pos)
        lab = np.concatenate([np.full(len(p), i) for i, p in enumerate(pos)])
        order = np.argsort(ev, kind="stable")
        ev, lab = ev[order], lab[order]
        ok = False
        for i in range(len(ev)):
            j = np.searchsorted(ev, ev[i] + width, side="right")
            if len(set(lab[i:j].tolist())) == len(terms):
                ok = True
                break
        if not ok:
            return f"slop hit {doc} has no window of width {width}"
    return None
