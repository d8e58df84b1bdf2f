"""Replay probes: public functions of ``tokenizers``, ``kernels``,
``spans`` and ``similarity`` re-run on the workload's own texts and
postings, outside the timed query loop.

Postings are read back from the built index's ``postings`` table with
pyarrow and decoded with ``kernels.from_bytes``.
"""
from __future__ import annotations

import statistics
import time
from typing import Dict, List, Sequence

import numpy as np
import pyarrow.parquet as pq

from searcharray_spark import kernels, spans, tokenizers
from searcharray_spark.similarity import bm25_similarity


def _best(fn, repeat: int = 3) -> float:
    """Fastest of ``repeat`` timings (seconds) — the probe wants the
    kernel's cost, not the host's noise."""
    best = float("inf")
    for _ in range(repeat):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def load_postings(index_path: str, terms: Sequence[str]) -> Dict[str, Dict[int, np.ndarray]]:
    """term -> {block_id: packed uint64 postings} for the given terms."""
    t = pq.read_table(f"{index_path}/postings",
                      columns=["term", "block_id", "postings"],
                      filters=[("term", "in", sorted(set(terms)))])
    out: Dict[str, Dict[int, np.ndarray]] = {}
    for term, b, raw in zip(t.column("term").to_pylist(),
                            t.column("block_id").to_pylist(),
                            t.column("postings").to_pylist()):
        out.setdefault(term, {})[int(b)] = kernels.from_bytes(raw)
    return out


def _per_block(posts, terms: Sequence[str]) -> List[List[np.ndarray]]:
    """Per block holding every term: the terms' packed arrays in order."""
    blocks = None
    for t in terms:
        bs = set(posts.get(t, {}))
        blocks = bs if blocks is None else blocks & bs
    return [[posts[t][b] for t in terms] for b in sorted(blocks or ())]


def run(texts: Sequence[str], index_path: str, phrases, slops,
        hot_terms: Sequence[str], docs_per_block: int) -> Dict[str, float]:
    out: Dict[str, float] = {}

    # tokenizers: serial ws_tokenizer over every workload text
    t = time.perf_counter()
    n_tok = sum(len(tokenizers.ws_tokenizer(s)) for s in texts)
    out["tokenizers.ws_mtok_per_s"] = (
        n_tok / (time.perf_counter() - t) / 1e6)

    # kernels.encode_multi: one block's worth of docs, as the build does
    block = [tokenizers.ws_tokenizer(s) for s in texts[:docs_per_block]]
    vocab: Dict[str, int] = {}
    codes = np.fromiter((vocab.setdefault(w, len(vocab))
                         for d in block for w in d), dtype=np.int64)
    lens = np.array([len(d) for d in block], dtype=np.int64)
    docs = np.repeat(np.arange(len(block), dtype=np.int64), lens)
    posns = np.arange(len(codes), dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens)
    secs = _best(lambda: kernels.encode_multi(codes, docs, posns))
    out["kernels.encode_multi_mtok_per_s"] = len(codes) / secs / 1e6

    terms = set(hot_terms)
    for q in list(phrases) + list(slops):
        terms.update(q)
    posts = load_postings(index_path, terms)

    # kernels.termfreqs over the hot terms' postings (the heaviest lists)
    arrays = [a for t in hot_terms for a in posts.get(t, {}).values()]
    words = sum(len(a) for a in arrays)
    secs = _best(lambda: [kernels.termfreqs(a) for a in arrays])
    out["kernels.termfreqs_mwords_per_s"] = words / secs / 1e6

    # kernels.phrase_freqs / spans.span_freqs: the workload's own queries
    def per_query_ms(fn, queries):
        times = []
        for q in queries:
            enc = _per_block(posts, q)
            times.append(_best(lambda: [fn(e) for e in enc]) * 1e3)
        return statistics.median(times) if times else 0.0

    out["kernels.phrase_freqs_ms"] = per_query_ms(kernels.phrase_freqs,
                                                  phrases)
    out["spans.span_freqs_ms"] = per_query_ms(
        lambda e: spans.span_freqs(e, 2), slops)

    # similarity: one vectorized BM25 call over a million docs
    rng = np.random.default_rng(0)
    n = 1_000_000
    tf = rng.integers(1, 8, n).astype(np.float32)
    dl = rng.integers(20, 200, n).astype(np.float32)
    sim = bm25_similarity()
    secs = _best(lambda: sim(tf, np.array([1000.0]), dl, 100.0, 2 * n))
    out["similarity.bm25_mdocs_per_s"] = n / secs / 1e6
    return out
