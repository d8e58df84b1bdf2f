"""The repository benchmark: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 16 --trace 0

Generates a deterministic ``webcorpus`` corpus from the seed, indexes it
with ``build_index``, opens it with ``SearchIndex`` and issues queries one
at a time for ``--seconds`` seconds. ``serve_local`` spends the last part
of that time on writes beside reads: a second, small index takes
update/delete commits between query blocks and is compacted at the end.
Every answer in a seeded sample is checked afterwards against the
independent scorer in ``oracle.py``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` is a separate
run that reports the per-layer metrics: spans around the calls into each
module, Spark work per call (a job group per call plus
``statusTracker()``), the phase records the build writes to
``metrics.jsonl`` and replay probes of the kernels. It alternates traced
and untraced loop cycles and reports the difference as its overhead.

Human-readable lines (metric, value, unit, samples) come first; the last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. Files the run writes stay under
``perfbench/.work`` (removed at exit) and ``perfbench/traces``.
"""
from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CORES = 4
SETUP_REPEATS = 3
# answers checked per run and shape against the oracle (seeded sample)
CHECK_PER_SHAPE = 12
SHAPES = ("term", "phrase", "slop", "or", "batch")
# span name of the public call behind each operation
API = {"term": "index.top_k", "phrase": "index.top_k", "slop": "index.top_k",
       "or": "index.top_k_pruned", "batch": "index.top_k_many",
       "first": "index.top_k", "update": "index.update_docs",
       "delete": "index.delete_docs", "compact": "merge.compact_index"}


def tail(values):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten or fewer."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100.0, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def host_probe_ms() -> float:
    """Median time of a fixed single-threaded numpy job: not a metric of
    the program, printed so a reader can tell a slow host from a slow
    build (a shared VM can swing by 2x for minutes at a time)."""
    import numpy as np
    a = np.random.default_rng(0).random(1 << 20)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(a)
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def median_or_zero(xs):
    return statistics.median(xs) if xs else 0.0


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _rows(path: str) -> int:
    import pyarrow.parquet as pq
    return pq.ParquetDataset(path).read(columns=["block_id"]).num_rows


def _env_for_spark(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and the driver heap small."""
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java),
        "--conf", shlex.quote(f"spark.local.dir={tmp}"),
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Bench:
    def __init__(self, wl, seed: int, seconds: float, trace: bool,
                 work: str):
        from tracing import Tracer
        self.wl, self.seed, self.seconds, self.trace = wl, seed, seconds, trace
        self.work = work
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list = []
        self.lat = defaultdict(list)      # serve loop: shape -> [seconds]
        self.maint_lat: list = []         # maintain loop query seconds
        self.traced_lat: list = []        # trace mode: traced cycles
        self.untraced_lat: list = []      # trace mode: untraced cycles
        self.answers: list = []           # (state, shape, query, rows)
        self.states: dict = {}            # state -> (doc_ids, texts)
        self.spark_q = defaultdict(list)  # shape -> [SparkWork.count]
        self.commits = defaultdict(list)  # update/delete -> [seconds]
        self.commit_work: list = []
        self.raw: list = []               # read-after-write seconds
        self.layer: dict = {}
        self.out: dict = {}               # name -> (value, unit, samples)
        self.phases: dict = {}            # wall seconds per run phase

    # --- one timed operation ----------------------------------------------
    def op(self, shape, fn, lat, work_out=None):
        """Run one timed call; an exception counts as a failed operation."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            # the span sits inside the counter, so the counter's own
            # statusTracker calls stay out of the program's self time
            with self.sw.op(shape, work_out), \
                    self.tracer.span(API[shape], root=True):
                res = fn()
        except Exception as e:  # the loop must keep running
            self.failed += 1
            self.errors.append(f"{shape}: {e!r}")
            traceback.print_exc(file=sys.stderr)
            return None
        dt = time.perf_counter() - t
        if lat is not None:
            lat.append(dt)
        return res, dt

    def run_block(self, idx, pools, state, cycle, deadline, lat,
                  after_commit=False):
        """One cycle of the query mix. Returns False once past deadline."""
        from workloads import K, SLOP
        for shape, q in pools.cycle(cycle):
            if time.perf_counter() >= deadline:
                return False
            if shape in ("term", "phrase"):
                fn = lambda: idx.top_k(q, k=K).collect()  # noqa: E731
            elif shape == "slop":
                fn = lambda: idx.top_k(q, k=K, slop=SLOP).collect()  # noqa
            elif shape == "or":
                fn = lambda: idx.top_k_pruned(q, k=K).collect()  # noqa: E731
            else:
                fn = lambda: idx.top_k_many(q, k=K).collect()  # noqa: E731
            work = self.spark_q[shape] if self.sw.enabled else None
            got = self.op(shape, fn, lat(shape), work)
            if got is None:
                continue
            res, dt = got
            if after_commit:  # the first answer after a commit
                self.raw.append(dt)
                after_commit = False
            if self.trace:
                (self.traced_lat if self.tracer.enabled
                 else self.untraced_lat).append(dt)
            if shape == "batch":
                rows = defaultdict(list)
                for r in sorted(res, key=lambda r: (r["token_idx"],
                                                    r["rank"])):
                    rows[r["token_idx"]].append((r["doc_id"], r["score"]))
                res = [rows.get(i, []) for i in range(len(q))]
            else:
                res = [(r["doc_id"], r["score"]) for r in res]
            self.answers.append((state, shape, q, res))
        return True

    def _trace_cycle(self, cycle):
        """Trace mode alternates traced and untraced loop cycles."""
        if self.trace:
            self.tracer.enabled = self.sw.enabled = cycle % 2 == 0

    # --- set-up ----------------------------------------------------------
    def start_session(self):
        from searcharray_spark.session import get_spark
        from tracing import SparkWork
        t = time.perf_counter()
        with self.tracer.span("session.get_spark", root=True):
            self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                                   shuffle_partitions=2 * CORES)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sw = SparkWork(self.spark, self.trace)
        return time.perf_counter() - t

    def generate(self, spec, seed, path, repeats):
        """Write the corpus ``repeats`` times (identical bytes each time);
        returns (doc_ids, texts, median seconds)."""
        import pyarrow.parquet as pq

        from searcharray_spark import webcorpus
        secs = []
        for _ in range(repeats):
            t = time.perf_counter()
            with self.tracer.span("webcorpus.generate_corpus", root=True):
                webcorpus.generate_corpus(
                    self.spark, spec.n_docs, seed=seed, avg_len=spec.avg_len,
                    vocab_size=spec.vocab_size,
                    chunk_size=-(-spec.n_docs // CORES)) \
                    .select("doc_id", "text") \
                    .write.mode("overwrite").parquet(path)
            secs.append(time.perf_counter() - t)
        table = pq.read_table(path).sort_by("doc_id")
        return (table.column("doc_id").to_pylist(),
                table.column("text").to_pylist(), statistics.median(secs))

    def pools_for(self, spec, seed, texts):
        from searcharray_spark import webcorpus
        from workloads import QueryPools
        return QueryPools(seed, webcorpus.make_vocab(spec.vocab_size),
                          lambda i: texts[i].split(), len(texts))

    def build(self, corpus_path, idx_path):
        """build_index wall seconds and the Spark work it launched."""
        from searcharray_spark import build_index
        from workloads import DOCS_PER_BLOCK
        docs = self.spark.read.parquet(corpus_path)
        work = []
        t = time.perf_counter()
        with self.sw.op("build", work), \
                self.tracer.span("indexing.build_index", root=True):
            build_index(self.spark, docs, idx_path, doc_id_col="doc_id",
                        tokenizer="ws", docs_per_block=DOCS_PER_BLOCK)
        return time.perf_counter() - t, (work[0] if work else {})

    def storage(self, idx_path, texts):
        """Byte/row counts per index table and the build's phase record."""
        L = self.layer
        rec = {}
        with open(os.path.join(idx_path, "metrics.jsonl")) as fh:
            for line in fh:
                r = json.loads(line)
                if r.get("stage") == "finalize":
                    rec = r
        phases = rec.get("phases") or {}
        L["indexing.local_build"] = int(bool(rec.get("local_build")))
        L["indexing.fused_build"] = int(bool(rec.get("fused_build")))
        # the local build records a total only: its phases stay 0 here
        L["indexing.phases_recorded"] = int(bool(phases))
        for ph in ("probe", "build_pass", "term_stats"):
            L[f"indexing.phase_{ph}_s"] = float(phases.get(ph, 0.0))
        for tab in ("postings", "doclens", "term_stats"):
            L[f"indexing.{tab}_bytes"] = _du(os.path.join(idx_path, tab))
        L["indexing.posting_rows"] = _rows(os.path.join(idx_path, "postings"))
        self.text_bytes = sum(len(s.encode()) for s in texts)
        self.tokens = int(rec.get("total_tokens", 0))
        self.out["index_bytes_per_text_byte"] = (
            _du(idx_path) / self.text_bytes, "ratio", 1)

    def open(self, idx_path, first_query):
        """Fresh handle, cache(), first answered query: (idx, seconds per
        step)."""
        from searcharray_spark import SearchIndex
        from workloads import K
        t0 = time.perf_counter()
        with self.tracer.span("index.SearchIndex", root=True):
            idx = SearchIndex(self.spark, idx_path)
        if self.wl.distributed_queries:
            if not hasattr(SearchIndex, "LOCAL_QUERY_MAX_DOCS"):
                raise RuntimeError(
                    "SearchIndex.LOCAL_QUERY_MAX_DOCS is gone: the "
                    "driver-local query gate can no longer be closed")
            idx.LOCAL_QUERY_MAX_DOCS = 0  # close the driver-local gate
        t1 = time.perf_counter()
        with self.tracer.span("index.cache", root=True):
            idx.cache()
        t2 = time.perf_counter()
        self.op("first", lambda: idx.top_k(first_query, k=K).collect(), None)
        t3 = time.perf_counter()
        return idx, (t1 - t0, t2 - t1, t3 - t2)

    # --- the serve loop ----------------------------------------------------
    def serve(self, seconds):
        deadline = time.perf_counter() + seconds
        jobs0 = self.sw.jobs_submitted()
        cycle = 0
        while True:
            self._trace_cycle(cycle)
            if not self.run_block(self.idx, self.pools, ("serve", 0), cycle,
                                  deadline, lambda s: self.lat[s]):
                break
            cycle += 1
        self.tracer.enabled = self.sw.enabled = self.trace
        queries = sum(len(self.lat[s]) for s in SHAPES)
        jobs = self.sw.jobs_submitted() - jobs0
        if self.wl.distributed_queries and jobs < queries:
            raise RuntimeError(
                f"{queries} queries launched only {jobs} Spark jobs: some "
                "took the driver-local route, not the distributed one")

    # --- writes beside reads (serve_local) -------------------------------
    def maintain(self, seconds):
        import numpy as np
        import pandas as pd

        from searcharray_spark import SearchIndex, compact_index
        from workloads import DELETE_BATCH, K, UPDATE_BATCH
        spec = self.wl.maintain
        path = os.path.join(self.work, "maint_corpus")
        ids0, texts0, _ = self.generate(spec, self.seed + 1, path, 1)
        pools = self.pools_for(spec, self.seed + 1, texts0)
        idx_path = os.path.join(self.work, "maint_idx")
        self.build(path, idx_path)
        idx, _ = self.open(idx_path, pools.term_hot[0])
        live = dict(zip(ids0, texts0))
        version = 0
        self.states[("maintain", 0)] = (ids0, texts0)
        rng = np.random.default_rng([self.seed, 11])
        deadline = time.perf_counter() + seconds
        cycle = 0
        while cycle < 2 or time.perf_counter() < deadline:
            kind = ("update", "delete")[cycle % 2]
            self._trace_cycle(cycle)
            keys = sorted(live)
            if kind == "update":
                ids = rng.choice(keys, UPDATE_BATCH, replace=False)
                src = rng.integers(0, len(texts0), UPDATE_BATCH)
                new = [" ".join(reversed(texts0[int(s)].split()))
                       for s in src]
                frame = self.spark.createDataFrame(
                    pd.DataFrame({"doc_id": ids.astype("int64"),
                                  "text": new}), "doc_id long, text string")
                fn = lambda: idx.update_docs(frame)  # noqa: E731
            else:
                ids = rng.choice(keys, DELETE_BATCH, replace=False)
                fn = lambda: idx.delete_docs(ids.tolist())  # noqa: E731
            committed = self.op(kind, fn, self.commits[kind],
                                self.commit_work if self.sw.enabled else None)
            if committed:
                if kind == "update":
                    live.update(zip(ids.tolist(), new))
                else:
                    for d in ids.tolist():
                        del live[d]
                version += 1
                keys = sorted(live)
                self.states[("maintain", version)] = (
                    keys, [live[k] for k in keys])
            self.run_block(idx, pools, ("maintain", version), cycle,
                           float("inf"), lambda s: self.maint_lat,
                           after_commit=bool(committed))
            cycle += 1
        self.tracer.enabled = self.sw.enabled = self.trace

        # compaction, then the compacted index must answer like the corpus
        rows_in = _rows(os.path.join(idx_path, "postings"))
        seg_root = os.path.join(idx_path, "updates")
        for seg in sorted(os.listdir(seg_root)):
            rows_in += _rows(os.path.join(seg_root, seg, "postings"))
        out_path = os.path.join(self.work, "maint_compacted")
        work = []
        got = self.op("compact",
                      lambda: compact_index(self.spark, idx_path, out_path),
                      self.commits["compact"], work)
        if got is None:
            return
        dt = got[1]
        L = self.layer
        L["merge.compact_s"] = dt
        L["merge.posting_rows_in"] = rows_in
        L["merge.rows_per_s"] = rows_in / dt
        L["merge.bytes_written"] = _du(out_path)
        L["merge.compact_spark_tasks"] = work[0]["tasks"] if work else 0
        compacted = SearchIndex(self.spark, out_path)
        for q in (pools.term_hot[1], pools.phrase[1]):
            shape = "phrase" if len(q) > 1 else "term"
            got = self.op(shape, lambda: compacted.top_k(q, k=K).collect(),
                          None)
            if got is not None:
                self.answers.append((
                    ("maintain", version), shape, q,
                    [(r["doc_id"], r["score"]) for r in got[0]]))

    # --- answer checks -----------------------------------------------------
    def check(self):
        """Oracle checks on a seeded sample of answers; each wrong answer
        counts as a failed operation."""
        import numpy as np

        import oracle
        from workloads import K, SLOP
        corpora, scores = {}, {}

        def corpus(state):
            if state not in corpora:
                corpora[state] = oracle.Corpus(*self.states[state])
            return corpora[state]

        def full(state, shape, q):
            key = (state, shape, json.dumps(q))
            if key not in scores:
                c = corpus(state)
                scores[key] = (c.or_scores(q) if shape == "or"
                               else c.scores(q))
            return scores[key]

        def verify(state, shape, q, rows):
            """Reason the answer is wrong, or None."""
            if shape == "slop":
                return oracle.check_slop_hits(corpus(state), q, SLOP, rows)
            return oracle.check_top_k(corpus(state), full(state, shape, q),
                                      rows, K)

        individual = {(st, json.dumps(q)): rows
                      for st, s, q, rows in self.answers
                      if s in ("term", "phrase")}
        rng = np.random.default_rng([self.seed, 13])
        groups = defaultdict(list)
        for a in self.answers:
            groups[(a[0][0], a[1])].append(a)
        checked = 0
        for (_phase, shape), items in sorted(groups.items()):
            if len(items) > CHECK_PER_SHAPE:
                pick = rng.choice(len(items), CHECK_PER_SHAPE, replace=False)
                items = [items[i] for i in sorted(pick)]
            for state, _s, q, rows in items:
                checked += 1
                if shape == "batch":
                    # each answer must equal top_k of the same query on
                    # the same index state, or else the oracle's
                    err = None
                    for sub, got in zip(q, rows):
                        same = individual.get((state, json.dumps(sub)))
                        if same is not None:
                            err = (f"top_k_many {sub} != top_k"
                                   if same != got else None)
                        else:
                            err = verify(state, "phrase", sub, got)
                        if err:
                            break
                else:
                    err = verify(state, shape, q, rows)
                if err:
                    self.failed += 1
                    self.errors.append(f"{shape} {q}: {err}")
        return checked

    # --- the run -----------------------------------------------------------
    def run(self):
        from workloads import MAINTAIN_SHARE
        clock = [time.perf_counter()]

        def phase(name):
            now = time.perf_counter()
            self.phases[name] = now - clock[0]
            clock[0] = now

        wl, spec = self.wl, self.wl.corpus
        self.host_ms = [host_probe_ms()]
        session_s = self.start_session()
        corpus_path = os.path.join(self.work, "corpus")
        ids, texts, gen_s = self.generate(spec, self.seed, corpus_path,
                                          SETUP_REPEATS)
        self.texts = texts
        self.states[("serve", 0)] = (ids, texts)
        self.pools = self.pools_for(spec, self.seed, texts)
        self.layer["session.start_s"] = session_s
        self.layer["webcorpus.generate_s"] = gen_s
        phase("setup")

        self.idx_path = os.path.join(self.work, "idx")
        build_s, work = self.build(corpus_path, self.idx_path)
        self.out["build_docs_per_s"] = (spec.n_docs / build_s, "docs/s", 1)
        self.layer["indexing.build_s"] = build_s
        self.layer["indexing.spark_jobs"] = work.get("jobs", 0)
        self.layer["indexing.spark_tasks"] = work.get("tasks", 0)
        self.layer["indexing.failed_tasks"] = work.get("failed_tasks", 0)
        self.storage(self.idx_path, texts)
        phase("build")

        self.idx, steps = self.open(self.idx_path, self.pools.term_hot[-1])
        self.out["open_s"] = (sum(steps), "s", 1)
        self.layer["index.open_s"] = steps[0]
        self.layer["index.cache_s"] = steps[1]
        self.layer["index.first_query_ms"] = steps[2] * 1e3
        phase("open")

        # untimed warmup: one full cycle, from the end of the pools
        self.run_block(self.idx, self.pools, ("serve", 0),
                       self.pools.size - 1, float("inf"), lambda s: None)
        self.spark_q.clear()
        phase("warmup")
        self.out["setup_s"] = (session_s + gen_s + self.phases["warmup"],
                               "s", SETUP_REPEATS)

        if self.trace:
            self._install_wrappers()
        share = MAINTAIN_SHARE if wl.maintain else 0.0
        self.serve(self.seconds * (1 - share))
        phase("serve")
        if wl.maintain:
            self.maintain(self.seconds * share)
            phase("maintain")
        self.tracer.unwrap_all()
        self.host_ms.append(host_probe_ms())
        self.checked = self.check()
        phase("check")
        if self.trace:
            self._trace_metrics()
            phase("probes")
        self._e2e()

    def _install_wrappers(self):
        from searcharray_spark import kernels, spans
        for attr in ("termfreqs", "phrase_freqs", "or_merge"):
            self.tracer.wrap(kernels, attr)
        self.tracer.wrap(spans, "span_freqs")

    def _e2e(self):
        pooled = [x for s in SHAPES for x in self.lat[s]]
        self.out["query_p50_ms"] = (statistics.median(pooled) * 1e3, "ms",
                                    len(pooled))
        v, pct, n = tail(pooled)
        self.tail_pct = pct
        self.out["query_tail_ms"] = (v * 1e3, "ms", n)
        for s in SHAPES:
            self.out[f"{s}_p50_ms"] = (median_or_zero(self.lat[s]) * 1e3,
                                       "ms", len(self.lat[s]))
        if self.wl.maintain:
            c = self.commits["update"] + self.commits["delete"]
            self.out["commit_p50_ms"] = (median_or_zero(c) * 1e3, "ms",
                                         len(c))
            self.out["read_after_write_p50_ms"] = (
                median_or_zero(self.raw) * 1e3, "ms", len(self.raw))
            self.out["maintain_query_p50_ms"] = (
                median_or_zero(self.maint_lat) * 1e3, "ms",
                len(self.maint_lat))
            self.out["compact_s"] = (
                median_or_zero(self.commits["compact"]), "s",
                len(self.commits["compact"]))
        self.out["failed_op_ratio"] = (self.failed / max(1, self.attempted),
                                       "ratio", self.attempted)

    def _trace_metrics(self):
        import probes
        from workloads import DOCS_PER_BLOCK
        L, pools = self.layer, self.pools
        L.update(probes.run(
            self.texts, self.idx_path, pools.phrase[:16], pools.slop[:16],
            [q[0] for q in pools.term_hot[:4]], DOCS_PER_BLOCK))
        queries = [w for s in SHAPES for w in self.spark_q[s]]
        n = max(1, len(queries))
        L["index.local_route_ratio"] = sum(w["jobs"] == 0
                                           for w in queries) / n
        for key in ("jobs", "stages", "tasks"):
            L[f"index.spark_{key}_per_query"] = sum(w[key]
                                                    for w in queries) / n
            for s in SHAPES:
                ws = self.spark_q[s]
                L[f"index.spark_{key}_per_query.{s}"] = (
                    sum(w[key] for w in ws) / len(ws) if ws else 0.0)
        L["index.failed_tasks"] = sum(w["failed_tasks"] for w in queries)
        for kind in ("update", "delete"):
            L[f"index.{kind}_docs_ms"] = median_or_zero(
                self.commits[kind]) * 1e3
        cw = self.commit_work
        L["index.spark_jobs_per_commit"] = (
            sum(w["jobs"] for w in cw) / len(cw) if cw else 0.0)
        L["index.read_after_write_ms"] = median_or_zero(self.raw) * 1e3
        for m, secs in self.tracer.self_times().items():
            L[f"selftime.{m}_s"] = secs
        if self.traced_lat and self.untraced_lat:
            L["trace.overhead_query_p50_ms"] = (
                statistics.median(self.traced_lat)
                - statistics.median(self.untraced_lat)) * 1e3
        L["trace.spans"] = len(self.tracer.spans)
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        self.tracer.write(os.path.join(
            HERE, "traces", f"{self.wl.name}-{self.seed}.json"))


def report(bench, spec: dict, trace: bool) -> None:
    wl = bench.wl
    c = wl.corpus
    print(f"# workload {wl.name}: {c.n_docs} docs, avg_len {c.avg_len}, "
          f"{bench.tokens} tokens, {bench.text_bytes} text bytes, "
          f"seed {bench.seed}, {'traced' if trace else 'untraced'}")
    for name, (v, unit, n) in bench.out.items():
        extra = f" (p{bench.tail_pct:.1f})" if name == "query_tail_ms" else ""
        print(f"{name} {v:.6g} {unit} n={n}{extra}")
    if trace:
        for m in spec["per_layer"]:
            print(f"{m['name']} {bench.layer.get(m['name'], 0.0):.6g} "
                  f"{m['unit']}")
    print(f"# session start {bench.layer['session.start_s']:.1f}s, "
          f"generate {bench.layer['webcorpus.generate_s']:.1f}s (median of "
          f"{SETUP_REPEATS}); phases: " + ", ".join(
              f"{k} {v:.1f}s" for k, v in bench.phases.items()))
    print("# host probe (numpy sort of 1M floats) before/after the run: "
          + " / ".join(f"{ms:.1f} ms" for ms in bench.host_ms))
    print(f"# answers checked: {bench.checked}; attempted "
          f"{bench.attempted}, failed {bench.failed}")
    for e in bench.errors[:5]:
        print(f"# error: {e}")
    if trace:
        metrics = {m["name"]: {"value": float(bench.layer.get(m["name"], 0.0)),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(bench.out[m["name"]][0]),
                               "unit": m["unit"]} for m in spec["end_to_end"]}
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "searcharray_spark")):
        print(f"perfbench: no searcharray_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    _env_for_spark(tmp)
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds,
                  bool(args.trace), work)
    try:
        bench.run()
    finally:
        try:
            if bench.spark is not None:
                _stop_spark(bench.spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's work dir is still there
    report(bench, spec, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
