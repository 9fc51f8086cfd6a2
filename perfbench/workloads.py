"""The benchmark's workloads and its end-to-end and per-layer metrics.

Both workloads set up the same way, once per run: generate the seeded
corpus with the program's generator (``generate_corpus_rows``, FIXTURES.md
§1) and write it to parquet, start Spark, build the index from it (one
cold ``build_index``, as a batch job runs it), open a ``SearchEngine``
and warm it up with WARMUP_CYCLES cycles of the query mix.  Then one
closed-loop client in this process sends its next search only after the
previous one returned, in cycles of the workload's query mix (gate.py;
fresh seeded queries every cycle) until ``--seconds`` have passed (at
least one cycle; two when traced).  One op = one ``SearchEngine.search()``:

- ``search_api``  SEARCH_MIX with the API defaults: count and snippets on.
- ``search_topk`` TOPK_MIX with ``with_count=False, with_snippets=False``.

Every answer is checked against the oracle (gate.py) after the loop.

Why CPU time: on a shared host the CPU a run is given swings by 2x from
minute to minute, and wall-clock figures swing with it.  ``setup_s`` is
therefore the CPU seconds of the whole process tree (Python client,
Spark JVM, Python workers) over the set-up steps, and ``search_cpu_ms``
the CPU per search of the two processes that serve it (this process and
the JVM, without its JIT compiler threads; tracing.ServingCpu), taken
per cycle of the loop and reported as the median over the cycles.
Wall-clock latency and throughput are reported with the per-layer
metrics.
"""

from __future__ import annotations

import gc
import os
import random
import sys
import time

from perfbench import gate
from perfbench.tracing import (
    JobCounter,
    ServingCpu,
    TreeCpu,
    dir_snapshot,
    median,
    percentile,
    written_since,
)

#: generated corpus: repos x files per repo (~2000 files, 30-220 tokens)
N_REPOS = 16
FILES_PER_REPO = 125
#: cycles of the query mix that warm a fresh engine up before the loop
WARMUP_CYCLES = 2
#: documents in the analyzer / encoder layer probes, and their length
PROBE_DOCS = 1000
PROBE_MIN_S = 0.5


class Run:
    """State of one benchmark run: corpus, oracle, timings, counters."""

    def __init__(self, work: str, seed: int, seconds: float, tracer):
        from searchengine_spark.config import IndexConfig

        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.trace = tracer.enabled
        self.jobs: JobCounter | None = None
        self.serving: ServingCpu | None = None
        self.cfg = IndexConfig()
        self.rng = random.Random(seed)
        self.cpu = TreeCpu()
        #: wall seconds of each set-up step; CPU seconds of the set-up
        #: and of its build step
        self.setup_s: dict[str, float] = {}
        self.setup_cpu_s = self.build_cpu_s = self.oracle_cpu_s = 0.0
        self.setup_wall_s = 0.0
        self.cpu.refresh()
        self._setup_t0, self._setup_cpu0 = time.perf_counter(), self.cpu.read()
        self.attempted = 0
        self.failed = 0
        #: (wall ms, traced?) of every op of the loop
        self.ops: list[tuple[float, bool]] = []
        self.loop_s = 0.0
        #: serving CPU seconds of the loop, apart from and of JIT
        #: compiler threads, and serving CPU ms per op of each cycle
        self.loop_cpu_s = self.loop_jit_s = 0.0
        self.cycle_cpu_ms: list[float] = []
        self.loop_spans = 0

    def step(self, name: str, fn, *args, **kwargs):
        """Run one set-up step, recording its wall seconds."""
        t0 = time.perf_counter()
        with self.tracer.span(name):
            out = fn(*args, **kwargs)
        self.setup_s[name] = time.perf_counter() - t0
        return out

    def end_setup(self) -> None:
        """Set-up wall and CPU time: the whole process tree's since this
        run began, apart from the oracle's CPU."""
        self.setup_wall_s = time.perf_counter() - self._setup_t0
        self.cpu.refresh()
        self.setup_cpu_s = self.cpu.read() - self._setup_cpu0 - self.oracle_cpu_s

    # ------------------------------------------------------------------
    # set-up
    # ------------------------------------------------------------------
    def make_corpus(self) -> None:
        """Seeded corpus rows written to parquet for the program, and the
        oracle index over them (the oracle is not set-up time)."""
        from tests.oracle import build_oracle_index

        self.corpus = os.path.join(self.work, "corpus")
        self.rows = self.step("corpus", write_corpus, self.corpus, self.seed)
        self.input_bytes = sum(len(r[4].encode("utf-8")) for r in self.rows)
        c0 = time.thread_time()
        self.oracle = build_oracle_index(self.rows)
        self.pools = gate.TermPools(self.oracle)
        self.oracle_cpu_s = time.thread_time() - c0

    def build(self, spark, out_dir: str) -> None:
        """The set-up's full index build, checked against the oracle's
        document, term and posting counts."""
        from searchengine_spark.index.builder import build_index

        self.cpu.refresh()
        c0 = self.cpu.read()
        m = self.step(
            "build", build_index, spark, spark.read.parquet(self.corpus), out_dir,
            self.cfg, source=self.corpus, force=True, store_content=False,
        )
        self.cpu.refresh()
        self.build_cpu_s = self.cpu.read() - c0
        self.build_stages = (m["stage1"]["wall_sec"], m["stage2"]["wall_sec"])
        got = (m["stage1"]["n_docs"], m["stage2"]["n_terms"], m["stage1"]["postings_emitted"])
        self.build_counts = got
        o = self.oracle
        want = (o.n_docs, len(o.postings), sum(len(p) for p in o.postings.values()))
        self.record(None if got == want else f"build (docs, terms, postings) {got} != {want}")
        self.index_ratio = (
            sum(size for size, _ in dir_snapshot(out_dir).values()) / self.input_bytes
        )

    def open_engine(self, spark, index_dir: str):
        """A SearchEngine whose layer calls inside ``search()`` are
        spanned: plan (planner), search_df plus the collect of its rows
        (top-k kernel) and _match_stats (the count scan behind
        ``count_matches``).  Instance attributes shadow the methods, so
        ``search()`` calls these wrappers."""
        import pandas as pd
        from searchengine_spark.query.engine import SearchEngine

        eng = SearchEngine(spark, index_dir)
        tracer = self.tracer
        plan, search_df = eng.plan, eng.search_df

        def traced_plan(*a, **kw):
            with tracer.span("plan") as rec:
                out = plan(*a, **kw)
                if rec is not None:
                    rec["terms"] = len(out[0].ordered)
                    rec["postings"] = sum(df for _, df, _ in out[0].ordered)
                return out

        def traced_search_df(*a, **kw):
            """search_df and the collect ``search()`` runs on its result;
            the collected rows go back as the pandas frame ``search()``
            also accepts."""
            with tracer.span("topk") as rec:
                df = search_df(*a, **kw)
                if rec is None:
                    return df
                return pd.DataFrame([r.asDict() for r in df.collect()], columns=df.columns)

        eng.plan = traced_plan
        eng.search_df = traced_search_df
        eng._match_stats = tracer.wrap("count", eng._match_stats)
        return eng

    # ------------------------------------------------------------------
    # ops
    # ------------------------------------------------------------------
    def record(self, why: str | None) -> None:
        self.attempted += 1
        if why is not None:
            self.failed += 1
            print(f"perfbench: mismatch: {why}", file=sys.stderr, flush=True)

    def search(self, eng, q: dict, with_count: bool, with_snippets: bool) -> dict:
        """One search call; its Spark jobs and span when traced."""

        def call():
            return eng.search(
                q["query"], offset=q["offset"], limit=q["limit"], repo=q["repo"],
                mode=q["mode"], with_count=with_count, with_snippets=with_snippets,
            )

        if not self.tracer.enabled:
            return call()
        out: dict = {}
        with self.jobs.count(out), self.tracer.span(
            "search", cls=q["cls"], snippets=with_snippets
        ) as rec:
            resp = call()
        rec["jobs"] = out["jobs"]
        return resp

    def upsert(self, spark, eng, index_dir: str, row: tuple) -> None:
        """Traced reindex_doc + refresh, with the Spark jobs of the upsert
        and the files and bytes it wrote into the index dir."""
        from searchengine_spark.index.maintain import reindex_doc

        repo, path, _commit, _lang, content = row
        out: dict = {}
        before = dir_snapshot(index_dir)
        with self.jobs.count(out), self.tracer.span("upsert") as rec:
            reindex_doc(spark, index_dir, repo, path, content)
        rec["jobs"] = out["jobs"]
        rec["files"], rec["bytes"] = written_since(before, index_dir)
        with self.tracer.span("refresh"):
            eng.refresh()

    def op(self, fn):
        """Run and time one op.  In a traced run every other op is traced
        and the rest run untraced: the gap between the two is the
        tracing overhead."""
        traced = self.trace and len(self.ops) % 2 == 0
        self.tracer.enabled = traced
        if traced:
            self.tracer.new_request()
        t0 = time.perf_counter()
        out = fn()
        self.ops.append(((time.perf_counter() - t0) * 1000.0, traced))
        self.tracer.enabled = self.trace
        return out

    def loop(self, cycle) -> None:
        """``cycle()`` until ``seconds`` have passed: at least once, and
        twice when traced.  Records the loop's wall time, its serving
        CPU time per cycle and in all, and marks the spans it recorded."""
        t0 = time.perf_counter()
        c0, j0 = self.serving.read()
        n = 0
        while n <= self.trace or time.perf_counter() - t0 < self.seconds:
            ops0, (c, _) = len(self.ops), self.serving.read()
            cycle()
            n += 1
            self.cycle_cpu_ms.append(
                1000.0 * (self.serving.read()[0] - c) / (len(self.ops) - ops0)
            )

        self.loop_s = time.perf_counter() - t0
        c1, j1 = self.serving.read()
        self.loop_cpu_s, self.loop_jit_s = c1 - c0, j1 - j0
        self.loop_spans = len(self.tracer.spans)

    # ------------------------------------------------------------------
    # results
    # ------------------------------------------------------------------
    def summary(self) -> str:
        steps = " ".join(f"{k}={v:.1f}s" for k, v in self.setup_s.items())
        return (f"perfbench: setup {steps} | {len(self.ops)} ops in {self.loop_s:.1f}s, "
                f"{self.loop_cpu_s:.2f} CPU-s + {self.loop_jit_s:.2f} JIT CPU-s, "
                f"per op by cycle {' '.join(f'{c:.1f}' for c in self.cycle_cpu_ms)} ms")

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_cpu_s, "s"),
            "search_cpu_ms": (median(self.cycle_cpu_ms), "ms"),
            "index_bytes_per_input_byte": (self.index_ratio, "ratio"),
        }


def write_corpus(out_dir: str, seed: int) -> list[tuple]:
    """Generate the seeded corpus rows and write them as one parquet file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from searchengine_spark.sources.corpus import CORPUS_COLUMNS, generate_corpus_rows

    rows = generate_corpus_rows(N_REPOS, FILES_PER_REPO, seed)
    os.makedirs(out_dir)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({c: pa.array(v, pa.string()) for c, v in zip(CORPUS_COLUMNS, cols)}),
        os.path.join(out_dir, "part-0.parquet"),
    )
    return rows


# ----------------------------------------------------------------------
# shared pieces of the workloads
# ----------------------------------------------------------------------
def check_answers(run: Run, answers: list, oracle) -> None:
    """Check (query, response, with_count) answers against ``oracle``."""
    cache: dict = {}
    for q, resp, with_count in answers:
        key = (q["query"], q["mode"], q["repo"], q["offset"], q["limit"])
        if key not in cache:
            cache[key] = gate.expected(oracle, q, run.cfg)
        page, count = cache[key]
        why = gate.mismatch(resp, page, count, with_count)
        run.record(None if why is None else f"{q}: {why}")


def probe_search(run: Run, eng) -> None:
    """Traced pass of the search_api mix with the API defaults (count
    and snippets on): the count and fetch layers on search_topk."""
    mix = gate.search_mix(run.pools, random.Random(run.seed + 1))
    run.tracer.new_request()
    answers = [(q, run.search(eng, q, True, True), True) for q in mix]
    check_answers(run, answers, run.oracle)


def probe_upsert(run: Run, spark, eng, index_dir: str) -> None:
    """Traced edit of one document, then refresh and the top-k queries
    that must see it, checked against an oracle over the edited corpus:
    the index.maintain layer on every workload."""
    from tests.oracle import build_oracle_index

    rng = random.Random(run.seed + 2)
    row, marker = gate.upsert_doc(run.pools, rng, run.seed, run.rows)
    queries = gate.upsert_queries(run.pools, rng, row, marker)
    run.tracer.new_request()
    run.upsert(spark, eng, index_dir, row)
    rows = [r if r[:2] != row[:2] else row for r in run.rows]
    answers = [(q, run.search(eng, q, False, False), False) for q in queries]
    check_answers(run, answers, build_oracle_index(rows))


def search_workload(mix: dict, with_extras: bool):
    """A workload of ``search()`` calls over the ``mix`` query classes,
    with count and snippets on or off (``with_extras``)."""

    def workload(run: Run, spark) -> None:
        answers = []

        def search(eng, q):
            answers.append((q, run.search(eng, q, with_extras, with_extras), with_extras))

        index_dir = os.path.join(run.work, "index")
        run.build(spark, index_dir)
        eng = run.step("open", run.open_engine, spark, index_dir)
        run.tracer.enabled = False
        warmup = [q for _ in range(WARMUP_CYCLES)
                  for q in gate.search_mix(run.pools, run.rng, mix)]
        run.step("warmup", lambda: [search(eng, q) for q in warmup])
        run.tracer.enabled = run.trace
        run.end_setup()
        # the oracle and the corpus rows are the client's, not the
        # program's: keep them out of the collections its searches cause
        gc.collect()
        gc.freeze()

        def cycle():
            for q in gate.search_mix(run.pools, run.rng, mix):
                run.op(lambda: search(eng, q))

        run.loop(cycle)
        if run.trace:
            if not with_extras:
                probe_search(run, eng)
            probe_upsert(run, spark, eng, index_dir)
        check_answers(run, answers, run.oracle)

    return workload


WORKLOADS = {
    "search_api": search_workload(gate.SEARCH_MIX, with_extras=True),
    "search_topk": search_workload(gate.TOPK_MIX, with_extras=False),
}


# ----------------------------------------------------------------------
# per-layer metrics (--trace 1)
# ----------------------------------------------------------------------
def probe_analyzer_and_format(run: Run) -> dict:
    """Time the analyzer and block-encoder kernels on a fixed sample of
    the corpus: its first PROBE_DOCS documents in doc-id order."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from searchengine_spark.analyzer import analyze_batch_arrow
    from searchengine_spark.functions.xxhash import bucket_of
    from searchengine_spark.index.format import encode_partition_arrow

    docs = run.oracle.docs[:PROBE_DOCS]
    ids = pa.array(np.arange(len(docs), dtype=np.int64))
    texts = pa.array([d[4] for d in docs], pa.string())

    def rate(fn):
        """(last result, calls per second) over >= PROBE_MIN_S."""
        n, t0 = 0, time.perf_counter()
        while True:
            out = fn()
            n += 1
            if time.perf_counter() - t0 >= PROBE_MIN_S:
                return out, n / (time.perf_counter() - t0)

    tf, analyze_rate = rate(lambda: analyze_batch_arrow(ids, texts))
    # the stage-2 encoder's input: postings sorted by (bucket, term, salt, doc_id)
    pdf = tf.to_pandas()
    pdf["dl"] = pdf.groupby("doc_id")["tf"].transform("sum").astype("int32")
    buckets = {t: bucket_of(t, run.cfg.n_buckets) for t in pdf["term"].unique()}
    pdf["bucket"] = pdf["term"].map(buckets).astype("int32")
    pdf["salt"] = (pdf["doc_id"] % run.cfg.n_salts).astype("int32")
    pdf = pdf.sort_values(["bucket", "term", "salt", "doc_id"], kind="mergesort")
    tbl = pa.Table.from_pandas(
        pdf[["term", "doc_id", "tf", "dl", "bucket", "salt"]], preserve_index=False
    )
    batches = tbl.to_batches(max_chunksize=20000)
    runs, encode_rate = rate(
        lambda: list(encode_partition_arrow(batches, run.cfg.block_size))
    )
    n_bytes = sum(pc.sum(b.column("n_bytes")).as_py() for b in runs)
    return {
        "analyzer.docs_per_s": (analyze_rate * len(docs), "1/s"),
        "analyzer.postings_per_doc": (tf.num_rows / len(docs), "count"),
        "format.encode_postings_per_s": (encode_rate * tbl.num_rows, "1/s"),
        "format.bytes_per_posting": (n_bytes / tbl.num_rows, "B"),
    }


def per_layer(run: Run, peak_rss_bytes: int) -> dict:
    """Per-layer metrics from the spans.  The planner, top-k and Spark
    job figures come from the loop's own queries; count and fetch also
    from the probe pass, the only place search_topk reaches them."""
    t = run.tracer

    def mean(values):
        return sum(values) / len(values)

    def spans(name, loop_only=False):
        return [s for s in t.spans[:run.loop_spans if loop_only else None]
                if s["name"] == name]

    def ms(span_list):
        return [(s["end"] - s["start"]) * 1000.0 for s in span_list]

    plans = spans("plan", loop_only=True)
    topk = ms(spans("topk", loop_only=True))
    fetch_self = [t.self_ms(s) for s in spans("search") if s["snippets"]]
    upserts = spans("upsert")
    traced = [w for w, tr in run.ops if tr]
    untraced = [w for w, tr in run.ops if not tr]
    out = {
        "search.wall_p50_ms": (median(untraced), "ms"),
        "search.wall_p90_ms": (percentile(untraced, 90), "ms"),
        "search.qps": (len(run.ops) / run.loop_s, "1/s"),
        "search.jit_cpu_ms": (1000.0 * run.loop_jit_s / len(run.ops), "ms"),
        "setup.wall_s": (run.setup_wall_s, "s"),
        "memory.peak_rss_mb": (peak_rss_bytes / 2**20, "MB"),
        "session.start_s": (run.setup_s["session"], "s"),
        "corpus.gen_s": (run.setup_s["corpus"], "s"),
        "builder.build_s": (run.setup_s["build"], "s"),
        "builder.cpu_s": (run.build_cpu_s, "s"),
        "builder.docs_per_s": (run.oracle.n_docs / run.setup_s["build"], "1/s"),
        "builder.stage1_s": (run.build_stages[0], "s"),
        "builder.stage2_s": (run.build_stages[1], "s"),
        "builder.postings": (run.build_counts[2], "count"),
        "builder.terms": (run.build_counts[1], "count"),
        "plan.p50_ms": (median(ms(plans)), "ms"),
        "plan.terms_per_query": (mean([s["terms"] for s in plans]), "count"),
        "topk.p50_ms": (median(topk), "ms"),
        "topk.p90_ms": (percentile(topk, 90), "ms"),
        "topk.postings_per_query": (mean([s["postings"] for s in plans]), "count"),
        "count.p50_ms": (median(ms(spans("count"))), "ms"),
        "fetch.self_p50_ms": (median(fetch_self), "ms"),
        "spark.jobs_per_query": (mean([s["jobs"] for s in spans("search", True)]), "count"),
        "spark.jobs_per_upsert": (mean([s["jobs"] for s in upserts]), "count"),
        "maintain.upsert_ms": (median(ms(upserts)), "ms"),
        "maintain.files_written_per_upsert": (mean([s["files"] for s in upserts]), "count"),
        "maintain.bytes_written_per_upsert": (mean([s["bytes"] for s in upserts]), "B"),
        "refresh.ms": (median(ms(spans("refresh"))), "ms"),
        "trace.overhead_pct": (100.0 * (mean(traced) / mean(untraced) - 1.0), "%"),
    }
    out.update(probe_analyzer_and_format(run))
    return out
