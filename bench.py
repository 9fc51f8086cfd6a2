#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Three phases, mirroring BASELINE.md's rebuild targets:

1. **Index build** — full two-stage inverted-index build over the
   ``documents`` corpus (adapted to the (repo, path, commit, lang,
   content) input shape); reports ``build_files_per_sec``.
2. **Query latency** — the reference-style query set against the built
   index through the driver-local scoring path (the p50 path,
   SURVEY.md §7.2); reports ``query_p50_ms`` / ``query_p99_ms``.
3. **Headline relational/pipeline queries** — a representative subset
   of ``__spark_entry__.queries()`` fully materialized via the noop
   sink (forces execution, writes nothing); per-query seconds in
   ``queries`` are MIN-OF-3 (all three samples in ``query_runs``) so
   round-over-round diffs measure the engine, not the hypervisor's
   documented 1.65-4x CPU-delivery flap (SCALE.md §9).

Scaling evidence (local[8] vs local[32]) is a separate harness —
``tools/bench_scaling.py`` → ``BENCH/BASELINE.md`` — because a single
process can hold only one SparkContext.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "q_tf_postings",
    "q_term_stats",
    "q_corpus_stats",
    "q_search_and_tf",
    "q_search_bm25",
    "q_dedup_exact",
    "q_minhash_lsh",
    "q_simhash",
    "q_simhash_engine",
    "q_ann_cosine",
    "q_ann_lsh",
    "q_ann_lsh_indexed",
    "q_token_counts",
    "q_quality",
    "q_langid",
    "q_fingerprints",
    "q_tpch_pricing",
    "q_rev_by_nation",
    "q_top_customers",
    "q_events_hourly",
    "q_sessionize",
    "q_running_revenue",
]

#: reference-style query mix over the documents corpus (FIXTURES.md §2):
#: rare terms, head terms, 2-3-term conjunctions, digit/identifier-ish
#: tokens, an empty-intersection pair, a dictionary miss.
QUERY_SET = [
    ("and", "spark query"),
    ("and", "data index"),
    ("and", "search engine text"),
    ("and", "zzz-not-in-dictionary"),
    ("or", "spark dup"),
    ("or", "query language model"),
    ("or", "token stream batch"),
    ("and", "the of"),
    ("or", "distributed shuffle"),
    ("and", "spark"),
]


#: 2->8-proc CPU-delivery ratio below which this burst-credited guest
#: is rationing (clean hardware delivers ~4.0; SCALE.md §9) — readings
#: below it mark the whole bench line as a rationed-window measurement
PROBE_CLEAN_RATIO = 3.5


def _host_probe(secs: float = 2.0) -> dict:
    """Snapshot the hypervisor's CPU delivery (tools/cpu_probe.py):
    iterations/sec at 2 and 8 burner processes + their ratio.  Runs
    BEFORE and AFTER the bench so every BENCH_rN line carries the host
    condition it was measured under (VERDICT r4 #2: un-probed numbers
    on this guest cannot support a perf claim)."""
    try:
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tools"))
        from cpu_probe import measure

        lo = measure(2, secs)
        hi = measure(8, secs)
        return {
            "iters_2p": round(lo, 1),
            "iters_8p": round(hi, 1),
            "ratio_2to8": round(hi / lo, 2) if lo else 0.0,
        }
    except Exception as exc:  # probe must never break the bench line
        return {"error": str(exc)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    probe_before = _host_probe()
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    from searchengine_spark import IndexConfig, get_spark
    from searchengine_spark.index.builder import build_index
    from searchengine_spark.query.engine import SearchEngine
    from searchengine_spark.sources.corpus import corpus_from_documents_table

    import __spark_entry__ as entry

    t_all = time.time()
    spark = get_spark(app_name="bench", cores=cpus)
    timings: dict[str, float] = {}

    # ---- phase 1: index build throughput --------------------------------
    idx_dir = f"/tmp/bench_index_{os.getpid()}"
    shutil.rmtree(idx_dir, ignore_errors=True)
    corpus = corpus_from_documents_table(spark, sf_dir)
    n_files = corpus.count()
    t0 = time.time()
    build_index(
        spark,
        corpus,
        idx_dir,
        IndexConfig(n_buckets=8, n_salts=4),
        source="bench",
        force=True,
        store_content=False,
    )
    build_sec = time.time() - t0
    timings["index_build"] = round(build_sec, 3)

    # ---- phase 2: query latency over the built index --------------------
    eng = SearchEngine(spark, idx_dir)
    lat_ms: list[float] = []
    for mode, q in QUERY_SET:
        t0 = time.time()
        eng.search(q, limit=10, mode=mode, with_snippets=False)
        lat_ms.append((time.time() - t0) * 1000.0)
    lat_ms.sort()
    p50 = lat_ms[len(lat_ms) // 2]
    p99 = lat_ms[min(len(lat_ms) - 1, int(len(lat_ms) * 0.99))]
    timings["query_set"] = round(sum(lat_ms) / 1000.0, 3)
    shutil.rmtree(idx_dir, ignore_errors=True)

    # ---- phase 3: headline queries (noop sink = full materialization) ----
    # best-of-3 per query: this host's CPU delivery flaps 1.65-4x minute
    # to minute (SCALE.md §9), so a single sample measures the
    # hypervisor, not the engine; min-of-3 + the recorded spread make
    # round-over-round diffs meaningful (VERDICT r2 #9)
    queries = entry.queries()
    query_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = queries.get(name)
        if fn is None:
            continue
        runs: list[float] = []
        try:
            for _ in range(3):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                runs.append(round(time.time() - t0, 3))
            timings[name] = min(runs)
            query_runs[name] = runs
        except Exception as exc:  # keep the bench line parseable
            timings[name] = -1.0
            print(f"bench: {name} failed: {exc}", file=sys.stderr)

    total = round(time.time() - t_all, 3)
    probe_after = _host_probe()
    ratios = [
        p.get("ratio_2to8", 0.0)
        for p in (probe_before, probe_after)
        if "ratio_2to8" in p
    ]
    rationed = bool(ratios) and min(ratios) < PROBE_CLEAN_RATIO
    if rationed:
        print(
            f"bench: RATIONED WINDOW (probe 2->8 ratios {ratios} < "
            f"{PROBE_CLEAN_RATIO}) — timings measure the hypervisor, "
            "not the engine; re-run in a clean window before comparing",
            file=sys.stderr,
        )
    print(
        json.dumps(
            {
                "metric": "e2e_bench_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "build_files": int(n_files),
                "build_files_per_sec": round(n_files / build_sec, 2),
                "query_p50_ms": round(p50, 1),
                "query_p99_ms": round(p99, 1),
                "query_runs": query_runs,
                "cpus": cpus,
                "host_probe_before": probe_before,
                "host_probe_after": probe_after,
                "rationed_window": rationed,
            }
        )
    )


if __name__ == "__main__":
    main()
