"""sparksearch benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload {search_api,search_topk} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  The run generates a seeded corpus of
~2000 source files (16 repos, 30-220 tokens each; FIXTURES.md §1),
starts Spark at ``local[<usable cores>]``, builds the index, drives the
workload as one closed-loop client for ``--seconds``, checks every
answer against ``tests/oracle.py`` and prints, as the last line of
standard output, one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans written to ``perfbench/out/``).  The same seed
gives the same corpus and queries.  Everything else the run writes stays
under ``perfbench/work/`` and is removed at exit.  Workloads, metrics
and bounds are listed in ``BENCHMARK.json``; the workloads are described
in ``workloads.py`` and the query mixes and oracle gate in ``gate.py``.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import json
import os
import shutil
import signal
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "perfbench")

#: Spark JVM heap; the program's default is sized for a large host,
#: and a run of this size needs far less
JVM_HEAP = "2g"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["search_api", "search_topk"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def isolate_environment(work: str) -> None:
    """Point every scratch location at ``work`` and let Spark's Python
    workers import the package from the repository root."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_spark(work: str, setup_s: dict):
    """The Spark session of the run; its start time goes to
    ``setup_s["session"]``."""
    from searchengine_spark import get_spark

    t0 = time.perf_counter()

    cores = len(os.sched_getaffinity(0))
    # a JVM that is steady within the set-up of one short run:
    # - a fixed set of JIT compiler threads, which ServingCpu lists once;
    # - C1 only: the JIT settles during set-up, where C2 would still be
    #   recompiling hot code while the loop is measured;
    # - a code cache that the C1 code of build and queries fits in;
    # - the serial collector: no concurrent GC threads whose work
    #   lands on a cycle by chance
    java_opts = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
        "-XX:-UseDynamicNumberOfCompilerThreads -XX:TieredStopAtLevel=1 "
        "-XX:ReservedCodeCacheSize=256m -XX:+UseSerialGC"
    )
    spark = get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    setup_s["session"] = time.perf_counter() - t0
    return spark


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the gateway JVM, and wait until every
    process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.tracing import process_tree

    started = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout_s
        time.sleep(0.1)


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import searchengine_spark  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program is missing: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, "work", f"{args.workload}-{os.getpid()}")
    isolate_environment(work)

    from perfbench.tracing import JobCounter, RssSampler, ServingCpu, Tracer
    from perfbench.workloads import WORKLOADS, Run, per_layer

    tracer = Tracer(enabled=bool(args.trace))
    run = Run(work, args.seed, args.seconds, tracer)
    spark = None
    rss = RssSampler()
    try:
        if args.trace:
            rss.start()
        # the Spark JVM starts while this thread generates the corpus
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            session = pool.submit(start_spark, work, run.setup_s)
            try:
                run.make_corpus()
            finally:
                spark = session.result()
        run.jobs = JobCounter(spark.sparkContext)
        run.serving = ServingCpu(spark.sparkContext._gateway.proc.pid)
        WORKLOADS[args.workload](run, spark)
        print(run.summary(), file=sys.stderr, flush=True)
        metrics = per_layer(run, rss.stop()) if args.trace else run.end_to_end()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: run took {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    if args.trace:
        tracer.write(os.path.join(
            BENCH_DIR, "out", f"spans-{args.workload}-seed{args.seed}.jsonl"
        ))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
