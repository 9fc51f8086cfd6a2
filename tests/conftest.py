"""Shared fixtures: one SparkSession, one tiny corpus, one built index.

The index build is session-scoped (it is the expensive part); tests
treat it read-only.
"""

from __future__ import annotations

import itertools
import os
import sys
from contextlib import contextmanager, nullcontext
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from searchengine_spark import IndexConfig, get_spark
from searchengine_spark.index.builder import build_index
from searchengine_spark.query.engine import SearchEngine
from searchengine_spark.sources.corpus import generate_corpus_rows
from tests.oracle import build_oracle_index

CFG = IndexConfig(n_buckets=4, n_salts=2, block_size=32)


_groups = itertools.count()


def with_jobs(spark, fn, *args, **kwargs):
    """``(fn(*args, **kwargs), Spark jobs it launched)``: the call runs
    under its own job group, whose job ids the status tracker lists."""
    sc = spark.sparkContext
    group = f"counted-call-{next(_groups)}"
    sc.setJobGroup(group, "counted call")
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def disjoint_rare_terms(oracle_index) -> str:
    """Two df-1 terms in different docs: each is in the dictionary, so
    the AND query reaches the top-k kernel, which finds no doc."""
    rare = sorted(
        (t, next(iter(p))) for t, p in oracle_index.postings.items()
        if len(p) == 1 and t.startswith("sym")
    )
    a, doc_a = rare[0]
    b = next(t for t, doc in rare if doc != doc_a)
    return f"{a} {b}"


def run_term_totals(spark, index_dir) -> dict:
    """{term: (df, cf)} of an index: its runs' ``df_run`` and ``cf_run``
    summed per term, by Spark (independent of the engine's reads)."""
    from pyspark.sql import functions as F

    runs = spark.read.parquet(os.path.join(index_dir, "postings"))
    totals = runs.groupBy("term").agg(
        F.sum("df_run").alias("df"), F.sum("cf_run").alias("cf")
    )
    return {r["term"]: (r["df"], r["cf"]) for r in totals.collect()}


def encoded_runs(spark, index_dir) -> dict:
    """{(term, salt): (df_run, cf_run, doc_bytes, tf_bytes, dl_bytes)}
    of an index's runs: equal dicts mean byte-identical postings."""
    runs = spark.read.parquet(os.path.join(index_dir, "postings")).collect()
    return {
        (r["term"], r["salt"]): (
            r["df_run"], r["cf_run"],
            bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), bytes(r["dl_bytes"]),
        )
        for r in runs
    }


@contextmanager
def distributed():
    """Run the block with every query's top-k and count on the
    distributed executor: a ``LOCAL_MAX_DF`` of -1 is below any summed
    df, so no query's runs are read on the driver."""
    import searchengine_spark.query.engine as engine_mod

    cap = engine_mod.LOCAL_MAX_DF
    engine_mod.LOCAL_MAX_DF = -1
    try:
        yield
    finally:
        engine_mod.LOCAL_MAX_DF = cap


#: the block a query runs in, once per executor: the driver under the
#: default cap, then distributed
EXECUTORS = (nullcontext, distributed)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="searchengine-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus_rows():
    return generate_corpus_rows(n_repos=4, files_per_repo=25, seed=42)


@pytest.fixture(scope="session")
def oracle_index(corpus_rows):
    return build_oracle_index(corpus_rows)


@pytest.fixture(scope="session")
def index_dir(spark, corpus_rows, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index"))
    docs = spark.createDataFrame(
        corpus_rows, schema=["repo", "path", "commit", "lang", "content"]
    )
    build_index(spark, docs, out, CFG, source="fixture", store_content=True)
    return out


@pytest.fixture(scope="session")
def engine(spark, index_dir):
    return SearchEngine(spark, index_dir)
