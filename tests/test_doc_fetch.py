"""The page fetch of ``search()`` on a ``store_content=False`` index.

Snippet content comes from ``meta["source"]``: a parquet path is read
driver-side through pyarrow (no Spark job), a catalog table through
Spark.  Checked here: the fetched content equals the source rows on a
flat and a ``partitionBy("repo")`` Spark-written source, snippets equal
a ``store_content=True`` build's, a rewritten source keeps serving,
source-not-found cases give empty snippets while other fetch errors
raise, and an empty top-k collects without a Spark job.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pytest
from pyspark.errors import AnalysisException

from searchengine_spark.index.builder import build_index
from searchengine_spark.query.engine import SearchEngine
from tests.conftest import CFG, disjoint_rare_terms, with_jobs

COLUMNS = ["repo", "path", "commit", "lang", "content"]
QUERIES = [
    "index",
    "search engine",
    "def return",
    "getManager",
    "build merge split",
    "commonterm index",
]

def _write_source(spark, rows, path: str, layout: str) -> None:
    """The corpus rows as a Spark-written multi-file parquet dir:
    ``flat`` or hive-partitioned by repo."""
    writer = spark.createDataFrame(rows, schema=COLUMNS).repartition(3).write
    if layout == "partitioned":
        writer = writer.partitionBy("repo")
    writer.mode("overwrite").parquet(path)


def _part_files(path: str) -> list[str]:
    return [
        fn for _root, _dirs, files in os.walk(path) for fn in files
        if fn.endswith(".parquet")
    ]


@pytest.fixture(scope="module", params=["flat", "partitioned"])
def sourced(request, spark, corpus_rows, tmp_path_factory):
    """(layout, source dir, store_content=False engine) over the shared
    fixture corpus, so doc ids match the session ``engine``'s."""
    base = tmp_path_factory.mktemp(f"fetch_{request.param}")
    src = str(base / "corpus")
    _write_source(spark, corpus_rows, src, request.param)
    assert len(_part_files(src)) > 1
    out = str(base / "idx")
    docs = spark.createDataFrame(corpus_rows, schema=COLUMNS)
    build_index(spark, docs, out, CFG, source=src, store_content=False)
    return request.param, src, SearchEngine(spark, out)


def test_doc_meta_content_equals_source_rows(spark, corpus_rows, sourced):
    _, _, eng = sourced
    metas, jobs = with_jobs(spark, eng._doc_meta, list(range(eng.n_docs)))  # noqa: SLF001
    assert jobs == 0
    assert len(metas) == len(corpus_rows)
    got = {(m["repo"], m["path"]): m["content"] for m in metas.values()}
    assert got == {(r[0], r[1]): r[4] for r in corpus_rows}


def test_snippets_equal_stored_content_build(spark, engine, sourced):
    """The whole response — ids, scores, relevance and snippets — equals
    the store_content=True build's, and launches no Spark job."""
    _, _, eng = sourced
    snippets = 0
    for q in QUERIES:
        got, jobs = with_jobs(spark, eng.search, q, limit=10)
        assert jobs == 0, q
        assert got == engine.search(q, limit=10), q
        snippets += sum(1 for d in got["data"] if "<b>" in d["snippet"])
    assert snippets > 0


def test_rewritten_source_keeps_serving_snippets(spark, corpus_rows, sourced):
    """A rewrite replaces the source's part files under the memoized
    dataset: the stale read retries once, and refresh() re-lists."""
    layout, src, eng = sourced
    before = eng.search("index search", limit=5)
    assert any(d["snippet"] for d in before["data"])
    old = set(_part_files(src))
    _write_source(spark, corpus_rows, src, layout)
    assert not old & set(_part_files(src))
    assert eng.search("index search", limit=5) == before
    eng.refresh()
    assert eng.search("index search", limit=5) == before


# ---------------------------------------------------------------------------
# source-not-found vs other fetch errors
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def contentless_index(spark, corpus_rows, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fetch_errors") / "idx")
    docs = spark.createDataFrame(corpus_rows[:30], schema=COLUMNS)
    build_index(spark, docs, out, CFG, source="fixture", store_content=False)
    return out


def _engine_with_source(spark, index_dir, source, tmp_path) -> SearchEngine:
    """A SearchEngine over a copy of ``index_dir`` whose meta.json names
    ``source``."""
    out = str(tmp_path / "idx")
    shutil.copytree(index_dir, out)
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    meta["source"] = source
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(meta, f)
    return SearchEngine(spark, out)


def _snippets(eng) -> list[str]:
    res = eng.search("index", limit=5)
    assert res["result"] and res["data"]
    return [d["snippet"] for d in res["data"]]


@pytest.mark.parametrize(
    "label", ["fixture", "nodb.corpus", "scaling-100", "sp-invariance"]
)
def test_label_source_gives_empty_snippets(spark, contentless_index, tmp_path, label):
    """A label that names no catalog table (missing table, or not a
    table name at all) keeps the results and empties the snippets."""
    eng = _engine_with_source(spark, contentless_index, label, tmp_path)
    assert set(_snippets(eng)) == {""}


def test_missing_source_path_gives_empty_snippets(spark, contentless_index, tmp_path):
    gone = str(tmp_path / "deleted_corpus")
    eng = _engine_with_source(spark, contentless_index, gone, tmp_path)
    assert set(_snippets(eng)) == {""}


def test_catalog_table_source_is_fetched_through_spark(
    spark, corpus_rows, contentless_index, tmp_path
):
    spark.createDataFrame(corpus_rows, schema=COLUMNS).createOrReplaceTempView(
        "doc_fetch_corpus"
    )
    try:
        eng = _engine_with_source(spark, contentless_index, "doc_fetch_corpus", tmp_path)
        snippets, jobs = with_jobs(spark, _snippets, eng)
        assert jobs >= 1
        assert all(s.startswith("...") and "<b>" in s for s in snippets)
    finally:
        spark.catalog.dropTempView("doc_fetch_corpus")


def test_path_source_without_content_column_raises(
    spark, corpus_rows, contentless_index, tmp_path
):
    src = str(tmp_path / "no_content")
    spark.createDataFrame(corpus_rows, schema=COLUMNS).drop("content").write.parquet(src)
    eng = _engine_with_source(spark, contentless_index, src, tmp_path)
    with pytest.raises(pa.ArrowInvalid):
        _snippets(eng)


def test_table_source_without_content_column_raises(
    spark, corpus_rows, contentless_index, tmp_path
):
    spark.createDataFrame(corpus_rows, schema=COLUMNS).drop(
        "content"
    ).createOrReplaceTempView("doc_fetch_no_content")
    try:
        eng = _engine_with_source(spark, contentless_index, "doc_fetch_no_content", tmp_path)
        with pytest.raises(AnalysisException):
            _snippets(eng)
    finally:
        spark.catalog.dropTempView("doc_fetch_no_content")


# ---------------------------------------------------------------------------
# empty top-k
# ---------------------------------------------------------------------------

def test_empty_topk_collects_without_spark_job(spark, engine, oracle_index):
    disjoint = disjoint_rare_terms(oracle_index)
    plan = engine.plan(disjoint)[0]
    assert len(plan.ordered) == 2 and not plan.empty
    for q in ("ghostterm9999", disjoint):
        df = engine.search_df(q, k=10, mode="and")
        rows, jobs = with_jobs(spark, df.collect)
        assert rows == [] and jobs == 0, q
        assert df.columns == ["doc_id", "bm25", "tf_sum"]
    res, jobs = with_jobs(spark, engine.search, disjoint)
    assert res == {"result": True, "count": 0, "data": []} and jobs == 0
