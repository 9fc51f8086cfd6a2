"""Structured Streaming surface tests (streaming/incremental.py).

Streams are driven with ``availableNow`` triggers over parquet
directories — deterministic, no wall-clock dependence.  Stream results
are compared against the equivalent batch plan (exactness, not
smoke-only).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from searchengine_spark.sources.corpus import generate_corpus
from searchengine_spark.streaming.incremental import (
    stage_corpus_stream,
    stream_corpus,
)
from tests.conftest import run_term_totals


def _await(query, timeout=120):
    query.awaitTermination(timeout)
    if query.isActive:
        query.stop()
        raise AssertionError("streaming query did not finish in time")


class TestCorpusIngest:
    def test_stage_then_batch_build_sees_all_docs(self, spark, tmp_path):
        src = str(tmp_path / "src")
        staging = str(tmp_path / "staging")
        ckpt = str(tmp_path / "ckpt")
        docs = generate_corpus(spark, n_repos=2, files_per_repo=10)
        docs.write.mode("overwrite").parquet(src)

        q = stage_corpus_stream(stream_corpus(spark, src), staging, ckpt)
        _await(q)
        staged = spark.read.parquet(staging)
        assert staged.count() == docs.count()
        assert sorted(staged.columns) == sorted(docs.columns)

        # second batch of files: restart picks up only the new ones,
        # dedup drops re-sent docs (frontier semantics)
        more = generate_corpus(spark, n_repos=3, files_per_repo=10)
        more.write.mode("append").parquet(src)
        q = stage_corpus_stream(stream_corpus(spark, src), staging, ckpt)
        _await(q)
        staged2 = spark.read.parquet(staging)
        expect = docs.unionByName(more).dropDuplicates(["repo", "path", "commit"])
        assert staged2.dropDuplicates(["repo", "path", "commit"]).count() == expect.count()

    def test_staged_updates_apply_via_single_doc_reindex(self, spark, tmp_path):
        """Stream -> staging -> S9 per-doc apply: the live index ends
        with the same per-term (df, cf) over its runs as a fresh build
        over the updated corpus (streaming + maintenance integration)."""
        from searchengine_spark import IndexConfig
        from searchengine_spark.index.builder import build_index
        from searchengine_spark.streaming.incremental import apply_staged_updates

        cfg = IndexConfig(n_buckets=4, n_salts=2, block_size=32)
        docs = generate_corpus(spark, n_repos=2, files_per_repo=8)
        live = str(tmp_path / "live")
        build_index(spark, docs, live, cfg, source="stream-live", store_content=True)

        # stage two updates: one edit of an existing doc, one new doc
        base = docs.limit(1).collect()[0]
        updates = spark.createDataFrame(
            [
                (base["repo"], base["path"], base["commit"], base["lang"],
                 base["content"] + " streamed edit marker"),
                ("repo-new", "x/streamed.py", "c1", "py",
                 "def streamedfn(): return streamedmarker"),
            ],
            ["repo", "path", "commit", "lang", "content"],
        )
        src = str(tmp_path / "delta_src")
        staging = str(tmp_path / "delta_staging")
        ckpt = str(tmp_path / "delta_ckpt")
        updates.write.parquet(src)
        q = stage_corpus_stream(stream_corpus(spark, src), staging, ckpt)
        _await(q)

        out = apply_staged_updates(spark, live, staging)
        assert out["applied"] == 2

        ts = run_term_totals(spark, live)
        # fresh build over the updated corpus, compared by (repo, path)
        merged = docs.where(
            ~((F.col("repo") == base["repo"]) & (F.col("path") == base["path"]))
        ).unionByName(updates)
        fresh = str(tmp_path / "fresh")
        build_index(spark, merged, fresh, cfg, source="stream-fresh", store_content=True)
        assert ts == run_term_totals(spark, fresh)

        # bulk loads must refuse the per-doc path
        with pytest.raises(ValueError):
            apply_staged_updates(spark, live, staging, full_rebuild_threshold=1)

    def test_exactly_once_on_rerun(self, spark, tmp_path):
        src = str(tmp_path / "src")
        staging = str(tmp_path / "staging")
        ckpt = str(tmp_path / "ckpt")
        generate_corpus(spark, 2, 5).write.mode("overwrite").parquet(src)
        for _ in range(2):  # second run must be a no-op (checkpoint)
            q = stage_corpus_stream(stream_corpus(spark, src), staging, ckpt)
            _await(q)
        assert spark.read.parquet(staging).count() == \
            spark.read.parquet(src).count()
