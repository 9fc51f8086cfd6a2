"""Index-build correctness vs the oracle: lemma counts per document,
document frequencies, statistics, sha256 invariant, deterministic doc
ids, checkpoint/resume (SURVEY.md §5.3/5.5/5.7; north_rule)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.builder import assign_doc_ids, build_index
from tests.conftest import CFG, encoded_runs, run_term_totals


def _flat(spark, index_dir):
    """The doc_stats forward index exploded to postings (dl = doclen)."""
    from searchengine_spark.index.builder import doc_postings

    return doc_postings(spark, index_dir, CFG.n_buckets)


def test_doc_ids_are_global_rank(spark, corpus_rows, index_dir, oracle_index):
    """doc_id == rank in (repo, path, commit) order, dense from 0."""
    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    rows = ds.select("doc_id", "repo", "path", "commit").collect()
    got = {(r["repo"], r["path"], r["commit"]): r["doc_id"] for r in rows}
    for i, (repo, path, commit, _, _) in enumerate(oracle_index.docs):
        assert got[(repo, path, commit)] == i


def test_doc_ids_stable_across_partitionings(spark, corpus_rows):
    """Partition count must not change ids (the determinism contract —
    this is what monotonically_increasing_id would break)."""
    docs = spark.createDataFrame(corpus_rows, ["repo", "path", "commit", "lang", "content"])
    a = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in assign_doc_ids(docs, num_partitions=2).select("repo", "path", "doc_id").collect()
    }
    b = {
        (r["repo"], r["path"]): r["doc_id"]
        for r in assign_doc_ids(docs.repartition(7), num_partitions=5)
        .select("repo", "path", "doc_id")
        .collect()
    }
    assert a == b


def test_postings_match_oracle(spark, index_dir, oracle_index):
    """Engine (doc_id, term, tf) == oracle lemma counts per document —
    the north-star 'index-statistics' check."""
    got = {
        (r["doc_id"], r["term"]): r["tf"]
        for r in _flat(spark, index_dir).select("doc_id", "term", "tf").collect()
    }
    want = {
        (doc_id, term): tf
        for doc_id, tfs in oracle_index.doc_tfs.items()
        for term, tf in tfs.items()
    }
    assert got == want


def test_doclen_is_tf_sum(spark, index_dir, oracle_index):
    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    rows = ds.select("doc_id", "doclen", "terms", "tfs").collect()
    got = {r["doc_id"]: r["doclen"] for r in rows}
    assert got == oracle_index.doclen
    # the forward index: terms sorted, one tf per term, Σ tfs == doclen
    for r in rows:
        assert r["terms"] == sorted(r["terms"]), r["doc_id"]
        assert len(r["terms"]) == len(r["tfs"]), r["doc_id"]
        assert sum(r["tfs"]) == r["doclen"], r["doc_id"]


def test_run_term_totals_match_oracle(spark, index_dir, oracle_index):
    """The runs are the term dictionary: Σ df_run / Σ cf_run per term
    are the oracle's df / cf, and meta.n_terms is its vocabulary size."""
    want = {
        t: (len(p), sum(p.values())) for t, p in oracle_index.postings.items()
    }
    assert run_term_totals(spark, index_dir) == want
    meta = json.load(open(os.path.join(index_dir, "meta.json")))
    assert meta["n_terms"] == len(want)


def test_term_repo_stats_match_oracle(spark, index_dir, oracle_index):
    trs = spark.read.parquet(os.path.join(index_dir, "term_repo_stats"))
    got = {(r["term"], r["repo"]): r["df"] for r in trs.collect()}
    assert got == oracle_index.df_repo


def test_sha256_invariant(spark, index_dir, oracle_index):
    """Per-row content sha256 equality vs source (input_hint)."""
    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    got = {r["doc_id"]: r["content_sha256"] for r in ds.collect()}
    for doc_id in range(oracle_index.n_docs):
        assert got[doc_id] == oracle_index.sha256(doc_id)


def test_encoded_postings_match_flat(spark, index_dir):
    """Decoding every run reproduces the doc_stats forward index exactly
    (dl = doclen) — Σ block counts == posting count (SURVEY.md §5.5)."""
    import numpy as np

    from searchengine_spark.index.format import decode_run

    runs = spark.read.parquet(os.path.join(index_dir, "postings")).collect()
    flat = _flat(spark, index_dir).select("term", "doc_id", "tf", "dl").collect()
    want: dict[tuple, tuple] = {}
    for r in flat:
        want[(r["term"], r["doc_id"])] = (r["tf"], r["dl"])
    got: dict[tuple, tuple] = {}
    for run in runs:
        d, t, l = decode_run(run.asDict())
        for doc, tf, dl in zip(d.tolist(), t.tolist(), l.tolist()):
            key = (run["term"], doc)
            assert key not in got, "duplicate posting across runs"
            got[key] = (tf, dl)
            # salt routing invariant
            assert doc % CFG.n_salts == run["salt"]
        assert len(d) == run["df_run"]
    assert got == want


def test_bucket_routing(spark, index_dir):
    from searchengine_spark.functions.xxhash import bucket_of

    runs = spark.read.parquet(os.path.join(index_dir, "postings"))
    for r in runs.select("term", "bucket").collect():
        assert bucket_of(r["term"], CFG.n_buckets) == r["bucket"]


def test_statistics_match_oracle(engine, oracle_index):
    stats = engine.statistics()["statistics"]
    repos = sorted({r[0] for r in oracle_index.docs})
    assert stats["total"]["sites"] == len(repos)
    assert stats["total"]["pages"] == oracle_index.n_docs
    assert stats["total"]["lemmas"] == len(oracle_index.postings)
    per_repo_pages = {
        repo: sum(1 for d in oracle_index.docs if d[0] == repo) for repo in repos
    }
    per_repo_lemmas: dict[str, int] = {}
    for (term, repo), _ in oracle_index.df_repo.items():
        per_repo_lemmas[repo] = per_repo_lemmas.get(repo, 0) + 1
    for item in stats["detailed"]:
        assert item["pages"] == per_repo_pages[item["url"]]
        assert item["lemmas"] == per_repo_lemmas[item["url"]]


def test_statistics_df_matches_dict_form(engine):
    """statistics_df (the 10^8-repo DataFrame form, SCALE.md §8) must
    agree row-for-row with the reference-shaped dict response."""
    detailed = {
        i["url"]: (i["pages"], i["lemmas"])
        for i in engine.statistics()["statistics"]["detailed"]
    }
    got = {
        r["repo"]: (r["pages"], r["lemmas"])
        for r in engine.statistics_df().collect()
    }
    assert got == detailed


def test_statistics_reports_live_build_status(engine):
    """VERDICT r2 #10: ``indexing`` and per-site status come from the
    builder's persisted state machine (reference site.status), not a
    hardcoded flag: INDEXING mid-build -> True, INDEXED after -> False."""
    from searchengine_spark.index.builder import write_build_status

    st = engine.statistics()["statistics"]
    assert st["total"]["indexing"] is False
    assert all(i["status"] == "INDEXED" for i in st["detailed"])
    assert all(i["statusTime"] for i in st["detailed"])
    # simulate the mid-build state build_index writes before stage 1
    write_build_status(engine.index_dir, "INDEXING")
    try:
        st = engine.statistics()["statistics"]
        assert st["total"]["indexing"] is True
        assert all(i["status"] == "INDEXING" for i in st["detailed"])
    finally:
        write_build_status(engine.index_dir, "INDEXED")


def test_failed_build_records_failed_status(spark, tmp_path):
    """A build that dies must leave status=FAILED with last_error (the
    reference's site FAILED + last_error path)."""
    import pytest as _pytest

    from searchengine_spark.index.builder import read_build_status

    bad = spark.createDataFrame([("r", "p")], "repo string, path string")
    out = str(tmp_path / "bad")
    with _pytest.raises(Exception):
        build_index(spark, bad, out, CFG, source="bad")
    st = read_build_status(out)
    assert st["status"] == "FAILED" and st["last_error"]


def test_meta_contents(index_dir, oracle_index):
    meta = json.load(open(os.path.join(index_dir, "meta.json")))
    assert meta["n_docs"] == oracle_index.n_docs
    assert abs(meta["avgdl"] - oracle_index.avgdl) < 1e-9
    assert meta["config"]["n_salts"] == CFG.n_salts


def test_meta_is_v2_with_sum_dl_and_hwm(spark, index_dir, oracle_index):
    """A fresh build writes the v2 format: meta carries sum_dl (= Σ
    doclen over doc_stats) and the max_doc_id high-water mark, and the
    index holds one postings relation — no flat stage1_postings — and
    no global term-stats copy of it."""
    meta = json.load(open(os.path.join(index_dir, "meta.json")))
    assert meta["format"] == "searchengine_spark/v2"
    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    assert meta["sum_dl"] == ds.agg(F.sum("doclen")).collect()[0][0]
    assert meta["sum_dl"] == sum(oracle_index.doclen.values())
    assert meta["max_doc_id"] == oracle_index.n_docs - 1
    assert not os.path.exists(os.path.join(index_dir, "stage1_postings"))
    assert not os.path.exists(os.path.join(index_dir, "term_stats"))


def test_resume_skips_completed_stages(spark, corpus_rows, tmp_path):
    """Second build over same (source, config) must be a no-op resume;
    deleting only the stage2 manifest re-runs only stage2 and produces
    a byte-identical posting store (north_rule resumability)."""
    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(corpus_rows[:30], ["repo", "path", "commit", "lang", "content"])
    m1 = build_index(spark, docs, out, CFG, source="resume-test")
    first_wall = m1["stage1"]["wall_sec"]
    m2 = build_index(spark, docs, out, CFG, source="resume-test")
    # resumed manifests are byte-identical (same dict), not re-timed
    assert m2["stage1"]["wall_sec"] == first_wall
    assert m2["stage2"] == m1["stage2"]

    def postings_files():
        return {f for fs in _parquet_files(out, "postings").values() for f in fs}

    runs_before, files_before = encoded_runs(spark, out), postings_files()
    manifest = os.path.join(out, "_checkpoints", "stage2.json")
    os.remove(manifest)
    m3 = build_index(spark, docs, out, CFG, source="resume-test")
    assert m3["stage1"]["wall_sec"] == first_wall  # stage1 still skipped
    # stage 2 really re-ran: its manifest is back and every postings
    # file is a new one (each write job names its files uniquely)
    assert os.path.exists(manifest)
    files_after = postings_files()
    assert files_after and not files_after & files_before
    assert encoded_runs(spark, out) == runs_before

    def untimed(m):
        return {k: v for k, v in m.items() if k not in ("wall_sec", "steps_sec")}

    assert untimed(m3["stage2"]) == untimed(m1["stage2"])


def test_cancel_midbuild_then_resume(spark, corpus_rows, tmp_path):
    """stopIndexing analog (IndexingServiceImpl.java:157-165): cancel
    the build job group mid-stage-2; the stage-1 checkpoint survives and
    a rerun resumes after it, producing the same index as a clean build
    (the north_rule kill-and-resume story at job granularity)."""
    import threading
    import time as _t

    from searchengine_spark.index.builder import cancel_build

    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(
        corpus_rows, schema=["repo", "path", "commit", "lang", "content"]
    )
    errors: list[Exception] = []

    def run():
        try:
            build_index(spark, docs, out, CFG, source="cancel-test")
        except Exception as exc:  # noqa: BLE001 — cancellation lands here
            errors.append(exc)

    t = threading.Thread(target=run)
    t.start()
    # wait for stage 1 to checkpoint, then cancel while stage 2 runs
    s1 = os.path.join(out, "_checkpoints", "stage1.json")
    deadline = _t.time() + 120
    while not os.path.exists(s1) and _t.time() < deadline:
        _t.sleep(0.05)
    assert os.path.exists(s1), "stage1 checkpoint never appeared"
    _t.sleep(0.3)
    cancel_build(spark)
    t.join(timeout=120)
    assert not t.is_alive()
    if errors:  # cancellation hit stage 2 (the expected, common case)
        assert not os.path.exists(os.path.join(out, "_checkpoints", "stage2.json"))
    # resume: stage1 skipped, stage2 (re)built; result equals clean build
    m = build_index(spark, docs, out, CFG, source="cancel-test")
    assert m["stage1"]["fingerprint"]["source"] == "cancel-test"
    fresh = str(tmp_path / "fresh")
    build_index(spark, docs, fresh, CFG, source="cancel-test")
    assert run_term_totals(spark, out) == run_term_totals(spark, fresh)


def test_config_change_invalidates_checkpoint(spark, corpus_rows, tmp_path):
    from searchengine_spark import IndexConfig

    out = str(tmp_path / "idx2")
    docs = spark.createDataFrame(corpus_rows[:20], ["repo", "path", "commit", "lang", "content"])
    build_index(spark, docs, out, CFG, source="s")
    other = IndexConfig(n_buckets=CFG.n_buckets, n_salts=CFG.n_salts + 1, block_size=CFG.block_size)
    m = build_index(spark, docs, out, other, source="s")
    assert m["stage2"]["fingerprint"]["config"] == other.to_json()
    runs = spark.read.parquet(os.path.join(out, "postings"))
    assert runs.agg(F.max("salt")).collect()[0][0] == other.n_salts - 1


def test_index_invariant_across_shuffle_partition_counts(
    spark, corpus_rows, tmp_path
):
    """The encode shuffle range-partitions on (bucket, term, salt) with
    an explicit partition count taken from spark.sql.shuffle.partitions — the
    index CONTENT (postings runs, term stats, search results) must not
    depend on that knob (the N->4N determinism contract: a 4x cluster
    re-partitions everything, bytes must not change)."""
    from searchengine_spark.query.engine import SearchEngine

    docs = spark.createDataFrame(
        corpus_rows, ["repo", "path", "commit", "lang", "content"]
    )
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    outs = {}
    try:
        for n in ("3", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            out = str(tmp_path / f"idx_sp{n}")
            build_index(spark, docs, out, CFG, source="sp-invariance")
            outs[n] = out
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)

    assert encoded_runs(spark, outs["3"]) == encoded_runs(spark, outs["13"])
    r3 = SearchEngine(spark, outs["3"]).search("index search", limit=5)
    r13 = SearchEngine(spark, outs["13"]).search("index search", limit=5)
    assert r3 == r13


def test_postings_files_are_term_sorted(spark, index_dir):
    """Every postings file must be (term, salt)-sorted: the encoder
    emits its range in (bucket, term, salt) order, and the explicit
    post-encode (bucket, term) sort keeps it.  Tight term row-group
    min/max stats are what J2's query-time row-group pruning relies
    on."""
    import pyarrow.parquet as pq

    runs_root = os.path.join(index_dir, "postings")
    checked = 0
    for root, _dirs, files in os.walk(runs_root):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(root, fn), columns=["term", "salt"])
            keys = list(zip(t["term"].to_pylist(), t["salt"].to_pylist()))
            assert keys == sorted(keys), os.path.join(root, fn)
            checked += 1
    assert checked > 0


def _parquet_files(index_dir, rel):
    """{bucket/partition dirname: [file path]} of one relation."""
    out: dict[str, list[str]] = {}
    for root, _dirs, files in os.walk(os.path.join(index_dir, rel)):
        for fn in files:
            if fn.endswith(".parquet"):
                out.setdefault(os.path.basename(root), []).append(os.path.join(root, fn))
    return out


def _assert_zstd(index_dir):
    import pyarrow.parquet as pq

    for rel in ("postings", "term_repo_stats", "doc_stats"):
        files = [f for fs in _parquet_files(index_dir, rel).values() for f in fs]
        assert files, rel
        for f in files:
            codec = pq.ParquetFile(f).metadata.row_group(0).column(0).compression
            assert codec == "ZSTD", (f, codec)


def test_index_layout_and_codec(spark, index_dir):
    """Every index relation is zstd parquet, and the postings are laid
    out by the (bucket, term, salt) range shuffle: each encoder task
    (``part-NNNNN`` = its range partition) writes into a contiguous run
    of bucket dirs, and neighbouring buckets share at most their
    boundary task (files sorted: the test above).  So the relation holds
    at most n_enc + n_buckets - 1 files, and a bucket holding a share s
    of the postings at most ceil(s * n_enc) + 1: ceil(n_enc /
    n_buckets) + 1 for equal-mass buckets.  A hash shuffle writes
    n_enc files into every bucket dir."""
    import pyarrow.parquet as pq

    from searchengine_spark.index.builder import shuffle_partitions

    _assert_zstd(index_dir)
    n_enc = shuffle_partitions(spark)
    by_bucket = _parquet_files(index_dir, "postings")
    assert sorted(by_bucket) == [f"bucket={b}" for b in range(CFG.n_buckets)]
    assert sum(map(len, by_bucket.values())) <= n_enc + CFG.n_buckets - 1

    postings = {b: 0 for b in by_bucket}
    tasks = {}
    for b, files in by_bucket.items():
        tasks[b] = sorted(int(os.path.basename(f).split("-")[1]) for f in files)
        for f in files:
            postings[b] += sum(pq.read_table(f, columns=["df_run"])["df_run"].to_pylist())
    total = sum(postings.values())
    prev_last = -1
    for b in sorted(by_bucket, key=lambda d: int(d.split("=")[1])):
        ts = tasks[b]
        assert ts == list(range(ts[0], ts[-1] + 1)), (b, ts)  # one range per bucket
        assert ts[0] >= prev_last, (b, ts)  # ranges ascend with the bucket
        prev_last = ts[-1]
        assert len(ts) <= -(-postings[b] * n_enc // total) + 1, (b, ts, postings[b])


def test_maintenance_writes_zstd(spark, corpus_rows, tmp_path):
    """reindex_doc, a tombstone delete_repo + compact, and an eager
    delete_repo all rewrite their relations as zstd."""
    from searchengine_spark.index.maintain import compact, delete_repo, reindex_doc

    by_repo: dict[str, list] = {}
    for r in corpus_rows:
        by_repo.setdefault(r[0], []).append(r)
    repos = sorted(by_repo)[:3]
    rows = [r for repo in repos for r in by_repo[repo][:10]]
    out = str(tmp_path / "live")
    build_index(
        spark, spark.createDataFrame(rows, ["repo", "path", "commit", "lang", "content"]),
        out, CFG, source="codec-test", store_content=True,
    )
    target = rows[3]
    reindex_doc(spark, out, target[0], target[1], "codec probe tokens index search")
    _assert_zstd(out)
    delete_repo(spark, out, repos[1])
    compact(spark, out)
    _assert_zstd(out)
    delete_repo(spark, out, repos[2], mode="eager")
    _assert_zstd(out)
