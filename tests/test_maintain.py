"""S8 delete_repo / S9 reindex_doc correctness vs from-scratch builds
(reference ``PageProcessorService`` semantics; VERDICT r1 items 4-5).

The pure-edit re-index compares BYTE-FOR-BYTE against a fresh build
(same doc set -> identical rank ids -> identical encoded runs); the
delete compares by (repo, path) identity because maintenance keeps ids
stable with gaps while a fresh build re-ranks densely (module
docstring of index/maintain.py).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from searchengine_spark.index.builder import build_index, read_flat_postings
from searchengine_spark.index.maintain import delete_repo, reindex_doc
from searchengine_spark.query.engine import SearchEngine
from tests.conftest import CFG
from tests.oracle import build_oracle_index, oracle_search


def _build(spark, rows, out):
    docs = spark.createDataFrame(
        rows, schema=["repo", "path", "commit", "lang", "content"]
    )
    build_index(spark, docs, str(out), CFG, source="maintain-test", store_content=True)
    return str(out)


def _postings_by_doc(spark, index_dir):
    """{(repo, doc_key_path-free doc_id, term): tf} keyed portably."""
    flat = read_flat_postings(spark, index_dir).select("doc_id", "term", "tf")
    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats")).select(
        "doc_id", "repo", "path"
    )
    joined = flat.join(ds, "doc_id").select("repo", "path", "term", "tf")
    return {(r["repo"], r["path"], r["term"]): r["tf"] for r in joined.collect()}


def _term_stats(spark, index_dir):
    ts = spark.read.parquet(os.path.join(index_dir, "term_stats"))
    return {r["term"]: (r["df"], r["cf"]) for r in ts.collect()}


def _encoded_runs(spark, index_dir):
    """{(term, salt): (df_run, doc_bytes, tf_bytes, dl_bytes)}"""
    runs = spark.read.parquet(os.path.join(index_dir, "postings")).collect()
    return {
        (r["term"], r["salt"]): (
            r["df_run"], bytes(r["doc_bytes"]), bytes(r["tf_bytes"]), bytes(r["dl_bytes"])
        )
        for r in runs
    }


def test_reindex_doc_edit_matches_fresh_build_byte_for_byte(
    spark, corpus_rows, tmp_path
):
    rows = [list(r) for r in corpus_rows[:40]]
    live = _build(spark, rows, tmp_path / "live")

    # edit one mid-corpus doc's content; identity (repo, path, commit)
    # unchanged so the fresh build assigns identical rank ids
    edited = [list(r) for r in rows]
    target = edited[17]
    target[4] = target[4] + "\nsearchable reindex marker tokens appended here"
    rec = reindex_doc(
        spark, live, repo=target[0], path=target[1], content=target[4]
    )
    assert not rec["new_doc"]
    assert rec["buckets_rewritten"]  # at least one bucket touched
    assert len(rec["buckets_rewritten"]) <= CFG.n_buckets

    fresh = _build(spark, edited, tmp_path / "fresh")
    assert _postings_by_doc(spark, live) == _postings_by_doc(spark, fresh)
    assert _term_stats(spark, live) == _term_stats(spark, fresh)
    assert _encoded_runs(spark, live) == _encoded_runs(spark, fresh)

    import json

    m_live = json.load(open(os.path.join(live, "meta.json")))
    m_fresh = json.load(open(os.path.join(fresh, "meta.json")))
    assert m_live["n_docs"] == m_fresh["n_docs"]
    assert m_live["avgdl"] == pytest.approx(m_fresh["avgdl"])
    assert m_live["n_terms"] == m_fresh["n_terms"]

    # the edited doc is searchable through the normal engine
    eng = SearchEngine(spark, live)
    hits = eng.search("reindex marker", limit=5)
    assert hits["count"] == 1 and hits["data"][0]["uri"] == target[1]


def test_reindex_doc_adds_new_document(spark, corpus_rows, tmp_path):
    rows = corpus_rows[:30]
    live = _build(spark, rows, tmp_path / "live")
    max_id = (
        spark.read.parquet(os.path.join(live, "doc_stats"))
        .agg(F.max("doc_id"))
        .collect()[0][0]
    )
    rec = reindex_doc(
        spark, live, repo="repo-new", path="src/new.py",
        content="def brandnewfn(): return uniquemarkertoken",
        commit="c1", lang="py",
    )
    assert rec["new_doc"] and rec["doc_id"] == max_id + 1
    eng = SearchEngine(spark, live)
    hits = eng.search("uniquemarkertoken", limit=5)
    assert hits["count"] == 1 and hits["data"][0]["site"] == "repo-new"
    # doclen/sha bookkeeping present for the new row
    row = (
        spark.read.parquet(os.path.join(live, "doc_stats"))
        .where(F.col("doc_id") == rec["doc_id"]).collect()[0]
    )
    assert row["doclen"] > 0 and len(row["content_sha256"]) == 64


def test_delete_repo_matches_fresh_build_by_identity(spark, corpus_rows, tmp_path):
    rows = corpus_rows  # full fixture: spans several repos
    assert len({r[0] for r in rows}) >= 3
    live = _build(spark, rows, tmp_path / "live")
    victim = rows[0][0]
    rec = delete_repo(spark, live, victim, mode="eager")
    assert rec["deleted_docs"] == sum(1 for r in rows if r[0] == victim) > 0

    remaining = [r for r in rows if r[0] != victim]
    fresh = _build(spark, remaining, tmp_path / "fresh")

    assert _postings_by_doc(spark, live) == _postings_by_doc(spark, fresh)
    assert _term_stats(spark, live) == _term_stats(spark, fresh)

    # per-repo stats agree too (term_repo_stats rewrite)
    trs_live = {
        (r["term"], r["repo"]): r["df"]
        for r in spark.read.parquet(os.path.join(live, "term_repo_stats")).collect()
    }
    trs_fresh = {
        (r["term"], r["repo"]): r["df"]
        for r in spark.read.parquet(os.path.join(fresh, "term_repo_stats")).collect()
    }
    assert trs_live == trs_fresh

    s_live = SearchEngine(spark, live).statistics()["statistics"]["total"]
    s_fresh = SearchEngine(spark, fresh).statistics()["statistics"]["total"]
    assert s_live == s_fresh

    # decoded run contents match modulo the id gap: same per-doc
    # postings through the engine read path
    el, ef = SearchEngine(spark, live), SearchEngine(spark, fresh)
    for q in ("index search", "data", "engine text"):
        rl = [(d["site"], d["uri"], round(d["bm25"], 4)) for d in el.search(q, limit=5)["data"]]
        # BM25 depends on N/avgdl which now agree (meta refreshed)
        rf = [(d["site"], d["uri"], round(d["bm25"], 4)) for d in ef.search(q, limit=5)["data"]]
        assert rl == rf


def test_reindex_doc_without_stored_content(spark, corpus_rows, tmp_path):
    """reindex_doc must work on an index built with
    store_content=False (the production configuration)."""
    rows = corpus_rows[:20]
    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(rows, schema=["repo", "path", "commit", "lang", "content"])
    build_index(spark, docs, out, CFG, source="nc", store_content=False)
    target = rows[3]
    rec = reindex_doc(spark, out, target[0], target[1], "replacement nocontent marker")
    assert not rec["new_doc"]
    ds = spark.read.parquet(os.path.join(out, "doc_stats"))
    assert "content" not in ds.columns
    row = ds.where(F.col("doc_id") == rec["doc_id"]).collect()[0]
    assert row["doclen"] == 3
    # postings reflect the new content
    flat = read_flat_postings(spark, out)
    terms = {r["term"] for r in flat.where(F.col("doc_id") == rec["doc_id"]).collect()}
    assert terms == {"replacement", "nocontent", "marker"}


def test_reindex_doc_to_empty_content(spark, corpus_rows, tmp_path):
    """Re-indexing a doc to empty content removes all its postings but
    keeps the doc row (doclen 0) — the reference's empty-page case."""
    rows = corpus_rows[:15]
    out = str(tmp_path / "idx")
    docs = spark.createDataFrame(rows, schema=["repo", "path", "commit", "lang", "content"])
    build_index(spark, docs, out, CFG, source="ec", store_content=True)
    target = rows[2]
    rec = reindex_doc(spark, out, target[0], target[1], "")
    flat = read_flat_postings(spark, out)
    assert flat.where(F.col("doc_id") == rec["doc_id"]).count() == 0
    ds = spark.read.parquet(os.path.join(out, "doc_stats"))
    row = ds.where(F.col("doc_id") == rec["doc_id"]).collect()[0]
    assert row["doclen"] == 0
    # engine still opens and searches fine
    eng = SearchEngine(spark, out)
    assert eng.statistics()["statistics"]["total"]["pages"] == len(rows)


def test_delete_last_repo_empties_index(spark, corpus_rows, tmp_path):
    """Deleting the only repo must leave a consistent empty index
    (post-mutation reads use explicit schemas — no inference on
    file-less dirs)."""
    rows = [r for r in corpus_rows if r[0] == corpus_rows[0][0]][:10]
    live = _build(spark, rows, tmp_path / "live")
    rec = delete_repo(spark, live, rows[0][0], mode="eager")
    assert rec["deleted_docs"] == len(rows)
    assert _term_stats(spark, live) == {}
    import json

    meta = json.load(open(os.path.join(live, "meta.json")))
    assert meta["n_docs"] == 0 and meta["n_terms"] == 0


def test_delete_missing_repo_is_noop(spark, corpus_rows, tmp_path):
    live = _build(spark, corpus_rows[:15], tmp_path / "live")
    before = _term_stats(spark, live)
    rec = delete_repo(spark, live, "no-such-repo")
    assert rec["deleted_docs"] == 0
    assert _term_stats(spark, live) == before


def _multi_repo_subset(corpus_rows):
    """Small corpus spanning >= 3 repos (the fixture is Zipf-skewed, so
    a plain prefix slice is single-repo)."""
    by_repo: dict[str, list] = {}
    for r in corpus_rows:
        by_repo.setdefault(r[0], []).append(r)
    repos = sorted(by_repo)
    return by_repo[repos[0]][:15] + by_repo[repos[1]][:12] + by_repo[repos[2]][:10]


def _scoped_results(eng, query, repo, engine):
    """Every scoped AND match as {((repo, path), bm25, Σtf)} — keyed by
    identity, since maintenance ids differ from a fresh ranking."""
    df = eng.search_df(query, k=10**6, mode="and", engine=engine, repo=repo)
    rows = df.collect()
    metas = eng._doc_meta([int(r["doc_id"]) for r in rows], need_content=False)  # noqa: SLF001
    return {
        ((metas[r["doc_id"]]["repo"], metas[r["doc_id"]]["path"]),
         round(float(r["bm25"]), 6), int(r["tf_sum"]))
        for r in rows
    }


def _oracle_scoped(oracle, query, repo):
    """:func:`_scoped_results` computed by the oracle."""
    return {
        (oracle.docs[d][:2], round(bm, 6), tf)
        for d, bm, tf in oracle_search(
            oracle, query, k=10**6, mode="and",
            k1=CFG.bm25_k1, b=CFG.bm25_b, repo=repo,
        )
    }


def test_new_doc_in_existing_repo_keeps_scoped_search_correct(
    spark, corpus_rows, tmp_path
):
    """ADVICE r2 (high): a brand-new path in an EXISTING repo gets
    doc_id = global max+1, breaking that repo's contiguous id block.
    Scoped search must then filter by exact id membership — never score
    other repos' docs whose ids fall inside the widened [lo, hi]."""
    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    assert len(repos) >= 2
    first_repo = repos[0]  # widened range would swallow later repos
    live = _build(spark, rows, tmp_path / "live")
    added = (first_repo, "src/added/new_doc.py", "", "",
             "def addedmarker(): return search index engine data text")
    rec = reindex_doc(spark, live, repo=added[0], path=added[1], content=added[4])
    assert rec["new_doc"]
    oracle = build_oracle_index([tuple(r) for r in rows] + [added])

    eng = SearchEngine(spark, live)
    n, _, lo, hi = eng.repo_scope(first_repo)
    assert hi - lo + 1 != n  # contiguity really is broken
    repo_ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(live, "doc_stats"))
        .where(F.col("repo") == first_repo).select("doc_id").collect()
    }
    for q in ("index search", "data text"):
        truth = _oracle_scoped(oracle, q, first_repo)
        assert any(key == added[:2] for key, _, _ in truth), q
        for engine_kind in ("local", "wand"):
            assert _scoped_results(eng, q, first_repo, engine_kind) == truth, (
                q, engine_kind,
            )
            ids = eng.search_df(q, k=50, engine=engine_kind, repo=first_repo).collect()
            assert all(r["doc_id"] in repo_ids for r in ids)
        for count_engine in ("local", "spark"):
            assert eng.count_matches(
                q, repo=first_repo, engine=count_engine
            ) == len(truth), (q, count_engine)
    # other repos' scoped search is unaffected
    other = repos[1]
    assert _scoped_results(eng, "index search", other, "local") == _oracle_scoped(
        oracle, "index search", other
    )


def test_delete_repo_noncontiguous_matches_fresh_build(
    spark, corpus_rows, tmp_path
):
    """delete_repo on a repo whose ids are no longer contiguous must
    delete exactly that repo's docs (membership rewrite, not the
    widened range) — verified against a fresh build of the remainder."""
    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    first_repo = repos[0]
    live = _build(spark, rows, tmp_path / "live")
    reindex_doc(
        spark, live, repo=first_repo, path="src/added/extra.py",
        content="def extrafn(): return deletedsoon tokens here",
    )
    rec = delete_repo(spark, live, first_repo, mode="eager")
    assert rec["contiguous"] is False
    assert rec["deleted_docs"] == sum(1 for r in rows if r[0] == first_repo) + 1

    remaining = [r for r in rows if r[0] != first_repo]
    fresh = _build(spark, remaining, tmp_path / "fresh")
    assert _postings_by_doc(spark, live) == _postings_by_doc(spark, fresh)
    assert _term_stats(spark, live) == _term_stats(spark, fresh)


def test_reindex_doc_rewrites_single_doc_stats_partition(
    spark, corpus_rows, tmp_path
):
    """VERDICT r2 #3: the S9 doc_stats upsert is partition-scoped —
    only the pmod(doc_id, P) hive partition's files change; every other
    partition's files are bit-identical and untouched on disk."""
    rows = corpus_rows[:20]
    live = _build(spark, rows, tmp_path / "live")
    ds_path = os.path.join(live, "doc_stats")

    def snap():
        out = {}
        for root, _dirs, files in os.walk(ds_path):
            for fn in files:
                p = os.path.join(root, fn)
                out[os.path.relpath(p, ds_path)] = (
                    os.path.getmtime(p), os.path.getsize(p)
                )
        return out

    before = snap()
    target = rows[5]
    rec = reindex_doc(
        spark, live, target[0], target[1],
        "partitioned metadata rewrite marker tokens",
    )
    after = snap()
    changed = {
        f for f in set(before) | set(after) if before.get(f) != after.get(f)
    }
    changed_dirs = {f.split("/", 1)[0] for f in changed if "/" in f}
    assert changed_dirs == {f"ds_part={rec['doc_id'] % CFG.doc_stats_parts}"}
    # the upsert is visible through the normal read path
    ds = spark.read.parquet(ds_path)
    row = ds.where(F.col("doc_id") == rec["doc_id"]).collect()[0]
    assert row["doclen"] == 5


def test_delete_repo_flat_pass_has_no_exchange(spark, corpus_rows, tmp_path):
    """VERDICT r2 #7: the flat-postings survivor pass must be narrow —
    no repartition/Exchange before the partitioned rewrite."""
    from searchengine_spark.index.maintain import flat_survivors

    live = _build(spark, corpus_rows[:15], tmp_path / "live")
    df = flat_survivors(
        spark, os.path.join(live, "stage1_postings"), corpus_rows[0][0]
    )
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "Exchange" not in plan


def test_mutation_invalidates_resume_checkpoints(spark, corpus_rows, tmp_path):
    rows = corpus_rows[:15]
    live = _build(spark, rows, tmp_path / "live")
    reindex_doc(spark, live, rows[0][0], rows[0][1], "changed content tokens")
    assert not os.path.exists(os.path.join(live, "_checkpoints", "stage1.json"))
    assert os.path.exists(os.path.join(live, "_checkpoints", "mutations.jsonl"))
    # a rebuild over the original source must NOT resume-skip (the
    # mutated index differs from what the manifests described)
    docs = spark.createDataFrame(rows, schema=["repo", "path", "commit", "lang", "content"])
    build_index(spark, docs, live, CFG, source="maintain-test", store_content=True)
    fresh = _build(spark, rows, tmp_path / "fresh")
    assert _term_stats(spark, live) == _term_stats(spark, fresh)


def test_reindex_lookups_are_metadata_cheap(spark, corpus_rows, tmp_path):
    """VERDICT r3 #2: the per-doc lookups reindex_doc runs BEFORE any
    rewrite work are pure driver-side pyarrow reads (no Spark job) —
    `_lookup_doc` resolves (repo, path) via pruned parquet reads and
    the new-doc id comes from meta.json's max_doc_id high-water mark
    (with a footer-statistics fallback for pre-hwm indexes)."""
    import inspect
    import json

    from searchengine_spark.index.maintain import (
        _lookup_doc,
        _max_doc_id_from_footers,
    )

    rows = corpus_rows[:30]
    live = _build(spark, rows, tmp_path / "live")
    # the helpers take no SparkSession at all — structurally job-free
    assert "spark" not in inspect.signature(_lookup_doc).parameters
    assert "spark" not in inspect.signature(_max_doc_id_from_footers).parameters

    repo, path = rows[3][0], rows[3][1]
    row = _lookup_doc(live, repo, path)
    assert row is not None and row["repo"] == repo and row["path"] == path
    assert "content" not in row  # wide column never read
    assert _lookup_doc(live, repo, "no/such/path.py") is None

    with open(os.path.join(live, "meta.json")) as f:
        meta = json.load(f)
    n_docs = meta["n_docs"]
    # builder records the dense-rank high-water mark...
    assert meta["max_doc_id"] == n_docs - 1
    # ...which equals the footer-statistics fallback
    assert _max_doc_id_from_footers(live) == n_docs - 1

    # a new doc advances the hwm without scanning doc_stats
    rec = reindex_doc(
        spark, live, repo=repo, path="src/added.py", content="hwmtoken alpha",
    )
    assert rec["new_doc"] and rec["doc_id"] == n_docs
    with open(os.path.join(live, "meta.json")) as f:
        meta2 = json.load(f)
    assert meta2["max_doc_id"] == n_docs

    # hwm survives a delete (ids are never reused — reference
    # autoincrement semantics)
    delete_repo(spark, live, repo)
    with open(os.path.join(live, "meta.json")) as f:
        meta3 = json.load(f)
    assert meta3["max_doc_id"] == n_docs


def test_reindex_on_pre_hwm_meta_uses_footer_fallback(spark, corpus_rows, tmp_path):
    """An index whose meta.json predates max_doc_id still assigns
    max+1 to a new doc — via parquet footer statistics, not a scan."""
    import json

    rows = corpus_rows[:20]
    live = _build(spark, rows, tmp_path / "live")
    mp = os.path.join(live, "meta.json")
    with open(mp) as f:
        meta = json.load(f)
    n_docs = meta["n_docs"]
    meta.pop("max_doc_id")
    with open(mp, "w") as f:
        json.dump(meta, f)
    rec = reindex_doc(
        spark, live, repo=rows[0][0], path="src/fallback.py",
        content="fallbacktoken beta",
    )
    assert rec["new_doc"] and rec["doc_id"] == n_docs


def test_live_engine_survives_mutation_via_retry_and_refresh(
    spark, corpus_rows, tmp_path
):
    """ADVICE r3: a live SearchEngine's memoized pyarrow datasets point
    at files that maintenance swaps away via rename.  The engine must
    (a) not crash on the swapped dirs — _read_table retries once on
    FileNotFoundError — and (b) after refresh(), serve results that
    reflect the mutation (fresh meta scalars + caches)."""
    rows = corpus_rows[:30]
    live = _build(spark, rows, tmp_path / "live")
    eng = SearchEngine(spark, live)
    # warm every memoized dataset (term_stats, postings, doc_stats, ...)
    before = eng.search("index", limit=5, engine="local")
    assert before["result"]

    reindex_doc(
        spark, live, repo=rows[0][0], path="src/fresh.py",
        content="refreshmarkertoken index index",
    )
    # (a) stale-dataset reads recover instead of raising
    again = eng.search("index", limit=5, engine="local")
    assert again["result"]
    # (b) refresh picks up the new doc + meta
    eng.refresh()
    hits = eng.search("refreshmarkertoken", limit=5, engine="local")
    assert hits["count"] == 1
    assert eng.n_docs == len(rows) + 1


def test_snippets_on_contentless_index_via_pushdown_fallback(
    spark, corpus_rows, tmp_path
):
    """store_content=False (the production layout): snippet fetch falls
    back to the source corpus through _doc_keys_condition — an OR of
    (repo ∧ path) conjunctions that pushes down on both columns
    (VERDICT r3 #3; plan-asserted in tools/capture_plans.py).  The
    response must still carry highlighted snippets."""
    rows = corpus_rows[:30]
    src = str(tmp_path / "corpus_src")
    docs = spark.createDataFrame(
        rows, schema=["repo", "path", "commit", "lang", "content"]
    )
    docs.write.parquet(src)
    out = str(tmp_path / "nc_idx")
    build_index(spark, docs, out, CFG, source=src, store_content=False)
    eng = SearchEngine(spark, out)
    res = eng.search("index", limit=3, mode="and", engine="local")
    assert res["data"], "expected hits"
    for d in res["data"]:
        assert d["snippet"].startswith("...") and "<b>" in d["snippet"], d


# ---------------------------------------------------------------------------
# tombstoned delete + compact (VERDICT r4 #4): the default delete_repo
# records a deletion vector in meta.json — O(repo stats), postings
# untouched — queries exclude the docs immediately, and compact()
# applies the vector physically with output identical to an eager
# delete
# ---------------------------------------------------------------------------

def _file_snapshot(index_dir, rels):
    """{relpath: (mtime, size)} of every DATA file (markers/checksum
    sidecars excluded — the sentinel upsert legitimately drops a stale
    .crc)."""
    out = {}
    for rel in rels:
        base = os.path.join(index_dir, rel)
        for root, _dirs, files in os.walk(base):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                out[os.path.relpath(p, index_dir)] = (
                    os.path.getmtime(p), os.path.getsize(p)
                )
    return out


def _result_keys(eng, query, k=50, engine="local"):
    """Matched-doc identity set (repo, path) — BM25-independent, so a
    tombstoned index (stale n_docs/avgdl by design) can be compared
    against a fresh build of the remainder."""
    df = eng.search_df(query, k=k, mode="and", engine=engine)
    ids = [int(r["doc_id"]) for r in df.collect()]
    metas = eng._doc_meta(ids, need_content=False)  # noqa: SLF001
    return {(m["repo"], m["path"]) for m in metas.values()}


def test_delete_repo_tombstone_is_metadata_cheap_and_excludes(
    spark, corpus_rows, tmp_path
):
    """Default-mode delete: the postings relations and term_stats are
    bit-untouched on disk (the deletion is a meta.json vector + per-doc/
    per-repo stats purge), yet every query path excludes the repo's
    docs immediately — Lucene deleted-docs semantics."""
    import json

    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    victim = repos[0]
    live = _build(spark, rows, tmp_path / "live")
    heavy = ["stage1_postings", "postings", "term_stats"]
    before = _file_snapshot(live, heavy)
    rec = delete_repo(spark, live, victim)
    assert rec["mode"] == "tombstone"
    assert rec["deleted_docs"] == sum(1 for r in rows if r[0] == victim) > 0
    assert _file_snapshot(live, heavy) == before

    meta = json.load(open(os.path.join(live, "meta.json")))
    assert len(meta["tombstones"]) == 1
    t = meta["tombstones"][0]
    assert t["repo"] == victim and t["n"] == rec["deleted_docs"]

    remaining = [r for r in rows if r[0] != victim]
    fresh = _build(spark, remaining, tmp_path / "fresh")
    el, ef = SearchEngine(spark, live), SearchEngine(spark, fresh)
    for q in ("index search", "data", "engine text"):
        truth = _result_keys(ef, q)
        for engine_kind in ("local", "wand"):
            assert _result_keys(el, q, engine=engine_kind) == truth, (
                q, engine_kind,
            )
        # pre-pagination count (the _match_stats scan) excludes too
        for count_engine in ("local", "spark"):
            assert el.count_matches(q, engine=count_engine) == len(truth), (
                q, count_engine,
            )
    # per-repo statistics no longer see the repo (rows purged at
    # tombstone time); totals' lemma count stays pre-delete by design
    s = el.statistics()["statistics"]
    assert victim not in {d["url"] for d in s["detailed"]}
    assert s["total"]["pages"] == len(remaining)


def test_tombstone_compact_equals_eager_delete(spark, corpus_rows, tmp_path):
    """compact() applies accumulated tombstones with output content-
    identical to eager deletes of the same repos — encoded runs, flat
    postings, both stats relations, and the refreshed meta scalars."""
    import json

    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    a = _build(spark, rows, tmp_path / "a")
    b = _build(spark, rows, tmp_path / "b")

    from searchengine_spark.index.maintain import compact

    delete_repo(spark, a, repos[0])  # tombstone (default)
    delete_repo(spark, a, repos[1])  # second vector accumulates
    rec = compact(spark, a)
    assert rec["tombstones_applied"] == 2

    delete_repo(spark, b, repos[0], mode="eager")
    delete_repo(spark, b, repos[1], mode="eager")

    assert _encoded_runs(spark, a) == _encoded_runs(spark, b)
    assert _postings_by_doc(spark, a) == _postings_by_doc(spark, b)
    assert _term_stats(spark, a) == _term_stats(spark, b)
    ma = json.load(open(os.path.join(a, "meta.json")))
    mb = json.load(open(os.path.join(b, "meta.json")))
    assert "tombstones" not in ma
    assert ma["n_docs"] == mb["n_docs"]
    assert ma["avgdl"] == pytest.approx(mb["avgdl"])
    assert ma["n_terms"] == mb["n_terms"]
    # compact on a vector-free index is a no-op
    assert compact(spark, a)["tombstones_applied"] == 0


def test_tombstone_noncontiguous_repo_excluded_exactly(
    spark, corpus_rows, tmp_path
):
    """Tombstoning a repo whose ids are NOT contiguous (maintenance
    added a doc after the build) records the exact id list and every
    engine excludes exactly those docs — never a neighbor repo's ids
    inside the widened [lo, hi]."""
    import json

    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    victim = repos[0]
    live = _build(spark, rows, tmp_path / "live")
    reindex_doc(
        spark, live, repo=victim, path="src/added/extra.py",
        content="def extrafn(): return tombstonedsoon tokens here",
    )
    rec = delete_repo(spark, live, victim)
    assert rec["mode"] == "tombstone" and rec["contiguous"] is False
    meta = json.load(open(os.path.join(live, "meta.json")))
    assert meta["tombstones"][0]["ids"], "exact id list expected"

    eng = SearchEngine(spark, live)
    for engine_kind in ("local", "wand"):
        assert not eng.search_df(
            "tombstonedsoon", k=5, engine=engine_kind
        ).collect(), engine_kind
    remaining = [r for r in rows if r[0] != victim]
    fresh = _build(spark, remaining, tmp_path / "fresh")
    ef = SearchEngine(spark, fresh)
    for q in ("index search", "data text", "tombstonedsoon"):
        truth = _result_keys(ef, q)
        for engine_kind in ("local", "wand"):
            assert _result_keys(eng, q, engine=engine_kind) == truth
        # the tombstone's explicit id list masks the count on both
        # executors (the distributed one ships it as a broadcast)
        for count_engine in ("local", "spark"):
            assert eng.count_matches(q, engine=count_engine) == len(truth), (
                q, count_engine,
            )


def test_tombstone_then_readd_same_repo_name(spark, corpus_rows, tmp_path):
    """Doc ids are never reused, so re-adding a repo after tombstoning
    it must keep the OLD docs deleted while the NEW doc (id above the
    tombstone's high bound) is fully searchable — the id-bounded keep
    condition, not a bare repo != R filter."""
    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    victim = repos[0]
    live = _build(spark, rows, tmp_path / "live")
    delete_repo(spark, live, victim)
    rec = reindex_doc(
        spark, live, repo=victim, path="src/back.py",
        content="resurrectmarker index search data",
    )
    assert rec["new_doc"]
    eng = SearchEngine(spark, live)
    hits = eng.search("resurrectmarker", limit=5)
    assert hits["count"] == 1 and hits["data"][0]["site"] == victim
    # repo-scoped search sees ONLY the new doc
    for engine_kind in ("local", "wand"):
        got = eng.search_df(
            "index search", k=50, engine=engine_kind, repo=victim
        ).collect()
        assert [int(r["doc_id"]) for r in got] == [rec["doc_id"]], engine_kind


# ---------------------------------------------------------------------------
# O(touched) write-shape assertions (VERDICT r4 #3) + term-sorted
# invariant after maintenance (ADVICE r4)
# ---------------------------------------------------------------------------

def test_reindex_writes_bounded_by_touched_partitions(
    spark, corpus_rows, tmp_path
):
    """The file set rewritten by ONE reindex_doc is bounded by the
    affected term buckets (flat postings, encoded runs, term_stats,
    term_repo_stats — all partition-dir swaps), the sentinel upsert
    (<= 1 rewritten file + 1 appended), and one doc_stats partition —
    never a full-relation rewrite, independent of corpus size."""
    from searchengine_spark.index.builder import DOC_ROW_BUCKET

    rows = corpus_rows[:40]
    live = _build(spark, rows, tmp_path / "live")
    rels = [
        "stage1_postings", "postings", "term_stats",
        "term_repo_stats", "doc_stats",
    ]
    before = _file_snapshot(live, rels)
    target = rows[7]
    rec = reindex_doc(
        spark, live, target[0], target[1], "bounded rewrite probe tokens"
    )
    after = _file_snapshot(live, rels)
    changed = {
        f for f in set(before) | set(after) if before.get(f) != after.get(f)
    }
    assert changed, "reindex must write something"
    allowed_buckets = {f"bucket={b}" for b in rec["buckets_rewritten"]}
    sentinel = f"bucket={DOC_ROW_BUCKET}"
    for f in sorted(changed):
        rel, _, rest = f.partition(os.sep)
        sub = rest.split(os.sep, 1)[0] if rest else ""
        if rel in ("stage1_postings", "postings", "term_stats", "term_repo_stats"):
            ok = sub in allowed_buckets or (
                rel == "stage1_postings" and sub == sentinel
            )
            assert ok, f"unexpected rewrite outside touched buckets: {f}"
        elif rel == "doc_stats":
            assert sub == f"ds_part={rec['doc_id'] % CFG.doc_stats_parts}", f
        else:
            raise AssertionError(f"unexpected relation touched: {f}")
    sent_changed = [
        f for f in changed if f.startswith(f"stage1_postings{os.sep}{sentinel}")
    ]
    assert len(sent_changed) <= 2  # one rewritten holder + one appended


def _assert_term_sorted_files(index_dir, rel):
    import pyarrow.parquet as pq

    from searchengine_spark.index.builder import DOC_ROW_BUCKET

    checked = 0
    base = os.path.join(index_dir, rel)
    for root, _dirs, files in os.walk(base):
        if f"bucket={DOC_ROW_BUCKET}" in root:
            continue  # doclen sentinels (term="") live outside the invariant
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            terms = pq.read_table(
                os.path.join(root, fn), columns=["term"]
            )["term"].to_pylist()
            assert terms == sorted(terms), os.path.join(root, fn)
            checked += 1
    assert checked > 0


def test_postings_stay_term_sorted_after_reindex(spark, corpus_rows, tmp_path):
    """ADVICE r4 (medium): maintenance must preserve the term-sorted-
    file invariant that J2/_match_stats row-group pruning relies on —
    in the rewritten flat buckets AND the re-encoded runs (the fresh-
    build-only fixture test cannot catch a drift here)."""
    rows = corpus_rows[:40]
    live = _build(spark, rows, tmp_path / "live")
    target = rows[11]
    reindex_doc(
        spark, live, target[0], target[1],
        target[4] + "\nsortinvariant probe tokens",
    )
    _assert_term_sorted_files(live, "postings")
    _assert_term_sorted_files(live, "stage1_postings")


# ---------------------------------------------------------------------------
# maintenance hygiene: id high-water mark, crash-safe sentinel rewrite,
# builder-shaped stats writes
# ---------------------------------------------------------------------------

def test_pre_hwm_fallback_never_reuses_tombstoned_ids(spark, corpus_rows, tmp_path):
    """On an index whose meta.json lacks max_doc_id, a new doc's id must
    clear every tombstone too: tombstone-mode delete_repo purges the
    repo's doc_stats rows, so the footer statistics alone would hand
    out an id inside the deleted range, and the new doc would be masked
    on every query path."""
    import json

    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    live = _build(spark, rows, tmp_path / "live")
    delete_repo(spark, live, repos[-1])  # rank order: the top id block
    mp = os.path.join(live, "meta.json")
    with open(mp) as f:
        meta = json.load(f)
    hi = meta["tombstones"][0]["hi"]
    assert hi == len(rows) - 1
    meta.pop("max_doc_id")
    with open(mp, "w") as f:
        json.dump(meta, f)

    rec = reindex_doc(
        spark, live, repo=repos[0], path="src/after_tombstone.py",
        content="posttombstonemarker alpha",
    )
    assert rec["new_doc"] and rec["doc_id"] > hi
    eng = SearchEngine(spark, live)
    assert eng.search("posttombstonemarker", limit=5)["count"] == 1


def test_sentinel_upsert_crash_keeps_visible_rows(
    spark, corpus_rows, tmp_path, monkeypatch
):
    """A crash between writing the rewritten sentinel holder and
    swapping it in must leave readers the old rows only: the temp file
    has a name both Spark and pyarrow dataset discovery skip."""
    import pyarrow.dataset as pads

    from searchengine_spark.index.builder import DOC_ROW_BUCKET
    from searchengine_spark.index.maintain import _upsert_sentinel

    live = _build(spark, corpus_rows[:15], tmp_path / "live")
    sdir = os.path.join(live, "stage1_postings", f"bucket={DOC_ROW_BUCKET}")

    def visible():
        rows = pads.dataset(sdir, format="parquet").to_table().to_pylist()
        return sorted(rows, key=lambda r: r["doc_id"])

    before = visible()

    def crash(*_a, **_kw):
        raise OSError("crash before the swap")

    monkeypatch.setattr(os, "replace", crash)
    with pytest.raises(OSError):
        _upsert_sentinel(live, 3, 99, corpus_rows[0][0])
    monkeypatch.undo()
    assert visible() == before
    assert spark.read.parquet(sdir).count() == len(before)


def test_reindex_stats_writes_keep_builder_file_count(spark, corpus_rows, tmp_path):
    """The stats relations a reindex_doc rewrites are sliced like the
    builder's: no touched bucket dir ends up with more files than the
    build wrote there."""
    live = _build(spark, corpus_rows[:40], tmp_path / "live")

    def n_files(rel, b):
        d = os.path.join(live, rel, f"bucket={b}")
        return sum(f.endswith(".parquet") for f in os.listdir(d))

    rels = ("term_stats", "term_repo_stats")
    built = {(r, b): n_files(r, b) for r in rels for b in range(CFG.n_buckets)}
    target = corpus_rows[7]
    rec = reindex_doc(spark, live, target[0], target[1], "slice count probe tokens")
    assert rec["buckets_rewritten"]
    for rel in rels:
        for b in rec["buckets_rewritten"]:
            assert n_files(rel, b) <= built[(rel, b)], (rel, b)
