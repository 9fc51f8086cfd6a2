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

from searchengine_spark.index.builder import build_index
from searchengine_spark.index.maintain import delete_repo, reindex_doc
from searchengine_spark.query.engine import SearchEngine
from tests.conftest import CFG, EXECUTORS, encoded_runs, run_term_totals
from tests.oracle import build_oracle_index, oracle_search


def _build(spark, rows, out):
    docs = spark.createDataFrame(
        rows, schema=["repo", "path", "commit", "lang", "content"]
    )
    build_index(spark, docs, str(out), CFG, source="maintain-test", store_content=True)
    return str(out)


def _postings_by_doc(spark, index_dir):
    """{(repo, path, term): tf} from the decoded runs, keyed portably
    (doc ids map to (repo, path) through doc_stats)."""
    from searchengine_spark.index.format import decode_run

    ds = spark.read.parquet(os.path.join(index_dir, "doc_stats"))
    key = {r["doc_id"]: (r["repo"], r["path"]) for r in ds.select("doc_id", "repo", "path").collect()}
    out = {}
    for run in spark.read.parquet(os.path.join(index_dir, "postings")).collect():
        docs, tfs, _ = decode_run(run.asDict())
        for doc, tf in zip(docs.tolist(), tfs.tolist()):
            out[(*key[doc], run["term"])] = tf
    return out


def _term_repo_stats(spark, index_dir):
    trs = spark.read.parquet(os.path.join(index_dir, "term_repo_stats"))
    return {(r["term"], r["repo"]): r["df"] for r in trs.collect()}


def _forward_index_row(spark, index_dir, repo, path):
    """The doc's doc_stats (terms, tfs) as {term: tf}, terms in order."""
    row = (
        spark.read.parquet(os.path.join(index_dir, "doc_stats"))
        .where((F.col("repo") == repo) & (F.col("path") == path)).collect()[0]
    )
    assert row["terms"] == sorted(row["terms"])
    return dict(zip(row["terms"], row["tfs"]))


def _analyzed(content):
    """{term: tf} of one content string, by the oracle's analyzer."""
    return build_oracle_index([("r", "p", "", "", content)]).doc_tfs[0]


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
    assert run_term_totals(spark, live) == run_term_totals(spark, fresh)
    assert _term_repo_stats(spark, live) == _term_repo_stats(spark, fresh)
    assert encoded_runs(spark, live) == encoded_runs(spark, fresh)
    assert _forward_index_row(spark, live, target[0], target[1]) == _analyzed(target[4])

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


def test_reindex_doc_keeps_n_terms_exact(spark, corpus_rows, tmp_path):
    """A reindex_doc that drops the last posting of the doc's corpus-
    unique terms and adds a term new to the corpus moves meta.n_terms
    by exactly that (-k + 1), to a fresh build's value — and the
    statistics surface reports the same lemma count."""
    import json

    rows = [list(r) for r in corpus_rows[:40]]
    oracle = build_oracle_index(rows)
    # a doc holding the only posting of some terms
    doc_id, unique = next(
        (d, [t for t in tfs if len(oracle.postings[t]) == 1])
        for d, tfs in sorted(oracle.doc_tfs.items())
        if any(len(oracle.postings[t]) == 1 for t in tfs)
    )
    content = "zqxfreshlemma"
    [new_term] = _analyzed(content)
    assert new_term not in oracle.postings
    repo, path = oracle.docs[doc_id][:2]

    live = _build(spark, rows, tmp_path / "live")
    before = json.load(open(os.path.join(live, "meta.json")))["n_terms"]
    assert before == len(oracle.postings)
    reindex_doc(spark, live, repo=repo, path=path, content=content)

    edited = [r[:4] + [content] if tuple(r[:2]) == (repo, path) else r for r in rows]
    fresh = _build(spark, edited, tmp_path / "fresh")
    m_live = json.load(open(os.path.join(live, "meta.json")))
    m_fresh = json.load(open(os.path.join(fresh, "meta.json")))
    assert m_live["n_terms"] == m_fresh["n_terms"] == before - len(unique) + 1
    assert run_term_totals(spark, live) == run_term_totals(spark, fresh)
    lemmas = [
        SearchEngine(spark, d).statistics()["statistics"]["total"]["lemmas"]
        for d in (live, fresh)
    ]
    assert lemmas == [m_fresh["n_terms"]] * 2


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
    assert _forward_index_row(spark, live, "repo-new", "src/new.py") == _analyzed(
        "def brandnewfn(): return uniquemarkertoken"
    )
    # the per-repo df kept by ±1 deltas equals a fresh build's
    fresh = _build(
        spark,
        list(rows) + [("repo-new", "src/new.py", "c1", "py",
                       "def brandnewfn(): return uniquemarkertoken")],
        tmp_path / "fresh",
    )
    assert _term_repo_stats(spark, live) == _term_repo_stats(spark, fresh)


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
    assert run_term_totals(spark, live) == run_term_totals(spark, fresh)

    # per-repo stats agree too (the repo's rows purged, never recomputed)
    assert _term_repo_stats(spark, live) == _term_repo_stats(spark, fresh)

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
    terms = {t for (repo, path, t) in _postings_by_doc(spark, out)
             if (repo, path) == (target[0], target[1])}
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
    assert not [k for k in _postings_by_doc(spark, out) if k[:2] == tuple(target[:2])]
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
    assert run_term_totals(spark, live) == {}
    import json

    meta = json.load(open(os.path.join(live, "meta.json")))
    assert meta["n_docs"] == 0 and meta["n_terms"] == 0


def test_delete_missing_repo_is_noop(spark, corpus_rows, tmp_path):
    live = _build(spark, corpus_rows[:15], tmp_path / "live")
    before = run_term_totals(spark, live)
    rec = delete_repo(spark, live, "no-such-repo")
    assert rec["deleted_docs"] == 0
    assert run_term_totals(spark, live) == before


def _multi_repo_subset(corpus_rows):
    """Small corpus spanning >= 3 repos (the fixture is Zipf-skewed, so
    a plain prefix slice is single-repo)."""
    by_repo: dict[str, list] = {}
    for r in corpus_rows:
        by_repo.setdefault(r[0], []).append(r)
    repos = sorted(by_repo)
    return by_repo[repos[0]][:15] + by_repo[repos[1]][:12] + by_repo[repos[2]][:10]


def _scoped_results(eng, query, repo):
    """Every scoped AND match as {((repo, path), bm25, Σtf)} — keyed by
    identity, since maintenance ids differ from a fresh ranking."""
    df = eng.search_df(query, k=10**6, mode="and", repo=repo)
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
        for on_executor in EXECUTORS:
            with on_executor():
                assert _scoped_results(eng, q, first_repo) == truth, (q, on_executor)
                ids = eng.search_df(q, k=50, repo=first_repo).collect()
                assert all(r["doc_id"] in repo_ids for r in ids)
                assert eng.count_matches(q, repo=first_repo) == len(truth), (
                    q, on_executor,
                )
    # other repos' scoped search is unaffected
    other = repos[1]
    assert _scoped_results(eng, "index search", other) == _oracle_scoped(
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
    assert run_term_totals(spark, live) == run_term_totals(spark, fresh)


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


def test_delete_repo_runs_pass_has_no_exchange(spark, corpus_rows, tmp_path):
    """VERDICT r2 #7: the runs keep-or-reencode pass of a physical purge
    must be narrow — no repartition/Exchange before the partitioned
    rewrite."""
    from searchengine_spark.index.maintain import _kept_runs

    live = _build(spark, corpus_rows[:15], tmp_path / "live")
    df = _kept_runs(spark, live, CFG.block_size, [(0, 4)])
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "MapInPandas" in plan and "Exchange" not in plan


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
    assert run_term_totals(spark, live) == run_term_totals(spark, fresh)


def test_reindex_lookups_are_metadata_cheap(spark, corpus_rows, tmp_path):
    """VERDICT r3 #2: the per-doc lookups reindex_doc runs BEFORE any
    rewrite work are pure driver-side pyarrow reads (no Spark job) —
    `_lookup_doc` resolves (repo, path) via pruned parquet reads and
    the new-doc id comes from meta.json's max_doc_id high-water mark."""
    import inspect
    import json

    from searchengine_spark.index.maintain import _lookup_doc

    rows = corpus_rows[:30]
    live = _build(spark, rows, tmp_path / "live")
    # the helper takes no SparkSession at all — structurally job-free
    assert "spark" not in inspect.signature(_lookup_doc).parameters

    repo, path = rows[3][0], rows[3][1]
    row = _lookup_doc(live, repo, path)
    assert row is not None and row["repo"] == repo and row["path"] == path
    assert "content" not in row  # wide column never read
    assert row["terms"] and "tfs" not in row  # old terms only
    assert _lookup_doc(live, repo, "no/such/path.py") is None

    with open(os.path.join(live, "meta.json")) as f:
        meta = json.load(f)
    n_docs = meta["n_docs"]
    # builder records the dense-rank high-water mark
    assert meta["max_doc_id"] == n_docs - 1

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


def test_maintenance_rejects_v1_index(spark, corpus_rows, tmp_path):
    """A meta.json of any format but v2 (e.g. a v1 index: no sum_dl, no
    forward index in doc_stats) is refused by every maintenance entry
    point before it writes anything."""
    import json

    from searchengine_spark.index.maintain import compact

    rows = corpus_rows[:20]
    live = _build(spark, rows, tmp_path / "live")
    mp = os.path.join(live, "meta.json")
    with open(mp) as f:
        meta = json.load(f)
    meta["format"] = "searchengine_spark/v1"
    for key in ("sum_dl", "max_doc_id"):
        meta.pop(key)
    with open(mp, "w") as f:
        json.dump(meta, f)
    before = _file_snapshot(live, ["postings", "doc_stats", "term_repo_stats"])
    calls = [
        lambda: reindex_doc(spark, live, rows[0][0], "src/v1.py", "v1token"),
        lambda: delete_repo(spark, live, rows[0][0]),
        lambda: compact(spark, live),
    ]
    for call in calls:
        with pytest.raises(ValueError, match="searchengine_spark/v2"):
            call()
    assert _file_snapshot(live, ["postings", "doc_stats", "term_repo_stats"]) == before


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
    # warm every memoized dataset (postings, doc_stats, ...)
    before = eng.search("index", limit=5)
    assert before["result"]

    reindex_doc(
        spark, live, repo=rows[0][0], path="src/fresh.py",
        content="refreshmarkertoken index index",
    )
    # (a) stale-dataset reads recover instead of raising
    again = eng.search("index", limit=5)
    assert again["result"]
    # (b) refresh picks up the new doc + meta
    eng.refresh()
    hits = eng.search("refreshmarkertoken", limit=5)
    assert hits["count"] == 1
    assert eng.n_docs == len(rows) + 1


def test_snippets_on_contentless_index_via_pushdown_fallback(
    spark, corpus_rows, tmp_path
):
    """store_content=False (the production layout): snippet fetch falls
    back to the source corpus through _doc_keys_condition — an OR of
    (repo ∧ path) conjunctions that pushes down on both columns
    (VERDICT r3 #3); a parquet source is read through pyarrow.  The
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
    res = eng.search("index", limit=3, mode="and")
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
    """{relpath: (mtime, size)} of every DATA file (markers and checksum
    sidecars excluded)."""
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


def _result_keys(eng, query, k=50):
    """Matched-doc identity set (repo, path) — BM25-independent, so a
    tombstoned index (stale n_docs/avgdl by design) can be compared
    against a fresh build of the remainder."""
    df = eng.search_df(query, k=k, mode="and")
    ids = [int(r["doc_id"]) for r in df.collect()]
    metas = eng._doc_meta(ids, need_content=False)  # noqa: SLF001
    return {(m["repo"], m["path"]) for m in metas.values()}


def test_delete_repo_tombstone_is_metadata_cheap_and_excludes(
    spark, corpus_rows, tmp_path
):
    """Default-mode delete: the postings are bit-untouched on disk (the
    deletion is a meta.json vector + per-doc/per-repo stats purge), yet
    every query path excludes the repo's docs immediately — Lucene
    deleted-docs semantics."""
    import json

    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    victim = repos[0]
    live = _build(spark, rows, tmp_path / "live")
    heavy = ["postings"]
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
        for on_executor in EXECUTORS:
            with on_executor():
                assert _result_keys(el, q) == truth, (q, on_executor)
                # pre-pagination count (the _match_stats scan) excludes too
                assert el.count_matches(q) == len(truth), (q, on_executor)
    # per-repo statistics no longer see the repo (rows purged at
    # tombstone time); totals' lemma count stays pre-delete by design
    s = el.statistics()["statistics"]
    assert victim not in {d["url"] for d in s["detailed"]}
    assert s["total"]["pages"] == len(remaining)


def test_tombstone_compact_equals_eager_delete(spark, corpus_rows, tmp_path):
    """compact() applies accumulated tombstones with output content-
    identical to eager deletes of the same repos — encoded runs, decoded
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
    fresh = _build(spark, [r for r in rows if r[0] not in repos[:2]], tmp_path / "fresh")

    assert encoded_runs(spark, a) == encoded_runs(spark, b)
    assert _postings_by_doc(spark, a) == _postings_by_doc(spark, b)
    assert run_term_totals(spark, a) == run_term_totals(spark, b)
    assert _term_repo_stats(spark, a) == _term_repo_stats(spark, b)
    ma = json.load(open(os.path.join(a, "meta.json")))
    mb = json.load(open(os.path.join(b, "meta.json")))
    assert "tombstones" not in ma
    assert ma["n_docs"] == mb["n_docs"]
    assert ma["avgdl"] == pytest.approx(mb["avgdl"])
    mf = json.load(open(os.path.join(fresh, "meta.json")))
    assert ma["n_terms"] == mb["n_terms"] == mf["n_terms"]
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
    for on_executor in EXECUTORS:
        with on_executor():
            assert not eng.search_df("tombstonedsoon", k=5).collect(), on_executor
    remaining = [r for r in rows if r[0] != victim]
    fresh = _build(spark, remaining, tmp_path / "fresh")
    ef = SearchEngine(spark, fresh)
    for q in ("index search", "data text", "tombstonedsoon"):
        truth = _result_keys(ef, q)
        # the tombstone's explicit id list masks the top-k and the count
        # on both executors (the distributed one ships it as a broadcast)
        for on_executor in EXECUTORS:
            with on_executor():
                assert _result_keys(eng, q) == truth, (q, on_executor)
                assert eng.count_matches(q) == len(truth), (q, on_executor)


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
    for on_executor in EXECUTORS:
        with on_executor():
            got = eng.search_df("index search", k=50, repo=victim).collect()
        assert [int(r["doc_id"]) for r in got] == [rec["doc_id"]], on_executor


# ---------------------------------------------------------------------------
# O(touched) write-shape assertions (VERDICT r4 #3) + term-sorted
# invariant after maintenance (ADVICE r4)
# ---------------------------------------------------------------------------

def test_reindex_writes_bounded_by_touched_partitions(
    spark, corpus_rows, tmp_path
):
    """The file set rewritten by ONE reindex_doc is bounded by the
    affected term buckets (encoded runs, term_repo_stats — both
    partition-dir swaps) and one doc_stats partition — never a
    full-relation rewrite, independent of corpus size."""
    rows = corpus_rows[:40]
    live = _build(spark, rows, tmp_path / "live")
    rels = ["postings", "term_repo_stats", "doc_stats"]
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
    for f in sorted(changed):
        rel, _, rest = f.partition(os.sep)
        sub = rest.split(os.sep, 1)[0] if rest else ""
        if rel in ("postings", "term_repo_stats"):
            assert sub in allowed_buckets, f"unexpected rewrite outside touched buckets: {f}"
        elif rel == "doc_stats":
            assert sub == f"ds_part={rec['doc_id'] % CFG.doc_stats_parts}", f
        else:
            raise AssertionError(f"unexpected relation touched: {f}")


def _assert_term_sorted_files(index_dir, rel):
    import pyarrow.parquet as pq

    checked = 0
    base = os.path.join(index_dir, rel)
    for root, _dirs, files in os.walk(base):
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
    in the rewritten runs buckets (the fresh-build-only fixture test
    cannot catch a drift here)."""
    rows = corpus_rows[:40]
    live = _build(spark, rows, tmp_path / "live")
    target = rows[11]
    reindex_doc(
        spark, live, target[0], target[1],
        target[4] + "\nsortinvariant probe tokens",
    )
    _assert_term_sorted_files(live, "postings")


# ---------------------------------------------------------------------------
# maintenance hygiene: corpus scalars under tombstones, builder-shaped
# stats writes
# ---------------------------------------------------------------------------

def test_reindex_after_tombstone_keeps_pre_delete_n_docs(spark, corpus_rows, tmp_path):
    """Tombstoned docs keep counting in the corpus scalars until
    compact(), so the first reindex_doc of a new doc after a tombstone
    moves n_docs from its pre-delete value by exactly 1 (and sum_dl by
    the new doc's length) — it must not recount doc_stats, which no
    longer holds the tombstoned docs.  The new id clears the tombstone."""
    import json

    rows = _multi_repo_subset(corpus_rows)
    repos = sorted({r[0] for r in rows})
    live = _build(spark, rows, tmp_path / "live")
    mp = os.path.join(live, "meta.json")
    with open(mp) as f:
        before = json.load(f)
    delete_repo(spark, live, repos[-1])  # rank order: the top id block
    rec = reindex_doc(
        spark, live, repo=repos[0], path="src/after_tombstone.py",
        content="posttombstonemarker alpha",
    )
    with open(mp) as f:
        after = json.load(f)
    assert rec["new_doc"] and rec["doc_id"] == before["max_doc_id"] + 1
    assert after["n_docs"] == before["n_docs"] + 1
    assert after["sum_dl"] == before["sum_dl"] + sum(
        _analyzed("posttombstonemarker alpha").values()
    )
    eng = SearchEngine(spark, live)
    assert eng.search("posttombstonemarker", limit=5)["count"] == 1


def test_reindex_stats_writes_keep_builder_file_count(spark, corpus_rows, tmp_path):
    """The runs and stats relations a reindex_doc rewrites keep the
    builder's file shape: no touched bucket dir ends up with more files
    than the build wrote there."""
    live = _build(spark, corpus_rows[:40], tmp_path / "live")

    def n_files(rel, b):
        d = os.path.join(live, rel, f"bucket={b}")
        return sum(f.endswith(".parquet") for f in os.listdir(d))

    rels = ("postings", "term_repo_stats")
    built = {(r, b): n_files(r, b) for r in rels for b in range(CFG.n_buckets)}
    target = corpus_rows[7]
    rec = reindex_doc(spark, live, target[0], target[1], "slice count probe tokens")
    assert rec["buckets_rewritten"]
    for rel in rels:
        for b in rec["buckets_rewritten"]:
            assert n_files(rel, b) <= built[(rel, b)], (rel, b)
