"""Query engine — the read path (reference ``GET /api/search``,
``controllers/ApiController.java:51-54`` ->
``services/SearchServiceImpl.java``).

Every query reads one representation, the encoded posting runs under
``postings/`` (partition pruning on bucket + parquet pushdown on term),
and runs one of two per-salt kernels over them: :func:`_score_salt`
(block-max top-k) and :func:`_count_salt` (pre-pagination total and
max Σtf).  A salt group covers the doc subspace ``doc_id ≡ salt (mod
S)`` for every term, so groups are processed independently and merged
at the end.  Doc visibility is one rule for both kernels: the repo
scope (doc-id range or id array) and the tombstone ``ExcludeSet`` are
applied by ``TermRuns`` as runs are decoded.

Two executors run the kernels, with identical results (tests assert
this).  The query decides which, never the caller: :func:`_runs_on_driver`
compares the query terms' summed global df with :data:`LOCAL_MAX_DF`,
and the top-k and the count of a request follow the same answer.

- At or under the cap — a driver loop over a pruned pyarrow read
  (:meth:`SearchEngine._local_salts`), per-salt top-k columns merged by
  one ``np.lexsort``.  ``search_df`` returns them as a
  :class:`DriverTopK`, whose ``collect`` and ``columns`` make no JVM
  call: no Spark job and no Spark frame, the p50-latency path for
  interactive queries (SURVEY.md §7.2 "Latency").
- Above it — ``groupBy("salt").applyInPandas`` over the same pruned
  scan (:meth:`SearchEngine._spark_salts`), per-salt results merged by
  a final tiny sort or sum; ``search_df`` returns that Spark plan.  The
  scale path: a head term's runs never land on the driver.

The rest of a request is driver-side too: the term dictionary (the
query terms' ``df_run``/``cf_run`` in ``postings/``, no blob column),
repo scopes and the page's doc rows are pruned pyarrow reads of the
index, and on a ``store_content=False`` index the snippet content is
fetched from a parquet ``meta["source"]`` the same way.  So a ``search()``
under the cap runs no Spark job, unless its source is a catalog
(Iceberg) table name.

Semantics (``mode``):

- ``"and"``  — reference parity: conjunctive intersection, Σtf absolute
  relevance + max-normalized relative relevance
  (SearchServiceImpl.java:116-161), BM25 also reported.
- ``"or"``   — disjunctive BM25 top-k (block-max WAND).
"""

from __future__ import annotations

import json
import os
from functools import partial

import numpy as np
import pandas as pd

from pyspark.errors import AnalysisException, ParseException
from pyspark.sql import DataFrame, Row, SparkSession, functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from searchengine_spark.config import IndexConfig
from searchengine_spark.functions.xxhash import bucket_of
from searchengine_spark.index.format import TERM_TOTALS_COLUMNS, term_filter, term_totals
from searchengine_spark.index.maintain import tombstone_exclude
from searchengine_spark.operators.wand import ExcludeSet, TermRuns, score_salt_group
from searchengine_spark.plans.planner import (
    PlannedQuery,
    analyze_query,
    bm25_idf,
    plan_query,
)
from searchengine_spark.query.snippets import build_snippet
from searchengine_spark.sources.corpus import is_path_source, load_corpus

RESULT_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("bm25", DoubleType()),
    StructField("tf_sum", LongType()),
])
COUNT_SCHEMA = "total long, max_tf long"
#: one collected top-k row, shaped like a row of the Spark result frame
_ResultRow = Row(*RESULT_SCHEMA.fieldNames())

#: the largest summed global df of a query's terms whose runs are read
#: and decoded on the driver; above it the top-k and the count run
#: distributed (a head term at 10^12-doc scale must never be pulled
#: onto the driver)
LOCAL_MAX_DF = 5_000_000


class DriverTopK:
    """A top-k computed on the driver: the ``RESULT_SCHEMA`` columns as
    numpy arrays, already merged across salts and ordered (bm25 desc,
    doc_id asc).

    ``columns`` and :meth:`collect` answer from the arrays with no JVM
    call — wrapping k rows into a Spark frame only to collect them back
    into the process that computed them costs more than the whole
    driver top-k.  Any other DataFrame attribute builds the Spark frame
    once (an Arrow local relation, no Spark job) and delegates to it,
    so callers keep the whole DataFrame surface."""

    def __init__(self, spark: SparkSession, doc_id, bm25, tf_sum):
        self._spark = spark
        self._cols = (doc_id, bm25, tf_sum)
        self._df: DataFrame | None = None

    @property
    def columns(self) -> list[str]:
        return RESULT_SCHEMA.fieldNames()

    def collect(self) -> list[Row]:
        """The rows as ``Row(doc_id, bm25, tf_sum)`` of Python ints and
        floats, as a Spark frame's ``collect`` gives them."""
        return [_ResultRow(*r) for r in zip(*(c.tolist() for c in self._cols))]

    def _frame(self) -> DataFrame:
        if self._df is None:
            import pyarrow as pa

            self._df = self._spark.createDataFrame(
                pa.table(dict(zip(self.columns, self._cols))), RESULT_SCHEMA
            )
        return self._df

    def __getattr__(self, name):
        # reached only for names the instance lacks: its own fields
        # before __init__ ran (copy, unpickle) and dunder probes must not
        # build a frame, or recurse into _frame()
        if name in ("_spark", "_cols", "_df") or name.startswith("__"):
            raise AttributeError(name)
        return getattr(self._frame(), name)

    def __getitem__(self, item):
        return self._frame()[item]


def _merge_topk(spark: SparkSession, outs: list[dict], k: int) -> DriverTopK:
    """The top ``k`` of the per-salt top-k columns ``outs``: bm25 desc,
    then doc_id asc (a doc id lives in one salt, so no tie is left)."""
    doc_id, bm25, tf_sum = (
        np.concatenate([o[c] for o in outs] or [np.empty(0, t)])
        for c, t in (("doc_id", np.int64), ("bm25", np.float64), ("tf_sum", np.int64))
    )
    top = np.lexsort((doc_id, -bm25))[:k]
    return DriverTopK(spark, doc_id[top], bm25[top], tf_sum[top])


def _runs_on_driver(plan: PlannedQuery, stats: dict) -> bool:
    """Whether a query's per-salt kernels run on the driver: its terms'
    summed global df (``stats`` of :meth:`SearchEngine.plan`, so a
    repo-scoped query is judged by the runs it reads) is within
    :data:`LOCAL_MAX_DF`."""
    return sum(stats[t][0] for t, _, _ in plan.ordered if t in stats) <= LOCAL_MAX_DF


def _runs_by_salt(columns: dict) -> dict[int, dict[str, list[dict]]]:
    """Run rows grouped by salt, then term.  ``columns``: column name ->
    array (a pandas or Arrow batch); rows are zipped straight from the
    arrays — ``DataFrame.to_dict`` costs more than the decode."""
    names = list(columns)
    groups: dict[int, dict[str, list[dict]]] = {}
    for values in zip(*columns.values()):
        row = dict(zip(names, values))
        groups.setdefault(row["salt"], {}).setdefault(row["term"], []).append(row)
    return groups


def _score_salt(
    term_rows, doc_range, exclude, *, idfs, k, mode_and, k1, b, avgdl
) -> dict:
    """Top-k ``RESULT_SCHEMA`` columns of one salt group.  An AND query
    lacking a term in this salt matches nothing here."""
    if mode_and and len(term_rows) < len(idfs):
        term_rows = {}
    docs, bm, tf = score_salt_group(
        term_rows, idfs, k, mode_and, k1, b, avgdl,
        doc_range=doc_range, exclude=exclude,
    )
    return {"doc_id": docs.astype(np.int64), "bm25": bm, "tf_sum": tf}


def _count_salt(term_rows, doc_range, exclude, *, n_terms, mode_and) -> dict:
    """One ``COUNT_SCHEMA`` row of one salt group: every term's runs
    decoded through TermRuns, then one ``np.unique`` over the doc ids —
    AND keeps the docs seen once per query term."""
    total = max_tf = 0
    if term_rows and not (mode_and and len(term_rows) < n_terms):
        decoded = [
            TermRuns(rows, 0.0, 0.0, 0.0, 1.0, doc_range, exclude).decode_all()
            for rows in term_rows.values()
        ]
        _, inv, hits = np.unique(
            np.concatenate([d for d, _, _ in decoded]),
            return_inverse=True,
            return_counts=True,
        )
        tf_sum = np.bincount(inv, weights=np.concatenate([t for _, t, _ in decoded]))
        if mode_and:
            tf_sum = tf_sum[hits == n_terms]
        if tf_sum.size:
            total, max_tf = int(tf_sum.size), int(tf_sum.max())
    return {"total": [total], "max_tf": [max_tf]}


class SearchEngine:
    def __init__(self, spark: SparkSession, index_dir: str):
        self.spark = spark
        self.index_dir = index_dir
        with open(os.path.join(index_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.cfg = IndexConfig(**self.meta["config"])
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"]) or 1.0
        self._runs_path = os.path.join(index_dir, "postings")
        #: deletion vector from meta.json tombstones (delete_repo in
        #: tombstone mode) — every scoring path filters through it
        #: until compact() clears it; None on a tombstone-free index
        #: (the common case: zero overhead)
        self._exclude = tombstone_exclude(self.meta)
        #: Spark broadcast of the exclusion id array (non-contiguous
        #: tombstones only) — the distributed scorer ships the handle,
        #: never the array (same contract as _repo_ids_bc_cache)
        self._exclude_ids_bc = None
        self._repo_scope_cache: dict[str, tuple[int, float, int, int]] = {}
        #: repos whose doc ids are NOT a contiguous block (maintenance
        #: added docs after the build) -> sorted id array for scoping
        self._repo_ids_cache: dict[str, "object"] = {}
        #: Spark broadcast handles for those arrays (one broadcast per
        #: repo per engine instance; the distributed scorer ships the
        #: handle in its closure, not the array — VERDICT r3 #6)
        self._repo_ids_bc_cache: dict[str, "object"] = {}
        #: pyarrow.dataset objects memoized per path (the index
        #: relations and a parquet corpus source): dataset discovery
        #: re-lists the directory tree on every construction, which the
        #: p50 path would otherwise pay per request.  An engine instance
        #: is a read snapshot of the index — after a maintenance
        #: mutation (or a rewrite of the source) call :meth:`refresh`
        #: (reads that race a dir swap additionally self-heal:
        #: _read_table retries once on FileNotFoundError).
        self._pads_cache: dict[str, "object"] = {}
        #: the last driver-side runs read as (term set, rows by salt and
        #: term): search() runs the top-k and then the count over the
        #: same terms, so the count reuses the top-k's read — the runs
        #: read costs several times the decode
        self._last_runs: tuple = (None, {})

    def _rel(self, name: str) -> str:
        return os.path.join(self.index_dir, name)

    def _dataset(self, path: str):
        """Memoized pyarrow dataset over a parquet dir: hive discovery
        exposes partition keys (``bucket=``, ``ds_part=``, a source's
        ``repo=``) as columns, and the default ``_``/``.`` prefix
        exclusion skips ``_SUCCESS`` markers and ``.crc`` sidecars."""
        if path not in self._pads_cache:
            import pyarrow.dataset as pads

            self._pads_cache[path] = pads.dataset(
                path, format="parquet", partitioning="hive"
            )
        return self._pads_cache[path]

    def _read_table(self, path: str, **kw):
        """``to_table`` over the memoized dataset, with ONE retry on
        FileNotFoundError: maintenance (index/maintain.py) swaps
        relation dirs via rename, and a source rewrite replaces its
        part files, so a memoized dataset can point at vanished files.
        The retry rebuilds the dataset against the current files;
        callers that also hold stale *scalar* caches (meta, repo
        scopes) should call :meth:`refresh`."""
        try:
            return self._dataset(path).to_table(**kw)
        except FileNotFoundError:
            self._pads_cache.pop(path, None)
            return self._dataset(path).to_table(**kw)

    def refresh(self) -> None:
        """Drop every memoized view of the index (pyarrow datasets of
        the index and the corpus source, the last runs read, repo
        scopes, meta scalars, tombstone vector) and re-read meta.json —
        call on a live engine after a maintenance mutation (delete_repo
        / reindex_doc) or a source rewrite instead of constructing a
        new SearchEngine."""
        self._pads_cache.clear()
        self._last_runs = (None, {})
        self._repo_scope_cache.clear()
        self._repo_ids_cache.clear()
        for bc in self._repo_ids_bc_cache.values():
            try:
                bc.unpersist()
            except Exception:
                pass
        self._repo_ids_bc_cache.clear()
        if self._exclude_ids_bc is not None:
            try:
                self._exclude_ids_bc.unpersist()
            except Exception:
                pass
            self._exclude_ids_bc = None
        with open(os.path.join(self.index_dir, "meta.json")) as f:
            self.meta = json.load(f)
        self.cfg = IndexConfig(**self.meta["config"])
        self.n_docs = int(self.meta["n_docs"])
        self.avgdl = float(self.meta["avgdl"]) or 1.0
        self._exclude = tombstone_exclude(self.meta)

    # ------------------------------------------------------------------
    # planning
    # ------------------------------------------------------------------
    def repo_scope(self, repo: str) -> tuple[int, float, int, int]:
        """(n_pages, avgdl, doc_id_lo, doc_id_hi) of one repo — driver
        pyarrow pruned read of doc_stats, cached.  A freshly built
        repo's doc ids are contiguous (builder rank order), so scoping
        the scorer is usually a range restriction on the decoded runs;
        when maintenance (reindex_doc new-doc) has broken contiguity —
        detected here via hi-lo+1 != n — the repo's sorted id array is
        cached instead and the scorer filters by exact membership
        (repo-sized, bounded by the repo's own doc count)."""
        if repo not in self._repo_scope_cache:
            import pyarrow.compute as pc
            import pyarrow.dataset as pads

            tbl = self._read_table(
                self._rel("doc_stats"),
                filter=pads.field("repo") == repo, columns=["doc_id", "doclen"],
            )
            n = tbl.num_rows
            if n == 0:
                self._repo_scope_cache[repo] = (0, 0.0, 0, -1)
            else:
                lo = int(pc.min(tbl["doc_id"]).as_py())
                hi = int(pc.max(tbl["doc_id"]).as_py())
                self._repo_scope_cache[repo] = (
                    n,
                    float(pc.mean(tbl["doclen"]).as_py() or 0.0),
                    lo,
                    hi,
                )
                if hi - lo + 1 != n:  # maintenance broke contiguity
                    self._repo_ids_cache[repo] = np.sort(
                        tbl["doc_id"].to_numpy().astype(np.uint64)
                    )
        return self._repo_scope_cache[repo]

    def term_repo_df(self, terms: list[str], repo: str) -> dict[str, int]:
        """Per-(term, repo) document frequency — the reference's
        per-site ``lemma.frequency`` lookup (LemmaRepository.java:25-30)
        as a driver-side pruned read of term_repo_stats."""
        import pyarrow.dataset as pads

        if not terms:
            return {}
        filt = term_filter(terms, self.cfg.n_buckets) & (pads.field("repo") == repo)
        tbl = self._read_table(
            self._rel("term_repo_stats"), filter=filt, columns=["term", "df"]
        )
        return dict(zip(tbl["term"].to_pylist(), (int(x) for x in tbl["df"].to_pylist())))

    def plan(
        self, query: str, repo: str | None = None
    ) -> tuple[PlannedQuery, dict[str, tuple[int, int]], tuple[int, float]]:
        """Plan a (possibly repo-scoped) query.

        Returns (plan, global term stats {term: (df, cf)}, scoring scope
        = (N, avgdl)).  The global stats are one pruned pyarrow read of
        the query terms' runs that projects only
        :data:`~searchengine_spark.index.format.TERM_TOTALS_COLUMNS`, so
        :func:`_runs_on_driver` decides before any blob column is read.

        Scoped planning follows the reference's per-site loop
        (SearchServiceImpl.java:74-114): the all-terms guard, the
        ``100*df//N`` threshold, the rarest-first order, AND the scoring
        statistics all use the repo's own df and page count — a term
        present globally but absent in this repo short-circuits the
        scoped AND query.
        """
        terms = analyze_query(query)
        stats = term_totals(self._read_table(
            self._runs_path,
            filter=term_filter(terms, self.cfg.n_buckets),
            columns=TERM_TOTALS_COLUMNS,
        )) if terms else {}
        if repo is None:
            plan = plan_query(query, stats, self.n_docs, self.cfg.search_filter_pct)
            return plan, stats, (self.n_docs, self.avgdl)
        n_repo, avgdl_repo, _, _ = self.repo_scope(repo)
        rdf = self.term_repo_df(terms, repo)
        plan = plan_query(
            query,
            {t: (df, 0) for t, df in rdf.items()},
            n_repo,
            self.cfg.search_filter_pct,
        )
        return plan, stats, (n_repo, avgdl_repo or 1.0)

    # ------------------------------------------------------------------
    # executors of the per-salt kernels
    # ------------------------------------------------------------------
    def search_df(
        self,
        query: str,
        k: int = 10,
        mode: str = "and",
        repo: str | None = None,
        planned: tuple | None = None,
    ) -> DataFrame | DriverTopK:
        """Top-k (doc_id, bm25, tf_sum), deterministic order (bm25 desc,
        doc_id asc).  It runs on the driver while the query terms' summed
        df is within ``LOCAL_MAX_DF`` and returns a :class:`DriverTopK`,
        whose ``collect`` and ``columns`` make no JVM call; above the cap
        it runs distributed and returns the Spark plan (module
        docstring).  A query that matches nothing by its plan alone gives
        an empty :class:`DriverTopK` on either executor.  Both support
        every DataFrame method.  ``planned`` lets callers reuse an
        already-computed ``plan()`` result (one term-dictionary read per
        request, not one per phase — the p50 path)."""
        plan, stats, (n_docs, avgdl) = (
            planned if planned is not None else self.plan(query, repo)
        )
        if not plan.ordered or (mode == "and" and plan.empty):
            return _merge_topk(self.spark, [], k)
        kernel = partial(
            _score_salt,
            idfs=self._idf_map(plan, n_docs),
            k=k,
            mode_and=mode == "and",
            k1=self.cfg.bm25_k1,
            b=self.cfg.bm25_b,
            avgdl=avgdl,
        )
        if not _runs_on_driver(plan, stats):
            per_salt = self._spark_salts(plan, repo, kernel, RESULT_SCHEMA)
            return per_salt.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)
        return _merge_topk(self.spark, self._local_salts(plan, repo, kernel), k)

    def _idf_map(self, plan: PlannedQuery, n_docs: int) -> dict[str, float]:
        return {t: bm25_idf(df, n_docs) for t, df, _ in plan.ordered}

    def _bucket_of(self, term: str) -> int:
        return bucket_of(term, self.cfg.n_buckets)

    def _runs_df(self, plan: PlannedQuery) -> DataFrame:
        """The query terms' runs: bucket partition pruning + term
        pushdown on the postings store."""
        terms = [t for t, _, _ in plan.ordered]
        buckets = sorted({self._bucket_of(t) for t in terms})
        return self.spark.read.parquet(self._runs_path).where(
            F.col("bucket").isin(buckets) & F.col("term").isin(terms)
        )

    def _doc_range(self, repo: str | None):
        """Scoring scope for one repo: a contiguous (lo, hi) range, or
        the repo's sorted doc-id array when contiguity was broken by
        maintenance (TermRuns handles both)."""
        if repo is None:
            return None
        _, _, lo, hi = self.repo_scope(repo)
        ids = self._repo_ids_cache.get(repo)
        return ids if ids is not None else (lo, hi)

    def _local_salts(self, plan: PlannedQuery, repo: str | None, kernel) -> list:
        """Driver executor: one pruned pyarrow read of the query terms'
        runs (reused while the term set repeats), then ``kernel`` per
        salt group — no Spark job."""
        terms = frozenset(t for t, _, _ in plan.ordered)
        if self._last_runs[0] != terms:
            tbl = self._read_table(
                self._runs_path, filter=term_filter(terms, self.cfg.n_buckets)
            )
            self._last_runs = (terms, _runs_by_salt(
                {c: tbl[c].to_numpy(zero_copy_only=False) for c in tbl.column_names}
            ))
        groups = self._last_runs[1]
        doc_range = self._doc_range(repo)
        return [kernel(rows, doc_range, self._exclude) for rows in groups.values()]

    def _spark_salts(
        self, plan: PlannedQuery, repo: str | None, kernel, schema: str
    ) -> DataFrame:
        """Distributed executor: ``kernel`` per salt group via
        ``groupBy("salt").applyInPandas`` over the pruned runs scan."""
        visibility = self._shipped_visibility(repo)

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            [rows] = _runs_by_salt({c: pdf[c].to_numpy() for c in pdf.columns}).values()
            return pd.DataFrame(kernel(rows, *visibility()))

        return self._runs_df(plan).groupBy("salt").applyInPandas(run, schema=schema)

    def _shipped_visibility(self, repo: str | None):
        """Executor-side ``(doc_range, exclude)`` as a zero-arg function
        for the task closure.  Ranges are tiny and ride the closure; a
        non-contiguous repo's id array and the tombstone id array go out
        as Spark broadcasts (one per engine instance), so tasks ship the
        handle, never the array — a 10^9-doc repo would otherwise
        serialize a multi-GB array per task (VERDICT r3 #6)."""
        doc_range = self._doc_range(repo)
        ids_bc = None
        if doc_range is not None and not isinstance(doc_range, tuple):
            if repo not in self._repo_ids_bc_cache:
                self._repo_ids_bc_cache[repo] = (
                    self.spark.sparkContext.broadcast(doc_range)
                )
            ids_bc, doc_range = self._repo_ids_bc_cache[repo], None
        ex_ranges, ex_ids_bc = (), None
        if self._exclude is not None:
            ex_ranges = tuple(self._exclude.ranges)
            if self._exclude.ids is not None:
                if self._exclude_ids_bc is None:
                    self._exclude_ids_bc = self.spark.sparkContext.broadcast(
                        self._exclude.ids
                    )
                ex_ids_bc = self._exclude_ids_bc

        def resolve():
            exclude = None
            if ex_ranges or ex_ids_bc is not None:
                exclude = ExcludeSet(
                    ex_ranges, ex_ids_bc.value if ex_ids_bc is not None else None
                )
            return (ids_bc.value if ids_bc is not None else doc_range), exclude

        return resolve

    # ------------------------------------------------------------------
    # public API mirroring the reference REST surface
    # ------------------------------------------------------------------
    def search(
        self,
        query: str,
        offset: int = 0,
        limit: int = 10,
        repo: str | None = None,
        mode: str = "and",
        with_snippets: bool = True,
        with_count: bool = True,
    ) -> dict:
        """Reference ``SearchResponse`` shape
        (``dto/search/SearchResponse.java:8-13``, ``SearchData.java:6-13``):
        {result, count, data: [{site, siteName, uri, title, snippet,
        relevance}]} with site->repo, uri->path.

        ``with_count=False`` skips the pre-pagination total (a second
        pass over the query terms' runs) and reports ``count=-1`` — the
        cheap path when a caller only wants the page.
        """
        if not query.strip():
            return {"result": False, "error": "Empty search query"}
        if offset < 0 or limit <= 0:
            return {"result": False, "error": "offset must be >= 0 and limit > 0"}
        planned = self.plan(query, repo)
        plan, stats, _ = planned
        if mode == "and" and plan.empty:
            return {"result": True, "count": 0, "data": []}
        k = offset + limit
        df = self.search_df(query, k=k, mode=mode, repo=repo, planned=planned)
        # perfbench's traced search_df hands back its collected rows as pandas
        rows = list(df.itertuples()) if isinstance(df, pd.DataFrame) else df.collect()
        # count AND the relevance normalizer come from ONE matched-set
        # scan: the reference computes maxRank over ALL matched docs
        # BEFORE pagination (SearchServiceImpl.java:149-151), so a doc's
        # relevance is page-invariant and independent of the BM25 top-k
        # cut.  with_count=False skips that scan (the cheap path) and
        # normalizes by the max over the k collected rows instead — a
        # documented deviation bounded to that path.
        if with_count:
            total, max_tf = self._match_stats(plan, stats, mode, repo)
        else:
            total = -1
            max_tf = max((int(r.tf_sum) for r in rows), default=0)
        page = rows[offset: offset + limit]
        if not page:
            return {"result": True, "count": total, "data": []}

        doc_ids = [int(r.doc_id) for r in page]
        scores = [float(r.bm25) for r in page]
        tf_sums = [int(r.tf_sum) for r in page]
        max_tf = max_tf or 1
        docs_meta = self._doc_meta(doc_ids, need_content=with_snippets)
        qterms = {t for t, _, _ in plan.ordered}
        data = []
        for doc_id, score, tfs in zip(doc_ids, scores, tf_sums):
            m = docs_meta.get(doc_id, {})
            snippet = ""
            if with_snippets and "content" in m:
                snippet = build_snippet(m["content"], qterms)
            data.append(
                {
                    "site": m.get("repo", ""),
                    "siteName": m.get("repo", ""),
                    "uri": m.get("path", ""),
                    "title": m.get("path", "").rsplit("/", 1)[-1],
                    "snippet": snippet,
                    "relevance": tfs / max_tf if max_tf else 0.0,
                    "bm25": score,
                    "doc_id": doc_id,
                }
            )
        return {"result": True, "count": total, "data": data}

    def count_matches(
        self,
        query: str,
        mode: str = "and",
        repo: str | None = None,
        planned: tuple | None = None,
    ) -> int:
        """Total hit count pre-pagination (reference ``count``,
        SearchServiceImpl.java:171,200).  Like the top-k, it runs on the
        driver (no Spark job) while the query terms' summed global df is
        within ``LOCAL_MAX_DF`` and distributed above it, so a head
        term's postings are never decoded on the driver."""
        plan, stats, _ = planned if planned is not None else self.plan(query, repo)
        return self._match_stats(plan, stats, mode, repo)[0]

    def _match_stats(
        self,
        plan: PlannedQuery,
        stats: dict,
        mode: str,
        repo: str | None,
    ) -> tuple[int, int]:
        """(total matches, max Σtf) over the FULL matched-doc set,
        pre-pagination, from the query terms' encoded runs.

        The reference computes both on the same pass: ``count`` over
        all matched pages (SearchServiceImpl.java:171,200) and
        ``maxRank`` = max absolute relevance over ALL matched docs
        BEFORE pagination (:149-151) — so a doc's reported relevance is
        page-invariant.  The executor is :func:`_runs_on_driver`'s
        choice, the same as the top-k's over the same plan, so within
        one ``search()`` the count reuses the top-k's runs read.
        """
        if not plan.ordered or (mode == "and" and plan.empty):
            return 0, 0
        kernel = partial(_count_salt, n_terms=len(plan.ordered), mode_and=mode == "and")
        if _runs_on_driver(plan, stats):
            outs = self._local_salts(plan, repo, kernel)
            return (
                sum(o["total"][0] for o in outs),
                max((o["max_tf"][0] for o in outs), default=0),
            )
        row = (
            self._spark_salts(plan, repo, kernel, COUNT_SCHEMA)
            .agg(F.sum("total"), F.max("max_tf"))
            .collect()[0]
        )
        return int(row[0] or 0), int(row[1] or 0)

    @staticmethod
    def _doc_keys_condition(metas: list[dict], col):
        """OR-of-(repo ∧ path) conjunctions over k result rows, built
        with ``col`` (``pyarrow.dataset.field`` for a parquet source,
        ``F.col`` for a catalog table): it pushes down on BOTH plain
        columns, so the reader prunes partition dirs on ``repo`` and row
        groups on their statistics instead of scanning the corpus — a
        computed concat_ws key would defeat pushdown and turn every
        store_content=False snippet fetch into a full 100 TB scan
        (VERDICT r3 #3; the Spark plan is asserted in
        tools/capture_plans.py)."""
        cond = None
        for m in metas:
            c = (col("repo") == m["repo"]) & (col("path") == m["path"])
            cond = c if cond is None else cond | c
        return cond

    def _doc_meta(self, doc_ids: list[int], need_content: bool = True) -> dict[int, dict]:
        """Materialize doc metadata (+ content when snippets are wanted)
        for k result rows only (join AFTER top-k — J4,
        SearchServiceImpl.java:176).  Driver-side pyarrow pruned read:
        hive partition pruning on ``ds_part = pmod(doc_id, P)`` (the
        builder's layout) skips every partition dir the k ids don't
        hash into, then row-group statistics on doc_id prune within
        them; no Spark job on the p50 path.  Explicit columns: the
        forward index (``terms``/``tfs``) is never read, and
        ``need_content=False`` also skips the wide content column.

        On a ``store_content=False`` index the content comes from
        ``meta["source"]`` (:meth:`_source_content`); a row missing
        there gets empty content (an empty snippet)."""
        import pyarrow.dataset as pads

        cols = ["doc_id", "repo", "path", "commit", "lang", "doclen", "content_sha256"]
        if need_content and "content" in self._dataset(self._rel("doc_stats")).schema.names:
            cols.append("content")
        parts = sorted({d % self.cfg.doc_stats_parts for d in doc_ids})
        filt = pads.field("ds_part").isin(parts) & pads.field("doc_id").isin(doc_ids)
        tbl = self._read_table(self._rel("doc_stats"), filter=filt, columns=cols)
        out = {int(m["doc_id"]): m for m in tbl.to_pylist()}
        if not need_content:
            return out
        if out and "content" in next(iter(out.values())):
            return out  # built with store_content=True
        src = self.meta.get("source")
        if not (src and out):
            return out
        by_key = self._source_content(src, list(out.values()))
        for m in out.values():
            m["content"] = by_key.get((m["repo"], m["path"]), "")
        return out

    def _source_content(self, src: str, metas: list[dict]) -> dict[tuple, str]:
        """{(repo, path): content} of the ``metas`` rows in the corpus
        source.  A parquet path is read driver-side through the memoized
        pyarrow dataset — no Spark job; only a catalog (Iceberg) table
        name goes through Spark.  A source that is gone or never was a
        table — a deleted path, a missing table, a label such as
        ``"fixture"`` — gives no rows; any other error raises."""
        if is_path_source(src):
            import pyarrow.dataset as pads

            try:
                tbl = self._read_table(
                    src,
                    filter=self._doc_keys_condition(metas, pads.field),
                    columns=["repo", "path", "content"],
                )
            except FileNotFoundError:
                return {}
            rows = zip(*(tbl[c].to_pylist() for c in ("repo", "path", "content")))
        else:
            try:
                corpus = load_corpus(self.spark, src)
            except ParseException:  # a label such as "scaling-N"
                return {}
            except AnalysisException as e:
                if e.getCondition() != "TABLE_OR_VIEW_NOT_FOUND":
                    raise
                return {}
            rows = (
                corpus.where(self._doc_keys_condition(metas, F.col))
                .select("repo", "path", "content")
                .collect()
            )
        return {(repo, path): content for repo, path, content in rows}

    # ------------------------------------------------------------------
    # statistics (reference GET /api/statistics,
    # services/StatisticsServiceImpl.java:31-62)
    # ------------------------------------------------------------------
    def statistics_df(self) -> DataFrame:
        """Per-repo statistics as a DataFrame — the 10^8-repo form of
        :meth:`statistics` (which collects per-repo rows to the driver
        for the reference's small-site-list response shape; SCALE.md
        §8).  Columns: (repo, pages, lemmas)."""
        ds = self.spark.read.parquet(self._rel("doc_stats"))
        trs = self.spark.read.parquet(self._rel("term_repo_stats"))
        pages = ds.groupBy("repo").agg(F.count("*").alias("pages"))
        lemmas = trs.groupBy("repo").agg(
            F.countDistinct("term").alias("lemmas")
        )
        return (
            pages.join(lemmas, "repo", "left")
            .select(
                "repo",
                "pages",
                F.coalesce("lemmas", F.lit(0)).cast("long").alias("lemmas"),
            )
        )

    def statistics(self) -> dict:
        """Reference ``GET /api/statistics``
        (``StatisticsServiceImpl.java:31-62``): totals + per-site rows
        with the LIVE build state — ``indexing`` and each row's
        status/statusTime/error come from the builder's persisted state
        machine (``_checkpoints/build.json``, the ``site.status``
        analog), not a hardcoded flag.  The engine tracks one state per
        index (builds are whole-corpus), so every detailed row carries
        the index-level status."""
        from searchengine_spark.index.builder import read_build_status

        build = read_build_status(self.index_dir) or {
            "status": "INDEXED",
            "status_time": None,
            "last_error": None,
        }
        detailed = [
            {
                "url": r.repo,
                "name": r.repo,
                "pages": int(r.pages),
                "lemmas": int(r.lemmas),
                "status": build["status"],
                "statusTime": build["status_time"],
                "error": build["last_error"],
            }
            for r in sorted(self.statistics_df().collect(), key=lambda r: r.repo)
        ]
        return {
            "result": True,
            "statistics": {
                "total": {
                    "sites": len(detailed),
                    "pages": sum(d["pages"] for d in detailed),
                    "lemmas": int(self.meta["n_terms"]),
                    "indexing": build["status"] == "INDEXING",
                },
                "detailed": detailed,
            },
        }
