"""Seeded inputs and the oracle gate.

Inputs are derived from ``--seed`` and the oracle index over the
generated corpus; the program under test only ever sees the corpus, the
query strings and the upserted documents.

Every answer is checked against the pure-Python oracle in
``tests/oracle.py`` (imported, never modified): rank-identical doc ids,
BM25 within 1e-6, and the oracle's pre-pagination match count.
"""

from __future__ import annotations

import random

from searchengine_spark.analyzer import analyze_text
from tests.oracle import OracleIndex, oracle_search

#: query classes of one search_api cycle: every FIXTURES.md §2 class once
SEARCH_MIX = {
    "rare": 1,      # one term, df <= 1% of docs
    "head": 1,      # one term, df >= 30% of docs
    "and2": 1,      # head + mid term that co-occur in a doc
    "and3": 1,      # head + two mid terms that co-occur in a doc
    "or": 1,        # head + mid + rare term, mode="or"
    "repo": 1,      # head + mid term, scoped to the repo of a doc holding both
    "page": 1,      # one head term, second page (offset=10)
    "miss": 1,      # head term + a term absent from the dictionary
    "empty": 1,     # two rare terms that never co-occur
}

#: query classes of one search_topk cycle: weighted toward the queries
#: whose posting lists are long (head terms, multi-term AND and OR)
TOPK_MIX = {"rare": 1, "head": 4, "and2": 3, "and3": 2, "or": 4, "repo": 1, "page": 1}

#: tokens of the upserted document
UPSERT_TOKENS = 40

BM25_TOL = 1e-6


class TermPools:
    """Query-safe terms of an oracle index by document frequency, each
    pool sorted by df."""

    def __init__(self, o: OracleIndex):
        self.o = o
        n = o.n_docs
        by_df = sorted((len(p), t) for t, p in o.postings.items())

        def pool(lo: int, hi: int) -> list[str]:
            return [t for df, t in by_df if lo <= df <= hi and self.safe(t)]

        self.rare = pool(3, max(3, n // 100))
        self.mid = pool(n // 50, n * 15 // 100)
        self.head = pool(n * 30 // 100, n)
        self._mid, self._head = set(self.mid), set(self.head)
        if not (self.rare and self.mid and self.head):
            raise ValueError("corpus too small for the query mix")

    @staticmethod
    def safe(term: str) -> bool:
        """A term that analyzes back to itself, so the query means it."""
        return analyze_text(term) == [term]

    @staticmethod
    def pick(rng: random.Random, pool: list[str], k: int = 1) -> list[str]:
        """k terms of ``pool``, one from each of k equal df strata, so
        that every mix spans the pool's df range whatever the seed."""
        return [pool[rng.randrange(i * len(pool) // k, (i + 1) * len(pool) // k)]
                for i in range(k)]

    def doc_terms(self, rng: random.Random, n_mid: int) -> tuple[int, list[str]]:
        """A doc id and [head, mid...] terms that all occur in it."""
        while True:
            d = rng.randrange(self.o.n_docs)
            terms = sorted(self.o.doc_tfs[d])
            heads = [t for t in terms if t in self._head]
            mids = [t for t in terms if t in self._mid]
            if heads and len(mids) >= n_mid:
                return d, [rng.choice(heads), *rng.sample(mids, n_mid)]


def _query(cls: str, text: str, mode: str = "and", repo=None, offset: int = 0) -> dict:
    return {"cls": cls, "query": text, "mode": mode, "repo": repo,
            "offset": offset, "limit": 10}


def search_mix(pools: TermPools, rng: random.Random, mix: dict = SEARCH_MIX) -> list[dict]:
    """One cycle of a search workload: the query classes of ``mix``, in
    a seeded order."""
    o = pools.o
    out: list[dict] = []
    for t in pools.pick(rng, pools.rare, mix.get("rare", 0)):
        out.append(_query("rare", t))
    for t in pools.pick(rng, pools.head, mix.get("head", 0)):
        out.append(_query("head", t))
    for _ in range(mix.get("and2", 0)):
        out.append(_query("and2", " ".join(pools.doc_terms(rng, 1)[1])))
    for _ in range(mix.get("and3", 0)):
        out.append(_query("and3", " ".join(pools.doc_terms(rng, 2)[1])))
    for _ in range(mix.get("or", 0)):
        terms = pools.doc_terms(rng, 1)[1] + pools.pick(rng, pools.rare)
        out.append(_query("or", " ".join(terms), mode="or"))
    for _ in range(mix.get("repo", 0)):
        d, terms = pools.doc_terms(rng, 1)
        out.append(_query("repo", " ".join(terms), repo=o.docs[d][0]))
    for t in pools.pick(rng, pools.head, mix.get("page", 0)):
        out.append(_query("page", t, offset=10))
    for _ in range(mix.get("miss", 0)):
        missing = f"zqx{rng.randrange(10**6)}v"
        while missing in o.postings or not pools.safe(missing):
            missing = f"zqx{rng.randrange(10**6)}v"
        out.append(_query("miss", f"{pools.pick(rng, pools.head)[0]} {missing}"))
    for _ in range(mix.get("empty", 0)):
        a = pools.pick(rng, pools.rare)[0]
        while True:
            b = pools.pick(rng, pools.rare)[0]
            if b != a and not set(o.postings[a]) & set(o.postings[b]):
                break
        out.append(_query("empty", f"{a} {b}"))
    rng.shuffle(out)
    return out


def upsert_doc(
    pools: TermPools, rng: random.Random, seed: int, rows: list[tuple]
) -> tuple[tuple[str, str, str, str, str], str]:
    """An edit of an existing document, with seeded new content led by
    a marker term no other document holds: (row, marker)."""
    marker = f"upm{seed}q"
    vocab = pools.head + pools.mid + pools.rare
    tokens = [marker] + [rng.choice(vocab) for _ in range(UPSERT_TOKENS - 1)]
    repo, path, commit, lang, _ = rng.choice(rows)
    return (repo, path, commit, lang, " ".join(tokens)), marker


def upsert_queries(
    pools: TermPools, rng: random.Random, row: tuple, marker: str
) -> list[dict]:
    """Top-k queries that must see an upsert: its marker term, and an
    AND and an OR query over terms of its new content."""
    terms = sorted(set(analyze_text(row[4])) - {marker})
    mids = [t for t in terms if t in pools._mid] or pools.mid
    heads = [t for t in terms if t in pools._head] or pools.head
    return [
        _query("marker", marker),
        _query("and2", f"{rng.choice(heads)} {rng.choice(mids)}"),
        _query("or", " ".join([rng.choice(heads), rng.choice(mids),
                               *pools.pick(rng, pools.rare)]), mode="or"),
    ]


def expected(o: OracleIndex, q: dict, cfg) -> tuple[list, int]:
    """(expected page [(doc_id, bm25)], expected match count)."""
    full = oracle_search(
        o, q["query"], k=10**9, mode=q["mode"], k1=cfg.bm25_k1, b=cfg.bm25_b,
        search_filter_pct=cfg.search_filter_pct, repo=q["repo"],
    )
    rows = [(d, bm) for d, bm, _ in full]
    return rows[q["offset"]: q["offset"] + q["limit"]], len(full)


def mismatch(resp: dict, want_page: list, want_count: int, with_count: bool) -> str | None:
    """None when the engine's answer equals the oracle's, else why not."""
    if not resp.get("result"):
        return f"error response: {resp.get('error')}"
    if with_count and resp["count"] != want_count:
        return f"count {resp['count']} != {want_count}"
    got = [(int(r["doc_id"]), float(r["bm25"])) for r in resp["data"]]
    if [d for d, _ in got] != [d for d, _ in want_page]:
        return f"doc ids {[d for d, _ in got]} != {[d for d, _ in want_page]}"
    for (d, gb), (_, wb) in zip(got, want_page):
        if abs(gb - wb) > BM25_TOL:
            return f"bm25 of doc {d}: {gb} != {wb}"
    return None
