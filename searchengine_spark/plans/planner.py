"""Query planner — the reference's hand-rolled query rewrites, pinned.

Reproduces, in order (``services/SearchServiceImpl.java``):

1. query -> unique significant terms        (:91-97, extractQueryLemmas)
2. all-terms-present bail-out               (:104-107) — any query term
   absent from the dictionary => empty result for that scope
3. high-df pruning: drop term when
   ``100 * df // N > search_filter_pct``    (:108; INTEGER division —
   application.yaml:96-97 default 100) unless the term is an identifier
   (:270-274 identifier patterns bypass the filter)
4. rarest-first ordering                    (:112) — drives both the
   intersection order and the WAND upper-bound ordering

Driver-side pure Python: the inputs are a handful of query terms; this
is exactly the part that must NOT be a distributed job.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

from searchengine_spark.analyzer import analyze_text, is_identifier


@dataclass
class PlannedQuery:
    #: unique analyzed query terms in first-appearance order
    terms: list[str]
    #: terms missing from the dictionary (non-identifier missing term
    #: with AND semantics => empty result, reference :104-107)
    missing: list[str] = field(default_factory=list)
    #: terms dropped by the high-df filter
    pruned: list[str] = field(default_factory=list)
    #: surviving terms, rarest first: [(term, df, cf)]
    ordered: list[tuple[str, int, int]] = field(default_factory=list)

    @property
    def empty(self) -> bool:
        return not self.ordered or bool(self.missing)


def analyze_query(query: str) -> list[str]:
    """Query -> unique terms, first-appearance order (reference uses a
    Set; we pin a deterministic order for testability)."""
    seen: dict[str, None] = {}
    for t in analyze_text(query):
        seen.setdefault(t)
    return list(seen)


def plan_query(
    query: str,
    term_counts: dict[str, tuple[int, int]],
    n_docs: int,
    search_filter_pct: int = 100,
) -> PlannedQuery:
    """Plan a query given ``term_counts`` = {term: (df, cf)} lookups.

    ``term_counts`` may omit terms (missing from dictionary).  The high-df
    rule uses floor integer division to match the reference exactly
    (boundary unit-tested in tests/test_planner.py).
    """
    terms = analyze_query(query)
    plan = PlannedQuery(terms=terms)
    survivors: list[tuple[str, int, int]] = []
    for t in terms:
        info = term_counts.get(t)
        if info is None:
            plan.missing.append(t)
            continue
        df, cf = info
        pct = (100 * df) // n_docs if n_docs else 0  # Java int division
        if pct > search_filter_pct and not is_identifier(t):
            plan.pruned.append(t)
            continue
        survivors.append((t, df, cf))
    survivors.sort(key=lambda x: (x[1], x[0]))  # df asc, term tie-break
    plan.ordered = survivors
    return plan


def bm25_idf(df: int, n_docs: int) -> float:
    """BM25 idf, pinned formula (SURVEY.md §2.9):
    ``ln(1 + (N - df + 0.5) / (df + 0.5))``."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
