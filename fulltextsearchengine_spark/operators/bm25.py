"""The one BM25 definition every turn-level scorer shares: k1, b, the
idf and the minimum_should_match rule.

    idf(t)   = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))   (Lucene's non-negative form)
    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·len_d/avgdl))

The DataFrame scorers (search.py and the operators built on it), the
block-max serving tiers (wand.py, local_query.py) and the build-time
block bounds (posting_blocks.py ``max_impact``) all read these, so
WAND's pruning bounds and the scores they bound cannot drift apart.
``oracle.py`` keeps its own copy on purpose: it is the independent
reference the tests compare against. BM25F's field model keeps its own
k1/b (bm25f.py) but takes its idf from here.
"""

from __future__ import annotations

import math

K1 = 1.2
B = 0.75


def idf(n: int, df: int) -> float:
    """Robertson/Sparck-Jones idf over ``n`` documents, ``df`` of which
    hold the term."""
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


def query_terms(query, min_should_match: int = 1, qid=None) -> list[str]:
    """Sorted distinct lowercase terms of ``query``; rejects an m outside
    [1, n] over them (an empty query accepts m = 1 and matches nothing)."""
    terms = sorted({t.lower() for t in query})
    if not 1 <= min_should_match <= max(len(terms), 1):
        label = f"query terms {terms}" if qid is None else f"query {qid!r}"
        raise ValueError(
            f"min_should_match {min_should_match} out of [1, {len(terms)}] for {label}"
        )
    return terms
