"""Seeded query logs, each query stored with its reference answer.

Every drawn query is sorted by how its reference top-10 is decided
(``reference.boundary``):

- settled queries form the timed log;
- tie queries, whose top-10 is decided by the doc_id tie-break between
  bit-equal scores at the 10th/11th boundary, go to a separate list.
  ``LocalBM25`` answers some of them wrongly (README: the kept fault), and
  which ones depends on the corpus, so as timed operations they would make
  the failed share vary with the seed. A traced run sends each of them
  through the tiers and reports the wrong answers per tier;
- near ties, which have no exact answer to check, are dropped.

A draw that is not settled is followed by the next draw of the same
shape from the same distribution; nothing about the distribution is
changed. The number of draws of each kind is kept with the log, so the
share of the traffic that hinges on a boundary tie is known. Every log
has a fixed length whatever the seed.
"""

from __future__ import annotations

import numpy as np

from reference import K, SETTLED, TIE, Reference, boundary

QUERY_LENS = (1, 2, 3)
MAX_DRAWS_PER_QUERY = 200


class Drawn:
    """The settled log, the tie list and the draw counts of one log."""

    def __init__(self):
        self.log: list[dict] = []
        self.ties: list[dict] = []
        self.draws = {"settled": 0, "tie": 0, "near": 0}
        self._seen: dict[tuple, tuple[str, dict]] = {}

    def draw(self, ref: Reference, terms: list[str]) -> bool:
        """Classify one drawn query; True when it joined the log."""
        key = tuple(sorted(terms))
        if key not in self._seen:
            top = ref.topk(terms)
            kind = boundary(top)
            entry = {"terms": terms, "answer": top[:K]}
            self._seen[key] = kind, entry
            if kind == TIE:
                self.ties.append(entry)
        kind, entry = self._seen[key]
        self.draws[kind] += 1
        if kind == SETTLED:
            self.log.append(entry)
        return kind == SETTLED

    def as_dict(self) -> dict:
        return {"log": self.log, "ties": self.ties, "draws": self.draws}


def zipf_log(ref: Reference, seed: int, n: int, hot: int, s: float) -> dict:
    """``n`` settled queries whose lengths cycle 1, 2, 3 terms, each term
    drawn by Zipf(``s``) over the ``hot`` highest df ranks."""
    rng = np.random.default_rng([seed, 1])
    ranked = [t for t, _ in ref.df_ranked()[:hot]]
    p = 1.0 / np.arange(1, hot + 1) ** s
    p /= p.sum()
    out = Drawn()
    for _ in range(MAX_DRAWS_PER_QUERY * n):
        m = QUERY_LENS[len(out.log) % len(QUERY_LENS)]
        out.draw(ref, [ranked[i] for i in rng.choice(hot, m, replace=False, p=p)])
        if len(out.log) == n:
            return out.as_dict()
    raise ValueError(f"only {len(out.log)} of {n} zipf queries settled: {out.draws}")


def tail_log(
    ref: Reference, seed: int, n: int, hot: int, rare_df: tuple[int, int]
) -> dict:
    """``n`` settled queries of two distinct terms from the ``hot`` highest
    df ranks and one rare term (df within ``rare_df``) that no other query
    of the log, settled or not, uses."""
    rng = np.random.default_rng([seed, 2])
    ranked = ref.df_ranked()
    hot_terms = [t for t, _ in ranked[:hot]]
    rare = [t for t, df in ranked if rare_df[0] <= df <= rare_df[1]]
    out = Drawn()
    for i in rng.permutation(len(rare)):
        pair = [hot_terms[j] for j in rng.choice(hot, 2, replace=False)]
        out.draw(ref, pair + [rare[i]])
        if len(out.log) == n:
            return out.as_dict()
    raise ValueError(f"only {len(out.log)} of {n} tail queries: too few rare terms in {rare_df}")
