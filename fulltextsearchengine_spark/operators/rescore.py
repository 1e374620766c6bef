"""Second-pass rescoring (the Elasticsearch ``rescore`` API shape).

A serving engine retrieves a cheap first-pass window (BM25 top-W) and
re-ranks just that window with a more expensive model, blending
``query_weight * first + rescore_weight * second`` (ES's default
``total`` score mode). The reference engine exposes single-scorer
ranked lists only (ReviewSearch.java:65-178); rescoring is the standard
production layer above it.

Spark-first design — ONE scan, not two passes: both scorers here
(BM25 and Dirichlet query-likelihood) read the same pruned
``In(term, …)`` posting scan and the same (doc_id, doc_len, tf-slot…)
pivot, so instead of running the second scorer as a separate job over
the window's doc_ids, we emit BOTH scores as two Columns off one pivot
aggregate. The plan is exactly the plain-BM25 plan (one pruned scan,
one partial-agg exchange) plus two TakeOrderedAndProject heaps: one
cuts the window by the first-pass order, one re-ranks the ≤W-row
window by the blended score. At 100 TB the cost is BM25's cost; the
window re-rank is W rows on the driver-adjacent tail.

When the second scorer genuinely cannot share the scan (a cross-encoder
UDF, an external feature store), pass ``second_scores=`` — the window
is then re-ranked by a broadcast-joined external frame instead.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bm25
from .search import LM_DIRICHLET_MU, Searcher, normalize_query


def rescore_search(
    searcher: Searcher,
    query: list[str],
    k: int,
    window_size: int = 100,
    query_weight: float = 1.0,
    rescore_weight: float = 1.0,
    mu: float = LM_DIRICHLET_MU,
    second_scores: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, first_score, second_score, score): top-``k`` of the
    BM25 top-``window_size`` window re-ranked by
    ``query_weight·bm25 + rescore_weight·dirichlet_loglik``.

    Semantics (ES rescore, score_mode=total): docs OUTSIDE the window
    keep their first-pass rank and never enter the output; ties on the
    first-pass cut and on the final order both break doc_id-asc, so the
    window membership and the output are deterministic. Dirichlet
    scores are negative log-likelihoods — the blend is monotone in both
    components, not a probability.

    ``second_scores``: optional (doc_id, score) frame replacing the
    built-in Dirichlet second pass; docs missing from it rescore as
    second=0 (ES semantics: a non-matching rescore query contributes
    nothing).
    """
    if k <= 0 or window_size <= 0:
        raise ValueError(f"k and window_size must be ≥ 1, got {k}, {window_size}")
    if window_size < k:
        raise ValueError(f"window_size ({window_size}) must be ≥ k ({k})")
    qtf = Counter(normalize_query(query))
    stats = searcher.term_stats(sorted(qtf))
    idf = searcher.bm25_idf(stats)
    total = searcher.stats["total_tokens"]
    terms = sorted(idf)
    if not terms or not total:
        return searcher._empty_scores().select(
            "doc_id",
            F.col("score").alias("first_score"),
            F.col("score").alias("second_score"),
            "score",
        )
    piv = searcher._pivoted_tf(terms)
    slot = {t: f"tf_{i}" for i, t in enumerate(terms)}
    first = bm25.pivot_score(idf, searcher.avgdl, slot)
    if second_scores is None:
        # Dirichlet QL off the same pivot
        second = searcher.dirichlet_pivot_score(qtf, stats, total, mu, slot)
        both = piv.select(
            "doc_id",
            first.alias("first_score"),
            second.alias("second_score"),
        )
    else:
        firsts = piv.select("doc_id", first.alias("first_score"))
        both = firsts.join(
            F.broadcast(
                second_scores.select("doc_id", F.col("score").alias("second_score"))
            ),
            "doc_id",
            "left",
        ).withColumn(
            "second_score", F.coalesce(F.col("second_score"), F.lit(0.0))
        )
    window = both.orderBy(F.desc("first_score"), F.asc("doc_id")).limit(window_size)
    blended = window.withColumn(
        "score",
        F.lit(query_weight) * F.col("first_score")
        + F.lit(rescore_weight) * F.col("second_score"),
    )
    return blended.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
