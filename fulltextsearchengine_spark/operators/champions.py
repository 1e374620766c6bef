"""Champion lists (tiered retrieval): a per-term top-``n_champions``
docs tier answered first, the classic index-pruning scheme of Manning
et al., *Introduction to Information Retrieval* §7.1.3 (also the
"impact-ordered tier" of Strohman & Croft's static pruning line).

The reference engine scans every posting of every query term
(ReviewSearch.java:65-104). At 10^12 turns a hot term's posting list is
billions of rows; the champion tier caps what a serving query touches:

  build  per term, keep the ``n_champions`` docs with the highest tf
         (tie: doc_id asc) → a (term, doc_id) tier of ≤ n·|vocab| rows,
         a CONSTANT-per-term fraction of the postings, independent of
         corpus growth past n docs/term.
  query  candidates = union of the query terms' champion lists (pruned
         In-scan of the tier); score candidates FULLY — real tf for
         every query term via the candidate-restricted pivot — then
         top-k. Scoring math (global df/cf/avgdl) is exact BM25; only
         the candidate set is pruned.

Semantics: approximate top-k — a true top-k doc is missed only if, for
EVERY query term, its per-term impact falls below that term's n-th
champion impact. Multi-hot-term queries are the worst case (combined
score without any single dominant term), and a low-tf-spread corpus
makes tiers tie-dominated: measured recall@10 on the bench corpus's
3-hot-term queries (tf∈{1..3}): n=128→0.40, 512→0.62, 2048→0.94,
8192→1.00 — with candidates still ≤24k of 300k docs at full recall.
Size n to the corpus's tf spread; for guaranteed exactness use the
WAND path (operators/wand.py) — champions trade the threshold
bookkeeping for a fixed, cache-friendly tier.

Plan shape: tier build is ONE shuffle of postings by term where the
rank-window + ``rn <= n`` filter is rewritten by Catalyst to
WindowGroupLimit (map-side bounded per-term heap — no full per-term
sort); the query side is two pruned In-scans (tier, then postings
semi-joined to the candidate frame) and the standard pivot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import bm25
from .search import Searcher, normalize_query

N_CHAMPIONS = 128


def build_champion_lists(
    postings: DataFrame,
    n_champions: int = N_CHAMPIONS,
    avgdl: float | None = None,
) -> DataFrame:
    """(term, doc_id, tf) tier: per term the top-``n_champions`` postings
    by STATIC BM25 IMPACT desc (the idf-free tf weight of bm25.py — the
    per-term score component, which is what the scorer actually ranks
    by) when ``avgdl`` is given, else raw tf. Raw tf favors long
    documents that BM25's length normalization then demotes — measured
    recall@10 on hot-term queries: 0.30 (tf) vs impact ordering (see
    bench ``champion_recall_at_10``). Ties: doc_id asc.

    Persist with the same sorted layout as the core postings
    (``sortWithinPartitions("term")``) so query-time term lookups prune
    files/row groups."""
    if n_champions < 1:
        raise ValueError(f"n_champions must be >= 1, got {n_champions}")
    if avgdl is None:
        rank_col = F.col("tf").cast("double")
    else:
        rank_col = bm25.tf_weight_col(F.lit(1.0), F.col("tf"), bm25.length_norm_col(avgdl))
    w = Window.partitionBy("term").orderBy(F.desc(rank_col), F.asc("doc_id"))
    return (
        postings.select("term", "doc_id", "tf", "doc_len")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_champions)
        .select("term", "doc_id", "tf")
    )


def champion_bm25_search(
    searcher: Searcher,
    query: list[str],
    k: int,
    n_champions: int = N_CHAMPIONS,
    champions: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score) top-k over the champion candidate union —
    exact BM25 scoring restricted to tier candidates. Pass a persisted
    ``champions`` tier to skip the ad-hoc build."""
    terms = sorted(set(normalize_query(query)))
    if champions is None:
        st = searcher.stats
        avgdl = (st["total_tokens"] / st["num_docs"]) if st["num_docs"] else None
        champions = build_champion_lists(searcher.index.postings, n_champions, avgdl=avgdl)
    cands = (
        champions.filter(F.col("term").isin(terms))
        .select("doc_id")
        .distinct()
    )
    return searcher.topk(searcher.bm25_scores(query, candidates=cands), k)
