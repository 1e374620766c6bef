"""Synonym / thesaurus query expansion over the weighted-BM25 scorer.

The reference engine matches literal tokens only (IndexReader.java:
89-103 — a miss is a miss); a thesaurus is the classic fix for
vocabulary mismatch without touching the index. Expansion is CONFIG,
not data: the map lives with the query layer (the Elasticsearch
synonym-graph-filter convention), so the standing 100-TB index never
rebuilds when the thesaurus changes.

Semantics (query-side, weighted):
  - every distinct folded query term keeps weight 1.0;
  - each synonym of a query term enters at ``syn_weight`` (< 1 so
    original phrasing outranks paraphrase on equal tf);
  - collisions sum: a synonym reachable from two query terms — or a
    synonym that IS another query term — accumulates both weights.
Then one ``bm25_weighted_scores`` pass: the expanded term set is
≤ |q|·(1+max fan-out), so the postings ``In`` filter stays
pushdown-sized and the plan is the ordinary pruned-pivot BM25.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .feedback import bm25_weighted_scores
from .search import Searcher, normalize_query

SYN_WEIGHT = 0.5


def expand_with_synonyms(
    query: list[str],
    synonyms: dict[str, list[str]],
    syn_weight: float = SYN_WEIGHT,
) -> dict[str, float]:
    """term -> weight for the expanded query. Keys and values of
    ``synonyms`` are folded like query terms; expansion is one hop
    (synonyms-of-synonyms are not chased — the standard flat-thesaurus
    semantics)."""
    if not 0.0 < syn_weight <= 1.0:
        raise ValueError(f"syn_weight must be in (0, 1], got {syn_weight}")
    syn = {
        k.lower(): [v.lower() for v in vs] for k, vs in synonyms.items()
    }
    weights: dict[str, float] = {}
    for t in sorted(set(normalize_query(query))):
        weights[t] = weights.get(t, 0.0) + 1.0
        for s in syn.get(t, []):
            weights[s] = weights.get(s, 0.0) + syn_weight
    return weights


def synonym_bm25_search(
    searcher: Searcher,
    query: list[str],
    synonyms: dict[str, list[str]],
    k: int,
    syn_weight: float = SYN_WEIGHT,
) -> DataFrame:
    """(doc_id, score) top-k under the synonym-expanded weighted BM25
    (score desc, doc_id asc)."""
    weights = expand_with_synonyms(query, synonyms, syn_weight)
    return (
        bm25_weighted_scores(searcher, weights)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def pmi_neighbors(
    searcher: Searcher,
    query: list[str],
    min_df: int,
    max_df: int,
    min_pair_count: int = 2,
) -> dict[str, str]:
    """qterm → best PMI partner within the df band — the corpus-derived
    pseudo-thesaurus (co-occurrence expansion; Manning IIR §9.2.2's
    automatic thesaurus, restricted to the query's terms so the pair
    expansion is query-sized, not vocabulary²).

    Best = highest pmi_micro (ROUNDED, so rank is engine-stable), ties
    lowest partner term; partners need pair_count ≥ min_pair_count.
    One Spark job: query-term postings ⋈ banded postings on doc_id →
    (qterm, partner) agg → per-qterm rank.
    """
    from pyspark.sql import Window

    qts = sorted(set(normalize_query(query)))
    idx = searcher.index
    n_docs = int(searcher.stats["num_docs"])
    band = idx.terms.filter(
        (F.col("df") >= min_df) & (F.col("df") <= max_df)
    ).select("term", F.col("df").alias("df_o"))
    qp = (
        idx.postings.filter(F.col("term").isin(qts))
        .select(F.col("term").alias("qt"), "doc_id")
        .join(
            idx.terms.select(F.col("term").alias("qt"), F.col("df").alias("df_q")),
            "qt",
        )
    )
    op = idx.postings.select(F.col("term").alias("ot"), "doc_id").join(
        F.broadcast(band.withColumnRenamed("term", "ot")), "ot"
    )
    pc = (
        qp.join(op, "doc_id")
        .filter(F.col("ot") != F.col("qt"))
        .groupBy("qt", "ot", "df_q", "df_o")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_pair_count)
    )
    pmi = pc.withColumn(
        "pmi_micro",
        F.round(
            F.log(F.lit(float(n_docs)) * F.col("c") / (F.col("df_q") * F.col("df_o")))
            * 1e6
        ).cast("long"),
    )
    w = Window.partitionBy("qt").orderBy(F.desc("pmi_micro"), F.asc("ot"))
    best = pmi.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return {r["qt"]: r["ot"] for r in best.select("qt", "ot").collect()}


def pmi_expanded_search(
    searcher: Searcher,
    query: list[str],
    k: int,
    min_df: int = 2,
    max_df: int = 10_000,
    syn_weight: float = SYN_WEIGHT,
    min_pair_count: int = 2,
) -> DataFrame:
    """(doc_id, score) top-k BM25 with each query term expanded by its
    best corpus-PMI partner at ``syn_weight`` — the automatic analog of
    ``synonym_bm25_search``'s config thesaurus."""
    nbrs = pmi_neighbors(searcher, query, min_df, max_df, min_pair_count)
    synonyms = {q: [n] for q, n in nbrs.items()}
    return synonym_bm25_search(searcher, query, synonyms, k, syn_weight=syn_weight)
