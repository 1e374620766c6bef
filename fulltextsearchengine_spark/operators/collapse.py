"""Result collapsing: top-k with at most ``per_conv`` hits per
conversation (the Elasticsearch ``collapse`` / Solr field-collapsing
pattern, and the "diversity by source" convention in web search).

The reference engine returns raw turn-level top-k; a transcript corpus
makes one long on-topic conversation monopolize the page. Collapsing
keeps the BEST ``per_conv`` turns per conv_id, then takes the global
top-k over the survivors — scoring math untouched (filter, don't
re-weight).

Plan shape at scale: candidates are the pruned OR-union of the query
terms' postings (query-sized, not corpus-sized); the conv_id attach is
one join against docs that AQE broadcasts at candidate scale; the
per-conv rank window + ``rn <= per_conv`` filter is rewritten by
Catalyst to WindowGroupLimit — a map-side bounded per-group heap, no
full sort of the candidate set (same rewrite the faceted-search
operator relies on, operators/facets.py); the final top-k is
TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .search import Searcher


def collapsed_bm25_search(
    searcher: Searcher,
    query: list[str] | None = None,
    k: int = 10,
    per_conv: int = 1,
    scores: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, conv_id, score) top-k, ≤ ``per_conv`` rows per conv_id;
    order (score desc, doc_id asc) at both the within-conv and global
    stage — fully deterministic. ``scores``: optional pre-scored
    (doc_id, score) frame — collapse then dedups THAT candidate set, so
    any scorer composes (msm, boolean, filtered) without a second
    scoring pass; exactly one of ``query``/``scores``."""
    if per_conv < 1:
        raise ValueError(f"per_conv must be >= 1, got {per_conv}")
    if (query is None) == (scores is None):
        raise ValueError("pass exactly one of query= or scores=")
    if scores is None:
        scores = searcher.bm25_scores(query)
    with_conv = scores.join(
        searcher.index.docs.select("doc_id", "conv_id"), "doc_id"
    )
    w = Window.partitionBy("conv_id").orderBy(F.desc("score"), F.asc("doc_id"))
    best = (
        with_conv.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= per_conv)
        .drop("rn")
    )
    return best.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
