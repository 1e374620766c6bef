"""Score explanation — the Lucene ``Explanation``/Elasticsearch
``_explain`` analog: per-(doc, term) BM25 breakdown for a query's top-k
results, for relevance debugging and ranking-change review.

The reference engine returns opaque scores (ReviewSearch.java:65-104);
when a ranking change ships (new scorer, synonym map, recency decay),
the first question is "why did THIS doc move" — answered by the
term-level decomposition, not the total.

Plan shape: the top-k frame is k rows — Spark broadcasts it into the
pruned postings scan (one BroadcastHashJoin, no extra shuffle beyond
the scorer's own); df/idf are driver-side literals folded into a
when-chain (query terms are few), so the explanation costs one
candidate-restricted scan on top of the search itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bm25
from .search import Searcher, normalize_query


def explain_bm25(searcher: Searcher, query: list[str], k: int) -> DataFrame:
    """One row per (doc_id, term) with term present in a top-k doc:
    (doc_id, term, tf, doc_len, df, idf, contrib, score) where
    contrib = idf·tf·(K1+1)/(tf + K1·(1−B+B·doc_len/avgdl)) and score
    is the doc's total (the sum of its contribs — absent query terms
    contribute exactly 0 in BM25, so rows are emitted only for matches).
    """
    stats = searcher.term_stats(normalize_query(query))
    idf = searcher.bm25_idf(stats)
    top = searcher.topk(searcher.bm25_scores(query), k)  # (doc_id, score), k rows
    # an all-OOV query scans In(term, []): the optimizer folds it to an
    # empty relation with the same columns
    p = searcher.postings_for(sorted(idf)).join(
        F.broadcast(top), "doc_id"
    )
    df_col = F.lit(None).cast("bigint")
    idf_col = F.lit(None).cast("double")
    for t in sorted(idf):
        df_col = F.when(F.col("term") == t, F.lit(stats[t][0])).otherwise(df_col)
        idf_col = F.when(F.col("term") == t, F.lit(idf[t])).otherwise(idf_col)
    contrib = bm25.tf_weight_col(idf_col, F.col("tf"), bm25.length_norm_col(searcher.avgdl))
    return p.select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("doc_len").cast("bigint").alias("doc_len"),
        df_col.alias("df"),
        idf_col.alias("idf"),
        contrib.alias("contrib"),
        "score",
    )
