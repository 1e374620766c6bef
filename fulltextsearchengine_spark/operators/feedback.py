"""RM3 pseudo-relevance feedback: expand the query from its own top
results, then re-score (Lavrenko & Croft 2001; the RM3 interpolation is
the public Anserini/Indri formulation).

The reference engine has no feedback loop — every ReviewSearch query is
one-shot (ReviewSearch.java:65-178). RM3 composes two operators the
engine already has (BM25 scoring + doc-term lookup) into the classic
two-pass shape:

  pass 1  BM25 top-``fb_docs`` (cluster job, pruned In-scan)
  driver  relevance model  P(t|R) = Σ_d  p_d · tf_{t,d} / len_d
          with p_d = score_d / Σ score_d over the feedback docs;
          keep the top-``fb_terms`` terms (weight desc, term asc)
  driver  interpolate  w_t = α · P(t|q)  +  (1−α) · P(t|R)
          where P(t|q) = qtf_t / |q| over the folded query
  pass 2  weighted BM25 over the expanded term set (cluster job)

Scale shape: the driver step touches ``fb_docs`` documents' term rows —
O(fb_docs · avg unique terms) ≈ a few hundred rows regardless of corpus
size (the same bounded-collect contract as morelikethis.doc_query_terms
and WAND's k-merge). Both cluster passes are ordinary pruned
posting-scan aggregations; pass 2's term set is ≤ |q| + fb_terms, so
its ``In`` filter stays pushdown-sized.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bm25
from .search import Searcher, normalize_query

RM3_FB_DOCS = 10
RM3_FB_TERMS = 8
RM3_ORIG_WEIGHT = 0.5


def rm3_expand(
    searcher: Searcher,
    query: list[str],
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    orig_weight: float = RM3_ORIG_WEIGHT,
) -> dict[str, float]:
    """The interpolated query model: term -> weight (weights sum to 1
    when both components are non-empty). Deterministic: feedback docs
    are the BM25 top-``fb_docs`` (score desc, doc_id asc), expansion
    terms the top-``fb_terms`` by (P(t|R) desc, term asc)."""
    hits = searcher.bm25_search(query, fb_docs).collect()
    q = normalize_query(query)
    qtf = Counter(q)
    p_q = {t: c / len(q) for t, c in qtf.items()} if q else {}
    if not hits:
        return dict(sorted(p_q.items()))

    total = sum(r["score"] for r in hits)
    p_d = {r["doc_id"]: (r["score"] / total if total > 0 else 0.0) for r in hits}
    ids = sorted(p_d)
    fb_rows = (
        searcher.index.postings.filter(F.col("doc_id").isin(ids))
        .select("term", "doc_id", "tf", "doc_len")
        .collect()
    )
    p_r: dict[str, float] = {}
    # accumulate in (term, doc_id) order so the float sum is reproducible
    for r in sorted(fb_rows, key=lambda r: (r["term"], r["doc_id"])):
        p_r[r["term"]] = p_r.get(r["term"], 0.0) + p_d[r["doc_id"]] * (
            r["tf"] / r["doc_len"]
        )
    top = sorted(p_r.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
    exp_total = sum(w for _, w in top)
    p_exp = {t: (w / exp_total if exp_total > 0 else 0.0) for t, w in top}

    out: dict[str, float] = {}
    for t in sorted(set(p_q) | set(p_exp)):
        out[t] = orig_weight * p_q.get(t, 0.0) + (1.0 - orig_weight) * p_exp.get(
            t, 0.0
        )
    return out


def bm25_weighted_scores(
    searcher: Searcher,
    weights: dict[str, float],
    min_should_match: int = 1,
) -> DataFrame:
    """(doc_id, score): Σ_t w_t · idf_t · tf(K1+1)/(tf + K1(1−B+B·len/avgdl))
    — bm25_scores with a per-term multiplier: the Searcher's one BM25
    core with the weight folded into idf, so the plan is bm25_scores'.
    ``min_should_match``: m-of-n distinct-term matching over the
    positively weighted terms, same semantics as bm25_scores_msm — so
    query-time boosts (queryparse ``term^2.5``) compose with ``mm:N``."""
    boosts = {t.lower(): w for t, w in weights.items() if w > 0.0}
    terms = bm25.query_terms(boosts, min_should_match)
    return searcher._bm25(terms, min_should_match, boosts)


def query_clarity(
    searcher: Searcher,
    queries: dict[str, list[str]],
    fb_docs: int = RM3_FB_DOCS,
) -> DataFrame:
    """(query_id, clarity_micro, n_fb): the Clarity score — query
    performance prediction (Cronen-Townsend, Zhou & Croft, SIGIR'02):

        clarity(q) = Σ_t  P(t|R) · log2( P(t|R) / P(t|C) )

    the KL divergence between the query's relevance model (the same
    score-weighted top-``fb_docs`` language model RM3 builds) and the
    collection model P(t|C) = cf_t / total_tokens. High clarity = the
    top results speak a focused vocabulary (the query will likely
    perform well); clarity near 0 = the results look like the corpus
    background (ambiguous query). The standard pre-retrieval triage
    signal for routing queries to expansion/feedback.

    Batch shape — THREE cluster jobs for the whole query set, each
    eval-set-sized (the rm3_expand bounded-collect contract): one
    bm25_search_batch over all queries, one pruned postings collect for
    the union of feedback doc_ids, one terms lookup for the union of
    their terms. Queries with no results report clarity 0, n_fb 0.
    Float sums accumulate in (term, doc_id) order, so the score is
    reproducible across partitionings."""
    spark = searcher.index.postings.sparkSession
    folded = {qid: normalize_query(q) for qid, q in queries.items()}
    res = searcher.bm25_search_batch(
        {qid: q for qid, q in folded.items() if q}, fb_docs
    )
    hits: dict[str, list] = {qid: [] for qid in queries}
    for r in res.collect():
        hits[r["query_id"]].append(r)

    all_ids = sorted({int(r["doc_id"]) for rs in hits.values() for r in rs})
    rows_by_doc: dict[int, list] = {d: [] for d in all_ids}
    if all_ids:
        for r in (
            searcher.index.postings.filter(F.col("doc_id").isin(all_ids))
            .select("term", "doc_id", "tf", "doc_len")
            .collect()
        ):
            rows_by_doc[int(r["doc_id"])].append(r)

    p_r_by_q: dict[str, dict[str, float]] = {}
    for qid, rs in hits.items():
        total = sum(r["score"] for r in rs)
        p_d = {int(r["doc_id"]): (r["score"] / total if total > 0 else 0.0) for r in rs}
        p_r: dict[str, float] = {}
        fb_rows = [row for d in sorted(p_d) for row in rows_by_doc[d]]
        for row in sorted(fb_rows, key=lambda r: (r["term"], r["doc_id"])):
            p_r[row["term"]] = p_r.get(row["term"], 0.0) + p_d[int(row["doc_id"])] * (
                row["tf"] / row["doc_len"]
            )
        p_r_by_q[qid] = p_r

    all_terms = sorted({t for pr in p_r_by_q.values() for t in pr})
    cf = {t: c for t, (_, c) in searcher.term_stats(all_terms).items()} if all_terms else {}
    total_tokens = searcher.stats["total_tokens"]

    out = []
    for qid in sorted(queries):
        p_r = p_r_by_q.get(qid, {})
        clarity = 0.0
        for t in sorted(p_r):
            p_c = cf[t] / total_tokens
            if p_r[t] > 0.0 and p_c > 0.0:
                clarity += p_r[t] * math.log2(p_r[t] / p_c)
        out.append((qid, int(round(clarity * 1e6)), len(hits.get(qid, []))))
    return spark.createDataFrame(
        out, "query_id string, clarity_micro long, n_fb long"
    )


def rm3_search(
    searcher: Searcher,
    query: list[str],
    k: int = 10,
    fb_docs: int = RM3_FB_DOCS,
    fb_terms: int = RM3_FB_TERMS,
    orig_weight: float = RM3_ORIG_WEIGHT,
) -> DataFrame:
    """Top-k docs under the RM3-expanded weighted BM25 (score desc,
    doc_id asc — TakeOrderedAndProject)."""
    weights = rm3_expand(searcher, query, fb_docs, fb_terms, orig_weight)
    return (
        bm25_weighted_scores(searcher, weights)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
