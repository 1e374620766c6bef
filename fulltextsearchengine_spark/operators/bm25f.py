"""BM25F: field-weighted ranking where the document is the CONVERSATION
and the fields are the speaker roles (user / assistant / system / tool).

The reference engine scores single turns only (ReviewSearch.java has one
granularity — the review); transcripts have a natural second granularity
the reference's Amazon-review corpus lacks: a conversation is a
structured document whose parts carry different weight (a term in the
user's request usually matters more than the same term in a tool dump).
BM25F (Zaragoza et al., CIKM 2004 — the "simple BM25F" variant) is the
standard public formulation:

    tfw(t, c) = Σ_f  w_f · tf_{t,c,f} / (1 − b + b · len_{c,f} / avglen_f)
    score(c)  = Σ_t  idf(t) · tfw(t, c) / (k1 + tfw(t, c))

with idf(t) = ln((N − df_t + 0.5)/(df_t + 0.5) + 1) over CONVERSATION
df (Lucene-style non-negative idf, same form as the turn-level BM25),
N = number of conversations, and avglen_f = mean field length over the
(conv, field) pairs where the field is present. k1 and b are the
constants ``BM25F_K1``/``BM25F_B``; no scorer here takes them as
arguments.

Scale shape (100 TB): the build is two hash aggregations over one
tokenize scan — (conv, role, term) tf and (conv, role) field length —
both keyed and partial-agg friendly, plus a conv-level df agg; all are
persistable index tables (build once, query many). A query prunes
field_postings with a pushed ``In(term, …)`` filter, joins field
lengths on (conv_id, role) — co-partitioned if both tables are written
bucketed by conv_id — and finishes with two keyed aggs and a
TakeOrderedAndProject. No UDFs anywhere; everything is whole-stage
codegen.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import tokens_col
from . import bm25

BM25F_K1 = 1.2
BM25F_B = 0.75
# Role weights: the user's words define the information need; assistant
# prose is the bulk signal; system/tool text is boilerplate-heavy.
ROLE_WEIGHTS = {"user": 2.0, "assistant": 1.0, "system": 0.5, "tool": 0.5}


@dataclass
class FieldIndex:
    """Conversation-granularity field index (persistable like the core
    index tables; kept as DataFrames here — callers may write/read them
    parquet-bucketed by conv_id for co-partitioned query joins)."""

    field_postings: DataFrame  # (conv_id, role, term, tf)
    field_lens: DataFrame  # (conv_id, role, flen)
    conv_terms: DataFrame  # (term, df) — conversation-level df
    num_convs: int
    avg_flen: dict[str, float]  # role -> mean flen over present fields
    field_counts: dict[str, int]  # role -> #convs where the field is present


def build_field_index(transcripts: DataFrame) -> FieldIndex:
    """One tokenize pass over the transcripts → the three BM25F tables.

    The exploded (conv, role, term) frame feeds both aggregations; Spark
    computes them as two jobs over the same scan (or one shared scan if
    the caller caches ``toks`` — at index-build scale the scan is the
    cheap part, the shuffles dominate and are unavoidable either way).
    """
    with_toks = transcripts.select(
        "conv_id", "role", tokens_col(F.col("text")).alias("toks")
    )
    toks = with_toks.select("conv_id", "role", F.explode("toks").alias("term"))
    field_postings = toks.groupBy("conv_id", "role", "term").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    # field presence = the role APPEARS in the conversation (turn-level,
    # so all-empty-text fields still count into avglen_f with length 0 —
    # the explode-derived variant would silently drop them)
    field_lens = with_toks.groupBy("conv_id", "role").agg(
        F.sum(F.size("toks")).cast("long").alias("flen")
    )
    conv_terms = (
        field_postings.select("conv_id", "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    num_convs = transcripts.select("conv_id").distinct().count()
    avg_rows = field_lens.groupBy("role").agg(
        F.avg("flen").alias("a"), F.count(F.lit(1)).alias("n")
    ).collect()
    avg_flen = {r["role"]: float(r["a"]) for r in avg_rows}
    field_counts = {r["role"]: int(r["n"]) for r in avg_rows}
    return FieldIndex(
        field_postings, field_lens, conv_terms, num_convs, avg_flen, field_counts
    )


def bm25f_scores(
    fidx: FieldIndex,
    query: list[str],
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """(conv_id, score) for every conversation containing ≥1 query term
    (OR-union candidates, like every scorer in search.py)."""
    weights = weights or ROLE_WEIGHTS
    terms = sorted({t.lower() for t in query})
    if not terms:
        return _empty(fidx)
    df_rows = (
        fidx.conv_terms.filter(F.col("term").isin(terms)).collect()
    )  # ≤|q| rows — driver-sized, same pattern as Searcher.term_stats
    n = fidx.num_convs
    idf = {r["term"]: bm25.idf(n, r["df"]) for r in df_rows if r["df"] > 0}
    terms = sorted(idf)
    if not terms:
        return _empty(fidx)

    # per-(conv, role, term) weighted length-normalized tf contribution.
    # weight / avg_flen are per-role driver constants folded into a CASE.
    w_col = F.lit(0.0)
    for role in sorted(fidx.avg_flen):
        w = float(weights.get(role, 0.0))
        w_col = F.when(F.col("role") == role, F.lit(w)).otherwise(w_col)
    norm_col = _norm_col(fidx)

    fp = fidx.field_postings.filter(F.col("term").isin(terms))
    contrib = (
        fp.join(fidx.field_lens, ["conv_id", "role"])
        .select(
            "conv_id",
            "term",
            (w_col * F.col("tf") / norm_col).alias("wtf"),
        )
        .groupBy("conv_id", "term")
        .agg(F.sum("wtf").alias("tfw"))
    )
    # idf is a ≤|q|-entry CASE on term — no join needed
    idf_col = F.lit(0.0)
    for t in terms:
        idf_col = F.when(F.col("term") == t, F.lit(idf[t])).otherwise(idf_col)
    per_term = contrib.select(
        "conv_id",
        (idf_col * F.col("tfw") / (F.lit(BM25F_K1) + F.col("tfw"))).alias("s"),
    )
    return per_term.groupBy("conv_id").agg(F.sum("s").alias("score"))


def bm25f_search(
    fidx: FieldIndex,
    query: list[str],
    k: int = 10,
    weights: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k conversations: score desc, conv_id asc —
    TakeOrderedAndProject, same top-k physical shape as Searcher.topk."""
    return (
        bm25f_scores(fidx, query, weights=weights)
        .orderBy(F.desc("score"), F.asc("conv_id"))
        .limit(k)
    )


def _empty(fidx: FieldIndex) -> DataFrame:
    spark = fidx.field_postings.sparkSession
    return spark.createDataFrame([], "conv_id string, score double")


def _norm_col(fidx: FieldIndex):
    """1 − b + b·flen/avglen_f (b = BM25F_B) as a CASE over the role fields."""
    norm_col = F.lit(1.0)
    for role, avg in sorted(fidx.avg_flen.items()):
        norm_col = F.when(
            F.col("role") == role,
            F.lit(1.0 - BM25F_B) + F.lit(BM25F_B) * F.col("flen") / F.lit(avg),
        ).otherwise(norm_col)
    return norm_col


def _per_field_scores(fidx, query, tie_breaker, idf_col_of) -> DataFrame:
    """The body dismax and cross_fields share: one pushed In(term,…)
    scan, per-(term, role) df collected driver-side (≤ |q|·|roles|
    rows), per-field BM25 with the idf CASE ``idf_col_of(df_rows)``
    builds, then max + tie·(Σ − max) per (conv, term), summed per conv."""
    if not 0.0 <= tie_breaker <= 1.0:
        raise ValueError(f"tie_breaker must be in [0, 1], got {tie_breaker}")
    terms = sorted({t.lower() for t in query})
    if not terms:
        return _empty(fidx)
    fp = fidx.field_postings.filter(F.col("term").isin(terms))
    df_rows = fp.groupBy("term", "role").agg(
        F.count(F.lit(1)).alias("df")
    ).collect()  # ≤ |q|·|roles| rows — driver-sized
    if not df_rows:
        return _empty(fidx)
    idf_col = idf_col_of(df_rows)
    s = fp.join(fidx.field_lens, ["conv_id", "role"]).select(
        "conv_id",
        "term",
        (idf_col * F.col("tf") / (F.col("tf") + F.lit(BM25F_K1) * _norm_col(fidx))).alias("s"),
    )
    per_term = s.groupBy("conv_id", "term").agg(
        F.max("s").alias("mx"), F.sum("s").alias("tot")
    )
    return (
        per_term.select(
            "conv_id",
            (
                F.col("mx")
                + F.lit(tie_breaker) * (F.col("tot") - F.col("mx"))
            ).alias("d"),
        )
        .groupBy("conv_id")
        .agg(F.sum("d").alias("score"))
    )


# ---------------------------------------------------------------- dismax
# Lucene DisjunctionMaxQuery / Elasticsearch multi_match "best_fields"
# (public semantics: Lucene DisMaxQuery.java docs; tie_breaker per the
# ES multi-match reference). Where BM25F blends fields INSIDE the term
# saturation (one weighted tf), dismax scores each field independently
# with that field's own statistics and takes, per term,
#
#     d(t, c) = max_f s(t, c, f) + tie · (Σ_f s(t, c, f) − max_f …)
#     score(c) = Σ_t d(t, c)
#
# with the per-field Lucene BM25
#
#     s(t, c, f) = idf_f(t) · tf / (tf + k1·(1 − b + b·len_{c,f}/avglen_f))
#     idf_f(t)   = ln((N_f − df_{t,f} + 0.5)/(df_{t,f} + 0.5) + 1)
#
# where N_f counts conversations where field f is PRESENT and df_{t,f}
# counts conversations whose field f contains t — i.e. each field is its
# own little index, exactly how Lucene scores one TermQuery per field.
# tie=0 is pure best-field; tie=1 degrades to the plain per-field sum.
#
# Scale shape: one pushed In(term,…) scan of field_postings; per-field
# df comes from that SAME pruned scan (rows are unique on
# (conv, role, term), so df is a count), collected driver-side
# (≤ |q|·|roles| rows — the Searcher.term_stats pattern); idf/avglen/N_f
# fold into CASE literals; then one (conv_id, role) join against
# field_lens and two keyed aggs. No new exchange vs bm25f_scores.


def dismax_scores(
    fidx: FieldIndex,
    query: list[str],
    tie_breaker: float = 0.0,
) -> DataFrame:
    """(conv_id, score) under best-fields dismax over the role fields."""

    def idf_col(df_rows):
        idf = {
            (r["term"], r["role"]): bm25.idf(fidx.field_counts[r["role"]], r["df"])
            for r in df_rows
        }
        col = F.lit(0.0)
        for (t, role), v in sorted(idf.items()):
            col = F.when((F.col("term") == t) & (F.col("role") == role), F.lit(v)).otherwise(col)
        return col

    return _per_field_scores(fidx, query, tie_breaker, idf_col)


def dismax_search(
    fidx: FieldIndex,
    query: list[str],
    k: int = 10,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """Top-k conversations under dismax: score desc, conv_id asc
    (TakeOrderedAndProject, same shape as bm25f_search)."""
    return (
        dismax_scores(fidx, query, tie_breaker=tie_breaker)
        .orderBy(F.desc("score"), F.asc("conv_id"))
        .limit(k)
    )


# ----------------------------------------------------------- cross_fields
# Elasticsearch multi_match "cross_fields" / Lucene BlendedTermQuery
# (public semantics: Lucene BlendedTermQuery.java docs + the ES
# multi-match reference). Term-centric: the fields are searched as if
# they were ONE field, which means the per-field document frequencies
# must be BLENDED before scoring — otherwise a term that is rare in one
# field (e.g. a user name in the assistant role) gets a spuriously huge
# idf there and best-fields ranks garbage first. Lucene blends by taking
# the MAX df across the field group and scoring every field's term with
# that shared df:
#
#     df_blend(t) = max_f df_{t,f}        N_blend = max_f N_f
#     idf(t)      = ln((N_blend − df_blend + 0.5)/(df_blend + 0.5) + 1)
#     s(t, c, f)  = idf(t) · tf / (tf + k1·(1 − b + b·len_{c,f}/avglen_f))
#     x(t, c)     = max_f s(t,c,f) + tie · (Σ_f s(t,c,f) − max_f …)
#     score(c)    = Σ_t x(t, c)
#
# i.e. exactly dismax over per-field scores, except idf is the shared
# blended value instead of each field's own (tie=0.0, the ES default,
# is pure best-field on the blended scores). The length normalization
# stays per-field — that part of the statistics is genuinely per-field
# in Lucene too (each field keeps its own norms).
#
# Scale shape: identical to dismax_scores — one pushed In(term,…) scan
# of field_postings feeds both the driver-sized df collect (≤|q|·|roles|
# rows) and the scoring join; blending happens driver-side on those few
# rows; idf/avglen fold into CASE literals; then one (conv_id, role)
# join + two keyed aggs + TakeOrderedAndProject. No new exchange.


def cross_fields_scores(
    fidx: FieldIndex,
    query: list[str],
    tie_breaker: float = 0.0,
) -> DataFrame:
    """(conv_id, score) under cross-fields blended-df scoring."""

    def idf_col(df_rows):
        df_blend: dict[str, int] = {}
        for r in df_rows:
            df_blend[r["term"]] = max(df_blend.get(r["term"], 0), int(r["df"]))
        n_blend = max(fidx.field_counts.values())
        col = F.lit(0.0)
        for t, d in sorted(df_blend.items()):
            col = F.when(F.col("term") == t, F.lit(bm25.idf(n_blend, d))).otherwise(col)
        return col

    return _per_field_scores(fidx, query, tie_breaker, idf_col)


def cross_fields_search(
    fidx: FieldIndex,
    query: list[str],
    k: int = 10,
    tie_breaker: float = 0.0,
) -> DataFrame:
    """Top-k conversations under cross-fields: score desc, conv_id asc."""
    return (
        cross_fields_scores(fidx, query, tie_breaker=tie_breaker)
        .orderBy(F.desc("score"), F.asc("conv_id"))
        .limit(k)
    )
