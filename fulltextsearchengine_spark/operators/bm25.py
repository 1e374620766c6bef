"""The one BM25 definition every turn-level scorer shares: k1, b, the
idf, the tf-side weight and the minimum_should_match rule.

    idf(t)   = ln(1 + (N − df_t + 0.5)/(df_t + 0.5))   (Lucene's non-negative form)
    score(d) = Σ_t idf(t) · tf·(K1+1) / (tf + K1·(1 − B + B·len_d/avgdl))

K1 and B are constants, not arguments: the build-time block bounds
(posting_blocks.py ``max_impact``) are fixed when the blocks are written,
so a scorer running with other values would prune on bounds of a
different score and lose exactness without a word. The tf-side weight
exists once in two forms, ``tf_weight`` (numpy: the ``max_impact``
build, WAND's kernel and θ seed, LocalBM25's decoded cache) and
``tf_weight_col`` (Spark Columns: the DataFrame scorers, explain, the
batch scorer and the champion tier), so WAND's pruning bounds and the
scores they bound cannot drift apart. ``oracle.py`` and ``sql.py`` keep
their own copies on purpose: they are the independent references the
tests compare against. BM25F's field model keeps its own k1/b
(bm25f.py) but takes its idf from here.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def idf(n: int, df: int) -> float:
    """Robertson/Sparck-Jones idf over ``n`` documents, ``df`` of which
    hold the term."""
    return math.log((n - df + 0.5) / (df + 0.5) + 1.0)


def tf_weight(w, tf, dl, avgdl: float):
    """w·tf·(K1+1)/(tf + K1·(1−B+B·dl/avgdl)) over numpy arrays. With
    w = 1.0 it is the idf-free block bound ``max_impact``; 1.0·x == x,
    so every site computes the same doubles."""
    return w * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def length_norm_col(avgdl: float) -> Column:
    """K1·(1−B+B·doc_len/avgdl) as a Column over a ``doc_len`` column.
    Build it once per query and pass it to every ``tf_weight_col``:
    each Column op is a py4j round trip."""
    return F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(avgdl))


def tf_weight_col(w: Column, tf: Column, norm: Column) -> Column:
    """``tf_weight`` as a Column, in the oracle's operation order:
    w·tf·(K1+1)/(tf + norm), with ``norm`` from ``length_norm_col``."""
    return w * tf * F.lit(K1 + 1.0) / (tf + norm)


def pivot_score(w: dict[str, float], avgdl: float, slot: dict[str, str]) -> Column:
    """Σ_t w_t·tf·(K1+1)/(tf + K1·(1−B+B·len/avgdl)) as one Column over a
    (doc_id, doc_len, tf-slot…) pivot, ``slot`` naming each term's tf
    column. Terms add in sorted order (reproducible float sums,
    oracle-identical); a missing slot adds 0 (a no-op on pre-filtered
    pivots whose slots are all set)."""
    norm = length_norm_col(avgdl)
    score = F.lit(0.0)
    for t in sorted(w):
        contrib = tf_weight_col(F.lit(w[t]), F.col(slot[t]), norm)
        score = score + F.coalesce(contrib, F.lit(0.0))
    return score.alias("score")


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
