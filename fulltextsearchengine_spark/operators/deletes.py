"""Index deletion — S10 (SURVEY §2.1) as a first-class operation.

The reference's only delete is ``removeIndex`` — wipe the directory
(src/main/java/webdata/SlowIndexWriter.java analog; IndexWriter has the
same all-or-nothing semantics). A long-lived 10^12-turn index needs
finer grain: remove a conversation (takedown, opt-out, contamination
hit) without a full rebuild. We use the standard two-phase design of
segmented search engines (Lucene-style deleted-docs bitset; public
knowledge):

1. **Tombstone** (`tombstones_for_convs`): a tiny ``(doc_id)`` frame.
   Search applies it as a broadcast anti-join on the candidate set —
   global stats (df/cf/avgdl) deliberately stay at their pre-delete
   values until a purge, so surviving docs' scores are stable between
   delete and merge (exactly Lucene's visible semantics: deleted docs
   vanish from results immediately; IDF drifts only at merge time).
2. **Purge** (`purge_deletes`): fold tombstones into the tables — drop
   posting/doc rows, recompute ``terms``/``stats``/``conv_ranges`` from
   the survivors. One pass, same shuffle shape as the build's A4/A6
   aggregations. doc_ids are NOT re-densified (they are stable keys;
   re-densifying is a full rebuild via ``build_index``).

Scale shape: tombstones are doc-id longs — thousands-to-millions of
rows even for a large takedown, i.e. broadcastable next to a 10^12-row
postings table, so the anti-join is a BroadcastHashJoin(LeftAnti) with
**zero** extra shuffles on the big side. ``purge_deletes`` streams the
full postings table once (unavoidable: df/cf must be recomputed) and
keeps the sorted-by-(term, doc_id) layout intact because an anti-join
filter preserves partitioning and order.

Invariant note: conv→docID contiguity (A8) survives ONLY whole-conv
deletion. Per-doc tombstones are therefore a search-time feature; by
default purge drops conv_ranges rows whose span lost interior docs
(keeping ``sequence``-expansion sound), and ``allow_partial_convs=True``
keeps them with ``n_docs`` as the non-contiguity audit field.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index_build import InvertedIndex, derive_index


def tombstones_for_convs(index: InvertedIndex, conv_ids: list[str]) -> DataFrame:
    """conv_ids → ``(doc_id)`` tombstone frame via the conv_ranges table
    (the ProductIdToDocIdMapper analog, SURVEY §2.4 J4): ranges expand
    with ``sequence`` — no scan of docs or postings."""
    ids = sorted({c.lower() for c in conv_ids})
    if not ids:
        return index.conv_ranges.sparkSession.range(0).select(
            F.col("id").alias("doc_id")
        )
    return (
        index.conv_ranges.filter(F.col("conv_id").isin(ids))
        .select(F.explode(F.sequence("from_doc_id", "to_doc_id")).alias("doc_id"))
    )


def exclude_docs(scores: DataFrame, tombstones: DataFrame) -> DataFrame:
    """Apply tombstones to any ``(doc_id, …)`` frame as a broadcast
    anti-join (the Lucene deleted-bitset check). The big side keeps its
    partitioning — no shuffle."""
    return scores.join(
        F.broadcast(tombstones.select("doc_id").distinct()), "doc_id", "left_anti"
    )


def purge_deletes(
    index: InvertedIndex,
    tombstones: DataFrame,
    allow_partial_convs: bool = False,
) -> InvertedIndex:
    """Fold tombstones into the index tables (the Lucene merge step).

    Returns a logical InvertedIndex over the surviving rows; persist it
    with ``write_index(idx.postings, idx.docs, path)`` to make the purge
    durable. ``terms``, ``conv_ranges`` and ``stats`` are re-derived from
    the surviving rows by the build's own functions (``derive_index``),
    so df/cf now reflect the post-delete corpus. With
    ``allow_partial_convs`` False (default) conv_ranges keeps only convs
    whose full span survived (whole-conv deletes: a no-op; per-doc
    deletes: broken rows dropped so ``sequence``-expansion stays sound).
    True keeps every conv with ``n_docs`` as the non-contiguity audit
    field.
    """
    tomb = F.broadcast(tombstones.select("doc_id").distinct())
    purged = derive_index(
        docs=index.docs.join(tomb, "doc_id", "left_anti"),
        postings=index.postings.join(tomb, "doc_id", "left_anti"),
    )
    if allow_partial_convs:
        return purged
    # whole-conv contract: every surviving conv keeps its full span, so
    # n_docs == span everywhere; a violation means the caller passed
    # per-doc tombstones — drop the broken rows to keep conv_ranges
    # sequence-safe.
    return replace(
        purged,
        conv_ranges=purged.conv_ranges.filter(
            F.col("n_docs") == F.col("to_doc_id") - F.col("from_doc_id") + F.lit(1)
        ),
    )
