"""Conversation upsert: replace (or add) whole conversations in a
standing index WITHOUT re-tokenizing the standing corpus, with the
result batch-identical to a from-scratch rebuild.

The reference's only mutation path is rebuild-from-scratch
(IndexWriter re-runs SPIMI over the full corpus); transcripts are
live objects — a conversation gains turns, gets redacted, or is
re-ingested after a parser fix — so the engine needs a delta path. The
deployment-shaped composition of operators the repo already has:

  1. tokenize ONLY the delta (build_index over new_transcripts),
  2. drop the replaced conversations' rows from the standing
     docs/postings (one semi-join-free conv_id filter on docs, one
     doc_id semi-join for postings — at 100 TB this prunes to the
     replaced convs' doc-ranges via the sorted layout),
  3. union standing-kept + delta (delta docIDs offset past the
     standing num_docs, merge_indexes' positional-disambiguation rule),
  4. one _fold: re-rank docIDs dense by (conv_id, turn_idx), remap
     postings through one join, rewrite terms/stats/conv_ranges.

Identity to a full rebuild holds because every derived quantity (df,
cf, doc_len, global stats, docID order) is a pure function of the
post-upsert (conv_id, turn_idx, text) multiset — pytest asserts
table-level equality against build_index over the patched corpus, and
the ftse_upsert_bm25 gate re-derives the patched corpus in SQL.

Upsert semantics: every conv_id present in ``new_transcripts`` is
replaced wholesale (a conversation is the atomic unit — partial turn
patches are a conv-level rewrite upstream); conv_ids not in the
standing index are plain inserts. Deletes are the existing tombstone
path (operators/deletes.py), not this operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .index_build import DOC_COLS, POSTING_COLS, InvertedIndex, build_index


def upsert_conversations(
    old_index: InvertedIndex, new_transcripts: DataFrame, out_dir: str
) -> None:
    """Write the post-upsert index to ``out_dir`` (batch layout).

    One delta tokenize + three joins + the standard fold; the standing
    corpus's text is never re-read.
    """
    replaced = new_transcripts.select("conv_id").distinct()
    delta = build_index(new_transcripts)

    kept_docs = old_index.docs.join(F.broadcast(replaced), "conv_id", "left_anti")
    kept_postings = old_index.postings.join(
        kept_docs.select("doc_id"), "doc_id", "left_semi"
    )

    offset = int(old_index.stats_row()["num_docs"])
    delta_docs = delta.docs.withColumn("doc_id", F.col("doc_id") + F.lit(offset))
    delta_postings = delta.postings.withColumn(
        "doc_id", F.col("doc_id") + F.lit(offset)
    )

    d_all = kept_docs.select(*DOC_COLS).unionByName(delta_docs.select(*DOC_COLS))
    p_all = kept_postings.select(*POSTING_COLS).unionByName(
        delta_postings.select(*POSTING_COLS)
    )

    from ..streaming.stream_index import _fold

    _fold(p_all, d_all, out_dir)
