"""Incremental (streaming) index build — append-only segments.

The reference cannot index incrementally (SURVEY.md §2.9). The scalable
streaming analog is the Lucene/segment model: each micro-batch of new
transcript turns becomes an immutable index SEGMENT (its own docs/
postings/terms/stats tables built by the batch pipeline); readers merge
df/cf/postings across segments at query time (cheap unions + one agg),
and a compaction job can fold segments together offline.

Segment-local docIDs are globalized by a per-segment ``doc_base``
offset: segment k's docs occupy (base, base + num_docs], assigned in
batch-id order — the arrival-order docID contract (IndexWriter.java:
47-58) extended to micro-batches.

Driven by ``foreachBatch`` + ``trigger(availableNow=True)`` so the same
code serves backfill (process a parquet lake to completion) and tailing
(continuous micro-batches with checkpoint/restart exactly-once).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index_build import (
    DOC_COLS,
    POSTING_COLS,
    build_and_save_index,
    derive_index,
    terms_of,
    write_index,
)
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def run_incremental_index(
    spark: SparkSession,
    input_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    await_termination: bool = True,
):
    """Stream transcript parquet drops from ``input_dir`` into index
    segments under ``index_dir``/seg=<batch_id>. Exactly-once per batch
    via the streaming checkpoint; doc_base bookkeeping rides in a
    _segments.json manifest next to the segments."""
    manifest_path = f"{index_dir}/_segments.json"

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        seg_path = f"{index_dir}/seg={batch_id}"
        n = int(build_and_save_index(batch_df, seg_path).stats_row()["num_docs"])
        # manifest update — driver-side, single writer per stream.
        # Local-FS file IO; a cluster deployment swaps these two calls
        # for the Hadoop FileSystem API (same pattern as plans/lineage.py).
        import os

        os.makedirs(os.path.dirname(manifest_path), exist_ok=True)
        try:
            with open(manifest_path) as f:
                manifest = json.load(f)
        except (FileNotFoundError, OSError):
            manifest = {"segments": []}
        if any(s["batch_id"] == batch_id for s in manifest["segments"]):
            return  # replayed batch (restart): segment already recorded
        base = sum(s["num_docs"] for s in manifest["segments"])
        manifest["segments"].append(
            {"batch_id": batch_id, "path": seg_path, "doc_base": base, "num_docs": n}
        )
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(input_dir)
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def load_segments(spark: SparkSession, index_dir: str) -> list[dict]:
    with open(f"{index_dir}/_segments.json") as f:
        return json.load(f)["segments"]


def _merged(spark: SparkSession, index_dir: str, table: str) -> DataFrame:
    out = None
    for s in load_segments(spark, index_dir):
        t = spark.read.parquet(f"{s['path']}/{table}").withColumn(
            "doc_id", F.col("doc_id") + F.lit(s["doc_base"])
        )
        out = t if out is None else out.unionByName(t)
    return out


def merged_postings(spark: SparkSession, index_dir: str) -> DataFrame:
    """Union of all segment postings with globalized doc_ids. Same
    (term, doc_id, tf, doc_len) contract as the batch postings table, so
    every scorer works unchanged over an incrementally-built index."""
    return _merged(spark, index_dir, "postings")


def merged_docs(spark: SparkSession, index_dir: str) -> DataFrame:
    return _merged(spark, index_dir, "docs")


def merge_segment_stats(spark: SparkSession, index_dir: str) -> dict:
    """Global stats across segments (df/cf re-aggregated — duplicate
    terms across segments merge exactly like SPIMI run merge)."""
    p = merged_postings(spark, index_dir)
    terms = terms_of(p)
    row = (
        p.agg(
            F.sum("tf").alias("total_tokens"),
            F.count(F.lit(1)).alias("num_pairs"),
            F.countDistinct("doc_id").alias("num_docs_with_terms"),
        )
        .crossJoin(terms.agg(F.count(F.lit(1)).alias("unique_terms")))
        .collect()[0]
    )
    return row.asDict()


def load_segmented_index(spark: SparkSession, index_dir: str):
    """Query the segment store DIRECTLY — no compaction pass: an
    `InvertedIndex` whose tables are lazy unions over the live segments
    (search-while-ingesting; run `compact_segments` when the segment
    count grows). df/cf/stats re-aggregate across segments exactly like
    the SPIMI run merge, so every per-turn scorer (BM25 / lnn.ltc / LM /
    WAND over rebuilt blocks) is rank-identical to the same query on the
    compacted or from-scratch index (pytest-asserted).

    Caveat (the reason compaction exists): conv_ranges stores [min, max]
    doc_id per conversation and `Searcher.conv_doc_ids` expands the
    range (ProductIdToDocIdMapper.java:142-151 contract). Segment-local
    doc_base offsets keep each segment contiguous, so ranges are exact
    while no conversation spans a segment boundary; a spanning
    conversation's range also covers unrelated docs between its
    fragments, inflating conv_search candidates (scores stay correct —
    the extra docs score 0 term overlap unless they genuinely match).
    Compaction restores the strict invariant."""
    return derive_index(merged_docs(spark, index_dir), merged_postings(spark, index_dir))


def compact_segments(spark: SparkSession, index_dir: str, out_dir: str) -> None:
    """Fold all segments into one batch-shaped index (the Lucene-merge
    analog of SPIMI's final k-way merge, SPIMIIndexer.java:58-86).

    docIDs are RE-RANKED dense by (conv_id, turn_idx) — same order the
    batch pipeline assigns (docid.assign_doc_ids) — because per-segment
    doc_base offsets break conversation contiguity when a conversation
    spans micro-batches (its turns land in different segments, so its
    global ids are non-adjacent). conv_ranges stores [min, max] and
    Searcher.conv_doc_ids expands that range (the reference's contiguity
    invariant, ProductIdToDocIdMapper.java:142-151), so compaction must
    restore it; after the re-rank the compacted index is IDENTICAL to a
    from-scratch batch build over the concatenated input. Postings remap
    via one doc_id join (offline, amortized). terms/stats/conv_ranges
    recomputed. The result is loadable by ``load_index`` and serves all
    scorers identically to a from-scratch batch build."""
    _fold(
        merged_postings(spark, index_dir),
        merged_docs(spark, index_dir),
        out_dir,
    )


def merge_indexes(spark: SparkSession, index_paths: list[str], out_dir: str) -> None:
    """Offline N-way merge of independently-built batch indexes into one
    (the incremental-ingest fold: build today's increment alone, merge
    with the standing index — no re-tokenization of the standing 100 TB).

    Unlike streaming segments there is no manifest: each input index has
    its own dense 1-based docID space, so doc_ids collide across inputs.
    They are disambiguated positionally (offset by the cumulative
    num_docs of the preceding inputs — one tiny count job per input,
    num_docs is in each stats table) and then re-ranked dense by
    (conv_id, turn_idx) exactly like segment compaction, so the result
    is IDENTICAL to a from-scratch batch build over the concatenated
    corpora (pytest-asserted table equality + ftse_merge_compact gate).
    Postings remap through one doc_id join; text is never re-read."""
    p_all, d_all, base = None, None, 0
    for path in index_paths:
        n = spark.read.parquet(f"{path}/stats").collect()[0]["num_docs"]
        p = spark.read.parquet(f"{path}/postings").withColumn(
            "doc_id", F.col("doc_id") + F.lit(base)
        )
        d = spark.read.parquet(f"{path}/docs").withColumn(
            "doc_id", F.col("doc_id") + F.lit(base)
        )
        p_all = p if p_all is None else p_all.unionByName(p)
        d_all = d if d_all is None else d_all.unionByName(d)
        base += int(n)
    _fold(p_all, d_all, out_dir)


def _fold(p_old: DataFrame, d_old: DataFrame, out_dir: str) -> None:
    """Shared fold core: re-rank docIDs dense by (conv_id, turn_idx),
    remap postings via one join, then ``write_index`` — the batch
    build's writer, so the result has the batch layout."""
    from ..operators.docid import assign_doc_ids

    d_old = d_old.withColumnRenamed("doc_id", "_old_doc_id")
    d_new = assign_doc_ids(d_old)  # dense rank over (conv_id, turn_idx)
    mapping = d_new.select("_old_doc_id", F.col("doc_id").alias("_new_doc_id"))
    d = d_new.drop("_old_doc_id").select(*DOC_COLS)
    p = (
        p_old.withColumnRenamed("doc_id", "_old_doc_id")
        .join(mapping, "_old_doc_id")
        .drop("_old_doc_id")
        .withColumnRenamed("_new_doc_id", "doc_id")
        .select(*POSTING_COLS)
    )
    write_index(p, d, out_dir, release=d_new._ftse_persisted)
