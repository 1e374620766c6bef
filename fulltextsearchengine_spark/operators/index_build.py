"""Index build pipeline — the SPIMI analog, Spark-first (SURVEY.md §3.1/§7.1).

The reference's run-generation + k-way-merge machinery (spimi/
SPIMIIndexer.java:39-86, sorting/ExternalSorter.java) is deliberately
absent: Spark's partial hash aggregation + sort-based shuffle with spill
IS SPIMI (SURVEY.md §4). What remains is the logical dataflow, and each
step of it is defined once, here:

  transcripts
    → assign_doc_ids (operators/docid.py)
    → tokenize_turns: tokens (functions/tokenize.py, JVM expressions) + doc_len
    → invert: explode → groupBy(term, doc_id, doc_len).count() = tf  [shuffle 1]
    → postings_layout: repartition(term, doc_id >> 20) + sort(term, doc_id)
    → terms_of: groupBy(term).agg(df, cf)          [partial agg map-side]
    → conv_ranges_of: groupBy(conv_id).agg(min/max doc_id, count)
    → stats_of: one global row

Every build path composes these pieces, so the reference's single
indexing path (IndexWriter.write → one SPIMI indexer, IndexWriter.java:
26-64) stays single here:
- ``write_index`` is the one writer: laid-out postings, then docs ∥
  terms, then conv_ranges ∥ stats, all zstd. ``build_and_save_index``
  (batch build and stream segments) and the fold of
  ``streaming/stream_index.py`` (segment compaction, index merge,
  conversation upsert) end in it.
- ``derive_index`` builds the same tables lazily: ``build_index``,
  ``load_segmented_index`` and ``purge_deletes``.
- ``plans/lineage.build_index_checkpointed`` runs the same functions as
  resumable stages.

Produced tables (§7.0 star schema):
- docs(doc_id, conv_id, turn_idx, role, tool, ts, doc_len)
    — CompactReview analog (storage/CompactReview.java:16-33); doc_len is
      int64, NOT the reference's int16 cap (documented deviation §1.2).
- postings(term, doc_id, tf, doc_len)
    — flat posting rows; doc_len denormalized so BM25/LM scoring never
      joins the docs table (8 bytes/posting, the impact-ordered-index
      trade). Compressed block layout lives in posting_blocks.py.
- terms(term, df, cf) — dictionary analog (dictionary/Dictionary.java).
- conv_ranges(conv_id, from_doc_id, to_doc_id, n_docs)
    — ProductIdToDocIdMapper analog (storage/ProductIdToDocIdMapper
      .java:142-201): contiguous because doc_id ranks (conv_id, turn_idx).
- stats: 1 row (total_tokens, unique_terms, num_docs, num_pairs,
  avg_doc_len) — dictionary-stats.bin analog
  (dictionary/SequentialDictionaryBuilder.java:168-175), all int64
  (the reference's int-cast overflow at Dictionary.java:173-175 is NOT
  replicated).

Negative result, removed: a single-shuffle "map-side invert" that
computed per-doc (term, tf) pairs in one Arrow pandas-UDF pass (the
reference's per-doc invert, parsing/Review.java:93-100) and skipped the
(term, doc_id) groupBy. It was value-identical but measured 117 s
against 22 s for explode + groupBy on a 300k-turn corpus: Arrow
conversion of the nested list<struct<term, tf>> column costs far more
than the exchange it saves.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from ..functions.tokenize import tokenize_pandas_udf, tokens_col
from .docid import assign_doc_ids

# Output parquet codec. zstd over the default snappy: ~30-40% smaller
# postings/docs files, which directly shrinks the build's NON-SCALING
# term on disk-bandwidth-bound hosts (the Amdahl serial tail measured in
# BENCH/BASELINE.md) — compression CPU is parallel, disk writes are not.
PARQUET_CODEC = "zstd"

DOC_COLS = ("doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "doc_len")
POSTING_COLS = ("term", "doc_id", "tf", "doc_len")


def _run_jobs(spark: SparkSession, *fns) -> None:
    """Run write-job thunks concurrently, one driver thread each, under
    the caller's Spark local properties (job group, scheduler pool) and
    job tags.

    The small derivation jobs have few tasks and can't fill the cluster
    alone; running two at once hides scheduler + commit latency that
    does NOT shrink with executor count (the Amdahl serial tail in
    BENCH/BASELINE.md). Spark schedules concurrent jobs from one
    application fine (FIFO pools interleave task sets)."""
    with ThreadPoolExecutor(len(fns)) as ex:
        for fut in [ex.submit(inheritable_thread_target(spark)(f)) for f in fns]:
            fut.result()


def _write(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("compression", PARQUET_CODEC).parquet(path)


@dataclass
class InvertedIndex:
    """Handle over the index tables (all lazily-evaluated DataFrames or
    parquet-backed reads — see write_index/load_index)."""

    docs: DataFrame
    postings: DataFrame
    terms: DataFrame
    conv_ranges: DataFrame
    stats: DataFrame

    def stats_row(self) -> dict:
        return self.stats.collect()[0].asDict()


# -- the table derivations, one each ---------------------------------------
def tokenize_turns(with_ids: DataFrame, use_pandas_tokenizer: bool = False) -> DataFrame:
    """(+) tokens, doc_len = token count incl. repetitions
    (parsing/Review.java:93-98). ``use_pandas_tokenizer`` switches to the
    Arrow-batched pandas UDF; the default is the pure Catalyst
    expression, which stays in whole-stage codegen."""
    tok = tokenize_pandas_udf(F.col("text")) if use_pandas_tokenizer else tokens_col(F.col("text"))
    return with_ids.withColumn("tokens", tok).withColumn("doc_len", F.size("tokens").cast("long"))


def docs_of(turns: DataFrame) -> DataFrame:
    return turns.select(*DOC_COLS)


def invert(turns: DataFrame) -> DataFrame:
    """(term, doc_id, tf, doc_len). Spark's partial hash-agg before the
    exchange is the reference's per-run invert (spimi/TemporaryIndexBuilder
    .java:91-121); the shuffle's sort+merge is its k-way run merge
    (SPIMIIndexer.java:58-86); duplicate (term, doc_id) tf-summing
    (SequentialDictionaryBuilder.java:131-141) is the reduce side of the
    same agg."""
    return (
        turns.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(*POSTING_COLS)
    )


def postings_layout(postings: DataFrame) -> DataFrame:
    """The stored postings layout. The shuffle is salted with a doc_id
    range bucket: a stopword at 10^12-turn scale has ~10^11 postings, so
    hashing by term alone would put them all in one reducer. (term,
    doc_id-range) keeps per-reducer work bounded, while
    sortWithinPartitions(term, doc_id) still gives parquet min/max term
    pruning per file."""
    return postings.repartition(
        F.col("term"), (F.col("doc_id") / F.lit(1 << 20)).cast("long")
    ).sortWithinPartitions("term", "doc_id")


def terms_of(postings: DataFrame) -> DataFrame:
    return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))


def conv_ranges_of(docs: DataFrame) -> DataFrame:
    return docs.groupBy("conv_id").agg(
        F.min("doc_id").alias("from_doc_id"),
        F.max("doc_id").alias("to_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def stats_of(docs: DataFrame, terms: DataFrame) -> DataFrame:
    return (
        docs.agg(
            F.sum("doc_len").alias("total_tokens"),
            F.count(F.lit(1)).alias("num_docs"),
            F.avg("doc_len").alias("avg_doc_len"),
        )
        .crossJoin(terms.agg(F.count(F.lit(1)).alias("unique_terms"), F.sum("df").alias("num_pairs")))
        .select("total_tokens", "unique_terms", "num_docs", "num_pairs", "avg_doc_len")
        .coalesce(1)
    )


def derive_index(docs: DataFrame, postings: DataFrame) -> InvertedIndex:
    """The lazy index over (docs, postings): terms, conv_ranges and stats
    are derived plans, recomputed per action."""
    terms = terms_of(postings)
    return InvertedIndex(
        docs=docs,
        postings=postings,
        terms=terms,
        conv_ranges=conv_ranges_of(docs),
        stats=stats_of(docs, terms),
    )


def build_index(
    transcripts: DataFrame,
    use_pandas_tokenizer: bool = False,
    num_partitions: int | None = None,
) -> InvertedIndex:
    """Build the logical (lazy) index from a transcripts DataFrame — for
    composition and tests; ``build_and_save_index`` materializes it."""
    turns = tokenize_turns(
        assign_doc_ids(transcripts, num_partitions=num_partitions), use_pandas_tokenizer
    )
    return derive_index(docs_of(turns), invert(turns))


# -- the one writer ----------------------------------------------------------
def write_index(
    postings: DataFrame,
    docs: DataFrame,
    path: str,
    timings: dict | None = None,
    t0: float | None = None,
    release: DataFrame | None = None,
) -> InvertedIndex:
    """Write the five index tables under ``path`` and return them read
    back. Each derived table reads the PREVIOUS persisted one, so the
    lineage behind ``postings``/``docs`` runs once per table it feeds:

      1. postings in ``postings_layout``;
      2. docs ∥ terms — docs scans the caller's input, terms the
         postings just written: disjoint inputs, so the two jobs overlap;
      3. conv_ranges ∥ stats, over the written docs and terms.

    ``release``: a persisted frame both inputs read, unpersisted once
    step 2 is done. ``timings`` gets each step's wall seconds (keys:
    postings, docs_terms, ranges_stats); the first counts from ``t0``
    (default: the call), so a caller can include its docID pass.
    """
    spark = postings.sparkSession
    t0 = time.perf_counter() if t0 is None else t0

    def lap(key: str) -> None:
        nonlocal t0
        if timings is not None:
            now = time.perf_counter()
            timings[key], t0 = now - t0, now

    _write(postings_layout(postings), f"{path}/postings")
    postings = spark.read.parquet(f"{path}/postings")
    lap("postings")
    _run_jobs(
        spark,
        lambda: _write(docs, f"{path}/docs"),
        lambda: _write(terms_of(postings), f"{path}/terms"),
    )
    if release is not None:
        release.unpersist()
    lap("docs_terms")
    docs = spark.read.parquet(f"{path}/docs")
    terms = spark.read.parquet(f"{path}/terms")
    _run_jobs(
        spark,
        lambda: _write(conv_ranges_of(docs), f"{path}/conv_ranges"),
        lambda: _write(stats_of(docs, terms), f"{path}/stats"),
    )
    lap("ranges_stats")
    return load_index(spark, path)


def build_and_save_index(
    transcripts: DataFrame,
    path: str,
    use_pandas_tokenizer: bool = False,
    num_partitions: int | None = None,
    timings: dict | None = None,
) -> InvertedIndex:
    """The materializing build: docID assignment (the range-partitioned
    input stays persisted until docs and postings are written), then
    ``write_index``. Tokenize runs twice over the persisted input (once
    for postings, once for docs), which benchmarks faster than
    materializing a tokens-array intermediate (array-of-strings parquet
    encode dominates). This is the staged-batch shape that scales to
    100 TB; the lazy ``build_index`` recomputes its lineage per action.

    ``timings``: optional dict filled with per-stage wall seconds (keys:
    postings, which includes docID assignment; docs_terms; ranges_stats);
    the scaling bench uses it to show which stage carries the
    non-parallel tail.
    """
    t0 = time.perf_counter()
    with_ids = assign_doc_ids(transcripts, num_partitions=num_partitions)
    turns = tokenize_turns(with_ids, use_pandas_tokenizer)
    return write_index(
        invert(turns), docs_of(turns), path,
        timings=timings, t0=t0, release=with_ids._ftse_persisted,
    )


def load_index(spark: SparkSession, path: str) -> InvertedIndex:
    return InvertedIndex(
        docs=spark.read.parquet(f"{path}/docs"),
        postings=spark.read.parquet(f"{path}/postings"),
        terms=spark.read.parquet(f"{path}/terms"),
        conv_ranges=spark.read.parquet(f"{path}/conv_ranges"),
        stats=spark.read.parquet(f"{path}/stats"),
    )
