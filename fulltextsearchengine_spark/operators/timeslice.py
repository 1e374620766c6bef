"""Time-sliced posting layout + time-ranged BM25 — the index-lifecycle
pattern every transcript warehouse runs (Elasticsearch ILM / time-based
indices): partition the postings by a time slice of the turn timestamp
so that recency-bounded queries PRUNE WHOLE PARTITIONS instead of
scanning the full posting table and post-filtering through a docs join.

Semantics are exactly ``bm25_search_filtered``'s Lucene-filter contract:
candidates restricted to the ts range, scoring math (global df, avgdl,
N) untouched — filter, don't re-weight. The layout changes WHERE the
filter is applied: at 100 TB with years of history, a "last 7 days"
query reads days/years of the table (PartitionFilters on the slice
column plus parquet min/max on the exact ts bounds inside edge slices)
— the difference between a metadata-pruned scan and a full-corpus join.
Retention (ILM delete phase) becomes "drop slice directories", the same
O(1) operation the reference's removeIndex gives a whole index
(IndexWriter.java:69-75), but per time window.

Slice labels are zero-padded truncations (yyyy-MM[-dd[ HH]]), so a
LEXICOGRAPHIC range predicate on the partition column is equivalent to
the time-range predicate at slice granularity — no slice enumeration,
and Spark pushes BETWEEN on partition values natively.
"""

from __future__ import annotations

import json

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import hadoopfs
from .index_build import InvertedIndex
from .search import Searcher

# table directory -> TimeSlicedIndex attribute
_TABLES = {"postings_by_slice": "postings", "terms": "terms", "stats": "stats"}
_SLICE_FMT = {"month": "yyyy-MM", "day": "yyyy-MM-dd", "hour": "yyyy-MM-dd HH"}


def slice_col(ts: F.Column, granularity: str) -> F.Column:
    if granularity not in _SLICE_FMT:
        raise ValueError(f"granularity must be one of {sorted(_SLICE_FMT)}")
    return F.date_format(F.date_trunc(granularity, ts), _SLICE_FMT[granularity])


class TimeSlicedIndex:
    """Handle over the sliced layout: ``postings_by_slice`` (term,
    doc_id, tf, doc_len, ts, slice=partition), plus the global terms
    and stats tables (scoring stats are corpus-global by contract)."""

    def __init__(self, spark: SparkSession, path: str, meta: dict):
        self.spark = spark
        self.path = path
        self.granularity = meta["granularity"]
        schemas = meta.get("schemas") or {}
        for table, attr in _TABLES.items():
            reader = spark.read
            if table in schemas:
                reader = reader.schema(T.StructType.fromJson(schemas[table]))
            setattr(self, attr, reader.parquet(f"{path}/{table}"))

    # (doc_id, ts) is 16 packed bytes/row: 10M docs ≈ 160 MB — inside a
    # comfortable executor broadcast budget. Beyond it (a 10^12-turn
    # corpus), the ts-denormalization join falls back to shuffle, which
    # is the correct plan at that scale anyway (repartition-on-slice
    # dominates the job there).
    BROADCAST_TS_MAX_DOCS = 10_000_000

    @classmethod
    def build(
        cls,
        index: InvertedIndex,
        path: str,
        granularity: str = "day",
        files_per_slice: int = 1,
        broadcast_ts: bool | None = None,
    ) -> "TimeSlicedIndex":
        """One postings⋈docs pass to denormalize ts, one partitioned
        write. The slice column is DERIVED (hidden-partitioning style):
        queries never mention it — searcher_for_range injects it.

        The write repartitions on (slice[, term-hash]) first: a dynamic
        partitionBy straight off a term-partitioned shuffle has EVERY
        task opening a writer for EVERY slice (tasks × slices file
        handles, small-file spray) — measured 4× slower than the
        clustered write at sf0.1 (the r4 timeslice_build regression).
        ``files_per_slice`` > 1 splits a slice across that many tasks by
        term hash for corpora where one slice exceeds a task; rows stay
        sorted (slice, term, doc_id) so term predicates prune at the
        row-group level.

        ``broadcast_ts``: the ts-denormalization join broadcasts the
        (doc_id, ts) side when the corpus is small enough
        (``BROADCAST_TS_MAX_DOCS``; the one-row stats table decides —
        in-memory build plans carry no size stats, so AQE cannot always
        make this call itself: measured 7.6 s shuffle-join vs 2.1 s
        broadcast at sf0.1). Pass True/False to override."""
        docs_ts = index.docs.select("doc_id", "ts")
        if broadcast_ts is None:
            broadcast_ts = (
                index.stats_row()["num_docs"] <= cls.BROADCAST_TS_MAX_DOCS
            )
        if broadcast_ts:
            docs_ts = F.broadcast(docs_ts)
        sliced = (
            index.postings.join(docs_ts, "doc_id")
            .withColumn("slice", slice_col(F.col("ts"), granularity))
            .select("term", "doc_id", "tf", "doc_len", "ts", "slice")
        )
        parts = [F.col("slice")]
        if files_per_slice > 1:
            parts.append(F.pmod(F.hash("term"), F.lit(int(files_per_slice))))
        (
            sliced.repartition(*parts)
            .sortWithinPartitions("slice", "term", "doc_id")
            .write.partitionBy("slice")
            .mode("overwrite")
            .parquet(f"{path}/postings_by_slice")
        )
        index.terms.write.mode("overwrite").parquet(f"{path}/terms")
        index.stats.write.mode("overwrite").parquet(f"{path}/stats")
        spark = index.postings.sparkSession
        tsi = cls(spark, path, {"granularity": granularity})
        # the read-back schemas let load() skip parquet schema inference,
        # which costs one Spark job per table
        meta = {
            "granularity": granularity,
            "schemas": {t: getattr(tsi, a).schema.jsonValue() for t, a in _TABLES.items()},
        }
        # meta goes through the SAME filesystem abstraction as the
        # tables (ADVICE r3): a local open() would break for HDFS/S3
        # paths the parquet writers above accept. But not through a
        # Spark JOB — a one-row createDataFrame().write.json() measured
        # 4-5 s of pure scheduling/Arrow overhead (over half the whole
        # sf0.1 build). The directory is cleared first: a rebuild over an
        # index written by the old DataFrame writer must not leave its
        # part-*.json beside meta.json.
        meta_dir = f"{path}/_timeslice_meta"
        try:
            hadoopfs.delete(spark, meta_dir)
            hadoopfs.write_bytes(spark, f"{meta_dir}/meta.json", json.dumps(meta).encode("utf-8"))
        except Py4JError:
            spark.createDataFrame(
                [(granularity,)], "granularity string"
            ).coalesce(1).write.mode("overwrite").json(meta_dir)
        return tsi

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "TimeSlicedIndex":
        """Open a built index; reads meta.json with no Spark job."""
        meta_dir = f"{path}/_timeslice_meta"
        try:
            raw = hadoopfs.read_bytes(spark, f"{meta_dir}/meta.json")
        except Py4JError:
            raw = None
        if raw is not None:
            meta = json.loads(raw.decode("utf-8"))
        else:  # index written by the older DataFrame meta writer
            meta = spark.read.json(meta_dir).first().asDict()
        return cls(spark, path, meta)

    def searcher_for_range(self, ts_from: str, ts_to: str) -> Searcher:
        """A standard Searcher whose posting scan is pre-pruned to the
        [ts_from, ts_to] range (inclusive): partition-level BETWEEN on
        slice + exact ts bounds for the edge slices. Global terms/stats
        ride along, so every scorer keeps filter-don't-reweight
        semantics. docs/conv_ranges are not needed by the scorers
        (doc_len is denormalized into postings)."""
        f_ts, t_ts = F.lit(ts_from).cast("timestamp"), F.lit(ts_to).cast("timestamp")
        pruned = self.postings.filter(
            F.col("slice").between(
                slice_col(f_ts, self.granularity), slice_col(t_ts, self.granularity)
            )
            & F.col("ts").between(f_ts, t_ts)
        )
        idx = InvertedIndex(
            docs=None,  # scorers never touch docs (doc_len denormalized)
            postings=pruned,
            terms=self.terms,
            conv_ranges=None,
            stats=self.stats,
        )
        return Searcher(idx)

    def bm25_search_time_range(
        self, query: list[str], ts_from: str, ts_to: str, k: int
    ) -> DataFrame:
        """(doc_id, score): BM25 top-k among turns inside the ts range,
        global scoring stats (score desc, doc_id asc)."""
        return self.searcher_for_range(ts_from, ts_to).bm25_search(query, k)
