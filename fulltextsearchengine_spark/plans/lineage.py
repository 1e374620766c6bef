"""Checkpoint-resumable staged execution with per-partition lineage.

The reference "resumes" nothing — IndexWriter wipes its output directory
and rebuilds from scratch (IndexWriter.java:40). The north_rule demands
better: every build stage persists its output plus a lineage table, and
a re-run skips stages whose outputs already exist (resume from
checkpoint). Because the reference has no streaming semantics
(SURVEY.md §2.9), "checkpoint" here means staged batch jobs with
persisted intermediate tables — exactly the SPIMI temp-index pattern
(spimi/SPIMIIndexer.java:35-50) promoted to durable, skippable stages.

Per stage we record:
- ``<base>/<stage>/data/``      — the output parquet
- ``<base>/<stage>/lineage/``   — one row per output FILE (the unit of
  partition-parallel work): (stage, file, rows, checksum) where checksum
  = sum of xxhash64 over all columns — cheap, order-insensitive, catches
  silent corruption on resume;
- ``<base>/<stage>/metrics.json`` — wall_ms, rows, files;
- ``<base>/<stage>/_STAGE_DONE`` — the resume marker, written last.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import hadoopfs


def _checksum_agg():
    """Order-insensitive per-file checksum: sum of xxhash64 in decimal
    (ANSI mode forbids long-overflow wraparound) reduced mod 2^61."""
    return (
        (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(1 << 61).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum")
    )


class StageRunner:
    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")
        self.ran: list[str] = []  # stages actually executed this run
        self.skipped: list[str] = []  # stages resumed from checkpoint

    # -- the stage protocol ---------------------------------------------
    def stage(self, name: str, fn: Callable[[SparkSession], DataFrame]) -> DataFrame:
        """Run (or resume) a named stage. ``fn`` produces the stage
        output DataFrame; it is materialized to parquet with lineage.
        On resume the parquet is read back instead of recomputing."""
        d = f"{self.base}/{name}"
        marker = f"{d}/_STAGE_DONE"
        if hadoopfs.exists(self.spark, marker):
            self.skipped.append(name)
            return self.spark.read.parquet(f"{d}/data")

        t0 = time.perf_counter()
        out = fn(self.spark)
        out.write.mode("overwrite").parquet(f"{d}/data")
        data = self.spark.read.parquet(f"{d}/data")

        cols = data.columns
        lineage = (
            data.select(
                F.input_file_name().alias("file"),
                F.xxhash64(*cols).alias("h"),
            )
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("rows"), _checksum_agg())
            .withColumn("stage", F.lit(name))
            .select("stage", "file", "rows", "checksum")
        )
        lineage.write.mode("overwrite").parquet(f"{d}/lineage")

        lin = self.spark.read.parquet(f"{d}/lineage")
        agg = lin.agg(F.sum("rows").alias("rows"), F.count(F.lit(1)).alias("files")).collect()[0]
        metrics = {
            "stage": name,
            "wall_ms": round((time.perf_counter() - t0) * 1000, 1),
            "rows": agg["rows"] or 0,
            "files": agg["files"],
        }
        hadoopfs.write_bytes(self.spark, f"{d}/metrics.json", json.dumps(metrics).encode())
        hadoopfs.write_bytes(self.spark, marker, b"")
        self.ran.append(name)
        return data

    def verify_lineage(self, name: str) -> bool:
        """Re-hash a stage's data and compare against its recorded
        lineage — detects post-checkpoint corruption before resuming."""
        d = f"{self.base}/{name}"
        data = self.spark.read.parquet(f"{d}/data")
        recorded = {
            r["file"]: (r["rows"], r["checksum"])
            for r in self.spark.read.parquet(f"{d}/lineage").collect()
        }
        current = {
            r["file"]: (r["rows"], r["checksum"])
            for r in data.select(F.input_file_name().alias("file"), F.xxhash64(*data.columns).alias("h"))
            .groupBy("file")
            .agg(F.count(F.lit(1)).alias("rows"), _checksum_agg())
            .collect()
        }
        return recorded == current

    def metrics(self) -> list[dict]:
        out = []
        for name in self.ran + self.skipped:
            raw = hadoopfs.read_bytes(self.spark, f"{self.base}/{name}/metrics.json")
            if raw is not None:
                out.append(json.loads(raw.decode()))
        return out


def build_index_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    index_path: str,
    block_size: int = 128,
    bucket_range: int | None = None,
):
    """The full staged build: docs → postings → terms → stats → blocks,
    each stage persisted + lineage-tracked + resumable. Returns
    (InvertedIndex over the persisted tables, blocks DataFrame, runner).
    """
    from pyspark.sql import functions as F

    from ..functions.tokenize import tokens_col
    from ..operators.docid import assign_doc_ids
    from ..operators.index_build import InvertedIndex
    from ..operators.posting_blocks import build_posting_blocks

    runner = StageRunner(spark, index_path)
    _cache: dict = {}

    def turns():
        # lazy + shared: docID assignment and tokenize build ONCE (the
        # range-partitioned input stays persisted across the two stages
        # that scan it); a fully-resumed run never evaluates this.
        if "turns" not in _cache:
            with_ids = assign_doc_ids(transcripts)
            _cache["persisted"] = getattr(with_ids, "_ftse_persisted", None)
            _cache["turns"] = with_ids.withColumn(
                "tokens", tokens_col(F.col("text"))
            ).withColumn("doc_len", F.size("tokens").cast("long"))
        return _cache["turns"]

    # downstream stages chain from PERSISTED stage outputs — a stage
    # re-run recomputes only itself, never the tokenize/docID lineage
    postings = runner.stage(
        "postings",
        lambda s: (
            turns()
            .select("doc_id", "doc_len", F.explode("tokens").alias("term"))
            .groupBy("term", "doc_id", "doc_len")
            .agg(F.count(F.lit(1)).alias("tf"))
            .select("term", "doc_id", "tf", "doc_len")
            .repartition(F.col("term"), (F.col("doc_id") / F.lit(1 << 20)).cast("long"))
            .sortWithinPartitions("term", "doc_id")
        ),
    )
    docs = runner.stage(
        "docs",
        lambda s: turns().select(
            "doc_id", "conv_id", "turn_idx", "role", "tool", "ts", "doc_len"
        ),
    )
    if _cache.get("persisted") is not None:  # both consumers have run
        _cache.pop("persisted").unpersist()
    terms = runner.stage(
        "terms",
        lambda s: postings.groupBy("term").agg(
            F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
        ),
    )
    conv_ranges = runner.stage(
        "conv_ranges",
        lambda s: docs.groupBy("conv_id").agg(
            F.min("doc_id").alias("from_doc_id"),
            F.max("doc_id").alias("to_doc_id"),
            F.count(F.lit(1)).alias("n_docs"),
        ),
    )
    stats = runner.stage(
        "stats",
        lambda s: docs.agg(
            F.sum("doc_len").alias("total_tokens"),
            F.count(F.lit(1)).alias("num_docs"),
            F.avg("doc_len").alias("avg_doc_len"),
        )
        .crossJoin(
            terms.agg(F.count(F.lit(1)).alias("unique_terms"), F.sum("df").alias("num_pairs"))
        )
        .select("total_tokens", "unique_terms", "num_docs", "num_pairs", "avg_doc_len")
        .coalesce(1),
    )

    st = stats.collect()[0].asDict()
    avgdl = st["total_tokens"] / st["num_docs"] if st["num_docs"] else 1.0
    if bucket_range is None:
        # corpus-sized bucketing (verdict r4 #4): ~512 buckets keeps
        # WAND's bucket pruning effective at any corpus size
        from ..operators.posting_blocks import auto_bucket_range

        bucket_range = auto_bucket_range(int(st["num_docs"]))
    blocks = runner.stage(
        "blocks",
        lambda s: build_posting_blocks(
            postings, avgdl=avgdl, block_size=block_size, bucket_range=bucket_range
        ),
    )
    idx = InvertedIndex(docs=docs, postings=postings, terms=terms, conv_ranges=conv_ranges, stats=stats)
    return idx, blocks, runner
