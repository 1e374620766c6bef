"""Checkpoint-resumable staged execution with per-partition lineage.

The reference "resumes" nothing — IndexWriter wipes its output directory
and rebuilds from scratch (IndexWriter.java:40). The north_rule demands
better: every build stage persists its output plus a lineage table, and
a re-run skips stages already built with the same parameters (resume
from checkpoint). Because the reference has no streaming semantics
(SURVEY.md §2.9), "checkpoint" here means staged batch jobs with
persisted intermediate tables — exactly the SPIMI temp-index pattern
(spimi/SPIMIIndexer.java:35-50) promoted to durable, skippable stages.

Per stage we record:
- ``<base>/<stage>/data/``      — the output parquet (zstd)
- ``<base>/<stage>/lineage/``   — one row per output FILE (the unit of
  partition-parallel work): (stage, file, rows, checksum) where checksum
  = sum of xxhash64 over all columns — cheap, order-insensitive;
  ``verify_lineage`` re-hashes a stage against it to catch silent
  corruption;
- ``<base>/<stage>/metrics.json`` — wall_ms, rows, files;
- ``<base>/<stage>/_STAGE_DONE`` — the resume marker, written last. It
  holds the stage's fingerprint: a hash of its parameters and of the
  fingerprints of the stages it reads. A stage resumes only when the
  fingerprint matches, so a changed parameter re-runs that stage and,
  through the chained fingerprints, everything downstream of it. The
  stages that read the input DataFrame take its ``input_fingerprint``
  as a parameter, so a build over other input never resumes either.
"""

from __future__ import annotations

import hashlib
import json
import re
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import hadoopfs
from ..operators import index_build as ib


def _checksum_agg():
    """Order-insensitive per-file checksum: sum of xxhash64 in decimal
    (ANSI mode forbids long-overflow wraparound) reduced mod 2^61."""
    return (
        (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(1 << 61).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum")
    )


def _lineage(data: DataFrame) -> DataFrame:
    """(file, rows, checksum) per output file of ``data``."""
    return (
        data.select(F.input_file_name().alias("file"), F.xxhash64(*data.columns).alias("h"))
        .groupBy("file")
        .agg(F.count(F.lit(1)).alias("rows"), _checksum_agg())
    )


def input_fingerprint(df: DataFrame) -> str:
    """What a stage reading ``df`` depends on, computed without a Spark
    job: the analyzed plan's text with expression ids masked, plus the
    path, size and mtime of every file the plan reads. A plan that reads
    no files (rows built on the driver) adds its ``semanticHash``, which
    covers the rows. A file scan's ``semanticHash`` is left out: it
    folds in JVM identity hash codes, so it changes from one process to
    the next and would make every resume in a new process re-run."""
    spark = df.sparkSession
    plan = re.sub(r"#\d+", "#", df._jdf.queryExecution().analyzed().toString())
    files = sorted(df.inputFiles())
    parts = [plan, [(f, *hadoopfs.stat(spark, f)) for f in files]]
    if not files:
        parts.append(df.semanticHash())
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()


class StageRunner:
    def __init__(self, spark: SparkSession, base: str):
        self.spark = spark
        self.base = base.rstrip("/")
        self.ran: list[str] = []  # stages actually executed this run
        self.skipped: list[str] = []  # stages resumed from checkpoint
        self.fingerprints: dict[str, str] = {}

    # -- the stage protocol ---------------------------------------------
    def stage(
        self,
        name: str,
        fn: Callable[[SparkSession], DataFrame],
        params: dict | None = None,
        reads: tuple[str, ...] = (),
    ) -> DataFrame:
        """Run (or resume) a named stage. ``fn`` produces the stage
        output DataFrame; it is materialized to parquet with lineage.
        ``params`` (JSON-serializable) and ``reads`` (the names of the
        earlier stages ``fn`` reads) make up the stage's fingerprint. On
        resume — marker present, same fingerprint — the parquet is read
        back instead of recomputing."""
        d = f"{self.base}/{name}"
        marker = f"{d}/_STAGE_DONE"
        fp = hashlib.sha256(
            json.dumps(
                [name, params or {}, [self.fingerprints[r] for r in reads]], sort_keys=True
            ).encode()
        ).hexdigest()
        self.fingerprints[name] = fp
        if hadoopfs.read_bytes(self.spark, marker) == fp.encode():
            self.skipped.append(name)
            return self.spark.read.parquet(f"{d}/data")

        # a stale marker must not outlive the data it described
        hadoopfs.delete(self.spark, marker)
        t0 = time.perf_counter()
        out = fn(self.spark)
        out.write.mode("overwrite").option("compression", ib.PARQUET_CODEC).parquet(f"{d}/data")
        data = self.spark.read.parquet(f"{d}/data")
        _lineage(data).withColumn("stage", F.lit(name)).select(
            "stage", "file", "rows", "checksum"
        ).write.mode("overwrite").option("compression", ib.PARQUET_CODEC).parquet(f"{d}/lineage")

        lin = self.spark.read.parquet(f"{d}/lineage")
        agg = lin.agg(F.sum("rows").alias("rows"), F.count(F.lit(1)).alias("files")).collect()[0]
        metrics = {
            "stage": name,
            "wall_ms": round((time.perf_counter() - t0) * 1000, 1),
            "rows": agg["rows"] or 0,
            "files": agg["files"],
        }
        hadoopfs.write_bytes(self.spark, f"{d}/metrics.json", json.dumps(metrics).encode())
        hadoopfs.write_bytes(self.spark, marker, fp.encode())
        self.ran.append(name)
        return data

    def verify_lineage(self, name: str) -> bool:
        """Re-hash a stage's data and compare against its recorded
        lineage — detects post-checkpoint corruption before resuming."""
        d = f"{self.base}/{name}"
        recorded = {
            r["file"]: (r["rows"], r["checksum"])
            for r in self.spark.read.parquet(f"{d}/lineage").collect()
        }
        current = {
            r["file"]: (r["rows"], r["checksum"])
            for r in _lineage(self.spark.read.parquet(f"{d}/data")).collect()
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
    """The full staged build: postings → docs → terms → conv_ranges →
    stats → blocks, each stage persisted + lineage-tracked + resumable.
    The five index tables are the ones ``build_and_save_index`` writes,
    from the same derivations (operators/index_build.py). Returns
    (InvertedIndex over the persisted tables, blocks DataFrame, runner).
    """
    from ..operators.docid import assign_doc_ids
    from ..operators.posting_blocks import auto_bucket_range, build_posting_blocks

    runner = StageRunner(spark, index_path)
    _cache: dict = {}

    def turns():
        # lazy + shared: docID assignment and tokenize build ONCE (the
        # range-partitioned input stays persisted across the two stages
        # that scan it); a fully-resumed run never evaluates this.
        if "turns" not in _cache:
            with_ids = assign_doc_ids(transcripts)
            _cache["persisted"] = with_ids._ftse_persisted
            _cache["turns"] = ib.tokenize_turns(with_ids)
        return _cache["turns"]

    # downstream stages chain from PERSISTED stage outputs — a stage
    # re-run recomputes only itself, never the tokenize/docID lineage
    source = {"input": input_fingerprint(transcripts)}
    postings = runner.stage(
        "postings", lambda s: ib.postings_layout(ib.invert(turns())), params=source
    )
    docs = runner.stage("docs", lambda s: ib.docs_of(turns()), params=source)
    if _cache.get("persisted") is not None:  # both consumers have run
        _cache.pop("persisted").unpersist()
    terms = runner.stage("terms", lambda s: ib.terms_of(postings), reads=("postings",))
    conv_ranges = runner.stage("conv_ranges", lambda s: ib.conv_ranges_of(docs), reads=("docs",))
    stats = runner.stage("stats", lambda s: ib.stats_of(docs, terms), reads=("docs", "terms"))

    st = stats.collect()[0].asDict()
    avgdl = st["total_tokens"] / st["num_docs"] if st["num_docs"] else 1.0
    if bucket_range is None:
        # corpus-sized bucketing (verdict r4 #4): ~512 buckets keeps
        # WAND's bucket pruning effective at any corpus size
        bucket_range = auto_bucket_range(int(st["num_docs"]))
    blocks = runner.stage(
        "blocks",
        lambda s: build_posting_blocks(
            postings, avgdl=avgdl, block_size=block_size, bucket_range=bucket_range
        ),
        params={"bucket_range": bucket_range, "block_size": block_size},
        reads=("postings", "stats"),
    )
    idx = ib.InvertedIndex(docs=docs, postings=postings, terms=terms, conv_ranges=conv_ranges, stats=stats)
    return idx, blocks, runner
