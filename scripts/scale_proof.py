#!/usr/bin/env python
"""100×-shape proof point for the index build (VERDICT r3 #6).

The per-round bench corpus is 300k turns; this script runs the SAME
build at a 100×-class corpus (default 30M turns, ~25× the scaling run's
tile base) and reports the evidence a 1000-executor deployment would
ask for before trusting the layout:

  * build wall + turns/sec — does throughput hold at 100× the bench?
  * postings-stage task skew (max/median executor run time across the
    heaviest shuffle stage) — does the salted (term, doc_id-bucket)
    layout keep hot terms from serializing a straggler? The pass bar
    from the verdict: max/median < 3.
  * WAND skip rates + query wall at the big corpus — block-max pruning
    must not degrade as the posting lists grow 100×.

Serving layout honesty (the first attempt at this scale OOM-killed the
box): blocks and doc-len slabs are WRITTEN TO PARQUET, range-partitioned
and sorted by (term, bucket) so term predicates prune at the row-group
level, and queries READ BACK from disk — exactly what a 1000-executor
deployment does. Nothing corpus-sized is ever pinned in executor or
driver memory (`.cache()` of a 7M-row block table is what killed run 1).
bucket_range is auto-sized to the corpus (posting_blocks.
auto_bucket_range ≈ next_pow2(num_docs/512), verdict r4 #4): the r4 run
fixed it at 2^19, which left only 58 buckets at 30M docs and measured
bucket-skip degrading to 0.307 with 5.44 s/query; ~512 buckets keeps
bucket-level pruning scale-invariant. Override with argv[3].

Warm serving at 100× (verdict r4 #7): besides the cold four-job WAND
path, this also measures the serving-tier shapes at the big corpus —
the warm ``WandSearcher`` (per-term metadata cached, TWO Spark jobs per
query: the one-exchange scoring pass) and the driver-side ``ShardedBM25`` router (4 doc-range shards,
ms-scale, zero jobs once warm) — so the ms-scale serving story has a
30M-doc datapoint, not just 300k.

Skew is read from Spark's own REST API (/api/v1/.../taskSummary), not
hand-instrumented timers, so the number is the scheduler's view.

Usage: python scripts/scale_proof.py [n_turns] [cpus] [bucket_range]
Prints one JSON line; paste the table into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))



def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def stage_skew(ui_port: int) -> dict:
    """max/median executorRunTime over the completed stage that wrote
    the most shuffle bytes — the postings partial-agg + exchange stage
    dominates the build, so 'heaviest shuffle write' selects it without
    hard-coding stage ids."""
    base = f"http://localhost:{ui_port}/api/v1"
    apps = _get(f"{base}/applications")
    app_id = apps[0]["id"]
    stages = _get(f"{base}/applications/{app_id}/stages?status=complete")
    heaviest = max(stages, key=lambda s: s.get("shuffleWriteBytes", 0))
    sid, att = heaviest["stageId"], heaviest["attemptId"]
    summ = _get(
        f"{base}/applications/{app_id}/stages/{sid}/{att}/taskSummary"
        "?quantiles=0.5,1.0"
    )
    med, mx = summ["executorRunTime"]
    return {
        "stage_id": sid,
        "num_tasks": heaviest["numTasks"],
        "shuffle_write_mb": round(heaviest["shuffleWriteBytes"] / 1e6, 1),
        "task_runtime_median_ms": med,
        "task_runtime_max_ms": mx,
        "skew_max_over_median": round(mx / max(med, 1.0), 2),
    }


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 30_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    bucket_override = int(sys.argv[3]) if len(sys.argv) > 3 else None
    ui_port = 4049

    import bench
    from fulltextsearchengine_spark.operators.index_build import (
        build_and_save_index,
        load_index,
    )
    from fulltextsearchengine_spark.operators.posting_blocks import (
        auto_bucket_range,
        build_doc_len_slabs,
        build_posting_blocks,
    )
    from fulltextsearchengine_spark.operators.wand import bm25_topk_wand
    from fulltextsearchengine_spark.session import get_spark
    from pyspark.sql import functions as F

    cache_dir = Path(__file__).resolve().parent.parent / ".bench"
    cache_dir.mkdir(exist_ok=True)
    t0 = time.perf_counter()
    corpus = bench.ensure_bench_corpus(n_turns, cache_dir)
    gen_sec = round(time.perf_counter() - t0, 1)

    spark = get_spark(
        app_name="scale_proof",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,  # cluster-shaped: ~2× total cores
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(ui_port),
            "spark.python.worker.faulthandler.enabled": "true",
        },
    )
    t = spark.read.parquet(str(corpus))

    workdir = Path(cache_dir / f"scale_proof_index_{n_turns}")
    if workdir.exists():
        shutil.rmtree(workdir)  # fresh build: wall + skew must be THIS run's
    t0 = time.perf_counter()
    build_and_save_index(t, str(workdir))
    build_sec = round(time.perf_counter() - t0, 1)
    skew = stage_skew(ui_port)

    idx = load_index(spark, str(workdir))
    st = idx.stats_row()
    avgdl = st["total_tokens"] / st["num_docs"]

    # Serving sidecar build: blocks + slabs → (term,bucket)-sorted parquet.
    bucket_range = bucket_override or auto_bucket_range(st["num_docs"])
    blocks_dir = workdir / "wand_blocks"
    slabs_dir = workdir / "wand_slabs"
    t0 = time.perf_counter()
    (
        build_posting_blocks(idx.postings, avgdl=avgdl, bucket_range=bucket_range)
        .repartitionByRange(2 * cpus, "term", "bucket")
        .sortWithinPartitions("term", "bucket", "block_id")
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(str(blocks_dir))
    )
    (
        build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), bucket_range)
        .coalesce(1)
        .write.mode("overwrite")
        .option("compression", "zstd")
        .parquet(str(slabs_dir))
    )
    blocks_sec = round(time.perf_counter() - t0, 1)
    blocks = spark.read.parquet(str(blocks_dir))
    slabs = spark.read.parquet(str(slabs_dir))
    n_blocks = blocks.count()

    # WAND at the big corpus: mixed hot+rare queries, same shape as
    # bench.py's bm25_wand_big — served from the pruned parquet layout.
    hot = [
        r["term"]
        for r in idx.terms.orderBy(F.desc("df"), F.asc("term")).limit(10).collect()
    ]
    rare = [
        r["term"]
        for r in idx.terms.filter(F.col("df").between(100, 1000))
        .orderBy("term").limit(5).collect()
    ] or [
        r["term"] for r in idx.terms.orderBy(F.asc("df"), F.asc("term")).limit(5).collect()
    ]
    queries = [[hot[2 * i], hot[2 * i + 1], rare[i % len(rare)]] for i in range(5)]
    wand_stats = []
    t0 = time.perf_counter()
    for qq in queries:
        _, s = bm25_topk_wand(
            blocks, slabs, qq, 10,
            n_docs=st["num_docs"], total_tokens=st["total_tokens"],
            bucket_range=bucket_range, return_stats=True,
        )
        wand_stats.append(s)
    wand_sec = round(time.perf_counter() - t0, 2)

    # Warm serving at 100× (verdict r4 #7) — the two serving-tier shapes.
    # (a) WandSearcher: per-term metadata cached after first touch; each
    # warm query is exactly TWO Spark jobs (one exchange) over the
    # surviving buckets.
    from fulltextsearchengine_spark.operators.wand import WandSearcher

    wsearch = WandSearcher(
        blocks, slabs,
        n_docs=st["num_docs"], total_tokens=st["total_tokens"],
        bucket_range=bucket_range,
    )
    for qq in queries:
        wsearch.search(qq, 10)  # cold fill
    t0 = time.perf_counter()
    warm_reps = 3
    for _ in range(warm_reps):
        for qq in queries:
            wsearch.search(qq, 10)
    wand_warm_sec = round(time.perf_counter() - t0, 2)

    # (b) ShardedBM25: 4 doc-range shards of driver-decoded blocks — the
    # zero-job ms-scale router. term_df for the 15 query terms only.
    from fulltextsearchengine_spark.operators.sharding import ShardedBM25

    qterms = sorted({t_ for qq in queries for t_ in qq})
    term_df = {
        r["term"]: r["df"]
        for r in idx.terms.filter(F.col("term").isin(qterms)).collect()
    }
    sharded = ShardedBM25(
        blocks, slabs,
        n_docs=st["num_docs"], total_tokens=st["total_tokens"],
        term_df=term_df, bucket_range=bucket_range, n_shards=4,
    )
    for qq in queries:
        sharded.search(qq, 10)  # warm each shard's per-term block cache
    t0 = time.perf_counter()
    sharded_reps = 5
    for _ in range(sharded_reps):
        for qq in queries:
            sharded.search(qq, 10)
    sharded_sec = round(time.perf_counter() - t0, 3)

    out = {
        "metric": "scale_proof_build_wall",
        "value": build_sec,
        "unit": "sec",
        "n_turns": n_turns,
        "cpus": cpus,
        "corpus_gen_sec": gen_sec,
        "turns_per_sec": round(n_turns / build_sec, 1),
        "num_docs": st["num_docs"],
        "total_tokens": st["total_tokens"],
        "postings_stage": skew,
        "blocks_build_write_sec": blocks_sec,
        "n_blocks": n_blocks,
        "bucket_range": bucket_range,
        "wand_5q_sec": wand_sec,
        "wand_sec_per_query": round(wand_sec / len(queries), 2),
        "wand_warm_ms_per_query": round(
            wand_warm_sec / (warm_reps * len(queries)) * 1000, 1
        ),
        "sharded_warm_ms_per_query": round(
            sharded_sec / (sharded_reps * len(queries)) * 1000, 2
        ),
        "sharded_n_shards": 4,
        "wand_block_skip_rate": round(
            sum(s["blocks_in_pruned_buckets"] + s["blocks_chunk_skipped"] for s in wand_stats)
            / max(sum(s["blocks_total"] for s in wand_stats), 1), 4
        ),
        "wand_bucket_skip_rate": round(
            sum(s["buckets_pruned"] for s in wand_stats)
            / max(sum(s["buckets_total"] for s in wand_stats), 1), 4
        ),
        "cpu_control_mops": round(bench.cpu_control_mops(cpus), 1),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
