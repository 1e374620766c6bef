"""Per-layer metrics of a traced run.

Each metric is read from the spans of one layer (spans.py), that is from
the calls the workload's own loop timed: ``local_query.*`` and
``wand_searcher.*`` describe warm calls on serve_zipf and cache-filling
calls on serve_tail.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

import numpy as np

from spans import MB


def _spans(run, layer):
    found = [s for s in run.tr.spans if s.layer == layer]
    if not found:
        raise KeyError(f"no span for {layer}")
    return found


_mean, _med = statistics.fmean, statistics.median


def decode_mpostings_per_s(run, terms: list[str], min_s: float = 0.3) -> float:
    """Stream-VByte gap decode plus tf decode over every block of
    ``terms``, in millions of postings per second."""
    from pyspark.sql import functions as F

    from fulltextsearchengine_spark.codecs import svb_decode, tf_decode

    rows = (
        run.blocks.filter(F.col("term").isin(terms))
        .select("n", "gaps_ctrl", "gaps_data", "tfs_ctrl", "tfs_data")
        .collect()
    )
    rows = [(int(r["n"]), r["gaps_ctrl"], r["gaps_data"], r["tfs_ctrl"], r["tfs_data"]) for r in rows]
    postings, t0 = 0, time.perf_counter()
    while True:
        for n, gc, gd, tc, td in rows:
            np.cumsum(svb_decode(gc, gd, n).astype(np.int64))
            tf_decode(tc, td, n)
            postings += n
        elapsed = time.perf_counter() - t0
        if elapsed >= min_s:
            return postings / elapsed / 1e6


_SPIN = """
import sys, time
t0 = time.perf_counter(); x = 0
while time.perf_counter() - t0 < float(sys.argv[1]):
    for _ in range(10000):
        x += 1
print(x)
"""


def cpu_control_mops(seconds: float = 1.0) -> float:
    """Aggregate pure-Python spin throughput of one process per CPU (M
    increments per second): the CPU control beside the traced figures."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _SPIN, str(seconds)], stdout=subprocess.PIPE, text=True)
        for _ in range(len(os.sched_getaffinity(0)))
    ]
    return sum(int(p.communicate()[0]) for p in procs) / seconds / 1e6


def spark_job_ms(run, reps: int = 5) -> float:
    """Median wall time of a trivial one-stage Spark job."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        run.spark.range(1).count()
        times.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(times)


def per_layer(run, terms: list[str]) -> dict:
    decode = decode_mpostings_per_s(run, terms)
    job_ms = spark_job_ms(run)
    mops = cpu_control_mops()
    run.tr.collect()

    m: dict[str, tuple[float, str]] = {}
    (start,) = _spans(run, "session.start")
    m["session.start_s"] = (start.wall_s, "s")

    (b,) = _spans(run, "index_build")
    m["index_build.wall_s"] = (b.wall_s, "s")
    m["index_build.postings_s"] = (b.extra["postings"], "s")
    m["index_build.docs_terms_s"] = (b.extra["docs_terms"], "s")
    m["index_build.ranges_stats_s"] = (b.extra["ranges_stats"], "s")
    m["index_build.jobs"] = (b.jobs, "count")
    m["index_build.tasks"] = (b.tasks, "count")
    m["index_build.executor_cpu_s"] = (b.cpu_s, "s")
    m["index_build.shuffle_write_mb"] = (b.shuffle_write_mb, "MB")
    m["index_build.spill_mb"] = (b.spill_mb, "MB")
    m["index_build.output_mb"] = (run.out_mb["index_build"], "MB")

    (pb,) = _spans(run, "posting_blocks")
    m["posting_blocks.wall_s"] = (pb.wall_s, "s")
    m["posting_blocks.executor_cpu_s"] = (pb.cpu_s, "s")
    m["posting_blocks.shuffle_write_mb"] = (pb.shuffle_write_mb, "MB")
    m["posting_blocks.spill_mb"] = (pb.spill_mb, "MB")
    m["posting_blocks.blocks"] = (run.n_blocks, "count")
    m["posting_blocks.output_mb"] = (run.out_mb["posting_blocks"], "MB")
    (sl,) = _spans(run, "doc_len_slabs")
    m["doc_len_slabs.wall_s"] = (sl.wall_s, "s")
    m["doc_len_slabs.output_mb"] = (run.out_mb["doc_len_slabs"], "MB")

    m["codecs.decode_mpostings_per_s"] = (decode, "Mpostings/s")

    (li,) = _spans(run, "local_query.init")
    m["local_query.init_s"] = (li.wall_s, "s")
    lq = _spans(run, "local_query.search")
    m["local_query.search_ms"] = (_med([s.wall_s * 1e3 for s in lq]), "ms")
    m["local_query.jobs_per_query"] = (_mean([s.jobs for s in lq]), "count")
    m["local_query.input_mb_per_query"] = (_mean([s.input_mb for s in lq]), "MB")

    (si,) = _spans(run, "sharding.init")
    m["sharding.init_s"] = (si.wall_s, "s")
    sh = _med([s.wall_s * 1e3 for s in _spans(run, "sharding.search")])
    m["sharding.search_ms"] = (sh, "ms")
    m["sharding.over_local"] = (sh / statistics.median(run.lat["local"]), "ratio")

    ws = _spans(run, "wand_searcher.search")
    m["wand_searcher.jobs_per_query"] = (_mean([s.jobs for s in ws]), "count")
    m["wand_searcher.input_mb_per_query"] = (_mean([s.input_mb for s in ws]), "MB")
    m["wand_searcher.executor_cpu_ms_per_query"] = (_mean([s.cpu_s * 1e3 for s in ws]), "ms")
    m["wand_searcher.outside_jobs_ms_per_query"] = (_mean([s.outside_jobs_s * 1e3 for s in ws]), "ms")

    w = _spans(run, "wand")
    m["wand.jobs_per_query"] = (_mean([s.jobs for s in w]), "count")
    m["wand.input_mb_per_query"] = (_mean([s.input_mb for s in w]), "MB")
    m["wand.shuffle_mb_per_query"] = (_mean([s.shuffle_write_mb for s in w]), "MB")
    m["wand.executor_cpu_ms_per_query"] = (_mean([s.cpu_s * 1e3 for s in w]), "ms")
    m["wand.outside_jobs_ms_per_query"] = (_mean([s.outside_jobs_s * 1e3 for s in w]), "ms")
    total = sum(s.extra["blocks_total"] for s in w)
    decoded = sum(s.extra["blocks_decoded"] for s in w)
    m["wand.blocks_total"] = (total / len(w), "count")
    m["wand.blocks_decoded"] = (decoded / len(w), "count")
    m["wand.buckets_pruned"] = (_mean([s.extra["buckets_pruned"] for s in w]), "count")
    m["wand.block_skip_ratio"] = (1.0 - decoded / total if total else 0.0, "ratio")

    wb = _spans(run, "wand_batch")
    m["wand_batch.jobs"] = (_mean([s.jobs for s in wb]), "count")
    m["wand_batch.input_mb"] = (_mean([s.input_mb for s in wb]), "MB")
    m["wand_batch.executor_cpu_s"] = (_mean([s.cpu_s for s in wb]), "s")

    se = _spans(run, "search")
    m["search.jobs_per_query"] = (_mean([s.jobs for s in se]), "count")
    m["search.input_mb_per_query"] = (_mean([s.input_mb for s in se]), "MB")
    m["search.executor_cpu_ms_per_query"] = (_mean([s.cpu_s * 1e3 for s in se]), "ms")
    m["search.outside_jobs_ms_per_query"] = (_mean([s.outside_jobs_s * 1e3 for s in se]), "ms")

    m["ties.queries"] = (run.ties["queries"], "count")
    for tier, n in run.ties["wrong"].items():
        m[f"ties.{tier}_wrong"] = (n, "count")

    m["control.cpu_mops"] = (mops, "Mops/s")
    m["control.spark_job_ms"] = (job_ms, "ms")
    return m
