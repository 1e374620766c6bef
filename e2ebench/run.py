#!/usr/bin/env python3
"""End-to-end benchmark of the transcript search engine.

    python3 e2ebench/run.py --workload serve_zipf --seed 1 --seconds 8 --trace 0

Each run starts a Spark session on ``local[nproc]``, builds the serving
index of a seeded corpus (``build_and_save_index``, ``build_posting_blocks``,
``build_doc_len_slabs``, all written as zstd parquet and read back from
disk), constructs the serving tiers and warms them, then drives a closed
loop of queries (one client; each query is sent after the previous answer
returned) for ``--seconds`` seconds, in whole rounds. Every answer is
checked against an independent DuckDB BM25 (reference.py); a wrong answer
counts as a failed operation and the run goes on. The last line of
standard output is one JSON object: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. A traced run also writes its spans,
controls and end-to-end figures to ``e2ebench/out/``.

See README.md for the workloads, metrics and reference figures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import prepare  # noqa: E402
from reference import K, matches  # noqa: E402
from spans import MB, Span, Tracer  # noqa: E402

NPROC = len(os.sched_getaffinity(0))
ZIPF_SPARK = 6  # serve_zipf log queries per round through the Spark-job tiers
TAIL_PER_ROUND = 8  # fresh queries per serve_tail round
SHARDS = 4
DRIVER_MEMORY = "1g"
DEADLINE_S = 150  # the run aborts, cleans up and exits non-zero after this
WORKLOADS = ("serve_zipf", "serve_tail")
INDEX_TABLES = ("postings", "docs", "terms", "conv_ranges", "stats")


class Timeout(Exception):
    pass


def _raise_timeout(signum, frame):
    raise Timeout(f"run exceeded {DEADLINE_S} s")


def _raise_exit(signum, frame):
    raise SystemExit(128 + signum)


# ---------------------------------------------------------------- inputs


def inputs(seed: int) -> tuple[Path, dict]:
    """The corpus and query logs of ``seed``, made on first use by a child
    process (never timed)."""
    if not (prepare.cache_dir(seed) / "logs.json").exists():
        subprocess.run([sys.executable, str(HERE / "prepare.py"), str(seed)], check=True)
    return prepare.load(seed)


def parquet_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*.parquet"))


# ---------------------------------------------------------------- process hygiene


def descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            ppid = int((p / "stat").read_text().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(p.name))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def running(pids: set[int]) -> set[int]:
    """The pids of ``pids`` that still run (zombies count as ended)."""
    alive = set()
    for pid in pids:
        try:
            state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0]
        except (OSError, IndexError):
            continue
        if state != "Z":
            alive.add(pid)
    return alive


def stop_engine(spark) -> None:
    """Stop Spark, end its JVM and Python workers, and check that no
    process this run started is left."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if jvm is not None:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                jvm.wait(timeout=20)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait(timeout=10)
        SparkContext._gateway = None
        SparkContext._jvm = None
        reap(started)


def reap(pids: set[int]) -> None:
    """Wait for ``pids`` to end, kill those left, and raise if any is
    still running."""
    deadline = time.monotonic() + 15
    while running(pids) and time.monotonic() < deadline:
        time.sleep(0.2)
    left = running(pids)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    if left:
        time.sleep(0.5)
        left = running(left)
    if left:
        raise RuntimeError(f"processes still running after the run: {sorted(left)}")


def vm_hwm_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    return 0.0


# ---------------------------------------------------------------- the run


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, traced: bool, work: Path):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.work = work
        self.lat: dict[str, list[float]] = {}
        self.qps: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, int] = {}
        self.checks: dict[str, bool] = {}
        self.ties: dict | None = None
        self.spark = None
        self.tr = Tracer(None, False)

    # -- setup ---------------------------------------------------------
    def start_spark(self):
        local = self.work / "spark-local"
        tmp = self.work / "tmp"
        local.mkdir(parents=True)
        tmp.mkdir()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        )
        os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = str(tmp)
        from fulltextsearchengine_spark.session import get_spark

        return get_spark(
            app_name="e2ebench",
            master=f"local[{NPROC}]",
            shuffle_partitions=NPROC,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.local.dir": str(local),
                "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            },
        )

    def setup(self, corpus_dir: Path, logs: dict) -> None:
        from pyspark.sql import functions as F

        from fulltextsearchengine_spark.operators.index_build import (
            PARQUET_CODEC,
            build_and_save_index,
        )
        from fulltextsearchengine_spark.operators.local_query import LocalBM25
        from fulltextsearchengine_spark.operators.posting_blocks import (
            auto_bucket_range,
            build_doc_len_slabs,
            build_posting_blocks,
        )
        from fulltextsearchengine_spark.operators.search import Searcher
        from fulltextsearchengine_spark.operators.sharding import ShardedBM25
        from fulltextsearchengine_spark.operators.wand import WandSearcher
        from fulltextsearchengine_spark.sources.transcripts import read_transcripts

        t0 = time.perf_counter()
        self.spark = spark = self.start_spark()
        self.tr = tr = Tracer(spark, self.traced)
        tr.spans.append(Span("session.start", wall_s=time.perf_counter() - t0))
        idx_dir = self.work / "index"
        blocks_dir, slabs_dir = self.work / "blocks", self.work / "slabs"
        tb = time.perf_counter()
        with tr.span("index_build") as sp:
            timings: dict = {}
            idx = build_and_save_index(read_transcripts(spark, str(corpus_dir)), str(idx_dir), timings=timings)
            stats = idx.stats_row()
            sp.extra.update(timings)
        br = auto_bucket_range(int(stats["num_docs"]))
        with tr.span("posting_blocks"):
            build_posting_blocks(idx.postings, float(stats["avg_doc_len"]), bucket_range=br).write.mode(
                "overwrite"
            ).option("compression", PARQUET_CODEC).parquet(str(blocks_dir))
        with tr.span("doc_len_slabs"):
            build_doc_len_slabs(idx.docs, br).write.mode("overwrite").option(
                "compression", PARQUET_CODEC
            ).parquet(str(slabs_dir))
        self.build_s = time.perf_counter() - tb

        n, total = int(stats["num_docs"]), int(stats["total_tokens"])
        self.stats, self.bucket_range = stats, br
        self.blocks = blocks = spark.read.parquet(str(blocks_dir))
        self.slabs = slabs = spark.read.parquet(str(slabs_dir))
        with tr.span("tiers.term_df"):
            term_df = {r["term"]: int(r["df"]) for r in idx.terms.collect()}
        with tr.span("local_query.init"):
            self.local = LocalBM25(blocks, slabs, n, total, term_df, bucket_range=br)
        with tr.span("sharding.init"):
            self.sharded = ShardedBM25(blocks, slabs, n, total, term_df, br, n_shards=SHARDS)
        with tr.span("search.init"):
            self.searcher = Searcher(idx, preload_terms=True)
        self.wand = WandSearcher(blocks, slabs, n, total, br)
        self.warm_up(logs)
        self.setup_s = time.perf_counter() - t0

        # checks against the reference, outside setup_s
        self.checks["stats"] = all(int(stats[k]) == v for k, v in logs["stats"].items())
        agg = blocks.agg(F.sum("n").alias("n"), F.count(F.lit(1)).alias("blocks")).first()
        self.n_blocks = int(agg["blocks"])
        self.checks["block_postings"] = int(agg["n"]) == int(stats["num_pairs"])
        self.input_bytes = parquet_bytes(corpus_dir)
        self.index_bytes = sum(parquet_bytes(idx_dir / t) for t in INDEX_TABLES) + parquet_bytes(
            blocks_dir
        ) + parquet_bytes(slabs_dir)
        self.out_mb = {
            "index_build": sum(parquet_bytes(idx_dir / t) for t in INDEX_TABLES) / MB,
            "posting_blocks": parquet_bytes(blocks_dir) / MB,
            "doc_len_slabs": parquet_bytes(slabs_dir) / MB,
        }

    def warm_up(self, logs: dict) -> None:
        """Fill the per-term caches that the timed loop relies on: every
        term of the serve_zipf log and the probe, or the hot terms of
        serve_tail."""
        if self.workload == "serve_zipf":
            hot = sorted({t for e in logs["zipf"]["log"] for t in e["terms"]}) + logs["probe"]["terms"]
        else:
            hot = logs["hot"]
        with self.tr.span("warmup.local"):
            self.local.search(hot, K)
        with self.tr.span("warmup.sharded"):
            self.sharded.search(hot, K)
        with self.tr.span("warmup.wand_searcher"):
            self.wand.search(hot, K)

    # -- operations ----------------------------------------------------
    def _df(self, terms, k):
        return [(r["doc_id"], r["score"]) for r in self.searcher.bm25_search(terms, k).collect()]

    def _wand_cold(self, terms, k):
        from fulltextsearchengine_spark.operators.wand import bm25_topk_wand

        n, total = int(self.stats["num_docs"]), int(self.stats["total_tokens"])
        if self.traced:
            got, st = bm25_topk_wand(
                self.blocks, self.slabs, terms, k, n, total, self.bucket_range, return_stats=True
            )
            self._last_wand_stats = st
            return got
        return bm25_topk_wand(self.blocks, self.slabs, terms, k, n, total, self.bucket_range)

    def _batch(self, queries: dict):
        from fulltextsearchengine_spark.operators.wand import bm25_topk_wand_batch

        n, total = int(self.stats["num_docs"]), int(self.stats["total_tokens"])
        return bm25_topk_wand_batch(self.blocks, self.slabs, queries, K, n, total, self.bucket_range)

    def op(self, tier: str, layer: str, search, e: dict) -> None:
        """One timed call ``search(terms, K)``, checked against ``e``."""
        with self.tr.span(layer) as sp:
            got = search(e["terms"], K)
        if layer == "wand" and self.traced:
            sp.extra.update(self._last_wand_stats)
        self.lat.setdefault(tier, []).append(sp.wall_s * 1e3)
        self.attempted += 1
        if not matches(got, e["answer"]):
            self.failed += 1
            self.failures[tier] = self.failures.get(tier, 0) + 1

    def batch_op(self, entries: list[dict]) -> None:
        queries = {f"q{i}": e["terms"] for i, e in enumerate(entries)}
        with self.tr.span("wand_batch") as sp:
            got = self._batch(queries)
        self.qps.append(len(entries) / sp.wall_s)
        for i, e in enumerate(entries):
            self.attempted += 1
            if not matches(got.get(f"q{i}", []), e["answer"]):
                self.failed += 1
                self.failures["wand_batch"] = self.failures.get("wand_batch", 0) + 1

    def round(self, r: int, logs: dict) -> None:
        """One round; every round makes the same operations. Each query of
        ``picked`` goes through the tiers that cost up to half a second;
        every ``slow_every``-th one also goes through the tiers that cost
        over a second, so that every tier samples the whole round.

        serve_zipf: the whole log and the tie probe through LocalBM25 and
        ShardedBM25, spread over the round; ``ZIPF_SPARK`` log queries and
        the probe through WandSearcher and Searcher; every other one of
        those through bm25_topk_wand.
        serve_tail: ``TAIL_PER_ROUND`` queries not used before through
        LocalBM25, ShardedBM25 and Searcher; every third one of them
        through WandSearcher and bm25_topk_wand.
        Both end with two bm25_topk_wand_batch calls, one over each half
        of ``picked``."""
        local = ("local", "local_query.search", self.local.search)
        sharded = ("sharded", "sharding.search", self.sharded.search)
        df_bm25 = ("df_bm25", "search", self._df)
        wand_searcher = ("wand_searcher", "wand_searcher.search", self.wand.search)
        wand_cold = ("wand_cold", "wand", self._wand_cold)
        if self.workload == "serve_zipf":
            log, probe = logs["zipf"]["log"], logs["probe"]
            picked = [log[(ZIPF_SPARK * r + i) % len(log)] for i in range(ZIPF_SPARK)] + [probe]
            # LocalBM25 gets the probe wrong every time (README: the kept fault).
            # The whole log is split into one slice per picked query, so the
            # sub-millisecond calls are spread over the round too.
            warm = log + [probe]
            cuts = [len(warm) * i // len(picked) for i in range(len(picked) + 1)]
            steps = [
                ([(tier, w) for w in warm[a:b] for tier in (local, sharded)], e)
                for a, b, e in zip(cuts, cuts[1:], picked)
            ]
            fast, slow, slow_every = (wand_searcher, df_bm25), (wand_cold,), 2
        else:
            picked = logs["tail"]["log"][r * TAIL_PER_ROUND : (r + 1) * TAIL_PER_ROUND]
            steps = [([], e) for e in picked]
            fast, slow, slow_every = (local, sharded, df_bm25), (wand_searcher, wand_cold), 3
        for i, (before, e) in enumerate(steps):
            for tier, w in before:
                self.op(*tier, w)
            for tier in fast + (slow if i % slow_every == 0 else ()):
                self.op(*tier, e)
        half = len(picked) // 2
        self.batch_op(picked[:half])
        self.batch_op(picked[half:])

    def measure(self, logs: dict) -> None:
        end = time.perf_counter() + self.seconds
        r = 0
        while True:
            if self.workload == "serve_tail" and (r + 1) * TAIL_PER_ROUND > len(logs["tail"]["log"]):
                raise RuntimeError("serve_tail ran out of unused rare terms; lengthen prepare.TAIL['n']")
            self.round(r, logs)
            r += 1
            if time.perf_counter() >= end:
                break
        self.rounds = r
        self.peak_rss_mb = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self._jvm_pid())

    def tie_check(self, logs: dict) -> None:
        """Send every tie query of the workload's log (queries.py) through
        LocalBM25, ShardedBM25 and one bm25_topk_wand_batch call, untimed,
        and count the wrong answers per tier."""
        ties = logs[self.workload.removeprefix("serve_")]["ties"]
        wrong = {"local": 0, "sharded": 0, "wand_batch": 0}
        for e in ties:
            wrong["local"] += not matches(self.local.search(e["terms"], K), e["answer"])
            wrong["sharded"] += not matches(self.sharded.search(e["terms"], K), e["answer"])
        if ties:
            got = self._batch({f"t{i}": e["terms"] for i, e in enumerate(ties)})
            wrong["wand_batch"] = sum(
                not matches(got.get(f"t{i}", []), e["answer"]) for i, e in enumerate(ties)
            )
        self.ties = {"queries": len(ties), "wrong": wrong}

    def _jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    # -- results -------------------------------------------------------
    def end_to_end(self) -> dict:
        med = statistics.median
        return {
            "setup_s": (self.setup_s, "s"),
            "build_turns_per_s": (prepare.SHAPE.turns / self.build_s, "turns/s"),
            "index_bytes_per_input_byte": (self.index_bytes / self.input_bytes, "B/B"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "local_p50_ms": (med(self.lat["local"]), "ms"),
            "sharded_p50_ms": (med(self.lat["sharded"]), "ms"),
            "wand_searcher_p50_ms": (med(self.lat["wand_searcher"]), "ms"),
            "wand_cold_p50_ms": (med(self.lat["wand_cold"]), "ms"),
            "df_bm25_p50_ms": (med(self.lat["df_bm25"]), "ms"),
            "wand_batch_qps": (med(self.qps), "queries/s"),
        }

    def per_layer(self, logs: dict) -> dict:
        """Per-layer metrics; the codec layer decodes the blocks of the
        terms this run queried."""
        import layers

        self.tie_check(logs)
        if self.workload == "serve_zipf":
            terms = sorted({t for e in logs["zipf"]["log"] for t in e["terms"]})
        else:
            used = logs["tail"]["log"][: self.rounds * TAIL_PER_ROUND]
            terms = sorted({t for e in used for t in e["terms"]})
        return layers.per_layer(self, terms)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    signal.signal(signal.SIGALRM, _raise_timeout)
    signal.signal(signal.SIGTERM, _raise_exit)
    signal.alarm(DEADLINE_S)
    sys.path.insert(0, str(ROOT))
    import fulltextsearchengine_spark  # noqa: F401  (fails fast outside a checkout)

    corpus_dir, logs = inputs(args.seed)
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run.setup(corpus_dir, logs)
        run.measure(logs)
        e2e = run.end_to_end()
        layer = run.per_layer(logs) if run.traced else None
    finally:
        try:
            stop_engine(run.spark)
        finally:
            signal.alarm(0)
            shutil.rmtree(work, ignore_errors=True)

    correct = all(run.checks.values())
    drawn = logs[args.workload.removeprefix("serve_")]
    print(
        f"# {args.workload} seed={args.seed} rounds={run.rounds} attempted={run.attempted} "
        f"failed={run.failed} by tier={run.failures} checks={run.checks} "
        f"samples={ {k: len(v) for k, v in run.lat.items()} } batches={len(run.qps)} "
        f"draws={drawn['draws']} tie_queries={len(drawn['ties'])} tie_check={run.ties}"
    )
    if run.traced:
        out = HERE / "out"
        out.mkdir(exist_ok=True)
        (out / f"trace-{args.workload}-{args.seed}.json").write_text(
            json.dumps(
                {
                    "end_to_end": {k: v for k, (v, _) in e2e.items()},
                    "per_layer": {k: v for k, (v, _) in layer.items()},
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "failures": run.failures,
                    "draws": drawn["draws"],
                    "ties": run.ties,
                    "spans": [
                        {k: v for k, v in vars(s).items() if k not in ("first_job", "end_job")}
                        for s in run.tr.spans
                    ],
                },
                indent=1,
            )
        )
    metrics = layer if run.traced else e2e
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
