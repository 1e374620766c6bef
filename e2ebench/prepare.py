"""Inputs of one seed: the corpus parquet and the query logs with their
reference answers, written once under ``e2ebench/.cache/`` and reused.

    python3 e2ebench/prepare.py <seed>

run.py calls this in a child process, so that the DuckDB reference never
adds to the memory or the set-up time that the benchmark measures.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

from corpus import PROBE_TERM, CorpusShape, make_corpus, write_corpus
from queries import tail_log, zipf_log
from reference import K, Reference

HERE = Path(__file__).resolve().parent
SHAPE = CorpusShape(turns=16_000, vocab=2_700, zipf_s=1.3)
ZIPF = {"n": 63, "hot": 8, "s": 1.0}
TAIL = {"n": 32, "hot": 2, "rare_df": (3, 60)}


def cache_dir(seed: int) -> Path:
    """Keyed by the seed and by the code and parameters that make inputs."""
    src = b"".join((HERE / f).read_bytes() for f in ("corpus.py", "queries.py", "reference.py", "prepare.py"))
    key = hashlib.sha1(src + repr((SHAPE, ZIPF, TAIL)).encode()).hexdigest()[:12]
    return HERE / ".cache" / f"seed{seed}-{key}"


def prepare(seed: int) -> None:
    d = cache_dir(seed)
    corpus_dir, logs_path = d / "corpus", d / "logs.json"
    if not corpus_dir.exists():
        write_corpus(make_corpus(SHAPE, seed), corpus_dir, SHAPE.files)
    if logs_path.exists():
        return
    ref = Reference(str(corpus_dir), len(os.sched_getaffinity(0)))
    try:
        logs = {
            "stats": ref.stats,
            "probe": {"terms": [PROBE_TERM], "answer": ref.topk([PROBE_TERM], K)},
            "zipf": zipf_log(ref, seed, ZIPF["n"], ZIPF["hot"], ZIPF["s"]),
            "tail": tail_log(ref, seed, TAIL["n"], TAIL["hot"], TAIL["rare_df"]),
            "hot": [t for t, _ in ref.df_ranked()[: TAIL["hot"]]],
        }
    finally:
        ref.close()
    tmp = logs_path.with_suffix(".tmp")
    tmp.write_text(json.dumps(logs))
    tmp.rename(logs_path)


def load(seed: int) -> tuple[Path, dict]:
    """The corpus directory and the logs of ``seed`` (answers as tuples)."""
    d = cache_dir(seed)
    logs = json.loads((d / "logs.json").read_text())
    for e in [logs["probe"]] + [e for w in ("zipf", "tail") for part in ("log", "ties") for e in logs[w][part]]:
        e["answer"] = [tuple(a) for a in e["answer"]]
    return d / "corpus", logs


if __name__ == "__main__":
    prepare(int(sys.argv[1]))
