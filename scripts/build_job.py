"""Production build entry point: spark-submit job that runs the
checkpoint-resumable staged index build (plans/lineage.py) over a
transcripts table and prints per-stage lineage metrics.

  spark-submit --py-files pkg.zip scripts/build_job.py <corpus> <index_out>

Re-running after a failure resumes: a completed stage is skipped when
the fingerprint of its parameters (and of the stages it reads) matches
the one in its marker, and re-run otherwise. Resumed stages are NOT
re-hashed; ``StageRunner.verify_lineage`` checks one against its lineage
checksums on demand."""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession


def main() -> None:
    corpus, out = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from fulltextsearchengine_spark.plans.lineage import build_index_checkpointed
    from fulltextsearchengine_spark.sources.transcripts import read_transcripts

    transcripts = read_transcripts(spark, corpus)
    idx, blocks, runner = build_index_checkpointed(spark, transcripts, out)
    blocks.count()
    print(json.dumps({
        "stats": idx.stats_row(),
        "ran": runner.ran,
        "resumed": runner.skipped,
        "stage_metrics": runner.metrics(),
    }, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
