"""Shared Spark fixtures. One session for the whole test run (session
startup ~10 s); small local[4] with 4 shuffle partitions so the
multi-partition code paths (range partitioner, offsets, window-per-pid)
are actually exercised."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from fulltextsearchengine_spark.session import get_spark

    s = get_spark(app_name="ftse-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_transcripts_pdf():
    from fulltextsearchengine_spark.datagen import make_transcripts

    return make_transcripts(n_turns=100, n_convs=10, vocab_size=300, seed=42)


@pytest.fixture(scope="session")
def small_transcripts_pdf():
    from fulltextsearchengine_spark.datagen import make_transcripts

    return make_transcripts(n_turns=1000, n_convs=100, vocab_size=2000, seed=42)


@pytest.fixture(scope="session")
def sf001_events(spark):
    return spark.read.parquet("/root/testdata/sf0.001/events.parquet")


@pytest.fixture(scope="session")
def sf001_docs_tokens(spark):
    from fulltextsearchengine_spark.functions.textstats import with_token_counts

    return with_token_counts(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    )


@pytest.fixture(scope="session")
def count_jobs(spark):
    """count_jobs(fn) -> (fn(), number of Spark jobs fn ran), read from
    the status tracker under a job group unique to the call."""
    import itertools

    sc = spark.sparkContext
    seq = itertools.count()

    def run(fn):
        group = f"count-jobs-{next(seq)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
