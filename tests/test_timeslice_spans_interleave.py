"""Time-sliced BM25 parity with the filter-not-reweight contract,
duplicate-span extraction vs an interval-merging brute force, and
team-draft interleaving vs a reference draft loop."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fulltextsearchengine_spark.operators.dedup import duplicate_ngram_spans
from fulltextsearchengine_spark.operators.index_build import build_index
from fulltextsearchengine_spark.operators.interleave import (
    interleave_credit,
    team_draft_interleave,
)
from fulltextsearchengine_spark.operators.search import Searcher
from fulltextsearchengine_spark.operators.timeslice import TimeSlicedIndex
from fulltextsearchengine_spark.sources.rawlog import TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module")
def searcher(spark, small_transcripts_pdf):
    sdf = spark.createDataFrame(small_transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    idx = build_index(sdf)
    idx.postings = idx.postings.cache()
    idx.docs = idx.docs.cache()
    return Searcher(idx)


@pytest.fixture(scope="module")
def tsi(searcher, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("tsindex"))
    return TimeSlicedIndex.build(searcher.index, path, granularity="day")


def _hot_terms(searcher, k=3):
    return [
        r["term"]
        for r in searcher.index.terms.orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
        .collect()
    ]


def test_time_range_matches_filtered_candidates(searcher, tsi):
    q = _hot_terms(searcher)
    lo, hi = "2026-01-02 00:00:00", "2026-01-05 23:59:59"
    cands = searcher.index.docs.filter(
        F.col("ts").between(F.lit(lo).cast("timestamp"), F.lit(hi).cast("timestamp"))
    ).select("doc_id")
    expected = [
        (r["doc_id"], round(r["score"], 9))
        for r in searcher.bm25_scores(q, candidates=cands)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
        .collect()
    ]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in tsi.bm25_search_time_range(q, lo, hi, 10).collect()
    ]
    assert got == expected
    assert len(got) == 10


def test_time_range_full_span_equals_plain_bm25(searcher, tsi):
    q = _hot_terms(searcher)
    expected = [(r["doc_id"], round(r["score"], 9)) for r in searcher.bm25_search(q, 10).collect()]
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in tsi.bm25_search_time_range(
            q, "2000-01-01 00:00:00", "2100-01-01 00:00:00", 10
        ).collect()
    ]
    assert got == expected


def test_time_range_plan_prunes_partitions(searcher, tsi):
    q = _hot_terms(searcher)
    df = tsi.bm25_search_time_range(q, "2026-01-02 00:00:00", "2026-01-03 00:00:00", 5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "slice" in plan


def test_timeslice_load_roundtrip(spark, tsi, searcher):
    q = _hot_terms(searcher)
    again = TimeSlicedIndex.load(spark, tsi.path)
    a = tsi.bm25_search_time_range(q, "2026-01-02 00:00:00", "2026-01-04 00:00:00", 5).collect()
    b = again.bm25_search_time_range(q, "2026-01-02 00:00:00", "2026-01-04 00:00:00", 5).collect()
    assert a == b


def test_timeslice_load_runs_no_job(spark, searcher, tmp_path, count_jobs):
    """meta.json is read through the Hadoop FS and the tables open with
    their recorded schemas, so load() starts no Spark job. Month slices
    keep the partition count under Spark's parallel-listing threshold
    (32 directories), past which listing itself runs as a job."""
    path = str(tmp_path / "tsmonth")
    built = TimeSlicedIndex.build(searcher.index, path, granularity="month")
    assert sorted(p.name for p in (tmp_path / "tsmonth" / "_timeslice_meta").iterdir()
                  if not p.name.startswith(".")) == ["meta.json"]
    again, jobs = count_jobs(lambda: TimeSlicedIndex.load(spark, path))
    assert jobs == 0
    assert again.granularity == "month"
    assert again.postings.schema == built.postings.schema
    assert again.stats.collect() == built.stats.collect()


def test_bad_granularity_raises(searcher):
    with pytest.raises(ValueError):
        TimeSlicedIndex.build(searcher.index, "/tmp/never", granularity="fortnight")


# --- duplicate n-gram spans -------------------------------------------------


def _brute_spans(texts: dict[int, str], n: int, min_count: int):
    from fulltextsearchengine_spark.functions.tokenize import TOKEN_RE
    import re

    toks = {
        d: [t.lower() for t in re.split(r"[^A-Za-z0-9]+", txt) if t]
        for d, txt in texts.items()
    }
    counts: dict[str, int] = {}
    for ts in toks.values():
        for i in range(len(ts) - n + 1):
            g = " ".join(ts[i : i + n])
            counts[g] = counts.get(g, 0) + 1
    out = []
    for d, ts in toks.items():
        pos = [
            i
            for i in range(len(ts) - n + 1)
            if counts[" ".join(ts[i : i + n])] >= min_count
        ]
        spans, cur = [], None
        for p in pos:
            if cur is None or p - cur[1] > n:
                cur = [p, p, 1]
                spans.append(cur)
            else:
                cur[1] = p
                cur[2] += 1
        for s, e, c in spans:
            out.append((d, s, e + n - 1, e + n - s, c))
    return sorted(out)


DUP_TEXTS = {
    1: "alpha beta gamma delta epsilon zeta eta theta iota kappa unique one",
    2: "prefix alpha beta gamma delta epsilon zeta eta theta iota kappa tail",
    3: "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 2,  # self-repeat
    4: "nothing shared here at all just some other words entirely different",
    5: "short doc",
}


def test_duplicate_spans_match_brute(spark):
    docs = spark.createDataFrame(
        [(d, t) for d, t in DUP_TEXTS.items()], "doc_id long, text string"
    )
    for n, mc in [(5, 2), (4, 3)]:
        got = sorted(
            (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"], r["n_dup_grams"])
            for r in duplicate_ngram_spans(docs, n=n, min_count=mc).collect()
        )
        assert got == _brute_spans(DUP_TEXTS, n, mc), (n, mc)


def test_duplicate_spans_guards(spark):
    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        duplicate_ngram_spans(docs, n=1)
    with pytest.raises(ValueError):
        duplicate_ngram_spans(docs, min_count=1)


def test_duplicate_spans_unique_corpus_empty(spark):
    docs = spark.createDataFrame(
        [(1, "one two three four five six"), (2, "seven eight nine ten eleven twelve")],
        "doc_id long, text string",
    )
    assert duplicate_ngram_spans(docs, n=3).count() == 0


# --- team-draft interleaving -------------------------------------------------


def _brute_draft(a: list[int], b: list[int], depth: int):
    taken, out, pa, pb, team = set(), [], 0, 0, "A"
    while len(out) < depth:
        lst, p = (a, pa) if team == "A" else (b, pb)
        while p < len(lst) and lst[p] in taken:
            p += 1
        if p >= len(lst):
            break
        taken.add(lst[p])
        out.append((len(out) + 1, lst[p], team))
        if team == "A":
            pa, team = p + 1, "B"
        else:
            pb, team = p + 1, "A"
    return out


def test_interleave_matches_brute(searcher):
    q = _hot_terms(searcher, 4)
    ra, rb = searcher.bm25_search(q[:2], 40), searcher.bm25_search(q[2:], 40)
    ids = lambda df: [r["doc_id"] for r in df.orderBy(F.desc("score"), F.asc("doc_id")).collect()]  # noqa: E731
    expected = _brute_draft(ids(ra)[:20], ids(rb)[:20], 10)
    got = [
        (r["position"], r["doc_id"], r["team"])
        for r in team_draft_interleave(ra, rb, depth=10).orderBy("position").collect()
    ]
    assert got == expected
    assert [t for _, _, t in got] == ["A", "B"] * 5  # strict alternation, A first
    assert len({d for _, d, _ in got}) == 10  # no duplicates


def test_interleave_identical_rankings_exhaust(spark):
    ra = spark.createDataFrame([(1, 3.0), (2, 2.0), (3, 1.0)], "doc_id long, score double")
    out = team_draft_interleave(ra, ra, depth=10).collect()
    # identical lists: A and B alternate through the shared pool of 3
    assert [(r["doc_id"], r["team"]) for r in sorted(out, key=lambda r: r["position"])] == [
        (1, "A"), (2, "B"), (3, "A"),
    ]


def test_interleave_credit(spark):
    ra = spark.createDataFrame([(1, 3.0), (2, 2.0)], "doc_id long, score double")
    rb = spark.createDataFrame([(9, 3.0), (8, 2.0)], "doc_id long, score double")
    il = team_draft_interleave(ra, rb, depth=4)
    credit = {r["team"]: (r["picks"], r["clicks"]) for r in interleave_credit(il, [1, 9, 8]).collect()}
    assert credit == {"A": (2, 1), "B": (2, 2)}
    with pytest.raises(ValueError):
        team_draft_interleave(ra, rb, depth=0)
