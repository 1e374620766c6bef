"""Posting-block compression round-trip + block-max WAND exactness.

Analog of the reference's posting round-trip tests
(src/test/java/webdata/dictionary/PostingListsTest.java:21-89) plus the
pruning-is-lossless property the reference never needed (it has no
pruning)."""

from __future__ import annotations

import numpy as np
import pytest

from fulltextsearchengine_spark import oracle
from fulltextsearchengine_spark.operators import bm25
from fulltextsearchengine_spark.operators.index_build import build_index
from fulltextsearchengine_spark.operators.local_query import LocalBM25
from fulltextsearchengine_spark.operators.posting_blocks import (
    build_posting_blocks,
    blocks_to_postings,
    decode_block,
)
from fulltextsearchengine_spark.operators.search import Searcher
from fulltextsearchengine_spark.operators.wand import bm25_topk_wand
from fulltextsearchengine_spark.sources.transcripts import TRANSCRIPT_SCHEMA

BUCKET_RANGE = 256  # small → forces multi-bucket groups in a 1000-doc corpus
BLOCK_SIZE = 16  # small → forces multi-block lists


@pytest.fixture(scope="module")
def ctx(spark, small_transcripts_pdf):
    golden = oracle.build_index(small_transcripts_pdf)
    sdf = spark.createDataFrame(small_transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    idx = build_index(sdf)
    stats = idx.stats_row()
    avgdl = stats["total_tokens"] / stats["num_docs"]
    blocks = build_posting_blocks(
        idx.postings, avgdl=avgdl, block_size=BLOCK_SIZE, bucket_range=BUCKET_RANGE
    ).cache()
    return golden, idx, blocks, stats


def test_block_roundtrip(ctx):
    golden, idx, blocks, _ = ctx
    got: dict[str, list[int]] = {}
    rows = blocks_to_postings(blocks).collect()
    for r in sorted(rows, key=lambda r: (r["term"], r["doc_id"])):
        got.setdefault(r["term"], []).extend([r["doc_id"], r["tf"]])
    assert got == golden["term_to_postings"]


def test_block_invariants(ctx):
    _, idx, blocks, stats = ctx
    avgdl = stats["total_tokens"] / stats["num_docs"]
    doc_len = {r["doc_id"]: r["doc_len"] for r in idx.docs.select("doc_id", "doc_len").collect()}
    for r in blocks.collect():
        assert 1 <= r["n"] <= BLOCK_SIZE
        assert r["first_doc_id"] <= r["last_doc_id"]
        assert (r["first_doc_id"] - 1) // BUCKET_RANGE == r["bucket"]
        assert (r["last_doc_id"] - 1) // BUCKET_RANGE == r["bucket"]
        assert r["max_impact"] > 0
        # the build-time bound is exactly the largest tf weight the
        # serving tiers compute for the block's postings
        ids, tfs = decode_block(r)
        dl = np.array([doc_len[int(d)] for d in ids], dtype=np.float64)
        assert r["max_impact"] == bm25.tf_weight(1.0, tfs, dl, avgdl).max()


def test_blocks_ascending_per_term(ctx):
    _, _, blocks, _ = ctx
    per_term: dict[str, list] = {}
    for r in blocks.collect():
        per_term.setdefault(r["term"], []).append((r["block_id"], r["first_doc_id"], r["last_doc_id"]))
    for term, bl in per_term.items():
        bl.sort()
        for (b1, f1, l1), (b2, f2, l2) in zip(bl, bl[1:]):
            assert l1 < f2, term  # globally doc_id-ascending in block_id order


def test_wand_matches_oracle(ctx):
    golden, idx, blocks, stats = ctx
    queries = [
        ["the"],  # likely missing; OOV-safe
        [max(golden["term_to_document_frequency"], key=golden["term_to_document_frequency"].get)],
        sorted(golden["term_to_document_frequency"])[:3],
        sorted(golden["term_to_document_frequency"])[10:15],
        [sorted(golden["term_to_document_frequency"])[0], "zzznotaword"],
        [sorted(golden["term_to_document_frequency"])[1], "it's", "back\\slash"],  # SQL-quoted
    ]
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs

    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).cache()
    for q in queries:
        exp = oracle.bm25_search(golden, q, 10)
        got, wstats = bm25_topk_wand(
            blocks,
            slabs,
            q,
            10,
            n_docs=stats["num_docs"],
            total_tokens=stats["total_tokens"],
            bucket_range=BUCKET_RANGE,
            block_size=BLOCK_SIZE,
            return_stats=True,
        )
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for e, g in zip(exp, got):
            assert g[1] == pytest.approx(e[1], rel=1e-9)
        assert wstats["buckets_pruned"] >= 0
        assert wstats["blocks_in_pruned_buckets"] <= wstats["blocks_total"]


def test_wand_distributed_prunes(spark):
    """The distributed path must actually skip work. Skewed fixture: one
    short doc with tf=10 dominates; every other bucket holds only tf=1
    long docs whose metadata upper bound can't beat the seeded
    threshold, so those buckets are pruned WITHOUT decoding."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs

    n_docs, bucket_range = 1000, 128
    rows = [("x", 1, 10, 10)]  # the winner: high tf, short doc
    for d in range(150, 1000, 100):  # one weak posting per later bucket
        rows.append(("x", d, 1, 100))
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf long, doc_len long")
    docs = spark.createDataFrame(
        [(d, 10 if d == 1 else 100) for d in range(1, n_docs + 1)],
        "doc_id long, doc_len long",
    )
    total_tokens = 10 + 100 * (n_docs - 1)
    avgdl = total_tokens / n_docs
    blocks = build_posting_blocks(postings, avgdl=avgdl, block_size=16, bucket_range=bucket_range)
    slabs = build_doc_len_slabs(docs, bucket_range)
    got, wstats = bm25_topk_wand(
        blocks, slabs, ["x"], 1,
        n_docs=n_docs, total_tokens=total_tokens,
        bucket_range=bucket_range, block_size=16, return_stats=True,
    )
    assert got[0][0] == 1  # the dominant doc wins
    assert wstats["threshold"] > 0
    assert wstats["buckets_pruned"] > 0  # weak buckets skipped via metadata
    assert wstats["blocks_in_pruned_buckets"] > 0


def test_blockmax_kernel_matches_oracle(ctx):
    """Block-max skipping kernel (LocalBM25.search over multi-bucket,
    multi-block lists): exact despite pruning."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs

    golden, idx, blocks, stats = ctx
    term_df = dict(golden["term_to_document_frequency"])
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE)
    local = LocalBM25(
        blocks, slabs, stats["num_docs"], stats["total_tokens"], term_df=term_df,
        bucket_range=BUCKET_RANGE,
    )
    terms_sorted = sorted(term_df)
    for q in [terms_sorted[:5], terms_sorted[50:53], [terms_sorted[1]]]:
        got = local.search(q, 10)
        exp = oracle.bm25_search(golden, q, 10)
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for e, g in zip(exp, got):
            assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_local_bm25_server(ctx):
    """LocalBM25 (driver-side serving path) matches the oracle exactly,
    including cache-warm repeat queries and OOV terms."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs

    golden, idx, blocks, stats = ctx
    term_df = dict(golden["term_to_document_frequency"])
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE)
    # bucket_range deliberately NOT passed: derived from slab metadata
    local = LocalBM25(
        blocks, slabs, stats["num_docs"], stats["total_tokens"], term_df=term_df
    )
    assert local.bucket_range == BUCKET_RANGE
    terms_sorted = sorted(term_df)
    queries = [terms_sorted[:3], terms_sorted[20:24], [terms_sorted[5]], ["zzznotaword"], []]
    for q in queries:
        exp = oracle.bm25_search(golden, q, 10)
        for _ in range(2):  # second pass exercises the block cache
            got = local.search(q, 10)
            assert [g[0] for g in got] == [e[0] for e in exp], q
            for e, g in zip(exp, got):
                assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_local_and_sharded_ties_across_buckets(spark):
    """A tie at the k-th score that spans buckets. The bucket holding
    the one stronger doc has the highest bound, so it is scanned first
    and fills the heap with its own tied docs; every other bucket's
    bound equals the k-th score yet holds tied docs with smaller
    doc_ids, so it must still be scanned (score desc, doc_id asc)."""
    import pandas as pd

    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs
    from fulltextsearchengine_spark.operators.sharding import ShardedBM25

    bucket_range = 16
    texts = ["tieterm fill fill"] * 64
    texts[20] = "tieterm tieterm fill"  # doc 21, in bucket 1
    pdf = pd.DataFrame({
        "conv_id": "c", "turn_idx": range(64), "role": "user", "text": texts,
        "tool": None, "ts": pd.Timestamp("2024-01-01"),
    })
    golden = oracle.build_index(pdf)
    exp = oracle.bm25_search(golden, ["tieterm"], 10)
    assert [d for d, _ in exp] == [21, *range(1, 10)]
    idx = build_index(spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA))
    stats = idx.stats_row()
    blocks = build_posting_blocks(
        idx.postings, avgdl=stats["total_tokens"] / stats["num_docs"],
        block_size=BLOCK_SIZE, bucket_range=bucket_range,
    ).cache()
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), bucket_range).cache()
    args = (blocks, slabs, stats["num_docs"], stats["total_tokens"],
            dict(golden["term_to_document_frequency"]))
    tiers = {
        "local": LocalBM25(*args, bucket_range=bucket_range),
        "sharded": ShardedBM25(*args, bucket_range=bucket_range, n_shards=2),
    }
    for name, tier in tiers.items():
        got = tier.search(["tieterm"], 10)
        assert [d for d, _ in got] == [d for d, _ in exp], name
        for e, g in zip(exp, got):
            assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_wand_batch_matches_single_and_oracle(ctx):
    """bm25_topk_wand_batch (2 jobs for the whole set) is rank- and
    score-identical to per-query bm25_topk_wand and the pandas oracle."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs
    from fulltextsearchengine_spark.operators.wand import bm25_topk_wand_batch

    golden, idx, blocks, stats = ctx
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).cache()
    ts = sorted(golden["term_to_document_frequency"])
    queries = {
        "q0": ts[:3],
        "q1": ts[20:24],
        "q2": [ts[5]],
        "q3": [ts[0], "zzznotaword"],
        "q4": ["zzznotaword"],
    }
    batch = bm25_topk_wand_batch(
        blocks, slabs, queries, 10,
        n_docs=stats["num_docs"], total_tokens=stats["total_tokens"],
        bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE,
    )
    for qid, q in queries.items():
        exp = oracle.bm25_search(golden, q, 10)
        single = bm25_topk_wand(
            blocks, slabs, q, 10,
            n_docs=stats["num_docs"], total_tokens=stats["total_tokens"],
            bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE,
        )
        assert [d for d, _ in batch[qid]] == [e[0] for e in exp], (qid, q)
        assert [d for d, _ in batch[qid]] == [d for d, _ in single], qid
        for e, g in zip(exp, batch[qid]):
            assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_sharded_bm25_router_matches_single(ctx):
    """ShardedBM25 (doc-range router over per-range LocalBM25 shards)
    is rank- and score-identical to the unsharded server and the oracle;
    shard block sets are disjoint and covering."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs
    from fulltextsearchengine_spark.operators.sharding import ShardedBM25

    golden, idx, blocks, stats = ctx
    term_df = dict(golden["term_to_document_frequency"])
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).cache()
    router = ShardedBM25(
        blocks, slabs, stats["num_docs"], stats["total_tokens"],
        term_df=term_df, bucket_range=BUCKET_RANGE, n_shards=3,
    )
    assert len(router.shards) > 1, "corpus must actually shard for this test"
    assert sum(s.blocks.count() for s in router.shards) == blocks.count()

    terms_sorted = sorted(term_df)
    queries = [terms_sorted[:3], terms_sorted[20:24], [terms_sorted[5]], ["zzznotaword"]]
    for q in queries:
        exp = oracle.bm25_search(golden, q, 10)
        got = router.search(q, 10)
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for e, g in zip(exp, got):
            assert g[1] == pytest.approx(e[1], rel=1e-9)


def test_wand_searcher_warm_cache(ctx):
    """WandSearcher: rank/score-identical to bm25_topk_wand and the
    oracle; warm repeats refetch NO metadata (scoring pass only);
    OOV-only and partially-OOV queries behave; eviction stays sound."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs
    from fulltextsearchengine_spark.operators.wand import WandSearcher

    golden, idx, blocks, stats = ctx
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).cache()
    s = WandSearcher(
        blocks, slabs,
        n_docs=stats["num_docs"], total_tokens=stats["total_tokens"],
        bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE,
    )
    ts = sorted(golden["term_to_document_frequency"])
    queries = [ts[:3], ts[20:24], [ts[5]], [ts[0], "zzznotaword"], ["zzznotaword"]]
    for q in queries:
        exp = oracle.bm25_search(golden, q, 10)
        got = s.search(q, 10)
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for e, g in zip(exp, got):
            assert g[1] == pytest.approx(e[1], rel=1e-9)
    jobs_after_cold = s.metadata_jobs
    # every query except the last introduced ≥1 new term ('zzznotaword'
    # is cached — as df=0 — by the 4th query, so the 5th is free)
    assert jobs_after_cold == len(queries) - 1
    for q in queries:  # warm repeats: zero additional metadata jobs
        exp = oracle.bm25_search(golden, q, 10)
        got = s.search(q, 10)
        assert [g[0] for g in got] == [e[0] for e in exp], q
    assert s.metadata_jobs == jobs_after_cold
    # overlapping-new-term query: exactly ONE metadata fill for the miss
    q = [ts[0], ts[40]]
    exp = oracle.bm25_search(golden, q, 10)
    assert [g[0] for g in s.search(q, 10)] == [e[0] for e in exp]
    assert s.metadata_jobs == jobs_after_cold + 1

    # tiny-cache eviction: still exact, just refetches
    s2 = WandSearcher(
        blocks, slabs,
        n_docs=stats["num_docs"], total_tokens=stats["total_tokens"],
        bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE, max_terms=2,
    )
    for q in [ts[:3], ts[20:24], ts[:3]]:
        exp = oracle.bm25_search(golden, q, 10)
        got = s2.search(q, 10)
        assert [g[0] for g in got] == [e[0] for e in exp], q
        # cache may overflow only up to the width of the current query
        assert len(s2._meta) <= max(2, len(q))


def test_wand_tombstones_match_filtered_oracle(ctx):
    """Tombstone-aware WAND (VERDICT r3 #5): deleting the untombstoned
    top docs must surface the NEXT-best live docs with their pre-purge
    scores — identical to filtering the oracle's full ranking (the
    exclude_docs DataFrame-path semantics: stats stay pre-delete)."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs
    from fulltextsearchengine_spark.operators.wand import (
        WandSearcher,
        bm25_topk_wand,
        bm25_topk_wand_batch,
    )

    golden, idx, blocks, stats = ctx
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).cache()
    ts = sorted(golden["term_to_document_frequency"])
    q = ts[10:13]
    kw = dict(
        n_docs=stats["num_docs"], total_tokens=stats["total_tokens"],
        bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE,
    )
    base = bm25_topk_wand(blocks, slabs, q, 10, **kw)
    tomb = [d for d, _ in base[:3]]  # kill the top-3 → forces re-ranking
    exp = [(d, s) for d, s in oracle.bm25_search(golden, q, 50) if d not in tomb][:10]

    got = bm25_topk_wand(blocks, slabs, q, 10, tombstones=tomb, **kw)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for e, g in zip(exp, got):
        assert g[1] == pytest.approx(e[1], rel=1e-9)
    assert not set(tomb) & {g[0] for g in got}

    # DataFrame-shaped tombstones (tombstones_for_convs output) accepted
    tomb_df = idx.docs.sparkSession.createDataFrame(
        [(int(d),) for d in tomb], "doc_id long"
    )
    got_df = bm25_topk_wand(blocks, slabs, q, 10, tombstones=tomb_df, **kw)
    assert got_df == got

    # batch path: same tombstones, every query rank-identical to its
    # single-query tombstoned run
    queries = {"qa": q, "qb": ts[:3]}
    batch = bm25_topk_wand_batch(blocks, slabs, queries, 10, tombstones=tomb, **kw)
    for qid, qq in queries.items():
        single = bm25_topk_wand(blocks, slabs, qq, 10, tombstones=tomb, **kw)
        assert [g[0] for g in batch[qid]] == [s[0] for s in single], qid
        for s_, g in zip(single, batch[qid]):
            assert g[1] == pytest.approx(s_[1], rel=1e-12)

    # warm searcher: tombstones are per-call; the term cache stays
    # delete-independent (same searcher answers with AND without)
    s = WandSearcher(blocks, slabs, **kw)
    got_warm = s.search(q, 10, tombstones=tomb)
    assert [g[0] for g in got_warm] == [e[0] for e in exp]
    jobs = s.metadata_jobs
    assert s.search(q, 10) == base  # cache unpolluted by the delete
    assert s.metadata_jobs == jobs  # and still warm


def test_wand_msm_matches_df_scorer(ctx):
    """m-of-n WAND ("weak AND" — Broder et al. 2003's original
    formulation): rank- and score-identical to Searcher.bm25_search_msm
    for every m, on a query mixing one rare with two mid-df terms so
    the m filter actually changes the result set."""
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs
    from fulltextsearchengine_spark.operators.wand import WandSearcher, bm25_topk_wand

    golden, idx, blocks, stats = ctx
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).cache()
    by_df = sorted(
        golden["term_to_document_frequency"].items(), key=lambda kv: kv[1]
    )
    q = [by_df[0][0], by_df[len(by_df) // 2][0], by_df[-1][0]]
    kw = dict(
        n_docs=stats["num_docs"], total_tokens=stats["total_tokens"],
        bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE,
    )
    s = Searcher(idx)
    warm = WandSearcher(blocks, slabs, **kw)
    results = {}
    for m in range(1, len(q) + 1):
        exp = [
            (r["doc_id"], r["score"])
            for r in s.bm25_search_msm(q, 10, min_should_match=m).collect()
        ]
        got = bm25_topk_wand(blocks, slabs, q, 10, min_should_match=m, **kw)
        assert [g[0] for g in got] == [e[0] for e in exp], m
        for e, g in zip(exp, got):
            assert g[1] == pytest.approx(e[1], rel=1e-9)
        got_warm = warm.search(q, 10, min_should_match=m)
        assert got_warm == got, m
        results[m] = [g[0] for g in got]
    # the rare+mid mix must discriminate: m=2 differs from the OR union
    assert results[2] != results[1]
    # m composes with tombstones: kill m=2's top doc, next live doc rises
    top = results[2][0]
    got_t = bm25_topk_wand(
        blocks, slabs, q, 10, min_should_match=2, tombstones=[top], **kw
    )
    assert top not in [g[0] for g in got_t]
    exp_t = [
        (r["doc_id"], r["score"])
        for r in s.bm25_search_msm(q, 50, min_should_match=2).collect()
        if r["doc_id"] != top
    ][:10]
    assert [g[0] for g in got_t] == [e[0] for e in exp_t]
    with pytest.raises(ValueError):
        bm25_topk_wand(blocks, slabs, q, 10, min_should_match=4, **kw)
    # batch path: per-query m dict, each rank-identical to its
    # single-query msm run (and int broadcast form == dict form)
    from fulltextsearchengine_spark.operators.wand import bm25_topk_wand_batch

    queries = {"q1": q, "q2": q[:2], "q3": q}
    mdict = {"q1": 2, "q2": 1, "q3": 3}
    batch = bm25_topk_wand_batch(
        blocks, slabs, queries, 10, min_should_match=mdict, **kw
    )
    for qid, qq in queries.items():
        single = bm25_topk_wand(
            blocks, slabs, qq, 10, min_should_match=mdict[qid], **kw
        )
        assert [g[0] for g in batch[qid]] == [x[0] for x in single], qid
        for x, g in zip(single, batch[qid]):
            assert g[1] == pytest.approx(x[1], rel=1e-12)
    batch_int = bm25_topk_wand_batch(
        blocks, slabs, {"q1": q}, 10, min_should_match=2, **kw
    )
    assert batch_int["q1"] == batch["q1"]
    with pytest.raises(ValueError):
        bm25_topk_wand_batch(
            blocks, slabs, queries, 10, min_should_match={"q2": 5}, **kw
        )


def test_wand_weighted_matches_df_scorer(ctx):
    """^N query boosts on the serving path: rank+score identity with
    bm25_weighted_scores on cold and warm WAND; the weight folds into
    idf so every pruning bound scales consistently."""
    from fulltextsearchengine_spark.operators.feedback import bm25_weighted_scores
    from fulltextsearchengine_spark.operators.posting_blocks import build_doc_len_slabs
    from fulltextsearchengine_spark.operators.wand import WandSearcher, bm25_topk_wand

    golden, idx, blocks, stats = ctx
    slabs = build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).cache()
    by_df = sorted(
        golden["term_to_document_frequency"].items(), key=lambda kv: kv[1]
    )
    q = [by_df[0][0], by_df[len(by_df) // 2][0], by_df[-1][0]]
    w = {q[2]: 4.0, q[1]: 0.5}  # boost the stopword, damp the mid term
    kw = dict(
        n_docs=stats["num_docs"], total_tokens=stats["total_tokens"],
        bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE,
    )
    s = Searcher(idx)
    exp_all = bm25_weighted_scores(
        s, {t: w.get(t, 1.0) for t in q}
    ).orderBy("score", ascending=False).collect()
    exp = sorted(
        [(r["doc_id"], r["score"]) for r in exp_all],
        key=lambda x: (-x[1], x[0]),
    )[:10]
    got = bm25_topk_wand(blocks, slabs, q, 10, weights=w, **kw)
    assert [g[0] for g in got] == [e[0] for e in exp]
    for e, g in zip(exp, got):
        assert g[1] == pytest.approx(e[1], rel=1e-9)
    warm = WandSearcher(blocks, slabs, **kw)
    assert warm.search(q, 10, weights=w) == got
    # unweighted == weights of all 1.0 (exact float identity)
    assert bm25_topk_wand(blocks, slabs, q, 10, weights={t: 1.0 for t in q}, **kw) \
        == bm25_topk_wand(blocks, slabs, q, 10, **kw)
    # boosts reorder vs unweighted (the boost actually bites)
    assert [g[0] for g in got] != [
        g[0] for g in bm25_topk_wand(blocks, slabs, q, 10, **kw)
    ]
    # guards: unknown term, non-positive weight
    with pytest.raises(ValueError, match="non-query"):
        bm25_topk_wand(blocks, slabs, q, 10, weights={"zzz": 2.0}, **kw)
    with pytest.raises(ValueError, match="> 0"):
        bm25_topk_wand(blocks, slabs, q, 10, weights={q[0]: 0.0}, **kw)


def test_auto_bucket_range_sizes_to_corpus():
    """Verdict r4 #4: ~512 buckets at every corpus size, power-of-two,
    clamped to [2^12, 2^22]."""
    from fulltextsearchengine_spark.operators.posting_blocks import (
        DEFAULT_BUCKET_RANGE,
        auto_bucket_range,
    )

    assert auto_bucket_range(0) == 1 << 12
    assert auto_bucket_range(300_000) == 1 << 12        # floor clamp
    assert auto_bucket_range(30_000_000) == 1 << 16     # 458 buckets
    assert auto_bucket_range(1 << 31) == 1 << 22        # exactly docs/512
    assert auto_bucket_range(10**12) == DEFAULT_BUCKET_RANGE  # ceiling clamp
    for n in (1, 10_000, 123_456_789, 10**10):
        r = auto_bucket_range(n)
        assert r & (r - 1) == 0  # power of two
        assert (1 << 12) <= r <= DEFAULT_BUCKET_RANGE
        if (1 << 12) < r < DEFAULT_BUCKET_RANGE:
            assert n / r <= 512 < 2 * n / r  # next_pow2 tightness


def test_non_pow2_bucket_range_falls_back_to_per_bucket_groups(ctx):
    """bucket_range=1000 does not divide the build's group range, so the
    build groups per bucket; the blocks still round-trip exactly."""
    golden, idx, _, stats = ctx
    avgdl = stats["total_tokens"] / stats["num_docs"]
    blocks = build_posting_blocks(idx.postings, avgdl=avgdl, bucket_range=1000)
    got: dict[str, list[int]] = {}
    for r in sorted(
        blocks_to_postings(blocks).collect(), key=lambda r: (r["term"], r["doc_id"])
    ):
        got.setdefault(r["term"], []).extend([r["doc_id"], r["tf"]])
    assert got == golden["term_to_postings"]
