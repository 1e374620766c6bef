"""Spark job counts of the serving tiers, asserted with AQE on (the
session default). Blocks and slabs are read back from parquet, as a
server reads them, so no cache materialization is counted.

- WandSearcher fill for new terms: 2 (metadata scan, payload scan);
- WandSearcher.search over cached terms: 2 (the one-exchange scoring
  pass: a shuffle-map job and a result job);
- bm25_topk_wand (cold): 4; bm25_topk_wand_batch: 4 for the whole batch;
- LocalBM25.search with several new terms: 1;
- ShardedBM25.search with several new terms: 1 for all shards."""

from __future__ import annotations

import pytest

from fulltextsearchengine_spark.operators.index_build import build_index
from fulltextsearchengine_spark.operators.local_query import LocalBM25
from fulltextsearchengine_spark.operators.posting_blocks import (
    build_doc_len_slabs,
    build_posting_blocks,
)
from fulltextsearchengine_spark.operators.sharding import ShardedBM25
from fulltextsearchengine_spark.operators.wand import (
    WandSearcher,
    bm25_topk_wand,
    bm25_topk_wand_batch,
)
from fulltextsearchengine_spark.sources.transcripts import TRANSCRIPT_SCHEMA

BUCKET_RANGE = 256
BLOCK_SIZE = 16


@pytest.fixture(scope="module")
def served(spark, small_transcripts_pdf, tmp_path_factory):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    idx = build_index(spark.createDataFrame(small_transcripts_pdf, schema=TRANSCRIPT_SCHEMA))
    st = idx.stats_row()
    d = tmp_path_factory.mktemp("wand_jobs")
    build_posting_blocks(
        idx.postings, avgdl=st["total_tokens"] / st["num_docs"],
        block_size=BLOCK_SIZE, bucket_range=BUCKET_RANGE,
    ).write.parquet(str(d / "blocks"))
    build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), BUCKET_RANGE).write.parquet(
        str(d / "slabs")
    )
    blocks = spark.read.parquet(str(d / "blocks"))
    slabs = spark.read.parquet(str(d / "slabs"))
    term_df = {r["term"]: int(r["df"]) for r in idx.terms.collect()}
    hot = sorted(term_df, key=lambda t: (-term_df[t], t))
    kw = dict(
        n_docs=st["num_docs"], total_tokens=st["total_tokens"],
        bucket_range=BUCKET_RANGE, block_size=BLOCK_SIZE,
    )
    return blocks, slabs, term_df, hot, kw


def test_wand_searcher_fill_and_warm_jobs(served, count_jobs):
    blocks, slabs, _, hot, kw = served
    ws = WandSearcher(blocks, slabs, **kw)
    q = hot[:3]
    _, fill = count_jobs(lambda: ws._ensure_terms(q))
    assert fill == 2
    got, warm = count_jobs(lambda: ws.search(q, 10))
    assert got and warm == 2
    _, again = count_jobs(lambda: ws.search(q, 10))
    assert again == 2
    # a miss: the fill for the new term, then the scoring pass
    _, miss = count_jobs(lambda: ws.search([hot[0], hot[7]], 10))
    assert miss == 4


def test_cold_wand_and_batch_jobs(served, count_jobs):
    blocks, slabs, _, hot, kw = served
    got, cold = count_jobs(lambda: bm25_topk_wand(blocks, slabs, hot[:3], 10, **kw))
    assert got and cold == 4
    queries = {"a": hot[:3], "b": [hot[4]], "c": hot[5:8]}
    res, batch = count_jobs(lambda: bm25_topk_wand_batch(blocks, slabs, queries, 10, **kw))
    assert all(res.values()) and batch == 4


def test_local_bm25_miss_is_one_job(served, count_jobs):
    blocks, slabs, term_df, hot, kw = served
    local = LocalBM25(
        blocks, slabs, kw["n_docs"], kw["total_tokens"], term_df, bucket_range=BUCKET_RANGE
    )
    got, miss = count_jobs(lambda: local.search(hot[:3], 10))
    assert got and miss == 1
    _, hit = count_jobs(lambda: local.search(hot[:3], 10))
    assert hit == 0


def test_sharded_bm25_miss_is_one_job(served, count_jobs):
    blocks, slabs, term_df, hot, kw = served
    router = ShardedBM25(
        blocks, slabs, kw["n_docs"], kw["total_tokens"], term_df, BUCKET_RANGE, n_shards=4
    )
    assert len(router.shards) > 1
    # a df=1 term has blocks in one shard only; the others must cache it
    # as empty, or they would fetch it again on every query
    q = hot[:3] + [min(term_df, key=lambda t: (term_df[t], t))]
    got, miss = count_jobs(lambda: router.search(q, 10))
    assert got and miss == 1
    _, hit = count_jobs(lambda: router.search(q, 10))
    assert hit == 0
