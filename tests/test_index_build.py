"""Spark index build vs the pure-pandas oracle (FIXTURES.md §2 golden
contents) — the analog of the reference's golden-file integration tests
(src/test/java/webdata/IndexReaderIntegrationTest.java:51-188, golden
JSON from datasets/testScenarioBuilder.py)."""

from __future__ import annotations

import pytest

from fulltextsearchengine_spark import oracle
from fulltextsearchengine_spark.operators.index_build import build_index
from fulltextsearchengine_spark.sources.transcripts import TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module", params=["builtin", "pandas_udf"])
def built(request, spark, small_transcripts_pdf):
    golden = oracle.build_index(small_transcripts_pdf)
    sdf = spark.createDataFrame(small_transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    idx = build_index(sdf, use_pandas_tokenizer=(request.param == "pandas_udf"))
    return golden, idx


def test_doc_ids_and_metadata(built):
    golden, idx = built
    rows = idx.docs.collect()
    assert len(rows) == golden["num_docs"]
    for r in rows:
        meta = golden["doc_to_meta"][r["doc_id"]]
        assert (r["conv_id"], r["turn_idx"], r["role"]) == (
            meta["conv_id"], meta["turn_idx"], meta["role"]
        )
        assert (r["tool"] or None) == meta["tool"]
        assert r["doc_len"] == golden["doc_to_length"][r["doc_id"]]


def test_doc_ids_order_invariant(spark, small_transcripts_pdf):
    """Shuffled input rows must produce identical docIDs (per-row
    invariant from input_hint: text equality under stable turn order)."""
    from fulltextsearchengine_spark.operators.docid import assign_doc_ids

    sdf = spark.createDataFrame(small_transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    shuffled = spark.createDataFrame(
        small_transcripts_pdf.sample(frac=1.0, random_state=99).reset_index(drop=True),
        schema=TRANSCRIPT_SCHEMA,
    )
    a = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in assign_doc_ids(sdf).collect()}
    b = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in assign_doc_ids(shuffled).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(1, len(a) + 1))


def test_postings(built):
    golden, idx = built
    got: dict[str, list[int]] = {}
    for r in sorted(idx.postings.collect(), key=lambda r: (r["term"], r["doc_id"])):
        got.setdefault(r["term"], []).extend([r["doc_id"], r["tf"]])
        assert r["doc_len"] == golden["doc_to_length"][r["doc_id"]]
    assert got == golden["term_to_postings"]


def test_terms_df_cf(built):
    golden, idx = built
    rows = idx.terms.collect()
    assert {r["term"]: r["df"] for r in rows} == golden["term_to_document_frequency"]
    assert {r["term"]: r["cf"] for r in rows} == golden["term_to_collection_frequency"]


def test_conv_ranges_contiguous(built):
    golden, idx = built
    for r in idx.conv_ranges.collect():
        ids = golden["conv_to_doc_ids"][r["conv_id"]]
        assert r["from_doc_id"] == ids[0]
        assert r["to_doc_id"] == ids[-1]
        assert r["n_docs"] == len(ids)
        assert ids == list(range(ids[0], ids[-1] + 1))  # contiguity


def test_global_stats(built):
    golden, idx = built
    s = idx.stats_row()
    assert s["total_tokens"] == golden["total_tokens"]
    assert s["unique_terms"] == golden["unique_tokens"]
    assert s["num_docs"] == golden["num_docs"]
    assert s["num_pairs"] == sum(golden["term_to_document_frequency"].values())


def test_build_paths_parity(spark, tiny_transcripts_pdf, tmp_path):
    """The lazy, the materializing and the checkpointed build run the
    same derivations, so all five tables are identical; the checkpointed
    stages are written zstd like the materialized index."""
    import glob

    import pyarrow.parquet as pq

    from fulltextsearchengine_spark.operators.index_build import build_and_save_index
    from fulltextsearchengine_spark.plans.lineage import build_index_checkpointed

    sdf = spark.createDataFrame(tiny_transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    lazy = build_index(sdf)
    saved = build_and_save_index(sdf, str(tmp_path / "saved"))
    ckpt, _, _ = build_index_checkpointed(spark, sdf, str(tmp_path / "ckpt"))
    for tbl in ("docs", "postings", "terms", "conv_ranges", "stats"):
        x = getattr(lazy, tbl)
        for other in (saved, ckpt):
            y = getattr(other, tbl).select(*x.columns)
            assert x.exceptAll(y).count() == 0 and y.exceptAll(x).count() == 0, tbl
    files = glob.glob(str(tmp_path / "ckpt" / "postings" / "data" / "*.parquet"))
    assert files
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for rg in range(meta.num_row_groups):
            for c in range(meta.num_columns):
                assert meta.row_group(rg).column(c).compression == "ZSTD", f


def test_build_and_save_index_job_count(spark, tiny_transcripts_pdf, tmp_path, count_jobs):
    """build_and_save_index runs exactly 25 Spark jobs, and every one of
    them, including those its writer submits from its own threads,
    carries the caller's job group."""
    from fulltextsearchengine_spark.operators.index_build import build_and_save_index

    sdf = spark.createDataFrame(tiny_transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    sc = spark.sparkContext
    first = sc._jsc.sc().dagScheduler().nextJobId()
    _, jobs = count_jobs(lambda: build_and_save_index(sdf, str(tmp_path / "idx")))
    assert jobs == sc._jsc.sc().dagScheduler().nextJobId() - first == 25
