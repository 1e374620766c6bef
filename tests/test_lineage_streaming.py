"""Checkpoint-resumable staged build + lineage verification + streaming
segment indexing + multimodal plumbing."""

from __future__ import annotations

import pandas as pd
import pytest

from fulltextsearchengine_spark import oracle
from fulltextsearchengine_spark.sources.transcripts import TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module")
def corpus(tiny_transcripts_pdf):
    return tiny_transcripts_pdf


def test_checkpoint_resume(spark, corpus, tmp_path_factory):
    from fulltextsearchengine_spark.plans.lineage import build_index_checkpointed

    base = str(tmp_path_factory.mktemp("ckpt"))
    sdf = spark.createDataFrame(corpus, schema=TRANSCRIPT_SCHEMA)

    idx1, blocks1, r1 = build_index_checkpointed(spark, sdf, base)
    assert r1.ran == ["postings", "docs", "terms", "conv_ranges", "stats", "blocks"]
    assert r1.skipped == []
    golden = oracle.build_index(corpus)
    assert idx1.stats_row()["total_tokens"] == golden["total_tokens"]

    # second run: everything resumes from checkpoint, nothing recomputes
    idx2, blocks2, r2 = build_index_checkpointed(spark, sdf, base)
    assert r2.ran == []
    assert set(r2.skipped) == {"docs", "postings", "terms", "conv_ranges", "stats", "blocks"}
    assert idx2.stats_row() == idx1.stats_row()
    assert blocks2.count() == blocks1.count()

    # lineage checksums verify (and metrics exist for every stage)
    assert r1.verify_lineage("postings")
    assert r1.verify_lineage("docs")
    m = {x["stage"]: x for x in r1.metrics()}
    assert m["postings"]["rows"] > 0 and m["postings"]["wall_ms"] > 0


def test_partial_resume(spark, corpus, tmp_path_factory):
    """Delete one stage marker → only that stage (and nothing else)
    recomputes; results unchanged."""
    import os

    from fulltextsearchengine_spark.plans.lineage import build_index_checkpointed

    base = str(tmp_path_factory.mktemp("ckpt2"))
    sdf = spark.createDataFrame(corpus, schema=TRANSCRIPT_SCHEMA)
    idx1, _, _ = build_index_checkpointed(spark, sdf, base)
    terms_before = sorted(
        (r["term"], r["df"], r["cf"]) for r in idx1.terms.collect()
    )
    os.remove(f"{base}/terms/_STAGE_DONE")
    idx2, _, r2 = build_index_checkpointed(spark, sdf, base)
    assert r2.ran == ["terms"]
    assert sorted((r["term"], r["df"], r["cf"]) for r in idx2.terms.collect()) == terms_before


def test_resume_reruns_stage_with_new_params(spark, corpus, tmp_path_factory):
    """A resumed build never reuses a stage built with other parameters:
    a changed bucket_range re-runs exactly the blocks stage, whose new
    rows carry the new bucket ids; a marker without a fingerprint (an
    older checkpoint) counts as a mismatch."""
    from fulltextsearchengine_spark.plans.lineage import build_index_checkpointed

    base = str(tmp_path_factory.mktemp("ckpt3"))
    sdf = spark.createDataFrame(corpus, schema=TRANSCRIPT_SCHEMA)
    build_index_checkpointed(spark, sdf, base)
    _, blocks, r2 = build_index_checkpointed(spark, sdf, base, bucket_range=16)
    assert r2.ran == ["blocks"]
    rows = blocks.select("bucket", "first_doc_id", "last_doc_id").collect()
    assert max(r["bucket"] for r in rows) > 0
    for r in rows:
        assert (r["first_doc_id"] - 1) // 16 == r["bucket"] == (r["last_doc_id"] - 1) // 16

    with open(f"{base}/terms/_STAGE_DONE", "w"):
        pass
    _, _, r3 = build_index_checkpointed(spark, sdf, base, bucket_range=16)
    assert r3.ran == ["terms"]


def test_resume_reruns_on_other_input(spark, corpus, tmp_path_factory, count_jobs):
    """A build over other input into an existing base re-runs every
    stage instead of returning the old index; fingerprinting the input
    itself runs no Spark job, so a fully resumed build still runs none
    before it returns."""
    from fulltextsearchengine_spark.datagen import make_transcripts
    from fulltextsearchengine_spark.plans.lineage import (
        build_index_checkpointed,
        input_fingerprint,
    )

    base = str(tmp_path_factory.mktemp("ckpt4"))
    build_index_checkpointed(spark, spark.createDataFrame(corpus, schema=TRANSCRIPT_SCHEMA), base)
    other = spark.createDataFrame(
        make_transcripts(n_turns=200, n_convs=20, vocab_size=300, seed=7), schema=TRANSCRIPT_SCHEMA
    )
    idx, _, r2 = build_index_checkpointed(spark, other, base)
    assert r2.ran == ["postings", "docs", "terms", "conv_ranges", "stats", "blocks"]
    assert idx.stats_row()["num_docs"] == 200

    # a file-backed input: the fingerprint follows the files, costs no job
    src = str(tmp_path_factory.mktemp("ckpt4_in") / "t")
    other.write.parquet(src)
    files = spark.read.parquet(src)  # the read infers the schema: a job
    fp, jobs = count_jobs(lambda: input_fingerprint(files))
    assert jobs == 0 and fp == input_fingerprint(spark.read.parquet(src))
    other.limit(50).write.mode("overwrite").parquet(src)
    assert input_fingerprint(spark.read.parquet(src)) != fp


def test_streaming_incremental_index(spark, corpus, tmp_path_factory):
    """Two parquet drops → two segments; merged postings/stats equal the
    one-shot batch build over the concatenated corpus (modulo docID
    permutation: batch orders globally by (conv_id, turn_idx), segments
    by arrival batch — both are valid arrival orders; we compare
    per-(conv_id, turn_idx) term stats which are docID-invariant)."""
    from fulltextsearchengine_spark.streaming.stream_index import (
        merge_segment_stats,
        merged_docs,
        merged_postings,
        run_incremental_index,
    )

    base = tmp_path_factory.mktemp("stream")
    input_dir = str(base / "in")
    half = len(corpus) // 2
    a, b = corpus.iloc[:half], corpus.iloc[half:]
    spark.createDataFrame(a, schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)
    spark.createDataFrame(b, schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)

    run_incremental_index(
        spark, input_dir, str(base / "index"), str(base / "ckpt"), await_termination=True
    )

    stats = merge_segment_stats(spark, str(base / "index"))
    golden = oracle.build_index(corpus)
    assert stats["total_tokens"] == golden["total_tokens"]
    assert stats["unique_terms"] == golden["unique_tokens"]
    assert stats["num_pairs"] == sum(golden["term_to_document_frequency"].values())

    # global doc_ids are unique and dense 1..N across segments
    ids = [r["doc_id"] for r in merged_docs(spark, str(base / "index")).collect()]
    assert sorted(ids) == list(range(1, len(corpus) + 1))

    # per-turn term stats identical to the batch build (docID-invariant)
    docs = merged_docs(spark, str(base / "index"))
    post = merged_postings(spark, str(base / "index"))
    got = {
        (r["conv_id"], r["turn_idx"]): r["doc_len"] for r in docs.collect()
    }
    exp = {
        (m["conv_id"], m["turn_idx"]): golden["doc_to_length"][d]
        for d, m in golden["doc_to_meta"].items()
    }
    assert got == exp
    assert post.count() == sum(golden["term_to_document_frequency"].values())


def test_compaction_restores_conv_contiguity(spark, tmp_path_factory):
    """A conversation whose turns arrive in DIFFERENT micro-batches gets
    non-contiguous global doc_ids under per-segment doc_base offsets;
    compaction must re-rank so conv_ranges' [min, max] expansion
    (Searcher.conv_doc_ids) returns exactly the conv's docs again —
    the reference contiguity invariant (ProductIdToDocIdMapper.java:
    142-151, IndexReaderIntegrationTest.java:127-143)."""
    import pandas as pd

    from fulltextsearchengine_spark.operators.index_build import load_index
    from fulltextsearchengine_spark.operators.search import Searcher
    from fulltextsearchengine_spark.streaming.stream_index import (
        compact_segments,
        run_incremental_index,
    )

    def turns(rows):
        return pd.DataFrame(
            rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
        ).astype({"turn_idx": "int32"})

    base = tmp_path_factory.mktemp("convspan")
    input_dir = str(base / "in")
    # batch 1: conv_a turn 0, conv_b turn 0 | batch 2: conv_a turn 1 (SPANS)
    b1 = turns([("conv_a", 0, "user", "alpha beta", None, None),
                ("conv_b", 0, "user", "gamma delta", None, None)])
    b2 = turns([("conv_a", 1, "assistant", "alpha gamma", None, None),
                ("conv_c", 0, "user", "beta beta epsilon", None, None)])
    spark.createDataFrame(b1, schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)
    spark.createDataFrame(b2, schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)
    run_incremental_index(spark, input_dir, str(base / "seg"), str(base / "ckpt"))
    compact_segments(spark, str(base / "seg"), str(base / "out"))

    idx = load_index(spark, str(base / "out"))
    # contiguity invariant: every conv's range size equals its doc count
    for r in idx.conv_ranges.collect():
        assert r["to_doc_id"] - r["from_doc_id"] + 1 == r["n_docs"], r
    # conv_doc_ids returns exactly conv_a's docs (no other conv's ids)
    s = Searcher(idx)
    got = sorted(x["doc_id"] for x in s.conv_doc_ids("conv_a").collect())
    true_ids = sorted(
        x["doc_id"] for x in idx.docs.filter("conv_id = 'conv_a'").collect()
    )
    assert got == true_ids and len(got) == 2
    # and doc_ids are dense 1..N ranked by (conv_id, turn_idx) — identical
    # to a from-scratch batch build over the concatenated input
    meta = {(r["conv_id"], r["turn_idx"]): r["doc_id"] for r in idx.docs.collect()}
    assert meta == {
        ("conv_a", 0): 1, ("conv_a", 1): 2, ("conv_b", 0): 3, ("conv_c", 0): 4
    }


def test_multimodal_plumbing(spark):
    from fulltextsearchengine_spark.operators.multimodal import (
        decode_images,
        extract_byte_features,
        media_with_embeddings,
        sample_frames,
        synth_media,
    )

    media = synth_media(spark, n=30).cache()
    feats = extract_byte_features(media).collect()
    assert len(feats) == 30
    for r in feats:
        assert r["n_bytes"] > 0 and 0 <= r["mean_byte"] <= 255
        assert len(r["histogram"]) == 16 and sum(r["histogram"]) == r["n_bytes"]

    imgs = decode_images(media, fake=True).collect()
    assert len(imgs) == 10  # a third of 30 are images
    for r in imgs:
        assert r["channels"] == 3 and 0 <= r["mean_r"] <= 255

    with pytest.raises(NotImplementedError):
        decode_images(media, fake=False)

    frames = sample_frames(media, n_frames=4).collect()
    vids = {r["media_id"] for r in frames}
    assert len(vids) == 10 and all(len(r["frame_payload"]) > 0 for r in frames)

    emb = media_with_embeddings(media, dim=16).collect()
    assert len(emb) == 30 and all(len(r["embedding"]) == 16 for r in emb)
    # determinism: same payload → same embedding
    again = {r["media_id"]: r["embedding"] for r in media_with_embeddings(media, dim=16).collect()}
    for r in emb:
        assert again[r["media_id"]] == r["embedding"]


def test_watermarked_window_agg(spark, tmp_path_factory):
    """Streaming windowed agg (watermark + tumbling window, availableNow
    → memory sink) equals the batch groupBy on the same data."""
    import pandas as pd

    from fulltextsearchengine_spark.streaming.events import (
        run_stream_to_memory,
        windowed_event_counts,
    )

    base = tmp_path_factory.mktemp("events")
    pdf = pd.DataFrame(
        {
            "ts": pd.to_datetime(
                ["2026-01-01 10:05", "2026-01-01 10:55", "2026-01-01 11:05",
                 "2026-01-01 11:59", "2026-01-01 12:00", "2026-01-01 10:30"]
            ),
            "event_type": ["a", "a", "b", "a", "b", "b"],
            "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
        }
    )
    sdf = spark.createDataFrame(pdf, schema="ts timestamp, event_type string, value double")
    sdf.write.mode("overwrite").parquet(str(base / "in"))

    batch = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in windowed_event_counts(sdf).collect()
    }
    run_stream_to_memory(
        spark, str(base / "in"), "ts timestamp, event_type string, value double",
        query_name="evt_test",
    )
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM evt_test").collect()
    }
    assert streamed == batch
    assert len(batch) == 5  # (10h a), (10h b), (11h a), (11h b), (12h b)


def test_segment_compaction(spark, corpus, tmp_path_factory):
    """compact_segments folds streamed segments into a batch-shaped
    index whose BM25 results match the pandas oracle on the full corpus
    — streamed ingest + compaction ≡ one-shot batch semantics, modulo
    docID arrival order (scores are computed per doc; we compare by
    (conv_id, turn_idx) identity)."""
    from fulltextsearchengine_spark.operators.index_build import load_index
    from fulltextsearchengine_spark.operators.search import Searcher
    from fulltextsearchengine_spark.streaming.stream_index import (
        compact_segments,
        run_incremental_index,
    )

    base = tmp_path_factory.mktemp("compact")
    input_dir = str(base / "in")
    half = len(corpus) // 2
    spark.createDataFrame(corpus.iloc[:half], schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)
    spark.createDataFrame(corpus.iloc[half:], schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)
    run_incremental_index(spark, input_dir, str(base / "seg"), str(base / "ckpt"))
    compact_segments(spark, str(base / "seg"), str(base / "out"))

    idx = load_index(spark, str(base / "out"))
    golden = oracle.build_index(corpus)
    assert idx.stats_row()["total_tokens"] == golden["total_tokens"]
    assert idx.stats_row()["num_docs"] == golden["num_docs"]

    s = Searcher(idx)
    q = sorted(golden["term_to_document_frequency"])[:3]
    got = {r["doc_id"]: r["score"] for r in s.bm25_scores(q).collect()}
    # map segment docIDs -> (conv,turn) and compare score sets with oracle
    id2key = {r["doc_id"]: (r["conv_id"], r["turn_idx"]) for r in idx.docs.collect()}
    exp_scores = {}
    for d, sc in oracle.bm25_search(golden, q, 10 ** 9):
        m = golden["doc_to_meta"][d]
        exp_scores[(m["conv_id"], m["turn_idx"])] = sc
    got_scores = {id2key[d]: sc for d, sc in got.items()}
    assert set(got_scores) == set(exp_scores)
    for kk in exp_scores:
        assert got_scores[kk] == pytest.approx(exp_scores[kk], rel=1e-9)


def test_merge_indexes_equals_batch_build(spark, corpus, tmp_path_factory):
    """merge_indexes over two independently-built half indexes is
    TABLE-IDENTICAL to a from-scratch batch build over the concatenated
    corpus: the fold re-ranks docIDs dense by (conv_id, turn_idx) — the
    same total order assign_doc_ids gives the batch build — so postings,
    docs, terms, conv_ranges and stats all match row-for-row. This is
    the incremental-ingest contract: build the increment alone, merge,
    never re-tokenize the standing corpus."""
    from fulltextsearchengine_spark.operators.index_build import (
        build_and_save_index,
        load_index,
    )
    from fulltextsearchengine_spark.streaming.stream_index import merge_indexes

    base = tmp_path_factory.mktemp("merge")
    half = len(corpus) // 2
    a = spark.createDataFrame(corpus.iloc[:half], schema=TRANSCRIPT_SCHEMA)
    b = spark.createDataFrame(corpus.iloc[half:], schema=TRANSCRIPT_SCHEMA)
    full = spark.createDataFrame(corpus, schema=TRANSCRIPT_SCHEMA)

    build_and_save_index(a, str(base / "ia"))
    build_and_save_index(b, str(base / "ib"))
    build_and_save_index(full, str(base / "ifull"))
    merge_indexes(spark, [str(base / "ia"), str(base / "ib")], str(base / "imerged"))

    m, f = load_index(spark, str(base / "imerged")), load_index(spark, str(base / "ifull"))
    for tbl in ("postings", "docs", "terms", "conv_ranges"):
        got = sorted(map(tuple, getattr(m, tbl).collect()))
        exp = sorted(map(tuple, getattr(f, tbl).collect()))
        assert got == exp, f"{tbl} differs after merge"
    assert m.stats_row() == f.stats_row()


def test_segmented_index_search_matches_batch(spark, corpus, tmp_path_factory):
    """load_segmented_index queries the live segment store with NO
    compaction pass: BM25 scores over the segment union are identical
    (by (conv_id, turn_idx) doc identity) to a from-scratch batch build,
    and global stats agree."""
    from fulltextsearchengine_spark.operators.index_build import build_index
    from fulltextsearchengine_spark.operators.search import Searcher
    from fulltextsearchengine_spark.streaming.stream_index import (
        load_segmented_index,
        run_incremental_index,
    )

    base = tmp_path_factory.mktemp("segq")
    input_dir = str(base / "in")
    half = len(corpus) // 2
    spark.createDataFrame(corpus.iloc[:half], schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)
    spark.createDataFrame(corpus.iloc[half:], schema=TRANSCRIPT_SCHEMA).write.mode("append").parquet(input_dir)
    run_incremental_index(spark, input_dir, str(base / "seg"), str(base / "ckpt"))

    seg_idx = load_segmented_index(spark, str(base / "seg"))
    batch_idx = build_index(spark.createDataFrame(corpus, schema=TRANSCRIPT_SCHEMA))
    assert seg_idx.stats_row() == batch_idx.stats_row()

    q = ["hash", "sort"]
    def by_key(idx, scores):
        id2key = {r["doc_id"]: (r["conv_id"], r["turn_idx"]) for r in idx.docs.collect()}
        return {id2key[r["doc_id"]]: r["score"] for r in scores}

    got = by_key(seg_idx, Searcher(seg_idx).bm25_scores(q).collect())
    exp = by_key(batch_idx, Searcher(batch_idx).bm25_scores(q).collect())
    assert set(got) == set(exp)
    for kk in exp:
        assert got[kk] == pytest.approx(exp[kk], rel=1e-12)
