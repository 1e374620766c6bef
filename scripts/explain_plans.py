"""Inspect the physical plans of the engine's hot paths and assert the
properties that matter at 100 TB: filter pushdown to parquet, column
pruning (ReadSchema), whole-stage codegen coverage, broadcast vs
sort-merge choices, TakeOrderedAndProject for top-k. Writes PLANS.md.

Usage: python scripts/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def grab_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
        print("--- simple ---")
        df.explain()  # simple mode shows *(n) whole-stage-codegen spans
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from pyspark.sql import functions as F

    from fulltextsearchengine_spark.operators.index_build import build_and_save_index
    from fulltextsearchengine_spark.operators.search import Searcher
    from fulltextsearchengine_spark.session import get_spark
    from fulltextsearchengine_spark.sources.transcripts import transcripts_from_documents

    spark = get_spark(master="local[4]", shuffle_partitions=4,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    wd = tempfile.mkdtemp(prefix="ftse_plans_")
    idx = build_and_save_index(transcripts_from_documents(spark, sf_dir), f"{wd}/index")
    s = Searcher(idx, preload_terms=True)
    s._stats = idx.stats_row()

    sections: list[tuple[str, str, list[str]]] = []

    p = grab_plan(s.bm25_search(["spark", "join", "fast"], 10))
    sections.append((
        "BM25 top-k (DataFrame path)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject", "HashAggregate", "!BatchEvalPython"],
    ))

    p = grab_plan(idx.postings.filter(F.col("term") == "spark").select("doc_id", "tf"))
    sections.append((
        "Posting lookup (getReviewsWithToken analog)", p,
        ["PushedFilters: [IsNotNull(term), EqualTo(term,spark)]", "ReadSchema"],
    ))

    hook_cs: list = []
    s.conv_search(["data", "table"], 10, explain_out=hook_cs)
    p = grab_plan(hook_cs[0])  # job 1: stage-1 winners (top-k)
    sections.append((
        "conv_search job 1 — stage-1 winners (productSearch analog)", p,
        ["TakeOrderedAndProject", "!BatchEvalPython"],
    ))
    p = grab_plan(hook_cs[1])  # job 2: range-pruned stage-2 denominators
    sections.append((
        "conv_search job 2 — stage-2 denominators (doc_id range-pruned docs scan)", p,
        ["PushedFilters: [Or(", "GreaterThanOrEqual(doc_id", "!BatchEvalPython"],
    ))

    # WAND serving plan: blocks + doc_len slabs persisted at build time,
    # query reads ONLY those (bucket-pruned) — never the docs table
    from fulltextsearchengine_spark.operators.posting_blocks import (
        build_doc_len_slabs,
        build_posting_blocks,
    )
    from fulltextsearchengine_spark.operators.wand import bm25_topk_wand

    st = s._stats
    avgdl = st["total_tokens"] / st["num_docs"]
    build_posting_blocks(idx.postings, avgdl=avgdl, block_size=64, bucket_range=256) \
        .write.mode("overwrite").parquet(f"{wd}/wandidx/blocks")
    build_doc_len_slabs(idx.docs.select("doc_id", "doc_len"), 256) \
        .write.mode("overwrite").parquet(f"{wd}/wandidx/slabs")
    wblocks = spark.read.parquet(f"{wd}/wandidx/blocks")
    wslabs = spark.read.parquet(f"{wd}/wandidx/slabs")
    # a cold query: hook = [fill metadata scan, fill payload scan, scoring pass]
    hook: list = []
    bm25_topk_wand(
        wblocks, wslabs, ["spark", "join", "fast"], 10,
        n_docs=st["num_docs"], total_tokens=st["total_tokens"],
        bucket_range=256, block_size=64, explain_out=hook,
    )
    sections.append((
        "WAND fill, job 1 — metadata-only scan (no exchange, no payload columns)",
        grab_plan(hook[0]),
        ["wandidx/blocks", "PushedFilters: [In(term", "!Exchange", "!gaps_ctrl",
         "!gaps_data", "!tfs_ctrl", "!tfs_data", "!wandidx/slabs", "!/index/docs"],
    ))
    sections.append((
        "WAND fill, job 2 — seed payload ∪ seed slabs in one scan (no exchange)",
        grab_plan(hook[1]),
        ["wandidx/blocks", "wandidx/slabs", "Union", "!Exchange", "!Join",
         "!/index/docs"],
    ))
    sections.append((
        "BM25 WAND serving (one bucket exchange, blocks+slabs only, docs table untouched)",
        grab_plan(hook[-1]),
        ["wandidx/blocks", "wandidx/slabs", "In(bucket", "=1:FlatMapGroupsInPandas",
         "=1:Exchange hashpartitioning(bucket", "=1:Exchange",
         "!FlatMapCoGroupsInPandas", "!/index/docs", "!SortMergeJoin",
         "!BroadcastNestedLoopJoin"],
    ))

    from fulltextsearchengine_spark.operators.dedup import minhash_lsh_pairs

    docs_raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = grab_plan(minhash_lsh_pairs(docs_raw, bands=4, rows_per_band=2))
    sections.append(("MinHash LSH pairs", p, ["HashAggregate"]))

    from fulltextsearchengine_spark.operators.chunking import chunk_documents
    from fulltextsearchengine_spark.operators.pipeline import clean_corpus

    p = grab_plan(clean_corpus(docs_raw))
    sections.append((
        "Cleaning pipeline (quality→lang→dedup fused)", p,
        ["!BatchEvalPython", "Window"],
    ))
    pc = grab_plan(chunk_documents(docs_raw, chunk_tokens=32, overlap=8))
    sections.append((
        "Document chunking (shuffle-free)", pc,
        ["!Exchange", "!BatchEvalPython", "Generate"],
    ))

    from fulltextsearchengine_spark.functions.repetition import with_repetition_stats

    p = grab_plan(with_repetition_stats(docs_raw, ns=(2, 3)))
    sections.append((
        "Repetition stats (row-local aggregate HOF)", p,
        ["!Exchange", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.sampling import stratified_sample

    p = grab_plan(
        stratified_sample(docs_raw, "source", {"src0": 1.0, "src1": 0.5}, "doc_id", 0.1)
    )
    sections.append((
        "Stratified sample (pure scan filter)", p,
        ["!Exchange", "!BatchEvalPython", "Filter"],
    ))

    from fulltextsearchengine_spark.operators.conversations import conv_context_windows

    p = grab_plan(conv_context_windows(transcripts_from_documents(spark, sf_dir)))
    sections.append((
        "Conversation context windows (one conv_id exchange, bounded frame)", p,
        ["Window", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.similarity import (
        quantize_embeddings,
        quantized_dot_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    p = grab_plan(quantized_dot_topk(quantize_embeddings(emb), qv, 10))
    sections.append((
        "int8 quantized dot top-k (JVM fold, no Python)", p,
        ["TakeOrderedAndProject", "!Exchange", "!BatchEvalPython"],
    ))

    # --- index-consumer surface (round-3 session 3) ---------------------
    from fulltextsearchengine_spark.operators.deletes import (
        exclude_docs,
        tombstones_for_convs,
    )

    tomb = tombstones_for_convs(idx, ["conv_000000", "conv_000001"])
    p = grab_plan(
        Searcher.topk(exclude_docs(s.bm25_scores(["spark", "join"]), tomb), 10)
    )
    sections.append((
        "Tombstone-excluded BM25 (broadcast anti-join, stats untouched)", p,
        ["BroadcastHashJoin", "LeftAnti", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.lexicon import (
        build_fuzzy_index,
        fuzzy_term_lookup,
        prefix_search,
    )

    p = grab_plan(prefix_search(idx.terms, "s", 10))
    sections.append((
        "Dictionary prefix search (pushed StartsWith on sorted terms)", p,
        ["StringStartsWith(term,s)", "TakeOrderedAndProject", "!Exchange"],
    ))

    build_fuzzy_index(idx.terms).write.mode("overwrite").parquet(f"{wd}/fuzzy")
    fidx = spark.read.parquet(f"{wd}/fuzzy")
    p = grab_plan(fuzzy_term_lookup(idx.terms, "spak", 10, fuzzy_index=fidx))
    sections.append((
        "Fuzzy term lookup (persisted deletion-variant sidecar, pruned In scan)", p,
        ["In(variant", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.keywords import conv_keywords

    p = grab_plan(conv_keywords(idx, k=3))
    sections.append((
        "Per-conv tf-idf keywords (partial agg + per-conv window)", p,
        ["HashAggregate", "Window", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.positions import (
        build_positional_postings,
        phrase_search,
    )

    build_positional_postings(transcripts_from_documents(spark, sf_dir)) \
        .write.mode("overwrite").parquet(f"{wd}/pospostings")
    posp = spark.read.parquet(f"{wd}/pospostings")
    p = grab_plan(phrase_search(posp, ["table", "hash"], 10))
    sections.append((
        "Phrase search (pruned In scan of positional side-table, array intersect)", p,
        ["In(term", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.snippets import search_with_snippets

    p = grab_plan(
        search_with_snippets(
            s, transcripts_from_documents(spark, sf_dir), ["spark", "join"], k=5
        )
    )
    sections.append((
        "Search with snippets (broadcast top-k back-joins, Catalyst string math)", p,
        ["BroadcastHashJoin", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.queryparse import execute_query

    p = grab_plan(
        execute_query(
            s, '"spark join" role:user -fast', k=10, pos_postings=posp
        )
    )
    sections.append((
        "Search-box query (filters as semi/anti joins, phrase verified last)", p,
        ["TakeOrderedAndProject", "LeftSemi", "LeftAnti", "!BatchEvalPython"],
    ))

    # --- session-4 surface ----------------------------------------------
    from fulltextsearchengine_spark.operators.facets import faceted_search

    p = grab_plan(faceted_search(s, ["spark", "join", "fast"], per_facet_k=5))
    sections.append((
        "Faceted search (WindowGroupLimit = map-side per-facet bounded heap)", p,
        ["WindowGroupLimit", "BroadcastHashJoin", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.functions.textstats import unigram_xent

    p = grab_plan(unigram_xent(docs_raw))
    sections.append((
        "Unigram cross-entropy (vocab-sized cf broadcast, no skewed shuffle)", p,
        ["BroadcastHashJoin", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.report import (
        source_quality_percentiles,
        tool_usage_report,
    )

    p = grab_plan(tool_usage_report(transcripts_from_documents(spark, sf_dir)))
    sections.append((
        "Tool-usage report (map-side combined groupBy on tool keys)", p,
        ["HashAggregate", "!BatchEvalPython"],
    ))
    p = grab_plan(source_quality_percentiles(docs_raw))
    sections.append((
        "Per-source exact percentiles (single agg pass)", p,
        ["!BatchEvalPython"],
    ))

    # --- session-5 surface ----------------------------------------------
    from fulltextsearchengine_spark.operators.bm25f import (
        bm25f_search,
        build_field_index,
    )

    fidx = build_field_index(transcripts_from_documents(spark, sf_dir))
    p = grab_plan(bm25f_search(fidx, ["spark", "join", "fast"], 10))
    sections.append((
        "BM25F conv-field search (keyed aggs + CASE idf, no UDF)", p,
        ["TakeOrderedAndProject", "HashAggregate", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.feedback import bm25_weighted_scores

    p = grab_plan(bm25_weighted_scores(s, {"spark": 0.4, "join": 0.3, "data": 0.3}))
    sections.append((
        "RM3 pass-2 weighted BM25 (same pruned-pivot plan as plain BM25)", p,
        ["HashAggregate", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.proximity import (
        proximity_boosted_search,
    )

    p = grab_plan(proximity_boosted_search(s, posp, ["spark", "join", "fast"], 10))
    sections.append((
        "Proximity-boosted search (pushed In on positional table; min-dist"
        " as array math — no explode of positions, no UDF)", p,
        ["In(term", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    # --- session-6: scorer matrix + tiered/dense serving ---------------
    p = grab_plan(s.lm_dirichlet_search(["spark", "join", "fast"], 10))
    sections.append((
        "Dirichlet LM top-k (same pruned-pivot shape as BM25)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject", "HashAggregate", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.collapse import collapsed_bm25_search

    p = grab_plan(collapsed_bm25_search(s, ["spark", "join", "fast"], 10, per_conv=1))
    sections.append((
        "Collapsed top-k (per-conv rank window → WindowGroupLimit bounded heap)", p,
        ["WindowGroupLimit", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.champions import (
        build_champion_lists,
        champion_bm25_search,
    )

    avgdl = s.stats["total_tokens"] / s.stats["num_docs"]
    champ = build_champion_lists(idx.postings, 8, avgdl=avgdl)
    p = grab_plan(champ)
    sections.append((
        "Champion tier build (per-term impact heap — WindowGroupLimit, one shuffle)", p,
        ["WindowGroupLimit", "!BatchEvalPython"],
    ))
    p = grab_plan(champion_bm25_search(s, ["spark", "join", "fast"], 10, champions=champ))
    sections.append((
        "Champion-restricted BM25 (tier candidates semi-joined pre-pivot, exact scoring)", p,
        ["In(term", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.synonyms import synonym_bm25_search

    p = grab_plan(synonym_bm25_search(s, ["spark"], {"spark": ["join"]}, 10))
    sections.append((
        "Synonym-expanded weighted BM25 (expanded In-list still pushdown-sized)", p,
        ["In(term", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.explain import explain_bm25

    p = grab_plan(explain_bm25(s, ["spark", "join", "fast"], 10))
    sections.append((
        "BM25 explanation (k-row top-k broadcast into the pruned postings scan)", p,
        ["BroadcastHashJoin", "In(term", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.pq import (
        pq_adc_topk,
        pq_encode,
        pq_seeded_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = pq_seeded_codebooks(64, 16, 16)
    p = grab_plan(pq_adc_topk(pq_encode(emb, books), [0.1] * 64, books, 10))
    sections.append((
        "PQ ADC top-k (Arrow MapInPandas stages, bounded-heap top-k; no row-Python)", p,
        ["MapInPandas", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    # --- session-7: APSS / eval / percolate / BPE / LTR -----------------
    from fulltextsearchengine_spark.operators.apss import sparse_cosine_pairs

    p = grab_plan(sparse_cosine_pairs(idx, 0.8))
    sections.append((
        "APSS prefix-filtered cosine pairs (no cartesian, broadcast term metadata)", p,
        ["BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.evaluation import graded_eval

    p = grab_plan(graded_eval(s, {"q0": ["spark", "join"], "q1": ["window"]}, k=10))
    sections.append((
        "Graded eval (NDCG/MRR/P/recall — pruned scans, eval-set-sized aggs)", p,
        ["In(term", "HashAggregate", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.percolate import (
        StoredQuery,
        percolate_index,
    )

    p = grab_plan(percolate_index(idx, [
        StoredQuery("a", ("spark", "join")),
        StoredQuery("b", ("window", "data"), min_should_match=1),
    ]))
    sections.append((
        "Percolation (registry broadcast into ONE pruned postings scan)", p,
        ["PushedFilters: [In(term", "BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.bpe import bpe_encode

    p = grab_plan(bpe_encode(
        transcripts_from_documents(spark, sf_dir), [("e", "r"), ("s", "t")]
    ))
    sections.append((
        "BPE encode (frozen merges, Arrow-batched UDF, zero shuffles)", p,
        ["ArrowEvalPython", "!Exchange", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.ltr import ltr_features

    p = grab_plan(ltr_features(s, {"q0": ["spark", "join"]}, k=20))
    sections.append((
        "LTR features (candidates + one pruned postings re-read, no row-Python)", p,
        ["In(term", "WindowGroupLimit", "!BatchEvalPython"],
    ))

    # --- session-8: corpus analytics / sessions / clustering / mining --
    from fulltextsearchengine_spark.operators.keywords import significant_terms

    p = grab_plan(significant_terms(idx, F.col("role") == "user", k=15))
    sections.append((
        "Significant terms (fg slice agg → vocab-sized JLH join, no row-Python)", p,
        ["HashAggregate", "TakeOrderedAndProject", "!CartesianProduct", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.sessions import session_stats

    ev = spark.createDataFrame(
        [(1, "2026-01-01 00:00:00", 1, "a", 1.0, None)],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    p = grab_plan(session_stats(ev))
    sections.append((
        "Sessionization (one user_id exchange feeds window + session agg)", p,
        ["Window", "HashAggregate", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.report import corpus_law_report

    p = grab_plan(corpus_law_report(idx, top_r=50, heaps_points=4))
    sections.append((
        "Corpus power-law fits (top-r TakeOrdered + single-pass conditional aggs)", p,
        ["TakeOrderedAndProject", "HashAggregate", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.clustering import (
        init_centroids,
        kmeans_assign,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = grab_plan(kmeans_assign(emb, init_centroids(emb, 4)))
    sections.append((
        "K-means assignment (Arrow map pass, zero shuffles)", p,
        ["MapInPandas", "!Exchange", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.contrastive import contrastive_pairs

    p = grab_plan(contrastive_pairs(s, [5, 17], n_neg=2))
    sections.append((
        "Contrastive pair mining (batch BM25 candidates + bounded rank window)", p,
        ["In(term", "!CartesianProduct", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.timeslice import TimeSlicedIndex

    tsi = TimeSlicedIndex.build(idx, f"{wd}/tsidx", granularity="day")
    p = grab_plan(
        tsi.bm25_search_time_range(
            ["spark", "join"], "2026-01-01 00:30:00", "2026-01-01 04:00:00", 10
        )
    )
    sections.append((
        "Time-ranged BM25 over the sliced layout (partition pruning + ts pushdown)", p,
        ["PartitionFilters", "slice", "TakeOrderedAndProject", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.dedup import duplicate_ngram_spans

    docs_raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = grab_plan(duplicate_ngram_spans(docs_raw, n=6))
    sections.append((
        "Duplicate n-gram spans (row-local gram expansion, one gram agg, one doc window)", p,
        ["HashAggregate", "Window", "!BatchEvalPython", "!CartesianProduct"],
    ))

    from fulltextsearchengine_spark.operators.ngram_lm import bigram_xent, train_bigram_lm

    lm = train_bigram_lm(docs_raw.filter("doc_id % 2 = 0"))
    p = grab_plan(bigram_xent(docs_raw, lm))
    sections.append((
        "Bigram LM perplexity (pair pre-agg to postings shape, vocab joins, one doc agg)", p,
        ["HashAggregate", "!BatchEvalPython", "!CartesianProduct"],
    ))

    from fulltextsearchengine_spark.operators.dsir import dsir_fit, dsir_log_weights

    fit = dsir_fit(docs_raw, docs_raw.filter("lang = 'en'"), n_buckets=512)
    p = grab_plan(dsir_log_weights(docs_raw, fit, n_buckets=512))
    sections.append((
        "DSIR log weights (postings-shape feature agg, broadcast bucket-ratio join)", p,
        ["HashAggregate", "BroadcastHashJoin", "!BatchEvalPython", "!CartesianProduct"],
    ))

    from fulltextsearchengine_spark.operators.nbayes import nb_scores, train_nb

    nbm = train_nb(docs_raw.filter("doc_id % 2 = 0"), "lang")
    p = grab_plan(nb_scores(docs_raw, nbm))
    sections.append((
        "NB classifier scoring (postings-shape tf agg, broadcast likelihood join)", p,
        ["HashAggregate", "BroadcastHashJoin", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.positions import (
        build_positional_postings,
        min_window_spans,
    )

    posp = build_positional_postings(transcripts_from_documents(spark, sf_dir))
    p = grab_plan(min_window_spans(posp, ["table", "hash", "scan"]))
    sections.append((
        "Min-window proximity (pruned In scan, one doc_id window, map-combined min)", p,
        ["Window", "HashAggregate", "!BatchEvalPython", "!CartesianProduct"],
    ))

    from fulltextsearchengine_spark.operators.positions import ordered_window_spans

    p = grab_plan(ordered_window_spans(posp, ["table", "hash", "scan"]))
    sections.append((
        # NB: the plan includes the inline positional-table BUILD, whose
        # posexplode is a Generate — the query side adds none on top
        "Ordered-window proximity (pruned In scan, per-slot pivot, HOF chain)", p,
        ["HashAggregate", "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.conversations import conv_health_report

    p = grab_plan(conv_health_report(transcripts_from_documents(spark, sf_dir)))
    sections.append((
        "Conversation health (one conv_id exchange for windows + aggs)", p,
        ["Window", "HashAggregate", "!BatchEvalPython"],
    ))

    # Round-4: tombstoned WAND — the deleted-doc set rides into the Arrow
    # kernel worker as a driver-side numpy array (deletes are ~0.01% of
    # corpus), so the plan must be IDENTICAL to untombstoned WAND: same
    # blocks+slabs scans, no extra join/exchange, docs table untouched.
    hook_t: list = []
    bm25_topk_wand(
        wblocks, wslabs, ["spark", "join", "fast"], 10,
        n_docs=st["num_docs"], total_tokens=st["total_tokens"],
        bucket_range=256, block_size=64, explain_out=hook_t,
        tombstones=[1, 2, 3],
    )
    p = grab_plan(hook_t[-1])
    sections.append((
        "Tombstoned WAND (delete set enters the kernel closure — no extra join)", p,
        ["wandidx/blocks", "wandidx/slabs", "=1:FlatMapGroupsInPandas",
         "=1:Exchange hashpartitioning(bucket", "=1:Exchange", "!Join",
         "!/index/docs", "!SortMergeJoin", "!BroadcastNestedLoopJoin"],
    ))

    # Round-4: minimum-should-match BM25 — the m-of-n filter must ride
    # the existing pivot (a null-count Filter above the HashAggregate),
    # adding NO join and NO second exchange vs the plain OR scorer.
    # The exchange-count identity is asserted against the ACTUAL plain
    # plan, not just claimed in prose.
    p_plain = grab_plan(s.bm25_search(["spark", "join", "fast"], 10))
    p = grab_plan(s.bm25_search_msm(["spark", "join", "fast"], 10, min_should_match=2))
    n_exchanges = p.count("Exchange")
    same = "==" if n_exchanges == p_plain.count("Exchange") else "EXCEEDS"
    sections.append((
        f"BM25 minimum-should-match (m-of-n filter on the pivot, {n_exchanges} "
        f"Exchange mentions {same} plain BM25's)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject", "HashAggregate",
         "!BatchEvalPython", "!SortMergeJoin", "!BroadcastHashJoin",
         *([] if same == "==" else ["msm exchange count == plain bm25"]),],
    ))

    # AND is the same core with m = n: the intersection is the matched-
    # slot Filter on the pivot, so it too adds no join and no exchange.
    p = grab_plan(s.bm25_search_conjunctive(["spark", "join", "fast"], 10))
    n_exchanges = p.count("Exchange")
    same = "==" if n_exchanges == p_plain.count("Exchange") else "EXCEEDS"
    sections.append((
        f"BM25 conjunctive AND (m = n filter on the pivot, {n_exchanges} "
        f"Exchange mentions {same} plain BM25's)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject",
         "!BatchEvalPython", "!SortMergeJoin", "!BroadcastHashJoin",
         *([] if same == "==" else ["and exchange count == plain bm25"]),],
    ))

    # Round-4: nested boolean retrieval — the whole AND/OR/NOT tree
    # compiles to ONE Catalyst boolean filter over the pivot's tf slots
    # (negated terms ride the same scan); no join, no second exchange.
    from fulltextsearchengine_spark.operators.boolquery import bool_search

    p = grab_plan(bool_search(s, "(spark OR join) AND fast AND NOT slow", 10))
    sections.append((
        "Nested boolean retrieval (tree folds into one pivot filter)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject", "HashAggregate",
         "!BatchEvalPython", "!SortMergeJoin", "!BroadcastHashJoin"],
    ))

    # Round-4: star connected components on an adversarial chain (the
    # shape propagation is worst at). Loop lineage is localCheckpoint-
    # truncated per round, so the audited plan is the final label join;
    # the property that matters is what must be ABSENT.
    from fulltextsearchengine_spark.operators.dedup_groups import connected_components

    chain = spark.range(256).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b")
    )
    rounds: list = []
    p = grab_plan(
        connected_components(chain, algorithm="star", rounds_out=rounds)
    )
    sections.append((
        f"Star connected components (256-node chain converged in {rounds[0]} "
        "alternating rounds, lineage O(1) via localCheckpoint)", p,
        ["!CartesianProduct", "!BatchEvalPython"],
    ))

    # Round-4 session-2: dismax best-fields — same keyed-agg shape as
    # BM25F (per-field stats fold into CASE literals; two aggs, no UDF)
    from fulltextsearchengine_spark.operators.bm25f import dismax_search

    p = grab_plan(dismax_search(fidx, ["spark", "join", "fast"], 10, tie_breaker=0.3))
    sections.append((
        "Dismax best-fields search (per-field CASE idf, max+tie agg, no UDF)", p,
        ["TakeOrderedAndProject", "HashAggregate", "!BatchEvalPython",
         "!SortMergeJoin", "!CartesianProduct"],
    ))

    # Round-4 session-2: multi-term (wildcard) search — after the
    # dictionary expansion (a separate vocabulary-sized job), the
    # scoring plan must be byte-identical in SHAPE to plain BM25:
    # pushed In over the expanded term set, one pivot, TakeOrdered.
    from fulltextsearchengine_spark.operators.multiterm import wildcard_search

    p = grab_plan(wildcard_search(s, "s*", 10, literal_terms=["join"]))
    sections.append((
        "Wildcard multi-term search (expansion feeds the ordinary pruned scorer)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject", "HashAggregate",
         "!BatchEvalPython", "!SortMergeJoin"],
    ))

    # Round-4 session-2: context-aware suggest — candidate postings scan
    # carries a pushed prefix filter; context side is a pruned In scan.
    from fulltextsearchengine_spark.operators.suggest import suggest_next_terms

    p = grab_plan(suggest_next_terms(idx, ["join"], "s", 5))
    sections.append((
        "Context-aware suggest (pushed StartsWith candidates, semi-join context)", p,
        ["StringStartsWith(term,s)", "TakeOrderedAndProject",
         "!BatchEvalPython", "!CartesianProduct"],
    ))

    # Round-4 session-2: hash-threshold distinct sketch — the md5
    # threshold filter prunes BEFORE the distinct aggregation's
    # exchange; everything stays in codegen.
    from fulltextsearchengine_spark.operators.sketches import hash_threshold_distinct

    p = grab_plan(
        hash_threshold_distinct(idx.postings.select(F.col("term").alias("v")), F.col("v"))
    )
    sections.append((
        "Hash-threshold distinct sketch (filter below the distinct agg)", p,
        ["HashAggregate", "!BatchEvalPython", "!CartesianProduct"],
    ))

    # Round-4 session-3: fused rescore — ONE pruned In-scan feeds both
    # scorers (two Columns off one pivot agg); the window cut and the
    # blended re-rank are both TakeOrderedAndProject heaps, no second
    # posting scan, no Python.
    from fulltextsearchengine_spark.operators.rescore import rescore_search

    p = grab_plan(rescore_search(s, ["spark", "join", "fast"], 10, window_size=50))
    sections.append((
        "Rescore (fused BM25+Dirichlet, window cut + blended re-rank)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject", "HashAggregate",
         "!BatchEvalPython", "!CartesianProduct"],
    ))
    # count within the formatted half only (simple mode repeats the scan line)
    assert p.split("--- simple ---")[0].count("PushedFilters: [In(term") == 1, (
        "rescore must scan postings once"
    )

    # term vectors: requested docs' tf probes the vocabulary table via
    # a BROADCAST of the tiny doc side — no exchange of terms.
    from fulltextsearchengine_spark.operators.termvectors import term_vectors

    tdf = transcripts_from_documents(spark, sf_dir).join(
        idx.docs.select("doc_id", "conv_id", "turn_idx"), ["conv_id", "turn_idx"]
    )
    p = grab_plan(term_vectors(tdf, idx, [5, 17, 99]))
    sections.append((
        "Term vectors (broadcast doc-side probe of the dictionary)", p,
        ["BroadcastHashJoin", "!CartesianProduct"],
    ))

    # paragraph dedup: keep-first via min-struct groupBy (map-side
    # partial agg = hot boilerplate lines pre-collapse per partition;
    # no window over the line key).
    from fulltextsearchengine_spark.operators.paragraphs import dedup_paragraphs

    lined = transcripts_from_documents(spark, sf_dir).selectExpr(
        "monotonically_increasing_id() AS doc_id", "replace(text, ' the ', '\\n') AS text"
    )
    p = grab_plan(dedup_paragraphs(lined))
    sections.append((
        "Paragraph dedup (agg-based keep-first, no line window)", p,
        ["HashAggregate", "!Window", "!BatchEvalPython", "!CartesianProduct"],
    ))

    # duplicate-span removal: one gram agg + semi-join + row-local mask.
    from fulltextsearchengine_spark.operators.dedup import remove_duplicate_spans

    p = grab_plan(remove_duplicate_spans(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), n=6
    ))
    sections.append((
        "Duplicate-span removal (gram agg + semi-join + array mask)", p,
        ["LeftSemi", "HashAggregate", "!Window", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    # sparse random projection: a single Arrow-batched map pass.
    from fulltextsearchengine_spark.operators.projection import (
        sparse_random_projection,
    )

    p = grab_plan(sparse_random_projection(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet"), out_dim=16, seed=11
    ))
    sections.append((
        "Sparse random projection (one ArrowEvalPython map, no shuffle)", p,
        ["ArrowEvalPython", "!Exchange", "!CartesianProduct"],
    ))

    # Round-4 session-4: match-counts curve — one pruned scan serves
    # every m level; the m axis joins as a tiny broadcast non-equi join.
    p = grab_plan(s.match_counts(["spark", "join", "fast"]))
    sections.append((
        "Match-counts curve (one scan for all m levels)", p,
        ["PushedFilters: [In(term", "BroadcastNestedLoopJoin", "HashAggregate",
         "!BatchEvalPython", "!CartesianProduct"],
    ))
    assert p.split("--- simple ---")[0].count("PushedFilters: [In(term") == 1, (
        "match_counts must scan postings once"
    )

    # corpus drift: two map-side token counts + a vocab-sized outer
    # join + a bounded top-k heap; nothing corpus-sized shuffles twice.
    from fulltextsearchengine_spark.operators.drift import corpus_drift_report

    draw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = grab_plan(corpus_drift_report(
        draw.filter(F.col("doc_id") % 2 == 0), draw.filter(F.col("doc_id") % 2 == 1)
    ))
    sections.append((
        "Corpus drift report (counting-first JSD)", p,
        ["HashAggregate", "TakeOrderedAndProject", "!BatchEvalPython",
         "!CartesianProduct"],
    ))

    # key dedup: agg-based argmax (map-side combined), no key window.
    from fulltextsearchengine_spark.operators.dedup import keep_best_per_key

    p = grab_plan(keep_best_per_key(draw))
    sections.append((
        # min(struct) compiles to SortAggregate, still two-phase:
        # partial below the Exchange = map-side combine, the property
        # that keeps a 10^9-copy hot key from straggling one task.
        "Keep-best-per-key dedup (agg argmax, no window)", p,
        ["SortAggregate", "!Window", "!BatchEvalPython", "!CartesianProduct"],
    ))

    # Round-4 session-5: cross_fields — dismax plan with blended idf;
    # the blend happens driver-side on the ≤|q|·|roles| df collect, so
    # the distributed plan must be shape-identical to dismax.
    from fulltextsearchengine_spark.operators.bm25f import cross_fields_search

    p = grab_plan(cross_fields_search(fidx, ["spark", "join", "fast"], 10, tie_breaker=0.25))
    sections.append((
        "Cross-fields blended-df search (dismax shape, shared idf)", p,
        ["TakeOrderedAndProject", "HashAggregate", "!BatchEvalPython",
         "!SortMergeJoin", "!CartesianProduct"],
    ))

    # Round-4 session-5: rank_feature — the text plan is untouched
    # (one pruned In scan); the feature joins the candidate-sized score
    # frame, then a scalar transform and the top-k heap.
    from fulltextsearchengine_spark.operators.rankfeature import rank_feature_search

    feats = idx.docs.select("doc_id", F.col("doc_len").cast("double").alias("feature"))
    p = grab_plan(rank_feature_search(s, feats, query=["spark", "join", "fast"], k=10, pivot=30.0))
    sections.append((
        "Rank-feature boosted search (saturation on a static doc prior)", p,
        ["PushedFilters: [In(term", "TakeOrderedAndProject", "!BatchEvalPython",
         "!CartesianProduct"],
    ))
    assert p.split("--- simple ---")[0].count("PushedFilters: [In(term") == 1, (
        "rank_feature must not re-scan postings"
    )

    # Round-4 session-5: C4 rules — line HOFs + scalar predicates only;
    # a corpus pass with ZERO exchanges (same contract as gopher/quality).
    from fulltextsearchengine_spark.functions.c4 import c4_rules_report

    p = grab_plan(c4_rules_report(draw))
    sections.append((
        "C4 line/page rules report (pure scan, no shuffle)", p,
        ["!Exchange", "!BatchEvalPython", "!Window", "!CartesianProduct"],
    ))

    # Round-4 session-5: unicode normalize — exactly one Arrow batch
    # hop (no JVM NFC builtin exists), still shuffle-free.
    from fulltextsearchengine_spark.functions.unicode_norm import normalize_corpus

    p = grab_plan(normalize_corpus(draw))
    sections.append((
        "Unicode NFC normalize (one ArrowEvalPython map, no shuffle)", p,
        ["ArrowEvalPython", "!Exchange", "!BatchEvalPython"],
    ))

    # Round-4 session-5: refusal/boilerplate report — two fingerprint
    # keyed aggs (map-side combined: hot template keys pre-collapse)
    # joined back; no window over a hot key, no Python.
    from fulltextsearchengine_spark.operators.refusals import refusal_report

    p = grab_plan(refusal_report(transcripts_from_documents(spark, sf_dir)))
    sections.append((
        "Refusal/boilerplate turn report (fingerprint aggs, no window)", p,
        ["HashAggregate", "!Window", "!BatchEvalPython", "!CartesianProduct"],
    ))

    # Round-4 session-6: as-of join — the union trick must plan as ONE
    # window over the key (no join operator at all), never a
    # nested-loop/cartesian inequality join.
    from fulltextsearchengine_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter(F.col("event_type") == "purchase")
    right = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("event_id").alias("ref_id")
    )
    p = grab_plan(asof_join(left, right, on="user_id", right_cols=["ref_id"]))
    sections.append((
        "As-of join (union + last-non-null window; no join operator)", p,
        ["Window", "!BroadcastNestedLoopJoin", "!CartesianProduct",
         "!SortMergeJoin", "!BatchEvalPython"],
    ))

    # Round-4 session-6: funnel — k cascaded running-min windows over
    # one (user_id) partitioning + final agg; no self-joins.
    from fulltextsearchengine_spark.operators.funnel import funnel_report

    p = grab_plan(funnel_report(ev, ["view", "click", "purchase"]))
    sections.append((
        "Funnel report (cascaded RANGE running-mins, one key shuffle)", p,
        ["Window", "HashAggregate", "!BroadcastNestedLoopJoin",
         "!CartesianProduct", "!BatchEvalPython"],
    ))

    # Round-4 session-6: range join — bucketed equi-join (Generate
    # explodes intervals to buckets), exact filter after; the whole
    # point is NO inequality nested-loop join in the plan.
    from fulltextsearchengine_spark.operators.rangejoin import range_join
    from fulltextsearchengine_spark.operators.sessions import session_stats

    sess = session_stats(ev, gap_seconds=2 * 86400.0).select(
        "user_id", "session_idx", "start_ts", "end_ts"
    )
    p = grab_plan(range_join(
        left.select("event_id", "user_id", "ts"), sess,
        "ts", "start_ts", "end_ts", 86400.0, keys=["user_id"],
    ))
    sections.append((
        "Range join (bucketed equi-join, exact containment filter)", p,
        ["Generate explode", "!BroadcastNestedLoopJoin", "!CartesianProduct",
         "!BatchEvalPython"],
    ))

    # Round-5 review fix: how='left' is ONE left join with containment
    # in the join condition — no monotonically_increasing_id (its
    # two-branch anti-join evaluated the points subtree twice; a
    # nondeterministic upstream order could re-id rows between branches)
    # and still no nested-loop join.
    p = grab_plan(range_join(
        left.select("event_id", "user_id", "ts"), sess,
        "ts", "start_ts", "end_ts", 86400.0, keys=["user_id"], how="left",
    ))
    sections.append((
        "Range join LEFT (single join, no row-id, containment in condition)", p,
        ["Generate explode", "!monotonically_increasing_id",
         "!BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython"],
    ))

    # Round-4 session-6: heavy hitters — sketch pass is MapInPandas
    # (zero shuffle), refinement joins a BROADCAST candidate set and
    # aggregates candidates only.
    from fulltextsearchengine_spark.operators.heavyhitters import term_heavy_hitters

    p = grab_plan(term_heavy_hitters(idx, 0.01))
    sections.append((
        "Heavy hitters (Misra-Gries MapInPandas + broadcast refinement)", p,
        ["MapInPandas", "BroadcastHashJoin", "HashAggregate",
         "!CartesianProduct", "!SortMergeJoin"],
    ))

    # Round-4 session-6: temperature mixture sample — after the two
    # domain-sized plan collects, the sample itself is a pure scan
    # filter: zero shuffles, zero Python.
    from fulltextsearchengine_spark.operators.mixing import mixture_temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from fulltextsearchengine_spark.functions.textstats import with_token_counts

    p = grab_plan(mixture_temperature_sample(
        with_token_counts(docs), "source", "n_alnum_tokens", 0.5, 5000.0, "doc_id"
    ))
    sections.append((
        "Temperature mixture sample (md5-threshold scan filter)", p,
        ["FileScan", "!Exchange", "!BatchEvalPython"],
    ))

    # Round-4 session-6: cohort retention — two keyed aggs + a user_id
    # equi-join + a broadcast cohort-size join; no windows, no
    # nested-loop joins.
    from fulltextsearchengine_spark.operators.retention import retention_report

    p = grab_plan(retention_report(ev))
    sections.append((
        "Cohort retention (keyed aggs + broadcast sizes; no window)", p,
        ["HashAggregate", "BroadcastHashJoin", "!Window",
         "!BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython"],
    ))

    # Round-5: hot-key pre-split variants (verdict r4 #5). The windows
    # must partition on (key, bucket) — visible as the extra partition
    # column — and the stitch must stay equi-join shaped: no nested-loop
    # join anywhere, and the only Python is funnel's bucket-count-sized
    # applyInPandas fold (FlatMapGroupsInPandas), never row-at-a-time
    # BatchEvalPython.
    p = grab_plan(asof_join(
        left, right, on="user_id", right_cols=["ref_id"],
        split_bucket_seconds=86400.0,
    ))
    sections.append((
        "As-of join, hot-key pre-split (bucketed windows + carry join)", p,
        ["Window", "_abkt", "!BroadcastNestedLoopJoin", "!CartesianProduct",
         "!BatchEvalPython"],
    ))

    from fulltextsearchengine_spark.operators.sessions import sessionize

    p = grab_plan(sessionize(ev, gap_seconds=1800.0, split_bucket_seconds=86400.0))
    sections.append((
        "Sessionize, hot-key pre-split (bucketed windows + summary stitch)", p,
        ["Window", "_sbkt", "!BroadcastNestedLoopJoin", "!CartesianProduct",
         "!BatchEvalPython"],
    ))

    p = grab_plan(funnel_report(
        ev, ["view", "click", "purchase"], split_bucket_seconds=86400.0
    ))
    sections.append((
        "Funnel, hot-key pre-split (entry-level cascades + pandas fold)", p,
        ["Window", "_fbkt", "FlatMapGroupsInPandas", "!BroadcastNestedLoopJoin",
         "!CartesianProduct", "!BatchEvalPython"],
    ))

    out = ["# PLANS — physical-plan audit of the hot paths", ""]
    failures = []
    for title, plan, must in sections:
        checks = []
        for m in must:
            # "!X" asserts absence (e.g. no per-row Python in the plan);
            # "=N:X" asserts exactly N operator lines containing X in the
            # initial plan (an executed adaptive plan prints final + initial)
            if m.startswith("="):
                n, x = m[1:].split(":", 1)
                initial = plan.split("--- simple ---")[-1].split("== Initial Plan ==")[-1]
                ok = initial.count(x) == int(n)
            else:
                ok = (m[1:] not in plan) if m.startswith("!") else (m in plan)
            checks.append(f"- {'✓' if ok else '✗ MISSING'} `{m}`")
            if not ok:
                failures.append((title, m))
        out += [f"## {title}", "", *checks, "", "```", plan.strip()[:4000], "```", ""]
    (REPO / "PLANS.md").write_text("\n".join(out))
    print("\n".join(f"{t}: missing {m}" for t, m in failures) or "all plan properties present")
    spark.stop()


if __name__ == "__main__":
    main()
