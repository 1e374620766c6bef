"""Driver-local low-latency BM25 serving — the IndexReader analog.

The reference answers queries from one process over an mmap'd index
(~0.6 ms/term at 1k docs, ~17-20 ms/term at 34.7M docs — BASELINE.md).
A Spark job has a ~100 ms scheduling floor, so for *serving* (as opposed
to analytical scoring over the whole corpus) the engine mirrors the
reference's design: posting BLOCKS are fetched once per term (one pruned
parquet/DataFrame read — the disk-seek analog), cached in memory, and
scored with a numpy block-max kernel in microseconds.

At 100 TB this object is what each SERVING SHARD holds: blocks for its
term range, doc_len slab for its doc range; a router fans out and
k-merges (score desc, doc_id asc). Locally one shard = the whole index.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import bm25
from .posting_blocks import decode_block
from .wand import topk_select

_BLOCK_COLS = [
    "term", "bucket", "block_id", "n", "first_doc_id", "last_doc_id",
    "max_tf", "max_impact", "gaps_ctrl", "gaps_data", "tfs_ctrl", "tfs_data",
]


def fetch_blocks(blocks: DataFrame, terms: list[str]) -> pd.DataFrame:
    """Every block row of ``terms``, in one Spark job."""
    return blocks.filter(F.col("term").isin(terms)).select(*_BLOCK_COLS).toPandas()


class LocalBM25:
    """In-memory top-k server over compressed posting blocks."""

    def __init__(
        self,
        blocks: DataFrame,
        slabs: DataFrame,
        n_docs: int,
        total_tokens: int,
        term_df: dict[str, int],
        bucket_range: int | None = None,
    ):
        """``slabs`` is the build-time doc_len sidecar
        (posting_blocks.build_doc_len_slabs output) — the SAME table the
        distributed WAND path reads, so one sidecar serves both
        (VERDICT r2 #5). The serving shard holds its doc-range's slab
        rows (8 B/doc net); the docs table itself is never collected."""
        self.blocks = blocks
        self.n_docs = n_docs
        self.avgdl = total_tokens / n_docs if n_docs else 1.0
        self.term_df = term_df
        # doc_len array indexed by doc_id (the fixed-record-store analog,
        # storage/FixedRecordStorage.java:89-101 — O(1) length lookup),
        # assembled from the packed per-bucket slabs
        slab_rows = slabs.select("bucket", "base", "n", "lens").collect()
        self.doc_lens = np.zeros(n_docs + 1, dtype=np.float64)
        for r in slab_rows:
            arr = np.frombuffer(r["lens"], dtype=np.uint32)
            self.doc_lens[r["base"] : r["base"] + len(arr)] = arr
        # bucket_range must match the build_posting_blocks value
        # (bucket = (doc_id-1)//range). Derive it from slab metadata:
        # base = bucket*range + 1 pins range exactly for any bucket ≥ 1
        # (no power-of-two assumption — the old blocks-based inference
        # could lock in an undersized guess from a bucket-0-only term).
        # The per-term decode assert below remains the backstop.
        if bucket_range is None:
            ranges = {
                (int(r["base"]) - 1) // int(r["bucket"])
                for r in slab_rows
                if int(r["bucket"]) >= 1
            }
            if len(ranges) > 1:
                raise ValueError(f"inconsistent slab bases imply ranges {ranges}")
            if ranges:
                bucket_range = ranges.pop()
                bad = [
                    r
                    for r in slab_rows
                    if int(r["base"]) != int(r["bucket"]) * bucket_range + 1
                ]
                if bad:
                    raise ValueError("slab bases inconsistent with derived bucket_range")
            else:
                # everything lives in bucket 0: any range covering the
                # corpus satisfies the (doc_id-1)//range == 0 contract
                bucket_range = max(
                    [n_docs] + [int(r["n"]) for r in slab_rows]
                )
        self.bucket_range = bucket_range
        # decoded hot-posting cache: term → {bucket: (ids, impact, ub)}
        # with impact = precomputed idf-free BM25 tf-side contribution —
        # the analog of a serving node's posting cache (the reference
        # re-seeks its HDD per query; we pay fetch + decode once per term)
        self._decoded: dict[str, dict[int, tuple[np.ndarray, np.ndarray, float]]] = {}

    def _missing(self, query: list[str]) -> list[str]:
        """The query's in-vocab terms that are not decoded yet."""
        return [
            t for t in bm25.query_terms(query)
            if t not in self._decoded and self.idf(t) is not None
        ]

    def _decode(self, pdf: pd.DataFrame, terms: list[str]) -> None:
        """Decode fetched block rows into the cache. Every term of
        ``terms`` gets an entry, an empty one when ``pdf`` holds none of
        its blocks, so it is never fetched again."""
        groups = dict(iter(pdf.groupby("term")))
        for t in terms:
            self._decoded[t] = self._decode_term(groups[t]) if t in groups else {}

    def _decode_term(self, pdf: pd.DataFrame) -> dict[int, tuple[np.ndarray, np.ndarray, float]]:
        out: dict[int, list] = {}
        for row in pdf.itertuples(index=False):
            ids, tfs = decode_block(row)
            out.setdefault(int(row.bucket), []).append((ids, tfs, float(row.max_impact)))
        dec: dict[int, tuple] = {}
        for bkt, parts in out.items():
            ids = np.concatenate([p[0] for p in parts])
            tfs = np.concatenate([p[1] for p in parts])
            dl = self.doc_lens[ids]
            # idf-free contribution precomputed once per term (the
            # max_impact weight): contrib0 = tf·(K1+1)/denom; the query
            # does one fused multiply-add w·contrib0. Association
            # differs from the analytic path's ((w·tf)·(K1+1))/denom by
            # ≤ a few ulps — docs with equal (tf, doc_len) still get
            # bit-equal scores, so doc_id tie-breaking is unaffected;
            # cross-pair bit collisions at ulp scale are the only
            # (measure-zero) rank risk. Locked by test_local_bm25_server
            # (exact ranks, rel=1e-9 scores).
            contrib0 = bm25.tf_weight(1.0, tfs, dl, self.avgdl)
            # bucket-relative ids precomputed once (query-time scatter
            # needs no subtraction); asserts the bucket_range contract
            base = bkt * self.bucket_range + 1
            ids_rel = ids - base
            if ids_rel[0] < 0 or ids_rel[-1] >= self.bucket_range:
                raise ValueError(
                    f"blocks bucket_range mismatch (got bucket {bkt} with doc_ids "
                    f"[{ids[0]}, {ids[-1]}] vs assumed range {self.bucket_range})"
                )
            dec[bkt] = (ids_rel, contrib0, max(p[2] for p in parts))
        return dec

    def idf(self, term: str) -> float | None:
        df = self.term_df.get(term, 0)
        if df <= 0:
            return None
        return bm25.idf(self.n_docs, df)

    def search(self, query: list[str], k: int) -> list[tuple[int, float]]:
        """Exact BM25 top-k over the decoded-posting cache with per-
        bucket block-max skipping and a bounded min-heap (score desc,
        doc_id asc tie-break — ReviewSearch.java:98-101)."""
        import heapq

        idf = {t: w for t in bm25.query_terms(query) if (w := self.idf(t)) is not None}
        if not idf:
            return []
        missing = self._missing(query)
        if missing:
            self._decode(fetch_blocks(self.blocks, missing), missing)
        dec = {t: self._decoded[t] for t in idf}
        # process buckets in DESCENDING upper-bound order: the heap
        # fills with high scores first, so later low-ub buckets skip —
        # classic impact-ordered traversal; results identical (skip
        # fires only when ub can't beat the current k-th best)
        ubs = {
            bkt: sum(idf[t] * d[bkt][2] for t, d in dec.items() if bkt in d)
            for bkt in {b for d in dec.values() for b in d}
        }
        heap: list[tuple[float, int]] = []
        span = self.bucket_range
        for bkt in sorted(ubs, key=lambda b_: -ubs[b_]):
            # block-max skip; ubs descending → all the rest skip too. Only
            # a bound strictly below the k-th score (minus WAND's 1e-9
            # relative slack for float-order noise) may stop the scan: a
            # bucket whose bound ties that score can hold a tied doc with
            # a smaller doc_id, which outranks the heap's k-th
            if len(heap) >= k and ubs[bkt] < heap[0][0] - abs(heap[0][0]) * 1e-9:
                break
            parts = [(t, *d[bkt]) for t, d in sorted(dec.items()) if bkt in d]
            base = bkt * span + 1
            acc = np.zeros(span, dtype=np.float64)
            for t, ids_rel, contrib0, _ in parts:
                # bincount's sequential accumulate beats fancy-index
                # scatter ~4× on dense terms (ids unique per term-bucket,
                # so both are bit-identical); sparse terms keep the
                # scatter (bincount pays O(span) regardless)
                if ids_rel.size * 4 >= span:
                    acc += np.bincount(ids_rel, weights=contrib0, minlength=span) * idf[t]
                else:
                    acc[ids_rel] += idf[t] * contrib0
            # contributions are strictly positive → acc>0 ⟺ touched
            cand = np.nonzero(acc)[0]
            scores = acc[cand]
            cand, scores = topk_select(cand, scores, k)
            for d_, s in zip((cand + base).tolist(), scores.tolist()):
                item = (s, -d_)
                if len(heap) < k:
                    heapq.heappush(heap, item)
                elif item > heap[0]:
                    heapq.heapreplace(heap, item)
        return [(-nd, s) for s, nd in sorted(heap, key=lambda x: (-x[0], -x[1]))]
