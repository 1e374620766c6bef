"""Block-max pruned BM25 top-k over compressed posting blocks — the
performance query path (north_star: "BM25 top-k via posting-list
traversal with block-max pruning and a bounded min-heap inside
mapPartitions").

One planner serves every entry point. ``WandSearcher`` keeps a per-term
metadata cache on the driver; a cold ``bm25_topk_wand`` is a
``WandSearcher`` with an empty cache, and a single query is a batch of
one, so ``bm25_topk_wand``, ``bm25_topk_wand_batch`` and
``WandSearcher.search`` all run the same three steps:

  0. BUILD TIME: ``build_doc_len_slabs`` (posting_blocks.py) packs the
     docs table into one uint32 doc_len array per doc_id bucket. Queries
     never touch the docs table — no per-query corpus shuffle.
  1. FILL (only for terms not yet cached; two Spark jobs, no exchange):
     job 1 scans just the metadata columns (term, bucket, block_id, n,
     max_impact, first_doc_id) of the missing terms; from those rows
     the driver derives df, per-(term, bucket) max impact and block
     count, and each term's ``SEED_BLOCKS`` highest-impact block ids
     (within a term idf is constant, so impact ORDER needs no weights —
     what makes the cache query-independent). Job 2 is one union scan
     of those seed blocks' payload plus the seed buckets' doc_len slabs
     not cached yet.
  2. THRESHOLD SEED + BUCKET SKIP (driver, no job): the query's global
     top ``SEED_BLOCKS`` blocks by idf·max_impact (a subset of the
     per-term pools) are summed per doc in sorted-term order; the k-th
     best partial sum is a lower bound on the true k-th best total
     (BM25 contributions are non-negative), nudged down by 1e-9
     relative so float-order noise never over-prunes. Buckets with
     ub = Σ_t idf_t · max(max_impact of t's blocks in the bucket) < θ
     are dropped before their binary columns ever move.
  3. SCORE (two Spark jobs under AQE: one exchange): surviving buckets'
     blocks ∪ their slab rows, one ``groupBy("bucket").applyInPandas``.
     Inside a bucket, per-chunk upper bounds (chunk = block_size
     doc_ids) gate each block's decode; a block decodes at most once
     however many queries of the batch share its term, and accumulates
     with a dense scatter per query in sorted-term order (float adds
     match the oracle's order for every fully-scored doc). Bounded
     per-bucket top-k (np.argpartition analog of the reference's
     bounded min-heap), then a driver k-merge with the exact tie-break
     (score desc, doc_id asc — ReviewSearch.java:98-101).

A query over cached terms costs the two scoring jobs; a query with new
terms (and every cold ``bm25_topk_wand`` or ``bm25_topk_wand_batch``
call) costs four. ``tests/test_wand_jobs.py`` asserts these counts.

Safety argument for skipping: ub bounds the TOTAL score of every doc in
the skipped range, so a doc with total ≥ θ (hence every true top-k doc,
since θ ≤ true k-th best) is never under-scored; under-scored docs all
report < θ and therefore sort strictly below the true top-k at merge.
Results are exactly the unpruned BM25 ranking — asserted against the
DataFrame path + DuckDB oracle in tests and the correctness gate.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from . import bm25
from .posting_blocks import decode_block

_META_COLS = ["term", "bucket", "block_id", "n", "max_impact", "first_doc_id"]
_KERNEL_COLS = [
    "term", "bucket", "n", "first_doc_id", "last_doc_id", "max_impact",
    "gaps_ctrl", "gaps_data", "tfs_ctrl", "tfs_data",
]
_SLAB_COLS = ["bucket", "base", "lens"]
# blocks per query (and cached per term) that seed θ
SEED_BLOCKS = 32
_OUT_SCHEMA = T.StructType([
    T.StructField("q", T.LongType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("score", T.DoubleType()),
])


def topk_select(cand: np.ndarray, scores: np.ndarray, k: int):
    """Exact top-k by (score desc, doc_id asc) WITHOUT a full sort:
    argpartition isolates the k best scores (O(n)), then only the docs
    at-or-above the k-th boundary score are lexsorted — boundary ties
    resolve by doc_id exactly as a full lexsort would
    (ReviewSearch.java:98-101 tie-break). A full 16k-element lexsort
    per bucket was ~90% of serving latency (measured 28.6 → ~3 ms)."""
    if cand.size <= k:
        return cand, scores
    part = np.argpartition(-scores, k - 1)[:k]
    kth = scores[part].min()
    above = np.nonzero(scores >= kth)[0]  # ≥ k entries; ties included
    order = np.lexsort((cand[above], -scores[above]))[:k]
    keep = above[order]
    return cand[keep], scores[keep]


def _sql(v) -> str:
    """A SQL literal: bigint for integers, an escaped string otherwise."""
    if isinstance(v, (int, np.integer)):
        return f"{int(v)}L"
    return "'" + str(v).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_in(col: str, values) -> str:
    return f"{col} IN ({','.join(map(_sql, values))})"


def _norm_weights(weights, terms) -> dict[str, float]:
    """Validate/normalize a query-boost map: lowercase keys, every key
    must be a query term, every weight > 0. Empty dict = unweighted."""
    if not weights:
        return {}
    out = {t.lower(): float(w) for t, w in weights.items()}
    unknown = set(out) - set(terms)
    if unknown:
        raise ValueError(f"weights for non-query terms: {sorted(unknown)}")
    bad = {t: w for t, w in out.items() if w <= 0}
    if bad:
        raise ValueError(f"weights must be > 0: {bad}")
    return out


def _tomb_array(tombstones) -> np.ndarray | None:
    """Normalize a tombstone spec (None | iterable of doc_ids | a
    DataFrame with a doc_id column) to a sorted int64 numpy array.
    Tombstone sets are takedown-sized (deletes.py scale note) — the
    array ships to executors inside the kernel closure, the fast-path
    analog of the broadcast anti-join in deletes.exclude_docs."""
    if tombstones is None:
        return None
    if isinstance(tombstones, DataFrame):
        ids = [r["doc_id"] for r in tombstones.select("doc_id").distinct().collect()]
    else:
        ids = list({int(d) for d in tombstones})
    if not ids:
        return None
    return np.unique(np.asarray(ids, dtype=np.int64))


def _zero_stats():
    return {
        "buckets_total": 0,
        "buckets_pruned": 0,
        "blocks_total": 0,
        "blocks_in_pruned_buckets": 0,
        "blocks_decoded": 0,
        "blocks_chunk_skipped": 0,
        "threshold": -math.inf,
    }


class _Seed(NamedTuple):
    max_impact: float
    block_id: int
    ids: np.ndarray  # absolute doc_ids
    tfs: np.ndarray
    dl: np.ndarray  # doc lengths of ids


class _TermMeta(NamedTuple):
    df: int
    buckets: np.ndarray  # sorted buckets holding ≥1 block of the term
    mi: np.ndarray  # max max_impact per bucket
    nb: np.ndarray  # block count per bucket
    seeds: list  # _Seed, by (max_impact desc, block_id asc)


class _Plan(NamedTuple):
    w: dict  # term -> idf·boost, sorted terms with df > 0
    theta: float
    msm: int
    surviving: np.ndarray  # buckets with ub ≥ θ
    stats: dict


def _seed_theta(w, seeds_of, k, msm, tomb, avgdl) -> float:
    """θ for one query: the k-th best partial score over the query's
    ``SEED_BLOCKS`` highest w·max_impact blocks (ties by term, block_id),
    added in sorted-term order, minus 1e-9 relative slack. It is a valid
    lower bound on the k-th best live, m-matching score: contributions
    are non-negative; a doc's observed match count is ≤ its true count,
    so every doc kept for ``msm`` is truly valid; tombstoned docs are
    dropped; and dropping docs only weakens θ."""
    pool = sorted(
        ((-(wt * s.max_impact), t, s.block_id, s) for t, wt in w.items() for s in seeds_of(t)),
        key=lambda x: x[:3],
    )[:SEED_BLOCKS]
    if not pool:
        return -math.inf
    pool.sort(key=lambda x: x[1])  # stable: sorted-term add order
    ids = np.concatenate([s.ids for *_, s in pool])
    contrib = np.concatenate([bm25.tf_weight(w[t], s.tfs, s.dl, avgdl) for _, t, _, s in pool])
    uniq, inv = np.unique(ids, return_inverse=True)
    acc = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(acc, inv, contrib)  # in pool order per doc
    keep = np.ones(len(uniq), dtype=bool)
    if msm > 1:
        keep &= np.bincount(inv, minlength=len(uniq)) >= msm
    if tomb is not None:
        keep &= ~np.isin(uniq, tomb)
    acc = acc[keep]
    if acc.size < k:
        return -math.inf
    kth = float(np.partition(acc, -k)[-k])
    return kth - abs(kth) * 1e-9 - 1e-300


class WandSearcher:
    """Warm-dictionary WAND serving: a driver-resident per-TERM metadata
    cache, so a query over cached terms runs only the two scoring jobs
    (one exchange under AQE); a query with new terms first runs the
    two-job fill for ONLY the missing terms.

    This is the Spark analog of the reference keeping its dictionary in
    memory across queries (Dictionary.java:74-79 loads the whole
    front-coded term file once; every query then binary-searches RAM):
    per term we cache df, per-bucket max impact + block counts and the
    ``SEED_BLOCKS`` highest-impact blocks decoded (with their doc
    lengths); doc_len slabs of seed buckets are cached so later fills
    skip them. All of it is metadata-sized and query-independent, so θ
    seeding and bucket pruning run as driver numpy over the cache.

    Cache growth is bounded by ``max_terms`` (FIFO eviction). Results
    are exactly ``bm25_topk_wand``'s (pytest-locked parity, and both are
    oracle-locked)."""

    def __init__(
        self,
        blocks: DataFrame,
        slabs: DataFrame,
        n_docs: int,
        total_tokens: int,
        bucket_range: int,
        block_size: int = 128,
        max_terms: int = 100_000,
    ):
        self.blocks = blocks
        self.slabs = slabs
        self._meta_src = blocks.select(*_META_COLS)
        self._kernel_src = blocks.select(*_KERNEL_COLS)
        self._slab_src = slabs.select(*_SLAB_COLS)
        self.n_docs = int(n_docs)
        self.total_tokens = int(total_tokens)
        self.bucket_range = int(bucket_range)
        self.block_size = int(block_size)
        self.max_terms = int(max_terms)
        self.avgdl = self.total_tokens / self.n_docs if self.n_docs else 0.0
        self._meta: dict[str, _TermMeta] = {}
        self._slab_cache: dict[int, tuple[int, np.ndarray]] = {}
        self.metadata_jobs = 0  # observability: number of cache fills

    # ---- cache fill -------------------------------------------------
    def _ensure_terms(self, terms: list[str], explain_out: list | None = None) -> None:
        missing = [t for t in terms if t not in self._meta]
        if not missing:
            return
        # job 1: metadata columns only, no exchange
        meta_df = self._meta_src.filter(_sql_in("term", missing))
        if explain_out is not None:
            explain_out.append(meta_df)
        pdf = meta_df.toPandas().sort_values(
            ["term", "max_impact", "block_id"], ascending=[True, False, True], kind="mergesort"
        )
        self.metadata_jobs += 1
        term_col = pdf["term"].to_numpy(object)
        bucket = pdf["bucket"].to_numpy(np.int64)
        block_id = pdf["block_id"].to_numpy(np.int64)
        n = pdf["n"].to_numpy(np.int64)
        mi = pdf["max_impact"].to_numpy(np.float64)
        first = pdf["first_doc_id"].to_numpy(np.int64)
        bounds = np.flatnonzero(term_col[1:] != term_col[:-1]) + 1 if len(pdf) else []
        spans = {
            term_col[s]: (s, e)
            for s, e in zip(np.r_[0, bounds].astype(int), np.r_[bounds, len(pdf)].astype(int))
            if e > s
        }
        top = {t: slice(s, min(e, s + SEED_BLOCKS)) for t, (s, e) in spans.items()}
        seed_buckets = {int(x) for sl in top.values() for x in bucket[sl]}

        # job 2: the seed blocks' payload ∪ uncached seed-bucket slabs; a
        # block is keyed by (term, first_doc_id), unique as a term's
        # blocks cover disjoint doc ranges
        payload: dict[tuple[str, int], object] = {}
        if top:
            seeds_of = ", ".join(
                f"{_sql(t)}, array({','.join(map(_sql, first[sl]))})" for t, sl in top.items()
            )
            frame = self._kernel_src.filter(
                f"{_sql_in('term', top)} AND array_contains(map({seeds_of})[term], first_doc_id)"
            )
            need = sorted(seed_buckets - self._slab_cache.keys())
            if need:
                frame = frame.unionByName(
                    self._slab_src.filter(_sql_in("bucket", need)), allowMissingColumns=True
                )
            if explain_out is not None:
                explain_out.append(frame)
            for r in frame.collect():
                if r["term"] is None:
                    self._slab_cache[int(r["bucket"])] = (
                        int(r["base"]),
                        np.frombuffer(r["lens"], dtype=np.uint32),
                    )
                else:
                    payload[(r["term"], int(r["first_doc_id"]))] = r

        for t in missing:
            s, e = spans.get(t, (0, 0))
            seeds = []
            for j in range(s, min(e, s + SEED_BLOCKS)):
                r = payload.get((t, int(first[j])))
                sl = self._slab_cache.get(int(bucket[j]))
                if r is None or sl is None:
                    continue  # θ only weakens — never over-prunes
                ids, tfs = decode_block(r)
                seeds.append(_Seed(float(mi[j]), int(block_id[j]), ids, tfs,
                                   sl[1][ids - sl[0]].astype(np.float64)))
            bk, inv = np.unique(bucket[s:e], return_inverse=True)
            bmax = np.zeros(len(bk), dtype=np.float64)
            np.maximum.at(bmax, inv, mi[s:e])
            # absent terms cache too (df=0) or they'd refetch per query
            self._meta[t] = _TermMeta(
                int(n[s:e].sum()), bk, bmax, np.bincount(inv, minlength=len(bk)), seeds
            )
        # FIFO evict — but never a term the in-flight query needs (a
        # query wider than max_terms overflows temporarily instead)
        needed = set(terms)
        evictable = [t for t in self._meta if t not in needed]
        while len(self._meta) > self.max_terms and evictable:
            del self._meta[evictable.pop(0)]

    # ---- planning ---------------------------------------------------
    def _plan(self, terms, k, msm, wts, tomb, term_stats) -> _Plan | None:
        """Weights, θ and surviving buckets of one query from the cache;
        None when no doc can match (no known term, or fewer than msm)."""
        w = {}
        for t in terms:
            df = self._meta[t].df if term_stats is None else term_stats.get(t, 0)
            if df > 0:
                w[t] = wts.get(t, 1.0) * bm25.idf(self.n_docs, df)
        if not w or len(w) < msm:
            return None
        theta = _seed_theta(w, lambda t: self._meta[t].seeds, k, msm, tomb, self.avgdl)
        metas = [self._meta[t] for t in w]
        buckets = np.unique(np.concatenate([m.buckets for m in metas]))
        ub = np.zeros(len(buckets), dtype=np.float64)
        nb = np.zeros(len(buckets), dtype=np.int64)
        for wt, m in zip(w.values(), metas):  # sorted-term order
            idx = np.searchsorted(buckets, m.buckets)
            ub[idx] += wt * m.mi
            nb[idx] += m.nb
        live = ub >= theta
        stats = {
            "buckets_total": int(len(buckets)),
            "buckets_pruned": int((~live).sum()),
            "blocks_total": int(nb.sum()),
            "blocks_in_pruned_buckets": int(nb[~live].sum()),
            "blocks_decoded": 0,
            "blocks_chunk_skipped": 0,
            "threshold": theta,
        }
        return _Plan(w, theta, msm, buckets[live], stats)

    def _score(self, plans: list[_Plan], k: int, tomb, counters=None, explain_out=None):
        """The scoring kernel: surviving buckets' blocks ∪ their slab rows
        through one ``groupBy("bucket").applyInPandas``; chunk-gated decode
        and per-bucket top-k per query in-task, exact (score desc, doc_id
        asc) k-merge per query on the driver. ``counters``: optional
        (decoded, skipped) block accumulators. Memory note: the in-task
        accumulator costs 8·bucket_range bytes per query active in the
        bucket (+4·bucket_range for each one with min_should_match > 1)."""
        out: list[list[tuple[int, float]]] = [[] for _ in plans]
        union_b = np.unique(np.concatenate([p.surviving for p in plans]))
        if union_b.size == 0:
            return out
        terms = sorted({t for p in plans for t in p.w})
        # filters as SQL text: a Column per literal costs ~10 py4j round
        # trips, which dominated driver time at thousand-bucket survivor lists
        buckets_in = _sql_in("bucket", union_b)
        frame = self._kernel_src.filter(
            f"{_sql_in('term', terms)} AND {buckets_in}"
        ).unionByName(self._slab_src.filter(buckets_in), allowMissingColumns=True)
        w_q = [p.w for p in plans]
        theta_q = [p.theta for p in plans]
        msm_q = [p.msm for p in plans]
        surv_q = [set(p.surviving.tolist()) for p in plans]
        # locals only: the kernel closure is pickled and must not capture self
        avgdl = self.avgdl
        chunk = self.block_size
        n_chunks = -(-self.bucket_range // chunk)

        def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
            empty = pd.DataFrame({"q": [], "doc_id": [], "score": []}).astype(
                {"q": "int64", "doc_id": "int64", "score": "float64"}
            )
            is_slab = pdf["term"].isna().to_numpy()
            bl = pdf[~is_slab].sort_values("term", kind="mergesort")  # sorted-term adds
            bkt = int(pdf["bucket"].iat[0])
            active = [q for q, s in enumerate(surv_q) if bkt in s]
            if bl.empty or is_slab.sum() == 0 or not active:
                return empty
            slab = pdf[is_slab]
            base = int(slab["base"].iat[0])
            lens = np.frombuffer(slab["lens"].iat[0], dtype=np.uint32).astype(np.float64)
            c0 = (bl["first_doc_id"].to_numpy(np.int64) - base) // chunk
            c1 = (bl["last_doc_id"].to_numpy(np.int64) - base) // chunk
            # per-term chunk-max impact, built once; w·max(mi) == max(w·mi)
            # exactly (rounding is monotone), so every query shares it
            tmax: dict[str, np.ndarray] = {}
            for i, (t, mi) in enumerate(zip(bl["term"], bl["max_impact"].to_numpy(np.float64))):
                arr = tmax.get(t)
                if arr is None:
                    arr = tmax[t] = np.zeros(n_chunks, dtype=np.float64)
                np.maximum(arr[c0[i] : c1[i] + 1], mi, out=arr[c0[i] : c1[i] + 1])
            live, takers_of = {}, {}
            for q in active:
                ub = np.zeros(n_chunks, dtype=np.float64)
                for t, wt in w_q[q].items():
                    if t in tmax:
                        ub += wt * tmax[t]
                        takers_of.setdefault(t, []).append(q)
                live[q] = ub >= theta_q[q]
            acc = {q: np.zeros(len(lens), dtype=np.float64) for q in active}
            touched = {q: np.zeros(len(lens), dtype=bool) for q in active}
            nmatch = {q: np.zeros(len(lens), dtype=np.int32) for q in active if msm_q[q] > 1}
            decoded = skipped = 0
            for i, row in enumerate(bl.itertuples(index=False)):
                takers = [
                    q for q in takers_of.get(row.term, ()) if live[q][c0[i] : c1[i] + 1].any()
                ]
                if not takers:
                    skipped += 1  # chunk-level block-max skip for every query
                    continue
                decoded += 1
                ids, tfs = decode_block(row)
                ids -= base
                dl = lens[ids]
                contribs: dict[float, np.ndarray] = {}
                for q in takers:  # decode once, scatter per taker
                    wt = w_q[q][row.term]
                    c = contribs.get(wt)
                    if c is None:
                        c = contribs[wt] = bm25.tf_weight(wt, tfs, dl, avgdl)
                    acc[q][ids] += c
                    touched[q][ids] = True
                    if q in nmatch:
                        nmatch[q][ids] += 1  # one posting per (term, doc): the distinct count
            if counters is not None:
                counters[0].add(decoded)
                counters[1].add(skipped)
            # live-chunk docs decoded every overlapping block, so their match
            # counts are exact; dead-chunk docs are below θ regardless
            for q, nm in nmatch.items():
                touched[q] &= nm >= msm_q[q]
            if tomb is not None:
                # deleted-docs mask (Lucene bitset analog)
                local = tomb[(tomb >= base) & (tomb < base + len(lens))] - base
                for q in active:
                    touched[q][local] = False
            frames = []
            for q in active:
                cand = np.nonzero(touched[q])[0]
                if cand.size:
                    cand, scores = topk_select(cand, acc[q][cand], k)
                    frames.append(pd.DataFrame({"q": q, "doc_id": cand + base, "score": scores}))
            return pd.concat(frames) if frames else empty

        scored = frame.groupBy("bucket").applyInPandas(kernel, schema=_OUT_SCHEMA)
        if explain_out is not None:
            explain_out.append(scored)  # plan audit hook (scripts/explain_plans.py)
        for r in scored.collect():
            out[r["q"]].append((r["doc_id"], r["score"]))
        return [sorted(lst, key=lambda x: (-x[1], x[0]))[:k] for lst in out]

    def _run(self, queries, k, tombstones=None, weights=None, term_stats=None,
             return_stats=False, explain_out=None):
        """Fill, plan and score a batch. ``queries``: [(terms, msm)] with
        validated sorted terms; ``weights``: per-query boost maps or None.
        Returns ([top-k per query], [stats per query])."""
        results = [[] for _ in queries]
        stats = [_zero_stats() for _ in queries]
        all_terms = sorted({t for terms, _ in queries for t in terms})
        if not all_terms or self.n_docs == 0:
            return results, stats
        tomb = _tomb_array(tombstones)
        self._ensure_terms(all_terms, explain_out)
        plans = {}
        for i, (terms, msm) in enumerate(queries):
            p = self._plan(terms, k, msm, (weights or {}).get(i, {}), tomb, term_stats)
            if p is not None:
                plans[i], stats[i] = p, p.stats
        counters = None
        if return_stats:
            sc = self.blocks.sparkSession.sparkContext
            counters = (sc.accumulator(0), sc.accumulator(0))
        if plans:
            got = self._score(list(plans.values()), k, tomb, counters, explain_out)
            for i, topk in zip(plans, got):
                results[i] = topk
        if counters is not None and len(plans) == 1:
            (i,) = plans
            stats[i]["blocks_decoded"] = counters[0].value
            stats[i]["blocks_chunk_skipped"] = counters[1].value
        return results, stats

    # ---- query ------------------------------------------------------
    def search(
        self,
        query: list[str],
        k: int,
        tombstones=None,
        min_should_match: int = 1,
        weights: dict[str, float] | None = None,
    ) -> list[tuple[int, float]]:
        """``tombstones``: per-query deleted-doc set (same semantics as
        bm25_topk_wand) — the cached per-term metadata is tombstone-
        independent (seeds/impacts/dfs describe the on-disk index), so
        deletes compose with a warm cache: filtering happens at θ-seed
        time and in the kernel mask only. ``min_should_match``: m-of-n
        matching, same exactness argument as bm25_topk_wand (θ seeded
        only from observed-≥m docs; chunk gate unchanged). ``weights``:
        per-term ^N boosts, folded into idf (the cached per-term
        metadata is weight-independent — raw max_impacts — so boosts
        compose with a warm cache)."""
        terms = bm25.query_terms(query, min_should_match)
        wts = _norm_weights(weights, terms)
        return self._run([(terms, min_should_match)], k, tombstones, {0: wts})[0][0]

    def search_batch(
        self,
        queries: dict[str, list[str]],
        k: int,
        tombstones=None,
        min_should_match: int | dict = 1,
        term_stats: dict[str, int] | None = None,
    ) -> dict[str, list[tuple[int, float]]]:
        """Many queries through one fill and one scoring pass; same
        arguments and results as ``bm25_topk_wand_batch``."""
        if isinstance(min_should_match, dict):
            unknown = set(min_should_match) - set(queries)
            if unknown:
                raise ValueError(f"min_should_match has unknown query ids: {sorted(unknown)}")
            msm_q = {qid: int(min_should_match.get(qid, 1)) for qid in queries}
        else:
            msm_q = {qid: int(min_should_match) for qid in queries}
        qids = list(queries)
        batch = [(bm25.query_terms(queries[q], msm_q[q], q), msm_q[q]) for q in qids]
        got, _ = self._run(batch, k, tombstones, term_stats=term_stats)
        return dict(zip(qids, got))


def bm25_topk_wand(
    blocks: DataFrame,
    slabs: DataFrame,
    query: list[str],
    k: int,
    n_docs: int,
    total_tokens: int,
    bucket_range: int,
    block_size: int = 128,
    term_stats: dict[str, int] | None = None,
    return_stats: bool = False,
    explain_out: list | None = None,
    tombstones=None,
    min_should_match: int = 1,
    weights: dict[str, float] | None = None,
):
    """Exact BM25 top-k [(doc_id, score)] with distributed block-max
    pruning: a ``WandSearcher`` with an empty cache, so four Spark jobs
    (the two-job fill, the two-job scoring pass) and at most one
    exchange. ``slabs`` is the build-time doc_len sidecar
    (posting_blocks.build_doc_len_slabs) — the docs table itself is
    never read at query time. ``term_stats``: optional {term: df} from
    the caller's terms-table cache, used for idf in place of the dfs
    the fill derives. With ``return_stats`` also returns
    {"buckets_total", "buckets_pruned", "blocks_total",
    "blocks_in_pruned_buckets", "blocks_decoded", "blocks_chunk_skipped",
    "threshold"}. ``explain_out``: a list that receives every DataFrame
    the call executes, in order (fill metadata scan, fill payload scan,
    scoring pass).

    ``tombstones``: optional deleted-doc set (iterable of doc_ids or a
    (doc_id) DataFrame, e.g. deletes.tombstones_for_convs output) —
    Lucene-style delete semantics ON THE FAST PATH: tombstoned docs are
    excluded from the threshold seed (θ stays a valid lower bound on
    the k-th best LIVE score — seeding over deleted docs could
    over-prune) and masked out of every bucket's accumulator before
    top-k selection. Global stats (df/idf/avgdl) deliberately keep
    their pre-delete values, exactly matching deletes.exclude_docs on
    the DataFrame path, so both paths stay rank- and score-identical
    until a purge.

    ``weights``: optional per-term positive multipliers (queryparse
    ``term^N`` boosts on the serving path). A weight folds into idf
    uniformly — seed ordering, bucket/chunk upper bounds, and exact
    scoring all scale together, so every pruning bound stays valid;
    rank/score-identical to bm25_weighted_scores. Unknown keys raise
    (silent misconfiguration is worse than an error).

    ``min_should_match``: m-of-n distinct-term matching — the original
    WAND formulation ("weak AND", Broder et al. CIKM 2003 §2 defines
    the operator by its match threshold) and the serving twin of
    Searcher.bm25_search_msm. Exactness under pruning: θ is seeded only
    from docs whose SEED-OBSERVED match count is already ≥ m (observed
    ≤ true count, so every seeded doc is valid and θ stays a lower
    bound on the k-th valid score), and the kernel's chunk gate is
    unchanged — chunks partition doc-id space, so a live-chunk doc
    decodes ALL its blocks (exact score AND exact match count) while a
    dead-chunk doc is provably below θ, valid or not.
    """
    terms = bm25.query_terms(query, min_should_match)
    wts = _norm_weights(weights, terms)
    ws = WandSearcher(blocks, slabs, n_docs, total_tokens, bucket_range, block_size)
    got, stats = ws._run(
        [(terms, min_should_match)], k, tombstones, {0: wts}, term_stats, return_stats, explain_out
    )
    return (got[0], stats[0]) if return_stats else got[0]


def bm25_topk_wand_batch(
    blocks: DataFrame,
    slabs: DataFrame,
    queries: dict[str, list[str]],
    k: int,
    n_docs: int,
    total_tokens: int,
    bucket_range: int,
    block_size: int = 128,
    term_stats: dict[str, int] | None = None,
    tombstones=None,
    min_should_match: int | dict = 1,
) -> dict[str, list[tuple[int, float]]]:
    """Exact BM25 top-k for MANY queries in four Spark jobs total — the
    two-job fill over the union of the queries' terms, then one scoring
    pass over the union of their surviving buckets, in which every
    surviving block decodes at most once however many queries share its
    term and each query gates chunks on its own θ_q. Q queries through
    ``bm25_topk_wand`` would cost 4Q jobs. Memory note: the in-task
    accumulator costs 8·bucket_range bytes PER ACTIVE QUERY — size
    batches accordingly (e.g. ≤64 queries at bucket_range 2^22).

    Returns ``{qid: [(doc_id, score), ...]}``; rank-identical to
    per-query ``bm25_topk_wand`` (pytest-locked). ``tombstones`` applies
    the same deleted-docs semantics as ``bm25_topk_wand`` to every
    query in the batch. ``min_should_match``: an int for every query or
    a {qid: m} dict (missing qids default to 1) — same semantics and
    exactness argument as the single-query path; each m-filtered query
    adds a 4·bucket_range-byte match-count array in-task.
    """
    ws = WandSearcher(blocks, slabs, n_docs, total_tokens, bucket_range, block_size)
    return ws.search_batch(queries, k, tombstones, min_should_match, term_stats)
