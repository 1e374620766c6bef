"""Doc-range-sharded BM25 serving: the router tier over LocalBM25.

local_query.py's docstring promises the 100-TB serving story — "each
SERVING SHARD holds blocks for its doc range, a router fans out and
k-merges". This module is that router, runnable locally: the corpus's
bucket space is split into ``n_shards`` contiguous doc-id ranges, each
shard holds ONLY its ranges' posting blocks and doc_len slab rows
(posting memory per shard shrinks ~linearly in shard count; the local
proxy still sizes its doc_len array to n_docs for global-id indexing —
a production shard would offset-index just its [lo, hi) range), and a
query fans out to every shard and k-merges their local top-k by
(score desc, doc_id asc).

Exactness: BM25 scores are per-doc decomposable given GLOBAL stats —
each shard receives the full-corpus (n_docs, total_tokens, term_df), so
a doc scores identically on its shard as on a single-node index; and
the global top-k is contained in the union of per-shard top-k's (every
global winner is a winner of its own shard). The parity test locks
router == single-instance on the same corpus.

Scale notes: doc-range sharding (vs term sharding) keeps every query a
fan-out-to-all but bounds each shard's work to its own doc range —
the standard choice when queries are few-term and docs are many
(term-sharded postings would route single-term queries to one node but
skew badly on hot terms). The shard boundary is on BUCKET boundaries so
compressed blocks never straddle shards.

Cache misses: a new term is fetched once for all shards — one Spark job
over the unfiltered blocks for every shard's missing terms, split on the
driver by bucket range — so a miss costs what a single LocalBM25 miss
costs, not one job per shard. Each shard then decodes its own slice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .local_query import LocalBM25, fetch_blocks


class ShardedBM25:
    """Router over ``n_shards`` LocalBM25 shards (doc-range sharded)."""

    def __init__(
        self,
        blocks: DataFrame,
        slabs: DataFrame,
        n_docs: int,
        total_tokens: int,
        term_df: dict[str, int],
        bucket_range: int,
        n_shards: int = 4,
    ):
        self.blocks = blocks
        n_buckets = max(1, -(-n_docs // bucket_range))
        per = -(-n_buckets // n_shards)
        # [lo, hi) bucket range per shard; at most n_shards of them
        self._ranges = [(lo, min(lo + per, n_buckets)) for lo in range(0, n_buckets, per)]
        self.shards: list[LocalBM25] = []
        for lo, hi in self._ranges:
            cond = (F.col("bucket") >= lo) & (F.col("bucket") < hi)
            self.shards.append(
                LocalBM25(
                    blocks.filter(cond),
                    slabs.filter(cond),
                    n_docs=n_docs,  # GLOBAL stats: scores must match 1-node
                    total_tokens=total_tokens,
                    term_df=term_df,
                    bucket_range=bucket_range,
                )
            )

    def search(self, query: list[str], k: int) -> list[tuple[int, float]]:
        """Fetch the shards' missing terms in one job, fan out, k-merge:
        score desc, doc_id asc — identical to LocalBM25.search over the
        unsharded index."""
        missing = sorted({t for shard in self.shards for t in shard._missing(query)})
        if missing:
            pdf = fetch_blocks(self.blocks, missing)
            for shard, (lo, hi) in zip(self.shards, self._ranges):
                shard._decode(pdf[(pdf["bucket"] >= lo) & (pdf["bucket"] < hi)], missing)
        merged: list[tuple[float, int]] = []
        for shard in self.shards:
            merged.extend((-score, doc_id) for doc_id, score in shard.search(query, k))
        merged.sort()
        return [(doc_id, -neg) for neg, doc_id in merged[:k]]
