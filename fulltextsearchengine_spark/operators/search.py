"""Ranked search — the ReviewSearch analog (SURVEY.md §3.3), DataFrame path.

Three scorers over one index:
- lnn.ltc vector space  (ReviewSearch.java:27-104 semantics)
- Jelinek–Mercer unigram LM, λ=0.5 (ReviewSearch.java:146-199)
- BM25 (north-star scale path; K1, B, idf and the tf weight from bm25.py)
plus conv_search, the productSearch analog (ReviewSearch.java:235-284).

One BM25 core (``Searcher._bm25``) serves every BM25 variant: OR
(``bm25_scores``, m = 1), minimum-should-match (``bm25_scores_msm``, m),
AND (``bm25_search_conjunctive``, m = number of distinct terms) and
weighted BM25 (feedback.bm25_weighted_scores, boosts folded into idf).
m changes the candidate set, never the math: m > 1 adds one Filter on
the pivot's matched-slot count, m = 1 adds none.

Float determinism: the oracle (oracle.py) accumulates per-doc scores in
sorted-term order. To be *bit-identical* rather than merely close, each
scorer pivots the ≤|q| query terms into columns and combines them in a
literal expression in the same sorted order — adding/multiplying in a
fixed order instead of an unordered SUM aggregate. Query-side weights
(idf, ltc) are computed driver-side in Python — identical math to the
oracle. Queries are tiny (reference queries are 1-5 terms), so the
pivot is a fixed-width projection, not a wide pivot.

Plan shape at scale: postings.filter(term IN q) prunes by parquet
min/max on the sorted postings table (the dictionary-binary-search
analog, SURVEY.md §4); one shuffle on doc_id for the groupBy; top-k via
orderBy+limit = TakeOrderedAndProject (bounded per-partition heaps +
driver merge — no global sort). The block-compressed WAND path lives in
wand.py.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import bm25
from .index_build import InvertedIndex

LM_LAMBDA = 0.5
LM_DIRICHLET_MU = 2000.0


def normalize_query(query: list[str]) -> list[str]:
    """Query-side case folding (IndexReader.java:93,125 — every lookup
    lowercases). Multi-token strings are NOT re-tokenized here; callers
    pass term lists, as ReviewSearch does."""
    return [t.lower() for t in query]


class Searcher:
    """Query engine over an InvertedIndex. Caches global stats and the
    filtered per-query term stats (the J1 broadcast-lookup analog,
    SURVEY.md §2.4)."""

    def __init__(self, index: InvertedIndex, preload_terms: bool = False):
        self.index = index
        self._stats: dict | None = None
        self._term_cache: dict[str, tuple[int, int]] | None = None
        if preload_terms:
            # the reference holds its whole dictionary in RAM
            # (Dictionary.java:74-79); viable while |terms| is driver-sized.
            # At 100 TB scale leave this off — term_stats then does a
            # min/max-pruned scan of the sorted terms table per query.
            self._term_cache = {
                r["term"]: (r["df"], r["cf"]) for r in index.terms.collect()
            }

    # ---- IndexReader-analog point lookups (SURVEY.md §3.2) -------------
    @property
    def stats(self) -> dict:
        if self._stats is None:
            st = self.index.stats_row()
            # empty corpus: SUM aggregates are null (total_tokens etc.)
            self._stats = {k: (0 if v is None else v) for k, v in st.items()}
        return self._stats

    @property
    def avgdl(self) -> float:
        n = self.stats["num_docs"]
        return (self.stats["total_tokens"] / n) if n else 0.0

    def bm25_idf(self, stats: dict[str, tuple[int, int]]) -> dict[str, float]:
        """term → BM25 idf for the in-vocab (df > 0) terms of a
        ``term_stats`` result."""
        n = self.stats["num_docs"]
        return {t: bm25.idf(n, df) for t, (df, _) in stats.items() if df > 0}

    def term_stats(self, terms: list[str]) -> dict[str, tuple[int, int]]:
        """term -> (df, cf) for the given terms; absent terms omitted.
        Analog of dictionary binary search (Dictionary.java:145-165):
        a pruned scan of the tiny terms table."""
        terms = sorted(set(normalize_query(terms)))
        if not terms:
            return {}
        if self._term_cache is not None:
            return {t: self._term_cache[t] for t in terms if t in self._term_cache}
        rows = self.index.terms.filter(F.col("term").isin(terms)).collect()
        return {r["term"]: (r["df"], r["cf"]) for r in rows}

    def postings_for(self, terms: list[str]) -> DataFrame:
        """Pruned posting scan: (term, doc_id, tf, doc_len), the
        getReviewsWithToken analog (IndexReader.java:89-103)."""
        terms = sorted(set(normalize_query(terms)))
        return self.index.postings.filter(F.col("term").isin(terms))

    def doc_meta(self, doc_id: int) -> dict | None:
        """docId → metadata row, the getReviewMeta/fixed-record analog
        (storage/FixedRecordStorage.java:89-101): a point lookup that
        prunes to one parquet row group via doc_id min/max stats.
        Out-of-range ids return None (IndexReader.java:36-41 guards)."""
        rows = self.index.docs.filter(F.col("doc_id") == int(doc_id)).collect()
        return rows[0].asDict() if rows else None

    def conv_doc_ids(self, conv_id: str) -> DataFrame:
        """ProductIdToDocIdMapper analog (J4): conv range → exploded ids."""
        return (
            self.index.conv_ranges.filter(F.col("conv_id") == conv_id.lower())
            .select(F.explode(F.sequence("from_doc_id", "to_doc_id")).alias("doc_id"))
        )

    # ---- pivoted per-term tf frame (shared by all scorers) -------------
    def _pivoted_tf(
        self, terms: list[str], candidates: DataFrame | None = None
    ) -> DataFrame:
        """(doc_id, doc_len, tf_<i> for each sorted term): OR-union of the
        query terms' postings, one row per candidate doc. ``candidates``
        (a doc_id frame) restricts the union via a semi-join BEFORE the
        pivot — the champion-list / pre-filtered retrieval hook: the
        groupBy then aggregates only candidate rows, so a tier that is a
        tiny fraction of the postings keeps the whole query tiny."""
        p = self.postings_for(terms)
        if candidates is not None:
            p = p.join(candidates.select("doc_id"), "doc_id", "left_semi")
        exprs = [
            F.max(F.when(F.col("term") == t, F.col("tf"))).alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ]
        return p.groupBy("doc_id", "doc_len").agg(*exprs)

    # ---- scorers -------------------------------------------------------
    @staticmethod
    def _matched(n: int) -> Column:
        """How many of a pivot's n tf slots are set: the m-of-n count."""
        matched = F.lit(0)
        for i in range(n):
            matched = matched + F.col(f"tf_{i}").isNotNull().cast("int")
        return matched

    def _query_ltc(self, query: list[str]) -> dict[str, float]:
        """ltc query vector, driver-side — exact ReviewSearch.queryLtc
        math (ReviewSearch.java:27-58): (1+log10 tf)·log10(N/df), df=0
        dropped, cosine-normalized.

        Reference parity detail: tf is counted over RAW-case query terms
        (queryLtc counts before folding; only the dictionary lookup
        lowercases, IndexReader.java:93,125) — a query with mixed-case
        duplicates like ["Dog", "dog"] yields TWO unit-tf components
        that both resolve to the same indexed term, not one tf=2
        component. The returned vector is keyed by the folded term with
        the variants' normalized weights summed (doc lnn depends only on
        the folded term, so the dot product is identical to the
        reference's per-variant accumulation)."""
        n = self.stats["num_docs"]
        tf_raw = Counter(query)  # RAW terms — no folding before counting
        stats = self.term_stats(sorted({v.lower() for v in tf_raw}))
        vec_raw: dict[str, float] = {}
        for variant, f in tf_raw.items():
            df = stats.get(variant.lower(), (0, 0))[0]
            if df == 0:
                continue
            vec_raw[variant] = (1.0 + math.log10(f)) * math.log10(n / df)
        norm = math.sqrt(sum(w * w for w in vec_raw.values()))
        vec: dict[str, float] = {}
        for variant in sorted(vec_raw):  # deterministic fold-collapse order
            t = variant.lower()
            vec[t] = vec.get(t, 0.0) + (vec_raw[variant] / norm if norm > 0 else 0.0)
        return vec

    def vector_space_scores(self, query: list[str]) -> DataFrame:
        """(doc_id, score): dot(query ltc, doc lnn), OR candidates
        (ReviewSearch.java:65-104). Terms combined in sorted order —
        bit-identical to the oracle's accumulation."""
        qvec = self._query_ltc(query)
        terms = sorted(qvec)
        if not terms:
            return self._empty_scores()
        piv = self._pivoted_tf(terms)
        score = F.lit(0.0)
        for i, t in enumerate(terms):
            contrib = F.lit(qvec[t]) * (F.lit(1.0) + F.log10(F.col(f"tf_{i}")))
            score = score + F.coalesce(contrib, F.lit(0.0))
        return piv.select("doc_id", score.alias("score"))

    def _bm25(
        self,
        terms: list[str],
        min_should_match: int = 1,
        boosts: dict[str, float] | None = None,
        candidates: DataFrame | None = None,
    ) -> DataFrame:
        """The BM25 core: (doc_id, score) over the docs holding at least
        ``min_should_match`` of the in-vocab ``terms``, each term weighted
        idf·boost. OOV terms (df = 0) count toward neither side, so fewer
        than m in-vocab terms match nothing. m > 1 filters the pivot on
        its matched-slot count; m = 1 adds no Filter."""
        w = self.bm25_idf(self.term_stats(terms))
        if boosts:
            w = {t: boosts[t] * v for t, v in w.items()}
        if not w or len(w) < min_should_match:
            return self._empty_scores()
        terms = sorted(w)
        piv = self._pivoted_tf(terms, candidates=candidates)
        if min_should_match > 1:
            piv = piv.filter(self._matched(len(terms)) >= F.lit(min_should_match))
        slot = {t: f"tf_{i}" for i, t in enumerate(terms)}
        return piv.select("doc_id", bm25.pivot_score(w, self.avgdl, slot))

    def bm25_scores(
        self,
        query: list[str],
        candidates: DataFrame | None = None,
    ) -> DataFrame:
        """(doc_id, score): Σ_t idf·tf·(K1+1)/(tf + K1·(1−B+B·len/avgdl)).
        ``candidates`` restricts the scored docs (semi-join pre-pivot) —
        scoring math (global df/avgdl) is unchanged: filter, don't
        re-weight."""
        return self._bm25(bm25.query_terms(query), candidates=candidates)

    def lm_scores(self, query: list[str], lam: float = LM_LAMBDA) -> DataFrame:
        """(doc_id, score): Π over DISTINCT query terms of
        λ·tf/len + (1−λ)·cf/total (ReviewSearch.java:146-178); candidates
        = OR-union; missing term backs off to the collection model;
        multiplied in sorted-term order (raw float64 product, matching
        the oracle — NOT exp-log-sum)."""
        terms = sorted(set(normalize_query(query)))
        if not terms:
            return self._empty_scores()
        stats = self.term_stats(terms)
        total = self.stats["total_tokens"]
        if not total:
            return self._empty_scores()
        piv = self._pivoted_tf(terms)
        score = F.lit(1.0)
        for i, t in enumerate(terms):
            cf = stats.get(t, (0, 0))[1]
            mle = F.coalesce(F.col(f"tf_{i}").cast("double"), F.lit(0.0)) / F.col("doc_len")
            factor = F.lit(lam) * mle + F.lit((1.0 - lam) * (cf / total))
            score = score * factor
        return piv.select("doc_id", score.alias("score"))

    def lm_dirichlet_scores(
        self, query: list[str], mu: float = LM_DIRICHLET_MU
    ) -> DataFrame:
        """(doc_id, score): Dirichlet-smoothed query log-likelihood
        Σ_t qtf_t · ln( (tf_{t,d} + μ·cf_t/total) / (doc_len + μ) )
        (Zhai & Lafferty 2001, the standard QL smoothing for short
        queries over long-tailed doc lengths). Beyond the reference —
        its only LM is Jelinek–Mercer λ=0.5 (ReviewSearch.java:146-178);
        same OR-union candidate convention as every scorer here.

        Unlike JM's distinct-term product, qtf multiplicity weights each
        term (the textbook formulation). OOV terms (cf=0) would be
        ln(0) = −inf for every doc — a rank-neutral constant — so they
        are dropped, like df=0 terms in BM25. Terms combine in sorted
        order in one fixed expression (reproducible float math); the
        plan is the same pruned In-scan + single-shuffle pivot as BM25,
        so WAND-style pruning work transfers unchanged."""
        folded = normalize_query(query)
        qtf = Counter(folded)
        stats = self.term_stats(sorted(qtf))
        total = self.stats["total_tokens"]
        if not total:
            return self._empty_scores()
        terms = sorted(t for t in qtf if stats.get(t, (0, 0))[1] > 0)
        if not terms:
            return self._empty_scores()
        slot = {t: f"tf_{i}" for i, t in enumerate(terms)}
        score = self.dirichlet_pivot_score(qtf, stats, total, mu, slot)
        return self._pivoted_tf(terms).select("doc_id", score.alias("score"))

    @staticmethod
    def dirichlet_pivot_score(qtf, stats, total, mu, slot) -> Column:
        """Σ_t qtf_t · ln((tf + μ·cf_t/total) / (doc_len + μ)) as one
        Column over a pivot, terms in sorted order; a missing slot is tf 0.
        Shared by lm_dirichlet_scores and rescore's second pass."""
        denom = F.col("doc_len") + F.lit(mu)
        score = F.lit(0.0)
        for t in sorted(slot):
            tf = F.coalesce(F.col(slot[t]).cast("double"), F.lit(0.0))
            p_c = stats[t][1] / total
            score = score + F.lit(float(qtf[t])) * F.log((tf + F.lit(mu * p_c)) / denom)
        return score

    def lm_dirichlet_search(
        self, query: list[str], k: int, mu: float = LM_DIRICHLET_MU
    ) -> DataFrame:
        return self.topk(self.lm_dirichlet_scores(query, mu), k)

    # ---- top-k ---------------------------------------------------------
    @staticmethod
    def topk(scores: DataFrame, k: int) -> DataFrame:
        """score desc, doc_id asc, limit k (ReviewSearch.java:95-103).
        Physical plan: TakeOrderedAndProject — per-partition bounded
        heaps merged on the driver, not a global sort."""
        return scores.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def vector_space_search(self, query: list[str], k: int) -> DataFrame:
        return self.topk(self.vector_space_scores(query), k)

    def bm25_search(self, query: list[str], k: int) -> DataFrame:
        return self.topk(self.bm25_scores(query), k)

    def language_model_search(self, query: list[str], k: int) -> DataFrame:
        return self.topk(self.lm_scores(query), k)

    def bm25_search_after(
        self,
        query: list[str],
        k: int,
        after_score: float,
        after_doc_id: int,
    ) -> DataFrame:
        """Keyset pagination: the next k results strictly after cursor
        (after_score, after_doc_id) in (score desc, doc_id asc) order —
        pass the LAST row of the previous page.

        OFFSET-free by design: a deep OFFSET at 10^12 docs makes every
        page recompute and discard all earlier pages inside the top-k
        heaps, while the keyset filter prunes them before the heap, so
        page depth never changes the job's work. The score-equality arm
        is safe within the engine (the scorer recomputes bit-identical
        doubles for the same doc); cross-engine pagination must pass
        cursors from the same engine that produced page 1."""
        s = self.bm25_scores(query)
        cursor = (F.col("score") < F.lit(after_score)) | (
            (F.col("score") == F.lit(after_score))
            & (F.col("doc_id") > F.lit(after_doc_id))
        )
        return self.topk(s.filter(cursor), k)

    # ---- metadata-filtered search (beyond the reference) ---------------
    def bm25_search_filtered(
        self,
        query: list[str],
        k: int,
        role: str | None = None,
        conv_prefix: str | None = None,
    ) -> DataFrame:
        """BM25 top-k restricted to turns matching metadata predicates
        (role, conv_id prefix). Scoring semantics are unchanged (global
        df/cf/avgdl — the standard 'filter, don't re-weight' search
        convention); the candidate set is pre-filtered with a join
        against the pruned docs scan, so the predicate pushes down to
        the docs parquet and the postings scan stays term-pruned."""
        scores = self.bm25_scores(query)
        d = self.index.docs
        if role is not None:
            d = d.filter(F.col("role") == role)
        if conv_prefix is not None:
            d = d.filter(F.col("conv_id").startswith(conv_prefix))
        filtered = scores.join(d.select("doc_id"), "doc_id", "left_semi")
        return self.topk(filtered, k)

    def bm25_search_conjunctive(self, query: list[str], k: int) -> DataFrame:
        """AND-semantics BM25 top-k: only docs containing EVERY query
        term score (the posting-list-intersection processing mode; the
        OR-union scorers are the disjunctive mode WAND accelerates).
        Scores equal bm25_scores on the surviving docs — intersection
        changes the candidate set, never the math.

        The BM25 core with m = the number of distinct terms, so the
        intersection is the matched-slot Filter on the same pivot (no
        extra join). Any OOV term (df=0) empties the result by
        definition of AND; an empty query matches nothing."""
        terms = bm25.query_terms(query)
        return self.topk(self._bm25(terms, max(len(terms), 1)), k)

    def bm25_search_msm(
        self, query: list[str], k: int, min_should_match: int
    ) -> DataFrame:
        """Minimum-should-match BM25 top-k: only docs containing at
        least ``min_should_match`` DISTINCT query terms score — the
        Lucene/Elasticsearch ``minimum_should_match`` knob, the dial
        between this engine's OR-union scorers (m=1) and
        ``bm25_search_conjunctive`` (m=n)."""
        return self.topk(self.bm25_scores_msm(query, min_should_match), k)

    def bm25_scores_msm(self, query: list[str], min_should_match: int) -> DataFrame:
        """(doc_id, score) for docs matching ≥ ``min_should_match``
        DISTINCT query terms. Scores equal ``bm25_scores`` on the
        surviving docs: m changes the candidate set, never the math
        (same filter-don't-reweight contract as ``candidates=``).

        OOV terms (df=0) can never be matched, so they count toward
        neither side — a doc needs m of the in-vocab terms, and if fewer
        than m query terms are in-vocab the result is empty (exactly
        Lucene's behavior: an unsatisfiable SHOULD count matches
        nothing). m is validated against the distinct folded query.

        Plan: identical to every scorer here — pruned ``In(term,…)``
        scan, one partial-agg pivot shuffle; the m-of-n test is a
        driver-built sum of null-checks over the pivot's tf slots, so
        no extra join or exchange appears (scripts/explain_plans.py
        asserts the shape for m = 2 and for the AND specialization)."""
        return self._bm25(bm25.query_terms(query, min_should_match), min_should_match)

    def match_counts(self, query: list[str]) -> DataFrame:
        """(min_should_match, n_hits): the ES ``_count`` API generalized
        over the msm dial — for every m in 1..n (n = distinct in-vocab
        query terms), how many docs match at least m of them. m=1 is the
        OR hit count, m=n the AND hit count; the full curve is what a
        query-tuning UI shows when the user drags the
        minimum_should_match slider.

        Plan: ONE pruned ``In(term,…)`` scan + the same pivot as every
        scorer, a ≤n-row matched-distribution agg, then a tiny non-equi
        left join against the m axis (both sides n rows) — the whole
        curve costs one posting pass, not n re-queries. OOV-only
        queries return an empty frame (no satisfiable m)."""
        terms = sorted(self.bm25_idf(self.term_stats(normalize_query(query))))
        spark = self.index.postings.sparkSession
        if not terms:
            return spark.createDataFrame(
                [], "min_should_match int, n_hits bigint"
            )
        dist = (
            self._pivoted_tf(terms)
            .select(self._matched(len(terms)).alias("matched"))
            .groupBy("matched")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        ms = spark.range(1, len(terms) + 1).select(
            F.col("id").cast("int").alias("min_should_match")
        )
        return (
            ms.join(dist, dist["matched"] >= F.col("min_should_match"), "left")
            .groupBy("min_should_match")
            .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_hits"))
        )

    # ---- batched multi-query scoring (beyond the reference) ------------
    def bm25_search_batch(self, queries: dict[str, list[str]], k: int) -> DataFrame:
        """(query_id, doc_id, score, rank): BM25 top-k for MANY queries
        in ONE Spark job — the analytical shape the single-query
        reference cannot express. Query terms (with driver-computed idf)
        broadcast-join the postings scan once; per-query top-k via a
        rank window partitioned by query_id (parallel across queries).
        """
        spark = self.index.postings.sparkSession
        idf = self.bm25_idf(
            self.term_stats([t for ts in queries.values() for t in normalize_query(ts)])
        )
        rows = [
            (qid, t, idf[t])
            for qid, ts in queries.items()
            for t in bm25.query_terms(ts)
            if t in idf
        ]
        if not rows:
            return spark.createDataFrame(
                [], "query_id string, doc_id long, score double, rank int"
            )
        qdf = spark.createDataFrame(rows, "query_id string, term string, idf double")
        p = self.index.postings.filter(F.col("term").isin(sorted({r[1] for r in rows})))
        contrib = bm25.tf_weight_col(F.col("idf"), F.col("tf"), bm25.length_norm_col(self.avgdl))
        scored = (
            p.join(F.broadcast(qdf), "term")
            .groupBy("query_id", "doc_id")
            .agg(F.sum(contrib).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )

    # ---- conv-level search (productSearch analog) ----------------------
    def conv_search(
        self, query: list[str], k: int, explain_out: list | None = None
    ) -> DataFrame:
        """(conv_id, relevancy, rank) — genuine two-stage re-rank
        (ReviewSearch.java:235-284 structure):

        stage 1: relevancy(conv) = Σ candidate dots / n_docs(conv);
        top-k by relevancy (tie conv_id asc — documented deviation,
        the reference's tie order is nondeterministic).

        stage 2 re-ranks the k winners by a DISTINCT signal — the
        getProductRank analog (ReviewSearch.java:203-229: helpfulness-
        weighted mean score over ALL the product's reviews). Transcripts
        have no helpfulness field; the role weight plays its part:
        rank(conv) = Σ w(role)·dot / Σ w(role) over ALL conv turns
        (non-candidate turns contribute 0 to the numerator but their
        role weight counts in the denominator), w = user 1.0 /
        assistant 0.5 / other 0.25.

        Execution: exactly TWO Spark jobs. Job 1 materializes the k
        stage-1 winners on the driver (k rows, the same driver-side
        top-k pattern as WAND's k-merge) together with their
        ``conv_ranges`` doc_id spans. Job 2 computes the stage-2
        denominators over ``docs`` restricted to the union of those k
        [from,to] doc_id ranges — a predicate parquet prunes by row-group
        min/max because docs is written doc_id-sorted (conv docs are
        contiguous by construction, the same invariant J4 expansion
        relies on). The previous lazy formulation re-ran the entire
        stage-1 pipeline twice (the stage-1 frame fed two downstream
        consumers with no materialization) and full-scanned docs."""
        w_role = (
            F.when(F.col("role") == "user", F.lit(1.0))
            .when(F.col("role") == "assistant", F.lit(0.5))
            .otherwise(F.lit(0.25))
        )
        spark = self.index.docs.sparkSession
        conv_type = self.index.docs.schema["conv_id"].dataType.simpleString()
        out_schema = f"conv_id {conv_type}, relevancy double, rank double"
        dots = self.vector_space_scores(query)
        per_conv = (
            dots.join(self.index.docs.select("doc_id", "conv_id", "role"), "doc_id")
            .groupBy("conv_id")
            .agg(
                F.sum("score").alias("sum_dots"),
                F.sum(w_role * F.col("score")).alias("sum_wdots"),
            )
            .join(
                self.index.conv_ranges.select(
                    "conv_id", "n_docs", "from_doc_id", "to_doc_id"
                ),
                "conv_id",
            )
            .select(
                "conv_id",
                "sum_wdots",
                "from_doc_id",
                "to_doc_id",
                (F.col("sum_dots") / F.col("n_docs")).alias("relevancy"),
            )
        )
        stage1 = per_conv.orderBy(F.desc("relevancy"), F.asc("conv_id")).limit(k)
        if explain_out is not None:
            # expose the two lazy job frames for plan audits: stage 1 now,
            # the range-pruned stage-2 scan after the winners are known
            explain_out.append(stage1)
        winners = stage1.collect()
        if not winners:
            return spark.createDataFrame([], out_schema)
        pred = None
        for r in winners:
            c = (F.col("doc_id") >= r["from_doc_id"]) & (
                F.col("doc_id") <= r["to_doc_id"]
            )
            pred = c if pred is None else (pred | c)
        denom = (
            self.index.docs.where(pred)
            .groupBy("conv_id")
            .agg(F.sum(w_role).alias("sum_w"))
        )
        if explain_out is not None:
            explain_out.append(denom)
        sum_w = {r["conv_id"]: r["sum_w"] for r in denom.collect()}
        rows = sorted(
            (
                (
                    r["conv_id"],
                    float(r["relevancy"]),
                    float(r["sum_wdots"]) / sum_w[r["conv_id"]],
                )
                for r in winners
            ),
            key=lambda t: (-t[2], t[0]),
        )
        return spark.createDataFrame(rows, out_schema)

    def _empty_scores(self) -> DataFrame:
        spark = self.index.postings.sparkSession
        return spark.createDataFrame([], "doc_id long, score double")
