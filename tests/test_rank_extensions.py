"""BM25F (conversation fields), RM3 feedback, and proximity-boosted
ranking vs brute-force Python oracles over the golden corpus."""

from __future__ import annotations

import math
from collections import Counter

import pytest

from fulltextsearchengine_spark import oracle
from fulltextsearchengine_spark.operators.bm25f import (
    BM25F_B,
    BM25F_K1,
    ROLE_WEIGHTS,
    bm25f_search,
    build_field_index,
)
from fulltextsearchengine_spark.operators.feedback import (
    bm25_weighted_scores,
    rm3_expand,
    rm3_search,
)
from fulltextsearchengine_spark.operators.index_build import build_index
from fulltextsearchengine_spark.operators.positions import build_positional_postings
from fulltextsearchengine_spark.operators.proximity import proximity_boosted_search
from fulltextsearchengine_spark.operators.search import Searcher
from fulltextsearchengine_spark.sources.transcripts import TRANSCRIPT_SCHEMA

K = 10
QUERIES = [  # mid-df terms of the seed-42 vocab (8 <= conv df <= 40)
    ["aa", "ahc", "auir"],
    ["db", "doa", "eoi"],
    ["fh", "fhd", "gyo"],
    ["he", "hg", "hn"],
]


@pytest.fixture(scope="module")
def setup(spark, small_transcripts_pdf):
    golden = oracle.build_index(small_transcripts_pdf)
    sdf = spark.createDataFrame(small_transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    searcher = Searcher(build_index(sdf))
    return golden, searcher, sdf


# ---------------------------------------------------------------- BM25F


def _brute_bm25f(pdf, query, weights, k1, b, k):
    """Independent pandas/python BM25F at conversation granularity."""
    tf: dict[tuple[str, str, str], int] = {}
    flen: dict[tuple[str, str], int] = {}
    for row in pdf.itertuples(index=False):
        toks = oracle.tokenize(row.text)
        key = (row.conv_id, row.role)
        flen[key] = flen.get(key, 0) + len(toks)
        for t in toks:
            tf[(row.conv_id, row.role, t)] = tf.get((row.conv_id, row.role, t), 0) + 1
    # avg field length over PRESENT (conv, role) pairs, incl. zero-length
    per_role: dict[str, list[int]] = {}
    for (_, role), ln in flen.items():
        per_role.setdefault(role, []).append(ln)
    avg = {r: sum(v) / len(v) for r, v in per_role.items()}
    n_convs = len({c for c, _ in flen})
    conv_df: dict[str, set] = {}
    for (c, _, t) in tf:
        conv_df.setdefault(t, set()).add(c)
    terms = sorted({t.lower() for t in query})
    scores: dict[str, float] = {}
    for t in terms:
        df = len(conv_df.get(t, ()))
        if df == 0:
            continue
        idf = math.log((n_convs - df + 0.5) / (df + 0.5) + 1.0)
        tfw: dict[str, float] = {}
        for (c, role, tt), f in tf.items():
            if tt != t:
                continue
            w = weights.get(role, 0.0)
            norm = 1.0 - b + b * flen[(c, role)] / avg[role]
            tfw[c] = tfw.get(c, 0.0) + w * f / norm
        for c, v in tfw.items():
            scores[c] = scores.get(c, 0.0) + idf * v / (k1 + v)
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def test_bm25f_rank_identity(setup, small_transcripts_pdf):
    _, _, sdf = setup
    fidx = build_field_index(sdf)
    for q in QUERIES:
        exp = _brute_bm25f(
            small_transcripts_pdf, q, ROLE_WEIGHTS, BM25F_K1, BM25F_B, K
        )
        got = [
            (r["conv_id"], r["score"]) for r in bm25f_search(fidx, q, K).collect()
        ]
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for (_, es), (_, gs) in zip(exp, got):
            assert gs == pytest.approx(es, rel=1e-9)


def test_bm25f_role_weights_change_ranking(setup):
    """Up-weighting the tool role must be able to reorder results —
    i.e. the field structure is actually used, not flattened away."""
    _, _, sdf = setup
    fidx = build_field_index(sdf)
    q = QUERIES[0]
    base = [r["conv_id"] for r in bm25f_search(fidx, q, 30).collect()]
    skew = [
        r["conv_id"]
        for r in bm25f_search(
            fidx, q, 30, weights={"user": 0.0, "assistant": 0.0, "system": 0.0, "tool": 5.0}
        ).collect()
    ]
    assert base != skew


# ---------------------------------------------------------------- dismax


def _brute_dismax(pdf, query, tie, k1, b, k):
    """Independent python dismax (best-fields, per-field BM25 stats)."""
    tf: dict[tuple[str, str, str], int] = {}
    flen: dict[tuple[str, str], int] = {}
    for row in pdf.itertuples(index=False):
        toks = oracle.tokenize(row.text)
        key = (row.conv_id, row.role)
        flen[key] = flen.get(key, 0) + len(toks)
        for t in toks:
            tf[(row.conv_id, row.role, t)] = tf.get((row.conv_id, row.role, t), 0) + 1
    per_role: dict[str, list[int]] = {}
    for (_, role), ln in flen.items():
        per_role.setdefault(role, []).append(ln)
    avg = {r: sum(v) / len(v) for r, v in per_role.items()}
    n_f = {r: len(v) for r, v in per_role.items()}
    fdf: dict[tuple[str, str], set] = {}
    for (c, role, t) in tf:
        fdf.setdefault((t, role), set()).add(c)
    terms = sorted({t.lower() for t in query})
    scores: dict[str, float] = {}
    for c in {cc for cc, _ in flen}:
        total = 0.0
        for t in terms:
            per_field = []
            for role in avg:
                f = tf.get((c, role, t), 0)
                if f == 0:
                    continue
                df = len(fdf[(t, role)])
                idf = math.log((n_f[role] - df + 0.5) / (df + 0.5) + 1.0)
                norm = 1.0 - b + b * flen[(c, role)] / avg[role]
                per_field.append(idf * f / (f + k1 * norm))
            if per_field:
                mx = max(per_field)
                total += mx + tie * (sum(per_field) - mx)
        if total > 0.0:
            scores[c] = total
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def test_dismax_rank_identity(setup, small_transcripts_pdf):
    from fulltextsearchengine_spark.operators.bm25f import dismax_search

    _, _, sdf = setup
    fidx = build_field_index(sdf)
    for tie in (0.0, 0.3):
        for q in QUERIES:
            exp = _brute_dismax(
                small_transcripts_pdf, q, tie, BM25F_K1, BM25F_B, K
            )
            got = [
                (r["conv_id"], r["score"])
                for r in dismax_search(fidx, q, K, tie_breaker=tie).collect()
            ]
            assert [g[0] for g in got] == [e[0] for e in exp], (tie, q)
            for (_, es), (_, gs) in zip(exp, got):
                assert gs == pytest.approx(es, rel=1e-9)


def test_dismax_differs_from_bm25f_and_validates(setup):
    from fulltextsearchengine_spark.operators.bm25f import dismax_search

    _, _, sdf = setup
    fidx = build_field_index(sdf)
    q = QUERIES[0]
    dm = [r["conv_id"] for r in dismax_search(fidx, q, 30).collect()]
    bf = [r["conv_id"] for r in bm25f_search(fidx, q, 30).collect()]
    assert dm != bf  # max-composition is a genuinely different ranking
    with pytest.raises(ValueError):
        dismax_search(fidx, q, 5, tie_breaker=1.5)


# ---------------------------------------------------------------- RM3


def _brute_rm3(golden, query, fb_docs, fb_terms, alpha, k):
    hits = oracle.bm25_search(golden, [t.lower() for t in query], fb_docs)
    q = [t.lower() for t in query]
    p_q = {t: c / len(q) for t, c in Counter(q).items()}
    total = sum(s for _, s in hits)
    p_d = {d: s / total for d, s in hits}
    p_r: dict[str, float] = {}
    rows = []
    for term, flat in golden["term_to_postings"].items():
        for d, tf in zip(flat[0::2], flat[1::2]):
            if d in p_d:
                rows.append((term, d, tf))
    for term, d, tf in sorted(rows):
        p_r[term] = p_r.get(term, 0.0) + p_d[d] * tf / golden["doc_to_length"][d]
    top = sorted(p_r.items(), key=lambda kv: (-kv[1], kv[0]))[:fb_terms]
    etot = sum(w for _, w in top)
    p_e = {t: w / etot for t, w in top}
    weights = {
        t: alpha * p_q.get(t, 0.0) + (1 - alpha) * p_e.get(t, 0.0)
        for t in set(p_q) | set(p_e)
    }
    # weighted BM25, brute force
    n = golden["num_docs"]
    avgdl = golden["total_tokens"] / n
    acc: dict[int, float] = {}
    for t in sorted(w for w in weights if weights[w] > 0):
        df = golden["term_to_document_frequency"].get(t, 0)
        if df == 0:
            continue
        idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
        for d, tf in oracle._postings_map(golden, t).items():
            dl = golden["doc_to_length"][d]
            denom = tf + 1.2 * (0.25 + 0.75 * dl / avgdl)
            acc[d] = acc.get(d, 0.0) + weights[t] * idf * tf * 2.2 / denom
    return weights, sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_rm3_expansion_and_rank_identity(setup):
    golden, searcher, _ = setup
    for q in QUERIES:
        exp_w, exp_rank = _brute_rm3(golden, q, 10, 8, 0.5, K)
        got_w = rm3_expand(searcher, q, fb_docs=10, fb_terms=8, orig_weight=0.5)
        assert set(got_w) == set(exp_w), q
        for t in exp_w:
            assert got_w[t] == pytest.approx(exp_w[t], rel=1e-9), (q, t)
        got = [
            (r["doc_id"], r["score"])
            for r in rm3_search(searcher, q, K, 10, 8, 0.5).collect()
        ]
        assert [g[0] for g in got] == [e[0] for e in exp_rank], q
        for (_, es), (_, gs) in zip(exp_rank, got):
            assert gs == pytest.approx(es, rel=1e-9)


def test_rm3_adds_expansion_terms(setup):
    _, searcher, _ = setup
    w = rm3_expand(searcher, QUERIES[0])
    assert len(w) > len(set(QUERIES[0]))  # expansion actually happened
    assert all(v > 0 for v in w.values())


def test_weighted_bm25_reduces_to_bm25_on_uniform_weights(setup):
    golden, searcher, _ = setup
    q = QUERIES[1]
    exp = oracle.bm25_search(golden, q, K)
    got = (
        bm25_weighted_scores(searcher, {t: 1.0 for t in q})
        .orderBy("doc_id")
        .collect()
    )
    got_map = {r["doc_id"]: r["score"] for r in got}
    for d, s in exp:
        assert got_map[d] == pytest.approx(s, rel=1e-9)
    # uniform 1.0 weights are bm25_scores bit for bit: one scorer
    plain = searcher.bm25_scores(q).orderBy("doc_id").collect()
    assert [(r["doc_id"], r["score"]) for r in got] == [
        (r["doc_id"], r["score"]) for r in plain
    ]


# ---------------------------------------------------------------- proximity


def _brute_proximity(golden, doc_tokens, query, k):
    base = dict(
        oracle.bm25_search(golden, [t.lower() for t in query], len(doc_tokens))
    )
    terms = sorted({t.lower() for t in query})
    out: dict[int, float] = dict(base)
    for d, toks in doc_tokens.items():
        pos: dict[str, list[int]] = {}
        for i, t in enumerate(toks, 1):
            if t in terms:
                pos.setdefault(t, []).append(i)
        bonus = 0.0
        for i in range(len(terms)):
            for j in range(i + 1, len(terms)):
                a, b = pos.get(terms[i]), pos.get(terms[j])
                if a and b:
                    md = min(abs(x - y) for x in a for y in b)
                    bonus += 1.0 / (md * md)
        if bonus and d in out:
            out[d] += bonus
    return sorted(out.items(), key=lambda x: (-x[1], x[0]))[:k]


def test_proximity_boosted_rank_identity(setup, small_transcripts_pdf):
    golden, searcher, sdf = setup
    pos = build_positional_postings(sdf).cache()
    docs = oracle.assign_doc_ids(small_transcripts_pdf)
    doc_tokens = {
        row.doc_id: oracle.tokenize(row.text) for row in docs.itertuples(index=False)
    }
    for q in QUERIES:
        exp = _brute_proximity(golden, doc_tokens, q, K)
        got = [
            (r["doc_id"], r["score"])
            for r in proximity_boosted_search(searcher, pos, q, K).collect()
        ]
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for (_, es), (_, gs) in zip(exp, got):
            assert gs == pytest.approx(es, rel=1e-9)


def test_proximity_single_term_is_plain_bm25(setup):
    golden, searcher, sdf = setup
    pos = build_positional_postings(sdf)
    q = ["aa"]
    exp = oracle.bm25_search(golden, q, K)
    got = [
        (r["doc_id"], r["score"])
        for r in proximity_boosted_search(searcher, pos, q, K).collect()
    ]
    assert [g[0] for g in got] == [e[0] for e in exp]


# ------------------------------------------------------- conjunctive AND


def _brute_conjunctive(golden, query, k):
    terms = sorted({t.lower() for t in query})
    maps = [oracle._postings_map(golden, t) for t in terms]
    if any(not m for m in maps):
        return []
    docs = set(maps[0])
    for m in maps[1:]:
        docs &= set(m)
    scored = [
        (d, s) for d, s in oracle.bm25_search(golden, terms, golden["num_docs"])
        if d in docs
    ]
    return sorted(scored, key=lambda x: (-x[1], x[0]))[:k]


def test_conjunctive_bm25_rank_identity(setup):
    golden, searcher, _ = setup
    for q in QUERIES:
        exp = _brute_conjunctive(golden, q, K)
        got = [
            (r["doc_id"], r["score"])
            for r in searcher.bm25_search_conjunctive(q, K).collect()
        ]
        assert [g[0] for g in got] == [e[0] for e in exp], q
        for (_, es), (_, gs) in zip(exp, got):
            assert gs == pytest.approx(es, rel=1e-9)
    # every conjunctive hit must contain every term; OOV term -> empty
    assert searcher.bm25_search_conjunctive(["aa", "zzzznotaterm"], K).count() == 0


# ------------------------------------------ minimum-should-match (m of n)


def _brute_msm(golden, query, m, k):
    terms = sorted({t.lower() for t in query})
    maps = [oracle._postings_map(golden, t) for t in terms]
    count = Counter()
    for pm in maps:
        for d in pm:
            count[d] += 1
    docs = {d for d, c in count.items() if c >= m}
    scored = [
        (d, s) for d, s in oracle.bm25_search(golden, terms, golden["num_docs"])
        if d in docs
    ]
    return sorted(scored, key=lambda x: (-x[1], x[0]))[:k]


def test_msm_bm25_rank_identity(setup):
    golden, searcher, _ = setup
    # the 6-term union gives m room to bite between the extremes
    q = QUERIES[0] + QUERIES[1]
    for m in range(1, len(q) + 1):
        exp = _brute_msm(golden, q, m, K)
        got = [
            (r["doc_id"], r["score"])
            for r in searcher.bm25_search_msm(q, K, min_should_match=m).collect()
        ]
        assert [g[0] for g in got] == [e[0] for e in exp], (q, m)
        for (_, es), (_, gs) in zip(exp, got):
            assert gs == pytest.approx(es, rel=1e-9)


def test_msm_extremes_and_validation(setup):
    golden, searcher, _ = setup
    q = QUERIES[2]
    def hits(df):
        return [(r["doc_id"], r["score"]) for r in df.collect()]
    assert hits(searcher.bm25_search_msm(q, K, 1)) == hits(searcher.bm25_search(q, K))
    assert hits(searcher.bm25_search_msm(q, K, len(q))) == hits(
        searcher.bm25_search_conjunctive(q, K)
    )
    # an empty AND query matches nothing (it does not raise)
    assert searcher.bm25_search_conjunctive([], K).count() == 0
    # OOV terms satisfy nothing: if fewer than m terms are in-vocab -> empty
    assert searcher.bm25_search_msm(["aa", "zzzznotaterm"], K, 2).count() == 0
    with pytest.raises(ValueError):
        searcher.bm25_search_msm(q, K, 0)
    with pytest.raises(ValueError):
        searcher.bm25_search_msm(q, K, len(set(q)) + 1)


# ---------------------------------------------------------------- RRF


def test_rrf_fusion_matches_brute_force(setup):
    from fulltextsearchengine_spark.operators.hybrid import hybrid_search

    golden, searcher, _ = setup
    qa, qb = QUERIES[0], QUERIES[1]
    pool = 30
    a = searcher.bm25_search(qa, pool).withColumnRenamed("doc_id", "id")
    b = (
        searcher.bm25_search(qb, pool)
        .withColumnRenamed("doc_id", "id")
        .withColumnRenamed("score", "cosine")
    )
    got = [
        (r["id"], r["rrf_score"]) for r in hybrid_search(a, b, k=K).collect()
    ]

    ra = {d: i + 1 for i, (d, _) in enumerate(oracle.bm25_search(golden, qa, pool))}
    rb = {d: i + 1 for i, (d, _) in enumerate(oracle.bm25_search(golden, qb, pool))}
    exp_scores = {
        d: (1.0 / (60 + ra[d]) if d in ra else 0.0)
        + (1.0 / (60 + rb[d]) if d in rb else 0.0)
        for d in set(ra) | set(rb)
    }
    exp = sorted(exp_scores.items(), key=lambda x: (-x[1], x[0]))[:K]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for (_, es), (_, gs) in zip(exp, got):
        assert gs == pytest.approx(es, rel=1e-12)


def test_pmi_expansion_matches_manual(setup):
    from fulltextsearchengine_spark.operators.synonyms import (
        pmi_expanded_search,
        pmi_neighbors,
        synonym_bm25_search,
    )

    golden, searcher, _ = setup
    idx = searcher.index
    n_docs = int(searcher.stats["num_docs"])
    # brute-force neighbor discovery from collected postings
    post = {}
    for r in idx.postings.select("term", "doc_id").collect():
        post.setdefault(r["term"], set()).add(r["doc_id"])
    df_of = {t: len(ds) for t, ds in post.items()}
    # two mid-frequency terms actually in this corpus
    q = sorted(df_of, key=lambda t: (-df_of[t], t))[3:5]
    import math

    expected = {}
    for qt in q:
        best = None
        for ot, ds in post.items():
            if ot == qt or not (2 <= df_of[ot] <= 10_000):
                continue
            c = len(post[qt] & ds)
            if c < 2:
                continue
            pmi = round(math.log(n_docs * c / (df_of[qt] * df_of[ot])) * 1e6)
            key = (-pmi, ot)
            if best is None or key < best[0]:
                best = (key, ot)
        if best:
            expected[qt] = best[1]
    got = pmi_neighbors(searcher, q, 2, 10_000)
    assert got == expected and got  # neighbors found on this corpus
    # expanded search == synonym search with the discovered map
    a = pmi_expanded_search(searcher, q, 10).collect()
    b = synonym_bm25_search(searcher, q, {t: [n] for t, n in got.items()}, 10).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]
