"""Tests of the benchmark's answer checker and its DuckDB reference.

    python3 -m pytest e2ebench/test_checker.py -q
"""

from __future__ import annotations

import math
import re
import sys
from collections import Counter
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

from corpus import PROBE_TERM, CorpusShape, make_corpus, write_corpus  # noqa: E402
from reference import B, K1, NEAR, SETTLED, TIE, Reference, boundary, matches  # noqa: E402

# a top-10 whose 2nd..4th entries tie exactly, as the reference orders it
WANT = [(7, 9.5), (2, 8.25), (5, 8.25), (11, 8.25), (3, 7.0), (4, 6.5), (1, 6.0), (8, 5.5), (9, 5.0), (6, 4.0)]


def test_identical_answer_matches():
    assert matches(list(WANT), WANT)


def test_swapped_tied_doc_ids_are_flagged():
    got = list(WANT)
    got[1], got[2] = got[2], got[1]
    assert not matches(got, WANT)


def test_score_moved_by_1e6_relative_is_flagged():
    got = list(WANT)
    d, s = got[4]
    got[4] = (d, s * (1 + 1e-6))
    assert not matches(got, WANT)


def test_score_within_tolerance_matches():
    got = [(d, s * (1 + 1e-12)) for d, s in WANT]
    assert matches(got, WANT)


def test_missing_or_extra_rows_are_flagged():
    assert not matches(WANT[:9], WANT)
    assert not matches(WANT + [(12, 3.0)], WANT)


def test_boundary():
    assert boundary(WANT + [(10, 3.0)]) == SETTLED  # exact ties inside the top-10 are ordered by doc_id
    assert boundary(WANT + [(10, 4.0)]) == TIE  # bit-equal scores across the 10th/11th boundary
    assert boundary(WANT + [(10, 4.0 * (1 - 1e-13))]) == NEAR  # near tie at the boundary
    near = list(WANT)
    near[5] = (4, 7.0 * (1 - 1e-13))
    assert boundary(near + [(10, 3.0)]) == NEAR  # near tie inside that float noise could reorder
    assert boundary(WANT[:6]) == SETTLED  # fewer than 10 matches


def _brute_bm25(pdf: pd.DataFrame, query: list[str], k: int) -> list[tuple[int, float]]:
    rows = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    docs = [[t.lower() for t in re.findall(r"[A-Za-z0-9]+", text)] for text in rows["text"]]
    n = len(docs)
    avgdl = sum(map(len, docs)) / n
    df = Counter(t for d in docs for t in set(d))
    scores = []
    for i, d in enumerate(docs, start=1):
        tf = Counter(d)
        s, hit = 0.0, False
        for t in sorted(set(query)):
            if tf[t]:
                hit = True
                idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1.0)
                s += idf * tf[t] * (K1 + 1) / (tf[t] + K1 * (1 - B + B * len(d) / avgdl))
        if hit:
            scores.append((i, s))
    scores.sort(key=lambda x: (-x[1], x[0]))
    return scores[:k]


@pytest.fixture(scope="module")
def small_corpus(tmp_path_factory):
    pdf = make_corpus(CorpusShape(turns=400, vocab=60), seed=3)
    path = tmp_path_factory.mktemp("corpus") / "c"
    write_corpus(pdf, path, files=2)
    ref = Reference(str(path), threads=1)
    yield pdf, ref
    ref.close()


def test_reference_matches_brute_force(small_corpus):
    pdf, ref = small_corpus
    ranked = [t for t, _ in ref.df_ranked()]
    for q in ([ranked[0]], [ranked[3], ranked[10]], [ranked[1], ranked[20], ranked[-1]], [PROBE_TERM]):
        want = _brute_bm25(pdf, q, 10)
        assert matches(ref.topk(q, 10), want), q


def test_probe_top10_is_decided_by_the_doc_id_tie_break(small_corpus):
    _, ref = small_corpus
    top = ref.topk([PROBE_TERM], 11)
    n = ref.stats["num_docs"]
    assert [d for d, _ in top[:10]] == [n] + list(range(1, 10))
    assert len({s for _, s in top[1:]}) == 1  # the 2nd..11th all tie
