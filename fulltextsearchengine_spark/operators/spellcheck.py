"""Query spell correction ("did you mean") — resolve out-of-vocabulary
query terms to their nearest dictionary term before scoring, the Lucene
DirectSpellChecker / Elasticsearch term-suggester convention.

The reference engine returns nothing for a misspelled term
(IndexReader.java:89-103 — a miss is a miss); over noisy transcript
text that silently empties queries. Correction is dictionary-level:
it reads the ``terms`` table (and the fuzzy sidecar), never postings.

Policy (deterministic):
  - in-vocabulary terms are NEVER rewritten (presence beats proximity);
  - an OOV term is replaced by the edit-distance-1 dictionary term with
    the highest cf (tie: term asc) — candidates from the FastSS
    deletion-neighborhood sidecar (exact for distance 1,
    operators/lexicon.py), verified driver-side;
  - an OOV term with no distance-1 neighbor stays as-is (it scores
    nothing, but the caller sees it unchanged in the corrections map).

Scale shape: ONE pruned In-scan of terms (presence) + ONE pruned
In-scan of the fuzzy sidecar for ALL OOV terms' variants together
(≤ Σ(len+1) keys), both metadata-sized collects — no per-term jobs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .lexicon import build_fuzzy_index, deletion_variants
from .search import Searcher, normalize_query


def _lev1(a: str, b: str) -> bool:
    """Edit distance ≤ 1 (driver-side verification of neighborhood
    candidates)."""
    if a == b:
        return True
    la, lb = len(a), len(b)
    if abs(la - lb) > 1:
        return False
    if la == lb:  # exactly one substitution
        return sum(x != y for x, y in zip(a, b)) == 1
    if la > lb:
        a, b, la, lb = b, a, lb, la
    i = 0  # a is shorter: one deletion from b
    while i < la and a[i] == b[i]:
        i += 1
    return a[i:] == b[i + 1 :]


def spell_correct_query(
    terms: DataFrame,
    query: list[str],
    fuzzy_index: DataFrame | None = None,
) -> tuple[list[str], dict[str, str]]:
    """(corrected query, {original -> correction} for rewritten terms).
    Folds like every query path; order and multiplicity preserved."""
    folded = normalize_query(query)
    uniq = sorted(set(folded))
    if not uniq:
        return folded, {}
    present = {
        r["term"]
        for r in terms.filter(F.col("term").isin(uniq)).select("term").collect()
    }
    oov = [t for t in uniq if t not in present]
    if not oov:
        return folded, {}
    var_of = {t: set(deletion_variants(t)) for t in oov}
    all_vars = sorted(set().union(*var_of.values()))
    side = fuzzy_index if fuzzy_index is not None else build_fuzzy_index(terms)
    cand = (
        side.filter(F.col("variant").isin(all_vars))
        .select("variant", "term", "cf")
        .distinct()
        .collect()
    )
    by_var: dict[str, list] = {}
    for r in cand:
        by_var.setdefault(r["variant"], []).append((r["term"], r["cf"]))
    corrections: dict[str, str] = {}
    for t in oov:
        seen: dict[str, int] = {}
        for v in sorted(var_of[t]):
            for term, cf in by_var.get(v, ()):
                if term not in seen and _lev1(term, t):
                    seen[term] = cf
        if seen:
            corrections[t] = min(seen.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    return [corrections.get(t, t) for t in folded], corrections


def spell_corrected_bm25_search(
    searcher: Searcher,
    query: list[str],
    k: int,
    fuzzy_index: DataFrame | None = None,
) -> DataFrame:
    """BM25 top-k over the spell-corrected query."""
    corrected, _ = spell_correct_query(searcher.index.terms, query, fuzzy_index)
    return searcher.topk(searcher.bm25_scores(corrected), k)
