"""Nested boolean retrieval: ``(spark OR flink) AND join AND NOT slow``.

The reference exposes flat term-list APIs (ReviewSearch.java's
Enumeration-of-tokens methods) and this repo's search-box grammar
(queryparse.py) is deliberately flat — one level of exclusions and
field filters. This module adds the remaining classic-Lucene surface:
arbitrarily nested AND/OR/NOT trees, parsed by a tiny recursive-descent
parser (public-knowledge grammar: OR binds loosest, then AND, then
unary NOT/'-'; parentheses group; bare adjacency means AND).

Semantics — the engine's established "filter, don't re-weight"
contract (same as bm25_search_filtered / _conjunctive / _msm): the
tree selects the candidate set; the score is plain BM25 over ALL the
tree's distinct positive (non-negated) terms on the surviving docs.
This is deliberately simpler than Lucene's per-matching-subclause sum
and keeps every boolean query oracle-checkable by one SQL predicate.

Groundedness: every OR branch must be able to prove a match through a
POSITIVE term (``Term`` → grounded; ``Not`` → not grounded; ``And`` →
any kid grounded; ``Or`` → all kids grounded). Ungrounded trees (pure
negation, or an OR with a negation-only branch like ``a OR NOT b``)
are rejected — the same restriction Lucene places on MUST_NOT-only
clauses — because a doc could then match while containing none of the
query's terms, which a postings-driven engine cannot enumerate without
a full corpus scan (at 100 TB, by design, never).

Plan shape: ONE pruned ``In(term,…)`` postings scan over the tree's
in-vocab terms (positive AND negated — negated terms ride the pivot as
null-checkable slots), one partial-agg pivot exchange, then the whole
tree compiles to a single Catalyst boolean Column over ``tf_i IS NOT
NULL`` slots — no joins, no second exchange, identical shape to the
msm/conjunctive scorers (scripts/explain_plans.py asserts it). OOV
terms constant-fold driver-side (positive leaf → False, ``NOT oov`` →
True) before the plan is built, so they cost nothing.

Groundedness + pivot completeness: by induction, every doc matching a
grounded tree matches at least one positive term of the tree, hence
appears in the OR-union pivot — the filter never needs docs outside
the scan.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.tokenize import fold_query_text
from . import bm25
from .search import Searcher


# ---- AST -----------------------------------------------------------------


@dataclass(frozen=True)
class Term:
    t: str


@dataclass(frozen=True)
class Not:
    kid: "Node"


@dataclass(frozen=True)
class And:
    kids: tuple


@dataclass(frozen=True)
class Or:
    kids: tuple


@dataclass(frozen=True)
class Phrase:
    toks: tuple  # exact-adjacency tokens, verified on the positional side-table


Node = Term | Not | And | Or | Phrase

# sentinels produced by OOV constant folding
_TRUE = ("TRUE",)
_FALSE = ("FALSE",)


# engine tokenizer semantics: split on separator runs, then lower
_fold_terms = fold_query_text


# ---- parser ---------------------------------------------------------------

_TOK_RE = re.compile(r'-?"[^"]*"|\(|\)|[^\s()"]+')


def parse_bool(q: str) -> Node:
    """Recursive-descent parse of the classic boolean grammar.

    ``or_expr := and_expr (OR and_expr)*``
    ``and_expr := unary ((AND)? unary)*``  (adjacency = AND)
    ``unary := (NOT | '-') unary | '(' or_expr ')' | word``

    Operator words are case-sensitive uppercase (Lucene classic), so
    lowercase ``or`` stays a searchable term. A word that folds to
    multiple engine tokens (``spark-sql``) becomes an implicit AND of
    its tokens. Quoted ``"exact phrase"`` leaves (negatable with a
    ``-`` prefix or NOT) verify adjacency on the positional side-table
    and compose anywhere in the tree."""
    if q.count('"') % 2:
        raise ValueError(f"unterminated quote in {q!r}")
    toks = _TOK_RE.findall(q)
    pos = 0

    def peek() -> str | None:
        return toks[pos] if pos < len(toks) else None

    def take() -> str:
        nonlocal pos
        t = toks[pos]
        pos += 1
        return t

    def or_expr() -> Node:
        kids = [and_expr()]
        while peek() == "OR":
            take()
            kids.append(and_expr())
        return kids[0] if len(kids) == 1 else Or(tuple(kids))

    def and_expr() -> Node:
        kids = [unary()]
        while True:
            nxt = peek()
            if nxt == "AND":
                take()
                kids.append(unary())
            elif nxt is not None and nxt not in ("OR", ")"):
                kids.append(unary())  # adjacency
            else:
                break
        return kids[0] if len(kids) == 1 else And(tuple(kids))

    def unary() -> Node:
        nxt = peek()
        if nxt is None:
            raise ValueError(f"unexpected end of query: {q!r}")
        if nxt == "NOT" or nxt.startswith("-") and nxt != "-":
            if nxt == "NOT":
                take()
                return Not(unary())
            word = take()[1:]
            if word.startswith('"'):
                return Not(_phrase(word))
            return Not(_word(word))
        if nxt.startswith('"'):
            return _phrase(take())
        if nxt == "(":
            take()
            inner = or_expr()
            if peek() != ")":
                raise ValueError(f"unbalanced parenthesis in {q!r}")
            take()
            return inner
        if nxt == ")":
            raise ValueError(f"unbalanced parenthesis in {q!r}")
        return _word(take())

    def _phrase(w: str) -> Node:
        folded = _fold_terms(w.strip('"'))
        if not folded:
            raise ValueError(f"phrase {w!r} folds to no tokens")
        if len(folded) == 1:
            return Term(folded[0])
        return Phrase(tuple(folded))

    def _word(w: str) -> Node:
        if w in ("AND", "OR", "NOT"):
            raise ValueError(f"operator {w} in term position in {q!r}")
        if w.startswith("~"):
            raise ValueError(
                f"proximity syntax {w!r} is not part of the boolean grammar "
                "(use queryparse's \"...\"~N for unordered windows)"
            )
        folded = _fold_terms(w)
        if not folded:
            raise ValueError(f"word {w!r} folds to no tokens")
        if len(folded) == 1:
            return Term(folded[0])
        return And(tuple(Term(t) for t in folded))

    tree = or_expr()
    if pos != len(toks):
        raise ValueError(f"trailing tokens from {toks[pos]!r} in {q!r}")
    return tree


# ---- validation + folding --------------------------------------------------


def _grounded(n: Node) -> bool:
    if isinstance(n, (Term, Phrase)):
        return True
    if isinstance(n, Not):
        return False
    if isinstance(n, And):
        return any(_grounded(k) for k in n.kids)
    return all(_grounded(k) for k in n.kids)  # Or


def _terms_of(n: Node, negated: bool, pos: set, all_: set) -> None:
    if isinstance(n, Term):
        all_.add(n.t)
        if not negated:
            pos.add(n.t)
    elif isinstance(n, Phrase):
        all_.update(n.toks)
        if not negated:
            pos.update(n.toks)  # phrase terms score too (queryparse convention)
    elif isinstance(n, Not):
        _terms_of(n.kid, not negated, pos, all_)
    else:
        for k in n.kids:
            _terms_of(k, negated, pos, all_)


def _fold_oov(n: Node, vocab: set):
    """Constant-fold OOV leaves (→ _FALSE) and simplify. Returns a Node
    or one of the _TRUE/_FALSE sentinels."""
    if isinstance(n, Term):
        return n if n.t in vocab else _FALSE
    if isinstance(n, Phrase):
        return n if all(t in vocab for t in n.toks) else _FALSE
    if isinstance(n, Not):
        k = _fold_oov(n.kid, vocab)
        if k is _TRUE:
            return _FALSE
        if k is _FALSE:
            return _TRUE
        return Not(k)
    kids = [_fold_oov(k, vocab) for k in n.kids]
    if isinstance(n, And):
        if any(k is _FALSE for k in kids):
            return _FALSE
        kids = [k for k in kids if k is not _TRUE]
        if not kids:
            return _TRUE
        return kids[0] if len(kids) == 1 else And(tuple(kids))
    if any(k is _TRUE for k in kids):
        return _TRUE
    kids = [k for k in kids if k is not _FALSE]
    if not kids:
        return _FALSE
    return kids[0] if len(kids) == 1 else Or(tuple(kids))


def _to_column(n: Node, slot: dict) -> Column:
    if isinstance(n, Term):
        return F.col(slot[n.t]).isNotNull()
    if isinstance(n, Phrase):
        return F.col(slot[n]).isNotNull()
    if isinstance(n, Not):
        return ~_to_column(n.kid, slot)
    cols = [_to_column(k, slot) for k in n.kids]
    out = cols[0]
    for c in cols[1:]:
        out = (out & c) if isinstance(n, And) else (out | c)
    return out


# ---- search ----------------------------------------------------------------


def bool_search(
    searcher: Searcher,
    q: str | Node,
    k: int,
    pos_postings: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, score) BM25 top-k of the docs matching the boolean tree.

    ``q``: a query string for :func:`parse_bool` or a pre-built AST.
    Raises on ungrounded trees (see module docstring). Phrase leaves
    need the opt-in positional side-table (``pos_postings``,
    positions.build_positional_postings) — each phrase becomes ONE
    left-joined match-flag column on the pivot, so phrases compose at
    any nesting depth; without the table a phrase query raises rather
    than silently degrading (queryparse convention)."""
    tree = parse_bool(q) if isinstance(q, str) else q
    if not _grounded(tree):
        raise ValueError(
            "boolean query is not positively grounded: every OR branch "
            "needs at least one non-negated term (pure negation cannot "
            "be answered from postings)"
        )
    pos: set = set()
    all_: set = set()
    _terms_of(tree, False, pos, all_)
    idf = searcher.bm25_idf(searcher.term_stats(sorted(all_)))
    vocab = set(idf)
    folded = _fold_oov(tree, vocab)
    if folded is _FALSE or not (pos & vocab):
        return searcher._empty_scores()
    score_terms = sorted(pos & vocab)
    # pivot over the scoring terms plus every term the folded filter
    # still references (in-vocab negated terms ride as null-check slots)
    need = set(score_terms)
    if folded is not _TRUE:
        need |= _collect_terms(folded)
    terms = sorted(need)
    piv = searcher._pivoted_tf(terms)
    slot: dict = {t: f"tf_{i}" for i, t in enumerate(terms)}
    phrases = sorted(_collect_phrases(folded), key=lambda p: p.toks)
    if phrases:
        if pos_postings is None:
            raise ValueError("phrase leaves need the positional side-table")
        from .positions import phrase_match_docs  # local import: opt-in module

        for i, ph in enumerate(phrases):
            hits = (
                phrase_match_docs(pos_postings, list(ph.toks))
                .select("doc_id")
                .withColumn(f"ph_{i}", F.lit(True))
            )
            piv = piv.join(hits, "doc_id", "left")
            slot[ph] = f"ph_{i}"
    if folded is not _TRUE:
        # a folded-_TRUE filter can only arise from negated OOV leaves;
        # the grounded tree still carries >=1 positive in-vocab term
        piv = piv.filter(_to_column(folded, slot))
    # filter, don't re-weight: plain BM25 over the positive terms
    idf = {t: idf[t] for t in score_terms}
    scores = piv.select("doc_id", bm25.pivot_score(idf, searcher.avgdl, slot))
    return Searcher.topk(scores, k)


def _collect_terms(n: Node) -> set:
    out: set = set()
    _terms_of(n, False, out, out)
    return out


def _collect_phrases(n) -> set:
    if n is _TRUE or n is _FALSE:
        return set()
    if isinstance(n, Phrase):
        return {n}
    if isinstance(n, Not):
        return _collect_phrases(n.kid)
    if isinstance(n, (And, Or)):
        out: set = set()
        for k in n.kids:
            out |= _collect_phrases(k)
        return out
    return set()


# ---- corpus slicing (no index) ----------------------------------------------


def bool_filter_corpus(
    df: DataFrame, q: str | Node, text_col: str = "text"
) -> DataFrame:
    """Filter a RAW corpus by a boolean text predicate — the curation
    slice ("keep docs mentioning X but not Y") for pipelines that have
    no index yet. One full scan, ZERO shuffles: the tree compiles to a
    single Catalyst Column of ``array_contains`` tests over the
    engine-tokenized text (split-first/lower-second, identical to the
    index tokenizer, so slice membership always agrees with
    :func:`bool_search` over an index of the same corpus).

    Unlike :func:`bool_search`, pure negation IS allowed: a corpus
    filter scans every row anyway, so ``NOT boilerplate`` needs no
    groundedness escape hatch — and phrase leaves need no positional
    side-table: tokens are alnum-only, so exact adjacency is a
    substring test on the space-joined token stream (row-local, still
    zero shuffles). Returns ``df``'s rows unchanged (all columns),
    matching the filter-operator convention of pipeline.clean_corpus."""
    from ..functions.tokenize import tokens_col

    tree = parse_bool(q) if isinstance(q, str) else q
    toks = tokens_col(F.col(text_col))
    # ' t1 t2 ... ' — tokens contain no spaces, so ' w1 w2 ' occurs as a
    # substring iff (w1, w2) are adjacent tokens
    stream = F.concat(F.lit(" "), F.array_join(toks, " "), F.lit(" "))

    def comp(n: Node) -> Column:
        if isinstance(n, Term):
            return F.array_contains(toks, n.t)
        if isinstance(n, Phrase):
            return stream.contains(" " + " ".join(n.toks) + " ")
        if isinstance(n, Not):
            return ~comp(n.kid)
        cols = [comp(k) for k in n.kids]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if isinstance(n, And) else (out | c)
        return out

    return df.filter(comp(tree))
