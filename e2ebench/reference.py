"""Independent BM25 reference and the answer checker.

DuckDB reads the workload's input parquet, never the engine's index. It
numbers turns by ``row_number() OVER (ORDER BY conv_id, turn_idx)`` and
tokenizes with ``regexp_extract_all(text, '[A-Za-z0-9]+')``, lower-cased.
Scores use k1 1.2, b 0.75 and idf ``ln((N - df + 0.5) / (df + 0.5) + 1)``;
a document's per-term contributions are added in sorted-term order, so
documents with the same (tf, doc_len) pattern score bit-identically, as
they do in the engine. Answers are ordered by score descending, then
doc_id ascending.
"""

from __future__ import annotations

import duckdb

K1 = 1.2
B = 0.75
K = 10
REL_TOL = 1e-9


class Reference:
    """Stats, term dfs and exact BM25 top-k over one corpus directory."""

    def __init__(self, corpus_dir: str, threads: int):
        con = duckdb.connect()
        con.execute(f"SET threads = {int(threads)}")
        con.execute(
            f"""
            CREATE TABLE d AS
            SELECT row_number() OVER (ORDER BY conv_id, turn_idx) AS doc_id,
                   list_transform(
                       regexp_extract_all(coalesce(text, ''), '[A-Za-z0-9]+'),
                       x -> lower(x)) AS toks
            FROM read_parquet('{corpus_dir}/*.parquet')
            """
        )
        con.execute("CREATE TABLE dl AS SELECT doc_id, len(toks) AS dl FROM d")
        con.execute(
            """
            CREATE TABLE p AS
            SELECT term, doc_id, count(*) AS tf
            FROM (SELECT doc_id, unnest(toks) AS term FROM d)
            GROUP BY term, doc_id
            """
        )
        con.execute("CREATE TABLE t AS SELECT term, count(*) AS df FROM p GROUP BY term")
        # one row per (term, doc) with everything a BM25 term score needs
        con.execute(
            """
            CREATE TABLE pd AS
            SELECT term, doc_id, tf, dl, df
            FROM p JOIN dl USING (doc_id) JOIN t USING (term)
            ORDER BY term, doc_id
            """
        )
        n, total = con.execute("SELECT count(*), sum(dl) FROM dl").fetchone()
        terms, pairs = con.execute("SELECT count(*), sum(df) FROM t").fetchone()
        self.stats = {
            "num_docs": int(n),
            "total_tokens": int(total),
            "unique_terms": int(terms),
            "num_pairs": int(pairs),
        }
        self.avgdl = self.stats["total_tokens"] / self.stats["num_docs"]
        self.con = con

    def df_ranked(self) -> list[tuple[str, int]]:
        """(term, df), by df descending then term."""
        return [
            (t, int(df))
            for t, df in self.con.execute("SELECT term, df FROM t ORDER BY df DESC, term")
            .fetchall()
        ]

    def topk(self, query: list[str], k: int = K + 1) -> list[tuple[int, float]]:
        terms = sorted({t.lower() for t in query})
        listed = ", ".join(f"'{t}'" for t in terms)
        total = " + ".join(
            f"coalesce(max(c) FILTER (WHERE term = '{t}'), 0.0)" for t in terms
        )
        n = self.stats["num_docs"]
        rows = self.con.execute(
            f"""
            WITH c AS (
                SELECT doc_id, term,
                       ln(({n} - df + 0.5) / (df + 0.5) + 1.0) * tf * ({K1} + 1.0)
                       / (tf + {K1} * (1.0 - {B} + {B} * dl / {self.avgdl!r})) AS c
                FROM pd WHERE term IN ({listed})
            )
            SELECT doc_id, {total} AS score FROM c
            GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {int(k)}
            """
        ).fetchall()
        return [(int(d), float(s)) for d, s in rows]

    def close(self) -> None:
        self.con.close()


SETTLED, TIE, NEAR = "settled", "tie", "near"


def boundary(top: list[tuple[int, float]], k: int = K) -> str:
    """How the reference top-``k`` is decided; ``top`` holds the first
    k+1 reference rows.

    ``NEAR`` when two neighbouring scores differ by no more than
    ``REL_TOL`` relative without being bit-equal: float rounding could
    reorder them, so there is no exact answer to check. Otherwise ``TIE``
    when the k-th and (k+1)-th scores are bit-equal, so only the doc_id
    tie-break decides which documents make the top-k, and ``SETTLED``
    when scores alone decide it (bit-equal scores inside the top-k are
    ordered by doc_id in both cases)."""
    s = [score for _, score in top[: k + 1]]
    if any(a != b and a - b <= REL_TOL * abs(a) for a, b in zip(s, s[1:])):
        return NEAR
    if len(s) > k and s[k - 1] == s[k]:
        return TIE
    return SETTLED


def matches(got, want) -> bool:
    """``got`` equals ``want``: the same doc ids in the same order, and
    every score within ``REL_TOL`` relative of the reference score."""
    got = [(int(d), float(s)) for d, s in got]
    if len(got) != len(want):
        return False
    return all(
        gd == wd and abs(gs - ws) <= REL_TOL * abs(ws)
        for (gd, gs), (wd, ws) in zip(got, want)
    )
