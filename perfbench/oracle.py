"""Answer oracle: reference-semantics search and exhaustive BM25 top-k.

Both run over ``search_engine_spark.oracle.reference.OracleIndex``, the
pure-Python reimplementation of the reference engine, so no answer is
checked against the code that produced it.
"""

from __future__ import annotations

import math

from search_engine_spark.oracle.reference import OracleIndex, ngram_split

BM25_K1 = 1.2
BM25_B = 0.75
SCORE_TOL = 1e-6  # scores are compared at 6 decimal places


class Oracle:
    """Documents published so far, searchable two ways."""

    def __init__(self) -> None:
        self.index = OracleIndex()
        self.dl: dict[int, int] = {}
        self._memo: dict[tuple, object] = {}  # answers per (kind, docs added, query)

    def add(self, doc_id: int, url: str, title: str, body: str) -> None:
        self.index.add_document(doc_id, url, title, body)
        # dl = bigram count of title + body, the engine's BM25 length
        self.dl[doc_id] = len(ngram_split(title)) + len(ngram_split(body))

    def search(self, query: str) -> list[tuple[int, float]]:
        key = ("search", self.index.n_docs, query)
        if key not in self._memo:
            self._memo[key] = self.index.search(query)
        return self._memo[key]

    def bm25_scores(self, query: str) -> dict[int, float]:
        """Disjunctive BM25 over the query's distinct bigrams, every
        matching document scored (no pruning)."""
        key = ("bm25", self.index.n_docs, query)
        if key not in self._memo:
            self._memo[key] = self._bm25_scores(query)
        return self._memo[key]

    def _bm25_scores(self, query: str) -> dict[int, float]:
        n = self.index.n_docs
        if n == 0:
            return {}
        avgdl = sum(self.dl.values()) / n
        acc: dict[int, float] = {}
        for term in sorted({t for t, _ in ngram_split(query)}):
            plist = self.index.postings.get(term)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for doc_id, p in plist.items():
                tf = float(len(p.positions))
                norm = BM25_K1 * (1.0 - BM25_B + BM25_B * (self.dl[doc_id] / avgdl))
                acc[doc_id] = acc.get(doc_id, 0.0) + idf * (tf * (BM25_K1 + 1.0) / (tf + norm))
        return acc

    def bm25_topk(self, query: str, k: int = 10) -> list[tuple[int, float]]:
        return rank_topk(self.bm25_scores(query), k)


def rank_topk(scores: dict[int, float], k: int) -> list[tuple[int, float]]:
    """Top k by score rounded to 6 dp, ties broken by doc_id ascending."""
    ranked = sorted(scores.items(), key=lambda x: (-round(x[1], 6), x[0]))
    return ranked[:k]


def same_answer(
    got: list[tuple[int, float]],
    want: list[tuple[int, float]],
    want_scores: dict[int, float] | None = None,
) -> bool:
    """True when ``got`` is a correct ranking.

    Position i must hold a document whose oracle score equals the oracle's
    i-th score within SCORE_TOL, and ``got``'s own score must too. Docs
    whose scores tie within the tolerance may therefore swap places, which
    float summation order can cause, but no other difference passes.
    ``want_scores`` maps every document the oracle scored; it defaults to
    ``want`` itself, which requires the same document set."""
    scores = dict(want) if want_scores is None else want_scores
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (_, ws) in zip(got, want):
        if gd not in scores:
            return False
        if abs(scores[gd] - ws) > SCORE_TOL or abs(gs - ws) > SCORE_TOL:
            return False
    return True
