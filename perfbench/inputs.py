"""Seeded benchmark inputs: corpus slices, stream files and query streams.

Everything here is a pure function of the seed. The engine only ever sees
what these functions produce: a corpus Parquet table, document files that
arrive one per streaming round, and query strings.
"""

from __future__ import annotations

import bisect
import hashlib
import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

# generate_corpus only yields rows 0..n-1 through Spark; _row is the pure
# function behind it, so a seeded sample of row ids can be generated here
from search_engine_spark.corpus import _row
from search_engine_spark.oracle.reference import is_indexed_char, ngram_split, parse_document

# Rows are sampled from this prefix of generate_corpus's row space, so a
# seed picks a different slice of the same synthetic distribution.
ROW_SPACE = 10_000_000
N_SITES = 7  # corpus repos are org0..org6, so `site:orgN` always matches
ABSENT_WORD = "qqqq"  # no corpus row contains the bigram "qq"
EARLY_EXITS = ["", "z", ABSENT_WORD]  # FIXTURES §4 q12, q09, q10
ZIPF_S = 1.1

CORPUS_COLUMNS = ["repo", "path", "commit", "lang", "content"]


@dataclass(frozen=True)
class Doc:
    doc_id: int
    url: str
    title: str
    body: str
    content: str


def corpus_ids(seed: int, n: int) -> list[int]:
    """A seeded sample of corpus row ids."""
    return random.Random(seed).sample(range(ROW_SPACE), n)


def rows_of(ids: list[int]) -> list[tuple]:
    """Corpus rows (repo, path, commit, lang, content) for row ids."""
    return [_row(i) for i in ids]


def write_corpus(rows: list[tuple], path: str) -> None:
    """Write corpus rows as the input Parquet table."""
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table({c: list(v) for c, v in zip(CORPUS_COLUMNS, cols)})
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))


def documents_of(rows: list[tuple]) -> list[Doc]:
    """Reference semantics of the corpus -> documents step: HTML rows are
    parsed (rows without <title> dropped), other rows keep their content
    as body, and doc_id is the 1-based rank by (repo, path, commit)."""
    keyed = []
    for repo, path, commit, lang, content in rows:
        if lang == "html":
            parsed = parse_document(content)
            if parsed is None:
                continue
            title, body = parsed
        else:
            title, body = "", content
        keyed.append(((repo, path, commit), title, body, content))
    keyed.sort(key=lambda r: r[0])
    return [
        Doc(i + 1, f"{k[0]}/{k[1]}@{k[2]}", title, body, content)
        for i, (k, title, body, content) in enumerate(keyed)
    ]


def stream_files(docs: list[Doc], seed: int, per_file: int) -> list[list[Doc]]:
    """Split the streaming documents into arrival files in seeded order."""
    order = list(docs)
    random.Random(seed + 1).shuffle(order)
    return [order[i : i + per_file] for i in range(0, len(order), per_file)]


def write_stream_file(docs: list[Doc], staging: str, source_dir: str, name: str) -> None:
    """Publish one arrival file atomically: write it beside the source
    directory, then rename it in, so the file source never lists a
    partial file."""
    table = pa.table(
        {
            "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
            "url": [d.url for d in docs],
            "title": [d.title for d in docs],
            "body": [d.body for d in docs],
            "content_sha256": [hashlib.sha256(d.content.encode()).hexdigest() for d in docs],
        }
    )
    os.makedirs(staging, exist_ok=True)
    os.makedirs(source_dir, exist_ok=True)
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(source_dir, name))


def words_of(text: str) -> list[str]:
    """Maximal runs of indexed characters with at least one bigram."""
    out, cur = [], []
    for ch in text:
        if is_indexed_char(ch):
            cur.append(ch)
        else:
            if len(cur) >= 2:
                out.append("".join(cur))
            cur = []
    if len(cur) >= 2:
        out.append("".join(cur))
    return out


def vocabulary(docs: list[Doc]) -> list[str]:
    """Corpus words ranked by document frequency (ties by word)."""
    dfs: dict[str, int] = {}
    for d in docs:
        for w in set(words_of(d.title) + words_of(d.body)):
            dfs[w] = dfs.get(w, 0) + 1
    return sorted(dfs, key=lambda w: (-dfs[w], w))


def query_terms(query: str) -> set[str]:
    """Distinct bigram terms of a keyword bag."""
    return {t for t, _ in ngram_split(query)}


def shared_term_share(queries: list[str]) -> float:
    """Share of term uses in a batch that another query of the batch also
    uses: 1 - distinct terms / term uses."""
    uses = [query_terms(q) for q in queries]
    n_uses = sum(len(u) for u in uses)
    if n_uses == 0:
        return 0.0
    return 1.0 - len(set().union(*uses)) / n_uses


class QueryStream:
    """Seeded query generator, Zipf-weighted over corpus words.

    Query shapes follow fixed cycles, so every run draws the same mix
    however few queries it makes; the seed picks the words. ``search()``
    draws reference-semantics queries: 1-3 keywords, with 10% ``-x``
    exclusions, 10% ``site:orgN`` filters and, when ``early_exits`` is
    set, 10% empty, single-char and absent-term queries. ``topk()`` draws
    plain keyword bags of 1-3 words, the only input the score-ordered
    family interprets."""

    SEARCH_SHAPES = (2, "site", 1, "exclusion", 2, 1, 3, "early", 1, 2)
    TOPK_WORDS = (2, 2, 3, 2, 1)

    def __init__(self, seed: int, vocab: list[str], early_exits: bool):
        self.rng = random.Random(seed)
        self.vocab = vocab
        self.cum = []
        acc = 0.0
        for r in range(len(vocab)):
            acc += 1.0 / (r + 1) ** ZIPF_S
            self.cum.append(acc)
        self.early_exits = early_exits
        self.n_search = self.n_topk = self.n_early = 0

    def word(self) -> str:
        x = self.rng.random() * self.cum[-1]
        return self.vocab[min(bisect.bisect_left(self.cum, x), len(self.vocab) - 1)]

    def words(self, n: int) -> str:
        return " ".join(self.word() for _ in range(n))

    def search(self) -> str:
        shape = self.SEARCH_SHAPES[self.n_search % len(self.SEARCH_SHAPES)]
        self.n_search += 1
        if shape == "early":
            if not self.early_exits:
                return self.words(1)
            self.n_early += 1
            return EARLY_EXITS[(self.n_early - 1) % len(EARLY_EXITS)]
        if shape == "exclusion":
            return f"{self.word()} -{self.word()}"
        if shape == "site":
            return f"{self.word()} site:org{self.rng.randrange(N_SITES)}"
        return self.words(shape)

    def topk(self) -> str:
        n = self.TOPK_WORDS[self.n_topk % len(self.TOPK_WORDS)]
        self.n_topk += 1
        return self.words(n)

    def batch(self, size: int) -> list[str]:
        return [self.topk() for _ in range(size)]
