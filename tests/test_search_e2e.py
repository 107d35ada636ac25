"""End-to-end rank identity: Spark engine vs pure-Python oracle.

FIXTURES.md §4 — score tolerance 1e-9, ordering = score desc / doc_id asc,
candidates pre-truncated to the 50 lowest docIds.
"""

import pytest

from search_engine_spark.operators.postings import build_documents_from_testdata
from search_engine_spark.operators.search import paginate
from search_engine_spark.operators.segments import load_index, write_index
from search_engine_spark.operators.wand import search_segments
from search_engine_spark.oracle.reference import OracleIndex

QUERIES = [
    "the",            # q01-style single keyword
    "spark",
    "table scan",     # multi-keyword AND (first-keyword scores)
    "scan -merge",    # exclusion NOT
    "order site:src3",  # site suffix filter
    "qqqq",           # absent bigrams → empty
    "z",              # single char → no tokens → empty
    "",               # empty query → empty
    "   ",
    "the -",          # empty exclusion keyword → no-op
    "sort merge -scan site:src1",  # everything combined
    "thethe",         # repeated-bigram query (duplicate query tokens)
]


# search_segments routes: the driver numpy route (default) and the
# executor-side plan, forced by dropping the driver-postings valve to 0
ROUTES = {"driver": {}, "executor": {"max_driver_postings": 0}}


def route_params(values):
    """(value, route) pairs; the driver route keeps the bare value as its
    test id, the executor route appends ``-executor``."""
    return [
        pytest.param(v, r, id=str(v) if r == "driver" else f"{v}-{r}")
        for r in ROUTES
        for v in values
    ]


@pytest.fixture(scope="module")
def built(spark, sf_dir, tmp_path_factory):
    docs = build_documents_from_testdata(spark, sf_dir)
    d = str(tmp_path_factory.mktemp("search_e2e") / "idx")
    write_index(docs, d, n_buckets=8, n_shards=1, n_salts=2)
    oracle = OracleIndex()
    for r in docs.select("doc_id", "url", "title", "body").collect():
        oracle.add_document(r.doc_id, r.url, r.title, r.body)
    return d, oracle


def _search(spark, index_dir, query, route="driver", **kw):
    """Ranked (doc_id, score) rows from a fresh handle (cold caches)."""
    di = load_index(spark, index_dir)
    rows = search_segments(di, query, **ROUTES[route], **kw).collect()
    return [(r.doc_id, r.score) for r in rows]


def assert_rank_identical(got, exp, tol=1e-9):
    assert len(got) == len(exp)
    assert {d for d, _ in got} == {d for d, _ in exp}
    exp_by_doc = dict(exp)
    for d, s in got:
        assert abs(s - exp_by_doc[d]) < tol, (d, s, exp_by_doc[d])
    # rank order identical modulo float-noise ties: compare orders after
    # rounding (both engines then order by (score_r desc, doc_id asc))
    g = sorted(got, key=lambda x: (-round(x[1], 6), x[0]))
    e = sorted(exp, key=lambda x: (-round(x[1], 6), x[0]))
    assert [d for d, _ in g] == [d for d, _ in e]


@pytest.mark.parametrize("query, route", route_params(QUERIES))
def test_rank_identity(spark, built, query, route):
    d, oracle = built
    got = _search(spark, d, query, route)
    exp = oracle.search(query)
    assert_rank_identical(got, exp)


def test_pagination(spark, built):
    d, _ = built
    ranked = search_segments(load_index(spark, d), "the")
    page1 = paginate(ranked, 1).collect()
    page2 = paginate(ranked, 2).collect()
    assert len(page1) == 10 and len(page2) == 10
    assert [r.rank for r in page1] == list(range(1, 11))
    assert [r.rank for r in page2] == list(range(11, 21))
    assert page1[0].score >= page1[-1].score


def test_per_shard_truncation_is_lowest_50_docids(spark, built):
    # engine.go:65: the candidate set is cut to the 50 LOWEST docIds before
    # the score sort — a high-scoring doc with docId rank >50 must be absent.
    d, oracle = built
    got = {doc for doc, _ in _search(spark, d, "the")}
    all_cands = sorted(oracle.search_docs("the"))
    assert got == set(all_cands[:50])


def test_sha256_invariant(spark, sf_dir):
    # north-rule per-row invariant: content sha256 equality input vs documents
    import hashlib

    docs = build_documents_from_testdata(spark, sf_dir)
    rows = docs.select("body", "content_sha256").limit(100).collect()
    for r in rows:
        assert hashlib.sha256(r.body.encode()).hexdigest() == r.content_sha256


@pytest.mark.parametrize("num_shards, route", route_params([2, 3, 7]))
def test_num_shards_truncation_emulation(spark, built, num_shards, route):
    """SURVEY §7.4.5: per-index-server 50-lowest-docId truncation
    (engine.go:64-65) + web fan-in (search.go:147-151) — engine's
    num_shards knob vs the oracle's sharded fold, on both routes."""
    d, oracle = built
    for query in ["the", "table scan", "spark"]:
        got = _search(spark, d, query, route, num_shards=num_shards)
        exp = oracle.search(query, num_shards=num_shards)
        assert_rank_identical(got, exp)
    # sharded union is a superset of (or equal to) the single-shard set
    one = {doc for doc, _ in _search(spark, d, "the", route)}
    many = {doc for doc, _ in _search(spark, d, "the", route, num_shards=num_shards)}
    assert one <= many
