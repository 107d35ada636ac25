"""Segment index tests: build + salted merge equivalence, disk
round-trip, manifest resume, WAND equivalence, rank-identity of the
blob path vs the pure-Python oracle."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions import codec
from search_engine_spark.functions.tokenizer import term_to_id
from search_engine_spark.operators import wand
from search_engine_spark.operators.postings import (
    build_documents_from_testdata,
    build_postings_packed,
)
from search_engine_spark.operators.segments import (
    build_segments,
    corpus_fingerprint,
    load_index,
    merge_salted,
    read_manifest,
    write_index,
)
from search_engine_spark.oracle.reference import OracleIndex

QUERIES = ["table", "spark", "table spark", "table -dup", "dup", "spark site:src3"]


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = build_documents_from_testdata(spark, sf_dir).cache()
    d.count()
    return d


@pytest.fixture(scope="module")
def index_dir(tmp_path_factory, docs):
    path = str(tmp_path_factory.mktemp("index"))
    write_index(docs, path, n_buckets=16, n_shards=2, n_salts=4, salt_threshold=50)
    return path


@pytest.fixture(scope="module")
def oracle(docs):
    o = OracleIndex()
    for r in docs.select("doc_id", "url", "title", "body").collect():
        o.add_document(r.doc_id, r.url, r.title, r.body)
    return o


def _assert_postings_match_oracle(df_ctf, blob_of, oracle):
    """df/ctf for every term equal the oracle's postings, and the hottest
    (salted) term's blob decodes to the oracle's doc_ids, title_ends and
    title ++ body positions. ``df_ctf``: {term_id: (df, ctf)};
    ``blob_of(term_id)`` returns that term's (merged) blob."""
    exp = {
        term_to_id(t): (len(ps), sum(len(p.positions) for p in ps.values()))
        for t, ps in oracle.postings.items()
    }
    assert df_ctf == exp
    hot = max(oracle.postings, key=lambda t: len(oracle.postings[t]))
    raw = [oracle.postings[hot][d] for d in sorted(oracle.postings[hot])]
    d, te, _, pos = codec.decode_term_postings(blob_of(term_to_id(hot)))
    assert d.tolist() == [p.doc_id for p in raw]
    assert te.tolist() == [p.title_end for p in raw]
    assert pos.tolist() == [x for p in raw for x in p.positions]


def test_segments_match_postings(spark, docs, oracle):
    """Segment blobs decode back to exactly the uncompressed postings."""
    seg = merge_salted(
        build_segments(build_postings_packed(docs), n_buckets=8, n_salts=4, salt_threshold=50)
    )
    rows = {r["term_id"]: r for r in seg.collect()}
    df_ctf = {t: (r["df"], r["ctf"]) for t, r in rows.items()}
    _assert_postings_match_oracle(df_ctf, lambda t: bytes(rows[t]["blob"]), oracle)


def test_disk_roundtrip_and_lexicon(spark, index_dir, docs, oracle):
    di = load_index(spark, index_dir)
    assert di.meta.n_docs == docs.count()
    lex = di.lexicon.collect()
    assert {r["term"] for r in lex} == set(oracle.postings)
    df_ctf = {r["term_id"]: (r["df"], r["ctf"]) for r in lex}
    _assert_postings_match_oracle(
        df_ctf, lambda t: wand.fetch_term_segments(di, [t])[t].blob, oracle
    )


def _rounded_order(rows):
    """Deterministic ranking used by the driver gate: 6dp-rounded score
    desc, doc_id asc (exact-tie groups are score-identical by
    construction; sub-ULP float-sum-order noise must not flip them)."""
    return sorted(((r["doc_id"], round(r["score"], 6)) for r in rows), key=lambda x: (-x[1], x[0]))


def _assert_matches_oracle(rows, oracle, query):
    """Engine rows == OracleIndex.search: same 6-dp ranking, scores to 1e-9."""
    exp = oracle.search(query)
    assert _rounded_order(rows) == _rounded_order(
        [{"doc_id": d, "score": sc} for d, sc in exp]
    )
    got = {r["doc_id"]: r["score"] for r in rows}
    for d, sc in exp:
        assert abs(got[d] - sc) < 1e-9


@pytest.mark.parametrize("query", QUERIES)
def test_blob_search_rank_identical(spark, index_dir, oracle, query):
    """search_segments (compressed blob path) == the pure-Python oracle."""
    di = load_index(spark, index_dir)
    _assert_matches_oracle(wand.search_segments(di, query).collect(), oracle, query)


def test_wand_equals_exhaustive(spark, index_dir):
    di = load_index(spark, index_dir)
    for q, k in [("table", 10), ("spark", 25), ("dup", 5), ("customer query", 10)]:
        exact = wand.topk_exhaustive(di, q, k)
        pruned = wand.topk_wand(di, q, k)
        assert [d for d, _ in exact] == [d for d, _ in pruned], q
        for (d1, s1), (d2, s2) in zip(exact, pruned):
            assert abs(s1 - s2) < 1e-9


def test_resume_skips_completed_shards(spark, docs, oracle, tmp_path):
    path = str(tmp_path / "idx")
    write_index(docs, path, n_buckets=8, n_shards=2, n_salts=2, salt_threshold=50)
    m1 = read_manifest(path)
    assert set(m1) == {0, 1} and all(v["status"] == "complete" for v in m1.values())
    # simulate a crash after shard 0: drop shard 1's manifest row + files
    rows = [v for k, v in m1.items() if k == 0]
    with open(os.path.join(path, "manifest.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    shutil.rmtree(os.path.join(path, "segments", "shard=1"))
    before = os.path.getmtime(
        os.path.join(path, "segments", "shard=0", "_SUCCESS")
    )
    write_index(docs, path, n_buckets=8, n_shards=2, n_salts=2, salt_threshold=50)
    after = os.path.getmtime(os.path.join(path, "segments", "shard=0", "_SUCCESS"))
    assert before == after, "completed shard 0 must not be rebuilt"
    m2 = read_manifest(path)
    assert set(m2) == {0, 1}
    # and the resumed index still answers queries identically
    di = load_index(spark, path)
    _assert_matches_oracle(wand.search_segments(di, "table").collect(), oracle, "table")


def test_fingerprint_invalidates_on_input_change(spark, docs, tmp_path):
    fp1 = corpus_fingerprint(docs)
    fp2 = corpus_fingerprint(docs.limit(100))
    assert fp1 != fp2


def test_search_segments_cached(spark, index_dir):
    from search_engine_spark.operators.wand import (
        search_segments,
        search_segments_cached,
    )

    di = load_index(spark, index_dir)
    a = search_segments_cached(di, "table")
    b = search_segments_cached(di, "table")
    assert a is b  # LRU returns the identical immutable DataFrame
    exp = [(r.doc_id, r.rank) for r in search_segments(di, "table").collect()]
    assert [(r.doc_id, r.rank) for r in a.collect()] == exp


@pytest.mark.parametrize("query", QUERIES)
def test_distributed_path_rank_identical(spark, index_dir, query):
    """Executor-side hot-term path == driver path for every query shape
    (AND / NOT / site / single), forced via max_driver_postings=0."""
    di = load_index(spark, index_dir)
    ra = wand.search_segments(di, query).collect()
    di2 = load_index(spark, index_dir)  # fresh handle: cold caches
    rb = wand.search_segments(di2, query, max_driver_postings=0).collect()
    assert _rounded_order(ra) == _rounded_order(rb)
    sa = {r["doc_id"]: r["score"] for r in ra}
    sb = {r["doc_id"]: r["score"] for r in rb}
    for d in sa:
        assert abs(sa[d] - sb[d]) < 1e-9


def test_distributed_path_bounds_driver_collects(spark, index_dir, monkeypatch):
    """The distributed path must never collect whole term blobs to the
    driver — fetch_term_segments is off-limits, and only the ≤50-winner
    rows (candidates + their positions) may come back."""
    di = load_index(spark, index_dir)

    def boom(*a, **k):  # any blob fetch = driver-memory O(df) = fail
        raise AssertionError("distributed path collected term blobs")

    monkeypatch.setattr(wand, "fetch_term_segments", boom)
    rows = wand.search_segments(di, "table spark", max_driver_postings=0).collect()
    assert 0 < len(rows) <= wand.PER_SHARD_LIMIT


def test_bm25_wand_equals_exhaustive(spark, index_dir):
    di = load_index(spark, index_dir)
    for q, k in [("table", 10), ("spark", 25), ("dup", 5), ("customer query", 10)]:
        a = wand.topk_bm25_wand(di, q, k)
        b = wand.topk_bm25_exhaustive(di, q, k)
        assert [(d, round(s, 9)) for d, s in a] == [(d, round(s, 9)) for d, s in b]


def test_bm25_length_normalization_direction(spark, index_dir, docs):
    """Same tf, longer doc => lower BM25 contribution (sanity on dl/avgdl
    plumbing: the norm must actually vary per doc)."""
    di = load_index(spark, index_dir)
    ids, dl = di.doc_lengths()
    assert ids.size == di.meta.n_docs
    assert dl.min() >= 0 and dl.max() > dl.min()  # lengths vary
    assert abs(di.avgdl() - dl.mean()) < 1e-9


def test_merge_hot_build_rank_identical(spark, docs, tmp_path):
    """merge_hot=True (build-time compaction of salted sub-segments) must
    produce identical search results to the read-merge default, with at
    most one segment row per (term, shard)."""
    d = str(tmp_path / "fused")
    write_index(docs, d, n_buckets=8, n_shards=1, n_salts=4, salt_threshold=50,
                merge_hot=True)
    di = load_index(spark, d)
    from pyspark.sql import functions as F
    multi = (
        di.segments.groupBy("term_id").count().filter(F.col("count") > 1).count()
    )
    assert multi == 0
    d2 = str(tmp_path / "plain")
    write_index(docs, d2, n_buckets=8, n_shards=1, n_salts=4, salt_threshold=50)
    di2 = load_index(spark, d2)
    for q in ["table", "table spark", "dup", "table -dup"]:
        a = _rounded_order(wand.search_segments(di, q).collect())
        b = _rounded_order(wand.search_segments(di2, q).collect())
        assert a == b


def test_index_stats_gauges(spark, docs, index_dir):
    """A7 monitor stats: every gauge served off metadata must agree with
    a direct recount over the index's own tables, blob_bytes must match
    the manifest, and avgdl must equal total_dl / n_docs."""
    from search_engine_spark.operators.segments import index_stats

    di = load_index(spark, index_dir)
    row = index_stats(di).collect()[0]

    assert row.n_docs == docs.count()
    lex = di.lexicon.agg(
        F.count("*").alias("nt"),
        F.sum("df").alias("sdf"),
        F.sum("ctf").alias("sctf"),
        F.max("df").alias("mdf"),
    ).collect()[0]
    assert row.n_terms == lex["nt"]
    # manifest per-shard n_postings fold == lexicon df fold (a doc lives
    # in exactly one salt, so both count distinct (doc, term) pairs)
    assert row.n_postings == lex["sdf"]
    assert row.total_ctf == lex["sctf"]
    assert row.max_df == lex["mdf"]
    man = read_manifest(index_dir)
    assert row.shards_complete == len(man)
    assert row.blob_bytes == sum(m["blob_bytes"] for m in man.values()) > 0
    assert row.avgdl == pytest.approx(row.total_dl / row.n_docs)
    # empty title in the testdata shape => the two independent paths
    # (lexicon ctf vs doc-store dl sidecar) count the same emissions
    assert row.total_dl == row.total_ctf


def test_index_stats_without_manifest_stats(spark, docs, tmp_path):
    """collect_stats=False indexes fall back to the lexicon fold for
    n_postings and report blob_bytes=0 rather than failing."""
    from search_engine_spark.operators.segments import index_stats

    d = str(tmp_path / "nostats")
    write_index(docs, d, n_buckets=8, n_shards=1, n_salts=2, collect_stats=False)
    di = load_index(spark, d)
    row = index_stats(di).collect()[0]
    sdf = int(di.lexicon.agg(F.sum("df").alias("s")).collect()[0]["s"])
    assert row.n_postings == sdf
    assert row.blob_bytes == 0
    assert row.n_docs == docs.count()
