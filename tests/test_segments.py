"""Segment index tests: build + salted merge equivalence, disk
round-trip, manifest resume, WAND equivalence, rank-identity of the
blob path vs the DataFrame path."""

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from search_engine_spark.functions.tokenizer import term_to_id
from search_engine_spark.operators import wand
from search_engine_spark.operators.postings import (
    build_documents_from_testdata,
    build_index,
    build_postings,
)
from search_engine_spark.operators.search import search
from search_engine_spark.operators.segments import (
    build_segments,
    corpus_fingerprint,
    load_index,
    merge_salted,
    read_manifest,
    write_index,
)

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


def test_segments_match_postings(spark, docs):
    """Segment blobs decode back to exactly the uncompressed postings."""
    postings = build_postings(docs).cache()
    seg = merge_salted(build_segments(postings, n_buckets=8, n_salts=4, salt_threshold=50))
    rows = {r["term_id"]: r for r in seg.collect()}
    exp = (
        postings.groupBy("term_id")
        .agg(F.count("*").alias("df"), F.sum(F.size("positions")).alias("ctf"))
        .collect()
    )
    assert len(rows) == len(exp)
    for r in exp:
        s = rows[r["term_id"]]
        assert s["df"] == r["df"] and s["ctf"] == r["ctf"]
    # spot-check one term's full decode against the raw postings
    tid = max(exp, key=lambda r: r["df"])["term_id"]  # a salted (hot) term
    from search_engine_spark.functions import codec

    d, te, pc, pos = codec.decode_term_postings(bytes(rows[tid]["blob"]))
    raw = (
        postings.filter(F.col("term_id") == tid)
        .orderBy("doc_id")
        .select("doc_id", "title_end", "positions")
        .collect()
    )
    assert d.tolist() == [x["doc_id"] for x in raw]
    assert te.tolist() == [x["title_end"] for x in raw]
    assert pos.tolist() == [p for x in raw for p in x["positions"]]
    postings.unpersist()


def test_disk_roundtrip_and_lexicon(spark, index_dir, docs):
    di = load_index(spark, index_dir)
    assert di.meta.n_docs == docs.count()
    lex = {r["term"]: r["df"] for r in di.lexicon.collect()}
    idx = build_index(docs, cache=False)
    exp = {r["term"]: r["df"] for r in idx.lexicon.collect()}
    assert lex == exp


def _rounded_order(rows):
    """Deterministic ranking used by the driver gate: 6dp-rounded score
    desc, doc_id asc (exact-tie groups are score-identical by
    construction; sub-ULP float-sum-order noise must not flip them)."""
    return sorted(((r["doc_id"], round(r["score"], 6)) for r in rows), key=lambda x: (-x[1], x[0]))


@pytest.mark.parametrize("query", QUERIES)
def test_blob_search_rank_identical(spark, index_dir, docs, query):
    """search_segments (compressed blob path) == search (DataFrame path)."""
    di = load_index(spark, index_dir)
    idx = build_index(docs)
    ra = wand.search_segments(di, query).collect()
    rb = search(idx, query).collect()
    assert _rounded_order(ra) == _rounded_order(rb)
    sa = {r["doc_id"]: r["score"] for r in ra}
    sb = {r["doc_id"]: r["score"] for r in rb}
    for d in sa:
        assert abs(sa[d] - sb[d]) < 1e-9


def test_wand_equals_exhaustive(spark, index_dir):
    di = load_index(spark, index_dir)
    for q, k in [("table", 10), ("spark", 25), ("dup", 5), ("customer query", 10)]:
        exact = wand.topk_exhaustive(di, q, k)
        pruned = wand.topk_wand(di, q, k)
        assert [d for d, _ in exact] == [d for d, _ in pruned], q
        for (d1, s1), (d2, s2) in zip(exact, pruned):
            assert abs(s1 - s2) < 1e-9


def test_resume_skips_completed_shards(spark, docs, tmp_path):
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
    idx = build_index(docs)
    a = wand.search_segments(di, "table").collect()
    b = search(idx, "table").collect()
    assert _rounded_order(a) == _rounded_order(b)


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
