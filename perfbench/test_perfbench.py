"""Tests for the benchmark's own helpers.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import inputs
from perfbench.oracle import Oracle, same_answer
from perfbench.trace import Span, Tracer, event_log_files, jobs_by_op, percentile, read_event_log, totals, union_ms
from perfbench.workloads import END_TO_END, PER_LAYER, encode_stage, write_phase

HERE = os.path.dirname(os.path.abspath(__file__))


def test_percentile_needs_ten_samples_beyond_it():
    assert percentile(list(range(1, 200)), 95) is None
    assert percentile(list(range(1, 201)), 95) == 190
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0  # the median is always reported
    assert percentile([], 50) is None


def test_event_log_parser_reads_fixture():
    log = read_event_log(event_log_files(os.path.join(HERE, "fixtures", "eventlog")))
    assert [j.job_id for j in log.jobs] == [0, 1, 2]
    j0, j1, j2 = log.jobs
    assert (j0.group, j0.description, j0.submit_ms, j0.end_ms) == (
        "build.write#1", "write_index:shard 0 encode", 1000, 1600
    )
    # stage 0 ran for job 0; job 1 lists it again but only runs stage 1
    assert [s.stage_id for s in j0.stages] == [0]
    assert [s.stage_id for s in j1.stages] == [1]
    assert j2.stages == []
    st = j0.stages[0]
    assert (st.tasks, st.failed_tasks, st.core_ms, st.cpu_ns, st.gc_ms) == (2, 1, 400, 250_000_000, 10)
    assert (st.input_bytes, st.shuffle_write_bytes, st.spill_bytes) == (2**21, 2**20, 2**20)
    assert log.failed_tasks == 1

    t = totals([j0, j1])
    assert (t.jobs, t.stages, t.tasks, t.spark_ms) == (2, 2, 3, 900)  # union of [1000,1600], [1500,1900]
    assert t.core_s == pytest.approx(0.65)
    assert t.scan_mb == pytest.approx(2.0)

    assert write_phase(j0.description) == "encode"
    assert write_phase("write_index:doc-store write") == "doc_store"
    assert write_phase("write_index:lexicon") == "lexicon"
    assert encode_stage(st.scopes) == "tokenize"
    assert encode_stage(j1.stages[0].scopes) == "encode"

    tracer = Tracer(None, enabled=False)
    tracer.spans.append(Span("build.write", "build.write#1", None, 1.0, 2.0))
    tracer.spans.append(Span("round", "round#2", None, 1.4, 2.0))
    tracer.alias("3f1c-run-id", "round#2")
    by_op, orphans = jobs_by_op(tracer, log)
    assert [j.job_id for j in by_op["build.write#1"]] == [0]
    assert [j.job_id for j in by_op["round#2"]] == [1]
    assert [j.job_id for j in orphans] == [2]


def test_union_ms_merges_overlaps():
    assert union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert union_ms([]) == 0


def test_same_answer_allows_only_tied_swaps():
    want = [(1, 2.0), (2, 1.5), (3, 1.5), (4, 1.0)]
    assert same_answer([(1, 2.0), (3, 1.5), (2, 1.5), (4, 1.0)], want)
    assert not same_answer([(1, 2.0), (2, 1.5), (4, 1.0), (3, 1.5)], want)
    assert not same_answer(want[:3], want)
    assert not same_answer([(1, 2.0), (2, 1.5), (3, 1.5), (5, 1.0)], want)
    # a top-k boundary tie may pick another doc with the same score
    scores = {1: 2.0, 2: 1.5, 3: 1.5}
    assert same_answer([(1, 2.0), (3, 1.5)], [(1, 2.0), (2, 1.5)], scores)


def test_benchmark_json_matches_the_metrics_runs_print():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == list(PER_LAYER)


@pytest.fixture(scope="module")
def spark():
    from search_engine_spark.session import get_spark

    return get_spark(
        app_name="perfbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.driver.memory": "1g", "spark.ui.showConsoleProgress": "false"},
    )


def test_oracle_bm25_matches_engine_exhaustive_scorer(spark, tmp_path):
    from search_engine_spark.operators.postings import build_documents_from_corpus
    from search_engine_spark.operators.segments import load_index, write_index
    from search_engine_spark.operators.wand import topk_bm25_exhaustive

    rows = inputs.rows_of(inputs.corpus_ids(7, 60))
    inputs.write_corpus(rows, str(tmp_path / "corpus"))
    docs = build_documents_from_corpus(spark.read.parquet(str(tmp_path / "corpus")))
    write_index(docs, str(tmp_path / "idx"), n_buckets=4, n_shards=1, n_salts=2, salt_threshold=8)
    di = load_index(spark, str(tmp_path / "idx"))

    oracle_docs = inputs.documents_of(rows)
    engine_ids = sorted((r["doc_id"], r["url"]) for r in di.documents.select("doc_id", "url").collect())
    assert engine_ids == [(d.doc_id, d.url) for d in oracle_docs]

    oracle = Oracle()
    for d in oracle_docs:
        oracle.add(d.doc_id, d.url, d.title, d.body)
    stream = inputs.QueryStream(7, inputs.vocabulary(oracle_docs), early_exits=False)
    queries = [stream.topk() for _ in range(8)] + ["handler index", inputs.ABSENT_WORD]
    for q in queries:
        want_scores = oracle.bm25_scores(q)
        assert same_answer(topk_bm25_exhaustive(di, q, 10), oracle.bm25_topk(q, 10), want_scores), q
