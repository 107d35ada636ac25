"""The two workloads, their set-up and their metrics.

Each run is one process with its own Spark session.

- ``ingest``: arrival files are drained one per round by
  ``start_incremental_index`` into a streaming index. After each round a
  fresh ``load_index`` handle answers a burst of queries: the first ones
  fetch postings across the live generations, the rest hit its LRUs.
- ``scan``: a seeded corpus goes through ``build_documents_from_corpus``
  → ``write_index`` → ``load_index`` in set-up; the timed phase runs
  executor-route queries (``max_driver_postings=0``) and batches of 8
  through ``topk_scores_many`` on a handle that never caches postings.

Only the package's public entry points are called.
"""

from __future__ import annotations

import os
import statistics
import subprocess
import time
import traceback
from dataclasses import dataclass

from . import inputs
from .oracle import Oracle, rank_topk, same_answer
from .trace import Span, Tracer, event_log_files, jobs_by_op, percentile, read_event_log, totals

N_BULK = 2000  # scan corpus docs: ~280 distinct bigrams, df up to ~1.9k
STREAM_FILE_DOCS = 500  # docs per arrival file
SECONDS_PER_ROUND = 10  # ingest runs one timed round per this many --seconds
MIN_ROUNDS = 2  # with the warm-up round, round 2 is a compaction round
STREAM_COMPACT_EVERY = 2  # live generations that trigger a compaction
BURST = ("search", "topk") * 10
SCAN_CYCLE = ("search", "topk") * 4 + ("batch",)
SECONDS_PER_CYCLE = 20  # scan runs one timed cycle per this many --seconds
BATCH_SIZE = 8
TOPK = 10

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("index_docs_per_s", "docs/s", "higher"),
    ("index_bytes_per_doc_byte", "ratio", "lower"),
    ("search_p50_ms", "ms", "lower"),
    ("topk_p50_ms", "ms", "lower"),
    ("peak_rss_mb", "MB", "lower"),
]

_PHASE_STATS = [
    ("wall_s", "s"), ("core_s", "s"), ("cpu_s", "s"), ("gc_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"),
]
_OP_STATS = [
    ("driver_ms", "ms"), ("spark_ms", "ms"), ("jobs_per_op", "count"), ("stages_per_op", "count"),
    ("tasks_per_op", "count"), ("core_s_per_op", "s"), ("scan_mb_per_op", "MB"),
    ("shuffle_mb_per_op", "MB"),
]
PHASES = ("doc_store", "encode", "lexicon")
ENCODE_STAGES = ("tokenize", "hot_df", "encode", "layout")

PER_LAYER = (
    [("docids.wall_s", "s", "lower"), ("docids.jobs", "count", "lower"), ("docids.core_s", "s", "lower")]
    + [(f"segments.write.{p}.{s}", u, "lower") for p in PHASES for s, u in _PHASE_STATS]
    + [(f"segments.write.encode.{s}.core_s", "s", "lower") for s in ENCODE_STAGES]
    + [
        ("segments.write.tokenize_passes", "count", "lower"),
        ("segments.write.slot_idle_share", "ratio", "lower"),
        ("segments.bytes.doc_store_mb", "MB", "lower"),
        ("segments.bytes.segments_mb", "MB", "lower"),
        ("segments.bytes.lexicon_mb", "MB", "lower"),
        ("streaming.round_s", "s", "lower"),
        ("streaming.compact_round_s", "s", "lower"),
        ("streaming.jobs_per_round", "count", "lower"),
        ("streaming.core_s_per_round", "s", "lower"),
        ("streaming.live_gens_at_query", "count", "lower"),
        ("segments.read.load_index_ms", "ms", "lower"),
        ("wand.search.zero_job_share", "ratio", "higher"),
        ("wand.topk.zero_job_share", "ratio", "higher"),
    ]
    + [(f"wand.{o}.{s}", u, "lower") for o in ("search", "topk", "batch") for s, u in _OP_STATS]
    + [
        ("wand.batch.shared_term_share", "ratio", "higher"),
        ("spark.failed_tasks", "count", "lower"),
        ("trace.overhead_share", "ratio", "lower"),
        ("trace.unattributed_jobs", "count", "lower"),
        ("trace.build_phase_sum_error", "ratio", "lower"),
        ("jvm.heap_peak_mb", "MB", "lower"),
        ("jvm.nonheap_peak_mb", "MB", "lower"),
        ("jvm.old_gen_peak_mb", "MB", "lower"),
    ]
)


# --------------------------------------------------------------------------
# Machine and Spark session
# --------------------------------------------------------------------------


@dataclass
class Machine:
    cpus: int
    mem_total_mb: int

    @property
    def driver_mem_mb(self) -> int:
        # local mode runs every task in the driver JVM: an eighth of the
        # box, at least 1 GB and at most 8 GB
        return max(1024, min(self.mem_total_mb // 8, 8192))


def machine() -> Machine:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return Machine(len(os.sched_getaffinity(0)), kb // 1024)


def start_spark(m: Machine, workdir: str, event_log: bool):
    from search_engine_spark.session import get_spark

    tmp = os.path.join(workdir, "tmp")
    conf = {
        "spark.driver.memory": f"{m.driver_mem_mb}m",
        # a heap committed up front keeps peak RSS from depending on when
        # the collector decides to grow it
        "spark.driver.extraJavaOptions": f"-Xms{m.driver_mem_mb}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        evdir = os.path.join(workdir, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(
        app_name="perfbench",
        master=f"local[{m.cpus}]",
        shuffle_partitions=m.cpus,
        extra_conf=conf,
    )


def stop_spark(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def jvm_pool_peaks_mb(jvm) -> dict[str, float]:
    """Peak used memory of the JVM's pools since start: heap and non-heap
    summed by kind, and the old generation alone.

    ``-Xms`` commits the whole heap, so VmHWM holds the heap at its full
    size. The young pools fill to their capacity before each collection,
    so the old generation's peak is what the engine's retained data took."""
    peaks = {"heap": 0.0, "nonheap": 0.0, "old_gen": 0.0}
    for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        mb = pool.getPeakUsage().getUsed() / 2**20
        if pool.getType().toString() != "Heap memory":
            peaks["nonheap"] += mb
            continue
        peaks["heap"] += mb
        if "Old Gen" in pool.getName() or "Tenured" in pool.getName():
            peaks["old_gen"] += mb
    return peaks


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def live_gens(index_dir: str) -> int:
    seg = os.path.join(index_dir, "segments")
    if not os.path.isdir(seg):
        return 0
    return sum(1 for d in os.listdir(seg) if d.startswith("gen=") and os.path.isdir(os.path.join(seg, d)))


# --------------------------------------------------------------------------
# One run
# --------------------------------------------------------------------------


@dataclass
class Op:
    kind: str  # search | topk | batch | round
    span: Span
    query: object
    got: object = None
    error: str | None = None
    published: int = 0  # stream files published when the op ran (ingest)


@dataclass
class Indexed:
    """What the workload's indexing path produced."""

    docs: int
    content_bytes: int
    wall_s: float
    index_dir: str


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, workdir: str, t_start: float):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.workdir, self.t_start = workdir, t_start
        self.ops: list[Op] = []
        self.failures: list[dict] = []
        self.checks: dict[str, object] = {}
        self.inputs: dict[str, object] = {}
        self.published = 0  # stream files published so far (ingest)
        self.machine = machine()

    # -- driver ----------------------------------------------------------
    def execute(self) -> tuple[dict, dict]:
        self.spark = start_spark(self.machine, self.workdir, self.trace)
        try:
            self.tracer = Tracer(self.spark.sparkContext, self.trace)
            self.jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
            getattr(self, f"setup_{self.workload}")()
            self.setup_s = time.time() - self.t_start
            self.tracer.overhead_s = 0.0  # the overhead share covers the timed phase
            t0 = time.time()
            getattr(self, f"timed_{self.workload}")()
            self.timed_s = time.time() - t0
            self.peak_rss_mb = vm_hwm_mb(self.jvm_pid) + vm_hwm_mb(os.getpid())
            self.jvm_peaks_mb = jvm_pool_peaks_mb(self.spark.sparkContext._jvm)
        finally:
            stop_spark(self.spark)
        self.check_answers()
        layers = self.per_layer() if self.trace else {}
        return self.report(layers), self.final_line(layers)

    def record(self, kind: str, fn, query, **attrs) -> Op:
        with self.tracer.span(kind, **attrs) as sp:
            try:
                got, err = fn(), None
            except Exception:  # a failed op is counted and the run goes on
                got, err = None, traceback.format_exc(limit=3)
        op = Op(kind, sp, query, got, err, self.published)
        self.ops.append(op)
        return op

    # -- scan ----------------------------------------------------------------
    def setup_scan(self) -> None:
        from search_engine_spark.operators.postings import build_documents_from_corpus
        from search_engine_spark.operators.segments import load_index, write_index

        rows = inputs.rows_of(inputs.corpus_ids(self.seed, N_BULK))
        self.docs = inputs.documents_of(rows)
        vocab = inputs.vocabulary(self.docs)
        corpus_dir = os.path.join(self.workdir, "corpus")
        inputs.write_corpus(rows, corpus_dir)
        index_dir = os.path.join(self.workdir, "index")
        with self.tracer.span("build.docids") as a:
            docs = build_documents_from_corpus(self.spark.read.parquet(corpus_dir))
        with self.tracer.span("build.write") as b:
            # defaults except one shard (the set-up budget) and a salt
            # threshold scaled to the corpus, so frequent bigrams salt here
            # as they would past the 250k default in a production corpus
            write_index(docs, index_dir, n_shards=1, salt_threshold=self.salt_threshold)
        with self.tracer.span("build.load") as c:
            self.di = load_index(self.spark, index_dir)
        content = sum(len(r[4].encode()) for r in rows)
        self.indexed = Indexed(len(self.docs), content, a.wall_s + b.wall_s + c.wall_s, index_dir)
        self.measure_index()
        # no early exits here: an empty, one-character or absent-term query
        # never reaches the executor route that this workload measures, and
        # an absent term is answered on the driver, caching its None in the
        # segment LRU
        warm = inputs.QueryStream(self.seed + 10_000, vocab, early_exits=False)
        self.stream = inputs.QueryStream(self.seed, vocab, early_exits=False)
        for kind in ("search", "topk", "batch"):  # the first executor plans run before JIT
            with self.tracer.span("warmup." + kind):
                self.scan_call(kind, self.scan_query(kind, warm))()

    @property
    def salt_threshold(self) -> int:
        return max(N_BULK // 8, 1)

    def scan_query(self, kind: str, stream: inputs.QueryStream):
        if kind == "search":
            return stream.search()
        if kind == "topk":
            return stream.topk()
        return [(f"b{i}", q) for i, q in enumerate(stream.batch(BATCH_SIZE))]

    def scan_call(self, kind: str, q):
        from search_engine_spark.operators.wand import search_segments, topk_bm25_wand, topk_scores_many

        di = self.di
        if kind == "search":
            return lambda: rows(search_segments(di, q, max_driver_postings=0).collect())
        if kind == "topk":
            return lambda: topk_bm25_wand(di, q, TOPK, max_driver_postings=0)
        return lambda: batch_rows(topk_scores_many(di, q, TOPK).collect())

    def timed_scan(self) -> None:
        """Whole cycles of ops, at least one, so every op kind is sampled.
        The work is fixed by --seconds, so a slow host takes longer rather
        than reporting medians of fewer samples."""
        cycles = max(1, round(self.seconds / SECONDS_PER_CYCLE))
        for kind in SCAN_CYCLE * cycles:
            q = self.scan_query(kind, self.stream)
            attrs = {}
            if kind == "batch":
                attrs["shared_term_share"] = inputs.shared_term_share([x for _, x in q])
            self.record(kind, self.scan_call(kind, q), q, **attrs)

    # -- ingest --------------------------------------------------------------
    def setup_ingest(self) -> None:
        self.rounds = max(MIN_ROUNDS, round(self.seconds / SECONDS_PER_ROUND))
        ids = inputs.corpus_ids(self.seed, STREAM_FILE_DOCS * (self.rounds + 1))
        self.docs = inputs.documents_of(inputs.rows_of(ids))
        self.files = inputs.stream_files(self.docs, self.seed, STREAM_FILE_DOCS)
        self.index_dir = os.path.join(self.workdir, "stream_index")
        self.source = os.path.join(self.workdir, "arrivals")
        vocab = inputs.vocabulary(self.docs)
        self.stream = inputs.QueryStream(self.seed, vocab, early_exits=True)
        # the first round's streaming and query plans run before JIT
        warm = self.ingest_round("warmup.round")
        if warm.error is not None:
            raise RuntimeError(warm.error)
        self.burst(inputs.QueryStream(self.seed + 10_000, vocab, early_exits=True), BURST[:4], timed=False)

    def ingest_round(self, name: str) -> Op:
        """Publish the next arrival file and drain it into the streaming
        index with one availableNow run on the persistent checkpoint."""
        from search_engine_spark.streaming.ingest import start_incremental_index, stream_documents

        docs = self.files[self.published]
        inputs.write_stream_file(
            docs,
            os.path.join(self.workdir, "staging"),
            self.source,
            f"part-{self.published:05d}.parquet",
        )
        before, err = live_gens(self.index_dir), None
        with self.tracer.span(name) as sp:
            try:
                q = start_incremental_index(
                    stream_documents(self.spark, self.source),
                    self.index_dir,
                    checkpoint_dir=os.path.join(self.workdir, "checkpoint"),
                    compact_every=STREAM_COMPACT_EVERY,
                )
                self.tracer.alias(str(q.runId), sp.op_id)
                q.awaitTermination()
            except Exception:  # a failed round is counted and the run goes on
                err = traceback.format_exc(limit=3)
        self.published += 1
        sp.attrs["docs"] = len(docs)
        sp.attrs["live_gens"] = live_gens(self.index_dir)
        sp.attrs["compacted"] = sp.attrs["live_gens"] <= before
        return Op("round", sp, None, None, err, self.published)

    def burst(self, stream: inputs.QueryStream, kinds: tuple, timed: bool) -> None:
        """A fresh handle answers a burst of queries, as a server does after
        it reloads the index."""
        from search_engine_spark.operators.segments import load_index
        from search_engine_spark.operators.wand import search_segments, topk_bm25_wand

        with self.tracer.span("ingest.load" if timed else "warmup.load"):
            di = load_index(self.spark, self.index_dir)
        for kind in kinds:
            if kind == "search":
                q = stream.search()
                fn = lambda q=q: rows(search_segments(di, q).collect())  # noqa: E731
            else:
                q = stream.topk()
                fn = lambda q=q: topk_bm25_wand(di, q, TOPK)  # noqa: E731
            if timed:
                self.record(kind, fn, q)
            else:
                with self.tracer.span("warmup." + kind):
                    fn()

    def timed_ingest(self) -> None:
        walls = []
        for _ in range(self.rounds):
            op = self.ingest_round("round")
            self.ops.append(op)
            walls.append(op.span.wall_s)
            self.burst(self.stream, BURST, timed=True)
        published = [d for f in self.files[: self.published] for d in f]
        timed_docs = [d for f in self.files[1 : self.published] for d in f]
        self.indexed = Indexed(
            len(timed_docs),
            sum(len(d.content.encode()) for d in published),
            sum(walls),
            self.index_dir,
        )
        self.measure_index()

    def measure_index(self) -> None:
        """On-disk size of the workload's index, whole and by part."""
        d = self.indexed.index_dir
        lexicons = [x for x in os.listdir(d) if x.startswith("lexicon")]
        self.index_mb = dir_mb(d)
        self.part_mb = {
            "doc_store": dir_mb(os.path.join(d, "documents")),
            "segments": dir_mb(os.path.join(d, "segments")),
            "lexicon": sum(dir_mb(os.path.join(d, x)) for x in lexicons),
        }

    # -- correctness -------------------------------------------------------
    def check_answers(self) -> None:
        """Compare every timed answer with the oracle; an exception or a
        mismatch is a failed op. For ingest the oracle holds the documents
        published when the op ran."""
        oracle, added = Oracle(), 0
        if self.workload == "scan":
            for d in self.docs:
                oracle.add(d.doc_id, d.url, d.title, d.body)
        for op in self.ops:
            while self.workload == "ingest" and added < op.published:
                for d in self.files[added]:
                    oracle.add(d.doc_id, d.url, d.title, d.body)
                added += 1
            if op.error is not None:
                self.fail(op, op.error)
            elif op.kind == "search" and not same_answer(op.got, oracle.search(op.query)):
                self.fail(op, "differs from the reference-semantics oracle")
            elif op.kind == "topk":
                scores = oracle.bm25_scores(op.query)
                if not same_answer(op.got, rank_topk(scores, TOPK), scores):
                    self.fail(op, "differs from the exhaustive BM25 oracle")
            elif op.kind == "batch":
                for qid, q in op.query:
                    scores = oracle.bm25_scores(q)
                    if not same_answer(op.got.get(qid, []), rank_topk(scores, TOPK), scores):
                        self.fail(op, f"query {qid} differs from the exhaustive BM25 oracle")
                        break
        if self.workload == "scan":
            # a term in the driver LRU would let a query skip the executor route
            terms = set().union(*(self.query_term_ids(op) for op in self.ops))
            self.checks["scan_terms_in_driver_lru"] = sum(1 for t in terms if t in self.di.segment_cache)
        self.oracle = oracle  # holds every indexed document by now

    @staticmethod
    def query_term_ids(op: Op) -> set[int]:
        from search_engine_spark.functions.tokenizer import tokenize_query

        qs = [x for _, x in op.query] if op.kind == "batch" else [op.query]
        return {t for q in qs for t, _ in tokenize_query(q)}

    def fail(self, op: Op, why: str) -> None:
        self.failures.append({"op": op.kind, "query": op.query, "published_files": op.published, "why": why})

    # -- metrics -----------------------------------------------------------
    def latencies(self, kind: str) -> list[float]:
        return [op.span.wall_s * 1e3 for op in self.ops if op.kind == kind]

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        ix = self.indexed
        out = {
            "setup_s": (self.setup_s, "s", 1),
            "index_docs_per_s": (ix.docs / ix.wall_s, "docs/s", 1),
            "index_bytes_per_doc_byte": (self.index_mb * 2**20 / ix.content_bytes, "ratio", 1),
        }
        rounds = [op for op in self.ops if op.kind == "round"]
        if rounds:
            out["stream_docs_per_s"] = (ix.docs / ix.wall_s, "docs/s", len(rounds))
        else:
            out["build_docs_per_s"] = (ix.docs / ix.wall_s, "docs/s", 1)
        for kind in ("search", "topk", "batch"):
            lat = self.latencies(kind)
            if not lat:
                continue
            out[f"{kind}_p50_ms"] = (percentile(lat, 50), "ms", len(lat))
            p95 = percentile(lat, 95)
            if p95 is not None:
                out[f"{kind}_p95_ms"] = (p95, "ms", len(lat))
        out["peak_rss_mb"] = (self.peak_rss_mb, "MB", 1)
        out["jvm_heap_peak_mb"] = (self.jvm_peaks_mb["heap"], "MB", 1)
        out["jvm_nonheap_peak_mb"] = (self.jvm_peaks_mb["nonheap"], "MB", 1)
        out["jvm_old_gen_peak_mb"] = (self.jvm_peaks_mb["old_gen"], "MB", 1)
        out["failed_op_share"] = (len(self.failures) / max(len(self.ops), 1), "ratio", len(self.ops))
        return out

    def record_inputs(self) -> None:
        docs = self.docs if self.workload == "scan" else [d for f in self.files[: self.published] for d in f]
        dfs = sorted(len(p) for p in self.oracle.index.postings.values())
        deciles = statistics.quantiles(dfs, n=10)
        self.inputs.update(
            {
                "docs": len(docs),
                "content_bytes": sum(len(d.content.encode()) for d in docs),
                "distinct_terms": len(dfs),
                "df_min_p50_p90_max": [dfs[0], statistics.median(dfs), deciles[-1], dfs[-1]],
            }
        )
        if self.workload == "scan":
            self.inputs["salted_term_share"] = sum(1 for d in dfs if d > self.salt_threshold) / len(dfs)
        else:
            # streaming rounds salt past the ingest default of 250k docs per term
            self.inputs["salted_term_share"] = 0.0
        queried = set().union(*(self.query_term_ids(op) for op in self.ops if op.kind != "round"))
        self.inputs["query_working_set_terms"] = len(queried)
        self.inputs["segment_lru_capacity_terms"] = 100_000  # DiskIndex's documented LRU size
        batches = [op.span.attrs["shared_term_share"] for op in self.ops if op.kind == "batch"]
        if batches:
            self.inputs["shared_term_share"] = statistics.mean(batches)

    def report(self, layers: dict) -> dict:
        self.record_inputs()
        m = self.machine
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "machine": {
                "cpus": m.cpus,
                "mem_total_mb": m.mem_total_mb,
                "master": f"local[{m.cpus}]",
                "driver_memory_mb": m.driver_mem_mb,
            },
            "inputs": self.inputs,
            "metrics": {k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in self.end_to_end().items()},
            "checks": self.checks,
            "failures": self.failures[:20],
            "timed_s": self.timed_s,
            "per_layer": layers,
        }

    def final_line(self, layers: dict) -> dict:
        if self.trace:
            metrics = {name: {"value": layers[name], "unit": unit} for name, unit, _ in PER_LAYER}
        else:
            e2e = self.end_to_end()
            metrics = {name: {"value": e2e[name][0], "unit": unit} for name, unit, _ in END_TO_END}
        # the traced run's own checks count only where they were made
        checks_ok = (
            not self.checks.get("scan_terms_in_driver_lru")
            and self.checks.get("all_jobs_attributed", True)
            and self.checks.get("build_phase_sum_within_10pct", True)
        )
        return {
            "correct": not self.failures and checks_ok,
            "attempted": len(self.ops),
            "failed": len(self.failures),
            "metrics": metrics,
        }

    # -- per-layer metrics (traced run) ------------------------------------
    def per_layer(self) -> dict[str, float]:
        log = read_event_log(event_log_files(os.path.join(self.workdir, "eventlog")))
        by_op, orphans = jobs_by_op(self.tracer, log)
        out: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
        out.update(self.build_layers(by_op) if self.workload == "scan" else self.streaming_layers(by_op))
        for key, mb in self.part_mb.items():
            out[f"segments.bytes.{key}_mb"] = mb

        loads = [s.wall_s * 1e3 for s in self.tracer.spans if s.name in ("build.load", "ingest.load")]
        out["segments.read.load_index_ms"] = statistics.median(loads)
        for kind in ("search", "topk", "batch"):
            ops = [op for op in self.ops if op.kind == kind]
            if not ops:
                continue
            ts = [totals(by_op.get(op.span.op_id, [])) for op in ops]
            pre = f"wand.{kind}."
            out[pre + "spark_ms"] = statistics.median(t.spark_ms for t in ts)
            out[pre + "driver_ms"] = statistics.median(op.span.wall_s * 1e3 - t.spark_ms for op, t in zip(ops, ts))
            for stat, attr in (
                ("jobs_per_op", "jobs"), ("stages_per_op", "stages"), ("tasks_per_op", "tasks"),
                ("core_s_per_op", "core_s"), ("scan_mb_per_op", "scan_mb"),
                ("shuffle_mb_per_op", "shuffle_write_mb"),
            ):
                out[pre + stat] = statistics.mean(getattr(t, attr) for t in ts)
            if kind != "batch":
                out[pre + "zero_job_share"] = sum(1 for t in ts if t.jobs == 0) / len(ts)
        batches = [op.span.attrs["shared_term_share"] for op in self.ops if op.kind == "batch"]
        if batches:
            out["wand.batch.shared_term_share"] = statistics.mean(batches)

        out["spark.failed_tasks"] = log.failed_tasks
        out["trace.overhead_share"] = self.tracer.overhead_s / self.timed_s
        out["trace.unattributed_jobs"] = len(orphans)
        self.checks["all_jobs_attributed"] = not orphans
        for kind, mb in self.jvm_peaks_mb.items():
            out[f"jvm.{kind}_peak_mb"] = mb
        return out

    def build_layers(self, by_op) -> dict[str, float]:
        """Split the bulk build: docids span, then write_index phases
        named by its job descriptions. A phase runs from its first job's
        submission to the next phase's first submission (the last phase
        to its last job's end), so driver time between a phase's jobs
        belongs to it."""
        out: dict[str, float] = {}
        spans = {s.name: s for s in self.tracer.spans}
        docids = spans["build.docids"]
        d = totals(by_op.get(docids.op_id, []))
        out.update({"docids.wall_s": docids.wall_s, "docids.jobs": d.jobs, "docids.core_s": d.core_s})

        write_jobs = sorted(by_op.get(spans["build.write"].op_id, []), key=lambda j: j.submit_ms)
        order: list[str] = []
        for j in write_jobs:
            phase = write_phase(j.description)
            if phase not in order:
                order.append(phase)
        starts = {p: min(j.submit_ms for j in write_jobs if write_phase(j.description) == p) for p in order}
        ends = {p: starts[order[i + 1]] for i, p in enumerate(order[:-1])}
        if order:
            ends[order[-1]] = max(j.end_ms for j in write_jobs)
        core_total = 0.0
        for p in order:
            t = totals([j for j in write_jobs if write_phase(j.description) == p])
            core_total += t.core_s
            if p == "other":
                continue
            for stat, _ in _PHASE_STATS:
                out[f"segments.write.{p}.{stat}"] = (ends[p] - starts[p]) / 1e3 if stat == "wall_s" else getattr(t, stat)
        phase_walls = sum(ends[p] - starts[p] for p in order) / 1e3
        for stat in ENCODE_STAGES:
            out[f"segments.write.encode.{stat}.core_s"] = 0.0
        out["segments.write.tokenize_passes"] = 0
        for j in write_jobs:
            for st in j.stages:
                label = encode_stage(st.scopes)
                if write_phase(j.description) == "encode" and label != "other":
                    out[f"segments.write.encode.{label}.core_s"] += st.core_ms / 1e3
                if label == "tokenize":
                    out["segments.write.tokenize_passes"] += 1
        if phase_walls:
            out["segments.write.slot_idle_share"] = 1.0 - core_total / (phase_walls * self.machine.cpus)
        error = abs(1.0 - (docids.wall_s + phase_walls) / self.indexed.wall_s)
        out["trace.build_phase_sum_error"] = error
        self.checks["build_phase_sum_within_10pct"] = error <= 0.10
        return out

    def streaming_layers(self, by_op) -> dict[str, float]:
        out: dict[str, float] = {}
        rounds = [op.span for op in self.ops if op.kind == "round" and op.error is None]
        plain = [sp.wall_s for sp in rounds if not sp.attrs["compacted"]]
        compact = [sp.wall_s for sp in rounds if sp.attrs["compacted"]]
        if plain:
            out["streaming.round_s"] = statistics.median(plain)
        if compact:
            out["streaming.compact_round_s"] = statistics.median(compact)
        if rounds:
            rt = [totals(by_op.get(sp.op_id, [])) for sp in rounds]
            out["streaming.jobs_per_round"] = statistics.mean(t.jobs for t in rt)
            out["streaming.core_s_per_round"] = statistics.mean(t.core_s for t in rt)
            out["streaming.live_gens_at_query"] = statistics.mean(sp.attrs["live_gens"] for sp in rounds)
        return out


def rows(collected) -> list[tuple[int, float]]:
    return [(int(r["doc_id"]), float(r["score"])) for r in collected]


def batch_rows(collected) -> dict[str, list[tuple[int, float]]]:
    out: dict[str, list] = {}
    for r in sorted(collected, key=lambda r: (r["qid"], r["rank"])):
        out.setdefault(r["qid"], []).append((int(r["doc_id"]), float(r["score"])))
    return out


def write_phase(description: str) -> str:
    """write_index labels its jobs ``write_index:<phase>``."""
    label = description.split("write_index:", 1)[-1] if "write_index:" in description else ""
    if label.startswith("doc-store"):
        return "doc_store"
    if label.endswith("encode"):
        return "encode"
    if label.startswith("lexicon"):
        return "lexicon"
    return "other"


def encode_stage(scopes: frozenset) -> str:
    """Label a build stage by the operators in its RDD scopes."""
    if "FlatMapGroupsInArrow" in scopes:
        return "encode"
    if "MapInArrow" in scopes and any(s.startswith("Scan parquet") for s in scopes):
        return "tokenize"
    if "WriteFiles" in scopes:
        return "layout"
    if "BroadcastExchange" in scopes:
        return "hot_df"
    return "other"

