"""The two workloads.

* ``serve`` cold-builds the seeded corpus into an empty directory
  (stage times, jobs and the index it leaves are measured), then runs
  one closed-loop client over the seeded query stream against the
  fresh index.
* ``ingest`` copies the fixed base index (``base.py``) and runs seeded
  crawl cycles (an upsert of new and re-crawled urls, then a
  delete-by-query, each followed by ``maybe_compact``), each followed
  by the same query stream at one client.

Each workload writes (the build, the deltas) and reads (the queries),
so both report every end-to-end metric.  Every query result is
compared with the twin outside the timed window.  The twin's Spark
jobs run before the queries they check (serve: the stream prefix the
window is expected to send; ingest: each crawl cycle's queries), so
the JIT compilation they cause is done before the measured queries
run: a fresh JVM's queries otherwise speed up by a third over their
first minute.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from search_engine_spark.config import EngineConfig

from . import inputs
from .checks import mismatch, topk_rows, twin_topk
from .measure import Tracer, median, tail

# shards and buckets sized to the 1000-doc corpus (the CLI defaults,
# 32 x 16, make 512 near-empty pack groups at this size)
CFG = EngineConfig(n_doc_shards=8, n_term_buckets=8, n_bucket_groups=1)
TOP_K = 10
# one client per workload: with 2 on a 4-core host the run-to-run
# spread of serve's query_p50_ms was 0.20 (IQR/median over 5 seeds),
# with 1 it was 0.12; at 4 the engine is saturated (latency doubles
# for ~10% more throughput)
WARMUP_QUERIES = 2
# serve computes the twin's answers before the window for the stream
# prefix it expects to send: PRECHECK_PER_S queries per window second
PRECHECK_PER_S = 1.3
# after each crawl cycle: three class blocks, so query_tail_ms (>= 10
# samples beyond it) is p44, not the 2nd-fastest query of 12
INGEST_QUERIES_PER_CYCLE = 18
SETUP_REPEATS = 3
PROBE_ATTEMPTS = 3
BUILD_STAGES = ("tokenize", "doc_stats", "dictionary", "entities", "pack")
_OP = {"upsert": "update_documents", "delete": "delete_by_query"}


@dataclass
class Issued:
    """One query sent to the engine and what came back."""

    query: inputs.Query
    seconds: float = 0.0
    rows: list = field(default_factory=list)
    error: str | None = None
    keys: list = field(default_factory=list)    # resolved term keys (traced)
    postings: int = 0                           # sum of their df (traced)


@dataclass
class Run:
    """One benchmark run: the state its phases share."""

    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work_dir: str
    corpus: str
    texts: list
    metrics: dict = field(default_factory=dict)     # end-to-end
    layers: dict = field(default_factory=dict)      # per-layer
    failures: list = field(default_factory=list)
    attempted: int = 0
    issued: list = field(default_factory=list)
    engine: object = None
    state: int = 0                                  # index state: bumped by each delta
    expected: dict = field(default_factory=dict)    # (state, query) -> twin's top-k

    def __post_init__(self):
        self.index_dir = os.path.join(self.work_dir, "index")
        self.text_bytes = sum(len(t.encode("utf-8")) for _, t in self.texts)
        self._next = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)

    # -- phases shared by both workloads ------------------------------------
    def build(self) -> None:
        from search_engine_spark.checkindex import check_index
        from search_engine_spark.indexer import IndexPaths, build_index, read_lineage

        pages = self.spark.read.parquet(self.corpus)
        self.attempted += 1
        with self.tracer.span("indexer.build_index", jobs=True) as sp:
            meta = build_index(self.spark, pages, self.index_dir, CFG)
        self.build_span = sp
        bad = [c["name"] for c in check_index(self.index_dir)["checks"] if not c["ok"]]
        if meta["n_docs"] != len(self.texts):
            bad.append(f"meta n_docs {meta['n_docs']} != corpus rows {len(self.texts)}")
        if bad:
            self.fail(f"build: {bad}")

        stages = dict.fromkeys(BUILD_STAGES, 0.0)
        for r in read_lineage(IndexPaths(self.index_dir)):
            if r["stage"] in stages:
                stages[r["stage"]] += float(r["seconds"])
        L = self.layers
        L["indexer.build_index_s"] = sp.seconds
        for s, v in stages.items():
            L[f"indexer.stage.{s}_s"] = v
        L["indexer.driver_overhead_s"] = sp.seconds - sum(stages.values())
        L["indexer.spark_jobs"] = sp.jobs
        L["indexer.spark_tasks"] = sp.tasks

    def copy_base(self, base_dir: str) -> None:
        """The ingest workload's private copy of the base index; it
        builds nothing, so the build's per-layer times read 0."""
        shutil.copytree(base_dir, self.index_dir)
        self.layers.update({"indexer.build_index_s": 0.0, "indexer.driver_overhead_s": 0.0,
                            "indexer.spark_jobs": 0, "indexer.spark_tasks": 0})
        self.layers.update({f"indexer.stage.{s}_s": 0.0 for s in BUILD_STAGES})

    def open_engine(self) -> None:
        """Set-up before traffic: the engine open, ``SETUP_REPEATS``
        times (the last engine serves); then the query pool and stream
        are drawn from the index's dictionary."""
        from search_engine_spark.searcher import SearchEngine

        opens = []
        for _ in range(SETUP_REPEATS):
            with self.tracer.span("searcher.open") as sp:
                self.engine = SearchEngine(self.spark, self.index_dir, CFG)
            opens.append(sp.seconds)
        self.metrics["setup_s"] = self.layers["session.get_spark_s"] + median(opens)
        d = pq.read_table(self.engine.paths.dictionary, columns=["term_key", "df"])
        pool = inputs.query_pool(
            list(zip(d.column("term_key").to_pylist(), d.column("df").to_pylist())),
            len(self.texts), self.seed, self.engine.parse_query)
        self.stream = inputs.query_stream(pool, self.seed)

    def next_query(self) -> inputs.Query:
        self._next += 1
        return self.stream[(self._next - 1) % len(self.stream)]

    def warmup_queries(self) -> list[inputs.Query]:
        """The ``WARMUP_QUERIES`` warm-up queries, from the far end of
        the stream, so the measured stream starts on a whole class
        block: one stop-word-only query (the first empty result of a
        JVM costs ~1 s more than the rest), the others ones that reach
        the index."""
        back = self.stream[::-1]
        stop = next(q for q in back if q.cls == "stop")
        return [stop] + [q for q in back if q.cls not in ("stop", "ood")][:WARMUP_QUERIES - 1]

    def query(self, q: inputs.Query, k: int = TOP_K) -> Issued:
        tr, eng = self.tracer, self.engine
        rec = Issued(q)
        with tr.span("bench.request", request=f"q{id(rec)}"):
            try:
                if tr.enabled:
                    with tr.span("searcher.parse_query"):
                        keys = eng.parse_query(q.text)
                    with tr.span("searcher.resolve_terms", jobs=True):
                        resolved = eng.resolve_terms(keys)
                    rec.keys = sorted(resolved["term_key"])
                    rec.postings = int(resolved["df"].sum())
                with tr.span("searcher.search", jobs=True) as sp:
                    rows = eng.search(q.text, k).collect()
                rec.seconds = sp.seconds
                rec.rows = topk_rows(rows)
            except Exception as e:  # a failed query is counted, not fatal
                rec.error = f"{type(e).__name__}: {e}"
        self.issued.append(rec)
        self.attempted += 1
        return rec

    def expect(self, texts) -> None:
        """Compute the twin's top-k on the current index state for each
        query of ``texts`` not yet known there."""
        todo = sorted({t for t in texts if (self.state, t) not in self.expected})
        cases = [(self.engine, t) for t in todo]
        for t, want in zip(todo, twin_topk(self.spark, cases, TOP_K)):
            self.expected[self.state, t] = want

    def check_queries(self, recs: list[Issued]) -> None:
        """Compare each result, served from the current index state,
        with the twin's, computed once per distinct query and state."""
        self.expect([r.query.text for r in recs if r.error is None])
        for r in recs:
            if r.error is not None:
                self.fail(f"query {r.query.text!r} raised {r.error}")
                continue
            why = mismatch(r.rows, self.expected[self.state, r.query.text])
            if why:
                self.fail(f"query {r.query.text!r}: {why}")

    def finish(self, queries_per_s: float, stream: list[Issued]) -> None:
        """Query and index-size metrics at the end of the window."""
        from search_engine_spark.indexer import IndexPaths, _dir_bytes, _parquet_rows

        lat = [r.seconds * 1e3 for r in stream if r.error is None]
        value, pct, n = tail(lat)
        M, L = self.metrics, self.layers
        M["query_p50_ms"] = median(lat)
        M["query_tail_ms"] = value
        M["queries_per_s"] = queries_per_s
        self.tail_percentile, self.query_samples = pct, n

        self.stream_shares = inputs.stream_shares([r.query for r in stream])

        paths = IndexPaths(self.index_dir)
        L["indexer.index_bytes"] = _dir_bytes(paths.index)
        L["indexer.raw_posting_rows"] = _parquet_rows(paths.postings_raw)
        L["indexer.packed_rows"] = _parquet_rows(paths.index)
        L["indexer.dictionary_terms"] = _parquet_rows(paths.dictionary)
        M["index_bytes_per_text_byte"] = L["indexer.index_bytes"] / self.text_bytes

    # -- workloads ----------------------------------------------------------
    def serve(self) -> None:
        """Closed loop: the client sends its next query when its
        previous one returns.  The cold build is this workload's write:
        freshness runs from its start until the first query answers."""
        self.metrics["index_docs_per_s"] = len(self.texts) / self.build_span.seconds
        first = self.query(next(q for q in self.stream if q.cls in ("head", "mid")))
        self.metrics["freshness_s"] = time.perf_counter() - self.build_span.start
        if not first.rows:
            self.fail(f"first query {first.query.text!r} returned nothing after the build")

        # not measured: the twin's answers for the queries the window
        # will most likely send (the rest are computed after it), then
        # the warm-up queries
        warm = self.warmup_queries()
        likely = self.stream[:int(PRECHECK_PER_S * self.seconds)] + warm
        self.expect([q.text for q in likely])
        warmup = [self.query(q) for q in warm]
        self.issued = []
        t0 = time.perf_counter()
        deadline = t0 + self.seconds
        while time.perf_counter() < deadline:
            self.query(self.next_query())
        # the rate ends at the last answer, so the drain after the
        # deadline adds no quantization noise
        self.finish(len(self.issued) / (time.perf_counter() - t0), self.issued)
        self.final_state = list(self.issued)
        self.check_queries(warmup + self.issued)

    def ingest(self) -> None:
        """After an unmeasured warm-up, one client runs crawl cycles
        until ``seconds`` of measured time have passed, and at least
        one whole cycle.  A cycle writes its deltas, each followed by
        a probe query that runs until it shows the delta (freshness),
        then sends ``INGEST_QUERIES_PER_CYCLE`` stream queries to the
        index the deltas left.  The twin's answers for those queries
        are computed before they run, outside the measured time."""
        from search_engine_spark import incremental as inc
        from search_engine_spark.indexer import IndexPaths

        tr, spark = self.tracer, self.spark
        written, write_s, fresh = 0, 0.0, []
        measured, cycle, stream = 0.0, 0, []

        # warm-up, not measured: starts the Python workers the first
        # write and the first queries would otherwise wait for
        self.check_queries([self.query(q) for q in self.warmup_queries()])
        self.issued = []
        while cycle == 0 or measured < self.seconds:
            t0 = time.perf_counter()
            for d in inputs.crawl_deltas(self.texts, self.seed, cycle):
                t1 = time.perf_counter()
                self.attempted += 1
                self.state += 1
                try:
                    with tr.span(f"incremental.{_OP[d.kind]}", jobs=True) as sp:
                        if d.kind == "delete":
                            inc.delete_by_query(spark, d.probe, self.index_dir, CFG)
                        else:
                            pages = spark.createDataFrame(list(d.rows), "url string, text string")
                            inc.update_documents(spark, pages, self.index_dir, CFG)
                    if d.kind != "delete":
                        written += len(d.rows)
                        write_s += sp.seconds
                    with tr.span("incremental.maybe_compact", jobs=True):
                        inc.maybe_compact(spark, self.index_dir, cfg=CFG)
                    with tr.span("incremental.refresh"):
                        self.engine.refresh()
                    fresh.append(self._probe(d) - t1)
                except Exception as e:  # counted as a failed write
                    self.fail(f"{d.kind} delta raised {type(e).__name__}: {e}")
            measured += time.perf_counter() - t0
            queries = [self.next_query() for _ in range(INGEST_QUERIES_PER_CYCLE)]
            self.expect([q.text for q in queries])
            t0 = time.perf_counter()
            recs = [self.query(q) for q in queries]
            measured += time.perf_counter() - t0
            stream += recs
            self.check_queries(recs)
            cycle += 1
        for c in range(cycle):
            for d in inputs.crawl_deltas(self.texts, self.seed, c):
                self.text_bytes += sum(len(t.encode("utf-8")) for _, t in d.rows)
        self.layers["incremental.live_segments"] = inc.live_segments(IndexPaths(self.index_dir))
        self.metrics["index_docs_per_s"] = written / write_s
        self.metrics["freshness_s"] = median(fresh)
        self.finish(len(stream) / measured, stream)
        self.final_state = recs

    def _probe(self, d: inputs.Delta) -> float:
        """Query the delta's probe until it shows the delta; returns
        the time it did."""
        k = max(TOP_K, len(d.expect))
        urls: set = set()
        for _ in range(PROBE_ATTEMPTS):
            rec = self.query(inputs.Query(d.probe, "probe"), k)
            urls = {u for _, u, _ in rec.rows}
            if rec.error is None and urls == set(d.expect):
                return time.perf_counter()
            self.engine.refresh()
        self.fail(f"{d.kind} delta not visible: probe {d.probe!r} returned {len(urls)} urls")
        return time.perf_counter()


def sample_docs(texts: list, seed: int, n: int) -> list[str]:
    rng = random.Random(seed * 613 + 5)
    return [t for _, t in rng.sample(texts, min(n, len(texts)))]
