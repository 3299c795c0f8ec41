"""Per-layer measurements of the traced run.

The spans recorded around the workload's calls give the searcher,
indexer and incremental numbers; the kernels that run inside Spark
tasks (tokenize, parse, stem, pack, decode) are timed here in the
driver over fixed seeded samples of the run's own data.
"""

from __future__ import annotations

import os
import random
import time
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from .checks import mismatch, topk_rows
from .measure import median
from .workloads import CFG, TOP_K, Run, sample_docs

PARSE_SAMPLE_DOCS = 100
PACK_SAMPLE_LISTS = 2000
MIN_KERNEL_S = 0.2
WAND_QUERIES = 4
OVERHEAD_PAIRS = 4
INCREMENTAL_OPS = ("update_documents", "delete_by_query", "refresh", "maybe_compact")
LAYERS = ("bench", "session", "plans.tokenize", "textproc", "porter",
          "indexer", "codec", "searcher", "wand", "incremental")


def measure(run: Run) -> None:
    """Fill ``run.layers`` with every per-layer metric.  Layers a
    workload leaves idle read 0."""
    tr, L = run.tracer, run.layers
    with tr.span("plans.tokenize.tokenize_pages", jobs=True) as sp:
        from search_engine_spark.plans.tokenize import tokenize_pages

        (tokenize_pages(run.spark.read.parquet(run.corpus), CFG)
         .write.format("noop").mode("overwrite").save())
    L["plans.tokenize.tokenize_pages_s"] = sp.seconds
    _parse_and_stem(run)
    _pack(run)
    _decode(run)
    _searcher(run)
    _wand(run)
    _overhead(run)
    for op in INCREMENTAL_OPS:
        L[f"incremental.{op}_s"] = sum(s.seconds for s in tr.named(f"incremental.{op}"))
    # serve never appends: its index is the one base pack
    L.setdefault("incremental.live_segments", 1)
    self_s = tr.self_seconds_by_layer()
    for layer in LAYERS:
        L[f"selftime.{layer}_s"] = self_s.get(layer, 0.0)


def _parse_and_stem(run: Run) -> None:
    from search_engine_spark import porter
    from search_engine_spark.textproc import parse_doc

    docs = sample_docs(run.texts, run.seed, PARSE_SAMPLE_DOCS)
    stop = CFG.stop_set()
    porter.porter_stem.cache_clear()
    with run.tracer.span("textproc.parse_doc") as sp:
        for text in docs:
            parse_doc(text, stop, CFG.stem)
    run.layers["textproc.parse_doc_us_per_doc"] = sp.seconds / len(docs) * 1e6
    words = [w.lower() for text in docs for w in text.split() if w.isalpha()]
    porter.porter_stem.cache_clear()
    with run.tracer.span("porter.porter_stem") as sp:
        for w in words:
            porter.porter_stem(w)
    run.layers["porter.porter_stem_ns_per_call"] = sp.seconds / len(words) * 1e9


def _pack(run: Run) -> None:
    """``codec.pack_postings`` over the build's own raw posting lists,
    grouped per (term, doc shard) as the pack stage groups them."""
    from search_engine_spark.codec import pack_postings
    from search_engine_spark.indexer import IndexPaths

    paths = IndexPaths(run.index_dir)
    raw = pq.read_table(paths.postings_raw, columns=["url", "term_key", "tf", "important"]).to_pandas()
    stats = pq.read_table(paths.doc_stats, columns=["url", "shard", "local_id", "length"]).to_pandas()
    idf = pq.read_table(paths.dictionary, columns=["term_key", "idf"]).to_pandas()
    part = raw.merge(stats, on="url").merge(idf, on="term_key")
    groups = list(part.sort_values("local_id").groupby(["term_key", "shard"], sort=True, observed=True))
    rng = random.Random(run.seed * 17 + 9)
    groups = rng.sample(groups, min(PACK_SAMPLE_LISTS, len(groups)))
    lists = [(g["local_id"].to_numpy(), g["tf"].to_numpy(), g["length"].to_numpy(),
              g["important"].to_numpy(), float(g["idf"].iloc[0])) for _, g in groups]
    meta = run.engine.meta
    out_bytes, loops = 0, 0
    with run.tracer.span("codec.pack_postings") as sp:
        while loops == 0 or time.perf_counter() - sp.start < MIN_KERNEL_S:
            for ids, tfs, lens, imps, w in lists:
                row = pack_postings(ids, tfs, lens, imps, idf=w, k1=meta["k1"],
                                    b=meta["b"], avgdl=meta["avgdl"],
                                    block_size=CFG.block_size)
                out_bytes += sum(len(row[c]) for c in ("doc_ids", "tfs", "lens", "imps"))
            loops += 1
    run.layers["codec.pack_postings_MBps"] = out_bytes / sp.seconds / 1e6


def _decode(run: Run) -> None:
    """The searcher's unpack kernels over the packed rows of the terms
    the run's queries resolved to."""
    from search_engine_spark.codec import delta_decode, unpack_bits, varint_decode

    keys = sorted({k for r in run.issued for k in r.keys})
    run.layers["codec.decode_MBps"] = 0.0
    if not keys:
        return
    t = pq.read_table(os.path.join(run.index_dir, "index"),
                      columns=["term_key", "n", "doc_ids", "tfs", "lens", "imps"],
                      filters=[("term_key", "in", keys)]).to_pylist()
    n_bytes, loops = 0, 0
    with run.tracer.span("codec.decode") as sp:
        while loops == 0 or time.perf_counter() - sp.start < MIN_KERNEL_S:
            for row in t:
                delta_decode(row["doc_ids"])
                varint_decode(row["tfs"])
                varint_decode(row["lens"])
                unpack_bits(row["imps"], int(row["n"]))
                n_bytes += sum(len(row[c]) for c in ("doc_ids", "tfs", "lens", "imps"))
            loops += 1
    run.layers["codec.decode_MBps"] = n_bytes / sp.seconds / 1e6


def _searcher(run: Run) -> None:
    tr, L = run.tracer, run.layers
    searches = tr.named("searcher.search")
    resolves = tr.named("searcher.resolve_terms")
    L["searcher.parse_query_ms"] = median([s.seconds * 1e3 for s in tr.named("searcher.parse_query")])
    L["searcher.resolve_terms_ms"] = median([s.seconds * 1e3 for s in resolves])
    L["searcher.score_ms"] = (median([s.seconds * 1e3 for s in searches])
                              - L["searcher.resolve_terms_ms"])
    L["searcher.spark_jobs_per_query"] = float(np.mean([s.jobs for s in searches]))
    L["searcher.spark_tasks_per_query"] = float(np.mean([s.tasks for s in searches]))
    ok = [r for r in run.issued if r.error is None]
    L["searcher.postings_per_query"] = float(np.mean([r.postings for r in ok]))
    hit = [r for r in ok if r.postings]
    L["searcher.results_per_posting"] = (
        sum(len(r.rows) for r in hit) / max(1, sum(r.postings for r in hit)))
    # packed rows the pruned scan reads: one per (term, shard, segment)
    rows_per_key = Counter(pq.read_table(os.path.join(run.index_dir, "index"),
                                         columns=["term_key"]).column("term_key").to_pylist())
    L["searcher.index_rows_per_query"] = float(np.mean(
        [sum(rows_per_key[k] for k in r.keys) for r in ok]))


def _final_state_queries(run: Run, n: int) -> list[str]:
    """Distinct queries with results, served from the index state the
    engine still holds."""
    return sorted({r.query.text for r in run.final_state if r.error is None and r.rows})[:n]


def _wand(run: Run) -> None:
    """Block-max WAND on queries of the final index state; its top-k
    must equal ``search``'s exactly."""
    from search_engine_spark.wand import wand_search

    want = {r.query.text: r.rows for r in run.final_state}
    times = []
    for q in _final_state_queries(run, WAND_QUERIES):
        run.attempted += 1
        with run.tracer.span("wand.wand_search", jobs=True) as sp:
            rows = topk_rows(wand_search(run.engine, q, TOP_K).collect())
        times.append(sp.seconds * 1e3)
        why = mismatch(rows, want[q])
        if why:
            run.fail(f"wand_search {q!r} differs from search: {why}")
    run.layers["wand.wand_search_ms"] = median(times) if times else 0.0


def _overhead(run: Run) -> None:
    """Tracing overhead: the same searches alternately with and without
    a job-group span, sequentially."""
    traced, plain = [], []
    for q in _final_state_queries(run, OVERHEAD_PAIRS):
        with run.tracer.span("searcher.search", jobs=True) as sp:
            run.engine.search(q, TOP_K).collect()
        traced.append(sp.seconds * 1e3)
        t0 = time.perf_counter()
        run.engine.search(q, TOP_K).collect()
        plain.append((time.perf_counter() - t0) * 1e3)
    run.layers["trace.overhead_ms"] = (median(traced) - median(plain)) if plain else 0.0
