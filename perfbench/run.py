"""Benchmark of the search engine's build, query and ingest paths.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload serve|ingest --seed N \\
        --seconds S --trace 0|1

Every run makes a seeded corpus (``fixtures.make_pages``), cold-builds
an index from it, then runs the workload for ``--seconds``; every
result is checked against the engine's twins.  The last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics of a
traced run with ``--trace 1``.  Human-readable lines go to stderr.
Everything the run writes stays under ``perfbench/.state``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")

END_TO_END = {
    "setup_s": "s", "index_docs_per_s": "1/s", "freshness_s": "s",
    "index_bytes_per_text_byte": "ratio", "query_p50_ms": "ms",
    "query_tail_ms": "ms", "queries_per_s": "1/s", "peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    from perfbench.layers import INCREMENTAL_OPS, LAYERS
    from perfbench.workloads import BUILD_STAGES

    u = {"session.get_spark_s": "s", "plans.tokenize.tokenize_pages_s": "s",
         "textproc.parse_doc_us_per_doc": "us", "porter.porter_stem_ns_per_call": "ns",
         "indexer.build_index_s": "s"}
    u.update({f"indexer.stage.{s}_s": "s" for s in BUILD_STAGES})
    u.update({"indexer.driver_overhead_s": "s", "indexer.spark_jobs": "count",
              "indexer.spark_tasks": "count", "indexer.raw_posting_rows": "count",
              "indexer.packed_rows": "count", "indexer.dictionary_terms": "count",
              "indexer.index_bytes": "bytes", "codec.pack_postings_MBps": "MB/s",
              "codec.decode_MBps": "MB/s", "searcher.parse_query_ms": "ms",
              "searcher.resolve_terms_ms": "ms", "searcher.score_ms": "ms",
              "searcher.spark_jobs_per_query": "count",
              "searcher.spark_tasks_per_query": "count",
              "searcher.postings_per_query": "count",
              "searcher.results_per_posting": "ratio",
              "searcher.index_rows_per_query": "count", "wand.wand_search_ms": "ms"})
    u.update({f"incremental.{op}_s": "s" for op in INCREMENTAL_OPS})
    u.update({"incremental.live_segments": "count", "host.steal_pct": "%",
              "trace.overhead_ms": "ms"})
    u.update({f"selftime.{layer}_s": "s" for layer in LAYERS})
    return u


def pin_environment(work: str) -> dict[str, str]:
    """Spark settings taken from the host: every core explicitly, the
    checkout on the Python workers' path, driver memory below host RAM,
    and all scratch space inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mb = min(1024, ram // 4 // (1 << 20))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{driver_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    return {"master": f"local[{cpus}]", "driver_memory": f"{driver_mb}m",
            "spark_conf": {
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            }}


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM
    (and with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("serve", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "search_engine_spark")):
        print("perfbench: no search_engine_spark package next to perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(STATE, f"run-{os.getpid()}")
    env = pin_environment(work)
    try:
        result = run(args, work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def run(args, work: str, env: dict) -> dict:
    from perfbench import base, inputs, layers
    from perfbench.measure import PeakRss, Tracer
    from perfbench.workloads import CFG, Run
    from tools.scale_bench import _cpu_sample

    if args.workload == "ingest":
        base_dir = base.ensure(ROOT, STATE, CFG)
    corpus = inputs.corpus_parquet(
        os.path.join(STATE, "corpus"), inputs.CORPUS_DOCS,
        args.seed if args.workload == "serve" else base.BASE_SEED)
    texts = inputs.read_texts(corpus)
    tracer = Tracer(bool(args.trace))
    with PeakRss() as rss:
        steal0, total0 = _cpu_sample()
        from search_engine_spark.session import get_spark

        with tracer.span("session.get_spark") as sp:
            spark = get_spark(app="perfbench", master=env["master"],
                              extra=env["spark_conf"])
        tracer.sc = spark.sparkContext
        try:
            r = Run(spark, tracer, args.seed, args.seconds, work, corpus, texts)
            r.layers["session.get_spark_s"] = sp.seconds
            if args.workload == "serve":
                phases = [("build", r.build), ("open", r.open_engine), ("serve", r.serve)]
            else:
                phases = [("copy", lambda: r.copy_base(base_dir)),
                          ("open", r.open_engine), ("ingest", r.ingest)]
            if args.trace:
                phases.append(("layers", lambda: layers.measure(r)))
            for name, phase in phases:
                t0 = time.perf_counter()
                phase()
                print(f"phase {name}: {time.perf_counter() - t0:.1f}s", file=sys.stderr)
        finally:
            stop_spark(spark)
        steal1, total1 = _cpu_sample()
    r.metrics["peak_rss_mb"] = rss.peak / (1 << 20)
    r.layers["host.steal_pct"] = 100.0 * (steal1 - steal0) / max(1, total1 - total0)
    if args.trace:
        tracer.write(os.path.join(STATE, "traces",
                                  f"{args.workload}-{args.seed}.jsonl"))

    for f in r.failures:
        print(f"FAIL {f}", file=sys.stderr)
    print(f"perfbench {args.workload} seed={args.seed} {env['master']} "
          f"driver_memory={env['driver_memory']} "
          f"steal={r.layers['host.steal_pct']:.1f}% "
          f"query_tail_ms=p{r.tail_percentile:.0f} of {r.query_samples} samples "
          f"error_rate={len(r.failures)}/{r.attempted}", file=sys.stderr)
    print("stream " + " ".join(f"{k}={v:.3f}" for k, v in r.stream_shares.items()),
          file=sys.stderr)
    units = per_layer_units() if args.trace else END_TO_END
    values = r.layers if args.trace else r.metrics
    missing = sorted(set(units) - set(values))
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    return {
        "correct": not r.failures,
        "attempted": r.attempted,
        "failed": len(r.failures),
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
