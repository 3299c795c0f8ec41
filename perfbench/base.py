"""The ingest workload's fixed base index, built once per checkout.

The base corpus is ``fixtures.make_pages(CORPUS_DOCS, BASE_SEED)``.
The checkout's own engine builds its index in a separate process, so
the run that finds no cached base still measures on a JVM as cold as
every other run's.  The cache key hashes the engine's source and the
build settings; each ingest run works on a copy.

    python3 -m perfbench.base OUT_DIR     # build the base into OUT_DIR
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys

from . import inputs

BASE_SEED = 0


def cache_key(root: str, cfg) -> str:
    h = hashlib.sha1(repr((cfg, inputs.CORPUS_DOCS, BASE_SEED)).encode())
    pkg = os.path.join(root, "search_engine_spark")
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def ensure(root: str, state: str, cfg) -> str:
    """Path of the cached base index, building it first if missing."""
    out = os.path.join(state, f"base-{cache_key(root, cfg)}")
    if os.path.exists(os.path.join(out, "meta.json")):
        return out
    tmp = f"{out}.{os.getpid()}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    subprocess.run([sys.executable, "-m", "perfbench.base", tmp],
                   cwd=root, check=True, timeout=600,
                   stdout=subprocess.DEVNULL)
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out


def main(out: str) -> None:
    from search_engine_spark.indexer import build_index
    from search_engine_spark.session import get_spark

    from .run import STATE, pin_environment, stop_spark
    from .workloads import CFG

    env = pin_environment(f"{out}.work")
    corpus = inputs.corpus_parquet(os.path.join(STATE, "corpus"),
                                   inputs.CORPUS_DOCS, BASE_SEED)
    spark = get_spark(app="perfbench-base", master=env["master"],
                      extra=env["spark_conf"])
    try:
        build_index(spark, spark.read.parquet(corpus), out, CFG)
    finally:
        stop_spark(spark)
        shutil.rmtree(f"{out}.work", ignore_errors=True)


if __name__ == "__main__":
    main(sys.argv[1])
