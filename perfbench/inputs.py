"""Seeded benchmark inputs: the corpus, the query pool and stream, and
the crawl deltas.

Everything here is a pure function of the seed (plus, for the query
pool, the dictionary the engine built from the seeded corpus), so the
same seed always gives the same inputs.  The engine only ever sees the
generated pages and query strings.
"""

from __future__ import annotations

import itertools
import os
import random
from collections import Counter
from dataclasses import dataclass

from search_engine_spark.fixtures import STOP_WORDS, make_pages, write_pages_parquet

CORPUS_DOCS = 1000
POOL_SIZES = {
    "head": 3, "mid": 5, "tail": 5, "multi": 5, "title_desc": 2,
    "rule": 2, "stop": 1, "ood": 1,
}
RULE_QUERIES = ("45%", "14 May", "$450", "10:15 p.m.", "World Bank", "35 thousand")
# class mix of the stream: every 6 queries hold one of each class of a
# half, so even a short run sends the same mix for every seed
CLASS_HALVES = (("head", "mid", "tail", "multi", "title_desc", "stop"),
                ("head", "mid", "tail", "multi", "rule", "ood"))
ZIPF_S = 1.0
STREAM_LEN = 4096
ADD_DOCS = 20
UPDATE_DOCS = 10


@dataclass(frozen=True)
class Query:
    text: str
    cls: str


def corpus_parquet(cache_dir: str, n_docs: int, seed: int) -> str:
    """The ``fixtures.make_pages(n_docs, seed)`` corpus as parquet,
    generated once per ``(n_docs, seed)`` and cached under
    ``cache_dir``."""
    path = os.path.join(cache_dir, f"pages_{n_docs}_{seed}.parquet")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        write_pages_parquet(tmp, n_docs=n_docs, seed=seed)
        os.replace(tmp, path)
    return path


def read_texts(path: str) -> list[tuple[str, str]]:
    """(url, text) rows of a corpus parquet, in file order."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["url", "text"])
    return list(zip(t.column("url").to_pylist(), t.column("text").to_pylist()))


def _letters(n: int, width: int = 4) -> str:
    out = []
    for _ in range(width):
        n, r = divmod(n, 26)
        out.append(chr(ord("a") + r))
    return "".join(out)


def query_pool(dictionary: list[tuple[str, int]], n_docs: int, seed: int,
               parse) -> list[Query]:
    """The seeded query pool, drawn from the index's own dictionary
    ``[(term_key, df), ...]`` by df class.  ``parse`` maps a query
    string to its term keys (``SearchEngine.parse_query``); a term is
    only used when its key parses back to itself, so every dictionary
    query resolves."""
    rng = random.Random(seed * 7919 + 1)
    known = {k for k, _ in dictionary}
    usable = sorted((k, df) for k, df in dictionary
                    if k.isalpha() and parse(k) == [k])
    head = [k for k, df in usable if df >= 0.25 * n_docs]
    tail = [k for k, df in usable if df < 0.01 * n_docs]
    mid = [k for k, df in usable if 0.01 * n_docs <= df < 0.25 * n_docs]

    def pick(terms: list[str], n: int) -> list[str]:
        return rng.sample(terms, min(n, len(terms)))

    pool = [Query(t, "head") for t in pick(head, POOL_SIZES["head"])]
    pool += [Query(t, "mid") for t in pick(mid, POOL_SIZES["mid"])]
    pool += [Query(t, "tail") for t in pick(tail, POOL_SIZES["tail"])]
    for _ in range(POOL_SIZES["multi"]):
        n_terms = rng.randint(2, 4)
        terms = [rng.choice(rng.choice((head, mid, tail)) or mid)
                 for _ in range(n_terms)]
        pool.append(Query(" ".join(terms), "multi"))
    for _ in range(POOL_SIZES["title_desc"]):
        title = " ".join(pick(mid, 2))
        desc = " ".join(pick(head + mid, 3) + ["the", "of"])
        pool.append(Query(f"{title}@{desc}", "title_desc"))
    pool += [Query(q, "rule") for q in rng.sample(RULE_QUERIES, POOL_SIZES["rule"])]
    for _ in range(POOL_SIZES["stop"]):
        pool.append(Query(" ".join(rng.sample(STOP_WORDS, 3)), "stop"))
    while sum(q.cls == "ood" for q in pool) < POOL_SIZES["ood"]:
        word = "zq" + _letters(rng.randrange(26 ** 6), 6)
        if not set(parse(word)) & known:
            pool.append(Query(word, "ood"))
    return pool


def query_stream(pool: list[Query], seed: int, length: int = STREAM_LEN) -> list[Query]:
    """The ``CLASS_HALVES`` in turn, each in seeded order; within a
    class, Zipf(s=ZIPF_S) draws over a seeded permutation of its
    queries, so some repeat."""
    rng = random.Random(seed * 104729 + 2)
    by_class = {}
    for c in POOL_SIZES:
        qs = [q for q in pool if q.cls == c]
        rng.shuffle(qs)
        cum = list(itertools.accumulate(1.0 / (r + 1) ** ZIPF_S for r in range(len(qs))))
        by_class[c] = (qs, cum)
    out: list[Query] = []
    while len(out) < length:
        for half in CLASS_HALVES:
            for c in rng.sample(half, len(half)):
                qs, cum = by_class[c]
                if qs:
                    out.append(rng.choices(qs, cum_weights=cum)[0])
    return out[:length]


def stream_shares(issued: list[Query]) -> dict[str, float]:
    """Measured share of each query class and of repeated queries
    (an issue of a query text seen earlier in the run)."""
    n = max(1, len(issued))
    counts = Counter(q.cls for q in issued)
    out = {f"stream.share_{c}": counts.get(c, 0) / n for c in POOL_SIZES}
    out["stream.repeat_share"] = (len(issued) - len({q.text for q in issued})) / n
    return out


@dataclass(frozen=True)
class Delta:
    kind: str            # "upsert" | "delete"
    rows: tuple          # (url, text) pairs; empty for a delete
    probe: str           # query that shows the delta once visible
    expect: tuple        # urls the probe must return (empty: none)


def marker(seed: int, cycle: int) -> str:
    """A term found in no generated page: the probe for one cycle."""
    return f"qxmark{_letters(seed * 1009 + cycle)}"


def crawl_deltas(base: list[tuple[str, str]], seed: int, cycle: int) -> list[Delta]:
    """One crawl cycle: an upsert of ``ADD_DOCS`` new urls plus
    ``UPDATE_DOCS`` re-crawls of base urls (disjoint across cycles),
    then a delete-by-query of every page that upsert wrote."""
    mark = marker(seed, cycle)
    fresh = make_pages(ADD_DOCS + UPDATE_DOCS, seed=1_000_000 + seed * 100 + cycle)
    rng = random.Random(seed * 31 + 3)
    order = rng.sample(range(len(base)), len(base))
    lo = cycle * UPDATE_DOCS
    urls = [p["url"] for p in fresh[:ADD_DOCS]] + [base[i][0] for i in order[lo:lo + UPDATE_DOCS]]
    rows = tuple((u, f"{mark} {p['text']}") for u, p in zip(urls, fresh))
    return [
        Delta("upsert", rows, mark, tuple(sorted(urls))),
        Delta("delete", (), mark, ()),
    ]
