"""The benchmark's own tests, at a tiny size and without Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import inputs, workloads  # noqa: E402
from perfbench.checks import mismatch  # noqa: E402
from perfbench.measure import Tracer, tail  # noqa: E402

DICTIONARY = [(f"w{chr(97 + i % 26)}{chr(97 + i // 26)}", 1 + (i * 37) % 400) for i in range(300)]


def _parse(text: str) -> list[str]:
    return sorted({w.lower() for w in text.replace("@", " ").split()
                   if w.isalpha() and w.lower() not in inputs.STOP_WORDS})


def test_corpus_is_deterministic_per_seed(tmp_path):
    a = inputs.read_texts(inputs.corpus_parquet(str(tmp_path / "a"), 20, 3))
    b = inputs.read_texts(inputs.corpus_parquet(str(tmp_path / "b"), 20, 3))
    c = inputs.read_texts(inputs.corpus_parquet(str(tmp_path / "c"), 20, 4))
    assert a == b
    assert a != c
    assert len(a) == 20


def test_query_pool_and_stream_are_deterministic_per_seed():
    pool = inputs.query_pool(DICTIONARY, 400, 7, _parse)
    assert pool == inputs.query_pool(DICTIONARY, 400, 7, _parse)
    assert pool != inputs.query_pool(DICTIONARY, 400, 8, _parse)
    assert {q.cls for q in pool} == set(inputs.POOL_SIZES)
    s = inputs.query_stream(pool, 7, 200)
    assert s == inputs.query_stream(pool, 7, 200)
    shares = inputs.stream_shares(s)
    assert shares["stream.repeat_share"] > 0
    assert sum(v for k, v in shares.items() if k.startswith("stream.share_")) == pytest.approx(1)


def test_crawl_deltas_are_deterministic_and_recrawl_disjoint_urls():
    base = [(f"https://example.org/9/{i:07d}", "text") for i in range(100)]
    d0 = inputs.crawl_deltas(base, 5, 0)
    assert d0 == inputs.crawl_deltas(base, 5, 0)
    d1 = inputs.crawl_deltas(base, 5, 1)
    base_urls = {u for u, _ in base}
    re0 = {u for u, _ in d0[0].rows} & base_urls
    re1 = {u for u, _ in d1[0].rows} & base_urls
    assert len(re0) == len(re1) == inputs.UPDATE_DOCS
    assert not re0 & re1
    assert len(d0[0].rows) - len(re0) == inputs.ADD_DOCS
    assert d0[0].probe == d0[1].probe != d1[0].probe
    assert all(d0[0].probe in text for _, text in d0[0].rows)


def test_tail_reports_percentile_and_sample_count():
    assert tail(list(range(1, 31))) == (20, pytest.approx(100 * 20 / 30), 30)
    value, pct, n = tail([float(x) for x in range(100)])
    assert (value, n) == (89.0, 100)
    assert sum(x > value for x in range(100)) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_wrong_expected_result_counts_as_failure(monkeypatch, tmp_path):
    served = [(1, "u1", 2.5), (2, "u2", 1.5)]
    wrong = {"right": served, "swapped": [(1, "u2", 2.5), (2, "u1", 1.5)],
             "score": [(1, "u1", 2.5), (2, "u2", 1.5 + 1e-6)]}
    monkeypatch.setattr(workloads, "twin_topk",
                        lambda spark, cases, k: [wrong[q] for _, q in cases])
    run = workloads.Run(None, Tracer(False), 1, 1.0, str(tmp_path), "", [])
    recs = [workloads.Issued(inputs.Query(q, "mid"), rows=served) for q in wrong]
    run.check_queries(recs)
    assert len(run.failures) == 2
    assert mismatch(served, served) is None
    assert mismatch(served, served[:1])


def test_tracer_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("a.outer", request="r1"):
        with tr.span("b.inner"):
            pass
    inner, outer = tr.spans
    assert inner.parent == outer.id and inner.request == "r1"
    self_s = tr.self_seconds_by_layer()
    assert self_s["a"] == pytest.approx(outer.seconds - inner.seconds)
    assert Tracer(False).spans == []
