"""Correctness checks against the engine's independent twins."""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

SCORE_TOL = 1e-9   # the tolerance the engine's own twin tests use


def mismatch(got: list[tuple[int, str, float]],
             want: list[tuple[int, str, float]]) -> str | None:
    """None when two rank-ordered top-k lists agree (same ranks and
    urls, scores within ``SCORE_TOL``), else a one-line reason."""
    if [(r, u) for r, u, _ in got] != [(r, u) for r, u, _ in want]:
        return f"ranks/urls differ: got {got[:3]}... want {want[:3]}..."
    for (r, u, gs), (_, _, ws) in zip(got, want):
        if abs(gs - ws) > SCORE_TOL:
            return f"score of rank {r} {u}: got {gs!r} want {ws!r}"
    return None


def topk_rows(rows) -> list[tuple[int, str, float]]:
    return sorted((int(r["rank"]), r["url"], float(r["score"])) for r in rows)


def twin_topk(spark, cases: list[tuple], k: int, workers: int = 4) -> list[list]:
    """Expected top-k for each ``(engine, query)`` case from
    ``twin.twin_bm25_topk`` (the relational path over live raw
    postings, independent of the codec and the pack/unpack code),
    ``workers`` cases at a time."""
    from search_engine_spark.twin import twin_bm25_topk

    with ThreadPoolExecutor(max_workers=workers) as pool:
        rows = pool.map(lambda c: twin_bm25_topk(spark, c[0], c[1], k).collect(), cases)
        return [topk_rows(rs) for rs in rows]
