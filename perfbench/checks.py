"""Correctness checks, each a pure function of already-collected results.

They run outside the timed passes and take plain Python/pandas values,
so selftest.py can feed them corrupted results without a Spark session.
Every check returns ``(ok, message)``.
"""
from __future__ import annotations

from collections import Counter
from urllib.parse import urlparse

import pandas as pd


def crawl_matches_oracle(seen: set, pages: pd.DataFrame, stats: dict,
                         oracle) -> tuple[bool, str]:
    """Final seen set, distinct content-hash set and counters equal the
    sequential oracle's.  Politeness only moves pops between rounds, so
    these are invariant.  Which member of a duplicate-content group wins
    is chosen per round, so under politeness the winner, and with it the
    seed that owns the page, can differ from the parity-mode oracle;
    page URLs and per-seed hash sets are therefore not compared."""
    if seen != oracle.seen_urls:
        return False, (f"seen set differs: {len(seen - oracle.seen_urls)} extra, "
                       f"{len(oracle.seen_urls - seen)} missing")
    got = set(pages["content_hash"])
    want = {r["content_hash"] for r in oracle.results}
    if got != want:
        return False, (f"content hashes differ: {len(got - want)} extra, "
                       f"{len(want - got)} missing")
    if stats != oracle.stats:
        return False, f"counters {stats} != oracle {oracle.stats}"
    return True, f"{len(seen)} seen, {len(pages)} pages"


def politeness_bound(round_deltas: dict[int, list[str]],
                     tokens: int) -> tuple[bool, str]:
    """No host is popped more than *tokens* times in any round; the pops
    of a round are that round's seen_urls delta."""
    worst = (0, None, None)
    for rnd, urls in sorted(round_deltas.items()):
        for host, n in Counter(urlparse(u).netloc for u in urls).items():
            worst = max(worst, (n, rnd, host), key=lambda w: w[0])
    if worst[0] > tokens:
        return False, (f"round {worst[1]}: host {worst[2][:12]}… popped "
                       f"{worst[0]} > {tokens} tokens")
    return True, f"max {worst[0]} pops per host-round, limit {tokens}"


def pages_materialised(pages: pd.DataFrame, n_oracle: int,
                       rounds: tuple[int, int],
                       planned: tuple[int, int]) -> tuple[bool, str]:
    """The pages output holds the oracle's page count, ``seq`` numbers it
    1..N in (depth, url, seed_id) order, and the crawl ran the planned
    number of rounds: *rounds* is (round count after the interrupt,
    round count after the resume)."""
    if len(pages) != n_oracle:
        return False, f"{len(pages)} pages, oracle has {n_oracle}"
    ordered = pages.sort_values(["depth", "url", "seed_id"])
    if ordered["seq"].tolist() != list(range(1, len(pages) + 1)):
        return False, "seq is not 1..N in (depth, url, seed_id) order"
    if rounds != planned:
        return False, f"rounds (interrupt, resume) {rounds}, planned {planned}"
    return True, f"{len(pages)} pages, rounds {rounds}"


class Collected:
    """A collected result in the shape ``tools/compare.compare`` takes
    (it calls ``toPandas()``), so the timed execution is the one checked."""

    def __init__(self, pdf: pd.DataFrame) -> None:
        self._pdf = pdf

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 — Spark's name
        return self._pdf


def query_matches_oracle(pdf: pd.DataFrame, oracle_sql: str,
                         con) -> tuple[bool, str]:
    """The exact comparison of tools/compare.py against DuckDB."""
    from tools.compare import compare

    return compare(Collected(pdf), oracle_sql, con)
