#!/usr/bin/env python3
"""Show that every benchmark check passes a true result and fails a
corrupted one.  No Spark session is needed: the true results come from
the same independent computations the checks compare against (the
sequential crawl oracle, DuckDB), and each case corrupts one thing.

Usage, from the repository root:  python3 perfbench/selftest.py
Prints one line per case; exits 1 if any check misjudges its input.
"""
from __future__ import annotations

import os
import shutil
import sys
from collections import defaultdict
from urllib.parse import urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[0] = ROOT

import pandas as pd  # noqa: E402

from perfbench import checks  # noqa: E402
from perfbench.tables import generate  # noqa: E402
from sparkharvester.oracle import crawl_oracle  # noqa: E402
from sparkharvester.synth import SynthConfig, seed_urls  # noqa: E402

# queries whose oracle is static SQL over the generated tables: an
# aggregate, a per-hour rollup and a per-row string transform
QUERIES = ("rel_pricing_summary", "events_hourly", "x1_canonicalize")


def crawl_cases():
    synth = SynthConfig(n_hosts=12, pages_per_host=40, fanout=6, seed=3)
    seeds = seed_urls(synth)
    oracle = crawl_oracle(seeds, synth, max_depth=1, max_pages=100_000)
    seen, stats = set(oracle.seen_urls), dict(oracle.stats)
    pages = pd.DataFrame(oracle.results)
    n = len(pages)

    yield "oracle: true result", True, checks.crawl_matches_oracle(
        seen, pages, stats, oracle)
    yield "oracle: one page dropped", False, checks.crawl_matches_oracle(
        seen, pages.iloc[1:], stats, oracle)
    yield "oracle: one seen url dropped", False, checks.crawl_matches_oracle(
        seen - {next(iter(sorted(seen)))}, pages, stats, oracle)
    yield "oracle: one counter off by one", False, checks.crawl_matches_oracle(
        seen, pages, {**stats, "pages_failed": stats["pages_failed"] + 1},
        oracle)
    changed = pages.copy()
    changed.loc[0, "content_hash"] = "0" * 64
    yield "oracle: one page's content changed", False, \
        checks.crawl_matches_oracle(seen, changed, stats, oracle)

    yield "pages: true result", True, checks.pages_materialised(
        pages, n, (1, 3), (1, 3))
    yield "pages: one page dropped", False, checks.pages_materialised(
        pages.iloc[:-1], n, (1, 3), (1, 3))
    swapped = pages.copy()
    swapped.loc[[0, 1], "seq"] = swapped.loc[[1, 0], "seq"].to_numpy()
    yield "pages: two seq values swapped", False, checks.pages_materialised(
        swapped, n, (1, 3), (1, 3))
    yield "pages: interrupt did not stop", False, checks.pages_materialised(
        pages, n, (3, 3), (1, 3))

    # rounds of at most `tokens` pops per host, as the engine commits them
    tokens = 3
    rounds: dict[int, list[str]] = defaultdict(list)
    used: dict[tuple[int, str], int] = defaultdict(int)
    for _, url in sorted(seen, key=lambda r: (r[1], r[0])):
        host, rnd = urlparse(url).netloc, 0
        while used[(rnd, host)] >= tokens:
            rnd += 1
        used[(rnd, host)] += 1
        rounds[rnd].append(url)
    yield "politeness: true rounds", True, checks.politeness_bound(
        dict(rounds), tokens)
    busy = urlparse(rounds[0][0]).netloc
    over = {**rounds, 0: rounds[0] + [f"http://{busy}/extra"] * tokens}
    yield "politeness: one host over its tokens", False, \
        checks.politeness_bound(over, tokens)


def query_cases(data: str):
    from sparkharvester import registry
    from sparkharvester.registry import all_queries
    from tools.compare import duck_con

    generate(data, seed=5, sf=0.001)
    registry.ORACLE_SF_DIR = data
    con = duck_con(data)
    queries = all_queries()
    for name in QUERIES:
        sql = queries[name].oracle_sql()
        truth = con.sql(sql).df()
        yield f"{name}: true result", True, checks.query_matches_oracle(
            truth, sql, con)
        yield f"{name}: one row dropped", False, checks.query_matches_oracle(
            truth.iloc[1:], sql, con)
        changed = truth.copy()
        col = next((c for c in changed.columns
                    if changed[c].dtype.kind == "f"), changed.columns[-1])
        if changed[col].dtype.kind == "f":
            changed.loc[0, col] += 0.01
        else:
            changed.loc[0, col] = f"{changed.loc[0, col]}x"
        yield f"{name}: one value of {col} changed", False, \
            checks.query_matches_oracle(changed, sql, con)


def main() -> int:
    data = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    bad = 0
    try:
        for case, want, (ok, msg) in (*crawl_cases(), *query_cases(data)):
            good = ok is want
            bad += not good
            print(f"{'ok ' if good else 'BAD'} {case}: check says "
                  f"{'pass' if ok else 'fail'} ({msg})")
    finally:
        shutil.rmtree(data, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(data))
        except OSError:
            pass
    print(f"{bad} check(s) misjudged their input" if bad
          else "every check passes true results and fails corrupted ones")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
