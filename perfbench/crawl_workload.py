"""crawl_polite_resume: a politeness-mode crawl, interrupted and resumed.

Inputs from the seed: a synthetic host graph of HOSTS hosts
(SynthConfig seed = --seed), one seed URL per host, depth 1.  The token
limit is derived from the seed's own graph so that depth 1 always spans
exactly two rounds: the busiest host has between tokens+1 and 2*tokens
depth-1 candidates.  Every pass is three rounds: round 0, an interrupt
(``stop_after_round=0``), then a resume that runs rounds 1 and 2 and
materialises the pages output.
"""
from __future__ import annotations

import glob
import json
import math
import os
import shutil
import time
from collections import Counter
from urllib.parse import urlparse

import pandas as pd
import pyarrow.parquet as pq

from sparkharvester import frontier, storage
from sparkharvester.frontier import CrawlConfig, run_crawl
from sparkharvester.oracle import crawl_oracle
from sparkharvester.seen import load_sketch
from sparkharvester.synth import SynthConfig, seed_urls

from . import checks, spans
from .passresult import PassResult

HOSTS = 96
PAGES_PER_HOST = 40
FANOUT = 6
MAX_DEPTH = 1
MAX_PAGES = 100_000          # above any seed's reach: politeness only delays
ROUNDS = 3                   # round 0, then depth 1 over two rounds
FP_PROBES = 1_000_000


class CrawlWorkload:
    name = "crawl_polite_resume"

    def __init__(self, seed: int, work: str) -> None:
        self.work = work
        self.synth = SynthConfig(n_hosts=HOSTS, pages_per_host=PAGES_PER_HOST,
                                 fanout=FANOUT, seed=seed)
        self.seeds = seed_urls(self.synth)
        self.oracle = crawl_oracle(self.seeds, self.synth, max_depth=MAX_DEPTH,
                                   max_pages=MAX_PAGES)
        self.tokens = _two_round_tokens(self.oracle.seen_urls, self.seeds)
        self.passes = 0

    def config(self, root: str, **kw) -> CrawlConfig:
        return CrawlConfig(max_depth=MAX_DEPTH, max_pages=MAX_PAGES,
                           host_tokens_per_round=self.tokens, use_bloom=True,
                           checkpoint_dir=root, **kw)

    def describe(self) -> str:
        return (f"{HOSTS} hosts x {PAGES_PER_HOST} pages, depth {MAX_DEPTH}, "
                f"{self.tokens} tokens/host/round, "
                f"{len(self.oracle.results)} oracle pages")

    # -- one pass ------------------------------------------------------------

    def run_pass(self, spark, clock, tracer: "spans.Tracer | None") -> PassResult:
        root = os.path.join(self.work, f"ckpt-{self.passes}")
        self.passes += 1
        t0, c0 = time.time(), clock()
        first = run_crawl(spark, self.seeds, self.synth,
                          self.config(root, stop_after_round=0))
        t_resume = time.time()
        out = run_crawl(spark, self.seeds, self.synth, self.config(root),
                        resume_from=root)
        pages = out.pages.toPandas()
        t1, c1 = time.time(), clock()
        if tracer:
            tracer.spans.add("frontier", "run_crawl", t0, t_resume)
            tracer.spans.add("frontier", "run_crawl", t_resume, t1)

        commits = [m["committed_at"] for m in _manifests(root)]
        steps = [b - a for a, b in zip(commits, commits[1:])]
        deltas = _seen_deltas(root)
        seen = {pair for pairs in deltas.values() for pair in pairs}
        ops = [
            ("run:crawl_pass", True, self.describe()),
            ("check:oracle",) + checks.crawl_matches_oracle(
                seen, pages, out.stats, self.oracle),
            ("check:politeness",) + checks.politeness_bound(
                {r: [u for _, u in pairs] for r, pairs in deltas.items()},
                self.tokens),
            ("check:pages",) + checks.pages_materialised(
                pages, len(self.oracle.results), (first.rounds, out.rounds),
                (1, ROUNDS)),
        ]
        trace = self._trace(root, t_resume, t1, commits, out.stats) \
            if tracer else {}
        shutil.rmtree(root, ignore_errors=True)
        return PassResult(t0, t1, c1 - c0, steps, ops, trace)

    # -- traced run ------------------------------------------------------------

    def install(self, tracer: "spans.Tracer") -> None:
        s = tracer.spans
        for attr in ("write", "write_delta", "commit", "read", "read_deltas",
                     "load_manifest"):
            s.wrap(storage.SnapshotStore, attr, "storage")
        for attr in ("build_bloom", "save_sketch", "load_sketch"):
            s.wrap(frontier, attr, "seen")
        tracer.wrap_fetch_stage(frontier)

    def _trace(self, root, t_resume, t_end, commits, stats) -> dict:
        loaded = load_sketch(root, len(commits) - 1)
        fp_rate = 0.0
        if loaded is not None:
            probes = pd.Series([f"{HOSTS + 1}|http://never-seen-{i}.onion/"
                                for i in range(FP_PROBES)])
            fp_rate = float(loaded[0].contains_series(probes).mean())
        pops = sum(v for k, v in stats.items() if k.startswith("pages_"))
        return {
            "rounds": len(commits),
            "resume_s": commits[1] - t_resume if len(commits) > 1 else 0.0,
            "finish_s": t_end - commits[-1],
            "state_mb": _du(root) / (1 << 20),
            "fp_rate": fp_rate,
            "pops": pops,
        }

    def layer_metrics(self, tracer: "spans.Tracer", result: PassResult,
                      jobs: list[spans.Job]) -> dict[str, tuple[float, str]]:
        t = result.trace
        s = tracer.spans
        rounds = t["rounds"]
        fetch_rows, fetch_s = tracer.fetch_counters()
        return {
            "frontier.jobs_per_round": (len(jobs) / rounds, "count"),
            "frontier.tasks_per_round": (sum(j.tasks for j in jobs) / rounds,
                                         "count"),
            "frontier.round_job_s": (sum(j.seconds for j in jobs
                                         if j.layer == "frontier"), "s"),
            "frontier.resume_s": (t["resume_s"], "s"),
            "frontier.finish_s": (t["finish_s"], "s"),
            "storage.write_s": (s.total("storage", ("write", "write_delta")), "s"),
            "storage.commit_s": (s.total("storage", ("commit",)), "s"),
            "storage.read_s": (s.total("storage", ("read", "read_deltas",
                                                   "load_manifest")), "s"),
            "storage.state_mb": (t["state_mb"], "MB"),
            "seen.sketch_s": (s.total("seen"), "s"),
            "seen.fp_rate": (t["fp_rate"], "ratio"),
            "synth.fetch_rows_per_page": (fetch_rows / max(t["pops"], 1), "ratio"),
            "synth.fetch_s": (fetch_s, "s"),
            **spans.engine_metrics(jobs),
        }


def _two_round_tokens(seen: set, seeds: list[str]) -> int:
    """Tokens that make depth 1 take exactly two rounds: ceil(max/2) over
    the per-host depth-1 pops (all candidates pop: MAX_PAGES is out of
    reach)."""
    depth0 = {(i, u) for i, u in enumerate(seeds)}
    per_host = Counter(urlparse(u).netloc for s, u in seen
                       if (s, u) not in depth0)
    busiest = max(per_host.values())
    if busiest < 2:
        raise ValueError("seed graph too small for a two-round depth")
    return math.ceil(busiest / 2)


def _manifests(root: str) -> list[dict]:
    out = []
    for path in sorted(glob.glob(os.path.join(root, "manifest-r*.json"))):
        with open(path) as f:
            out.append(json.load(f))
    return out


def _seen_deltas(root: str) -> dict[int, list[tuple[int, str]]]:
    """Each round's seen_urls delta: the (seed_id, canon_url) it popped."""
    out = {}
    for path in glob.glob(os.path.join(root, "seen_urls", "delta-r*")):
        t = pq.read_table(path, columns=["seed_id", "canon_url"])
        out[int(os.path.basename(path)[len("delta-r"):])] = list(
            zip(t["seed_id"].to_pylist(), t["canon_url"].to_pylist()))
    return out


def _du(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)
