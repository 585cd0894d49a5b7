"""analytics_sf0.01: the 27 queries bench.py times, over seeded tables.

A pass clears the session cache (so the shared DISK_ONLY frames are
rebuilt as in a fresh session), then runs the 19 headline and 8 extra
queries in bench.py's order and collects each result with toPandas().
Collecting, rather than the noop sink, lets the timed execution be the
one checked: after the pass every result is compared with its
``oracle_sql()`` run by DuckDB over the same parquet files.
"""
from __future__ import annotations

import os
import time
from collections import defaultdict

from sparkharvester import registry
from sparkharvester.registry import all_queries
from tools.compare import duck_con

from . import checks, spans
from .passresult import PassResult
from .tables import generate

SF = 0.01
# bench.py's extras, timed after the bench=True headline set
EXTRAS = [
    "dedup_cdc_passages", "text_quality_buckets", "curate_domain_mix",
    "img_caption_spam", "rel_asof_join", "rel_range_join",
    "viz_graph_layout", "crawl_robots_precedence",
]


class AnalyticsWorkload:
    name = "analytics_sf0.01"

    def __init__(self, seed: int, work: str) -> None:
        self.data = os.path.join(work, "tables")
        self.rows = generate(self.data, seed, SF)
        # lazy oracles export data-dependent literals at this directory,
        # as tools/compare.py arranges for its own sf argument
        registry.ORACLE_SF_DIR = self.data
        self.queries = all_queries()
        self.names = sorted(n for n, q in self.queries.items() if q.bench) \
            + sorted(EXTRAS)
        self.con = duck_con(self.data)
        self.frames_mb = 0.0

    def describe(self) -> str:
        return f"{len(self.names)} queries at sf {SF} ({self.rows})"

    def module(self, name: str) -> str:
        return self.queries[name].build.__module__.rsplit(".", 1)[-1]

    def run_pass(self, spark, clock, tracer: "spans.Tracer | None") -> PassResult:
        spark.catalog.clearCache()
        results, steps, cpu = {}, [], 0.0
        start = time.time()
        for name in self.names:
            t0, c0 = time.time(), clock()
            try:
                results[name] = (self.queries[name].build(spark, self.data)
                                 .toPandas(), "")
            except Exception as e:  # noqa: BLE001 — a failed query is a failed op
                results[name] = (None, f"{type(e).__name__}: {e}"[:200])
            t1 = time.time()
            cpu += clock() - c0
            steps.append(t1 - t0)
            if tracer:
                tracer.spans.add(self.module(name), name, t0, t1)
        end = time.time()
        if tracer:
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            self.frames_mb = sum(i.diskSize() + i.memSize()
                                 for i in infos) / (1 << 20)

        ops = [("run:analytics_pass", True, self.describe())]
        for name in self.names:
            pdf, err = results[name]
            ops.append((f"run:query:{name}", pdf is not None, err or "ran"))
            ok, msg = (None, "no result") if pdf is None else \
                checks.query_matches_oracle(
                    pdf, self.queries[name].oracle_sql(), self.con)
            ops.append((f"check:oracle:{name}", ok, msg))
        trace = {"steps": dict(zip(self.names, steps))}
        return PassResult(start, end, cpu, steps, ops, trace)

    def install(self, tracer: "spans.Tracer") -> None:
        """Query spans are recorded by run_pass itself."""

    def layer_metrics(self, tracer: "spans.Tracer", result: PassResult,
                      jobs: list[spans.Job]) -> dict[str, tuple[float, str]]:
        per_query = result.trace["steps"]
        per_module: dict[str, float] = defaultdict(float)
        for name, secs in per_query.items():
            per_module[self.module(name)] += secs
        return {
            **{f"{m}.s": (s, "s") for m, s in per_module.items()},
            **{f"query.{n}.s": (s, "s") for n, s in per_query.items()},
            "analytics.jobs_per_query": (len(jobs) / len(self.names), "count"),
            "cache.frames_mb": (self.frames_mb, "MB"),
            **spans.engine_metrics(jobs),
        }
