"""Write each query's executed plan, with expression ids normalized, so a
refactor can be shown to leave the physical plans unchanged.

Usage: python tools/plan_snapshot.py <out_dir> <sf_dir> [query ...]

With no query names it runs the 27 queries of perfbench's
``analytics_sf0.01`` workload, in that workload's order, in one session
with the cache cleared first, as a benchmark pass does: a query whose
plan reads a sibling's persisted frame shows the ``InMemoryRelation``.
Each query is collected with ``toPandas()``; ``<out_dir>/<query>.txt``
gets the number of Spark jobs and stages the query ran (collects made
while building it included) and then its final adaptive plan.  Run it from two
checkouts on the same ``sf_dir`` and compare the directories with
``diff -r``.

Normalized away: expression and plan ids, and the numbers of adaptive
query stages and whole-stage-codegen subtrees, which follow the order
in which concurrently submitted stages finish and so differ between
runs of the same code.
"""
from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

_IDS = [(re.compile(r"#\d+"), "#"), (re.compile(r"plan_id=\d+"), "plan_id="),
        (re.compile(r"QueryStage \d+"), "QueryStage"),
        (re.compile(r"\*\(\d+\)"), "*")]


def normalized(plan: str) -> str:
    for pat, repl in _IDS:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    out_dir, sf_dir, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    from sparkharvester.registry import all_queries
    from sparkharvester.session import get_spark

    if not names:
        from perfbench.analytics_workload import EXTRAS
        names = sorted(n for n, q in all_queries().items() if q.bench) \
            + sorted(EXTRAS)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_snapshot", master="local[4]", shuffle_partitions=4)
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    tracker = sc.statusTracker()
    spark.catalog.clearCache()
    for name in names:
        sc.setJobGroup(name, name)
        df = all_queries()[name].build(spark, sf_dir)
        df.toPandas()
        plan = df._jdf.queryExecution().executedPlan().toString()
        jobs = tracker.getJobIdsForGroup(name)
        stages = sum(len(tracker.getJobInfo(j).stageIds) for j in jobs)
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(f"jobs={len(jobs)} stages={stages}\n{normalized(plan)}")
    print(f"wrote {len(names)} plans to {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main()
