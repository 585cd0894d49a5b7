#!/usr/bin/env python3
"""Run one benchmark workload and print one JSON result line.

Usage, from the repository root:

  python3 perfbench/run.py --workload crawl_polite_resume --seed 1 \
      --seconds 10 --trace 0

A run pins its environment, starts a local[N] session (N = min(4,
nproc)), primes it, prepares the workload's inputs from --seed, then
times whole passes until --seconds of passes have been measured (one
pass already exceeds that on a 4-core host).  Every pass's outputs are
checked after the pass.  --trace 0 reports the end-to-end metrics of
BENCHMARK.json; --trace 1 enables Spark's event log and the timing
spans and reports the per-layer metrics instead.  All files live in
.perfbench_work/<pid>/ under the repository root and are removed at the
end; the session's JVM and Python workers are stopped and waited for.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKERS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pin_hash_seed() -> None:
    """Re-exec under PYTHONHASHSEED=0: str hashing, hence set and dict
    order, then repeats in this process and in the workers it spawns."""
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.execve(sys.executable,
                  [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
                  {**os.environ, "PYTHONHASHSEED": "0"})


def pin_environment(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's own work directory, and make the workers import this tree."""
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    tempfile.tempdir = None


def prime(spark) -> None:
    """bench.py's warm-up: one JVM job, then one Arrow Python worker per
    core, so the first pass does not pay for spawning them."""
    from pyspark.sql import functions as F

    spark.range(1_000_000).selectExpr("sum(id)").collect()

    @F.pandas_udf("long")
    def same(s: pd.Series) -> pd.Series:
        return s

    spark.range(WORKERS * 10_000).repartition(WORKERS) \
        .select(same(F.col("id"))).write.format("noop").mode("overwrite").save()


def stop(spark) -> None:
    """Stop the session, then close the JVM's stdin so it exits, and
    wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, spec: dict, work: str) -> dict:
    from perfbench import analytics_workload, crawl_workload, procstat, spans
    from sparkharvester.session import get_spark

    workloads = {w.name: w for w in (crawl_workload.CrawlWorkload,
                                     analytics_workload.AnalyticsWorkload)}
    log_dir = os.path.join(work, "eventlog")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if args.trace:
        conf.update(spans.EVENTLOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir})
    spark = get_spark("perfbench", master=f"local[{WORKERS}]",
                      shuffle_partitions=WORKERS, extra_conf=conf)
    pids: list[int] = []
    try:
        spark.sparkContext.setLogLevel("ERROR")
        prime(spark)
        workload = workloads[args.workload](args.seed, work)
        tracer = spans.Tracer(spark) if args.trace else None
        if tracer:
            workload.install(tracer)
        setup_s = procstat.process_age()
        log(f"{args.workload} seed {args.seed}: {workload.describe()}; "
            f"local[{WORKERS}], setup {setup_s:.2f}s")
        passes = []
        while not passes or sum(p.wall for p in passes) < args.seconds:
            steal0 = procstat.steal_seconds()
            result = workload.run_pass(spark, procstat.tree_cpu_seconds, tracer)
            passes.append(result)
            log(f"pass {len(passes)}: wall {result.wall:.3f}s "
                f"cpu {result.cpu:.3f}s steal "
                f"{procstat.steal_seconds() - steal0:.2f}s")
        if tracer:
            tracer.spans.restore()
        pids = procstat.descendants()
    finally:
        stop(spark)
        procstat.reap(pids)

    ops = [op for p in passes for op in p.ops]
    for name, ok, msg in ops:
        log(f"{({True: 'ok', False: 'FAILED'}).get(ok, 'NOT RUN')} {name}: {msg}")
    out = {
        # a check with no result to check (ok None) counts as failed
        # but does not make the outputs that exist incorrect
        "correct": not any(ok is False for name, ok, _ in ops
                           if name.startswith("check:")),
        "attempted": len(ops),
        "failed": sum(ok is not True for _, ok, _ in ops),
    }
    if args.trace:
        first = passes[0]
        jobs = spans.parse_jobs(spans.eventlog_file(log_dir))
        spans.attribute(jobs, tracer.spans)
        measured = workload.layer_metrics(
            tracer, first, spans.within(jobs, first.start, first.end))
        log(f"traced pass_s {first.wall:.3f}")
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unlisted = {n for n, (_, unit) in measured.items() if units.get(n) != unit}
        if unlisted:
            raise RuntimeError(f"not in BENCHMARK.json with this unit: {unlisted}")
        # a layer this workload never enters did no work: it reads 0
        metrics = {m["name"]: {"value": measured.get(m["name"], (0.0,))[0],
                               "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(p.wall for p in passes),
            "step_p50_s": statistics.median(s for p in passes for s in p.steps),
            "cpu_s": statistics.median(p.cpu for p in passes),
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    out["metrics"] = metrics
    return out


def main() -> int:
    pin_hash_seed()
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    # import the package from the tree root, not this directory
    sys.path[0] = ROOT
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        parser.error(f"unknown workload {args.workload!r}")
    import sparkharvester  # noqa: F401 — fail before any work without it

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    pin_environment(work)
    try:
        result = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass   # another run still owns a work directory
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
