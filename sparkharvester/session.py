"""SparkSession factory tuned for this engine.

Defaults chosen for correctness-parity with the DuckDB oracle (UTC
session timezone, ANSI off) and for scale (AQE on with skew-join
handling, shuffle partitions sized for the local test harness but
overridable for a real cluster via normal Spark conf).

Python workers start from ``sparkharvester.pydaemon`` instead of
``pyspark.daemon`` when executors can import it at daemon start: on a
``local`` master, with ``sparkharvester`` loaded from a plain directory,
whose parent is then put on the workers' ``PYTHONPATH``.  On CPython
3.10-3.12 pyspark's per-task ``importlib.invalidate_caches()`` made
every zip importer re-read ``pyspark.zip`` (about 0.25 s of CPU per
task on a 4-vCPU host); the engine's daemon re-reads an archive only
when its modification time or size changed (see that module for the
versions checked and when an archive is still re-read).  Any other
deploy keeps the stock daemon: a ``--py-files`` zip reaches a worker's
``sys.path`` only per task, after its daemon has started, and a
cluster's executors need not see the driver's directory.
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "sparkharvester",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/sparkharvester_warehouse"))
        # shuffle/spill to tmpfs: on a real cluster every executor brings
        # its own local NVMe, so shuffle bandwidth scales with executor
        # count; a single shared spinning disk would serialize local[N]
        # shuffles and misrepresent multi-executor scaling
        .config("spark.local.dir",
                os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in _with_worker_daemon(master, __file__, extra_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _with_worker_daemon(master: str, module_file: str,
                        extra_conf: dict[str, str] | None) -> dict[str, str]:
    """``extra_conf`` plus the conf that starts Python workers from
    ``sparkharvester.pydaemon`` where executors can import it at daemon
    start.  ``module_file`` is this module's ``__file__``; inside a zip
    it names no file, so the package is not a plain directory."""
    conf = dict(extra_conf or {})
    pkg_dir = os.path.dirname(os.path.abspath(module_file))
    if (master.startswith("local")
            and os.path.isfile(os.path.join(pkg_dir, "pydaemon.py"))):
        conf.setdefault("spark.python.daemon.module", "sparkharvester.pydaemon")
        key = "spark.executorEnv.PYTHONPATH"
        conf[key] = os.pathsep.join(
            p for p in (os.path.dirname(pkg_dir), conf.get(key)) if p)
    return conf


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str):
    """Read one driver-generated parquet table.

    Pins the session timezone to UTC: the testdata timestamps are
    timezone-naive (NTZ), and every time-based query must interpret
    them exactly like the DuckDB oracle does, regardless of how the
    caller built the session."""
    try:
        tz = spark.conf.get("spark.sql.session.timeZone")
    except Exception:  # noqa: BLE001 — unset/invalid on exotic sessions
        tz = None
    if tz != "UTC":
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def row_count(sf_dir: str, name: str) -> int:
    """Row count of one driver-generated table from its parquet footers
    — no Spark job, unlike ``load(...).count()``."""
    import pyarrow.dataset as ds

    return ds.dataset(f"{sf_dir}/{name}.parquet", format="parquet").count_rows()


def load_spread(spark: SparkSession, sf_dir: str, name: str):
    """spread(load())."""
    return spread(load(spark, sf_dir, name))


def spread(df):
    """Repartition *df* round-robin to the session's parallelism.

    The driver testdata tables are SINGLE parquet files with one row
    group, so Spark scans them as ONE partition — every downstream
    CPU-heavy stage (regex forests, keyword folds, shingling, pandas
    UDFs) would run on one core.  An explicit round-robin repartition
    of the few-MB input costs microseconds and unlocks all cores.  At
    100 TB this is a no-op concern: real tables have thousands of
    splits, and this repartition would simply be omitted (or bounded
    by `spark.sql.files.maxPartitionBytes`)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)
