"""Scalable global sequence assignment.

``Window.orderBy(...)`` with no ``partitionBy`` collapses the whole
table into ONE task — fine at 3k rows, a scale-killer at 10^10
(VERDICT r1 #1).  ``attach_global_seq`` produces the identical
row_number with bounded per-task work:

 1. range-partition on the order key (P ≈ shuffle partitions), sort
    within partitions — together a total order across partitions;
 2. materialize (localCheckpoint) so the sampled range boundaries are
    FIXED across the two passes below (range partitioning re-samples
    per job otherwise; on a real cluster this step is the already-
    written Iceberg/parquet snapshot of the table);
 3. count rows per partition (P tiny rows to the driver), prefix-sum
    into per-partition offsets, broadcast;
 4. one mapInPandas pass enumerates rows locally and adds the offset —
    no further shuffle, no single-task stage.

Per-task cost is O(rows/P); driver cost is O(P).
"""
from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


# Below this row count the single-task global window is CHEAPER than the
# range-shuffle + localCheckpoint + counts-job machinery (ADVICE r2: the
# eager checkpoint cost the crawl path ~20% at CLI-sized outputs).  A few
# million small rows sort in one task in well under a second; the
# scalable path only wins when the table is genuinely too big for that.
SEQ_WINDOW_THRESHOLD = 2_000_000


def attach_global_seq(
    df: DataFrame,
    order_cols: list[str],
    out_col: str = "seq",
    num_partitions: int | None = None,
    known_count: int | None = None,
) -> DataFrame:
    """Equivalent of ``row_number().over(Window.orderBy(*order_cols))``
    (1-based, total order) without the single-task global window.

    Ties across partition boundaries get an arbitrary relative order —
    pass a key that is unique per row for deterministic output.

    *known_count*: row count already known driver-side (e.g. from crawl
    counters).  When it is ≤ ``SEQ_WINDOW_THRESHOLD`` the plain window
    runs instead — identical output, none of the checkpoint/extra-job
    overhead that only pays for itself at large scale.
    """
    spark = df.sparkSession
    if known_count is not None and known_count <= SEQ_WINDOW_THRESHOLD:
        from pyspark.sql.window import Window

        w = Window.orderBy(*order_cols)
        return df.withColumn(out_col,
                             F.row_number().over(w).cast(LongType()))
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    # repartitionByRange runs a SEPARATE range-boundary sampling job
    # that fully evaluates the input before the shuffle evaluates it
    # again — for callers whose input is an expensive projection the
    # upstream pipeline ran twice (round-6 audit).  Cache the input
    # DISK_ONLY so sample + shuffle read one materialization; the eager
    # localCheckpoint below owns the data afterwards, so the cache is
    # dropped immediately.
    df = df.persist(StorageLevel.DISK_ONLY)
    ranged = (
        df.repartitionByRange(num_partitions, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    df.unpersist()
    counts = {
        r["__pid"]: r["cnt"]
        for r in ranged.groupBy("__pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    offsets_bc = spark.sparkContext.broadcast(offsets)

    schema = StructType(list(df.schema.fields) + [StructField(out_col, LongType())])

    def number(batches):
        base = None
        done = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if base is None:
                base = offsets_bc.value.get(int(pdf["__pid"].iloc[0]), 0)
            pdf = pdf.drop(columns=["__pid"])
            pdf[out_col] = range(base + done + 1, base + done + 1 + len(pdf))
            done += len(pdf)
            yield pdf

    return ranged.mapInPandas(number, schema)


def attach_grouped_prefix(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    succ_col: str,
    cum_col: str,
    idx_col: str,
    num_partitions: int | None = None,
    known_count: int | None = None,
) -> DataFrame:
    """Scalable equivalent of the per-group window pair

        ``cum_col = sum(succ) OVER (PARTITION BY group ORDER BY order
                     ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)`` (0-filled)
        ``idx_col = row_number() OVER (same window)``

    without ever giving one task a whole group's rows (VERDICT r2 noted
    the per-seed cap window as the remaining single-task-per-key sort if
    a seed's round candidates explode).  Same machinery as
    ``attach_global_seq``: range-partition on (group, *order) — a big
    group spans several contiguous partitions — then per-(partition,
    group) counts/sums prefix-summed on the driver (P × n_groups tiny
    rows) and applied in one mapInPandas pass.  Deterministic for
    per-row-unique (group, *order) keys.

    *known_count*: a row count (or cheap UPPER BOUND, e.g. the parquet
    row count of the table the input derives from) already known
    driver-side.  At or below ``SEQ_WINDOW_THRESHOLD`` the plain window
    pair runs instead — identical values, none of the checkpoint/extra-
    job machinery that only pays for itself at scale (the same
    scale-adaptive device ``attach_global_seq`` ships; the window-path
    == prefix-path equality is pinned by
    tests/test_crawl_features.py::test_grouped_prefix_matches_window).
    """
    from collections import defaultdict

    spark = df.sparkSession
    if known_count is not None and known_count <= SEQ_WINDOW_THRESHOLD:
        from pyspark.sql.window import Window

        w = Window.partitionBy(group_col).orderBy(*order_cols)
        return df.withColumn(
            cum_col,
            F.coalesce(
                F.sum(F.col(succ_col).cast("long")).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast(LongType()),
            ),
        ).withColumn(idx_col, F.row_number().over(w).cast(LongType()))
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    keys = [group_col, *order_cols]
    # same sampling-job double-evaluation guard as attach_global_seq:
    # one DISK_ONLY materialization feeds both the range-boundary
    # sample and the shuffle, then drops once the checkpoint owns it.
    df = df.persist(StorageLevel.DISK_ONLY)
    ranged = (
        df.repartitionByRange(num_partitions, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    df.unpersist()
    stats = ranged.groupBy("__pid", group_col).agg(
        F.count("*").alias("cnt"),
        F.sum(F.col(succ_col).cast("long")).alias("s"),
    ).collect()
    acc: dict = defaultdict(lambda: (0, 0))   # group -> (idx_off, cum_off)
    offsets: dict = {}                        # (pid, group) -> (idx, cum)
    for r in sorted(stats, key=lambda r: r["__pid"]):
        g = r[group_col]
        offsets[(int(r["__pid"]), g)] = acc[g]
        i0, c0 = acc[g]
        acc[g] = (i0 + int(r["cnt"]), c0 + int(r["s"] or 0))
    offsets_bc = spark.sparkContext.broadcast(dict(offsets))

    schema = StructType(list(df.schema.fields)
                        + [StructField(cum_col, LongType()),
                           StructField(idx_col, LongType())])

    def prefix(batches):
        import pandas as pd

        state: dict = {}   # group -> (next_idx, running_cum) within partition
        pid = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if pid is None:
                pid = int(pdf["__pid"].iloc[0])
            idx_out, cum_out = [], []
            for g, succ in zip(pdf[group_col], pdf[succ_col]):
                if g not in state:
                    state[g] = offsets_bc.value.get((pid, g), (0, 0))
                i, c = state[g]
                idx_out.append(i + 1)
                cum_out.append(c)                  # EXCLUSIVE prefix sum
                state[g] = (i + 1, c + int(succ))
            pdf = pdf.drop(columns=["__pid"])
            pdf[cum_col] = pd.Series(cum_out, index=pdf.index, dtype="int64")
            pdf[idx_col] = pd.Series(idx_out, index=pdf.index, dtype="int64")
            yield pdf

    return ranged.mapInPandas(prefix, schema)
