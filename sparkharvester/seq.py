"""Scale-adaptive numbering: row numbers, exclusive running sums and
group sizes within ordered groups, without a single-task window.

``Window.orderBy(...)`` with no ``partitionBy`` collapses the whole
table into ONE task — fine at 3k rows, a scale-killer at 10^10
(VERDICT r1 #1); a per-group window does the same to a dominant group.
``attach_grouped_prefix`` is the one primitive behind the canonical
crawl sequence (SURVEY §3.1), the per-seed cap window, the shard
packers and the per-language quality ranks.  Above
``SEQ_WINDOW_THRESHOLD`` rows it bounds per-task work:

 1. range-partition on (group, *order) (P ≈ shuffle partitions), sort
    within partitions — a total order across partitions, with a big
    group spanning several contiguous partitions;
 2. materialize (localCheckpoint) so the sampled range boundaries are
    FIXED across the two passes below (range partitioning re-samples
    per job otherwise; on a real cluster this step is the already-
    written Iceberg/parquet snapshot of the table);
 3. count and sum rows per (partition, group) (P × groups tiny rows to
    the driver), prefix-sum into per-(partition, group) offsets and
    per-group totals, broadcast;
 4. one vectorized mapInPandas pass numbers rows locally, carrying
    each group's running count and sum from one Arrow batch to the
    next — no further shuffle, no single-task stage.

Per-task cost is O(rows/P); driver cost is O(P × groups).
"""
from __future__ import annotations

from collections import defaultdict

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType


# Below this row count the single-task window is CHEAPER than the
# range-shuffle + localCheckpoint + counts-job machinery (ADVICE r2: the
# eager checkpoint cost the crawl path ~20% at CLI-sized outputs).  A few
# million small rows sort in one task in well under a second; the
# scalable path only wins when the table is genuinely too big for that.
SEQ_WINDOW_THRESHOLD = 2_000_000


def attach_grouped_prefix(
    df: DataFrame,
    group_col: str | None,
    order_cols: list[str],
    idx_col: str,
    sum_col: str | None = None,
    cum_col: str | None = None,
    count_col: str | None = None,
    num_partitions: int | None = None,
    known_count: int | None = None,
) -> DataFrame:
    """Scalable equivalent of the per-group window columns

        ``idx_col = row_number() OVER (PARTITION BY group ORDER BY order)``
        ``cum_col = sum(sum_col) OVER (same window
                     ROWS UNBOUNDED PRECEDING TO 1 PRECEDING)`` (0-filled)
        ``count_col = count(*) OVER (PARTITION BY group)``

    all BIGINT.  ``idx_col`` is always added; ``cum_col`` only when
    *sum_col* is given (both or neither), ``count_col`` only when named.
    ``group_col=None`` numbers the whole frame as one group.  Ties
    across partition boundaries get an arbitrary relative order — pass
    per-row-unique (group, *order) keys for deterministic output.

    *known_count*: a row count (or cheap UPPER BOUND, e.g. the parquet
    row count of the table the input derives from) already known
    driver-side.  At or below ``SEQ_WINDOW_THRESHOLD`` the plain window
    runs instead — identical values, none of the checkpoint/extra-job
    machinery that only pays for itself at scale (the equality of the
    two paths is pinned by
    tests/test_crawl_features.py::test_grouped_prefix_matches_window).
    """
    if (sum_col is None) != (cum_col is None):
        raise ValueError("sum_col and cum_col go together")
    spark = df.sparkSession
    groups = [group_col] if group_col is not None else []
    succ = F.col(sum_col).cast(LongType()) if sum_col else F.lit(0)
    if known_count is not None and known_count <= SEQ_WINDOW_THRESHOLD:
        from pyspark.sql.window import Window

        part = Window.partitionBy(*groups)
        w = part.orderBy(*order_cols)
        if sum_col:
            df = df.withColumn(cum_col, F.coalesce(
                F.sum(succ).over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast(LongType()),
            ))
        df = df.withColumn(idx_col, F.row_number().over(w).cast(LongType()))
        if count_col:
            df = df.withColumn(count_col, F.count("*").over(part))
        return df
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))

    keys = [*groups, *order_cols]
    # repartitionByRange runs a SEPARATE range-boundary sampling job
    # that fully evaluates the input before the shuffle evaluates it
    # again — for callers whose input is an expensive projection the
    # upstream pipeline ran twice (round-6 audit).  Cache the input
    # DISK_ONLY so sample + shuffle read one materialization; the eager
    # localCheckpoint below owns the data afterwards, so the cache is
    # dropped immediately.
    df = df.persist(StorageLevel.DISK_ONLY)
    ranged = (
        df.repartitionByRange(num_partitions, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    df.unpersist()
    stats = ranged.groupBy("__pid", *groups).agg(
        F.count("*").alias("cnt"), F.sum(succ).alias("s")).collect()
    acc: dict = defaultdict(lambda: (0, 0))   # group -> (rows, sum) so far
    offsets: dict = {}                        # (pid, group) -> (rows, sum)
    for r in sorted(stats, key=lambda r: r["__pid"]):
        g = r[group_col] if group_col is not None else None
        offsets[(r["__pid"], g)] = acc[g]
        n0, s0 = acc[g]
        acc[g] = (n0 + r["cnt"], s0 + (r["s"] or 0))
    totals = {g: n for g, (n, _) in acc.items()}
    offsets_bc = spark.sparkContext.broadcast((offsets, totals))

    added = [c for c in (cum_col, idx_col, count_col) if c]
    schema = StructType(df.schema.fields
                        + [StructField(c, LongType()) for c in added])

    def number(batches):
        import numpy as np
        import pandas as pd

        offs, tots = offsets_bc.value
        carry: dict = {}   # group -> (rows, sum) before its next row
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["__pid"].iloc[0])
            pdf = pdf.drop(columns=["__pid"])
            if group_col is None:
                codes, present = np.zeros(len(pdf), dtype=np.int64), [None]
            else:
                codes, uniq = pd.factorize(pdf[group_col], use_na_sentinel=False)
                present = [None if pd.isna(g) else g for g in uniq]
            for g in present:
                carry.setdefault(g, offs.get((pid, g), (0, 0)))
            before = np.array([carry[g] for g in present], dtype=np.int64)
            vals = (pdf[sum_col].fillna(0).astype("int64") if sum_col
                    else pd.Series(0, index=pdf.index, dtype="int64"))
            grp = vals.groupby(codes)
            if sum_col:   # EXCLUSIVE prefix sum
                pdf[cum_col] = before[codes, 1] + (grp.cumsum() - vals).to_numpy()
            pdf[idx_col] = before[codes, 0] + grp.cumcount().to_numpy() + 1
            if count_col:
                pdf[count_col] = np.array([tots[g] for g in present],
                                          dtype=np.int64)[codes]
            after = before + np.column_stack(
                [grp.size().to_numpy(), grp.sum().to_numpy()])
            carry.update(zip(present, map(tuple, after.tolist())))
            yield pdf

    return ranged.mapInPandas(number, schema)
