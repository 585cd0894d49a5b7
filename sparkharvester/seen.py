"""Partitioned bloom URL-seen filter (north rule; D2/F6 at scale).

The exact seen-set is a table anti-joined against the frontier.  At
10^10 URLs that anti-join shuffles both sides, so we put a bloom filter
in front: per-partition bit arrays built with mapInPandas over the seen
table, OR-merged via ``RDD.treeAggregate`` (depth 2 — log-tree merge
keeps driver traffic at O(bits), not O(partitions×bits)), broadcast
back, and probed with a vectorized pandas UDF.

EXACTNESS CONTRACT (SURVEY.md §7.4.3): the bloom is only a
*definitely-unseen* fast path.  Rows the filter calls "maybe seen"
still go through the exact anti-join; rows it calls "unseen" are
provably unseen (no false negatives in bloom filters), so they can
skip the join.  False positives only cost join input size, never
correctness.  The crawl's seen set only ever grows, so a filter that
can delete keys would buy nothing here.

Reference analog: the in-memory ``crawled``/``_global_hashes`` Python
sets (crawler.py:111,230) — which cap out at single-host RAM.
"""
from __future__ import annotations


import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def _params(expected_items: int, fpp: float) -> tuple[int, int]:
    m = max(64, int(-expected_items * math.log(fpp) / (math.log(2) ** 2)))
    m = 1 << max(6, (m - 1).bit_length())          # power of two → mask not mod
    k = max(1, int(round(m / max(1, expected_items) * math.log(2))))
    return m, min(k, 8)


def _hash2(values: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Two stable 64-bit hashes per value (double hashing scheme).

    Vectorized: pandas' SipHash with two fixed keys — deterministic
    across processes/executors (what add/probe consistency needs), no
    per-row Python (north-rule input hint).
    """
    if pd.api.types.is_integer_dtype(values):
        s = values  # int64 keys hash as raw numpy — no string round-trip
    else:
        s = values.astype(str)
    h1 = pd.util.hash_pandas_object(
        s, index=False, hash_key="sparkharvest0001").to_numpy(dtype=np.uint64)
    h2 = pd.util.hash_pandas_object(
        s, index=False, hash_key="sparkharvest0002").to_numpy(dtype=np.uint64)
    return h1, h2 | np.uint64(1)


class BloomFilter:
    def __init__(self, n_bits: int, k: int, bits: np.ndarray | None = None):
        self.n_bits = n_bits
        self.k = k
        self.bits = bits if bits is not None else np.zeros(n_bits // 8, dtype=np.uint8)

    def add_series(self, values: pd.Series) -> None:
        h1, h2 = _hash2(values)
        mask = np.uint64(self.n_bits - 1)
        for j in range(self.k):
            idx = (h1 + np.uint64(j) * h2) & mask
            np.bitwise_or.at(self.bits, (idx >> np.uint64(3)).astype(np.int64),
                             np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))

    def contains_series(self, values: pd.Series) -> np.ndarray:
        h1, h2 = _hash2(values)
        mask = np.uint64(self.n_bits - 1)
        out = np.ones(len(values), dtype=bool)
        for j in range(self.k):
            idx = (h1 + np.uint64(j) * h2) & mask
            bit = (self.bits[(idx >> np.uint64(3)).astype(np.int64)]
                   >> (idx & np.uint64(7)).astype(np.uint8)) & 1
            out &= bit.astype(bool)
        return out

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        self.bits |= other.bits
        return self


def build_bloom(df: DataFrame, col: str, expected_items: int,
                fpp: float = 0.01,
                params: tuple[int, int] | None = None) -> BloomFilter:
    """Per-partition bloom sketches merged via treeAggregate (north rule).

    ``params=(n_bits, k)`` overrides the sizing so a DELTA sketch can
    be built with the same geometry as an existing sketch and OR-merged
    into it (incremental seen-sketch maintenance, round 6): bloom adds
    are deterministic, so full-build bits == OR of same-geometry delta
    bits over a partition of the keys (unit-tested)."""
    n_bits, k = params if params is not None else _params(expected_items, fpp)

    def part_bloom(rows) -> Iterator[np.ndarray]:
        bf = BloomFilter(n_bits, k)
        vals = [r[0] for r in rows]
        if vals:
            bf.add_series(pd.Series(vals))
        yield bf.bits

    zero = np.zeros(n_bits // 8, dtype=np.uint8)
    bits = (
        df.select(col).rdd.mapPartitions(part_bloom)
        .treeAggregate(zero, lambda a, b: a | b, lambda a, b: a | b, depth=2)
    )
    return BloomFilter(n_bits, k, bits)


def bloom_probe_udf(spark, bloom: BloomFilter):
    """Vectorized maybe-seen probe; broadcasts the merged bit array."""
    bc = spark.sparkContext.broadcast((bloom.n_bits, bloom.k, bloom.bits))

    def probe(values: pd.Series) -> pd.Series:
        n_bits, k, bits = bc.value
        bf = BloomFilter(n_bits, k, bits)
        return pd.Series(bf.contains_series(values), index=values.index)

    return pandas_udf(probe, "boolean")


# ---------------------------------------------------------------------------
# Sketch snapshot sidecar (round 6, VERDICT r5 perf-weak #1): the crawl
# persists its merged seen-sketch once per round and merges ONLY the
# round's seen delta into it, instead of rebuilding from the full seen
# table every round.  Exact resume loads the sidecar; a snapshot
# without a bloom sidecar (older runs) falls back to a full rebuild.
# ---------------------------------------------------------------------------


def save_sketch(root: str, round_no: int, sketch: BloomFilter,
                capacity: int) -> str:
    """Atomically write the sketch sidecar for *round_no*."""
    import os

    d = os.path.join(root, "sketch")
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"r{round_no:06d}.npz")
    tmp = os.path.join(d, f".tmp-r{round_no:06d}-{os.getpid()}.npz")
    np.savez(tmp, kind=np.array("bloom"), bits=sketch.bits,
             n_bits=np.array(sketch.n_bits), k=np.array(sketch.k),
             capacity=np.array(capacity))
    os.replace(tmp, final)
    return final


def load_sketch(root: str, round_no: int):
    """Load the bloom sidecar committed at *round_no* as
    ``(BloomFilter, capacity)``; ``None`` when absent, unreadable or of
    another kind (callers rebuild from the full seen table)."""
    import os

    p = os.path.join(root, "sketch", f"r{round_no:06d}.npz")
    if not os.path.exists(p):
        return None
    try:
        z = np.load(p)
        if str(z["kind"]) != "bloom":
            return None
        return BloomFilter(int(z["n_bits"]), int(z["k"]),
                           z["bits"].copy()), int(z["capacity"])
    except Exception:  # noqa: BLE001 — any corrupt sidecar ⇒ full rebuild
        return None


def anti_join_with_probe(
    frontier: DataFrame,
    seen: DataFrame,
    keys: list[str],
    probe,
    probe_col: str,
) -> DataFrame:
    """Exact anti-join with a maybe-seen prefilter UDF (the bloom probe).

    definitely-unseen rows skip the shuffle join entirely; maybe-seen
    rows take the exact anti-join.  Result == plain anti-join.
    """
    flagged = frontier.withColumn("__maybe_seen", probe(F.col(probe_col)))
    unseen_fast = flagged.filter(~F.col("__maybe_seen")).drop("__maybe_seen")
    maybe = flagged.filter(F.col("__maybe_seen")).drop("__maybe_seen")
    checked = maybe.join(seen, keys, "left_anti")
    return unseen_fast.unionByName(checked)

