"""Seeded input tables for the analytics workload.

The same ten tables, schemas and marginal distributions as the shared
testdata (TESTDATA.md), built with the vocabularies and document model
of the repository's proxy generator (tools/gen_proxy_sf.py), but
from the benchmark's --seed and written inside the run's work
directory.  Row counts scale with *sf* as in that generator; sf 0.01
gives 60,000 lineitem rows and 500 documents.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tools.gen_proxy_sf import (
    DAY_US,
    EVENT_TYPES,
    P_ADJ,
    P_NOUN,
    P_TYPES,
    PRIORITIES,
    REGIONS,
    SEGMENTS,
    gen_documents,
)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables to *out_dir*; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            rng.integers(0, len(P_ADJ), n_part),
            rng.integers(0, len(P_NOUN), n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n_part) * 0.1, 2)})

    t0 = np.datetime64("1995-01-01").astype("datetime64[us]").astype(np.int64)
    t1 = np.datetime64("2001-08-01").astype("datetime64[us]").astype(np.int64)
    odate = rng.integers(t0, t1, n_ord)
    odate -= odate % DAY_US
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lok = rng.integers(0, n_ord, n_li)
    _write(out_dir, "lineitem", {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["R", "N", "A"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": (odate[lok] + rng.integers(1, 95, n_li) * DAY_US)
        .astype("datetime64[us]")})

    e0 = np.datetime64("2024-01-01").astype("datetime64[us]").astype(np.int64)
    e1 = np.datetime64("2024-01-31").astype("datetime64[us]").astype(np.int64)
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": rng.integers(e0, e1, n_ev).astype("datetime64[us]"),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0, 560, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(out_dir, "documents", gen_documents(rng, n_doc))
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})
    return {"lineitem": n_li, "orders": n_ord, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb}
