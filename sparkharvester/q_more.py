"""Additional operator coverage (SURVEY §2: J1 left-outer, U1 set ops,
O6 recency sort, D1-as-window, embedding-cosine near-dup pairs)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from pyspark import StorageLevel

from .q_sim import _cosine, _cosine_sql
from .registry import register
from .session import load, load_spread


# ---------------------------------------------------------------------------
# J1 — left outer join with missing-side handling (storage.py:127-133,
# visualizer.py:238-241: intel lookup may miss → "unknown" path)
# ---------------------------------------------------------------------------

@register(
    "j1_left_outer",
    oracle="""
SELECT c.c_custkey,
       CAST(count(o.o_orderkey) AS BIGINT) AS n_orders,
       coalesce(CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 0.0)
         AS total_spend,
       CASE WHEN count(o.o_orderkey) = 0 THEN 'unknown' ELSE 'known' END AS status
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey
""",
    doc="left outer join, missing side -> 'unknown' (J1 semantics)",
)
def j1_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                / F.lit(100.0),
                F.lit(0.0),
            ).alias("total_spend"),
        )
        .withColumn(
            "status",
            F.when(F.col("n_orders") == 0, "unknown").otherwise("known"),
        )
    )


# ---------------------------------------------------------------------------
# U1 — set difference (crawler.py:294: invalid = all − valid)
# ---------------------------------------------------------------------------

@register(
    "u1_set_difference",
    oracle="""
SELECT doc_id FROM documents WHERE source = 'src0'
EXCEPT
SELECT doc_id FROM documents WHERE lang = 'en'
""",
    doc="set difference via EXCEPT / subtract (U1)",
)
def u1_set_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return (
        d.filter(F.col("source") == "src0").select("doc_id")
        .subtract(d.filter(F.col("lang") == "en").select("doc_id"))
    )


# ---------------------------------------------------------------------------
# O6 — recency sort with deterministic tiebreak (README.md:337-340:
# ORDER BY crawled_at DESC)
# ---------------------------------------------------------------------------

@register(
    "o6_recent_events",
    oracle="""
SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch, event_type
FROM events ORDER BY ts DESC, event_id ASC LIMIT 20
""",
    doc="ORDER BY time DESC LIMIT k (O6 showcase sort)",
)
def o6_recent_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .orderBy(F.desc("ts"), F.asc("event_id"))
        .limit(20)
        .select("event_id", F.unix_timestamp("ts").alias("ts_epoch"),
                "event_type")
    )


# ---------------------------------------------------------------------------
# D1 as a relational window: keep-first per content group, emit losers
# (the rows a dedup pass would DROP — complement of dedup_exact)
# ---------------------------------------------------------------------------

@register(
    "d1_window_losers",
    oracle="""
WITH docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  -- deterministic duplicate injection: every 7th doc re-appears with a
  -- shifted id (the driver's documents table has no exact dups)
  SELECT doc_id + 100000, text FROM documents WHERE doc_id % 7 = 0
)
SELECT doc_id, winner FROM (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY sha256(text)) AS winner
  FROM docs
) t WHERE doc_id <> winner
""",
    doc="window keep-first dedup: rows that lose to an earlier duplicate (D1)",
)
def d1_window_losers(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    dups = base.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    d = base.unionByName(dups).withColumn("h", F.sha2("text", 256))
    w = Window.partitionBy("h")
    return (
        d.withColumn("winner", F.min("doc_id").over(w))
        .filter(F.col("doc_id") != F.col("winner"))
        .select("doc_id", "winner")
    )


# ---------------------------------------------------------------------------
# embedding-cosine near-dup pairs (training-data pipeline op): pairwise
# within label buckets, bounded sample, threshold 0.95
# ---------------------------------------------------------------------------

_PR_N = 100
_PR_FAN = 3
_PR_SEED = 42
_PR_ITERS = 10
_PR_D = 0.85


def _pagerank_sql() -> str:
    """DuckDB oracle: the same deterministic host graph and update rule,
    with the fixed iteration count UNROLLED as chained CTEs (recursive
    CTEs cannot aggregate over the whole previous iteration cleanly).
    This graph has no dangling nodes (every src keeps >=1 out-edge), so
    the dangling-mass term is identically zero on both engines."""
    edges = " UNION ALL ".join(
        f"SELECT i AS src, (i*{k + 1}+{_PR_SEED}) % {_PR_N} AS dst "
        f"FROM range({_PR_N}) t(i)"
        for k in range(1, _PR_FAN + 1)
    )
    parts = [
        f"WITH edges AS (SELECT DISTINCT src, dst FROM ({edges}) "
        "WHERE src <> dst)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "nodes AS (SELECT DISTINCT src AS node FROM edges "
        "UNION SELECT DISTINCT dst FROM edges)",
        f"r0 AS (SELECT node, 1.0/{_PR_N} AS rank FROM nodes)",
    ]
    for i in range(_PR_ITERS):
        parts.append(
            f"r{i + 1} AS (SELECT n.node, "
            f"(1.0-{_PR_D})/{_PR_N} + {_PR_D} * coalesce(m.mass, 0.0) AS rank "
            f"FROM nodes n LEFT JOIN ("
            f"SELECT e.dst AS node, sum(r.rank / d.deg) AS mass "
            f"FROM r{i} r JOIN deg d ON d.src = r.node "
            f"JOIN edges e ON e.src = r.node GROUP BY e.dst"
            f") m ON m.node = n.node)"
        )
    return (", ".join(parts)
            + f" SELECT node, round(rank, 8) AS rank FROM r{_PR_ITERS}")


@register(
    "graph_pagerank",
    oracle=_pagerank_sql(),
    doc="PageRank over a synthetic host graph as an iterative DataFrame "
        "loop with per-iteration lineage truncation (J5/A8 extension); "
        "oracle = the same fixed-iteration update unrolled in SQL",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .graph import host_edges_synthetic, pagerank

    edges = host_edges_synthetic(spark, n_hosts=_PR_N, fanout=_PR_FAN,
                                 seed=_PR_SEED)
    return pagerank(edges, damping=_PR_D, iterations=_PR_ITERS).select(
        "node", F.round("rank", 8).alias("rank")
    )


# ---------------------------------------------------------------------------
# embedding near-dup pairs via random-hyperplane (SimHash-for-cosine) LSH
# over the FULL table — no sample cap (VERDICT r1 #4).
#
# The raw embeddings are near-uniform on the sphere (max pairwise cosine
# ≈ 0.51), so — exactly like d1_window_losers injects exact duplicates —
# the query deterministically injects a perturbed near-copy of every
# {_PERT_EVERY}th vector (md5-signed ±{_PERT_AMP} per coordinate, cosine
# ≈ 0.97 with its parent) and must rediscover those pairs.
#
# Pipeline (identical in Spark and the DuckDB oracle, md5-determinism +
# left-fold float arithmetic throughout):
#  base ∪ injected → {_HP_BANDS} bands × {_HP_ROWS} sign bits (64
#  hyperplanes with ±1 components derived from md5) → bucket self-join
#  per band → distinct candidate pairs → exact-cosine verify ≥ {_EMB_T}.
#
# Scale: the self-join is bounded by band buckets (2^{_HP_ROWS} per
# band; raise _HP_ROWS for bigger tables) — never all-pairs.  Random
# pairs collide w.p. ≈ {_HP_BANDS}·2^-{_HP_ROWS} ≈ 3%; true near-dups
# (cos ≥ 0.97) are caught w.p. ≥ 99%.
# ---------------------------------------------------------------------------

_HP_BANDS = 8
_HP_ROWS = 8
_PERT_EVERY = 5
_PERT_AMP = 0.03
_PERT_OFFSET = 1_000_000
_EMB_T = 0.9
_EMB_DIM = 64


def _hyperplane(j: int) -> list[float]:
    """±1 components from md5 parity — identical constants inlined into
    both engines' expressions."""
    import hashlib

    return [
        1.0 if int(hashlib.md5(f"hp-{j}-{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for i in range(1, _EMB_DIM + 1)
    ]


def _pert_sign_spark(vec_id, i):       # i: 1-based index column
    m = F.md5(F.concat(F.lit("pert-"), vec_id.cast("string"),
                       F.lit("-"), i.cast("string")))
    return F.when(
        F.conv(F.substring(m, 1, 1), 16, 10).cast("int") % 2 == 0, F.lit(1.0)
    ).otherwise(F.lit(-1.0))


def _pert_sign_sql() -> str:
    m = "md5('pert-' || CAST(vec_id AS VARCHAR) || '-' || CAST(i AS VARCHAR))"
    return (f"CASE WHEN CAST('0x' || substr({m}, 1, 1) AS INT) % 2 = 0 "
            "THEN 1.0 ELSE -1.0 END")


def _fold_dot(emb: str, plane: list[float]) -> str:
    lit = "[" + ", ".join(repr(x) for x in plane) + "]"
    return (f"list_reduce(list_transform(generate_series(1, {_EMB_DIM}), "
            f"i -> {emb}[i] * ({lit})[i]), (x, y) -> x + y)")


def _emb_pairs_sql() -> str:
    buckets = []
    for b in range(_HP_BANDS):
        bits = " || ".join(
            f"(CASE WHEN ({_fold_dot('emb', _hyperplane(b * _HP_ROWS + r))}) "
            ">= 0 THEN '1' ELSE '0' END)"
            for r in range(_HP_ROWS)
        )
        buckets.append(f"({bits}) AS bucket_{b}")
    band_union = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band_id, bucket_{b} AS bucket FROM sig"
        for b in range(_HP_BANDS)
    )
    return f"""
WITH allv AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
  UNION ALL
  SELECT vec_id + {_PERT_OFFSET} AS vec_id,
         list_transform(generate_series(1, {_EMB_DIM}),
                        i -> CAST(embedding[i] AS DOUBLE)
                             + {_PERT_AMP} * ({_pert_sign_sql()})) AS emb
  FROM embeddings WHERE vec_id % {_PERT_EVERY} = 0
),
sig AS (
  SELECT vec_id, {', '.join(buckets)} FROM allv
),
bands AS (
  {band_union}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.bucket = b.bucket
    AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, round(cos_raw, 6) AS cos_sim FROM (
  SELECT c.vec_a, c.vec_b, {_cosine_sql('a.emb', 'b.emb')} AS cos_raw
  FROM cand c
  JOIN allv a ON a.vec_id = c.vec_a
  JOIN allv b ON b.vec_id = c.vec_b
)
WHERE cos_raw >= {_EMB_T}
"""


@register(
    "dedup_embedding_pairs",
    oracle=_emb_pairs_sql(),
    doc=f"embedding near-dup pairs over the FULL table: {_HP_BANDS}x"
        f"{_HP_ROWS}-bit random-hyperplane LSH buckets + exact-cosine "
        f"verify >= {_EMB_T} (deterministic near-dup injection)",
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("emb"),
    )
    # NOTE staged withColumn, not one select: a single select would let
    # Spark's lateral-column-alias resolution bind the sign's vec_id
    # reference to the shifted alias instead of the original id
    pert = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") % _PERT_EVERY == 0)
        .withColumn(
            "emb",
            F.transform(
                F.col("embedding"),
                lambda x, i: x.cast("double")
                + F.lit(_PERT_AMP) * _pert_sign_spark(F.col("vec_id"), i + 1),
            ),
        )
        .select((F.col("vec_id") + _PERT_OFFSET).alias("vec_id"), "emb")
    )
    # DISK_ONLY (VERDICT r3 #2): a full-vector cache of the base+perturbed
    # union at 10^9+ embeddings would evict or OOM executors under the
    # default level; same storage contract as q_dedup._SHINGLE_CACHE_LEVEL.
    allv = base.unionByName(pert).persist(StorageLevel.DISK_ONLY)

    def dot(plane: list[float]):
        return F.aggregate(
            F.zip_with(F.col("emb"), F.lit(plane), lambda x, h: x * h),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat(*[
                F.when(dot(_hyperplane(b * _HP_ROWS + r)) >= 0, "1")
                 .otherwise("0")
                for r in range(_HP_ROWS)
            ]).alias("bucket"),
        )
        for b in range(_HP_BANDS)
    ])
    # persist: both self-join sides would otherwise recompute all 64
    # folds; DISK_ONLY for the same 100 TB memory-cliff reason as allv.
    bands = allv.select(
        "vec_id", F.explode(band_structs).alias("band")
    ).select("vec_id", "band.band_id", "band.bucket").persist(
        StorageLevel.DISK_ONLY)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    a = allv.select(F.col("vec_id").alias("vec_a"), F.col("emb").alias("emb_a"))
    b = allv.select(F.col("vec_id").alias("vec_b"), F.col("emb").alias("emb_b"))
    return (
        cand.join(a, "vec_a").join(b, "vec_b")
        .withColumn("cos_raw", _cosine(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos_raw") >= _EMB_T)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# IMAGE near-dup via perceptual-hash Hamming distance (payload axis):
# the phash column of the input-hint images table (images.py phash64),
# deduped the way an image-crawl pipeline dedupes — banded Hamming LSH.
# 60-bit hashes split into 4x15-bit bands; by pigeonhole, any pair with
# Hamming distance <= 3 agrees on at least one whole band, so the
# band-equality bucket join has EXACT recall at the <= 3 threshold.
# Verification is bit_count(xor) on the candidate pairs only.
#
# Scale (10^10 images): bands are md5-uniform, so buckets are balanced;
# the self-join never goes all-pairs — same physics as dedup_minhash_lsh.
# The driver tables carry no binary image payloads, so phashes are
# derived deterministically from doc_id with injected near-copies
# (<= 2 bits flipped), computed identically in both dialects.
# ---------------------------------------------------------------------------

_PH_COPY_EVERY = 10      # every 10th image gets a near-copy
_PH_OFFSET = 1_000_000   # near-copy id offset
_PH_T = 3                # Hamming threshold
_PH_BANDS, _PH_BITS = 4, 15


def _allph_cte_sql() -> str:
    """WITH-body fragment defining ``allph(img_id, ph)`` — the synthetic
    phash corpus (per-doc phash + 1-2-bit-flipped near-copies)."""
    flip1 = "(1::BIGINT << CAST(b.img_id % 59 AS INT))"
    flip2 = ("CASE WHEN b.img_id % 3 = 0 THEN "
             "(1::BIGINT << CAST(b.img_id % 53 + 1 AS INT)) "
             "ELSE 0::BIGINT END")
    return f"""base AS (
  SELECT doc_id AS img_id,
         CAST('0x' || substr(md5('ph/' || CAST(doc_id AS VARCHAR)), 1, 15)
              AS BIGINT) AS ph
  FROM documents
),
copies AS (
  SELECT b.img_id + {_PH_OFFSET} AS img_id,
         xor(xor(b.ph, {flip1}), {flip2}) AS ph
  FROM base b WHERE b.img_id % {_PH_COPY_EVERY} = 0
),
allph AS (SELECT * FROM base UNION ALL SELECT * FROM copies)"""


def _pairs_body_sql(src: str = "allph") -> str:
    """WITH-body fragment defining ``pairs(img_a, img_b, hamming)`` —
    the banded-LSH + bit_count verify over a ``(img_id, ph)`` CTE."""
    bands = " UNION ALL ".join(
        f"SELECT img_id, {i} AS band_id, "
        f"(ph >> {_PH_BITS * i}) & {(1 << _PH_BITS) - 1} AS band_val "
        f"FROM {src}"
        for i in range(_PH_BANDS)
    )
    return f"""bands AS ({bands}),
cand AS (
  SELECT DISTINCT a.img_id AS img_a, b.img_id AS img_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val
   AND a.img_id < b.img_id
),
pairs AS (
  SELECT c.img_a, c.img_b,
         CAST(bit_count(xor(x.ph, y.ph)) AS INT) AS hamming
  FROM cand c
  JOIN {src} x ON x.img_id = c.img_a
  JOIN {src} y ON y.img_id = c.img_b
  WHERE bit_count(xor(x.ph, y.ph)) <= {_PH_T}
)"""


def _phash_pairs_sql() -> str:
    return f"""
WITH {_allph_cte_sql()},
{_pairs_body_sql()}
SELECT img_a, img_b, hamming FROM pairs
"""


@register(
    "dedup_phash_hamming",
    oracle=_phash_pairs_sql(),
    doc=f"image near-dup pairs via phash: {_PH_BANDS}x{_PH_BITS}-bit "
        f"banded Hamming LSH (exact recall at Hamming <= {_PH_T} by "
        "pigeonhole) + bit_count(xor) verify on candidates only "
        "(images.py phash64 column of the input-hint table)",
    bench=True,
)
def dedup_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    return phash_hamming_pairs(synth_allph(spark, sf_dir))


def synth_allph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The synthetic ``(img_id, ph)`` corpus (Spark twin of
    ``_allph_cte_sql``): per-doc 60-bit md5 phash + 1-2-bit-flipped
    near-copies every ``_PH_COPY_EVERY`` ids."""
    # spread: the single-row-group scan otherwise runs the md5 phash
    # derivation on one partition (round 6)
    d = load_spread(spark, sf_dir, "documents").select("doc_id")
    base = d.select(
        F.col("doc_id").alias("img_id"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ph/"), F.col("doc_id").cast("string"))),
                1, 15),
            16, 10,
        ).cast("long").alias("ph"),
    )
    # staged withColumn (not one select): flips must bind to the ORIGINAL
    # img_id, and a single select's lateral-column-alias resolution would
    # bind them to the shifted alias (see dedup_embedding_pairs note)
    copies = (
        base.filter(F.col("img_id") % _PH_COPY_EVERY == 0)
        .withColumn(
            "ph",
            F.expr("ph ^ shiftleft(cast(1 as bigint), "
                   "cast(img_id % 59 as int))"
                   " ^ (CASE WHEN img_id % 3 = 0 THEN "
                   "shiftleft(cast(1 as bigint), "
                   "cast(img_id % 53 + 1 as int)) ELSE cast(0 as bigint) "
                   "END)"),
        )
        .select((F.col("img_id") + _PH_OFFSET).alias("img_id"), "ph")
    )
    return base.unionByName(copies)


def phash_hamming_pairs(allph: DataFrame, threshold: int = _PH_T) -> DataFrame:
    """Banded Hamming LSH over an ``(img_id, ph)`` table → near-dup
    pairs ``(img_a, img_b, hamming)`` with hamming ≤ *threshold*.

    Exact recall for threshold ≤ {bands-1}: a pair within the threshold
    agrees on ≥ 1 whole band (pigeonhole), so the bucket join finds it.
    Works on any phash source — the images.py phash64 column included
    (tests/test_images.py runs it over real encoded payloads)."""
    band_structs = F.array(*[
        F.struct(
            F.lit(i).alias("band_id"),
            F.expr(f"shiftright(ph, {_PH_BITS * i}) "
                   f"& {(1 << _PH_BITS) - 1}").alias("band_val"),
        )
        for i in range(_PH_BANDS)
    ])
    bands = allph.select(
        "img_id", F.explode(band_structs).alias("b")
    ).select("img_id", "b.band_id", "b.band_val")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.img_id") < F.col("b.img_id")),
        )
        .select(F.col("a.img_id").alias("img_a"),
                F.col("b.img_id").alias("img_b"))
        .distinct()
    )
    x = allph.select(F.col("img_id").alias("img_a"), F.col("ph").alias("ph_a"))
    y = allph.select(F.col("img_id").alias("img_b"), F.col("ph").alias("ph_b"))
    return (
        cand.join(x, "img_a").join(y, "img_b")
        .withColumn("hamming", F.expr("cast(bit_count(ph_a ^ ph_b) as int)"))
        .filter(F.col("hamming") <= threshold)
        .select("img_a", "img_b", "hamming")
    )


# ---------------------------------------------------------------------------
# MULTIMODAL near-dup clustering: one cluster table across BOTH dedup
# signals — text (LSH→exact-Jaccard verified pairs) ∪ embedding
# (hyperplane-LSH→exact-cosine pairs) — closed into connected
# components.  This is what a multimodal training-data build actually
# keeps: a doc pair near-dup in EITHER modality lands in one cluster,
# so the winner rule dedupes across signals (caption copies with
# re-encoded images, paraphrases with near-identical embeddings).
# vec_id == doc_id in the driver corpus, so the two edge sets share one
# node space; both edge builders are themselves oracle-green, and the
# star-contraction closure is O(log² n) rounds (q_dedup).
# ---------------------------------------------------------------------------


def _multimodal_sql() -> str:
    from .q_dedup import _lsh_verified_sql

    text = _lsh_verified_sql()
    emb = _emb_pairs_sql()
    return f"""
WITH RECURSIVE tp AS ({text}),
ep AS ({emb}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM tp
  UNION SELECT doc_b AS src, doc_a AS dst FROM tp
  UNION SELECT vec_a AS src, vec_b AS dst FROM ep
  UNION SELECT vec_b AS src, vec_a AS dst FROM ep
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach AS (
  SELECT node AS src, node AS dst FROM nodes
  UNION
  SELECT r.src, e.dst FROM (SELECT * FROM reach) r
  JOIN edges e ON e.src = r.dst
)
SELECT src AS node, CAST(min(dst) AS BIGINT) AS component
FROM reach GROUP BY src
"""


@register(
    "dedup_multimodal",
    oracle=_multimodal_sql(),
    doc="multimodal near-dup clusters: connected components over the "
        "UNION of text-Jaccard-verified pairs and embedding-cosine "
        "pairs (one winner per cluster across both signals)",
)
def dedup_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .q_dedup import connected_components, dedup_lsh_verified

    text = dedup_lsh_verified(spark, sf_dir).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    emb = dedup_embedding_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    return connected_components(text.unionByName(emb), a="a", b="b")
