"""Crawl-engine queries for the driver contract (rows-only checks —
iterative BFS is not SQL-expressible; parity is proven by the pytest
oracle suite, tests/test_crawl_parity.py)."""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .enrich import synth_url_spark, synth_url_sql
from .frontier import CrawlConfig, admit_per_host, run_crawl
from .images import check_invariants, make_images_df
from .registry import register
from .session import load, load_spread, row_count
from .synth import SynthConfig, seed_urls
from .urlnorm import (
    canonicalize_expr,
    canonicalize_sql,
    is_blacklisted,
    is_blacklisted_sql,
    is_junk_href,
    is_junk_href_sql,
    is_valid_onion,
    is_valid_onion_sql,
)

_SYNTH = SynthConfig(n_hosts=4, pages_per_host=20)
_CFG = CrawlConfig(max_depth=2, max_pages=15)
_MEMO: dict[str, object] = {}
_MEMO_CAP = 4


def _crawl(spark: SparkSession):
    # memoized per session: crawl_bfs and crawl_metrics share one run.
    # Keyed by applicationId (stable for a live session, never reused the
    # way id() can be after GC — ADVICE r1) and capped so a long-lived
    # driver process can't grow it unboundedly.
    key = spark.sparkContext.applicationId
    if key not in _MEMO:
        if len(_MEMO) >= _MEMO_CAP:
            _MEMO.clear()
        _MEMO[key] = run_crawl(spark, seed_urls(_SYNTH), _SYNTH, _CFG)
    return _MEMO[key]


@register(
    "crawl_bfs",
    oracle=None,
    doc="full BFS crawl over the seeded synthetic host graph (I1-I7); "
        "oracle-parity proven in tests/test_crawl_parity.py",
    bench=False,
)
def crawl_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _crawl(spark).pages.select(
        "seed_id", "url", "title", "content_hash", "depth",
        "links_found", "site", "seq",
    )


@register(
    "crawl_metrics",
    oracle=None,
    doc="per-round lineage/metrics rollup from the crawl (CrawlStats analog)",
)
def crawl_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    eng = _crawl(spark)
    return eng.metrics.groupBy("run_id", "round").agg(
        F.sum("pages_crawled").alias("pages_crawled"),
        F.sum("pages_failed").alias("pages_failed"),
        F.sum("pages_skipped").alias("pages_skipped"),
        F.sum("pages_deduplicated").alias("pages_deduplicated"),
        F.countDistinct("partition_id").alias("n_partitions"),
    )


# ---------------------------------------------------------------------------
# One materialized BFS round, oracle-checked (VERDICT r1 #10): the exact
# gate pipeline of frontier.py for a single round — candidates → seen
# anti-join → per-host politeness window → blacklist → (deterministic
# md5 fetch outcome) → content-dedup window → per-seed pop-cap window —
# expressed over documents-derived URLs so DuckDB can replay it.  The
# opaque pandas fetch is replaced by the same md5 arithmetic the synth
# generator uses (synth.py:69-82), keeping every gate SQL-expressible.
# ---------------------------------------------------------------------------

_RG_SEEDS = 4      # candidate rows spread over this many seed crawls
_RG_TOKENS = 3     # per-host politeness budget (frontier.py:258-267)
_RG_CAP = 10       # per-seed page cap (frontier.py:382-403)


def _rg_sql() -> str:
    h_fetch = ("(CAST('0x' || substr(md5('fetch/' || canon_url), 1, 15) "
               "AS BIGINT))")
    h_dup = ("(CAST('0x' || substr(md5('dup/' || canon_url), 1, 15) "
             "AS BIGINT))")
    return f"""
WITH urls AS (
  SELECT doc_id % {_RG_SEEDS} AS seed_id, {synth_url_sql()} AS url, doc_id
  FROM documents
),
cand0 AS (
  SELECT DISTINCT seed_id, {canonicalize_sql('url')} AS canon_url
  FROM urls
  WHERE NOT {is_junk_href_sql('url')} AND {is_valid_onion_sql('url')}
),
seen AS (
  SELECT DISTINCT seed_id, {canonicalize_sql('url')} AS canon_url
  FROM urls WHERE doc_id % 7 = 0 AND {is_valid_onion_sql('url')}
),
gated AS (
  SELECT c.seed_id, c.canon_url,
         regexp_extract(c.canon_url, '^https?://([^/]+)', 1) AS host
  FROM cand0 c
  WHERE NOT EXISTS (SELECT 1 FROM seen s
                    WHERE s.seed_id = c.seed_id
                      AND s.canon_url = c.canon_url)
),
adm AS (
  SELECT *, (row_number() OVER (PARTITION BY host
                                ORDER BY canon_url, seed_id))
            <= {_RG_TOKENS} AS admitted
  FROM gated
),
flags AS (
  SELECT *,
         {is_blacklisted_sql('canon_url')} AS blacklisted,
         ({h_fetch} % 100) >= 5 AS ok,
         {h_dup} AS hd
  FROM adm
),
hashed AS (
  SELECT *,
         CASE WHEN admitted AND ok AND NOT blacklisted THEN
           sha256(CASE WHEN hd % 100 < 20
                       THEN 'shared dup ' || CAST(hd % 7 AS VARCHAR)
                       ELSE 'unique ' || canon_url END)
         END AS content_hash
  FROM flags
),
dd AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash
                               ORDER BY canon_url, seed_id) AS rn
  FROM hashed
),
dd2 AS (
  SELECT *, (admitted AND ok AND NOT blacklisted AND rn > 1) AS is_dup
  FROM dd
),
fin AS (
  SELECT *, coalesce(sum(CASE WHEN admitted AND ok AND NOT blacklisted
                               AND NOT is_dup THEN 1 ELSE 0 END)
                     OVER (PARTITION BY seed_id ORDER BY canon_url
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), 0) AS cum_before
  FROM dd2
)
SELECT seed_id, canon_url, host, admitted, blacklisted, ok, is_dup,
       (admitted AND cum_before < {_RG_CAP}) AS popped
FROM fin
"""


@register(
    "crawl_round_gates",
    oracle=_rg_sql(),
    doc="one materialized BFS round: candidate/seen/politeness/blacklist/"
        "dedup/cap gate trace, oracle-replayable (frontier.py semantics, "
        "crawler.py:214-273 analog)",
)
def crawl_round_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = load(spark, sf_dir, "documents").select(
        F.pmod(F.col("doc_id"), _RG_SEEDS).cast("int").alias("seed_id"),
        synth_url_spark(F.col("doc_id")).alias("url"),
        "doc_id",
    )
    cand = (
        urls.filter(~is_junk_href(F.col("url")) & is_valid_onion(F.col("url")))
        .select("seed_id", canonicalize_expr(F.col("url")).alias("canon_url"))
        .distinct()                                           # F3+F1 → X1 → D7
    )
    seen = (
        urls.filter((F.col("doc_id") % 7 == 0) & is_valid_onion(F.col("url")))
        .select("seed_id", canonicalize_expr(F.col("url")).alias("canon_url"))
        .distinct()
    )
    cand = cand.join(seen, ["seed_id", "canon_url"], "left_anti")  # F6/D2
    cand = cand.withColumn(
        "host", F.regexp_extract("canon_url", r"^https?://([^/]+)", 1)
    )
    # I4 bucket via the engine's TWO-PHASE admission (frontier.py
    # admit_per_host) — the DuckDB oracle uses the plain single window,
    # so this oracle row doubles as a correctness proof that the
    # two-phase top-N admits the identical set
    adm, deferred = admit_per_host(cand, _RG_TOKENS, buckets=8)
    cand = (
        adm.withColumn("admitted", F.lit(True))
        .unionByName(deferred.withColumn("admitted", F.lit(False)))
    ).withColumn("blacklisted", is_blacklisted(F.col("canon_url")))  # F2

    def _h(prefix: str):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), F.col("canon_url"))),
                        1, 15), 16, 10,
        ).cast("long")

    cand = cand.withColumn("ok", (_h("fetch/") % 100) >= 5) \
               .withColumn("hd", _h("dup/"))
    eligible = F.col("admitted") & F.col("ok") & ~F.col("blacklisted")
    text = F.when(
        F.col("hd") % 100 < 20,
        F.concat(F.lit("shared dup "), (F.col("hd") % 7).cast("string")),
    ).otherwise(F.concat(F.lit("unique "), F.col("canon_url")))
    cand = cand.withColumn(
        "content_hash", F.when(eligible, F.sha2(text, 256))     # X4
    )
    w_hash = Window.partitionBy("content_hash").orderBy("canon_url", "seed_id")
    cand = cand.withColumn("rn", F.row_number().over(w_hash)) \
               .withColumn("is_dup", eligible & (F.col("rn") > 1))   # D1
    success = eligible & ~F.col("is_dup")
    w_seed = Window.partitionBy("seed_id").orderBy("canon_url")
    cand = cand.withColumn(
        "cum_before",
        F.coalesce(
            F.sum(success.cast("int")).over(
                w_seed.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn("popped", F.col("admitted") & (F.col("cum_before") < _RG_CAP))
    return cand.select("seed_id", "canon_url", "host", "admitted",
                       "blacklisted", "ok", "is_dup", "popped")


def _rg_stats_sql() -> str:
    return f"""
WITH gates AS ({_rg_sql()})
SELECT seed_id,
       CAST(count(*) AS BIGINT) AS candidates,
       CAST(sum(CASE WHEN NOT admitted THEN 1 ELSE 0 END) AS BIGINT) AS deferred,
       CAST(sum(CASE WHEN admitted AND blacklisted THEN 1 ELSE 0 END) AS BIGINT) AS skipped,
       CAST(sum(CASE WHEN admitted AND NOT blacklisted AND NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS failed,
       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS deduplicated,
       CAST(sum(CASE WHEN popped AND admitted AND ok AND NOT blacklisted
                      AND NOT is_dup THEN 1 ELSE 0 END) AS BIGINT) AS crawled
FROM gates GROUP BY seed_id
"""


@register(
    "crawl_round_stats",
    oracle=_rg_stats_sql(),
    doc="per-seed counter rollup of one BFS round's gate trace "
        "(CrawlStats / A1 semantics, oracle-checked; crawler.py:46-60)",
)
def crawl_round_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = crawl_round_gates(spark, sf_dir)
    adm = F.col("admitted")
    return g.groupBy("seed_id").agg(
        F.count("*").alias("candidates"),
        F.sum((~adm).cast("long")).alias("deferred"),
        F.sum((adm & F.col("blacklisted")).cast("long")).alias("skipped"),
        F.sum((adm & ~F.col("blacklisted") & ~F.col("ok")).cast("long"))
         .alias("failed"),
        F.sum(F.col("is_dup").cast("long")).alias("deduplicated"),
        F.sum((F.col("popped") & adm & F.col("ok") & ~F.col("blacklisted")
               & ~F.col("is_dup")).cast("long")).alias("crawled"),
    )


# ---------------------------------------------------------------------------
# TWO materialized BFS rounds, oracle-checked (VERDICT r2 #4): links of
# round 0 feed the candidates of round 1, the seen set and the per-seed
# page budget ACCUMULATE across rounds, and content dedup spans rounds
# (a round-1 page whose hash was crawled in round 0 is a dup) — the
# crawl loop's cross-round semantics (frontier.py round loop,
# crawler.py:214-273) as chained CTEs, the way graph_pagerank unrolls
# iterations.  The fetch and the link extractor are the same
# md5-arithmetic stand-ins crawl_round_gates uses, so every gate stays
# SQL-expressible; link fan-out derives child URLs from
# md5(parent, k) — a pure function both engines compute identically.
# Parity-mode semantics (no politeness): one round per depth; dedup
# losers still propagate links (D1).
# ---------------------------------------------------------------------------

_B2_SEEDS = 3       # seed crawls
_B2_CAP = 8         # per-seed page budget across BOTH rounds
_B2_FANOUT = 4      # links per crawled page
_B2_CHILD_MOD = 100_000   # child URL id space


def _b2_sql() -> str:
    def h(prefix: str, col: str = "canon_url") -> str:
        return (f"(CAST('0x' || substr(md5('{prefix}' || {col}), 1, 15) "
                "AS BIGINT))")

    def gates(cand: str) -> str:
        """flags + content hash for one round's candidate CTE."""
        return f"""
  SELECT seed_id, canon_url,
         {is_blacklisted_sql('canon_url')} AS blacklisted,
         ({h('fetch/')} % 100) >= 5 AS ok,
         {h('dup/')} AS hd
  FROM {cand}
"""

    hash_case = ("CASE WHEN ok AND NOT blacklisted THEN "
                 "sha256(CASE WHEN hd % 100 < 30 "
                 "THEN 'shared dup ' || CAST(hd % 5 AS VARCHAR) "
                 "ELSE 'unique ' || canon_url END) END")
    succ = "ok AND NOT blacklisted AND NOT is_dup"
    cum = (f"coalesce(sum(CASE WHEN {succ} THEN 1 ELSE 0 END) "
           "OVER (PARTITION BY seed_id ORDER BY canon_url "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)")
    return f"""
WITH r1url AS (
  SELECT CAST(doc_id % {_B2_SEEDS} AS INT) AS seed_id,
         {synth_url_sql()} AS url
  FROM documents WHERE doc_id % 11 = 0
),
r1cand AS (
  SELECT DISTINCT seed_id, {canonicalize_sql('url')} AS canon_url
  FROM r1url
  WHERE NOT {is_junk_href_sql('url')} AND {is_valid_onion_sql('url')}
),
r1flag AS ({gates('r1cand')}),
r1hash AS (SELECT *, {hash_case} AS content_hash FROM r1flag),
r1dd AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash
                               ORDER BY canon_url, seed_id) AS rn
  FROM r1hash
),
r1dd2 AS (SELECT *, (ok AND NOT blacklisted AND rn > 1) AS is_dup FROM r1dd),
r1 AS (
  SELECT *, ({cum}) < {_B2_CAP} AS popped
  FROM r1dd2
),
seen1 AS (SELECT seed_id, canon_url FROM r1 WHERE popped),
crawled1 AS (
  SELECT seed_id,
         sum(CASE WHEN popped AND {succ} THEN 1 ELSE 0 END) AS c1
  FROM r1 GROUP BY seed_id
),
hashes1 AS (
  SELECT DISTINCT content_hash FROM r1 WHERE popped AND {succ}
),
links AS (
  SELECT r.seed_id,
         ({h('child/', "r.canon_url || '/' || CAST(t.k AS VARCHAR)")}
          % {_B2_CHILD_MOD}) AS child_id
  FROM r1 r, unnest([{', '.join(str(k) for k in range(_B2_FANOUT))}]) AS t(k)
  WHERE r.popped AND r.ok AND NOT r.blacklisted
),
r2url AS (SELECT seed_id, {synth_url_sql('child_id')} AS url FROM links),
r2cand AS (
  SELECT DISTINCT seed_id, {canonicalize_sql('url')} AS canon_url
  FROM r2url
  WHERE NOT {is_junk_href_sql('url')} AND {is_valid_onion_sql('url')}
),
r2new AS (
  SELECT c.* FROM r2cand c
  WHERE NOT EXISTS (SELECT 1 FROM seen1 s
                    WHERE s.seed_id = c.seed_id
                      AND s.canon_url = c.canon_url)
),
r2flag AS ({gates('r2new')}),
r2hash AS (SELECT *, {hash_case} AS content_hash FROM r2flag),
r2dd AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash
                               ORDER BY canon_url, seed_id) AS rn
  FROM r2hash
),
r2dd2 AS (
  SELECT *, (ok AND NOT blacklisted
             AND (rn > 1 OR content_hash IN (SELECT content_hash
                                             FROM hashes1))) AS is_dup
  FROM r2dd
),
r2 AS (
  SELECT d.*,
         ({cum}) < {_B2_CAP} - coalesce(c.c1, 0) AS popped
  FROM r2dd2 d LEFT JOIN crawled1 c USING (seed_id)
)
SELECT 0 AS round, seed_id, canon_url, blacklisted, ok, is_dup, popped FROM r1
UNION ALL
SELECT 1 AS round, seed_id, canon_url, blacklisted, ok, is_dup, popped FROM r2
"""


def _b2_h(col, prefix: str):
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 15), 16, 10,
    ).cast("long")


def _b2_gates(cand: DataFrame, prev_hashes: DataFrame | None) -> DataFrame:
    """One round's gate pipeline over (seed_id, canon_url) candidates:
    blacklist, md5 fetch outcome, content hash, dedup window — plus the
    cross-round hash check when *prev_hashes* is given."""
    flagged = (
        cand.withColumn("blacklisted", is_blacklisted(F.col("canon_url")))
        .withColumn("ok", (_b2_h(F.col("canon_url"), "fetch/") % 100) >= 5)
        .withColumn("hd", _b2_h(F.col("canon_url"), "dup/"))
    )
    eligible = F.col("ok") & ~F.col("blacklisted")
    text = F.when(
        F.col("hd") % 100 < 30,
        F.concat(F.lit("shared dup "), (F.col("hd") % 5).cast("string")),
    ).otherwise(F.concat(F.lit("unique "), F.col("canon_url")))
    hashed = flagged.withColumn("content_hash",
                                F.when(eligible, F.sha2(text, 256)))
    w_hash = Window.partitionBy("content_hash").orderBy("canon_url", "seed_id")
    dd = hashed.withColumn("rn", F.row_number().over(w_hash))
    dup = eligible & (F.col("rn") > 1)
    if prev_hashes is not None:
        dd = dd.join(
            F.broadcast(prev_hashes.withColumnRenamed("content_hash",
                                                      "__prev")),
            F.col("content_hash") == F.col("__prev"), "left",
        )
        dup = eligible & ((F.col("rn") > 1) | F.col("__prev").isNotNull())
        dd = dd.withColumn("is_dup", dup).drop("__prev")
    else:
        dd = dd.withColumn("is_dup", dup)
    return dd


def _b2_candidates(urls: DataFrame) -> DataFrame:
    """(seed_id, url) → filtered, canonicalized, distinct candidates."""
    return (
        urls.filter(~is_junk_href(F.col("url")) & is_valid_onion(F.col("url")))
        .select("seed_id", canonicalize_expr(F.col("url")).alias("canon_url"))
        .distinct()
    )


@register(
    "crawl_two_rounds",
    oracle=_b2_sql(),
    doc="TWO unrolled BFS rounds: round-0 links feed round-1 candidates, "
        "seen set / page budget / content-hash dedup accumulate across "
        "rounds (frontier.py round-loop semantics, crawler.py:214-273), "
        "oracle-replayable as chained CTEs",
)
def crawl_two_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    succ = F.col("ok") & ~F.col("blacklisted") & ~F.col("is_dup")
    w_seed = Window.partitionBy("seed_id").orderBy("canon_url")
    cum = F.coalesce(
        F.sum(succ.cast("int")).over(
            w_seed.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )

    docs = load(spark, sf_dir, "documents")
    r1url = docs.filter(F.col("doc_id") % 11 == 0).select(
        F.pmod(F.col("doc_id"), F.lit(_B2_SEEDS)).cast("int").alias("seed_id"),
        synth_url_spark(F.col("doc_id")).alias("url"),
    )
    r1 = _b2_gates(_b2_candidates(r1url), prev_hashes=None) \
        .withColumn("popped", cum < _B2_CAP)

    seen1 = r1.filter(F.col("popped")).select("seed_id", "canon_url")
    crawled1 = r1.groupBy("seed_id").agg(
        F.sum((F.col("popped") & succ).cast("int")).alias("c1"))
    hashes1 = r1.filter(F.col("popped") & succ) \
                .select("content_hash").distinct()

    # D1: dedup losers still propagate links — parents are popped ∧ ok ∧
    # ¬blacklisted, dups included (frontier.py link_src/popped_parents)
    links = (
        r1.filter(F.col("popped") & F.col("ok") & ~F.col("blacklisted"))
        .select("seed_id", "canon_url")
        .withColumn("k", F.explode(F.sequence(F.lit(0),
                                              F.lit(_B2_FANOUT - 1))))
        .select(
            "seed_id",
            (_b2_h(F.concat(F.col("canon_url"), F.lit("/"),
                            F.col("k").cast("string")), "child/")
             % _B2_CHILD_MOD).alias("child_id"),
        )
    )
    r2url = links.select("seed_id",
                         synth_url_spark(F.col("child_id")).alias("url"))
    r2new = _b2_candidates(r2url).join(seen1, ["seed_id", "canon_url"],
                                       "left_anti")
    r2 = (
        _b2_gates(r2new, prev_hashes=hashes1)
        .join(F.broadcast(crawled1), "seed_id", "left")
        .withColumn("popped",
                    cum < (F.lit(_B2_CAP) - F.coalesce("c1", F.lit(0))))
    )

    cols = ["seed_id", "canon_url", "blacklisted", "ok", "is_dup", "popped"]
    return (
        r1.select(F.lit(0).alias("round"), *cols)
        .unionByName(r2.select(F.lit(1).alias("round"), *cols))
    )


@register(
    "images_invariants",
    oracle=None,
    doc="image+caption payload invariants (input_hint): decoded-pixel "
        "equality, PSNR>=40dB, caption byte-equality, phash reproducibility",
)
def images_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    imgs = make_images_df(spark, n=64)
    return check_invariants(imgs)


@register(
    "audio_invariants",
    oracle=None,
    doc="audio payload invariants (multimodal, audio sibling of "
        "images_invariants): PCM16 decode bit-equality vs synthesis, "
        "transcript byte-equality, feature ranges, and the "
        "resample_audio stage verified against in-row re-derivation",
)
def audio_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .audio import check_invariants as audio_check, make_audio_df

    return audio_check(make_audio_df(spark, n=64))


@register(
    "img_dup_pixel_verified",
    oracle=None,
    doc="pixel-verified image near-dup (the image twin of "
        "dedup_lsh_verified's LSH -> exact verify): banded phash-Hamming "
        "LSH candidates over the REAL phash column of a dup-injected "
        "payload corpus, each pair decoded and classified exact (pixel "
        "equality across codecs) / near (PSNR >= 40 dB, the input_hint "
        "lossy threshold) / reject",
)
def img_dup_pixel_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .images import make_images_with_dups, pixel_verify_pairs
    from .q_more import phash_hamming_pairs

    # DISK_ONLY per the house payload-cache rationale (q_dedup
    # _SHINGLE_CACHE_LEVEL): encoded image payloads must not occupy
    # executor storage memory (ADVICE r5)
    from pyspark import StorageLevel

    imgs = make_images_with_dups(spark, n=64) \
        .persist(StorageLevel.DISK_ONLY)
    ph = imgs.select(F.col("image_id").alias("img_id"),
                     F.col("phash").alias("ph"))
    return pixel_verify_pairs(imgs, phash_hamming_pairs(ph))


# ---------------------------------------------------------------------------
# Priority-queue pop order — the north rule's "priority queue keyed by
# (depth, host-budget, discovery-time)" materialized as a query: BFS
# depth first, then position within the per-(host, depth) politeness
# budget, then discovery order.  This is exactly the order the round
# loop fetches in (depth = round, budget_pos = admission rank, url_id =
# canonical discovery sequence); expressing it standalone makes the
# ordering contract driver-checkable against SQL.
#
# Scale shape: the budget rank uses the SAME two-phase top-N device as
# admit_per_host (local row_number per (host, depth, salt) keeping ≤
# TOKENS per bucket, then the exact window over ≤ TOKENS×BUCKETS
# survivors — exact ranks for admitted rows, bounded task input under
# hot-host skew), and the global pop_rank uses seq.attach_grouped_prefix
# with no group, bounded by |admitted| <= |documents|: the plain window
# below its threshold, range-partitioned prefix sums above it, so no
# single task ever sorts a large queue.
# ---------------------------------------------------------------------------

_PQ_TOKENS = 8      # per-(host, depth) politeness budget
_PQ_BUCKETS = 4     # phase-1 salt buckets

_PQ_SQL = f"""
WITH cand AS (
  SELECT doc_id AS url_id, source AS host, doc_id % 3 AS depth
  FROM documents
),
budget AS (
  SELECT *,
         row_number() OVER (PARTITION BY host, depth ORDER BY url_id)
           AS budget_pos
  FROM cand
)
SELECT url_id, host, depth, budget_pos,
       row_number() OVER (ORDER BY depth, budget_pos, url_id) AS pop_rank
FROM budget
WHERE budget_pos <= {_PQ_TOKENS}
"""


@register(
    "crawl_priority_order",
    oracle=_PQ_SQL,
    doc="BFS priority-queue pop order keyed by (depth, host-budget "
        "position, discovery-time) — crawler.py:264-279 queue semantics; "
        "two-phase budget rank + range-partitioned global seq (no "
        "single-task sort)",
)
def crawl_priority_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .seq import attach_grouped_prefix

    cand = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("url_id"),
        F.col("source").alias("host"),
        (F.col("doc_id") % 3).alias("depth"),
    )
    # phase 1: local rank per (host, depth, salt) — admitted rows keep
    # their EXACT (host, depth) rank in phase 2 (proof: admit_per_host
    # docstring; ranks ≤ TOKENS are unaffected by dropping rows that
    # rank > TOKENS in their own bucket)
    pre = cand.withColumn("__s", F.pmod(F.col("url_id"), F.lit(_PQ_BUCKETS)))
    w_local = Window.partitionBy("host", "depth", "__s").orderBy("url_id")
    survivors = (
        pre.withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= _PQ_TOKENS)
    )
    w_hd = Window.partitionBy("host", "depth").orderBy("url_id")
    admitted = (
        survivors.withColumn(
            "budget_pos", F.row_number().over(w_hd).cast("long"))
        .filter(F.col("budget_pos") <= _PQ_TOKENS)
        .drop("__s", "__lrn")
    )
    popped = attach_grouped_prefix(
        admitted, None, ["depth", "budget_pos", "url_id"], "pop_rank",
        known_count=row_count(sf_dir, "documents"))
    return popped.select("url_id", "host", "depth", "budget_pos", "pop_rank")


# ---------------------------------------------------------------------------
# Robots gate as an oracle-checked query.  The crawl loop's robots path
# (frontier.py: fetch-once cache table → broadcast join on host →
# disallow-prefix startswith) was pytest-only; this expresses the SAME
# predicate pipeline — md5-derived per-host disallow rule (h = first 15
# hex digits of md5('robots/42/' || host): a host with h % 3 = 0
# disallows /p{h % 7} and, when also h % 5 = 0, /p{h % 10} if that
# differs) + broadcast membership join + prefix match — with hosts/paths
# synthesized identically in both dialects.  Scale shape matches the
# runtime: the robots table is tiny (one row per disallowing host),
# broadcast; the candidates never shuffle.
# ---------------------------------------------------------------------------

_RB_HOSTS = 50   # candidate urls spread over this many hosts


def _rb_h(col_sql: str) -> str:
    return (f"CAST('0x' || substr(md5('robots/42/' || {col_sql}), 1, 15) "
            f"AS BIGINT)")


_ROBOTS_SQL = f"""
WITH cand AS (
  SELECT doc_id,
         substr(md5('h/' || CAST(doc_id % {_RB_HOSTS} AS VARCHAR)), 1, 16)
           || '.onion' AS host,
         '/p' || CAST(doc_id % 23 AS VARCHAR) AS path
  FROM documents
),
hosts AS (SELECT DISTINCT host, {_rb_h('host')} AS h FROM cand),
robots AS (
  SELECT host, '/p' || CAST(h % 7 AS VARCHAR) AS prefix
  FROM hosts WHERE h % 3 = 0
  UNION ALL
  SELECT host, '/p' || CAST(h % 10 AS VARCHAR) AS prefix
  FROM hosts WHERE h % 3 = 0 AND h % 5 = 0 AND (h % 10) <> (h % 7)
)
SELECT c.doc_id, c.host, c.path,
       coalesce(bool_or(starts_with(c.path, r.prefix)), FALSE)
         AS robots_blocked
FROM cand c LEFT JOIN robots r ON c.host = r.host
GROUP BY c.doc_id, c.host, c.path
"""


@register(
    "crawl_robots_gate",
    oracle=_ROBOTS_SQL,
    doc="robots.txt disallow gate (north rule): md5-derived per-host "
        "MULTI-prefix rules (~1/3 of hosts disallow one /pN prefix; "
        "every 5th of those carries a second one) + broadcast "
        "membership join + per-candidate any-match — frontier.py "
        "robots path, driver-checkable",
)
def crawl_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.substring(
                F.md5(F.concat(F.lit("h/"),
                               (F.col("doc_id") % _RB_HOSTS).cast("string"))),
                1, 16),
            F.lit(".onion"),
        ).alias("host"),
        F.concat(F.lit("/p"), (F.col("doc_id") % 23).cast("string"))
        .alias("path"),
    )
    hosts = cand.select("host").distinct().withColumn(
        "__h",
        F.conv(
            F.substring(F.md5(F.concat(F.lit("robots/42/"), F.col("host"))),
                        1, 15),
            16, 10,
        ).cast("long"),
    )
    dis = hosts.filter(F.col("__h") % 3 == 0)
    robots = dis.select(
        "host",
        F.concat(F.lit("/p"), (F.col("__h") % 7).cast("string"))
        .alias("prefix"),
    ).unionByName(
        dis.filter((F.col("__h") % 5 == 0)
                   & (F.col("__h") % 10 != F.col("__h") % 7)).select(
            "host",
            F.concat(F.lit("/p"), (F.col("__h") % 10).cast("string"))
            .alias("prefix"),
        )
    )
    # one row per (host, prefix) -> any-match per candidate: the same
    # broadcast-join + groupBy-max shape the runtime gate uses
    # (frontier.py robots_table path)
    return (
        cand.join(F.broadcast(robots), "host", "left")
        .groupBy("doc_id", "host", "path")
        .agg(F.coalesce(
            F.bool_or(F.col("path").startswith(F.col("prefix"))),
            F.lit(False),
        ).alias("robots_blocked"))
    )


# ---------------------------------------------------------------------------
# THREE unrolled BFS rounds WITH per-host politeness deferral (VERDICT
# r3 missing #2): the last reference semantic not yet in a DuckDB row —
# crawler.py:264's per-host spacing composed with the BFS round loop
# (crawler.py:214-273).  Each round admits at most _B3_TOKENS
# candidates per host (ordered by (depth, url_id) — the priority-queue
# key of crawl_priority_order); the rest are DEFERRED and re-enter the
# next round's pool at their ORIGINAL depth, where they outrank that
# round's fresh (deeper) links.  Seen set, crawled-hash set, and link
# fan-out accumulate across rounds exactly as in crawl_two_rounds.
#
# The fetch/dup outcomes are the same md5 arithmetic stand-ins the
# other crawl oracles use, so all three rounds stay SQL-expressible;
# both dialects are generated by the same loop, so they cannot drift.
# Scale shape: per-round admission is a bounded-window rank (the
# runtime uses the two-phase admit_per_host for exactly this plan);
# the unroll is for ORACLE replay — the real loop is frontier.py.
# ---------------------------------------------------------------------------

_B3_ROUNDS = 3
_B3_HOSTS = 5        # small host space → budgets bind at sf0.001 already
_B3_TOKENS = 3       # per-host per-round politeness budget
_B3_FANOUT = 3       # links per crawled page
_B3_CHILD_MOD = 1_000


def _b3_sql() -> str:
    def h(prefix: str, expr: str) -> str:
        return (f"(CAST('0x' || substr(md5('{prefix}' || {expr}), 1, 15) "
                "AS BIGINT))")

    ks = ", ".join(str(k) for k in range(_B3_FANOUT))
    parts = [f"""p0 AS (
  SELECT CAST(doc_id % 2 AS INT) AS seed_id,
         CAST(doc_id AS BIGINT) AS url_id,
         0 AS depth
  FROM documents WHERE doc_id % 9 = 0
)"""]
    outs = []
    for r in range(_B3_ROUNDS):
        if r > 0:
            parts.append(f"""l{r} AS (
  SELECT g.seed_id,
         CAST({h('c/', "CAST(g.url_id AS VARCHAR) || '/' || CAST(t.k AS VARCHAR)")}
              % {_B3_CHILD_MOD} AS BIGINT) AS url_id,
         g.depth + 1 AS depth
  FROM g{r - 1} g, unnest([{ks}]) AS t(k)
  WHERE g.admitted AND g.ok AND NOT g.is_dup
),
p{r} AS (
  SELECT seed_id, url_id, min(depth) AS depth
  FROM (SELECT seed_id, url_id, depth FROM d{r - 1}
        UNION ALL SELECT seed_id, url_id, depth FROM l{r}) u
  WHERE NOT EXISTS (SELECT 1 FROM seen{r - 1} s
                    WHERE s.seed_id = u.seed_id AND s.url_id = u.url_id)
  GROUP BY seed_id, url_id
)""")
        prev_dup = (" OR content_hash IN (SELECT content_hash FROM ch"
                    f"{r - 1})") if r > 0 else ""
        parts.append(f"""a{r} AS (
  SELECT *, CAST(url_id % {_B3_HOSTS} AS INT) AS host,
         row_number() OVER (PARTITION BY url_id % {_B3_HOSTS}
                            ORDER BY depth, url_id, seed_id)
           <= {_B3_TOKENS} AS admitted
  FROM p{r}
),
h{r} AS (
  SELECT *,
         ({h('f/', 'CAST(url_id AS VARCHAR)')} % 100) >= 10 AS ok,
         {h('d/', 'CAST(url_id AS VARCHAR)')} AS hd
  FROM a{r}
),
x{r} AS (
  SELECT *, CASE WHEN admitted AND ok THEN
      sha256(CASE WHEN hd % 100 < 30 THEN 'dup ' || CAST(hd % 4 AS VARCHAR)
                  ELSE 'uniq ' || CAST(url_id AS VARCHAR) END) END
        AS content_hash
  FROM h{r}
),
dd{r} AS (
  SELECT *, row_number() OVER (PARTITION BY content_hash
                               ORDER BY url_id, seed_id) AS rn
  FROM x{r}
),
g{r} AS (
  SELECT *, (admitted AND ok AND (rn > 1{prev_dup})) AS is_dup
  FROM dd{r}
),
ch{r} AS (
  SELECT DISTINCT content_hash FROM g{r}
  WHERE admitted AND ok AND NOT is_dup{
    " UNION SELECT content_hash FROM ch" + str(r - 1) if r > 0 else ""}
),
seen{r} AS (
  SELECT seed_id, url_id FROM g{r} WHERE admitted{
    " UNION SELECT seed_id, url_id FROM seen" + str(r - 1) if r > 0 else ""}
),
d{r} AS (
  SELECT seed_id, url_id, depth FROM g{r} WHERE NOT admitted
)""")
        outs.append(f"SELECT {r} AS round, seed_id, url_id, host, depth, "
                    f"admitted, ok, is_dup FROM g{r}")
    return "WITH " + ",\n".join(parts) + "\n" + "\nUNION ALL\n".join(outs)


@register(
    "crawl_three_rounds",
    oracle=_b3_sql(),
    doc=f"THREE unrolled BFS rounds with per-host politeness deferral: "
        f"<= {_B3_TOKENS} admissions per host per round, deferred rows "
        "re-enter the next pool at their original depth and outrank "
        "fresh links (crawler.py:264 spacing composed with the "
        "crawler.py:214-273 round loop); seen/hash/budget state "
        "accumulates across rounds",
)
def crawl_three_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    def hh(prefix: str, col):
        return F.conv(
            F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 15), 16, 10,
        ).cast("long")

    docs = load(spark, sf_dir, "documents")
    pool = docs.filter(F.col("doc_id") % 9 == 0).select(
        F.pmod("doc_id", F.lit(2)).cast("int").alias("seed_id"),
        F.col("doc_id").cast("long").alias("url_id"),
        F.lit(0).alias("depth"),
    )
    seen = None
    hashes = None
    outs = []
    for r in range(_B3_ROUNDS):
        cand = pool.groupBy("seed_id", "url_id").agg(
            F.min("depth").alias("depth"))
        if seen is not None:
            cand = cand.join(seen, ["seed_id", "url_id"], "left_anti")
        cand = cand.withColumn("host", F.pmod("url_id",
                                              F.lit(_B3_HOSTS)).cast("int"))
        w_host = Window.partitionBy("host").orderBy("depth", "url_id",
                                                    "seed_id")
        g = (
            cand.withColumn("admitted",
                            F.row_number().over(w_host) <= _B3_TOKENS)
            .withColumn("ok",
                        (hh("f/", F.col("url_id").cast("string")) % 100) >= 10)
            .withColumn("hd", hh("d/", F.col("url_id").cast("string")))
        )
        text = F.when(
            F.col("hd") % 100 < 30,
            F.concat(F.lit("dup "), (F.col("hd") % 4).cast("string")),
        ).otherwise(F.concat(F.lit("uniq "), F.col("url_id").cast("string")))
        g = g.withColumn(
            "content_hash",
            F.when(F.col("admitted") & F.col("ok"), F.sha2(text, 256)),
        )
        w_hash = Window.partitionBy("content_hash").orderBy("url_id",
                                                            "seed_id")
        g = g.withColumn("rn", F.row_number().over(w_hash))
        dup = F.col("admitted") & F.col("ok") & (F.col("rn") > 1)
        if hashes is not None:
            g = g.join(
                F.broadcast(hashes.withColumnRenamed("content_hash",
                                                     "__prev")),
                F.col("content_hash") == F.col("__prev"), "left",
            )
            dup = (F.col("admitted") & F.col("ok")
                   & ((F.col("rn") > 1) | F.col("__prev").isNotNull()))
        g = g.withColumn("is_dup", dup)
        if hashes is not None:
            g = g.drop("__prev")

        outs.append(g.select(
            F.lit(r).alias("round"), "seed_id", "url_id", "host", "depth",
            "admitted", "ok", "is_dup",
        ))

        crawled = g.filter(F.col("admitted") & F.col("ok") & ~F.col("is_dup"))
        hr = crawled.select("content_hash").distinct()
        hashes = hr if hashes is None else hashes.union(hr).distinct()
        sr = g.filter("admitted").select("seed_id", "url_id")
        seen = sr if seen is None else seen.union(sr).distinct()
        links = (
            crawled.select("seed_id", "url_id", "depth")
            .withColumn("k", F.explode(F.sequence(F.lit(0),
                                                  F.lit(_B3_FANOUT - 1))))
            .select(
                "seed_id",
                F.pmod(
                    hh("c/", F.concat(F.col("url_id").cast("string"),
                                      F.lit("/"),
                                      F.col("k").cast("string"))),
                    F.lit(_B3_CHILD_MOD),
                ).cast("long").alias("url_id"),
                (F.col("depth") + 1).alias("depth"),
            )
        )
        deferred = g.filter(~F.col("admitted")).select("seed_id", "url_id",
                                                       "depth")
        pool = deferred.unionByName(links)

    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# RFC 9309 robots precedence (VERDICT r4 task #6): the frontier gate's
# longest-match Allow/Disallow decision with '*' wildcards and '$'
# anchors, as a driver-checkable query.  Unlike crawl_robots_gate
# (any-match over Disallow prefixes), the rule slate here is generated
# by ONE Python loop (_rbp_rules) and embedded verbatim into BOTH
# dialects — a VALUES CTE in the DuckDB oracle and a createDataFrame on
# the Spark side — so the two rule sets cannot drift; both engines then
# regexp-match per (candidate, rule) and reduce the winner with the
# shared score arithmetic 2*len(pattern)+allow (robots.py:rule_score —
# max picks longest-then-Allow, blocked iff the max is even).
#
# Scale shape: rules are |hosts·rules|-sized (broadcast); the candidate
# side streams through one broadcast join + one partial-aggregated
# groupBy on its own key — identical to the frontier's runtime gate
# (frontier.py attach_robots_blocked call).
# ---------------------------------------------------------------------------

_RBP_HOSTS = 37


def _rbp_host(i: int) -> str:
    import hashlib
    return hashlib.md5(f"rbp/{i}".encode()).hexdigest()[:16] + ".onion"


def _rbp_rules(i: int) -> list[tuple[str, bool]]:
    """Deterministic per-host rule slate covering every precedence
    branch: plain Disallow, longer Allow carve-out, wildcard Disallow,
    '$'-anchored Disallow, wildcard+anchor, equal-length tie."""
    from .synth import _h
    h = _h(f"rbprules/{i}")
    if h % 3 == 2:
        return []                      # ~1/3 of hosts: empty robots
    a = h % 23
    rules: list[tuple[str, bool]] = [(f"/p{a}", False)]
    if h % 2 == 0:
        rules.append((f"/p{a}/sub", True))        # longer Allow wins
    if h % 5 == 0:
        rules.append(("/p*.html", False))         # wildcard Disallow
    if h % 7 == 0:
        rules.append((f"/p{h % 10}$", False))     # exact bare path
    if h % 11 == 0:
        rules.append((f"/p{(h // 13) % 23}x7$", False))
    if h % 13 == 0:
        rules.append((f"/p{a}", True))            # tie -> Allow wins
    return rules


def _rbp_slate() -> list[tuple[str, str, str, int]]:
    from .robots import rule_regex
    return [
        (_rbp_host(i), pattern, rule_regex(pattern), int(allow))
        for i in range(_RBP_HOSTS)
        for pattern, allow in _rbp_rules(i)
    ]


def _rbp_sql() -> str:
    values = ",\n    ".join(
        f"('{h}', '{p}', '{rx}', {a})" for h, p, rx, a in _rbp_slate()
    )
    return f"""
WITH cand AS (
  SELECT doc_id,
         substr(md5('rbp/' || CAST(doc_id % {_RBP_HOSTS} AS VARCHAR)), 1, 16)
           || '.onion' AS host,
         '/p' || CAST(doc_id % 23 AS VARCHAR) ||
           CASE CAST(doc_id % 4 AS INT)
                WHEN 1 THEN '.html' WHEN 2 THEN '/sub' WHEN 3 THEN 'x7'
                ELSE '' END AS path
  FROM documents
),
rules(host, pattern, regex, allow) AS (VALUES
    {values}
),
m AS (
  SELECT c.doc_id, c.host, c.path,
         max(CASE WHEN r.pattern IS NOT NULL
                   AND regexp_matches(c.path, r.regex)
                  THEN 2 * length(r.pattern) + r.allow END) AS s
  FROM cand c LEFT JOIN rules r ON c.host = r.host
  GROUP BY c.doc_id, c.host, c.path
)
SELECT doc_id, host, path, coalesce(s % 2 = 0, FALSE) AS robots_blocked
FROM m
"""


@register(
    "crawl_robots_precedence",
    oracle=_rbp_sql,
    doc="RFC 9309 robots gate: longest-match Allow/Disallow precedence "
        "with '*' wildcards and '$' anchors (robots.py; frontier gate "
        "semantics).  Python-generated rule slate shared verbatim by "
        "both dialects; winner reduced via the 2*len+allow score.",
)
def crawl_robots_precedence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .robots import attach_robots_blocked

    # spread: the single-row-group scan otherwise runs the whole rlike
    # matching pass on one partition (round 6)
    d = load_spread(spark, sf_dir, "documents").select("doc_id")
    cand = d.select(
        "doc_id",
        F.concat(
            F.substring(
                F.md5(F.concat(F.lit("rbp/"),
                               (F.col("doc_id") % _RBP_HOSTS).cast("string"))),
                1, 16),
            F.lit(".onion"),
        ).alias("host"),
        F.concat(
            F.lit("/p"), (F.col("doc_id") % 23).cast("string"),
            F.when(F.col("doc_id") % 4 == 1, F.lit(".html"))
            .when(F.col("doc_id") % 4 == 2, F.lit("/sub"))
            .when(F.col("doc_id") % 4 == 3, F.lit("x7"))
            .otherwise(F.lit("")),
        ).alias("path"),
    )
    rules = spark.createDataFrame(
        [(h, p, bool(a)) for h, p, _rx, a in _rbp_slate()],
        "host string, pattern string, allow boolean",
    )
    return attach_robots_blocked(
        cand, rules, F.col("path"), ["doc_id", "host", "path"]
    )
