"""Deduplication operators for a training-data pipeline, with oracles.

 - exact dedup: sha256 hash-groupBy (analog of the reference's global
   content dedup, crawler.py:184-191, here over ``documents``);
 - MinHash + LSH banding: shingle → K minhashes → B bands → bucket
   self-join → candidate pairs;
 - LSH → exact-Jaccard verify (``dedup_lsh_verified``): the composed
   index-bounded pipeline a 100 TB dedup actually runs;
 - near-dup clustering (``dedup_components``): connected components
   over verified pairs via min-label propagation;
 - SimHash: 60-bit signature from token-hash bit votes, as a
   zero-shuffle per-doc pandas UDF;
 - word-3-gram Jaccard near-dup pairs with frequent-shingle pruning.

Cross-engine determinism trick: all hashing is md5-hex (identical in
Spark and DuckDB).  MinHash takes the lexicographic MIN of hex digests
(a valid uniform min-hash); SimHash parses the first 15 hex chars as a
60-bit int (Spark ``conv``, DuckDB ``'0x…'::BIGINT``).

Scale notes:
 - exact dedup is one hash-shuffle on the 64-hex digest — at 100 TB,
   AQE coalesces post-shuffle partitions; no skew (sha256 keys are
   uniform);
 - LSH self-join shuffles on (band_id, band_hash) — uniform keys,
   broadcast never applies, sort-merge is right; candidate pairs are
   `dropDuplicates` before any verify stage;
 - the Jaccard shingle join prunes shingles appearing in > DF_CAP docs
   (stop-shingles) — THE standard guard against quadratic blowup on
   hot shingles (same physics as hot-host salting).
"""
from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark import StorageLevel

from .registry import register
from .session import load, load_spread

# Shingle caches persist DISK_ONLY (VERDICT r2 #6): a full-table cache of
# shingle arrays at 100 TB would evict or starve execution memory under
# the default MEMORY_AND_DISK level; DISK_ONLY keeps the single-pass
# shingling benefit (the pandas shingler is the dominant per-doc cost)
# with zero storage-memory pressure.  Measured at sf0.1 (BENCH/BASELINE.md
# r3): within noise of the memory cache for these queries.
_SHINGLE_CACHE_LEVEL = StorageLevel.DISK_ONLY

MINHASH_K = 16
LSH_BANDS = 4           # 4 bands x 4 rows
LSH_ROWS = MINHASH_K // LSH_BANDS
SIMHASH_BITS = 60       # 15 hex chars of md5 -> signed-safe 60-bit int
JACCARD_THRESHOLD = 0.8
DF_CAP = 50             # drop shingles present in more docs (stop-shingles)

_TOKEN_RE = r"[a-z0-9]+"

# ---------------------------------------------------------------------------
# shared fragments — DuckDB
# ---------------------------------------------------------------------------

_TOKENS_SQL = f"regexp_extract_all(lower(text), '{_TOKEN_RE}')"

_SHINGLES_SQL = f"""(
  SELECT doc_id,
    CASE WHEN length(toks) >= 3 THEN
      list_transform(generate_series(1, length(toks) - 2),
                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END AS shingles
  FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
)"""

_SHINGLED_NONEMPTY_SQL = (
    f"(SELECT * FROM {_SHINGLES_SQL} WHERE length(shingles) > 0)"
)


# ---------------------------------------------------------------------------
# D1 analog — exact dedup via sha256 hash-groupBy
# ---------------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
SELECT sha256(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS winner_doc,
       CAST(count(*) AS BIGINT) AS n_copies
FROM documents
GROUP BY sha256(text)
""",
    doc="exact content dedup: hash groups + canonical winner (crawler.py:184-191 analog)",
    bench=True,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.sha2("text", 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("winner_doc"),
            F.count("*").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH candidate pairs
# ---------------------------------------------------------------------------


_H1_SQL = ("list_transform(shingles, s -> CAST('0x' || substr(md5(s), 1, 15)"
           " AS BIGINT))")
_H2_SQL = ("list_transform(shingles, s -> CAST('0x' || substr(md5(s), 17, 14)"
           " AS BIGINT) | 1)")


def _minhash_sql_cols() -> str:
    return ", ".join(
        f"list_aggregate(list_transform(generate_series(1, length(h1)), "
        f"i -> h1[i] + {j} * h2[i]), 'min') AS mh_{j}"
        for j in range(MINHASH_K)
    )


# ---------------------------------------------------------------------------
# fused shingle→minhash path (round 6; guide §4.2): ONE Arrow crossing
# computes the distinct shingle set and the K minhashes per doc, so the
# shingle-string arrays never make a second JVM↔Python round-trip.
# Batch queries and streaming.stream_lsh_candidates share it.  Python,
# not a JVM expression: Spark's interpreted higher-order-function path
# costs ~20 µs per shingle element, a Python list join < 1 µs (measured
# at sf0.1: 11.4 s → sub-second for the shingle stage).
# Arithmetic identities keeping oracle parity exact:
#  - minhash over the DISTINCT shingle set == minhash over the raw
#    multiset (min is idempotent under duplicates);
#  - int.from_bytes(md5.digest()) bit-slices equal the
#    int(hexdigest[a:b], 16) slices _H1_SQL/_H2_SQL take
#    (tests/test_properties.py);
#  - band hashes derive in the JVM from the sig ints as
#    md5(concat(CAST(mh AS STRING)...)), the oracle's band expression.
# ---------------------------------------------------------------------------


@functools.cache
def _fused_sig_udf():
    """pandas UDF: text → struct(sigs array<long>, n int, sh array<string>).

    sh is the distinct shingle array for exact-Jaccard verification;
    n = |sh| (0 ⇒ the doc has no shingle and is dropped by the caller's
    n > 0 filter — the UDF is nondeterministic so that filter cannot
    duplicate it, guide §4.4)."""
    import hashlib
    import re

    import numpy as np

    from pyspark.sql.functions import pandas_udf

    tok_re = re.compile(_TOKEN_RE)
    j = np.arange(MINHASH_K, dtype=np.int64)

    def fused(texts: pd.Series) -> pd.DataFrame:
        sh_l, sig_l, n_l = [], [], []
        for t in texts:
            toks = tok_re.findall(t.lower())
            sh = list(dict.fromkeys(
                f"{toks[i]} {toks[i + 1]} {toks[i + 2]}"
                for i in range(len(toks) - 2)))
            n_l.append(len(sh))
            sh_l.append(sh)
            if not sh:
                sig_l.append(None)
                continue
            h1 = np.empty(len(sh), dtype=np.int64)
            h2 = np.empty(len(sh), dtype=np.int64)
            for i, s in enumerate(sh):
                d = hashlib.md5(s.encode()).digest()
                h1[i] = int.from_bytes(d[0:8], "big") >> 4
                h2[i] = int.from_bytes(d[8:15], "big") | 1
            sig_l.append((h1[:, None] + h2[:, None] * j[None, :])
                         .min(axis=0).tolist())
        return pd.DataFrame({"sigs": sig_l, "n": n_l, "sh": sh_l},
                            index=texts.index)

    return pandas_udf(
        fused, "sigs array<long>, n int, sh array<string>"
    ).asNondeterministic()


def _sigged(docs: DataFrame) -> DataFrame:
    """(doc_id, sigs, n, sh) for every (doc_id, text) row with >= 1
    shingle; *docs* may be a batch or a streaming frame."""
    return (
        docs.withColumn("__t", _fused_sig_udf()(F.col("text")))
        .filter(F.col("__t.n") > 0)
        .select("doc_id", F.col("__t.sigs").alias("sigs"),
                F.col("__t.n").alias("n"), F.col("__t.sh").alias("sh"))
    )


def _docs_sigged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_sigged over ``documents``, persisted DISK_ONLY.  Every LSH-family
    query builds this SAME plan: Spark's cache manager matches cached
    plans by structure, so in one session (the bench, dedup_components,
    dedup_multimodal) the corpus pass runs once and the others read
    the cache."""
    d = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    return _sigged(d).persist(_SHINGLE_CACHE_LEVEL)


def _bands_from_sigs(sigged: DataFrame,
                     carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, *carry], band_id, band_hash) from a sigs column."""
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat(*[
                F.element_at(F.col("sigs"), b * LSH_ROWS + r + 1)
                .cast("string")
                for r in range(LSH_ROWS)])).alias("band_hash"),
        )
        for b in range(LSH_BANDS)
    ])
    return sigged.select(
        "doc_id", *carry, F.explode(band_structs).alias("band")
    ).select("doc_id", *carry, "band.band_id", "band.band_hash")


def _band_pairs(base: DataFrame,
                jaccard_floor: float | None = None) -> DataFrame:
    """Distinct LSH candidate pairs (doc_a < doc_b) by the banded
    self-join over *base* (_docs_sigged).

    The band table is persisted with the set size carried as __n, in
    ONE plan shape for every caller: the cache manager matches
    persisted plans structurally, so a session running both
    dedup_minhash_lsh and dedup_lsh_verified fills one band cache, and
    the self-join does not deserialize the fat base cache (shingle
    arrays) once per side.  *jaccard_floor* adds
    min(n)/max(n) >= floor to the join: |∩| <= min and |∪| >= max, so
    that ratio bounds Jaccard from above and no pair at or above the
    floor is dropped."""
    bands = _bands_from_sigs(base.withColumnRenamed("n", "__n"),
                             carry=("__n",)).persist(_SHINGLE_CACHE_LEVEL)
    a = bands.alias("a")
    b = bands.alias("b")
    cond = ((F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")))
    if jaccard_floor is not None:
        cond = cond & (
            F.least(F.col("a.__n"), F.col("b.__n")).cast("double")
            / F.greatest(F.col("a.__n"), F.col("b.__n")).cast("double")
            >= jaccard_floor)
    return (
        a.join(b, cond)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH hashed AS (
  SELECT doc_id, {_H1_SQL} AS h1, {_H2_SQL} AS h2
  FROM {_SHINGLED_NONEMPTY_SQL}
),
sig AS (
  SELECT doc_id, {_minhash_sql_cols()} FROM hashed
),
bands AS (
  {' UNION ALL '.join(
      f"SELECT doc_id, {b} AS band_id, md5("
      + " || ".join(f"CAST(mh_{b * LSH_ROWS + r} AS VARCHAR)"
                    for r in range(LSH_ROWS))
      + ") AS band_hash FROM sig"
      for b in range(LSH_BANDS)
  )}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash
  AND a.doc_id < b.doc_id
""",
    doc="MinHash(16) + LSH(4x4) near-dup candidate pairs over documents",
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _band_pairs(_docs_sigged(spark, sf_dir))


# ---------------------------------------------------------------------------
# LSH → exact-Jaccard verify: THE pipeline a 100 TB near-dup dedup runs
# (the index bounds the candidate space; the verify touches only
# candidate pairs, never all shingle pairs)
# ---------------------------------------------------------------------------

_LSH_CAND_SQL = f"""
WITH hashed AS (
  SELECT doc_id, {_H1_SQL} AS h1, {_H2_SQL} AS h2
  FROM {_SHINGLED_NONEMPTY_SQL}
),
sig AS (
  SELECT doc_id, {{mh_cols}} FROM hashed
),
bands AS (
  {{band_union}}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash
    AND a.doc_id < b.doc_id
),
sets AS (
  SELECT doc_id, list_distinct(shingles) AS sh FROM {_SHINGLED_NONEMPTY_SQL}
)
"""


def _lsh_verified_sql() -> str:
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || ".join(f"CAST(mh_{b * LSH_ROWS + r} AS VARCHAR)"
                      for r in range(LSH_ROWS))
        + ") AS band_hash FROM sig"
        for b in range(LSH_BANDS)
    )
    prelude = _LSH_CAND_SQL.format(mh_cols=_minhash_sql_cols(),
                                   band_union=band_union)
    return f"""{prelude}
SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM (
  SELECT c.doc_a, c.doc_b,
         CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(length(a.sh) + length(b.sh)
                  - length(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jac
  FROM cand c
  JOIN sets a ON a.doc_id = c.doc_a
  JOIN sets b ON b.doc_id = c.doc_b
)
WHERE jac >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_lsh_verified",
    oracle=_lsh_verified_sql(),
    doc=f"MinHash-LSH candidates verified by exact Jaccard >= "
        f"{JACCARD_THRESHOLD} over full shingle sets (index-bounded "
        "near-dup pipeline; crawler.py:184-191 generalized)",
    bench=True,
)
def dedup_lsh_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one cached fused pass (_docs_sigged) feeds BOTH the index build
    # and the verify-side shingle sets.
    # Round-6 verify restructure (guide §2.3/§3: shuffle fewer bytes,
    # decide with small rows before attaching payloads).  Hot shingles
    # make LSH precision poor on this corpus (~110-doc band buckets →
    # 1.3M candidate pairs at sf1.0 for only 2.5k true pairs), so the
    # old plan attached ~50-element shingle arrays to every candidate
    # and SORT-MERGE-joined the fat intermediate twice (measured 8.8 s
    # of the 11.6 s total at sf1.0).  Three lossless changes:
    #  1. ONE fused Arrow pass emits distinct shingles + sigs + n
    #     (_fused_sig_udf), cached DISK_ONLY once — the old pipeline
    #     round-tripped the shingle arrays through a second Python
    #     stage for the signatures.
    #  2. the distinct-set SIZE rides the band table (one int), and the
    #     self-join condition adds min(n)/max(n) >= T (_band_pairs'
    #     jaccard_floor); division is correctly rounded and monotone,
    #     hence jac >= T always implies the bound passes.  Candidates
    #     drop ~3x BEFORE the distinct.
    #  3. the array attach uses SHUFFLE_HASH joins: the pair table
    #     streams against a per-partition hash of the sets — no sort of
    #     array-typed rows, and nothing corpus-sized is broadcast.
    # Measured at sf1.0: 11.6 s → ~4 s, byte-identical output.
    base = _docs_sigged(spark, sf_dir)
    cand = _band_pairs(base, jaccard_floor=JACCARD_THRESHOLD)
    sets = base.select("doc_id", "sh")
    aa = sets.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    bb = sets.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(aa.hint("shuffle_hash"), "doc_a")
        .join(bb.hint("shuffle_hash"), "doc_b")
        .withColumn("__c", inter.cast("double"))
        .withColumn(
            "jac",
            F.col("__c")
            / (F.size("sh_a") + F.size("sh_b") - F.col("__c")).cast("double"),
        )
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jac", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Near-dup CLUSTERING: connected components over the verified pairs —
# what a dedup pipeline actually materializes (one winner per cluster).
# Spark: iterative min-label propagation (pagerank-style driver loop,
# localCheckpoint lineage truncation, converges in O(component
# diameter) rounds — near-dup clusters are near-cliques, so 2-4).
# Oracle: full transitive closure via recursive CTE + min per node.
# At 10^10 docs the same loop runs with the pairs table partitioned by
# node; large-star/small-star is the constant-factor upgrade, with
# identical output.
# ---------------------------------------------------------------------------


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both directions of every edge, self-loops dropped, deduped."""
    return (
        edges.select("u", "v")
        .unionByName(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """large-star: each node u links its LARGER neighbors to
    m = min(N(u) ∪ {u}).  One groupBy + one join, both on node id."""
    mins = sym.groupBy("u").agg(F.min("v").alias("mn")) \
              .select("u", F.least("mn", "u").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(sym: DataFrame) -> DataFrame:
    """small-star: each node u links its smaller neighbors AND itself to
    m = min of those smaller neighbors."""
    smaller = sym.filter(F.col("v") < F.col("u"))
    mins = smaller.groupBy("u").agg(F.min("v").alias("m"))
    return (
        smaller.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select(F.col("u").alias("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b",
                         max_iter: int = 30,
                         rounds_out: list | None = None) -> DataFrame:
    """(node, component) where component = min node id reachable.

    Alternating large-star/small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") — converges in
    O(log² n) rounds INDEPENDENT OF COMPONENT DIAMETER (VERDICT r2 #8:
    the previous min-label propagation needed O(diameter) Spark jobs, so
    a 10^4-long near-dup chain ran 10^4 rounds; a 1000-link chain now
    closes in ≤ ~15 — tests/test_lsh_verified.py asserts the bound).
    Each round is two node-keyed groupBy/join pairs with localCheckpoint
    lineage truncation; deterministic (min is order-free).

    *rounds_out*: optional list; the number of star rounds executed is
    appended (test/diagnostic hook).
    """
    raw = pairs.select(F.col(a).alias("u"), F.col(b).alias("v"))
    # nodes come from the RAW pairs: a self-loop-only node is its own
    # singleton component, not absent from the output
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        after_large = _large_star(_symmetric(edges)).localCheckpoint()
        after_small = _small_star(_symmetric(after_large)).localCheckpoint()
        # converged when the (canonicalized) edge set is stable: at the
        # fixpoint every edge points directly at its component's min
        canon_old = edges.select(F.greatest("u", "v").alias("hi"),
                                 F.least("u", "v").alias("lo")).distinct()
        canon_new = after_small.select(F.greatest("u", "v").alias("hi"),
                                       F.least("u", "v").alias("lo")).distinct()
        changed = (
            canon_new.exceptAll(canon_old)
            .unionByName(canon_old.exceptAll(canon_new))
            .limit(1).count()
        )
        edges = after_small
        if changed == 0:
            break
    if rounds_out is not None:
        rounds_out.append(rounds)
    # at the fixpoint the graph is a union of stars centered on each
    # component's min: label = min(neighbors ∪ self)
    sym = _symmetric(edges)
    labels = (
        nodes.join(sym, nodes.node == sym.u, "left")
        .groupBy("node")
        .agg(F.least(F.min("v"), F.first("node")).alias("component"))
    )
    return labels.select("node", "component")


def _components_sql() -> str:
    """Oracle: verified near-dup pairs → transitive closure → min label.

    The recursive member only joins (no aggregation over the recursive
    reference), so it is valid recursive-CTE SQL; UNION dedupes, which
    guarantees termination."""
    verified = _lsh_verified_sql()
    return f"""
WITH RECURSIVE pairs AS ({verified}),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
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
    "dedup_components",
    oracle=_components_sql(),
    doc="near-dup clusters: connected components over LSH-verified "
        "Jaccard pairs (min-label propagation; the cluster table a "
        "dedup pipeline keeps one winner per row of)",
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_lsh_verified(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


# ---------------------------------------------------------------------------
# SimHash signatures (60-bit)
# ---------------------------------------------------------------------------

def _simhash_sql() -> str:
    votes = ", ".join(
        f"CAST(sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS v{i}"
        for i in range(SIMHASH_BITS)
    )
    combine = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END"
        for i in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS t FROM documents
),
hashed AS (
  SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS h FROM tok
),
votes AS (
  SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({combine} AS BIGINT) AS simhash FROM votes
"""


@functools.cache
def _simhash_udf():
    """Vectorized pandas SimHash: text -> 60-bit signature (or None for
    token-less docs, which the oracle's unnest also drops).

    Identical arithmetic to the DuckDB oracle (md5 15-hex-prefix token
    hash, ±1 bit votes over DISTINCT tokens, bit set iff votes > 0) —
    but a zero-shuffle map stage, replacing the round-1
    explode + groupBy(60 partial aggs) plan (VERDICT r1 #7): at 100 TB
    the signature never leaves its input partition."""
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    tok_re = re.compile(_TOKEN_RE)
    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    def sim(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = set(tok_re.findall(t.lower()))
            if not toks:
                out.append(None)
                continue
            hs = np.fromiter(
                (int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                 for s in toks),
                dtype=np.int64, count=len(toks),
            )
            bits = (hs[:, None] >> bit_idx) & 1          # (n_tok, 60)
            votes = (2 * bits - 1).sum(axis=0)
            out.append(int(((votes > 0).astype(np.int64) << bit_idx).sum()))
        return pd.Series(out, index=texts.index, dtype="object")

    return pandas_udf(sim, "long")


@register(
    "dedup_simhash",
    oracle=_simhash_sql(),
    doc="60-bit SimHash signature per doc (token-hash bit votes), "
        "zero-shuffle pandas-UDF map stage",
    bench=True,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_spread(spark, sf_dir, "documents").select("doc_id", "text")
    # token-less docs are dropped by a CHEAP codegen predicate BEFORE the
    # UDF (a doc has a token iff it has an alphanumeric char) — filtering
    # on the UDF output instead makes Catalyst push the filter below the
    # spread-exchange and evaluate the UDF twice (seen in PLANS.md)
    return (
        d.filter(F.lower(F.col("text")).rlike("[a-z0-9]"))
        .select("doc_id", _simhash_udf()(F.col("text")).alias("simhash"))
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs
# ---------------------------------------------------------------------------

@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh0 AS (
  SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM {_SHINGLED_NONEMPTY_SQL}
),
hot AS (
  SELECT s FROM sh0 GROUP BY s HAVING count(*) > {DF_CAP}
),
sh AS (
  SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)
),
sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE), 4) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = doc_a
JOIN sizes nb ON nb.doc_id = doc_b
WHERE CAST(c AS DOUBLE) / CAST(na.n + nb.n - c AS DOUBLE) >= {JACCARD_THRESHOLD}
""",
    doc=f"word-3-gram Jaccard >= {JACCARD_THRESHOLD} near-dup pairs "
        "(stop-shingle pruned); EXHAUSTIVE baseline — at scale run "
        "dedup_lsh_verified, which consumes the LSH index instead of "
        "self-joining all shingles",
    bench=True,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cache: referenced by the hot-shingle scan AND both self-join sides
    # (DISK_ONLY — see _SHINGLE_CACHE_LEVEL).  Built from the SAME
    # fused (doc_id, sigs, n, sh) base plan as dedup_lsh_verified /
    # dedup_minhash_lsh: sh is already the distinct shingle set, and the
    # shared plan lets the cache manager serve the corpus pass from the
    # sibling queries' cache inside one session (the bench).
    base = _docs_sigged(spark, sf_dir)
    # sh0 is NOT persisted: both of its consumers re-derive it with one
    # cheap explode over the cached base — a second DISK_ONLY fill of
    # the exploded 1-row-per-shingle table cost more than it saved
    # (round-6 audit)
    sh0 = base.select("doc_id", F.explode("sh").alias("s"))
    hot = sh0.groupBy("s").count().filter(F.col("count") > DF_CAP).select("s")
    sh = sh0.join(F.broadcast(hot), "s", "left_anti") \
            .persist(_SHINGLE_CACHE_LEVEL)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        # SHUFFLE_HASH: per-partition hash build over the pruned shingle
        # rows instead of sorting both 1-row-per-shingle sides
        a.join(b.hint("shuffle_hash"), (F.col("a.s") == F.col("b.s"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("c"))
    )
    jac = (
        common
        .join(sizes.withColumnRenamed("doc_id", "doc_a")
                    .withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
                    .withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard_raw",
            F.col("c").cast("double")
            / (F.col("na") + F.col("nb") - F.col("c")).cast("double"),
        )
        .filter(F.col("jaccard_raw") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round("jaccard_raw", 4).alias("jaccard"))
    )
    return jac


# ---------------------------------------------------------------------------
# INCREMENTAL near-dup: a NEW crawl batch checked against the EXISTING
# corpus — the recurring-crawl update path (today's pages vs the
# already-ingested index), as opposed to the one-shot self-join of
# dedup_lsh_verified.  Batch = doc_id % 10 == 0 (a deterministic
# stand-in for "this round's new pages"); corpus = the rest.
#
# Scale shape: the incoming batch is small BY NATURE relative to the
# corpus, so its band table BROADCASTs — the corpus-side band table
# streams through the join with NO shuffle and no self-join; exact
# Jaccard verifies candidates only.  This is the asymmetric join every
# production dedup index runs per ingest cycle.
# ---------------------------------------------------------------------------

_INC_BATCH_MOD = 10


def _incremental_sql() -> str:
    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, md5("
        + " || ".join(f"CAST(mh_{b * LSH_ROWS + r} AS VARCHAR)"
                      for r in range(LSH_ROWS))
        + ") AS band_hash FROM sig"
        for b in range(LSH_BANDS)
    )
    prelude = _LSH_CAND_SQL.format(mh_cols=_minhash_sql_cols(),
                                   band_union=band_union)
    return f"""{prelude},
inc_cand AS (
  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
  FROM bands n JOIN bands c
    ON n.band_id = c.band_id AND n.band_hash = c.band_hash
  WHERE n.doc_id % {_INC_BATCH_MOD} = 0
    AND c.doc_id % {_INC_BATCH_MOD} <> 0
)
SELECT new_doc, corpus_doc, round(jac, 4) AS jaccard FROM (
  SELECT i.new_doc, i.corpus_doc,
         CAST(length(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / CAST(length(a.sh) + length(b.sh)
                  - length(list_intersect(a.sh, b.sh)) AS DOUBLE) AS jac
  FROM inc_cand i
  JOIN sets a ON a.doc_id = i.new_doc
  JOIN sets b ON b.doc_id = i.corpus_doc
)
WHERE jac >= {JACCARD_THRESHOLD}
"""


@register(
    "dedup_incremental",
    oracle=_incremental_sql(),
    doc=f"incremental near-dup: new batch (doc_id % {_INC_BATCH_MOD} "
        "== 0) LSH-checked against the existing corpus — broadcast "
        "batch bands, corpus streams with no shuffle/self-join, exact "
        f"Jaccard >= {JACCARD_THRESHOLD} verify on candidates only",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _docs_sigged(spark, sf_dir)
    is_batch = F.col("doc_id") % _INC_BATCH_MOD == 0
    bands = _bands_from_sigs(base)

    new_bands = bands.filter(is_batch).select(
        F.col("doc_id").alias("new_doc"), "band_id", "band_hash")
    corpus_bands = bands.filter(~is_batch).select(
        F.col("doc_id").alias("corpus_doc"), "band_id", "band_hash")
    # ADVICE r4: the mod-N stand-in makes the "new batch" grow linearly
    # with the corpus, which would overrun the broadcast limit at real
    # scale — a production ingest batch is bounded by the ingest
    # cadence, not corpus size, so the hint models THAT asymmetry.  If
    # a batch can exceed ~100 MB of band rows, drop the hint and let
    # AQE pick the join side from runtime stats.
    cand = (
        corpus_bands.join(F.broadcast(new_bands), ["band_id", "band_hash"])
        .select("new_doc", "corpus_doc")
        .distinct()
    )

    sets = base.select("doc_id", "sh")
    a = sets.select(F.col("doc_id").alias("new_doc"),
                    F.col("sh").alias("sh_a"))
    b = sets.select(F.col("doc_id").alias("corpus_doc"),
                    F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cand.join(a, "new_doc").join(b, "corpus_doc")
        .withColumn("__c", inter.cast("double"))
        .withColumn(
            "jac",
            F.col("__c")
            / (F.size("sh_a") + F.size("sh_b") - F.col("__c")).cast("double"),
        )
        .filter(F.col("jac") >= JACCARD_THRESHOLD)
        .select("new_doc", "corpus_doc", F.round("jac", 4).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Passage-level dedup via content-defined chunking (boilerplate removal)
#
# Lee et al.-style passage dedup for training corpora: drop REPEATED
# PASSAGES (boilerplate footers, templated blocks) while keeping each
# passage's single global first occurrence, then reassemble every doc.
# Fixed-position windows break on shifted text, so chunk boundaries are
# CONTENT-DEFINED (CDC, the rolling-hash device of dedup storage
# systems): a token opens a new chunk iff md5(token) % CDC_K == 0, so
# an identical token run yields identical chunks at ANY offset in any
# document — footers self-align without padding.
#
# The synthetic corpus is collision-free word salad, so a deterministic
# dual-dialect footer (two variants by doc_id parity) is appended to
# every doc — the classic boilerplate the op exists to strip.  Interior
# footer chunks dedup across the whole corpus; the junction chunk
# (doc tail + footer head) stays unique per doc, exactly as CDC
# predicts.
#
# Scale shape: chunk formation is per-doc sequential, so it runs
# ENTIRELY map-side — one higher-order `aggregate` over the token
# array emits each doc's chunk list with zero shuffles (the original
# explode → per-doc running-sum window → groupBy(doc, chunk_no) shape
# paid two token-scale shuffles for the same chunks; round-5 plan
# audit).  Downstream is chunk-scale: the global first-occurrence agg
# is a hash-groupBy on chunk text with map-side partial aggregation
# (hot boilerplate chunks combine before the shuffle); the join back
# re-shuffles on the same key (AQE skew-join splits a pathologically
# hot chunk's probe partitions); reassembly is a groupBy(doc_id).
# Per-doc memory is one doc's tokens + chunks — bounded by doc size,
# same as any per-doc window.
# ---------------------------------------------------------------------------

CDC_K = 4                  # expected chunk length in tokens
CDC_FOOTERS = (
    "subscribe to the hidden wiki newsletter for weekly onion market "
    "updates today",
    "all rights reserved contact the site admin for takedown requests "
    "and mirrors",
)


def _cdc_sql() -> str:
    f0, f1 = CDC_FOOTERS
    return f"""
WITH base AS (
  SELECT doc_id,
         text || ' ' || CASE WHEN doc_id % 2 = 0 THEN '{f0}'
                             ELSE '{f1}' END AS txt
  FROM documents
),
tok AS (
  SELECT doc_id, CAST(g.pos AS BIGINT) AS pos, toks[g.pos + 1] AS tok
  FROM (SELECT doc_id, string_split(txt, ' ') AS toks FROM base) t,
       unnest(generate_series(0, len(toks) - 1)) AS g(pos)
),
chunked AS (
  SELECT doc_id, pos, tok,
         sum(CASE WHEN pos > 0 AND
                  CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT)
                    % {CDC_K} = 0
             THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS UNBOUNDED PRECEDING) AS chunk_no
  FROM tok
),
chunks AS (
  SELECT doc_id, chunk_no, min(pos) AS cpos,
         string_agg(tok, ' ' ORDER BY pos) AS chunk
  FROM chunked GROUP BY doc_id, chunk_no
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY chunk
                               ORDER BY doc_id, cpos) AS rk
  FROM chunks
)
SELECT doc_id,
  CAST(count(*) AS BIGINT) AS n_chunks,
  CAST(sum(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  coalesce(string_agg(chunk, ' ' ORDER BY cpos)
             FILTER (WHERE rk = 1), '') AS clean_text
FROM ranked GROUP BY doc_id
"""


@functools.cache
def _cdc_chunker_udf():
    """Vectorized pandas content-defined chunker: footer-appended text →
    ordered chunk array.  Same semantics as the oracle's running-sum
    chunking (first token never opens a boundary; boundary iff
    md5(token)[:4] % CDC_K == 0) and as the JVM ``aggregate`` fold it
    replaces — the fold evaluated its lambda INTERPRETED per token with
    a JVM md5 per element (round-6 audit: 2.1 s for the map stage at
    sf1.0).  Here the boundary test is memoized per worker (the token
    vocabulary is tiny relative to token occurrences), so each distinct
    token pays one md5 ever: 2.1 s → ~0.9 s map stage."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    cache: dict[str, bool] = {}

    def is_boundary(tok: str) -> bool:
        b = cache.get(tok)
        if b is None:
            b = int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) \
                % CDC_K == 0
            cache[tok] = b
        return b

    def chunk(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = t.split(" ")
            chunks = []
            cur = [toks[0]]
            for x in toks[1:]:
                if is_boundary(x):
                    chunks.append(" ".join(cur))
                    cur = [x]
                else:
                    cur.append(x)
            chunks.append(" ".join(cur))
            out.append(chunks)
        return pd.Series(out, index=texts.index)

    return pandas_udf(chunk, "array<string>")


@register(
    "dedup_cdc_passages",
    oracle=_cdc_sql(),
    doc="passage-level dedup via content-defined chunking: md5-gated "
        "chunk boundaries self-align repeated boilerplate at any "
        "offset; each chunk's global first occurrence survives and "
        "docs are reassembled in order (Lee et al. passage dedup, "
        "deterministic footer injection)",
)
def dedup_cdc_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    f0, f1 = CDC_FOOTERS
    d = load_spread(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.when(F.col("doc_id") % 2 == 0, F.lit(f0)).otherwise(F.lit(f1)),
        ).alias("txt"),
    )
    # chunk_no is the in-doc position rank — within a doc it orders
    # chunks exactly as the oracle's min-token-pos (cpos) does, so the
    # first-occurrence rule and the reassembly order are unchanged.
    chunks = d.select(
        "doc_id",
        F.posexplode(_cdc_chunker_udf()(F.col("txt")))
        .alias("chunk_no", "chunk"),
    ).withColumn("chunk_no", F.col("chunk_no").cast("long"))
    # global first occurrence as ONE window over chunk (mirrors the
    # oracle's row_number): the round-5 groupBy(chunk) + join-back shape
    # shuffled the chunk table TWICE plus a DISK_ONLY persist round-trip
    # for the shared subplan; the window form is one chunk-keyed
    # exchange, no persist, one scan (round-6 audit: 5.4 s → 2.8 s at
    # sf1.0).  Window partitions are per-chunk — bounded by the
    # multiplicity of one boilerplate chunk, the same bound the join
    # probe had.
    from pyspark.sql.window import Window

    w = Window.partitionBy("chunk").orderBy("doc_id", "chunk_no")
    kept = chunks.withColumn("keep", F.row_number().over(w) == 1)
    return kept.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("keep"), F.struct("chunk_no", "chunk")))),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
