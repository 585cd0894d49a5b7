"""URL canonicalization + filter queries with DuckDB oracles (X1, F1-F3).

Inputs are deterministic messy URLs synthesized from ``doc_id``
identically on both engines (sparkharvester.enrich.synth_url_*), so the
oracle verifies the canonicalization/filter LOGIC, not the generator.
The byte-exact urllib-based canonicalizer (urlnorm.canonicalize_udf)
is exercised separately in pytest against reference-derived vectors.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .enrich import synth_url_spark, synth_url_sql
from .registry import register
from .session import load_spread
from .urlnorm import (
    canonicalize_expr,
    canonicalize_sql,
    canonicalize_udf,
    is_blacklisted,
    is_blacklisted_sql,
    is_junk_href,
    is_junk_href_sql,
    is_valid_onion,
    is_valid_onion_sql,
)

_URLS_SQL = f"(SELECT doc_id, {synth_url_sql()} AS url FROM documents)"


def _urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread before the regex canonicalization pipeline, or it runs
    # single-core (round 6); column pruning puts the doc_id projection
    # below the exchange, so only doc_id crosses it
    d = load_spread(spark, sf_dir, "documents").select("doc_id")
    return d.select("doc_id", synth_url_spark(F.col("doc_id")).alias("url"))


@register(
    "x1_canonicalize",
    oracle=f"""
SELECT doc_id, {canonicalize_sql('url')} AS canon_url
FROM {_URLS_SQL}
WHERE {is_valid_onion_sql('url')}
""",
    doc="URL canonicalization (extractor.py:51-70) over synthetic messy URLs",
    bench=True,
)
def x1_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _urls(spark, sf_dir)
        .filter(is_valid_onion(F.col("url")))
        .select("doc_id", canonicalize_expr(F.col("url")).alias("canon_url"))
    )


@register(
    "f_url_filters",
    oracle=f"""
SELECT doc_id, url FROM {_URLS_SQL}
WHERE NOT {is_junk_href_sql('url')}
  AND {is_valid_onion_sql('url')}
  AND NOT {is_blacklisted_sql('url')}
""",
    doc="junk-scheme + onion-validity + blacklist filters (F1-F3)",
)
def f_url_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _urls(spark, sf_dir)
    return df.filter(
        ~is_junk_href(F.col("url"))
        & is_valid_onion(F.col("url"))
        & ~is_blacklisted(F.col("url"))
    ).select("doc_id", "url")


@register(
    "x1_canonicalize_exact",
    oracle=None,  # urllib-exact pandas UDF — verified in pytest, rows-only here
    doc="byte-exact urllib canonicalization via vectorized pandas UDF",
)
def x1_canonicalize_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _urls(spark, sf_dir)
        .filter(is_valid_onion(F.col("url")))
        .select("doc_id", canonicalize_udf(F.col("url")).alias("canon_url"))
    )
