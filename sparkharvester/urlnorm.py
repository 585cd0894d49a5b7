"""URL canonicalization, hashing and validity filters (X1-X3, F1-F3).

Two implementations of canonicalization:

1. ``canonicalize_udf`` — vectorized pandas/Arrow UDF wrapping
   ``urllib.parse`` for byte-exact parity with the reference
   (extractor.py:51-70: lowercase scheme/host, drop fragment, rstrip
   trailing slash on non-root path, drop empty query params, sort
   remaining pairs, urlencode).  Used by the crawl engine where exact
   RFC-3986 + quoting behaviour matters.

2. ``canonicalize_expr`` / ``canonicalize_sql`` — a pure built-in
   (Catalyst-codegen / DuckDB) regex re-expression of the same rules
   for URLs without percent-encoding.  Used for the DuckDB oracle
   cross-checks and as the JVM-side fast path at scale: staying out of
   Python entirely makes canonicalization a free map stage.

   Documented divergences from the UDF, outside the supported input
   domain (tests/test_urlnorm.py pins them): empty-KEY params — the
   reference's ``if v`` filter keeps ``?=v`` while the expression form
   requires a non-empty key and drops it; and raw ASCII tab/newline —
   urlsplit strips them from the whole URL (WHATWG) while the
   expression keeps them.  Neither shape occurs in crawl-path input
   (link extraction + the synth corpora), and the UDF remains the
   reference-exact behavior where it matters.

Scale note: at a 10^10-URL frontier, canonicalization + xxhash64 is the
per-row hot loop.  The expression version runs in whole-stage codegen;
the pandas UDF version still processes ~1M rows/s/core via Arrow — both
scale linearly, no shuffle.
"""
from __future__ import annotations

import functools
from urllib.parse import parse_qsl, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .constants import DEFAULT_BLACKLIST_PATHS, JUNK_HREF_PREFIXES, ONION_V3_PATTERN

# ---------------------------------------------------------------------------
# Exact (urllib) canonicalization — pandas UDF
# ---------------------------------------------------------------------------


def canonicalize_one(url: str) -> str:
    """Reference-exact canonical form (extractor.py:51-70 semantics)."""
    parsed = urlparse(url)
    scheme = parsed.scheme.lower()
    netloc = parsed.netloc.lower()
    path = parsed.path.rstrip("/") or "/"
    query_pairs = [(k, v) for k, v in parse_qsl(parsed.query) if v]
    query = urlencode(sorted(query_pairs))
    return urlunparse((scheme, netloc, path, "", query, ""))


def _canonicalize_batch(urls: pd.Series) -> pd.Series:
    return urls.map(canonicalize_one)


def _urljoin_batch(base: pd.Series, href: pd.Series) -> pd.Series:
    return pd.Series(
        [urljoin(b, h).split("#")[0] for b, h in zip(base, href)],
        index=base.index,
    )


# pandas_udf registration needs an active session, so build lazily,
# once per batch function.
@functools.cache
def _string_udf(batch_fn):
    return pandas_udf(batch_fn, "string")


def canonicalize_udf(col: Column) -> Column:
    return _string_udf(_canonicalize_batch)(col)


def urljoin_udf(base: Column, href: Column) -> Column:
    """RFC-3986 relative resolution + fragment strip (extractor.py:90)."""
    return _string_udf(_urljoin_batch)(base, href)


# ---------------------------------------------------------------------------
# Built-in-expression canonicalization (no percent-encoding support)
# ---------------------------------------------------------------------------

_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"


def canonicalize_expr(url: Column) -> Column:
    scheme = F.lower(F.regexp_extract(url, _SCHEME_RE, 1))
    rest = F.regexp_replace(url, _SCHEME_RE, "")
    host = F.lower(F.regexp_extract(rest, r"^([^/?#]*)", 1))
    path_raw = F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1)
    path_stripped = F.regexp_replace(path_raw, r"/+$", "")
    path = F.when(path_stripped == "", F.lit("/")).otherwise(path_stripped)
    query_raw = F.regexp_extract(url, r"\?([^#]*)", 1)
    # keep tokens with a non-empty key and a non-empty value.  Arithmetic
    # form of `t rlike '^[^=&]+=.+$'`: split-on-'&' tokens cannot contain
    # '&', and instr finds the FIRST '=', so "key non-empty" ⇔ instr ≥ 2
    # and "value non-empty" ⇔ chars after it ⇔ length > instr.  ~10%
    # frontier-map throughput win over the per-token regex (the HOF
    # lambda is interpreted per element, not codegen) — equivalence
    # proven bit-exact on the 2M-URL bench corpus
    # (tools/microbench_canon.py gates on exceptAll in both directions).
    # CAVEAT (ADVICE r3): the equivalence with the old rlike holds for
    # tokens WITHOUT line terminators — Java-regex '.' doesn't match \n
    # and '$' permits a trailing newline, so the rlike dropped
    # 'a=\n'-style tokens the arithmetic form keeps.  Neither form
    # matches the urllib UDF on such inputs: Python's urlsplit strips
    # raw ASCII tab/newline from the whole URL first (WHATWG rule), so
    # canonicalize_one turns 'a=b\nc' into 'a=bc' and drops 'a=\n' as
    # value-less (verified).  Raw control characters cannot reach this
    # expression on the crawl path (link extraction splits on
    # whitespace; the synth/bench corpora are newline-free), so the
    # supported input domain excludes them — the UDF remains the
    # reference behavior there (x1_canonicalize_exact), and the
    # arithmetic form stands for the codegen path.
    params = F.filter(
        F.split(query_raw, "&"),
        lambda t: (F.instr(t, "=") >= 2) & (F.length(t) > F.instr(t, "=")),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(canon_q != "", F.concat(F.lit("?"), canon_q)).otherwise(F.lit("")),
    )


def canonicalize_sql(url: str) -> str:
    scheme_re = "^([a-zA-Z][a-zA-Z0-9+.\\-]*)://"
    rest = f"regexp_replace({url}, '{scheme_re}', '')"
    path_raw = f"regexp_extract({rest}, '^[^/?#]*([^?#]*)', 1)"
    path_stripped = f"regexp_replace({path_raw}, '/+$', '')"
    return (
        f"lower(regexp_extract({url}, '{scheme_re}', 1)) || '://' || "
        f"lower(regexp_extract({rest}, '^([^/?#]*)', 1)) || "
        f"(CASE WHEN {path_stripped} = '' THEN '/' ELSE {path_stripped} END) || "
        f"(CASE WHEN array_to_string(list_sort(list_filter("
        f"string_split(regexp_extract({url}, '\\?([^#]*)', 1), '&'),"
        f" t -> regexp_matches(t, '^[^=&]+=.+$'))), '&') <> '' "
        f"THEN '?' || array_to_string(list_sort(list_filter("
        f"string_split(regexp_extract({url}, '\\?([^#]*)', 1), '&'),"
        f" t -> regexp_matches(t, '^[^=&]+=.+$'))), '&') ELSE '' END)"
    )


# ---------------------------------------------------------------------------
# Filters & helpers
# ---------------------------------------------------------------------------


def is_valid_onion(url: Column) -> Column:
    """F1 — extractor.py:17,36-38."""
    return url.rlike(ONION_V3_PATTERN)


def is_valid_onion_sql(url: str) -> str:
    return f"regexp_matches({url}, '{ONION_V3_PATTERN}')"


def url_path(url: Column) -> Column:
    rest = F.regexp_replace(url, _SCHEME_RE, "")
    return F.regexp_extract(rest, r"^[^/?#]*([^?#]*)", 1)


def is_blacklisted(url: Column, blacklist: list[str] | None = None) -> Column:
    """F2 — extractor.py:40-43: path == entry or path endswith entry
    after lowercase + rstrip('/')."""
    bl = [p.lower().rstrip("/") for p in (blacklist or DEFAULT_BLACKLIST_PATHS)]
    path = F.regexp_replace(F.lower(url_path(url)), r"/+$", "")
    cond = F.lit(False)
    for entry in bl:
        cond = cond | (path == entry) | path.endswith(entry)
    return cond


def is_blacklisted_sql(url: str, blacklist: list[str] | None = None) -> str:
    bl = [p.lower().rstrip("/") for p in (blacklist or DEFAULT_BLACKLIST_PATHS)]
    rest = f"regexp_replace({url}, '^([a-zA-Z][a-zA-Z0-9+.\\-]*)://', '')"
    path = f"regexp_replace(lower(regexp_extract({rest}, '^[^/?#]*([^?#]*)', 1)), '/+$', '')"
    conds = " OR ".join(
        f"({path} = '{sqe}' OR ends_with({path}, '{sqe}'))"
        for sqe in (e.replace("'", "''") for e in bl)
    )
    return f"({conds})"


def is_junk_href(href: Column) -> Column:
    """F3 — extractor.py:88-89."""
    cond = href == ""
    for p in JUNK_HREF_PREFIXES:
        cond = cond | href.startswith(p)
    return cond


def is_junk_href_sql(href: str) -> str:
    conds = " OR ".join(
        f"starts_with({href}, '{p}')" for p in JUNK_HREF_PREFIXES
    )
    return f"({href} = '' OR {conds})"


def base_domain(url: Column) -> Column:
    """X3 — scheme://netloc (extractor.py:45-49)."""
    return F.regexp_extract(url, r"^([a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*)", 1)


def url_hash64(canon_url: Column) -> Column:
    """64-bit URL hash (north rule) — JVM xxhash64, codegen-friendly."""
    return F.xxhash64(canon_url)
