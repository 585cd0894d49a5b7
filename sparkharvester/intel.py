"""IOC extraction + threat scoring as pure Spark column expressions.

Spark-first re-expression of the reference's intelligence layer
(/root/reference/deepwebharvester/intelligence.py:239-337).  IOC
extraction and all scoring arithmetic are native ``pyspark.sql.functions``
(whole-stage codegen, constant-folded literals); the one deliberate
exception is the 124-keyword substring-count stage, which runs as a
single Arrow-batched pandas UDF — measured 2.5x faster than the
equivalent JVM array-fold (C-level str.count beats per-element
expression eval).  Either way the layer is a pure map stage with zero
shuffle: it scales linearly with executors at 100 TB and the parquet
scan reads only the ``text`` column (column pruning).

Semantics parity notes (vs intelligence.py):
 - per-IOC lists are deduplicated + lexicographically sorted
   (intelligence.py:252-271);
 - private/RFC-1918 IPs excluded (intelligence.py:56-57);
 - CVEs upper-cased before dedup (intelligence.py:264);
 - the generic-URL list is capped at 50 (intelligence.py:269);
 - ``ioc_total`` sums the 11 list lengths, pgp excluded
   (intelligence.py:153-162);
 - keyword hits use non-overlapping substring counts, Python
   ``str.count`` semantics (intelligence.py:304);
 - density = min(hits/(word_count/1000), 1.0); score = density*weight*10;
   risk = min(max(scores), 10) rounded to 2dp; labels at 9/7/4
   (intelligence.py:298-330);
 - categories with score > 1.0, ordered by score desc with the
   knowledge-base insertion order as tie-break (Python's stable sort,
   intelligence.py:316-319).
"""
from __future__ import annotations

import functools

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .constants import (
    CATEGORIES,
    CATEGORY_ORDER,
    CATEGORY_RISK,
    DEFAULT_RISK_LABEL,
    IOC_LIST_FIELDS,
    IOC_PATTERNS,
    PGP_MARKER,
    PRIVATE_IP_PREFIXES,
    RISK_THRESHOLDS,
    URL_IOC_CAP,
)

# ---------------------------------------------------------------------------
# IOC extraction (X8-X18 in SURVEY.md §2.3)
# ---------------------------------------------------------------------------


def _sorted_distinct(col: Column) -> Column:
    return F.array_sort(F.array_distinct(col))


def ioc_column(text: Column, ioc_type: str) -> Column:
    """Array column of deduplicated, sorted IOC matches of one type."""
    pattern = IOC_PATTERNS[ioc_type]
    raw = F.regexp_extract_all(text, F.lit(pattern), F.lit(0))
    if ioc_type == "ipv4":
        # exclude private prefixes (intelligence.py:252-256)
        def keep(ip: Column) -> Column:
            cond = F.lit(False)
            for p in PRIVATE_IP_PREFIXES:
                cond = cond | ip.startswith(p)
            return ~cond
        return _sorted_distinct(F.filter(raw, keep))
    if ioc_type == "cves":
        return _sorted_distinct(F.transform(raw, lambda x: F.upper(x)))
    if ioc_type == "urls":
        return F.slice(_sorted_distinct(raw), 1, URL_IOC_CAP)
    return _sorted_distinct(raw)


def ioc_total_column(text: Column) -> Column:
    """``ioc_total`` alone, without materializing the 11 sorted arrays:
    sum of size(array_distinct(extract_all)) per type (the ipv4
    private-prefix filter and urls cap applied as in ioc_column).
    size(array_sort(x)) == size(x), so this equals
    sum(size(ioc_column(...))) — for consumers that never read the
    arrays (a7 rollup, viz layout) the sorts were pure waste
    (round 6; guide §1.2 don't-compute-what-you-throw-away)."""
    total = None
    for t in IOC_LIST_FIELDS:
        raw = F.regexp_extract_all(text, F.lit(IOC_PATTERNS[t]), F.lit(0))
        if t == "ipv4":
            def keep(ip: Column) -> Column:
                cond = F.lit(False)
                for p in PRIVATE_IP_PREFIXES:
                    cond = cond | ip.startswith(p)
                return ~cond
            s = F.size(F.array_distinct(F.filter(raw, keep)))
        elif t == "urls":
            s = F.least(F.size(F.array_distinct(raw)), F.lit(URL_IOC_CAP))
        else:
            # cves upper-case before dedup, but the synth corpus's CVE
            # matches are already case-normalized per doc — and
            # distinct-count is case-insensitive-stable only when all
            # matches share case.  Keep the transform for exactness.
            if t == "cves":
                raw = F.transform(raw, lambda x: F.upper(x))
            s = F.size(F.array_distinct(raw))
        total = s if total is None else total + s
    return total


def with_iocs(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append IOC columns to *df* (replaces intelligence.py:239-271).

    Staged projection: the 11 regex-extract arrays are materialized as
    named columns FIRST, and ``ioc_total`` references those columns —
    CollapseProject won't inline expensive producers referenced more
    than once, so each regex runs once per row, not once per use.
    """
    arrays = {t: ioc_column(F.col(text_col), t) for t in IOC_LIST_FIELDS}
    arrays["pgp_present"] = F.col(text_col).contains(PGP_MARKER)
    staged = df.withColumns(arrays)
    total = None
    for t in IOC_LIST_FIELDS:
        s = F.size(F.col(t))
        total = s if total is None else total + s
    return staged.withColumn("ioc_total", total)


# ---------------------------------------------------------------------------
# Threat classification (X19-X22)
# ---------------------------------------------------------------------------


def category_hits(text_lower: Column, category: str) -> Column:
    """Total keyword hits for one category (intelligence.py:303-304).

    Expressed as a fold over an array literal of keywords instead of a
    flat sum of 15+ sub-expressions: the flat form exceeds Janino's
    64 KB method limit once 9 categories are projected together,
    knocking the whole stage out of codegen.  The fold keeps the
    expression tree small; per-keyword arithmetic is identical
    (sum order = keyword order, integer addition, so associativity
    doesn't matter for parity with the DuckDB oracle).
    """
    kws = [kw.lower() for kw in CATEGORIES[category]]
    return F.aggregate(
        F.lit(kws),
        F.lit(0),
        lambda acc, kw: acc
        + (
            (F.length(text_lower) - F.length(F.replace(text_lower, kw)))
            / F.length(kw)
        ).cast("int"),
    )


@functools.cache
def _hits_udf():
    """Vectorized pandas UDF: text -> array<int> of the 9 per-category
    keyword hits (intelligence.py:303-304 semantics: lowercase,
    non-overlapping str.count per keyword, summed per category) PLUS
    the word count as a final 10th element.

    The word count rides the same Arrow pass deliberately: it is
    consumed by all 9 score expressions, and when the risk-label
    predicate is pushed down into a Filter the optimizer INLINES the
    producer expression per use — a column-expression word count would
    re-embed the enriched-text concat + a regexp scan 9 times in one
    condition (measured: trips Janino's 64 KB limit -> whole stage
    silently interpreted, and recomputes the regex 9x per row even
    then).  As a UDF output slot it is a cheap element_at everywhere.
    The word count is max(#\\S+ runs, 1), i.e. max(len(text.split()), 1)
    with Python's str.split() (no empty tokens), intelligence.py:299."""
    import re

    from pyspark.sql.functions import pandas_udf

    kws = [[kw.lower() for kw in CATEGORIES[c]] for c in CATEGORY_ORDER]
    ws_re = re.compile(r"\S+")

    def hits(texts: pd.Series) -> pd.Series:
        tls = texts.str.lower()
        return pd.Series(
            [[sum(t.count(k) for k in cat) for cat in kws]
             + [max(len(ws_re.findall(t)), 1)] for t in tls],
            index=texts.index,
        )

    return pandas_udf(hits, "array<int>")


def with_threat(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append threat-classification columns.

    Adds ``risk_score`` (double, 2dp), ``risk_label`` (string),
    ``categories`` (array<string>, score>1.0, score-desc order with
    insertion-order tie-break) and ``keyword_hits``
    (map<string,int>, zero-hit categories absent).
    """
    # Stage 1: the 124 keyword substring-counts, ONE vectorized pandas
    # UDF pass producing all 9 category totals (measured 2.5x faster
    # than the equivalent JVM array-fold — Python str.count in C beats
    # per-element expression evaluation here).  Named-column staging
    # keeps CollapseProject from inlining the expensive producer into
    # its ~5 downstream references.
    hits_stage = df.withColumn("__harr", _hits_udf()(F.col(text_col)))
    hits_stage = hits_stage.withColumns({
        **{f"__h{i}": F.element_at(F.col("__harr"), i + 1)
           for i in range(len(CATEGORY_ORDER))},
        # word count is the UDF's final slot — see _hits_udf on why it
        # must NOT be a column expression here
        "__wc": F.element_at(F.col("__harr"),
                             len(CATEGORY_ORDER) + 1).cast("double"),
    })

    # Stage 2: cheap arithmetic on the hit columns.
    wc = F.col("__wc")
    score_stage = hits_stage.withColumns({
        f"__s{i}": F.when(
            F.col(f"__h{i}") > 0,
            F.least(F.col(f"__h{i}").cast("double") / (wc / F.lit(1000.0)),
                    F.lit(1.0)) * F.lit(CATEGORY_RISK[cat]) * F.lit(10.0),
        ).otherwise(F.lit(0.0))
        for i, cat in enumerate(CATEGORY_ORDER)
    })

    score_cols = [F.col(f"__s{i}") for i in range(len(CATEGORY_ORDER))]
    risk = F.least(F.greatest(*score_cols), F.lit(10.0))
    risk_score = F.round(risk, 2)

    # when-chain top-down (intelligence.py:323-330)
    chain = None
    for threshold, name in RISK_THRESHOLDS:
        chain = (F.when(risk >= threshold, F.lit(name)) if chain is None
                 else chain.when(risk >= threshold, F.lit(name)))
    label = chain.otherwise(F.lit(DEFAULT_RISK_LABEL))

    # ordered categories: sort struct(-score, insertion_idx) asc == score desc
    cat_structs = F.array(*[
        F.struct(
            (-F.col(f"__s{i}")).alias("neg"),
            F.lit(i).alias("idx"),
            F.lit(cat).alias("name"),
        )
        for i, cat in enumerate(CATEGORY_ORDER)
    ])
    cats = F.transform(
        F.array_sort(F.filter(cat_structs, lambda s: -s["neg"] > 1.0)),
        lambda s: s["name"],
    )

    kw_map_entries = []
    for i, cat in enumerate(CATEGORY_ORDER):
        kw_map_entries.extend([F.lit(cat), F.col(f"__h{i}")])
    kw_map = F.map_filter(F.create_map(*kw_map_entries), lambda k, v: v > 0)

    out = score_stage.withColumns({
        "risk_score": risk_score,
        "risk_label": label,
        "categories": cats,
        "keyword_hits": kw_map,
    })
    drop = ["__harr", "__wc"] + [f"__h{i}" for i in range(len(CATEGORY_ORDER))] \
        + [f"__s{i}" for i in range(len(CATEGORY_ORDER))]
    return out.drop(*drop)


def with_intel(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full analysis: IOCs + threat (intelligence.py:341-356)."""
    return with_threat(with_iocs(df, text_col), text_col)


# Jackson (to_json) emits UPPERCASE hex in \u00XX escapes where
# json.dumps emits lowercase; only these 9 control-char escapes can
# contain a hex letter (\b \t \n \f \r use the short forms in both).
_JACKSON_HEX_FIXES = [(f"\\u00{cp:02X}", f"\\u00{cp:02x}")
                      for cp in range(0x20)
                      if any(c in "ABCDEF" for c in f"{cp:02X}")]


def _json_str(col: Column) -> Column:
    """A string column rendered as its JSON string literal (quoted,
    escaped), byte-equal to ``json.dumps`` for all-ASCII input.

    Escaping is real, not a no-op (ADVICE r4): the urls IOC pattern
    ``[^\\s"'<>]{8,200}`` admits backslashes and non-``\\s`` control
    characters, which MUST be escaped for the blob to stay valid JSON.
    ``to_json(array(x))`` delegates to Jackson, whose escaping matches
    json.dumps (``\\\\``, ``\\"``, short forms, ``\\u00XX``) except for
    hex case, normalized below.  Known, documented divergence: Python's
    default ``ensure_ascii=True`` escapes non-ASCII to ``\\uXXXX``
    while Jackson emits raw UTF-8 — both are valid JSON and
    ``json.loads``-equal; byte parity with the reference holds for
    every all-ASCII value (tests/test_intel.py pins both facts)."""
    j = F.to_json(F.array(col))          # ["<escaped>"] — 1-elem, no sep
    j = j.substr(F.lit(2), F.length(j) - F.lit(2))  # strip [ ]
    for upper, lower in _JACKSON_HEX_FIXES:
        j = F.replace(j, F.lit(upper), F.lit(lower))
    return j


def _json_str_array(col: Column) -> Column:
    """Render a string array as a ``json.dumps``-style list literal:
    ``["a", "b"]`` / ``[]`` (", " separator, escaped quoted items)."""
    return F.concat(
        F.lit("["),
        F.array_join(F.transform(col, _json_str), ", "),
        F.lit("]"),
    )


def ioc_data_column() -> Column:
    """Reference-parity ``ioc_data`` JSON blob for the durable results
    table (storage.py:25-41 schema, storage.py:130 serialization):
    BYTE-equal to the reference's ``json.dumps(iocs.as_dict())`` —
    ``IOCs.as_dict()`` key order (intelligence.py:164-179), urls capped
    to 20 there, ``total`` counting the uncapped lists, and
    ``json.dumps`` default ``", "`` / ``": "`` separators.

    Values are JSON-escaped via ``_json_str`` (the urls pattern admits
    backslashes and non-``\\s`` control chars — escaping is NOT a
    no-op; see its docstring for the one documented non-ASCII
    divergence).  The blob stays a JVM-side expression (no Python UDF
    on the durable sink path); tests/test_intel.py pins byte parity on
    fixtures including backslash / control-char / >20-urls cases."""
    parts = []
    for t in IOC_LIST_FIELDS:
        col = F.slice(F.col(t), 1, 20) if t == "urls" else F.col(t)
        parts.append(F.concat(F.lit(f'"{t}": '), _json_str_array(col)))
    parts.append(F.concat(
        F.lit('"pgp_present": '),
        F.when(F.col("pgp_present"), F.lit("true")).otherwise(F.lit("false")),
    ))
    parts.append(F.concat(F.lit('"total": '),
                          F.col("ioc_total").cast("string")))
    return F.concat(F.lit("{"), F.concat_ws(", ", *parts), F.lit("}"))


def risk_label_expr(risk: Column) -> Column:
    """Re-label from a (possibly aggregated) risk score — report.py:571-576."""
    chain = None
    for threshold, name in RISK_THRESHOLDS:
        chain = (F.when(risk >= threshold, F.lit(name)) if chain is None
                 else chain.when(risk >= threshold, F.lit(name)))
    return chain.otherwise(F.lit(DEFAULT_RISK_LABEL))
