"""Property-based tests (hypothesis) — beyond the reference's own test
strategy (SURVEY §5: the reference has no property tests)."""
import string

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from sparkharvester.oracle import extract_links_py, is_valid_onion_py
from sparkharvester.seen import BloomFilter, _params
from sparkharvester.urlnorm import canonicalize_one

_host = st.text(alphabet="abcdefghijklmnopqrstuvwxyz234567", min_size=56,
                max_size=56)
_path = st.text(alphabet=string.ascii_letters + string.digits + "/-_.",
                max_size=30)
_query = st.lists(
    st.tuples(st.text(alphabet=string.ascii_lowercase, min_size=1, max_size=5),
              st.text(alphabet=string.ascii_lowercase, max_size=5)),
    max_size=4,
)


@st.composite
def onion_urls(draw):
    host = draw(_host)
    path = draw(_path).lstrip("/")
    q = draw(_query)
    qs = "&".join(f"{k}={v}" for k, v in q)
    frag = draw(st.sampled_from(["", "#x", "#frag"]))
    scheme = draw(st.sampled_from(["http", "HTTP", "https", "HtTp"]))
    return f"{scheme}://{host}.onion/{path}{'?' + qs if qs else ''}{frag}"


@given(onion_urls())
@settings(max_examples=200, deadline=None)
def test_canonicalize_idempotent(url):
    once = canonicalize_one(url)
    assert canonicalize_one(once) == once


@given(onion_urls())
@settings(max_examples=200, deadline=None)
def test_canonicalize_preserves_validity(url):
    # valid onion URLs stay valid after canonicalization (F1 after X1)
    if is_valid_onion_py(url):
        assert is_valid_onion_py(canonicalize_one(url))


@given(onion_urls())
@settings(max_examples=100, deadline=None)
def test_canonical_drops_fragment_and_sorts_query(url):
    c = canonicalize_one(url)
    assert "#" not in c
    if "?" in c:
        params = c.split("?", 1)[1].split("&")
        assert params == sorted(params)
        assert all("=" in p and p.split("=", 1)[1] for p in params)


@given(st.lists(st.text(min_size=1, max_size=40), min_size=1, max_size=300,
                unique=True))
@settings(max_examples=50, deadline=None)
def test_bloom_never_false_negative(keys):
    bf = BloomFilter(*_params(max(len(keys), 64), 0.01))
    s = pd.Series(keys)
    bf.add_series(s)
    assert bf.contains_series(s).all()


@given(st.lists(st.sampled_from(
    ["#a", "javascript:x()", "mailto:a@b.c", "", "/rel",
     "http://" + "a" * 56 + ".onion/p", "https://clear.example.com/"]),
    max_size=20))
@settings(max_examples=50, deadline=None)
def test_extract_links_only_valid_canonical(hrefs):
    base = "http://" + "b" * 56 + ".onion/base"
    links = extract_links_py(base, hrefs)
    assert links == sorted(set(links))
    for link in links:
        assert is_valid_onion_py(link)
        assert canonicalize_one(link) == link


@given(pairs=st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)),
                      min_size=1, max_size=40))
@settings(max_examples=10, deadline=None)
def test_connected_components_matches_union_find(spark, pairs):
    """Spark min-label propagation == a sequential union-find, for any
    pair set (self-loops and duplicates included)."""
    from sparkharvester.q_dedup import connected_components

    pdf = spark.createDataFrame(
        [(a, b) for a, b in pairs], "doc_a long, doc_b long")
    got = {r["node"]: r["component"]
           for r in connected_components(pdf).collect()}

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {n: find(n) for n in parent}
    assert got == expect


def test_attestation_slate_invariants():
    """The attestation slate (registry.py) stays coherent as queries are
    added: lists disjoint, every listed name registered, and parking is
    sufficient to fit the unparked set inside the driver's 50-row
    correctness window (VERDICT r4 task #1)."""
    from sparkharvester.registry import (
        ATTEST_FIRST, ATTEST_PARKED, ATTEST_WINDOW, all_queries)

    qs = list(all_queries())
    assert not set(ATTEST_FIRST) & set(ATTEST_PARKED)
    missing = (set(ATTEST_FIRST) | set(ATTEST_PARKED)) - set(qs)
    assert not missing, f"slate names not registered: {missing}"
    # every non-parked query must land inside the window
    assert len(qs) - len(ATTEST_PARKED) <= ATTEST_WINDOW
    window = set(qs[:ATTEST_WINDOW])
    assert set(ATTEST_FIRST) <= window
    assert len(qs) == len(set(qs))


def _hex_minhash(text: str):
    """MinHash signature the DuckDB oracle's way: md5 hexdigest slices
    (_H1_SQL/_H2_SQL) and min(h1 + j*h2) over the RAW shingle list,
    duplicates included; None for a doc with no shingle."""
    import hashlib
    import re

    from sparkharvester.q_dedup import _TOKEN_RE, MINHASH_K

    toks = re.findall(_TOKEN_RE, text.lower())
    raw = [" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)]
    if not raw:
        return None
    hx = [hashlib.md5(s.encode()).hexdigest() for s in raw]
    h1 = [int(h[0:15], 16) for h in hx]
    h2 = [int(h[16:30], 16) | 1 for h in hx]
    return [min(a + j * b for a, b in zip(h1, h2)) for j in range(MINHASH_K)]


@given(st.binary(max_size=64))
@settings(max_examples=300, deadline=None)
def test_md5_digest_slices_equal_hexdigest_slices(data):
    """The fused signature UDF slices md5 digest bytes where the oracle
    slices hex digits; both must name the same bits."""
    import hashlib

    m = hashlib.md5(data)
    d, h = m.digest(), m.hexdigest()
    assert int.from_bytes(d[0:8], "big") >> 4 == int(h[0:15], 16)
    assert int.from_bytes(d[8:15], "big") == int(h[16:30], 16)


def test_fused_sigs_equal_hexdigest_minhash(spark, sf_dir):
    """_fused_sig_udf's sigs (digest bytes, distinct shingle set) equal
    the oracle's arithmetic (hex digits, raw shingle list) for sf0.001
    docs and a doc whose shingles repeat; sh is the distinct set and n
    its size."""
    from sparkharvester.q_dedup import _sigged

    pdf = pd.read_parquet(f"{sf_dir}/documents.parquet",
                          columns=["doc_id", "text"]).head(40)
    pdf = pd.concat([pdf, pd.DataFrame(
        {"doc_id": [-1, -2], "text": ["a b c a b c a b c d", "too short"]})])
    rows = _sigged(spark.createDataFrame(pdf)).collect()
    expect = {d: _hex_minhash(t) for d, t in zip(pdf.doc_id, pdf.text)
              if _hex_minhash(t) is not None}
    assert -1 in expect and -2 not in expect
    assert {r.doc_id: r.sigs for r in rows} == expect
    assert all(r.n == len(r.sh) == len(set(r.sh)) for r in rows)
    assert {r.doc_id: r.n for r in rows}[-1] == 4


def test_udf_factories_build_once(spark):
    """Each pandas-UDF factory builds its UDF once per argument: repeated
    calls return the same object."""
    from sparkharvester import intel, q_dedup, q_text, urlnorm

    for factory in (intel._hits_udf, q_dedup._fused_sig_udf,
                    q_dedup._simhash_udf, q_dedup._cdc_chunker_udf,
                    q_text._scores_udf):
        assert factory() is factory(), factory.__name__
    assert q_text._grams_udf(4) is q_text._grams_udf(4)
    assert q_text._grams_udf(3) is not q_text._grams_udf(4)
    for batch_fn in (urlnorm._canonicalize_batch, urlnorm._urljoin_batch):
        assert urlnorm._string_udf(batch_fn) is urlnorm._string_udf(batch_fn)
