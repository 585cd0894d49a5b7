"""Deterministic synthetic .onion host graph + fetch (S1/S2 replacement).

The sandbox has no network, so the reference's Tor fetch
(crawler.py:123-153, tor_manager.py:88-129) is replaced by a seeded
synthetic page generator.  CRITICAL PROPERTY: the generator is a pure
function of the canonical URL (md5-keyed, no RNG state), shared
verbatim between the Spark fetch stage (mapInPandas) and the
single-process Python oracle — so crawl-parity tests compare the
ENGINE's distributed semantics, never generator drift.

Graph shape mirrors the reference's test fixtures
(tests/conftest.py:17-32): v3 onion hosts (56 base32 chars), pages with
same-host, cross-host, relative, clearweb and junk links, blacklisted
paths, plus content-duplicate groups to exercise global dedup
(crawler.py:184-191).
"""
from __future__ import annotations

import hashlib
from dataclasses import dataclass, field
from typing import Iterator

import pandas as pd

BASE32 = "abcdefghijklmnopqrstuvwxyz234567"


def _h(s: str) -> int:
    """Deterministic 64-bit hash (md5 prefix) — stable across processes."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def host_name(host_id: int, seed: int = 42) -> str:
    """56-char base32 v3-onion-style hostname, seeded."""
    out = []
    x = _h(f"host/{seed}/{host_id}")
    for i in range(56):
        x = _h(f"hostc/{seed}/{host_id}/{i}") if i % 8 == 0 else (x * 31 + i)
        out.append(BASE32[x % 32])
    return "".join(out)


def page_url(host_id: int, page_id: int, seed: int = 42) -> str:
    return f"http://{host_name(host_id, seed)}.onion/p{page_id}"


@dataclass
class SynthConfig:
    n_hosts: int = 5
    pages_per_host: int = 40
    fanout: int = 6
    cross_host_every: int = 3     # every 3rd link targets another host
    fail_rate_pct: int = 5        # % of pages whose fetch fails (after retries)
    dup_rate_pct: int = 20        # % of pages sharing a duplicate text group
    dup_groups: int = 7
    seed: int = 42
    blacklist_every: int = 11     # every 11th link points at /login
    junk_every: int = 13          # every 13th link is javascript:/#/mailto:
    clearweb_every: int = 17      # every 17th link is a clearweb URL
    relative_every: int = 5       # every 5th same-host link is relative


def synth_fetch_page(url: str, cfg: SynthConfig, retry_no: int = 0) -> dict:
    """Deterministic fetch result for *url* (replaces crawler.py:123-153).

    Returns ok flag, attempts used, title, text, content links (raw
    hrefs, pre-filter/resolution) and a virtual latency.

    ``retry_no`` models distributed re-enqueue retries (I3 as frontier
    rows, SURVEY §2.8): at retry_no=0 behavior is identical to the
    round-1 generator (oracle parity).  Half of the failing URLs are
    TRANSIENT failures that succeed once retry_no reaches a
    deterministic per-URL threshold (1 or 2); the rest fail forever —
    mirroring real fetch behavior where some timeouts heal on retry
    (crawler.py:130-146 inline backoff loop, distributed)."""
    u = _h(f"fetch/{cfg.seed}/{url}")
    ok = (u % 100) >= cfg.fail_rate_pct
    if not ok and retry_no > 0:
        t = _h(f"transient/{cfg.seed}/{url}")
        if t % 2 == 0 and retry_no >= 1 + (t >> 1) % 2:   # heals at retry 1 or 2
            ok = True
    # attempts: deterministic 1..3 (reference retries inline, crawler.py:130)
    attempts = 1 + (_h(f"att/{cfg.seed}/{url}") % 3 if not ok else 0)
    if not ok:
        return {
            "ok": False, "attempts": 3, "title": "", "text": "",
            "hrefs": [], "latency": 0.5 * 3,
        }

    # content: dup groups share byte-identical text (crawler.py:184-191)
    is_dup = (_h(f"dup/{cfg.seed}/{url}") % 100) < cfg.dup_rate_pct
    if is_dup:
        g = _h(f"dupg/{cfg.seed}/{url}") % cfg.dup_groups
        text = f"shared duplicate body group {g} lorem onion market"
    else:
        words = [
            f"w{_h(f'txt/{cfg.seed}/{url}/{i}') % 1000}" for i in range(12)
        ]
        text = f"unique body of {url.rsplit('/', 1)[-1]} " + " ".join(words)

    # host/page identity from the URL itself
    host = url.split("://")[1].split("/")[0].removesuffix(".onion")
    page_part = url.rsplit("/p", 1)
    page_id = int(page_part[1]) if len(page_part) == 2 and page_part[1].isdigit() else 0

    hrefs: list[str] = []
    for k in range(cfg.fanout):
        hk = _h(f"link/{cfg.seed}/{url}/{k}")
        if cfg.junk_every and hk % cfg.junk_every == 0:
            hrefs.append(["#top", "javascript:void(0)", "mailto:x@y.com"][hk % 3])
            continue
        if cfg.clearweb_every and hk % cfg.clearweb_every == 0:
            hrefs.append(f"https://clear{hk % 50}.example.com/page")
            continue
        if cfg.blacklist_every and hk % cfg.blacklist_every == 0:
            hrefs.append(f"http://{host}.onion/login")
            continue
        target_page = hk % cfg.pages_per_host
        if cfg.cross_host_every and k % cfg.cross_host_every == (
            cfg.cross_host_every - 1
        ):
            # cross-host absolute link
            target_host_id = hk % cfg.n_hosts
            hrefs.append(
                f"http://{host_name(target_host_id, cfg.seed)}.onion/p{target_page}"
            )
        elif cfg.relative_every and hk % cfg.relative_every == 0:
            hrefs.append(f"/p{target_page}")                       # relative
        else:
            hrefs.append(f"http://{host}.onion/p{target_page}?z=1&a=2#s{k}")
    title = f"Page p{page_id} of {host[:8]}"
    latency = 0.05 + (u % 100) / 1000.0
    return {
        "ok": True, "attempts": 1, "title": title, "text": text,
        "hrefs": hrefs, "latency": latency,
    }


# ---------------------------------------------------------------------------
# Spark-side fetch stage: mapInPandas wrapper over the SAME function
# ---------------------------------------------------------------------------

FETCH_SCHEMA = (
    "canon_url string, seed_id int, depth int, retry_no int, ok boolean, "
    "attempts int, title string, text string, hrefs array<string>, "
    "latency double, fetch_partition int"
)


def make_fetch_stage(cfg: SynthConfig):
    """Returns a mapInPandas function fetching candidate URL batches.

    In production this stage holds the HTTP/Tor session per batch
    (tor_manager.py:88-129 analog); here it calls the deterministic
    generator.  Arrow-batched; partition id recorded for lineage
    metrics (north rule).  A ``retry_no`` input column (optional,
    defaults to 0) feeds the transient-failure retry model.
    """

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId() if TaskContext.get() else -1
        for pdf in batches:
            retries = (pdf["retry_no"].tolist() if "retry_no" in pdf
                       else [0] * len(pdf))
            rows = [synth_fetch_page(u, cfg, retry_no=rn)
                    for u, rn in zip(pdf["canon_url"], retries)]
            out = pd.DataFrame({
                "canon_url": pdf["canon_url"].values,
                "seed_id": pdf["seed_id"].values,
                "depth": pdf["depth"].values,
                "retry_no": retries,
                "ok": [r["ok"] for r in rows],
                "attempts": [r["attempts"] for r in rows],
                "title": [r["title"] for r in rows],
                "text": [r["text"] for r in rows],
                "hrefs": [r["hrefs"] for r in rows],
                "latency": [r["latency"] for r in rows],
                "fetch_partition": pid,
            })
            yield out

    return fetch


def robots_rules_for_host(host: str, seed: int = 42) -> list[tuple[str, bool]]:
    """Deterministic RFC 9309 rule set per host: mixed Allow/Disallow
    with '*' wildcards and '$' anchors (robots.py semantics).  ~2/3 of
    hosts carry rules; among those the slate exercises every
    precedence branch — a longer Allow overriding a shorter Disallow,
    a wildcard Disallow, an exact-match ('$') Disallow, and an
    equal-length Allow/Disallow tie (Allow wins)."""
    h = _h(f"robots9309/{seed}/{host}")
    if h % 3 == 2:
        return []
    a = h % 7
    rules: list[tuple[str, bool]] = [(f"/p{a}", False)]
    if h % 2 == 0:
        # longer Allow carve-out: /p{a}{d} is allowed although the
        # shorter Disallow /p{a} prefix-matches it
        rules.append((f"/p{a}{h % 10}", True))
    if h % 5 == 0:
        rules.append((f"/p*{(h // 7) % 10}", False))   # wildcard disallow
    if h % 7 == 0:
        rules.append((f"/p{(h // 11) % 10}$", False))  # exact-path disallow
    if h % 11 == 0:
        b = (h // 13) % 7
        rules.append((f"/p{b}", True))                 # tie vs same-length
        rules.append((f"/p{b}", False))                # Disallow -> Allow wins
    return rules


def seed_urls(cfg: SynthConfig, n_seeds: int | None = None) -> list[str]:
    """First page of each host, in host order (the reference's seed list)."""
    n = n_seeds if n_seeds is not None else cfg.n_hosts
    return [page_url(i, 0, cfg.seed) for i in range(n)]
