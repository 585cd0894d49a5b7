"""RFC 9309 robots matching: unit tests for the pattern translator /
reference decision, a Spark-gate-vs-reference grid equivalence, and
engine-level precedence behavior (VERDICT r4 task #6)."""
import pytest

from sparkharvester.frontier import CrawlConfig, run_crawl
from sparkharvester.robots import (
    attach_robots_blocked,
    decide_blocked,
    rule_regex,
)
from sparkharvester.synth import (
    SynthConfig,
    host_name,
    robots_rules_for_host,
    seed_urls,
)


def test_rule_regex_translation():
    assert rule_regex("/p1") == "^/p1"
    assert rule_regex("/p1$") == "^/p1$"
    assert rule_regex("/p*7") == "^/p.*7"
    assert rule_regex("/a.b*c$") == "^/a\\.b.*c$"


def test_decide_blocked_rfc_semantics():
    # no rules / no match -> allowed
    assert decide_blocked("/p1", []) is False
    assert decide_blocked("/q", [("/p", False)]) is False
    # plain prefix disallow
    assert decide_blocked("/p1", [("/p", False)]) is True
    assert decide_blocked("/p10", [("/p1", False)]) is True
    # longer Allow overrides shorter Disallow (RFC 9309 longest match)
    rules = [("/p1", False), ("/p10", True)]
    assert decide_blocked("/p10", rules) is False
    assert decide_blocked("/p1", rules) is True
    assert decide_blocked("/p11", rules) is True
    # equal-length tie -> least restrictive (Allow) wins
    assert decide_blocked("/p1", [("/p1", False), ("/p1", True)]) is False
    # '$' anchors to the exact path
    assert decide_blocked("/p1", [("/p1$", False)]) is True
    assert decide_blocked("/p10", [("/p1$", False)]) is False
    # '*' wildcard
    assert decide_blocked("/p17", [("/p*7", False)]) is True
    assert decide_blocked("/p18", [("/p*7", False)]) is False
    # wildcard + anchor
    assert decide_blocked("/p1x7", [("/p1*7$", False)]) is True
    assert decide_blocked("/p1x70", [("/p1*7$", False)]) is False
    # longer wildcard Disallow beats shorter Allow
    assert decide_blocked("/p1.html", [("/p1", True), ("/p*.html", False)]) \
        is True


def test_spark_gate_matches_reference(spark):
    """attach_robots_blocked (the frontier gate) agrees with the
    pure-Python decide_blocked on every (host, path) of a grid whose
    rule slates exercise all precedence branches."""
    hosts = [host_name(i) + ".onion" for i in range(12)]
    mapping = {h: robots_rules_for_host(h) for h in hosts}
    # at least one host must carry an Allow rule for the test to bite
    assert any(a for rs in mapping.values() for _, a in rs)
    paths = [f"/p{i}" for i in range(12)] + \
        ["/p1.html", "/p17", "/p1x7", "/p23/sub"]
    cand = spark.createDataFrame(
        [(h, p) for h in hosts for p in paths], "host string, path string")
    rules = spark.createDataFrame(
        [(h, p, a) for h, rs in mapping.items() for p, a in rs]
        + [(h, None, None) for h, rs in mapping.items() if not rs],
        "host string, pattern string, allow boolean",
    )
    from pyspark.sql import functions as F
    got = {
        (r["host"], r["path"]): r["robots_blocked"]
        for r in attach_robots_blocked(
            cand, rules, F.col("path"), ["host", "path"]).collect()
    }
    assert len(got) == len(hosts) * len(paths)
    for h in hosts:
        for p in paths:
            assert got[(h, p)] == decide_blocked(p, mapping[h]), (h, p)


def test_crawl_allow_overrides_shorter_disallow(spark):
    """Engine-level RFC precedence: Disallow /p1 with Allow /p10 must
    crawl /p10 but block /p1 and /p11 on that host."""
    synth = SynthConfig(n_hosts=2, pages_per_host=12)
    seeds = seed_urls(synth)
    plain = run_crawl(spark, seeds, synth,
                      CrawlConfig(max_depth=3, max_pages=60))
    plain_urls = {r["url"] for r in plain.pages.collect()}
    host = host_name(0, synth.seed) + ".onion"
    reached = {u.split(".onion", 1)[1] for u in plain_urls
               if host in u}
    if not {"/p1", "/p10"} <= reached:
        pytest.skip("graph did not reach both victim pages")
    gated = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=3, max_pages=60,
                    robots={host: [("/p1", False), ("/p10", True)]}),
    )
    gated_paths = {u.split(".onion", 1)[1]
                   for u in {r["url"] for r in gated.pages.collect()}
                   if u.startswith(f"http://{host}")}
    assert "/p10" in gated_paths
    assert "/p1" not in gated_paths
    if "/p11" in reached:
        assert "/p11" not in gated_paths


def test_crawl_anchor_blocks_exact_path_only(spark):
    """'$'-anchored Disallow blocks exactly /p1, not /p10 or /p11."""
    synth = SynthConfig(n_hosts=2, pages_per_host=12)
    seeds = seed_urls(synth)
    plain = run_crawl(spark, seeds, synth,
                      CrawlConfig(max_depth=3, max_pages=60))
    host = host_name(0, synth.seed) + ".onion"
    reached = {u.split(".onion", 1)[1]
               for u in {r["url"] for r in plain.pages.collect()}
               if u.startswith(f"http://{host}")}
    if "/p1" not in reached:
        pytest.skip("graph did not reach /p1")
    gated = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=3, max_pages=60,
                    robots={host: [("/p1$", False)]}),
    )
    gated_paths = {u.split(".onion", 1)[1]
                   for u in {r["url"] for r in gated.pages.collect()}
                   if u.startswith(f"http://{host}")}
    assert "/p1" not in gated_paths
    # the gate matches url_path (query stripped, consistent with the
    # blacklist — ADVICE r1), so /p1?a=2 is the same robots path as
    # /p1 and is also blocked; every other path survives
    for p in reached:
        if p.split("?")[0] == "/p1":
            assert p not in gated_paths, p
        else:
            assert p in gated_paths or p in ("/login",), p


def test_auto_robots_rfc_mode(spark):
    """auto_robots: the cache carries mixed Allow/Disallow rules and no
    crawled page violates the RFC decision of its host's rule set."""
    import tempfile

    from sparkharvester.frontier import ROBOTS_SCHEMA
    from sparkharvester.storage import SnapshotStore

    synth = SynthConfig(n_hosts=6, pages_per_host=10)
    seeds = seed_urls(synth)
    root = tempfile.mkdtemp(prefix="robots_rfc_")
    eng = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=2, max_pages=80, auto_robots=True,
                    checkpoint_dir=root),
    )
    store = SnapshotStore(root)
    cache = store.read_deltas(spark, "robots", ROBOTS_SCHEMA, eng.rounds - 1)
    rows = cache.collect()
    for r in rows:
        expected = robots_rules_for_host(r["host"], synth.seed)
        if r["pattern"] is None:
            assert expected == []
        else:
            assert (r["pattern"], r["allow"]) in expected
    for p in eng.pages.collect():
        host = p["url"].split("://")[1].split("/")[0]
        path = "/" + p["url"].split("://")[1].split("/", 1)[1]
        assert not decide_blocked(
            path, robots_rules_for_host(host, synth.seed)), p["url"]
