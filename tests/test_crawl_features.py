"""North-rule feature tests: bloom seen-filter exactness, checkpoint
resume, per-host politeness token bucket, robots gating."""
from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from sparkharvester.frontier import CrawlConfig, run_crawl
from sparkharvester.oracle import crawl_oracle
from sparkharvester.synth import SynthConfig, host_name, seed_urls


def _pages_set(eng):
    return {(r["seed_id"], r["url"], r["depth"]) for r in eng.pages.collect()}


def test_bloom_prefilter_is_exact(spark, monkeypatch):
    """Bloom is a definitely-unseen fast path only: results with the
    bloom enabled are IDENTICAL to the exact anti-join (SURVEY §7.4.3).
    A loose sketch pushes false positives through the exact join."""
    from sparkharvester import frontier

    monkeypatch.setattr(frontier, "BLOOM_FPP", 0.2)
    synth = SynthConfig(n_hosts=3, pages_per_host=15)
    seeds = seed_urls(synth)
    base = run_crawl(spark, seeds, synth, CrawlConfig(max_depth=2, max_pages=15))
    bloomed = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=2, max_pages=15, use_bloom=True),
    )
    assert _pages_set(base) == _pages_set(bloomed)
    assert base.stats == bloomed.stats


def test_checkpoint_resume_exact(spark):
    """Exact resume (north rule): interrupt after round 0, resume from
    the snapshot, final state equals the uninterrupted run — and the
    oracle."""
    synth = SynthConfig(n_hosts=3, pages_per_host=12)
    seeds = seed_urls(synth)
    cfg_full = CrawlConfig(max_depth=2, max_pages=20)
    full = run_crawl(spark, seeds, synth, cfg_full)

    root = tempfile.mkdtemp(prefix="crawl_resume_")
    cfg_part = CrawlConfig(max_depth=2, max_pages=20, checkpoint_dir=root,
                           stop_after_round=0)
    part = run_crawl(spark, seeds, synth, cfg_part)
    assert part.rounds == 1

    resumed = run_crawl(spark, seeds, synth,
                        CrawlConfig(max_depth=2, max_pages=20),
                        resume_from=root)
    assert _pages_set(resumed) == _pages_set(full)
    assert resumed.stats == full.stats

    oracle = crawl_oracle(seeds, synth, max_depth=2, max_pages=20)
    assert {(r["seed_id"], r["url"], r["depth"]) for r in oracle.results} \
        == _pages_set(full)


def test_torn_round_resume_exact(spark, monkeypatch, tmp_path):
    """A crash after a round's snapshot writes and sketch sidecar but
    before its manifest commit leaves orphan deltas behind.  Resuming
    from the last commit redoes that round and ends identical to an
    uninterrupted crawl: the orphan pages delta never reaches the dedup
    gate's prior-hash set."""
    import os

    from sparkharvester.storage import SnapshotStore

    synth = SynthConfig(n_hosts=3, pages_per_host=5)
    seeds = seed_urls(synth)

    def cfg(**kw):
        return CrawlConfig(max_depth=2, max_pages=5, host_tokens_per_round=3,
                           use_bloom=True, **kw)

    def state(eng):
        return (sorted(map(tuple, eng.pages.collect())),
                sorted(map(tuple, eng.seen_urls.collect())), eng.stats)

    full = run_crawl(spark, seeds, synth, cfg())

    root = str(tmp_path / "snap")
    commit = SnapshotStore.commit

    def torn_commit(self, meta):
        if meta["round"] == 1:
            raise RuntimeError("torn round")
        commit(self, meta)

    monkeypatch.setattr(SnapshotStore, "commit", torn_commit)
    with pytest.raises(RuntimeError, match="torn round"):
        run_crawl(spark, seeds, synth, cfg(checkpoint_dir=root))
    monkeypatch.setattr(SnapshotStore, "commit", commit)
    assert SnapshotStore(root).load_manifest()["round"] == 0
    assert os.path.isdir(os.path.join(root, "pages", "delta-r000001"))
    assert os.path.exists(os.path.join(root, "sketch", "r000001.npz"))

    resumed = run_crawl(spark, seeds, synth, cfg(), resume_from=root)
    assert resumed.rounds == full.rounds > 2
    assert state(resumed) == state(full)
    assert not os.path.exists(os.path.join(root, "seen_hashes"))


def test_politeness_token_bucket(spark):
    """Per-host token bucket (I4/north rule): at most N admissions per
    host per round.  Deferral spreads a depth over several virtual-time
    rounds; the URL-seen set, the distinct-content set and all counters
    are invariant (only WHICH member of a duplicate-content group wins
    can shift, since winners are chosen per round)."""
    synth = SynthConfig(n_hosts=3, pages_per_host=12)
    seeds = seed_urls(synth)
    parity = run_crawl(spark, seeds, synth,
                       CrawlConfig(max_depth=2, max_pages=1000))
    polite = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=2, max_pages=1000, host_tokens_per_round=3),
    )
    assert polite.rounds > parity.rounds        # deferral happened
    seen_a = {(r["seed_id"], r["canon_url"]) for r in parity.seen_urls.collect()}
    seen_b = {(r["seed_id"], r["canon_url"]) for r in polite.seen_urls.collect()}
    assert seen_a == seen_b
    hashes_a = {(r["seed_id"], r["content_hash"]) for r in parity.pages.collect()}
    hashes_b = {(r["seed_id"], r["content_hash"]) for r in polite.pages.collect()}
    assert hashes_a == hashes_b
    assert parity.stats == polite.stats


def test_politeness_bad_tokens_rejected(spark):
    """tokens<=0 would defer every candidate forever (ADVICE r1)."""
    import pytest

    synth = SynthConfig(n_hosts=2, pages_per_host=5)
    for bad in (0, -1):
        with pytest.raises(ValueError, match="host_tokens_per_round"):
            run_crawl(spark, seed_urls(synth), synth,
                      CrawlConfig(host_tokens_per_round=bad))


def test_resume_mismatch_rejected(spark):
    """Resume must validate snapshot seed/config; known_urls is
    incompatible with resume (ADVICE r1)."""
    import pytest

    synth = SynthConfig(n_hosts=2, pages_per_host=8)
    seeds = seed_urls(synth)
    root = tempfile.mkdtemp(prefix="resume_guard_")
    run_crawl(spark, seeds, synth,
              CrawlConfig(max_depth=1, max_pages=10, checkpoint_dir=root,
                          stop_after_round=0))
    with pytest.raises(ValueError, match="seed mismatch"):
        run_crawl(spark, seeds, SynthConfig(n_hosts=2, pages_per_host=8,
                                            seed=synth.seed + 1),
                  CrawlConfig(max_depth=1, max_pages=10), resume_from=root)
    with pytest.raises(ValueError, match="max_pages"):
        run_crawl(spark, seeds, synth,
                  CrawlConfig(max_depth=1, max_pages=99), resume_from=root)
    with pytest.raises(ValueError, match="known_urls"):
        run_crawl(spark, seeds, synth,
                  CrawlConfig(max_depth=1, max_pages=10),
                  known_urls=["http://" + host_name(0, synth.seed) + "/x"],
                  resume_from=root)


def test_retry_reenqueue_heals_transient_failures(spark):
    """Failed-fetch re-enqueue (I3 distributed): with max_retries > 0,
    transient failures re-enter the frontier with a future not_before
    and eventually succeed; permanent failures still count as failed.
    The page set must be a superset of the no-retry run."""
    synth = SynthConfig(n_hosts=3, pages_per_host=15, fail_rate_pct=30)
    seeds = seed_urls(synth)
    base = run_crawl(spark, seeds, synth,
                     CrawlConfig(max_depth=2, max_pages=100))
    retried = run_crawl(spark, seeds, synth,
                        CrawlConfig(max_depth=2, max_pages=100,
                                    max_retries=2))
    base_pages = _pages_set(base)
    retry_pages = _pages_set(retried)
    # healed URLs add pages; nothing is lost
    assert base_pages <= retry_pages
    assert retried.stats["pages_crawled"] >= base.stats["pages_crawled"]
    # the synthetic transient model heals ~half of failures: some must
    # actually have healed, and some permanent failures must remain
    assert retried.stats["pages_crawled"] > base.stats["pages_crawled"]
    assert retried.stats["pages_failed"] > 0
    assert retried.stats["pages_failed"] < base.stats["pages_failed"]
    # retries consume extra virtual rounds (not_before in the future)
    assert retried.rounds > base.rounds
    # no candidate vanishes: permanently-failing SEED urls must end as
    # terminal failures even though the BFS head moves past their depth
    # while they wait out not_before (regression: leftover used to drop
    # parked retry rows at already-passed depths)
    from sparkharvester.oracle import is_valid_onion_py
    from sparkharvester.synth import synth_fetch_page

    permanent_seeds = [
        u for u in seeds if is_valid_onion_py(u)
        and not synth_fetch_page(u, synth, retry_no=2)["ok"]
    ]
    if permanent_seeds:
        assert retried.stats["pages_failed"] >= len(permanent_seeds)
    # determinism: same config twice -> identical results
    again = run_crawl(spark, seeds, synth,
                      CrawlConfig(max_depth=2, max_pages=100, max_retries=2))
    assert _pages_set(again) == retry_pages
    assert again.stats == retried.stats


def test_politeness_and_retries_compose(spark):
    """Politeness token bucket + retry re-enqueue together: the URL-seen
    set equals the parity run's (politeness invariant) plus every extra
    page the retries heal — and the run terminates within the round
    budget without truncation warnings."""
    import warnings

    synth = SynthConfig(n_hosts=3, pages_per_host=12, fail_rate_pct=25)
    seeds = seed_urls(synth)
    retry_only = run_crawl(spark, seeds, synth,
                           CrawlConfig(max_depth=2, max_pages=1000,
                                       max_retries=2))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        both = run_crawl(
            spark, seeds, synth,
            CrawlConfig(max_depth=2, max_pages=1000, max_retries=2,
                        host_tokens_per_round=3),
        )
    assert not [w for w in caught if "max_rounds" in str(w.message)], \
        "politeness+retry run was truncated by the round budget"
    seen_r = {(r["seed_id"], r["canon_url"]) for r in retry_only.seen_urls.collect()}
    seen_b = {(r["seed_id"], r["canon_url"]) for r in both.seen_urls.collect()}
    assert seen_r == seen_b                 # politeness never changes coverage
    assert both.stats["pages_crawled"] == retry_only.stats["pages_crawled"]
    assert both.stats["pages_failed"] == retry_only.stats["pages_failed"]
    assert both.rounds >= retry_only.rounds


def test_two_phase_admission_exact_and_bounded(spark):
    """Maximal skew for the politeness ADMISSION window (VERDICT r2 #1):
    one host owning 10^5 candidates.  The two-phase top-N must (a) admit
    exactly the single-window top-N set, and (b) bound the exact global
    window's per-host input to ≤ tokens×buckets rows — no task ever
    sorts the hot host's full candidate list."""
    from pyspark.sql.window import Window

    from sparkharvester.frontier import admit_per_host
    from sparkharvester.urlnorm import url_hash64

    n, tokens, buckets = 100_000, 5, 8
    rows = [(i % 4, f"http://hotonionhost.onion/p{i:06d}", 1, 0)
            for i in range(n)]
    df = spark.createDataFrame(
        rows, "seed_id int, canon_url string, depth int, retry_no int"
    ).withColumn("host", F.lit("hotonionhost.onion")).repartition(16)

    admitted, deferred = admit_per_host(df, tokens, buckets)
    w = Window.partitionBy("host").orderBy("canon_url", "seed_id")
    ref = {
        (r["seed_id"], r["canon_url"])
        for r in df.withColumn("__tok", F.row_number().over(w))
        .filter(F.col("__tok") <= tokens).collect()
    }
    got = {(r["seed_id"], r["canon_url"]) for r in admitted.collect()}
    assert got == ref
    # complement: every candidate is admitted XOR deferred, exactly once
    assert admitted.count() == tokens
    assert deferred.count() == n - tokens
    # bounded phase-2 input: per-host phase-1 survivors ≤ tokens×buckets
    # (replicates admit_per_host's phase-1 expressions)
    w_local = Window.partitionBy("host", "__asalt").orderBy(
        "canon_url", "seed_id")
    survivors_per_host = (
        df.withColumn("__asalt",
                      F.pmod(url_hash64(F.col("canon_url")), F.lit(buckets)))
        .withColumn("__lrn", F.row_number().over(w_local))
        .filter(F.col("__lrn") <= tokens)
        .groupBy("host").count().collect()
    )
    assert all(r["count"] <= tokens * buckets for r in survivors_per_host)
    assert max(r["count"] for r in survivors_per_host) > tokens  # >1 bucket


# (group, order, sum column, rows, schema, range-path partitions)
_NUMBERING_CASES = {
    "no_group": (
        None, ["c", "b", "a"], "a",
        [(i % 7, f"k{i % 13:02d}-{i:04d}", i % 3) for i in range(997)],
        "a int, b string, c int", 11,
    ),
    # one group owns 90% of rows, spread over many partitions
    "skewed_group": (
        "g", ["k"], "succ",
        [(0 if i % 10 else i % 7, f"k{i:05d}", i % 3) for i in range(5000)],
        "g int, k string, succ int", 13,
    ),
}


@pytest.mark.parametrize("case", sorted(_NUMBERING_CASES))
@pytest.mark.parametrize("path", ["window", "range"])
def test_grouped_prefix_matches_window(spark, path, case):
    """attach_grouped_prefix == the per-group row_number, exclusive
    cumulative-sum and count windows, types included, on both of its
    paths: the window (known_count at or below the threshold) and the
    range-partitioned numbering.  Arrow batches of 7 rows make every
    range partition arrive as several batches, so each group's running
    count and sum must carry from one batch to the next."""
    from pyspark.sql.window import Window

    from sparkharvester.seq import attach_grouped_prefix

    group, order, succ, rows, schema, parts = _NUMBERING_CASES[case]
    df = spark.createDataFrame(rows, schema).repartition(16)
    part = Window.partitionBy(*([group] if group else []))
    w = part.orderBy(*order)
    expected = {
        tuple(r[:3]): (r["cum"], r["idx"], r["n"])
        for r in df.withColumn(
            "cum",
            F.coalesce(F.sum(succ).over(
                w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)),
        ).withColumn("idx", F.row_number().over(w))
         .withColumn("n", F.count("*").over(part)).collect()
    }
    kw = ({"known_count": len(rows)} if path == "window"
          else {"num_partitions": parts})
    batch_conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(batch_conf)
    spark.conf.set(batch_conf, "7")
    try:
        out = attach_grouped_prefix(df, group, order, "idx", sum_col=succ,
                                    cum_col="cum", count_col="n", **kw)
        got = {tuple(r[:3]): (r["cum"], r["idx"], r["n"])
               for r in out.collect()}
        # row number alone, the shape of the canonical crawl seq
        seq_only = attach_grouped_prefix(df, group, order, "idx", **kw)
        got_idx = {tuple(r[:3]): r["idx"] for r in seq_only.collect()}
    finally:
        spark.conf.set(batch_conf, old)
    assert got == expected
    assert got_idx == {k: v[1] for k, v in expected.items()}
    assert seq_only.columns == df.columns + ["idx"]
    assert {c: t for c, t in out.dtypes if c in ("cum", "idx", "n")} == \
        {"cum": "bigint", "idx": "bigint", "n": "bigint"}


@pytest.mark.parametrize("path", ["window", "range"])
def test_numbering_callers_match_oracle(spark, sf_dir, monkeypatch, path):
    """Every analytics query built on attach_grouped_prefix equals its
    DuckDB oracle on both paths of the primitive: the default threshold
    (the window at sf0.001) and the range path forced by a threshold
    of 0."""
    import sparkharvester.seq as seq
    from sparkharvester.registry import all_queries
    from tools.compare import compare, duck_con

    if path == "range":
        monkeypatch.setattr(seq, "SEQ_WINDOW_THRESHOLD", 0)
    con = duck_con(sf_dir)
    queries = all_queries()
    for name in ("curate_shards", "img_shards", "text_quality_buckets",
                 "crawl_priority_order"):
        q = queries[name]
        ok, msg = compare(q.build(spark, sf_dir), q.oracle_sql(), con)
        assert ok, f"{name} ({path} path): {msg}"


def test_scalable_cap_window_crawl_identical(spark, monkeypatch):
    """The range-partitioned per-seed cap path produces the IDENTICAL
    crawl (pages, seq, stats) as the window path — the path choice
    from the round's live-row count is a pure physical substitution.
    The range path is forced by dropping the window threshold to 0,
    and the row counts the crawl hands the cap window are recorded to
    show which path each round took."""
    import sparkharvester.frontier as frontier
    import sparkharvester.seq as seq

    known_counts = []

    def recording(*args, known_count=None, **kwargs):
        known_counts.append(known_count)
        return seq.attach_grouped_prefix(*args, known_count=known_count,
                                         **kwargs)

    monkeypatch.setattr(frontier, "attach_grouped_prefix", recording)
    synth = SynthConfig(n_hosts=3, pages_per_host=14)
    seeds = seed_urls(synth)
    base = run_crawl(spark, seeds, synth,
                     CrawlConfig(max_depth=2, max_pages=12))
    assert known_counts
    assert all(0 < n <= seq.SEQ_WINDOW_THRESHOLD for n in known_counts)
    known_counts.clear()
    monkeypatch.setattr(seq, "SEQ_WINDOW_THRESHOLD", 0)   # force range path
    scal = run_crawl(spark, seeds, synth,
                     CrawlConfig(max_depth=2, max_pages=12))
    assert known_counts
    assert all(n > seq.SEQ_WINDOW_THRESHOLD for n in known_counts)
    key = lambda eng: {(r["seed_id"], r["url"], r["depth"], r["seq"],
                        r["crawled_at"])
                       for r in eng.pages.collect()}  # noqa: E731
    assert key(base) == key(scal)
    assert base.stats == scal.stats


def test_robots_gating(spark):
    """robots.txt cache table (north rule): disallowed path prefixes are
    never fetched and count as skipped, like the blacklist (F2)."""
    synth = SynthConfig(n_hosts=2, pages_per_host=10)
    seeds = seed_urls(synth)
    plain = run_crawl(spark, seeds, synth, CrawlConfig(max_depth=2, max_pages=50))
    plain_urls = {r["url"] for r in plain.pages.collect()}
    # pick a non-seed URL that WAS crawled, and disallow its path prefix
    victim = sorted(u for u in plain_urls if u not in seeds)[0]
    host = victim.split("://")[1].split("/")[0]
    path = "/" + victim.split("://")[1].split("/", 1)[1]
    robots = {host: [path]}
    gated = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=2, max_pages=50, robots=robots),
    )
    gated_urls = {r["url"] for r in gated.pages.collect()}
    blocked_prefix = f"http://{host}{path}"
    assert any(u.startswith(blocked_prefix) for u in plain_urls)
    assert not any(u.startswith(blocked_prefix) for u in gated_urls)
    assert gated.stats["pages_skipped"] > plain.stats["pages_skipped"]


def test_auto_robots_cache(spark):
    """robots.txt cache table: each host's robots is fetched ONCE and
    persisted as a delta; no crawled page is blocked by its host's
    rules."""
    from collections import Counter

    from sparkharvester.frontier import ROBOTS_SCHEMA
    from sparkharvester.robots import decide_blocked
    from sparkharvester.storage import SnapshotStore
    from sparkharvester.synth import robots_rules_for_host

    synth = SynthConfig(n_hosts=4, pages_per_host=12)
    seeds = seed_urls(synth)
    root = tempfile.mkdtemp(prefix="robots_")
    eng = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=2, max_pages=50, auto_robots=True,
                    checkpoint_dir=root),
    )
    store = SnapshotStore(root)
    cache = store.read_deltas(spark, "robots", ROBOTS_SCHEMA, eng.rounds - 1)
    rows = cache.collect()
    assert len(rows) > 0
    # fetch-once: per host the cache holds its rule set exactly once
    # (an empty robots.txt is one NULL sentinel row), so a second fetch
    # of a host would show up as doubled rows
    for host in {r["host"] for r in rows}:
        expected = robots_rules_for_host(host, synth.seed) or [(None, None)]
        assert Counter((r["pattern"], r["allow"]) for r in rows
                       if r["host"] == host) == Counter(expected), host
    for p in eng.pages.collect():
        host = p["url"].split("://")[1].split("/")[0]
        path = "/" + p["url"].split("://")[1].split("/", 1)[1]
        assert not decide_blocked(
            path, robots_rules_for_host(host, synth.seed)), p["url"]


def test_hot_host_salting_spreads_fetch(spark):
    """Maximal skew (a single host owns every URL) must still fan the
    fetch stage across multiple partitions — the salt column defuses
    hot-host skew (north rule); per-partition lineage metrics prove it."""
    synth = SynthConfig(n_hosts=1, pages_per_host=60, fanout=8)
    eng = run_crawl(spark, seed_urls(synth), synth,
                    CrawlConfig(max_depth=2, max_pages=60, salt_buckets=8))
    per_round = {
        r["round"]: r["n"]
        for r in eng.metrics.groupBy("round")
        .agg(F.countDistinct("partition_id").alias("n")).collect()
    }
    # at least one round with enough candidates used several partitions
    assert max(per_round.values()) > 1, per_round
    assert eng.stats["pages_crawled"] > 20


def test_metrics_lineage(spark):
    """Per-partition lineage metrics (north rule): counters reconcile
    with the result table per round."""
    synth = SynthConfig(n_hosts=3, pages_per_host=10)
    seeds = seed_urls(synth)
    eng = run_crawl(spark, seeds, synth, CrawlConfig(max_depth=2, max_pages=20))
    per_depth = {
        r["depth"]: r["n"]
        for r in eng.metrics.groupBy("depth")
        .agg(F.sum("pages_crawled").alias("n")).collect()
    }
    pages_per_depth = {
        r["depth"]: r["n"]
        for r in eng.pages.groupBy("depth").agg(F.count("*").alias("n")).collect()
    }
    assert per_depth == pages_per_depth
    # in parity mode one round per depth, so round == depth per row
    assert eng.metrics.filter(F.col("round") != F.col("depth")).count() == 0
    assert eng.metrics.filter(F.col("run_id").isNull()).count() == 0


def test_three_rounds_politeness_deferral(spark, sf_dir):
    """crawl_three_rounds must actually exercise the deferral semantic:
    hosts over budget in round 0 defer candidates, which re-enter the
    next round's pool at their ORIGINAL depth and (depth-first priority)
    are admitted before that round's fresh links."""
    from sparkharvester.q_crawl import _B3_TOKENS, crawl_three_rounds

    rows = crawl_three_rounds(spark, sf_dir).collect()
    by_round = {}
    for r in rows:
        by_round.setdefault(r["round"], []).append(r)
    assert set(by_round) == {0, 1, 2}

    # per-(round, host) admissions never exceed the budget
    adm = {}
    for r in rows:
        if r.admitted:
            k = (r["round"], r.host)
            adm[k] = adm.get(k, 0) + 1
    assert adm and max(adm.values()) <= _B3_TOKENS

    # deferral occurred in round 0...
    deferred0 = {(r.seed_id, r.url_id) for r in by_round[0] if not r.admitted}
    assert deferred0, "round 0 must overflow some host budget"
    # ...and some deferred row was re-admitted in round 1 at depth 0
    readmitted = [r for r in by_round[1]
                  if (r.seed_id, r.url_id) in deferred0 and r.admitted]
    assert readmitted and all(r.depth == 0 for r in readmitted)
    # depth-priority: a host admitting a fresh (depth>=1) link in round 1
    # must have no deferred depth-0 row left unadmitted on that host
    for host in {r.host for r in by_round[1]}:
        host_rows = [r for r in by_round[1] if r.host == host]
        if any(r.admitted and r.depth >= 1 for r in host_rows):
            assert not any((not r.admitted) and r.depth == 0
                           for r in host_rows)
    # a row is never admitted twice across rounds (seen set accumulates)
    admitted_keys = [(r.seed_id, r.url_id) for r in rows if r.admitted]
    assert len(admitted_keys) == len(set(admitted_keys))


def test_robots_multiple_rules_per_host(spark):
    """A host whose robots carries SEVERAL disallow rules blocks every
    matching prefix (frontier.py any-match groupBy; real robots files
    have many Disallow lines)."""
    synth = SynthConfig(n_hosts=2, pages_per_host=10)
    seeds = seed_urls(synth)
    plain = run_crawl(spark, seeds, synth,
                      CrawlConfig(max_depth=2, max_pages=50))
    plain_urls = {r["url"] for r in plain.pages.collect()}
    victims = sorted(u for u in plain_urls if u not in seeds)[:2]
    host = victims[0].split("://")[1].split("/")[0]
    prefixes = ["/" + v.split("://")[1].split("/", 1)[1]
                for v in victims
                if v.split("://")[1].split("/")[0] == host]
    assert prefixes, "need at least one victim on the chosen host"
    gated = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=2, max_pages=50, robots={host: prefixes}),
    )
    gated_urls = {r["url"] for r in gated.pages.collect()}
    for p in prefixes:
        blocked = f"http://{host}{p}"
        assert any(u.startswith(blocked) for u in plain_urls)
        assert not any(u.startswith(blocked) for u in gated_urls)


def test_stop_file_graceful_stop_and_resume(spark, tmp_path):
    """Cooperative stop (gui.py _on_stop analog): the stop file halts
    the crawl after the current round's COMMITTED snapshot; the partial
    run is resumable to a bit-identical final state, and the Spark-free
    live-stats poller (gui.py _poll_stats analog) reads the committed
    counters without a session."""
    from sparkharvester.storage import read_live_stats

    synth = SynthConfig(n_hosts=3, pages_per_host=12)
    seeds = seed_urls(synth)
    full = run_crawl(spark, seeds, synth, CrawlConfig(max_depth=2, max_pages=20))

    root = str(tmp_path / "snap")
    stop = tmp_path / "STOP"
    stop.write_text("")          # present before round 1 -> stop after round 0
    part = run_crawl(
        spark, seeds, synth,
        CrawlConfig(max_depth=2, max_pages=20, checkpoint_dir=root,
                    stop_file=str(stop)),
    )
    assert part.rounds == 1      # stopped early, not exhausted
    assert part.rounds < full.rounds

    # live stats reflect exactly the committed partial round
    live = read_live_stats(root)
    assert live is not None
    assert live["round"] == 0
    assert live["pages_crawled"] == sum(
        r["pages_crawled"] for r in part.metrics.collect())
    assert sum(live["pages_by_seed"].values()) == live["pages_crawled"]

    stop.unlink()                # stop request cleared -> resume completes
    resumed = run_crawl(spark, seeds, synth,
                        CrawlConfig(max_depth=2, max_pages=20),
                        resume_from=root)
    assert _pages_set(resumed) == _pages_set(full)
    assert resumed.stats == full.stats
