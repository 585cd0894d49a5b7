"""Structured Streaming façade tests (SURVEY §2.11)."""
import shutil

from pyspark.sql import functions as F

from sparkharvester.streaming import stream_hourly_counts, stream_pages_foreachBatch


def test_stream_hourly_matches_batch(spark, sf_dir, tmp_path):
    """Streaming windowed agg over a static input == batch result."""
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")
    events_dir = str(events_dir)
    q = stream_hourly_counts(spark, events_dir, str(tmp_path / "ckpt"),
                             out_table="t_stream_hourly")
    q.awaitTermination(120)
    streamed = {
        (r["hour_epoch"], r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM t_stream_hourly").collect()
    }
    batch = {
        (r["hour_epoch"], r["event_type"]): r["n"]
        for r in spark.read.parquet(events_dir)
        .groupBy(F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
                 "event_type")
        .agg(F.count("*").alias("n")).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_foreach_batch_callback(spark, sf_dir, tmp_path):
    """on_page_crawled analog: every row reaches the callback once."""
    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", docs_dir / "part-0.parquet")
    docs_dir = str(docs_dir)
    seen = {"rows": 0, "batches": 0}

    def on_batch(df, epoch_id):
        seen["rows"] += df.count()
        seen["batches"] += 1

    q = stream_pages_foreachBatch(spark, docs_dir, str(tmp_path / "ck2"),
                                  on_batch)
    q.awaitTermination(120)
    assert seen["rows"] == spark.read.parquet(docs_dir).count()
    assert seen["batches"] >= 1


def test_keyed_state_accumulates_across_triggers(spark, sf_dir, tmp_path):
    """applyInPandasWithState: per-key state persists across separate
    query runs sharing a checkpoint (restart-safe running totals)."""
    import duckdb

    from sparkharvester.streaming import stream_keyed_state

    events_dir = tmp_path / "ev"
    events_dir.mkdir()
    ck = str(tmp_path / "ck_state")
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")

    q = stream_keyed_state(spark, str(events_dir), ck)
    q.awaitTermination(120)
    first = {r["key"]: (r["pages"], r["total_value"]) for r in q.collected}
    batch = {
        r["event_type"]: (r["n"], r["tv"])
        for r in spark.read.parquet(str(events_dir))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 6).alias("tv")).collect()
    }
    assert {k: v[0] for k, v in first.items()} == {k: v[0] for k, v in batch.items()}

    # second trigger: new file arrives; same checkpoint -> state carries
    duckdb.sql(
        f"COPY (SELECT * FROM '{sf_dir}/events.parquet' LIMIT 100) "
        f"TO '{events_dir}/part-1.parquet' (FORMAT PARQUET)"
    )
    q2 = stream_keyed_state(spark, str(events_dir), ck)
    q2.awaitTermination(120)
    second = {r["key"]: r["pages"] for r in q2.collected}
    extra = {
        r["event_type"]: r["n"]
        for r in spark.read.parquet(f"{events_dir}/part-1.parquet")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    # updated keys report old state + only-the-new rows
    for k, n in extra.items():
        assert second[k] == first[k][0] + n, (k, second[k], first[k], n)


def test_stream_sessions_match_batch(spark, sf_dir, tmp_path):
    """Streaming session_window sessionization == the batch window-
    function sessionization (same 30-min gap rule, second-floored)."""
    from collections import defaultdict

    from sparkharvester.q_rel import events_sessions
    from sparkharvester.streaming import stream_sessions

    events_dir = tmp_path / "sess_ev"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")

    q = stream_sessions(spark, str(events_dir), str(tmp_path / "sess_ck"))
    q.awaitTermination(180)
    rows = list(q.collected)

    # append mode withholds sessions the watermark hasn't passed; a
    # far-future sentinel event per user advances it and flushes them
    import duckdb

    sentinel_epoch = int(duckdb.sql(
        f"SELECT floor(epoch(max(ts))) + 864000 FROM '{events_dir}/part-0.parquet'"
    ).fetchone()[0])
    duckdb.sql(
        f"COPY (SELECT 'sent-' || user_id AS event_id, "
        f"to_timestamp({sentinel_epoch}) AS ts, event_type, user_id, value "
        f"FROM (SELECT DISTINCT ON (user_id) * "
        f"FROM '{events_dir}/part-0.parquet')) "
        f"TO '{events_dir}/part-1.parquet' (FORMAT PARQUET)"
    )
    q2 = stream_sessions(spark, str(events_dir), str(tmp_path / "sess_ck"))
    q2.awaitTermination(180)
    rows += list(q2.collected)

    per_user = defaultdict(lambda: [0, 0])     # user -> [n_sessions, n_events]
    for r in rows:
        if r["session_start"] >= sentinel_epoch:
            continue                            # the sentinel's own session
        per_user[r["user_id"]][0] += 1
        per_user[r["user_id"]][1] += r["n_events"]
    streamed = {u: tuple(v) for u, v in per_user.items()}

    batch = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in events_sessions(spark, str(sf_dir)).collect()
    }
    # events_sessions loads from sf_dir directly; same file copied above
    assert streamed == batch
    assert len(streamed) > 0


def test_stream_image_dedup_matches_batch(spark, tmp_path):
    """Streaming first-phash-wins admission == batch dedup winners."""
    import pandas as pd

    from sparkharvester.streaming import stream_image_dedup

    imgs = tmp_path / "imgs"
    imgs.mkdir()
    # batch 0: phashes 1..5 (img 10..14); batch 1 re-offers 1..3 with
    # LATER img_ids (dup rediscoveries) plus new phashes 6,7
    b0 = pd.DataFrame({"img_id": [10, 11, 12, 13, 14],
                       "ph": [1, 2, 3, 4, 5]})
    b1 = pd.DataFrame({"img_id": [20, 21, 22, 23, 24],
                       "ph": [1, 2, 3, 6, 7]})
    b0.to_parquet(imgs / "b0.parquet")
    import time as _t
    _t.sleep(1.1)   # distinct mtimes -> deterministic file order
    b1.to_parquet(imgs / "b1.parquet")

    q = stream_image_dedup(spark, str(imgs), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    admitted = {(r["ph"], r["img_id"]) for r in q.collected}
    # batch oracle: min img_id per phash over the full discovery log
    expected = {(1, 10), (2, 11), (3, 12), (4, 13), (5, 14),
                (6, 23), (7, 24)}
    assert admitted == expected


def _oracle_lsh_pairs(sf_dir: str) -> set:
    """dedup_minhash_lsh's DuckDB oracle over *sf_dir*'s documents: the
    batch self-join's candidate pairs, computed apart from the Spark
    signature UDF that the streaming query shares with the batch one."""
    import duckdb

    from sparkharvester.registry import all_queries

    con = duckdb.connect()
    con.sql("CREATE VIEW documents AS "
            f"SELECT * FROM '{sf_dir}/documents.parquet'")
    rows = con.sql(all_queries()["dedup_minhash_lsh"].oracle_sql()).fetchall()
    return {(int(a), int(b)) for a, b in rows}


def test_stream_lsh_candidates_match_batch_self_join(spark, tmp_path):
    """The streaming LSH index emits, over all micro-batches, exactly
    the batch self-join's candidate pair set."""
    import time as _t

    import pandas as pd

    from sparkharvester.streaming import stream_lsh_candidates

    sf_dir = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    d = tmp_path / "docs"
    d.mkdir()
    # three arrival batches with distinct mtimes
    for i, chunk in enumerate(
            (docs.iloc[:150], docs.iloc[150:300], docs.iloc[300:])):
        chunk.to_parquet(d / f"b{i}.parquet")
        _t.sleep(1.1)

    q = stream_lsh_candidates(spark, str(d), str(tmp_path / "ckpt"))
    q.awaitTermination(300)
    streamed = {(r["doc_a"], r["doc_b"]) for r in q.collected}
    batch = _oracle_lsh_pairs(sf_dir)
    assert batch, "the corpus must contain LSH candidates"
    assert streamed == batch


def test_stream_lsh_candidates_restart_recovers_state(spark, tmp_path):
    """Kill the streaming LSH query between batches; a restart from the
    same checkpoint must resume the band-bucket state exactly — no
    pair re-emitted, no pair lost, final union == batch self-join."""
    import time as _t

    import pandas as pd

    from sparkharvester.streaming import stream_lsh_candidates

    sf_dir = "/root/testdata/sf0.001"
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                           columns=["doc_id", "text"])
    d = tmp_path / "docs"
    d.mkdir()
    ck = str(tmp_path / "ckpt")
    docs.iloc[:250].to_parquet(d / "b0.parquet")
    _t.sleep(1.1)

    q1 = stream_lsh_candidates(spark, str(d), ck)
    q1.awaitTermination(300)
    first = {(r["doc_a"], r["doc_b"]) for r in q1.collected}

    docs.iloc[250:].to_parquet(d / "b1.parquet")
    q2 = stream_lsh_candidates(spark, str(d), ck)
    q2.awaitTermination(300)
    second = {(r["doc_a"], r["doc_b"]) for r in q2.collected}

    assert not (first & second), "restart must not re-emit prior pairs"
    assert first | second == _oracle_lsh_pairs(sf_dir)


def test_stream_crawl_rounds_restart_bitexact(spark, tmp_path):
    """Streamed crawl-round driver survives a mid-stream kill: run two
    tick batches, stop, restart from the same checkpoint with more
    ticks — the resumed crawl's final pages/seq must be BIT-IDENTICAL
    to one uninterrupted batch run_crawl (VERDICT r4 task #8)."""
    import time as _t

    import pandas as pd

    from sparkharvester.frontier import CrawlConfig, run_crawl
    from sparkharvester.streaming import stream_crawl_rounds
    from sparkharvester.synth import SynthConfig, seed_urls

    synth = SynthConfig(n_hosts=3, pages_per_host=12)
    seeds = seed_urls(synth)
    cfg = CrawlConfig(max_depth=2, max_pages=40)

    plain = run_crawl(spark, seeds, synth, cfg)
    expected = sorted(tuple(r) for r in plain.pages.collect())
    n_rounds = plain.rounds

    ticks = tmp_path / "ticks"
    ticks.mkdir()
    ck = str(tmp_path / "ck")
    snap = str(tmp_path / "snap")

    # phase 1: two ticks -> two rounds, then the query terminates
    # (availableNow) — the "kill" between micro-batches
    for i in range(2):
        pd.DataFrame({"tick": [i]}).to_parquet(ticks / f"t{i}.parquet")
        _t.sleep(0.05)
    q1 = stream_crawl_rounds(spark, str(ticks), ck, snap, seeds, synth, cfg)
    q1.awaitTermination(600)

    from sparkharvester.storage import SnapshotStore
    mid = SnapshotStore(snap).load_manifest()
    assert mid is not None and mid["round"] == 1, mid

    # phase 2: restart from the same checkpoint with enough ticks to
    # finish (extras are no-ops once the frontier is exhausted)
    for i in range(2, 2 + n_rounds):
        pd.DataFrame({"tick": [i]}).to_parquet(ticks / f"t{i}.parquet")
    q2 = stream_crawl_rounds(spark, str(ticks), ck, snap, seeds, synth, cfg)
    q2.awaitTermination(600)

    final = run_crawl(spark, seeds, synth, cfg, resume_from=snap)
    got = sorted(tuple(r) for r in final.pages.collect())
    assert got == expected
    assert final.stats == plain.stats


def test_stream_crawl_rounds_restart_with_politeness_and_robots(spark,
                                                                tmp_path):
    """The streamed round driver composed with the per-host politeness
    budget AND an RFC 9309 robots rule set (Allow overriding a shorter
    Disallow): kill after two rounds, restart, final pages must be
    bit-identical to the uninterrupted politeness crawl."""
    import time as _t

    import pandas as pd

    from sparkharvester.frontier import CrawlConfig, run_crawl
    from sparkharvester.streaming import stream_crawl_rounds
    from sparkharvester.synth import SynthConfig, host_name, seed_urls

    synth = SynthConfig(n_hosts=3, pages_per_host=12)
    seeds = seed_urls(synth)
    host = host_name(0, synth.seed) + ".onion"
    cfg = CrawlConfig(max_depth=2, max_pages=40, host_tokens_per_round=2,
                      robots={host: [("/p1", False), ("/p10", True)]})

    plain = run_crawl(spark, seeds, synth, cfg)
    expected = sorted(tuple(r) for r in plain.pages.collect())
    n_rounds = plain.rounds
    # the robots rules must have had an effect for the composition to bite
    paths = {u.split(".onion", 1)[1] for u in
             {r["url"] for r in plain.pages.collect()}
             if u.startswith(f"http://{host}")}
    assert "/p1" not in paths

    ticks = tmp_path / "ticks"
    ticks.mkdir()
    ck = str(tmp_path / "ck")
    snap = str(tmp_path / "snap")
    for i in range(2):
        pd.DataFrame({"tick": [i]}).to_parquet(ticks / f"t{i}.parquet")
        _t.sleep(0.05)
    q1 = stream_crawl_rounds(spark, str(ticks), ck, snap, seeds, synth, cfg)
    q1.awaitTermination(600)
    for i in range(2, 2 + n_rounds):
        pd.DataFrame({"tick": [i]}).to_parquet(ticks / f"t{i}.parquet")
    q2 = stream_crawl_rounds(spark, str(ticks), ck, snap, seeds, synth, cfg)
    q2.awaitTermination(600)

    final = run_crawl(spark, seeds, synth, cfg, resume_from=snap)
    got = sorted(tuple(r) for r in final.pages.collect())
    assert got == expected
    assert final.stats == plain.stats
