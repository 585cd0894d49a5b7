"""Structured Streaming façade (SURVEY.md §2.11).

The reference's crawl loop is a long-running imperative process with an
``on_page_crawled`` callback (crawler.py:96,252-253) and periodic
maintenance.  The rebuild is batch-first (BFS parity needs a round
barrier), but exposes the streaming shape Spark users expect:

 - ``stream_hourly_counts``: file-source readStream over an events
   directory → event-time tumbling window + watermark (late-data
   handling the reference never had) → sink;
 - ``stream_pages_foreachBatch``: the ``on_page_crawled`` analog — a
   foreachBatch hook receiving each micro-batch of crawl results, e.g.
   to run intel scoring incrementally.

Both run with ``Trigger.AvailableNow`` in tests (bounded, exactly-once
over the existing files) and would run continuously against a real
source (Kafka/files) unchanged.
"""
from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_hourly_counts(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_table: str = "stream_hourly",
    watermark: str = "2 hours",
):
    """Windowed streaming agg: count+sum per (1h window, event_type).

    Late rows beyond the watermark are dropped — the streaming analog
    of the batch events_hourly query (same results on a static input).
    """
    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema).parquet(events_dir)
        # parquet NTZ timestamps -> event-time type (watermark requires it)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"),
             F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("hour_epoch"),
            "event_type", "n", "total_value",
        )
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(out_table)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q


def stream_sessions(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    gap_seconds: int = 1800,
):
    """Streaming gap-based sessionization via ``session_window`` — the
    event-time analog of the batch events_sessions query (q_rel.py).

    Semantics parity: the batch rule splits when the SECOND-floored gap
    exceeds *gap_seconds*; session_window merges events closer than the
    window gap, so flooring timestamps to seconds and using
    ``gap_seconds + 1`` reproduces the exact same session boundaries.

    APPEND mode (the only mode session windows support): a session is
    emitted once the event-time watermark passes its end.  Sessions
    still open at end-of-input flush on the next trigger that advances
    the watermark — tests drive this with a far-future sentinel event,
    production streams flush naturally as data keeps arriving.
    """
    import pandas as pd  # noqa: F401 — keeps Arrow path warm

    schema = spark.read.parquet(events_dir).schema
    floored = (
        spark.readStream.schema(schema).parquet(events_dir)
        .withColumn(
            "tsec",
            F.col("ts").cast("timestamp").cast("long").cast("timestamp"),
        )
        .withWatermark("tsec", "0 seconds")
        .groupBy(F.session_window("tsec", f"{gap_seconds + 1} seconds"),
                 F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").alias("session_start"),
            "n_events",
        )
    )
    collected: list = []

    def sink(df: DataFrame, epoch_id: int) -> None:
        collected.extend(r.asDict() for r in df.collect())

    q = (
        floored.writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.collected = collected
    return q


STATE_SCHEMA = "pages long, total_value double"
HOST_STATE_OUT = ("key string, pages long, total_value double, "
                  "batch_pages long")


def stream_keyed_state(
    spark: SparkSession,
    events_dir: str,
    checkpoint: str,
    out_table: str = "stream_keyed_state",
    key_col: str = "event_type",
    value_col: str = "value",
):
    """Custom STATEFUL streaming operator via applyInPandasWithState:
    per-key running totals that survive across micro-batches and
    restarts (the checkpoint persists the state store).

    The crawl analog: per-host running crawl statistics maintained
    incrementally as result batches commit — a true stateful operator,
    not a windowed agg (SURVEY §2.11; the reference's CrawlStats is
    driver-global, crawler.py:46-60 — this is its distributed,
    restart-safe generalization).

    Scale: state is partitioned by key across executors by the state
    store; each micro-batch shuffles only its own rows to their key
    partitions.  NoTimeout — keys live as long as the query.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(events_dir).schema

    def update(key, pdfs, state: GroupState):
        batch_rows = 0
        batch_value = 0.0
        for pdf in pdfs:
            batch_rows += len(pdf)
            batch_value += float(pdf[value_col].sum())
        if state.exists:
            pages, total = state.get
        else:
            pages, total = 0, 0.0
        pages += batch_rows
        total += batch_value
        state.update((pages, total))
        yield pd.DataFrame({
            "key": [key[0]],
            "pages": [pages],
            "total_value": [round(total, 6)],
            "batch_pages": [batch_rows],
        })

    stream = (
        spark.readStream.schema(schema).parquet(events_dir)
        .groupBy(F.col(key_col))
        .applyInPandasWithState(
            update,
            outputStructType=HOST_STATE_OUT,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    # foreachBatch sink, NOT format("memory"): the memory sink refuses
    # checkpoint recovery, and restart-safe state is the whole point
    collected: list = []

    def sink(df: DataFrame, epoch_id: int) -> None:
        collected.extend(r.asDict() for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.collected = collected   # exposed for callers/tests
    return q


def stream_pages_foreachBatch(
    spark: SparkSession,
    pages_dir: str,
    checkpoint: str,
    on_batch: Callable[[DataFrame, int], None],
):
    """on_page_crawled analog (crawler.py:252-253): invoke *on_batch*
    with every micro-batch of newly committed crawl results."""
    schema = spark.read.parquet(pages_dir).schema
    stream = spark.readStream.schema(schema).parquet(pages_dir)
    q = (
        stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q


def stream_image_dedup(
    spark: SparkSession,
    images_dir: str,
    checkpoint: str,
):
    """Streaming image-seen admission: the north rule's URL-seen filter
    as a CONTINUOUS stateful operator on the image axis.  A stream of
    ``(img_id, ph)`` discoveries is admitted first-phash-wins — later
    rows carrying an already-seen phash are dropped — via
    ``applyInPandasWithState`` keyed by ``ph``.

    Within one micro-batch the min ``img_id`` of an unseen phash is
    admitted (deterministic); across batches the state store remembers
    seen phashes, so re-discoveries in any later batch are filtered —
    exactly the crawl loop's seen-set anti-join, incremental.

    Scale: state is hash-partitioned by ``ph`` across executors; each
    micro-batch shuffles only its own rows.  ``maxFilesPerTrigger=1``
    in the caller makes file arrival order the event order.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    schema = spark.read.parquet(images_dir).schema

    def admit(key, pdfs, state: GroupState):
        first = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["img_id"].min())
                first = m if first is None else min(first, m)
        if state.exists or first is None:
            return
        state.update((1,))
        yield pd.DataFrame({"ph": [key[0]], "img_id": [first]})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(images_dir)
        .groupBy(F.col("ph"))
        .applyInPandasWithState(
            admit,
            outputStructType="ph long, img_id long",
            stateStructType="seen int",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    collected: list = []

    def sink(df: DataFrame, epoch_id: int) -> None:
        collected.extend(r.asDict() for r in df.collect())

    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.collected = collected
    return q


def stream_lsh_candidates(
    spark: SparkSession,
    docs_dir: str,
    checkpoint: str,
):
    """Streaming near-dup CANDIDATE detection: the MinHash-LSH index as
    a CONTINUOUS operator.  A stream of ``(doc_id, text)`` arrivals is
    shingled → minhashed → banded batch-side by the batch queries' own
    q_dedup._sigged + _bands_from_sigs, then ``applyInPandasWithState``
    keyed by ``(band_id, band_hash)`` emits, for every arriving doc, a
    candidate pair against each doc previously seen in that bucket
    (including earlier docs of the same micro-batch, in doc_id order) — the
    streaming analog of ``dedup_incremental``'s candidate stage, with
    the state store playing the corpus index.  Exact-Jaccard verify
    stays a downstream batch step, as in the batch pipeline.

    Union of emitted pairs over all batches == the batch self-join's
    candidate set (tests prove equality after a<b normalization +
    distinct).  Scale: state is hash-partitioned by band bucket; each
    bucket holds only its member doc_ids, and md5 banding keeps
    buckets uniform (the same physics that bounds the batch self-join).
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from .q_dedup import _bands_from_sigs, _sigged

    schema = spark.read.parquet(docs_dir).schema

    def emit(key, pdfs, state: GroupState):
        # state stores a list (GroupState tuple contract); membership
        # tests use a set so each arrival is O(1), not O(len(seen)) —
        # ADVICE r4: 'd in seen' on the list was quadratic per hot
        # band bucket.  Pair EMISSION is O(len(seen)) by definition
        # (one candidate pair per prior occupant).
        seen: list = list(state.get[0]) if state.exists else []
        seen_set = set(seen)
        out_a, out_b = [], []
        new_ids: list = []
        for pdf in pdfs:
            new_ids.extend(int(x) for x in pdf["doc_id"])
        for d in sorted(set(new_ids)):
            if d in seen_set:
                continue
            for prior in seen:
                lo, hi = (prior, d) if prior < d else (d, prior)
                out_a.append(lo)
                out_b.append(hi)
            seen.append(d)
            seen_set.add(d)
        state.update((seen,))
        if out_a:
            yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b})

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(docs_dir)
        .select("doc_id", "text")
    )
    bands = _bands_from_sigs(_sigged(stream))
    paired = bands.groupBy("band_id", "band_hash").applyInPandasWithState(
        emit,
        outputStructType="doc_a long, doc_b long",
        stateStructType="ids array<long>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    collected: list = []

    def sink(df: DataFrame, epoch_id: int) -> None:
        collected.extend(r.asDict() for r in df.collect())

    q = (
        paired.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.collected = collected
    return q


def stream_crawl_rounds(
    spark: SparkSession,
    ticks_dir: str,
    checkpoint: str,
    snap_root: str,
    seeds: list,
    synth_cfg,
    cfg,
):
    """Streamed crawl-round driver (VERDICT r4 task #8): each arriving
    micro-batch advances the snapshotted BFS crawl by ONE round via
    ``run_crawl(stop_after_round=...)`` against a shared
    ``SnapshotStore`` — the streaming composition of the engine's
    interrupt/resume contract (I6).  Killing the stream between
    batches and restarting from the same checkpoint resumes the crawl
    bit-exactly: rounds already committed are never re-run.

    Exactly-once: foreachBatch may replay the last uncommitted batch
    after a crash, so the handler write-ahead-logs its intent
    (``batch_id -> round``) to ``<snap_root>/stream_epochs.json``
    BEFORE advancing.  On replay, a batch whose round is already
    committed in the crawl manifest is skipped; a batch that logged
    intent but died before the crawl committed re-applies the SAME
    round (run_crawl's snapshot commit is itself atomic per round).
    Ticks beyond frontier exhaustion are no-ops.
    """
    import dataclasses
    import json
    import os

    from .frontier import run_crawl
    from .storage import SnapshotStore

    epochs_path = os.path.join(snap_root, "stream_epochs.json")

    def _load_epochs() -> dict:
        if os.path.exists(epochs_path):
            with open(epochs_path) as f:
                return json.load(f)
        return {}

    def _save_epochs(d: dict) -> None:
        tmp = epochs_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(d, f)
        os.replace(tmp, epochs_path)

    def advance(df: DataFrame, batch_id: int) -> None:
        store = SnapshotStore(snap_root)
        manifest = store.load_manifest()
        epochs = _load_epochs()
        key = str(batch_id)
        if key in epochs:
            r = epochs[key]
            if manifest is not None and manifest["round"] >= r:
                return          # replayed batch, round already committed
        else:
            r = 0 if manifest is None else manifest["round"] + 1
            epochs[key] = r
            _save_epochs(epochs)
        if manifest is None:
            run_crawl(
                spark, seeds, synth_cfg,
                dataclasses.replace(cfg, stop_after_round=0,
                                    checkpoint_dir=snap_root),
            )
        else:
            run_crawl(
                spark, seeds, synth_cfg,
                dataclasses.replace(cfg, stop_after_round=r,
                                    checkpoint_dir=None),
                resume_from=snap_root,
            )

    stream = (
        spark.readStream.schema("tick long")
        .option("maxFilesPerTrigger", "1")
        .parquet(ticks_dir)
    )
    q = (
        stream.writeStream.foreachBatch(advance)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    return q
