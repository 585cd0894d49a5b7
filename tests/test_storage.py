"""Storage-layer tests: snapshot store, MERGE idempotence, sinks
(reference analogs: tests/test_storage.py:48-215)."""
import pandas as pd

from sparkharvester.storage import SnapshotStore, merge_new_only


def test_merge_insert_or_ignore(spark):
    """storage.py:135-147: duplicate keys are skipped, inserted count
    reflects only new rows."""
    existing = spark.createDataFrame(pd.DataFrame({
        "url": ["u1", "u2"], "title": ["a", "b"]}))
    batch = spark.createDataFrame(pd.DataFrame({
        "url": ["u2", "u3", "u3", "u4"],
        "title": ["B-updated", "c", "c2", "d"]}))
    merged, inserted = merge_new_only(existing, batch, ["url"])
    assert inserted.count() == 2                      # u3 (first), u4
    got = {r["url"]: r["title"] for r in merged.collect()}
    assert got == {"u1": "a", "u2": "b", "u3": "c", "u4": "d"}
    # idempotence: replay the same batch → zero inserts
    merged2, inserted2 = merge_new_only(merged, batch, ["url"])
    assert inserted2.count() == 0
    assert merged2.count() == 4


def test_snapshot_versions_and_time_travel(spark, tmp_path):
    store = SnapshotStore(str(tmp_path / "snap"))
    df1 = spark.createDataFrame(pd.DataFrame({"x": [1, 2]}))
    df2 = spark.createDataFrame(pd.DataFrame({"x": [1, 2, 3]}))
    store.write(df1, "t", 0)
    store.commit({"round": 0})
    store.write(df2, "t", 1)
    store.commit({"round": 1})
    assert store.load_manifest()["round"] == 1
    # a typed read infers no schema, so building it starts no job
    sc = spark.sparkContext
    sc.setJobGroup("typed_read", "typed_read")
    try:
        v0 = store.read(spark, "t", "x long", 0)
        v1 = store.read(spark, "t", "x long", 1)
        assert sc.statusTracker().getJobIdsForGroup("typed_read") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert v0.count() == 2     # time travel
    assert v1.count() == 3
