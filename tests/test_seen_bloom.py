"""Bloom seen-filter unit tests: no false negatives, bounded FP rate,
treeAggregate merge correctness."""
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from sparkharvester.seen import BloomFilter, _params, build_bloom


def test_no_false_negatives():
    bf = BloomFilter(*_params(10_000, 0.01))
    keys = pd.Series([f"k{i}" for i in range(10_000)])
    bf.add_series(keys)
    assert bf.contains_series(keys).all()


def test_fp_rate_bounded():
    bf = BloomFilter(*_params(10_000, 0.01))
    bf.add_series(pd.Series([f"k{i}" for i in range(10_000)]))
    unseen = pd.Series([f"x{i}" for i in range(50_000)])
    fp = bf.contains_series(unseen).mean()
    assert fp < 0.05


def test_merge_is_union():
    p = _params(1000, 0.01)
    a, b = BloomFilter(*p), BloomFilter(*p)
    a.add_series(pd.Series(["a1", "a2"]))
    b.add_series(pd.Series(["b1"]))
    a.merge(b)
    assert a.contains_series(pd.Series(["a1", "a2", "b1"])).all()


def test_distributed_build_matches_local(spark):
    df = spark.range(5000).select(
        F.concat(F.lit("u"), F.col("id")).alias("k")
    ).repartition(8)
    bf = build_bloom(df, "k", expected_items=5000)
    local = BloomFilter(bf.n_bits, bf.k)
    local.add_series(pd.Series([f"u{i}" for i in range(5000)]))
    assert np.array_equal(bf.bits, local.bits)


def test_incremental_delta_merge_equals_full_build(spark):
    """Round-6 incremental sketch contract: OR-merging same-geometry
    DELTA sketches over a partition of the keys is bit-identical to one
    full build (bloom adds are deterministic)."""
    keys = [f"k{i}" for i in range(3000)]
    df_all = spark.createDataFrame([(k,) for k in keys], "k string")
    df_a = spark.createDataFrame([(k,) for k in keys[:1000]], "k string")
    df_b = spark.createDataFrame([(k,) for k in keys[1000:]], "k string")

    full = build_bloom(df_all, "k", expected_items=4000)
    inc = build_bloom(df_a, "k", expected_items=4000)
    inc = inc.merge(build_bloom(df_b, "k", expected_items=1,
                                params=(full.n_bits, full.k)))
    assert (inc.n_bits, inc.k) == (full.n_bits, full.k)
    assert np.array_equal(inc.bits, full.bits)


def test_bloom_crawl_incremental_and_resume_sidecar(spark, tmp_path):
    """Bloom run == exact run with the incremental per-round sketch,
    the sidecar lands in the snapshot each round, and a resumed crawl
    stays bit-exact — both when it loads the sidecar as written and
    when the sidecar is of another kind (an older cuckoo run), which
    must take the full-rebuild path instead of reaching the probe."""
    import os
    import shutil

    from sparkharvester.frontier import CrawlConfig, run_crawl
    from sparkharvester.seen import load_sketch
    from sparkharvester.synth import SynthConfig, seed_urls

    synth = SynthConfig(n_hosts=3, pages_per_host=15)
    seeds = seed_urls(synth)
    base = run_crawl(spark, seeds, synth,
                     CrawlConfig(max_depth=2, max_pages=15))
    bloom = run_crawl(spark, seeds, synth,
                      CrawlConfig(max_depth=2, max_pages=15, use_bloom=True))
    key = lambda eng: {(r["seed_id"], r["url"], r["depth"])
                       for r in eng.pages.collect()}
    assert key(base) == key(bloom)
    assert base.stats == bloom.stats
    # one sidecar per committed round
    sidecars = sorted(os.listdir(os.path.join(bloom.store_root, "sketch")))
    assert len(sidecars) == bloom.rounds

    # interrupted + resumed bloom crawl == one-shot run
    ckpt = str(tmp_path / "snap")
    run_crawl(spark, seeds, synth,
              CrawlConfig(max_depth=2, max_pages=15, use_bloom=True,
                          checkpoint_dir=ckpt, stop_after_round=0))
    # the same snapshot with the sidecar an older cuckoo run wrote; its
    # capacity covers the seen set, so only the kind can force a rebuild
    _, capacity = load_sketch(ckpt, 0)
    other_kind = str(tmp_path / "snap_cuckoo")
    shutil.copytree(ckpt, other_kind)
    np.savez(os.path.join(other_kind, "sketch", "r000000.npz"),
             kind=np.array("cuckoo"),
             table=np.zeros((256, 4), dtype=np.uint16),
             n_buckets=np.array(256), overflow=np.array(0),
             capacity=np.array(capacity))

    for case, root in (("sidecar as written", ckpt),
                       ("cuckoo sidecar", other_kind)):
        resumed = run_crawl(spark, seeds, synth,
                            CrawlConfig(max_depth=2, max_pages=15,
                                        use_bloom=True),
                            resume_from=root)
        assert key(resumed) == key(base), case
        assert resumed.stats == base.stats, case
