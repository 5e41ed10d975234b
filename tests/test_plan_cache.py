"""Plan-fingerprint cache tests (the reference's pool memoization —
SURVEY §4: content-addressed intermediates)."""

from __future__ import annotations

from df_spark import Df, Predicate
from df_spark.plans.cache import PlanCache
from df_spark.sources.tables import load_table


def test_identical_rebuilt_plans_hit_cache(spark, sf_dir):
    cache = PlanCache()
    a = load_table(spark, sf_dir, "orders").filter("o_orderstatus", Predicate.eq("O"))
    b = load_table(spark, sf_dir, "orders").filter("o_orderstatus", Predicate.eq("O"))
    assert a.fingerprint == b.fingerprint
    ca = cache.get(a)
    cb = cache.get(b)
    assert cache.hits == 1 and cache.misses == 1
    assert ca.count() == cb.count()
    cache.clear()


def test_different_plans_different_entries(spark, sf_dir):
    cache = PlanCache()
    a = load_table(spark, sf_dir, "orders").filter("o_orderstatus", Predicate.eq("O"))
    b = load_table(spark, sf_dir, "orders").filter("o_orderstatus", Predicate.eq("F"))
    assert a.fingerprint != b.fingerprint
    cache.get(a)
    cache.get(b)
    assert cache.misses == 2 and len(cache) == 2
    cache.clear()


def test_lru_eviction_unpersists(spark):
    cache = PlanCache(capacity=2)
    frames = [
        Df.from_vecs(spark, [("x", [i, i + 1])]).select("x") for i in range(3)
    ]
    for f in frames:
        cache.get(f)
    assert len(cache) == 2  # oldest evicted
    assert not cache.contains(frames[0])
    assert cache.contains(frames[2])
    cache.clear()


def test_fingerprint_changes_when_source_changes(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    Df.from_vecs(spark, [("x", [1, 2])]).write_parquet(p)
    fp1 = Df.from_parquet(spark, p).fingerprint
    import time

    time.sleep(0.05)
    Df.from_vecs(spark, [("x", [3, 4])]).write_parquet(p)
    fp2 = Df.from_parquet(spark, p).fingerprint
    # the reference hashes only path+column and would serve stale cache
    # (src/reader.rs:92-97); our fingerprint includes the file snapshot
    assert fp1 != fp2


def test_from_spark_fingerprints_unique_after_gc(spark):
    # CPython reuses id() once a frame is collected, so an id-based
    # fingerprint would give two different frames one content address
    import gc

    fps = []
    for i in range(100):
        df = Df.from_spark(spark.range(i + 1))
        fps.append(df.fingerprint)
        del df
        gc.collect()
    assert len(set(fps)) == 100
