"""The shared-stage memo contract (``operators.cache.StageMemo``): one
build per key under concurrent misses, true LRU order, a hard cap,
per-memo locking, eviction decided from the entry, and release.

The last test is the co-occurrence regression: evicting a cache-tier
edge frame used to drop only the reference, so the frame stayed
registered as a persistent RDD after ``release_shared_histograms()``.
"""

from __future__ import annotations

import gc
import threading
import time

from tests.conftest import SF_CORRECT, SF_SMOKE, TESTDATA


def _memo(cap: int = 2):
    from etl_python_sqlite_spark.operators.cache import StageMemo

    return StageMemo(cap)


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_concurrent_miss_builds_once(spark):
    """Many threads (more than cores) missing the same keys at once:
    each key is built exactly once and every caller gets that object."""
    import sys

    memo = _memo(cap=4)
    builds = []

    def build(key):
        builds.append(key)
        time.sleep(0.2)  # the other threads pile up inside get()
        return object()

    got = {}

    def grab(i):
        got[i] = memo.get(spark, SF_SMOKE, "documents", i % 3, build=build)

    threads = [threading.Thread(target=grab, args=(i,)) for i in range(12)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert sorted(k[-1] for k in builds) == [0, 1, 2]
    assert len(got) == 12
    for i in range(12):
        assert got[i] is got[i % 3]
    assert len(memo) == 3


def test_hit_refreshes_lru_order(spark):
    memo = _memo(cap=2)
    a = memo.get(spark, SF_SMOKE, "documents", "a", build=lambda k: ["a"])
    memo.get(spark, SF_SMOKE, "documents", "b", build=lambda k: ["b"])
    # touch "a": now "b" is the least recently used entry
    assert memo.get(spark, SF_SMOKE, "documents", "a", build=None) is a
    memo.get(spark, SF_SMOKE, "documents", "c", build=lambda k: ["c"])
    # "a" survived (a hit, no build); "b" was evicted (rebuilds)
    assert memo.get(spark, SF_SMOKE, "documents", "a", build=None) is a
    rebuilt = []
    memo.get(
        spark, SF_SMOKE, "documents", "b",
        build=lambda k: rebuilt.append(k) or ["b2"],
    )
    assert len(rebuilt) == 1


def test_memo_never_exceeds_cap(spark):
    for cap in (2, 4):
        memo = _memo(cap)
        for i in range(cap + 3):
            memo.get(spark, SF_SMOKE, "documents", i, build=lambda k: [k])
            assert len(memo) <= cap
        assert len(memo) == cap


def test_key_carries_app_dir_fingerprint_and_params(spark):
    from etl_python_sqlite_spark.sources.parquet import data_fingerprint

    memo = _memo()
    keys = []
    memo.get(spark, SF_SMOKE, "lineitem", 7, "x",
             build=lambda k: keys.append(k) or [])
    assert keys == [(
        spark.sparkContext.applicationId,
        SF_SMOKE,
        data_fingerprint(spark, SF_SMOKE, "lineitem"),
        7,
        "x",
    )]


def test_build_in_one_memo_does_not_block_hit_in_another(spark):
    memo_a, memo_b = _memo(), _memo()
    hit = memo_b.get(spark, SF_SMOKE, "documents", build=lambda k: ["b"])
    entered, finish = threading.Event(), threading.Event()

    def slow_build(key):
        entered.set()
        finish.wait(timeout=30)
        return ["a"]

    t = threading.Thread(
        target=lambda: memo_a.get(spark, SF_SMOKE, "documents",
                                  build=slow_build)
    )
    t.start()
    try:
        assert entered.wait(timeout=30)
        got = []
        reader = threading.Thread(
            target=lambda: got.append(
                memo_b.get(spark, SF_SMOKE, "documents", build=None)
            )
        )
        reader.start()
        reader.join(timeout=10)
        assert not reader.is_alive()
        assert got == [hit]  # served while memo_a's build still runs
    finally:
        finish.set()
        t.join(timeout=30)
    assert not t.is_alive()


def test_release_empties_the_memo(spark):
    memo = _memo()
    memo.get(spark, SF_SMOKE, "documents", 1, build=lambda k: [1])
    memo.get(spark, SF_SMOKE, "documents", 2, build=lambda k: [2])
    memo.release()
    assert len(memo) == 0


def test_eviction_unpersists_plain_frames_only(spark):
    """A plain persisted entry is unpersisted on eviction; a tied
    (finalizer-backed) entry is only dropped by reference; a frame of
    another memo held inside an entry is never freed by this one."""
    from etl_python_sqlite_spark.operators.cache import tie

    gc.collect()
    other, memo = _memo(), _memo(cap=1)
    held = other.get(
        spark, SF_SMOKE, "documents",
        build=lambda k: spark.range(5).persist(),
    )
    plain = memo.get(
        spark, SF_SMOKE, "documents", "plain",
        build=lambda k: (spark.range(7).persist(), held),
    )[0]
    plain.count()
    held.count()
    assert plain.is_cached and held.is_cached
    base = spark.range(11).persist()
    base.count()
    view = memo.get(
        spark, SF_SMOKE, "documents", "tied",
        build=lambda k: tie(base.select("id"), base),
    )
    assert not plain.is_cached  # evicted and unpersisted
    assert held.is_cached  # another memo's handle: left alone
    memo.get(spark, SF_SMOKE, "documents", "next", build=lambda k: [])
    assert base.is_cached  # tied entry evicted by reference only
    del view
    gc.collect()
    assert not base.is_cached  # its finalizer ran with the last reference
    other.release()
    assert not held.is_cached


def test_cooccurrence_eviction_leaves_no_persisted_edges(spark):
    """Cache-tier co-occurrence frames evicted by a third dataset must
    not stay registered once the shared stages are released."""
    from etl_python_sqlite_spark.plans import relational as R

    R.release_shared_histograms()
    gc.collect()
    before = _n_persistent(spark)
    for sf_dir in (SF_SMOKE, SF_CORRECT, f"{TESTDATA}/sf0.1"):
        e = R._cooccurrence_edges(spark, sf_dir)
        assert getattr(e, R._COOCC_TABLE_ATTR, None) is None  # cache tier
        e.count()
        del e
    gc.collect()
    R.release_shared_histograms()
    gc.collect()
    assert _n_persistent(spark) == before
