"""The materialized bucketed shared-stage path (VERDICT r6 #5): above
``COOCC_BUCKETED_STAGE_MIN_EDGES`` the co-occurrence stage becomes a
catalog table bucketed by the graph family's probe key instead of an
executor-memory cache. These tests force the gate to 0 and assert the
three contract properties: (1) u-keyed aggregation and joins read the
stage with ZERO exchanges of E, (2) both tiers produce bit-identical
query results, (3) the memo lifecycle drops the table like it drops a
cache entry."""

from __future__ import annotations

import gc

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def bucketed_gate(monkeypatch):
    from etl_python_sqlite_spark.plans import relational as R

    R.release_shared_histograms()
    monkeypatch.setattr(R, "COOCC_BUCKETED_STAGE_MIN_EDGES", 0)
    yield R
    R.release_shared_histograms()


def test_stage_materializes_as_bucketed_table(spark, bucketed_gate):
    R = bucketed_gate
    e = R._cooccurrence_edges(spark, SF_SMOKE)
    tbl = getattr(e, R._COOCC_TABLE_ATTR, None)
    assert tbl is not None and spark.catalog.tableExists(tbl)
    # canonical view = u<v filter over the directed table
    n_canon = e.count()
    directed, bucketed = R._cooccurrence_edges_directed(spark, SF_SMOKE)
    assert bucketed
    assert directed.count() == 2 * n_canon
    # memo hit returns the same table-backed frame, no rebuild
    assert R._cooccurrence_edges(spark, SF_SMOKE) is e
    # the build-time measured count rides the handle (r12-opt: pagerank's
    # tier gate consumes it instead of paying a count() job)
    assert getattr(e, R._COOCC_NEDGES_ATTR) == n_canon


def test_bucketed_stage_joins_without_exchanging_edges(spark, bucketed_gate):
    """The outdeg aggregation and the rank-style u-join — the graph
    family's per-iteration hot path — must consume the bucketed scan's
    HashPartitioning(u) with no Exchange anywhere in the plan."""
    R = bucketed_gate
    R._cooccurrence_edges(spark, SF_SMOKE)
    directed, bucketed = R._cooccurrence_edges_directed(spark, SF_SMOKE)
    assert bucketed
    e = directed.select(F.col("u"), F.col("v"))
    outdeg = e.groupBy("u").agg(F.count("*").alias("d"))
    eo = e.join(outdeg, "u")
    # the small aggregate side may legitimately broadcast; the contract
    # is that E itself never shuffles
    plan = eo._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    # big-graph shape: with broadcast off, the join must consume the
    # bucketed scan's partitioning on BOTH sides (agg derives from the
    # same scan) — a sort-merge/shuffled-hash join with zero exchanges
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan2 = eo._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    plan2b = (
        e.join(outdeg.hint("merge"), "u")
        ._jdf.queryExecution().executedPlan().toString()
    )
    target = plan2 if "MergeJoin" in plan2 or "ShuffledHashJoin" in plan2 else plan2b
    assert "Exchange hashpartitioning" not in target, target
    assert "Bucketed: true" in target, target


def test_tier_equality_pagerank_and_triangles(spark, bucketed_gate):
    """Cache tier and bucketed tier must answer the graph queries
    bit-identically (the gate only moves WHERE the stage lives)."""
    R = bucketed_gate
    # bucketed tier (gate forced to 0 by the fixture)
    got_pr = [tuple(r) for r in R.part_cooccurrence_pagerank(spark, SF_SMOKE).collect()]
    got_tri = [tuple(r) for r in R.part_triangle_stats(spark, SF_SMOKE).collect()]
    # cache tier
    R.release_shared_histograms()
    R.COOCC_BUCKETED_STAGE_MIN_EDGES = 10**18
    exp_pr = [tuple(r) for r in R.part_cooccurrence_pagerank(spark, SF_SMOKE).collect()]
    exp_tri = [tuple(r) for r in R.part_triangle_stats(spark, SF_SMOKE).collect()]
    assert got_pr == exp_pr
    assert got_tri == exp_tri


def test_eviction_drops_stage_table(spark, bucketed_gate):
    R = bucketed_gate
    e = R._cooccurrence_edges(spark, SF_SMOKE)
    tbl = getattr(e, R._COOCC_TABLE_ATTR)
    assert spark.catalog.tableExists(tbl)
    R.release_shared_histograms()
    assert not spark.catalog.tableExists(tbl)
    del e
    gc.collect()


def test_stage_build_sweeps_orphaned_tables(spark, bucketed_gate):
    """A crashed session's coocc_edges_* tables embed the dead
    applicationId in their (hashed) names, so no later session ever
    names them — the first stage build of a fresh app must sweep them
    (r7 ADVICE) while leaving its OWN live stage table untouched.
    r8 ADVICE refinement: only tables whose files are OLD (predate app
    start AND the absolute age floor) are orphans — a fresh table with
    a foreign name is plausibly a CONCURRENT app's live stage and must
    survive the sweep."""
    import os
    import time

    from etl_python_sqlite_spark.operators import cache as C

    R = bucketed_gate
    orphan = "coocc_edges_deadbeef0000"
    fresh_peer = "coocc_edges_peer00000000"
    for t in (orphan, fresh_peer):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.range(3).selectExpr("id AS u", "id + 1 AS v").write.mode(
            "overwrite"
        ).saveAsTable(t)
        assert spark.catalog.tableExists(t)
    # age the orphan's backing dir past both guards (app start + floor);
    # the peer table keeps its just-written mtime
    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    odir = os.path.join(warehouse.removeprefix("file:"), orphan)
    old = time.time() - (C._STAGE_ORPHAN_AGE_MS / 1000 + 3600)
    os.utime(odir, (old, old))
    # force the once-per-app sweep to run again for this build
    C._SWEPT_STAGE_PREFIXES.clear()
    e = R._cooccurrence_edges(spark, SF_SMOKE)
    live = getattr(e, R._COOCC_TABLE_ATTR)
    assert not spark.catalog.tableExists(orphan)
    assert spark.catalog.tableExists(fresh_peer)  # concurrent peer kept
    assert spark.catalog.tableExists(live)
    spark.sql(f"DROP TABLE IF EXISTS {fresh_peer}")
    # the sweep is once-per-application: a second build must not drop
    # the (now-live) stage table of a concurrent builder, and the
    # re-armed sweep must still respect the live-table registry
    C._SWEPT_STAGE_PREFIXES.clear()
    R._COOCC_MEMO._entries.clear()  # force a rebuild path through the sweep
    e2 = R._cooccurrence_edges(spark, SF_SMOKE)
    assert spark.catalog.tableExists(getattr(e2, R._COOCC_TABLE_ATTR))
    C._LIVE_STAGE_TABLES.discard(live)
    spark.sql(f"DROP TABLE IF EXISTS {live}")


def test_cache_tier_carries_measured_edge_count(spark):
    """The CACHE tier (default gate) also stamps the measured canonical
    count on the memo handle — pagerank's tier gate reads it on either
    tier."""
    from etl_python_sqlite_spark.plans import relational as R

    R.release_shared_histograms()
    try:
        e = R._cooccurrence_edges(spark, SF_SMOKE)
        assert getattr(e, R._COOCC_TABLE_ATTR, None) is None
        assert getattr(e, R._COOCC_NEDGES_ATTR) == e.count()
    finally:
        R.release_shared_histograms()


def test_concurrent_memo_miss_builds_once(spark, bucketed_gate):
    """Two simultaneous misses (the bench's concurrent graph queries)
    must resolve to ONE shared stage — the lock serializes the build and
    the loser reads the memo instead of double-building and leaking."""
    import threading

    R = bucketed_gate
    got = []

    def grab():
        got.append(R._cooccurrence_edges(spark, SF_SMOKE))

    threads = [threading.Thread(target=grab) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(got) == 2 and got[0] is got[1]


# ---------------------------------------------------------------------------
# minhash-pairs bucketed tier (r10 — VERDICT r9 #7)
# ---------------------------------------------------------------------------

@pytest.fixture()
def minhash_gate(monkeypatch):
    from etl_python_sqlite_spark.plans import ext as E

    E.release_shared_minhash()
    monkeypatch.setattr(E, "MINHASH_BUCKETED_STAGE_MIN_DOCS", 0)
    yield E
    E.release_shared_minhash()


def test_minhash_stage_materializes_as_bucketed_table(spark, minhash_gate):
    E = minhash_gate
    pairs = E._minhash_pairs(spark, SF_SMOKE)
    tbl = getattr(pairs, E._MINHASH_TABLE_ATTR, None)
    assert tbl is not None and spark.catalog.tableExists(tbl)
    # memo hit returns the same table-backed frame, no rebuild
    assert E._minhash_pairs(spark, SF_SMOKE) is pairs
    # id_a-keyed aggregation consumes the bucketed scan without
    # exchanging the pair set
    agg = spark.table(tbl).groupBy("id_a").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_minhash_tiers_produce_identical_results(spark, minhash_gate):
    E = minhash_gate
    bucketed = sorted(
        map(tuple, E._minhash_pairs(spark, SF_SMOKE).collect())
    )
    E.release_shared_minhash()
    E.MINHASH_BUCKETED_STAGE_MIN_DOCS = 10**12  # force the cache tier
    cached = sorted(map(tuple, E._minhash_pairs(spark, SF_SMOKE).collect()))
    assert bucketed == cached
    assert len(bucketed) > 0  # regeneration guard: corpus has near-dups


def test_minhash_release_drops_stage_table(spark, minhash_gate):
    E = minhash_gate
    pairs = E._minhash_pairs(spark, SF_SMOKE)
    tbl = getattr(pairs, E._MINHASH_TABLE_ATTR)
    E.release_shared_minhash()
    assert not spark.catalog.tableExists(tbl)


# ---------------------------------------------------------------------------
# image-pairs bucketed tier (r11 — VERDICT r10 #4)
# ---------------------------------------------------------------------------

@pytest.fixture()
def imgpairs_gate(monkeypatch):
    from etl_python_sqlite_spark.plans import ext as E

    E.release_shared_image_pairs()
    monkeypatch.setattr(E, "IMAGE_BUCKETED_STAGE_MIN_MEDIA", 0)
    yield E
    E.release_shared_image_pairs()


def test_image_stage_materializes_as_bucketed_table(spark, imgpairs_gate):
    E = imgpairs_gate
    pairs = E._image_pairs(spark, SF_SMOKE)
    tbl = getattr(pairs, E._IMGPAIRS_TABLE_ATTR, None)
    assert tbl is not None and spark.catalog.tableExists(tbl)
    # memo hit returns the same table-backed frame, no rebuild
    assert E._image_pairs(spark, SF_SMOKE) is pairs
    # id_a-keyed aggregation consumes the bucketed scan without
    # exchanging the pair set
    agg = spark.table(tbl).groupBy("id_a").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan


def test_image_tiers_produce_identical_results(spark, imgpairs_gate):
    E = imgpairs_gate
    bucketed = sorted(
        map(tuple, E._image_pairs(spark, SF_SMOKE).collect())
    )
    E.release_shared_image_pairs()
    E.IMAGE_BUCKETED_STAGE_MIN_MEDIA = 10**12  # force the cache tier
    cached = sorted(map(tuple, E._image_pairs(spark, SF_SMOKE).collect()))
    assert bucketed == cached
    assert len(bucketed) > 0  # regeneration guard: twins always pair


def test_image_release_drops_stage_table(spark, imgpairs_gate):
    E = imgpairs_gate
    pairs = E._image_pairs(spark, SF_SMOKE)
    tbl = getattr(pairs, E._IMGPAIRS_TABLE_ATTR)
    E.release_shared_image_pairs()
    assert not spark.catalog.tableExists(tbl)


def test_lru_eviction_defers_table_drop_to_last_consumer(spark, minhash_gate):
    """Evicting a table-tier memo entry must NOT drop the stage table
    while a consumer still holds the handle (code-review r11): the DROP
    fires via the tie_stage_table finalizer on last release."""
    E = minhash_gate
    pairs = E._minhash_pairs(spark, SF_SMOKE)
    tbl = getattr(pairs, E._MINHASH_TABLE_ATTR)
    assert spark.catalog.tableExists(tbl)
    # the LRU eviction path: reference drop from the memo only
    evicted = E._MINHASH_MEMO._evict_oldest()
    assert evicted is pairs
    assert spark.catalog.tableExists(tbl)  # consumer still holds it
    assert pairs.count() >= 0  # and can still execute
    del pairs, evicted
    gc.collect()
    assert not spark.catalog.tableExists(tbl)  # finalizer dropped it
