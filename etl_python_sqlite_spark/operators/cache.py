"""Scoped persist lifecycle — cache intermediates for exactly as long as
the result that needs them.

Several operators persist derived frames because Catalyst re-inlines a
non-cached subplan into BOTH sides of a self-join (the measured hazards
are documented at each call site).  A bare ``.persist()`` is correct for
the query but wrong for the session: the CacheManager holds the entry
until an explicit ``unpersist()``, so in a long-lived multi-tenant
session every dedup/LSH call pins executor storage forever — unbounded
storage-memory growth and eviction pressure at warehouse scale.

``tie(result, *cached)`` scopes the cache to the RESULT's lifetime
instead: a ``weakref.finalize`` on the returned DataFrame unpersists the
intermediates the moment the caller drops the result (CPython refcounting
makes that prompt), or immediately via ``release(result)``.  The
intermediates stay strongly referenced by the finalizer until then, so
the cached plans remain valid for every action the caller runs.

Eager ``localCheckpoint`` vs tied lazy persist is a measured per-site
choice. The dedup candidate sets use a build-time checkpoint (the
narrowest stage; same-session A/B: downstream plans over the
materialized RDD beat re-analyzed full-lineage trees by ~25% at sf0.1),
and ``tie`` frees the checkpoint blocks deterministically on drop via
the LogicalRDD backing handle (``_release_frame``) — without that, only
the ASYNC ContextCleaner reclaims them. The cost of a checkpoint is
plan OPACITY: everything upstream becomes "Scan ExistingRDD" to any
later ``.explain``, so the plan-quality gates cover the pre-checkpoint
join shapes through dedicated subplan tests
(tests/test_plan_quality.py::test_checkpointed_candidate_subplans)
rather than the contract query's executed plan. Operators whose frames
are consumed within a single action keep tied lazy persists — free at
build time, full Catalyst plan visible.

Composition rule: an operator that derives a new frame from a tied
result must keep the tied result alive as long as its own output —
pass it via ``keepalive=`` so the chain of finalizers unwinds outward-in.

Session-scoped shared stages (a stage several queries read, built once
per dataset) live in a :class:`StageMemo`; the data-sized ones become
bucketed catalog tables through :func:`bucketed_stage_table`.
"""

from __future__ import annotations

import hashlib
import itertools
import threading
import time
import weakref
from collections import OrderedDict
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

from etl_python_sqlite_spark.sources.parquet import data_fingerprint

_RELEASE_ATTR = "_spark_graft_release"
_TABLE_RELEASE_ATTR = "_spark_graft_table_release"


def _release_frame(f: DataFrame) -> None:
    """Free a tied frame's storage now: unpersist its cache entry AND,
    for ``localCheckpoint`` frames, the checkpoint RDD's blocks.

    Checkpoint blocks are otherwise reclaimed only by the ASYNC
    ContextCleaner after a JVM GC — minutes of dangling storage in a
    long-lived session, which the deterministic-release gate
    (tests/test_cache_lifecycle.py) rightly rejects. A checkpoint
    frame's analyzed plan is a LogicalRDD whose backing RDD we can
    unpersist directly; for every other plan shape the attribute probe
    fails and we fall through silently (the cache unpersist above
    already handled it). Only ever called once nothing references the
    frame, so invalidating the checkpoint is safe."""
    try:
        f.unpersist()
    except Exception:
        pass  # session already stopped — nothing left to release
    try:
        f._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass  # not a LogicalRDD-backed frame (or session gone)


def tie(
    result: DataFrame,
    *cached: DataFrame,
    keepalive: Iterable[DataFrame] = (),
) -> DataFrame:
    """Unpersist ``cached`` when ``result`` is garbage-collected (or on
    ``release(result)``).  ``keepalive`` frames are merely held — their
    own finalizers fire once this result lets go of them."""
    frames = tuple(cached)
    keep = tuple(keepalive)

    def _release(_frames=frames, _keep=keep) -> None:
        for f in _frames:
            _release_frame(f)

    fin = weakref.finalize(result, _release)
    # the JVM gateway may already be gone at interpreter shutdown; skip
    # the atexit sweep and let the process teardown reclaim everything
    fin.atexit = False
    setattr(result, _RELEASE_ATTR, fin)
    return result


def tie_shared(
    results: Iterable[DataFrame], *cached: DataFrame
) -> list[DataFrame]:
    """Like ``tie`` for operators returning SEVERAL frames over the same
    cached parent (e.g. a good/reject split): the parent is unpersisted
    only after the LAST surviving result is dropped."""
    out = list(results)
    frames = tuple(cached)
    remaining = {"n": len(out)}

    def _release_one(_frames=frames, _remaining=remaining) -> None:
        _remaining["n"] -= 1
        if _remaining["n"] <= 0:
            for f in _frames:
                try:
                    f.unpersist()
                except Exception:
                    pass

    for r in out:
        fin = weakref.finalize(r, _release_one)
        fin.atexit = False
        setattr(r, _RELEASE_ATTR, fin)
    return out


def tie_stage_table(frame: DataFrame, drop_cb) -> DataFrame:
    """Run ``drop_cb`` (the DROP of a bucketed stage table) when the
    LAST consumer of a table-backed memo handle lets go. LRU eviction
    of a stage-table entry must only drop the REFERENCE — an immediate
    DROP TABLE under a still-live consumer frame fails that consumer's
    next action with FileNotFound (the cache-tier eviction rule,
    extended to tables). Explicit release paths may still drop
    immediately; ``drop_cb`` must be idempotent (DROP TABLE IF
    EXISTS). Uses a DIFFERENT attribute than :func:`tie` so
    ``release(frame)`` on the handle stays a no-op — the immediate
    drop belongs to :meth:`StageMemo.release`."""

    def _cb(_drop=drop_cb) -> None:
        try:
            _drop()
        except Exception:
            pass  # session already stopped

    fin = weakref.finalize(frame, _cb)
    fin.atexit = False
    setattr(frame, _TABLE_RELEASE_ATTR, fin)
    return frame


def release(df: DataFrame) -> None:
    """Explicitly run a frame's tied cleanup now (idempotent, optional —
    dropping the frame has the same effect)."""
    fin = getattr(df, _RELEASE_ATTR, None)
    if fin is not None:
        fin()


#: Catalog table name stamped on a bucketed stage handle.
STAGE_TABLE_ATTR = "_spark_graft_stage_table"
#: Stage tables this process created and has not dropped yet: the sweep
#: below never touches them.
_LIVE_STAGE_TABLES: set = set()
#: Per-process build counter in stage table names.
_STAGE_BUILDS = itertools.count(1)
#: (applicationId, prefix) pairs whose orphan sweep already ran.
_SWEPT_STAGE_PREFIXES: set = set()
#: A stage table is built and consumed within one bench/probe run
#: (minutes); an ORPHAN survives across rounds. 1 h is far above any
#: live table's lifetime and far below an orphan's.
_STAGE_ORPHAN_AGE_MS = 60 * 60 * 1000


def _sweep_stale_stage_tables(spark: SparkSession, prefix: str) -> None:
    """Drop orphaned ``{prefix}*`` stage tables left by a crashed or
    restarted session (their names hash the old applicationId, so no
    later session will ever name them — without this sweep the
    warehouse files accumulate forever). Runs once per (application,
    prefix), at first stage build, and only touches tables this process
    did NOT create AND whose backing files predate this application's
    start: a CONCURRENT Spark app sharing the warehouse (bench +
    probe/pytest co-running) has live stage tables whose names hash the
    other app's id — name-wise indistinguishable from orphans. Guard:
    drop only tables whose directory mtime BOTH predates this app's
    start AND is older than an absolute age floor (covers the peer that
    started before us — stage tables live for minutes, orphans for
    rounds), so a live peer table is never swept while true orphans
    still age out (ADVICE r8)."""
    app = spark.sparkContext.applicationId
    if (app, prefix) in _SWEPT_STAGE_PREFIXES:
        return
    _SWEPT_STAGE_PREFIXES.add((app, prefix))
    cutoff_ms = min(
        spark.sparkContext.startTime,
        int(time.time() * 1000) - _STAGE_ORPHAN_AGE_MS,
    )
    try:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        for t in spark.catalog.listTables():
            name = t.name
            if not name.startswith(prefix) or name in _LIVE_STAGE_TABLES:
                continue
            try:
                p = jvm.org.apache.hadoop.fs.Path(warehouse, name)
                fs = p.getFileSystem(hconf)
                if (
                    fs.exists(p)
                    and fs.getFileStatus(p).getModificationTime() >= cutoff_ms
                ):
                    continue  # plausibly a concurrent app's live table
            except Exception:
                continue  # can't date it — leave it rather than break a peer
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    except Exception:
        pass  # catalog unavailable (stopping session) — leave for next run


def bucketed_stage_table(
    frame: DataFrame,
    prefix: str,
    key: tuple,
    buckets: int,
    sort_by: tuple[str, ...],
    view: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Materialize a data-sized shared stage as a catalog table bucketed
    (and sorted) on ``sort_by[0]``, named ``prefix`` + a hash of its
    memo ``key`` + a build number, and return the table-backed handle —
    ``view`` of the table scan when given. The handle carries the table
    name under ``STAGE_TABLE_ATTR``, and its :func:`tie_stage_table`
    finalizer drops the table once the last consumer lets go. The build
    number keeps a rebuild of an evicted key off the table a live handle
    of the earlier build still scans (and that handle's finalizer off the
    new table). The first build of each prefix per application sweeps
    orphaned tables first."""
    spark = frame.sparkSession
    _sweep_stale_stage_tables(spark, prefix)
    tbl = (
        f"{prefix}{hashlib.md5(repr(key).encode()).hexdigest()[:12]}"
        f"_{next(_STAGE_BUILDS)}"
    )
    (
        frame.write.mode("overwrite")
        .bucketBy(buckets, sort_by[0])
        .sortBy(*sort_by)
        .saveAsTable(tbl)
    )
    _LIVE_STAGE_TABLES.add(tbl)
    handle = spark.table(tbl)
    if view is not None:
        handle = view(handle)
    setattr(handle, STAGE_TABLE_ATTR, tbl)

    def _drop(_spark=spark, _tbl=tbl) -> None:
        _LIVE_STAGE_TABLES.discard(_tbl)
        _spark.sql(f"DROP TABLE IF EXISTS {_tbl}")

    return tie_stage_table(handle, _drop)


#: The StageMemo that built a frame — a memo frees only its own frames.
_MEMO_OWNER_ATTR = "_spark_graft_stage_memo"


def _entry_frames(value) -> tuple[DataFrame, ...]:
    """The DataFrames of a memo entry: the entry itself or the frame
    items of a tuple entry (other items are plain Python values)."""
    if isinstance(value, DataFrame):
        return (value,)
    if isinstance(value, tuple):
        return tuple(v for v in value if isinstance(v, DataFrame))
    return ()


class StageMemo:
    """Session memo of one shared stage: the result of an expensive
    build that several queries read, kept per dataset instead of being
    rebuilt per invocation.

    - **Key:** ``(applicationId, sf_dir, data_fingerprint(table),
      *params)``. The file-listing fingerprint means a dataset rewritten
      under an unchanged path is rebuilt, never served stale.
    - **Lock:** one re-entrant lock per memo, held across the whole
      get-or-build. Consumers of a stage run as concurrent actions, and
      an unlocked double miss would build the stage twice and leak one
      copy. One lock per memo, not one global lock, so unrelated stages
      still build in parallel.
    - **LRU:** a hit moves its key to the newest end; a build into a
      full memo evicts the least recently used entry.
    - **Eviction** is decided from the entry, in :meth:`_free`: a frame
      with a ``tie`` / ``tie_stage_table`` finalizer (checkpoint- or
      table-backed) is only dropped by reference, and the finalizer
      frees it when its last consumer lets go — freeing it now would
      break a live consumer. A plain persisted frame is unpersisted; a
      live consumer then only recomputes. A memo frees only frames it
      built: a handle of another memo held in an entry just to keep it
      alive is never freed here.
    - :meth:`release` frees every entry now.
    """

    def __init__(self, cap: int) -> None:
        self._cap = cap
        self._entries: OrderedDict = OrderedDict()
        self._lock = threading.RLock()

    def get(self, spark: SparkSession, sf_dir: str, table: str, *params,
            build: Callable[[tuple], object]):
        """The memoized stage for ``table`` of ``sf_dir`` under
        ``params``; on a miss, ``build(key)`` makes it (the key names
        stage tables and carries the fingerprint)."""
        key = (
            spark.sparkContext.applicationId,
            sf_dir,
            data_fingerprint(spark, sf_dir, table),
            *params,
        )
        with self._lock:
            if key in self._entries:
                self._entries.move_to_end(key)
                return self._entries[key]
            value = build(key)
            for f in _entry_frames(value):
                if getattr(f, _MEMO_OWNER_ATTR, None) is None:
                    setattr(f, _MEMO_OWNER_ATTR, self)
            while len(self._entries) >= self._cap:
                self._evict_oldest()
            self._entries[key] = value
            return value

    def _evict_oldest(self):
        _, value = self._entries.popitem(last=False)
        self._free(value, now=False)
        return value

    def _free(self, value, now: bool) -> None:
        for f in _entry_frames(value):
            if getattr(f, _MEMO_OWNER_ATTR, None) is not self:
                continue
            fin = getattr(f, _RELEASE_ATTR, None) or getattr(
                f, _TABLE_RELEASE_ATTR, None
            )
            if fin is None:
                try:
                    f.unpersist()
                except Exception:
                    pass  # session already stopped
            elif now:
                fin()

    def release(self) -> None:
        """Free every entry now (cache blocks, checkpoints, tables)."""
        with self._lock:
            while self._entries:
                _, value = self._entries.popitem()
                self._free(value, now=True)

    # dict-style name: forgetting entries without freeing them would leak
    clear = release

    def __len__(self) -> int:
        return len(self._entries)
