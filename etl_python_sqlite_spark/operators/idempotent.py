"""Idempotent append + surrogate-key dimension upsert.

The reference gets dedup/idempotency for free from the storage layer:
``UNIQUE`` constraints + ``INSERT OR IGNORE`` (reference
scr/etl_batch.py:100,139-146) and AUTOINCREMENT surrogate keys
(scr/etl_batch.py:86-91). Spark sinks have neither, so this module is the
engine's genuinely custom machinery (SURVEY.md §4.2):

* ``idempotent_append`` — first-writer-wins append with accurate
  inserted/ignored counters, computed from the anti-join itself (not
  before/after table counts, which double-count under concurrent runs).
* ``upsert_dimension`` — set-based replacement for the reference's
  N+1 per-row "get or create" (scr/etl_relational.py:130-135): distinct
  natural keys → left-anti vs existing dim → assign contiguous surrogate
  ids → append.

Scale notes:

* The anti-join shuffles on the natural key. At 100 TB use
  ``idempotent_append_bucketed`` — the target lives in a catalog table
  bucketed by the key, so the anti-join consumes the bucket layout with
  NO exchange over the accumulated table (asserted in
  tests/test_idempotent.py); alternatively a small batch side broadcasts.
* Contiguous id assignment needs a global order — a single-task window.
  That is fine for dimensions (small by definition) and per-batch fact
  appends (bounded), and is the reference's AUTOINCREMENT contract. For
  scale-mode appends where contiguity is not required, pass
  ``contiguous=False`` to use partition-local id blocks (fully parallel).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def read_or_empty(
    spark: SparkSession, path: str, schema: T.StructType
) -> DataFrame:
    """Read a parquet 'table' directory, or an empty frame if absent."""
    if _exists(path):
        return spark.read.schema(schema).parquet(path)
    # an RDD with no partitions: actions on it run no task, where
    # createDataFrame([], schema) scans a PythonRDD that forks Python
    # workers on every action
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _exists(path: str) -> bool:
    # local-fs check is enough for this engine's warehouse layout; on a
    # cluster the warehouse would be a catalog/Delta table instead.
    return os.path.exists(path)


def assign_ids(
    df: DataFrame,
    id_col: str,
    order_by: list[str] | None = None,
    contiguous: bool = True,
    after: DataFrame | None = None,
) -> DataFrame:
    """Attach surrogate ids ``1, 2, …`` to ``df`` — or, given ``after`` (a
    table holding ``id_col``), ids continuing past its max ``id_col``.

    contiguous=True  → deterministic dense ids via a global-order window
                       (single task — use for dims / bounded batches; this
                       is AUTOINCREMENT parity).
    contiguous=False → ``monotonically_increasing_id()`` based — parallel,
                       unique, NOT dense (scale mode).

    The max of ``after`` is a one-row aggregate broadcast into this plan:
    the action that consumes the ids computes it, with no driver round
    trip of its own.
    """
    if contiguous:
        w = Window.orderBy(*(order_by or df.columns))
        ids = df.withColumn(id_col, F.row_number().over(w))
    else:
        ids = df.withColumn(id_col, F.monotonically_increasing_id() + 1)
    if after is not None:
        base = after.agg(F.coalesce(F.max(id_col), F.lit(0)).alias("_id_base"))
        ids = (
            ids.crossJoin(F.broadcast(base))
            .withColumn(id_col, F.col(id_col) + F.col("_id_base"))
            .drop("_id_base")
        )
    return ids.withColumn(id_col, F.col(id_col).cast("long"))


@dataclass
class AppendResult:
    attempted: int
    inserted_new: int
    ignored_duplicates: int
    target_path: str
    #: tiny DataFrame (group_col, inserted_new, ignored_duplicates);
    #: populated only when ``group_col`` was given. Kept DISTRIBUTED —
    #: consumers join it into their audit frames instead of collecting
    #: per-file counts through the driver (bounded O(#files) rows, but a
    #: distributed→driver→distributed round trip is never the right shape)
    per_group: DataFrame | None = None


def idempotent_append(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    target_schema: T.StructType | None = None,
    id_col: str | None = None,
    group_col: str | None = None,
    attempted: int | None = None,
) -> AppendResult:
    """INSERT OR IGNORE semantics onto a parquet table.

    1. in-batch dedup: first writer wins;
    2. cross-run dedup: left-anti join against existing target keys;
    3. surrogate ids assigned AFTER dedup when ``id_col`` is given —
       SQLite does not consume rowids for IGNOREd inserts, so ids stay
       dense across re-runs only if assigned to genuinely-new rows. They
       continue after the target's max ``id_col``, computed inside the
       write plan (``assign_ids(after=)``);
    4. append only genuinely new rows;
    5. metrics from the anti-join count — the reference derives
       inserted/ignored from before/after COUNT(*) (scr/etl_batch.py:150-154)
       which races under concurrency; counting the appended frame itself is
       exact under the same single-writer contract.

    ``group_col`` (e.g. ``source_file`` in combined multi-file runs) rides
    through dedup/anti-join for accounting only — it is dropped before the
    write and ``per_group`` reports (inserted, ignored) per value. In-batch
    duplicates then resolve to the lexicographically FIRST group, matching
    the reference's sorted per-file processing order (a key seen in file A
    then file B inserts from A, ignores in B); plain ``dropDuplicates``
    would pick an arbitrary winner.

    ``attempted``, when the caller already knows ``batch.count()``, saves
    that job.
    """
    schema = target_schema or batch.drop(*([group_col] if group_col else [])).schema
    existing = (
        spark.read.schema(schema).parquet(target_path)
        if _exists(target_path)
        else None
    )

    def _write(out: DataFrame) -> None:
        out.write.mode("append").parquet(target_path)

    return _append_with_accounting(
        batch, keys, existing, schema, id_col, group_col,
        _write, target_path, attempted,
    )


def _append_with_accounting(
    batch: DataFrame,
    keys: list[str],
    existing: DataFrame | None,
    schema: T.StructType,
    id_col: str | None,
    group_col: str | None,
    write_fn,
    target_label: str,
    attempted: int | None,
) -> AppendResult:
    """Shared INSERT OR IGNORE core: in-batch dedup → anti-join vs target
    keys → per-group accounting → id assignment → schema-cast write.
    ``existing`` is the target table, None when it does not exist yet."""
    if attempted is None:
        attempted = batch.count()
    if group_col is None:
        deduped = batch.dropDuplicates(keys)
    else:
        w = Window.partitionBy(*keys).orderBy(group_col)
        deduped = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    if existing is not None:
        new_rows = deduped.join(existing.select(*keys), on=keys, how="left_anti")
    else:
        new_rows = deduped

    # One pass: persist the (small) new-rows frame so count + write don't
    # recompute the anti-join twice.
    new_rows = new_rows.persist()
    try:
        inserted = new_rows.count()
        per_group = None
        if group_col is not None:
            attempted_by = batch.groupBy(group_col).agg(
                F.count("*").alias("_attempted")
            )
            inserted_by = new_rows.groupBy(group_col).agg(
                F.count("*").alias("_inserted")
            )
            # localCheckpoint (tiny: one row per group) pins the counts
            # while new_rows is still cached — the returned frame must not
            # recompute the anti-join after the unpersist below; its blocks
            # free with the frame (ContextCleaner), unlike a CacheManager
            # persist
            per_group = (
                attempted_by.join(inserted_by, on=group_col, how="left")
                .select(
                    group_col,
                    F.coalesce("_inserted", F.lit(0))
                    .cast("long")
                    .alias("inserted_new"),
                    (F.col("_attempted") - F.coalesce("_inserted", F.lit(0)))
                    .cast("long")
                    .alias("ignored_duplicates"),
                )
                .localCheckpoint()
            )
        if inserted:
            out = new_rows.drop(group_col) if group_col else new_rows
            if id_col is not None:
                out = assign_ids(out, id_col, order_by=keys, after=existing)
            write_fn(
                out.select([F.col(f.name).cast(f.dataType) for f in schema.fields])
            )
    finally:
        new_rows.unpersist()

    return AppendResult(
        attempted=attempted,
        inserted_new=inserted,
        ignored_duplicates=attempted - inserted,
        target_path=target_label,
        per_group=per_group,
    )


def upsert_dimension(
    spark: SparkSession,
    values: DataFrame,
    dim_path: str,
    natural_key: str = "nombre",
    surrogate_key: str = "ciudad_id",
) -> DataFrame:
    """Set-based get-or-create for a surrogate-key dimension.

    Replaces the reference's 2-statements-per-row loop
    (scr/etl_relational.py:130-135) with:
    distinct(batch keys) → left-anti vs dim → contiguous ids from
    max(existing)+1 → append. Returns the up-to-date dimension.

    Existing rows keep their ids across runs (stability contract —
    SURVEY.md §4.2 item 2).
    """
    dim_schema = T.StructType(
        [
            T.StructField(surrogate_key, T.LongType(), False),
            T.StructField(natural_key, T.StringType(), False),
        ]
    )
    dim = spark.read.schema(dim_schema).parquet(dim_path) if _exists(dim_path) else None

    new_keys = values.select(F.col(natural_key)).where(
        F.col(natural_key).isNotNull()
    ).distinct()
    if dim is not None:
        new_keys = new_keys.join(dim.select(natural_key), on=natural_key, how="left_anti")

    new_keys = new_keys.persist()
    try:
        if new_keys.count():
            new_rows = assign_ids(
                new_keys, surrogate_key, order_by=[natural_key], after=dim
            ).select(surrogate_key, natural_key)
            new_rows.write.mode("append").parquet(dim_path)
    finally:
        new_keys.unpersist()

    # read_or_empty, not a bare read: with an empty first batch nothing was
    # ever written and the path doesn't exist yet
    return read_or_empty(spark, dim_path, dim_schema)


def idempotent_append_bucketed(
    spark: SparkSession,
    batch: DataFrame,
    table_name: str,
    keys: list[str],
    buckets: int = 16,
    target_schema: T.StructType | None = None,
    id_col: str | None = None,
    group_col: str | None = None,
    attempted: int | None = None,
) -> AppendResult:
    """Scale-path INSERT OR IGNORE onto a catalog table bucketed by the
    natural key — full drop-in for :func:`idempotent_append` (same id
    assignment, schema cast and per-group accounting).

    The reference's UNIQUE-constraint dedup becomes an anti-join whose
    TARGET side is pre-hashed into buckets: the join consumes the bucket
    layout directly (no exchange over the accumulated table — only the
    small new batch shuffles; bucketing on ``keys[0]`` satisfies the
    ClusteredDistribution of the full-key join because it is a subset of
    the join keys). This is the variant that holds at 100 TB, where
    re-shuffling the target per batch would dominate.
    """
    schema = target_schema or batch.drop(*([group_col] if group_col else [])).schema
    existing = (
        spark.table(table_name) if spark.catalog.tableExists(table_name) else None
    )

    def _write(out: DataFrame) -> None:
        (
            out.write.mode("append")
            .bucketBy(buckets, keys[0])
            .sortBy(keys[0])
            .saveAsTable(table_name)
        )

    return _append_with_accounting(
        batch, keys, existing, schema, id_col, group_col,
        _write, table_name, attempted,
    )
