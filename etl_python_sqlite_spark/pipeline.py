"""The batch ETL pipeline: extract → transform/reject → load → audit.

End-to-end re-expression of the reference's flagship entry point
``etl_batch.main()`` (reference scr/etl_batch.py:174-199) plus the
incremental/migration behaviors of scr/etl_incremental_audit.py, on a
parquet warehouse:

    data_in/*.csv ─► all-string read ─► motivo cascade ─► rejects → CSV sink
                                              │
                                              └► valid ─► dim upsert (set-based)
                                                     ─► fact idempotent append
                                                     ─► audit row (etl_runs)

Tables (warehouse_dir/):
    ciudades/          ciudad_id, nombre                    (dim)
    personas_limpias/  persona_id, nombre, edad, ciudad_id,
                       processed_at, run_id                 (fact)
    etl_runs/          run_id, started_at, source_file, valid_count,
                       rejected_count, inserted_new, ignored_duplicates

Three drivers share ONE load core (the load-and-audit end of the chain):

* ``run_batch`` — the reference's per-file loop, one ``load_file`` per
  file;
* ``run_directory_combined`` — one scan per distinct header over a whole
  directory;
* ``streaming.pipeline.process_microbatch`` — whatever files arrived in a
  micro-batch.

The core has two levels. ``_load_valid`` is the single-batch load: dim
upsert → broadcast city resolve → ``_append_fact``, the only route to the
fact table. ``_load_files`` is the multi-file load the last two drivers
call: per-file reject sink, union of the header groups, ``_load_valid``
with ``group_col="source_file"``, and the per-file audit rows from one
groupBy joined to the append's per-file counts.

``run_batch`` keeps its loop rather than calling ``_load_files``: the
reference's audit contract is one row per (run, file) with its own run_id
and start time (scr/etl_batch.py:132,156-163), and the multi-file load's
group-column window and per-file count checkpoint cost more jobs than
dropping the loop saves on small files.

Per-file cost: the loop's wall is the fixed cost of each Spark action, so
``run_batch`` runs only the jobs a file needs. The header is read on the
driver, one scan fills a persisted annotated frame, and one aggregate over
it gives the valid and reject counts. A file without valid rows (no
``ciudad`` column, all rejects, header only) then writes its reject CSV
and audit row: 5 jobs. A file with valid rows adds the dim upsert, key
resolution and fact append, whose surrogate-id bases are broadcast
aggregates inside their write plans: 15-19 jobs, since AQE runs each
shuffle and broadcast stage as a job of its own. The benchmark's
``etl_files`` drops average 11 jobs per file. No action on this path
starts a Python worker (CLAUDE.md: no Python-list ``createDataFrame``).
"""

from __future__ import annotations

import shutil
from dataclasses import dataclass, field
from datetime import datetime, timezone
from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_python_sqlite_spark.functions.normalize import sanitize_token
from etl_python_sqlite_spark.operators.idempotent import (
    idempotent_append,
    read_or_empty,
    upsert_dimension,
)
from etl_python_sqlite_spark.operators.transform import (
    annotate_rejections,
    split_rejections,
    transform_with_rejections,  # noqa: F401  (re-exported public name)
)
from etl_python_sqlite_spark.sources.csv import list_csv_files, read_csv_all_string

FACT_SCHEMA = T.StructType(
    [
        T.StructField("persona_id", T.LongType(), True),
        T.StructField("nombre", T.StringType(), False),
        T.StructField("edad", T.IntegerType(), False),
        T.StructField("ciudad_id", T.LongType(), False),
        T.StructField("processed_at", T.StringType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("started_at", T.StringType(), False),
        T.StructField("source_file", T.StringType(), False),
        T.StructField("valid_count", T.LongType(), False),
        T.StructField("rejected_count", T.LongType(), False),
        T.StructField("inserted_new", T.LongType(), False),
        T.StructField("ignored_duplicates", T.LongType(), False),
    ]
)

#: natural key = idempotency contract (UNIQUE(nombre,edad,ciudad_id),
#: reference scr/etl_batch.py:100)
FACT_NATURAL_KEY = ["nombre", "edad", "ciudad_id"]

MIGRATION_BACKFILL_TS = "1970-01-01T00:00:00Z"
MIGRATION_BACKFILL_RUN = "MIGRATION"


def _run_stamp(now: datetime | None) -> str:
    return (now or datetime.now(timezone.utc)).strftime("%Y%m%dT%H%M%S%fZ")


def make_run_id(source_file: str, now: datetime | None = None) -> str:
    """UTC µs timestamp + sanitized filename — reference scr/etl_batch.py:24-28.

    ``now`` injectable for deterministic tests.
    """
    safe = "".join(ch if ch.isalnum() else "_" for ch in source_file)
    return f"{_run_stamp(now)}_{safe}"


def _run_id_col(now: datetime) -> Column:
    """``make_run_id`` as a column over each row's ``source_file``."""
    return F.concat(F.lit(_run_stamp(now) + "_"), sanitize_token("source_file"))


@dataclass
class PipelineConfig:
    data_in: str
    data_rejected: str
    warehouse: str
    edad_min: int = 25
    #: catalog table name for the fact — when set, the warehouse default is
    #: the BUCKETED layout (``idempotent_append_bucketed``): the accumulated
    #: fact is bucketed by the natural key, so each batch's anti-join
    #: consumes the bucket layout with NO exchange over the target. This is
    #: the 100 TB path; the path-parquet layout (``fact_table=None``) stays
    #: as the zero-setup default for small warehouses.
    fact_table: str | None = None
    fact_buckets: int = 16
    #: which reference script's reject strings to reproduce byte-for-byte:
    #: "relational" (scr/etl_relational.py:30-92, granular per-failure
    #: messages) or "batch" (scr/etl_batch.py:48-64, whose single
    #: try/except collapses None/text/int failures into one message).
    message_style: str = "relational"

    @property
    def dim_path(self) -> str:
        return str(Path(self.warehouse) / "ciudades")

    @property
    def fact_path(self) -> str:
        return str(Path(self.warehouse) / "personas_limpias")

    @property
    def audit_path(self) -> str:
        return str(Path(self.warehouse) / "etl_runs")


def _append_fact(
    spark: SparkSession,
    cfg: PipelineConfig,
    batch: DataFrame,
    group_col: str | None = None,
    attempted: int | None = None,
):
    """Route a fact batch to the configured warehouse layout. persona_id
    continues after the fact's max (AUTOINCREMENT parity), computed inside
    the append's write plan."""
    if cfg.fact_table is not None:
        from etl_python_sqlite_spark.operators.idempotent import (
            idempotent_append_bucketed,
        )

        return idempotent_append_bucketed(
            spark,
            batch,
            cfg.fact_table,
            FACT_NATURAL_KEY,
            buckets=cfg.fact_buckets,
            target_schema=FACT_SCHEMA,
            id_col="persona_id",
            group_col=group_col,
            attempted=attempted,
        )
    return idempotent_append(
        spark,
        batch,
        cfg.fact_path,
        FACT_NATURAL_KEY,
        target_schema=FACT_SCHEMA,
        id_col="persona_id",
        group_col=group_col,
        attempted=attempted,
    )


@dataclass
class FileRunResult:
    source_file: str
    run_id: str
    valid_count: int
    rejected_count: int
    inserted_new: int
    ignored_duplicates: int


@dataclass
class BatchResult:
    files: list[FileRunResult] = field(default_factory=list)


def write_rejects_csv(rejects: DataFrame, out_path: str | Path, count: int) -> None:
    """Reject sink: header CSV, raw columns + motivo — reference
    scr/etl_relational.py:97-102. ``count`` is the number of rejects, which
    the caller knows from its counting aggregate; no file when it is 0.

    Written as a single CSV file (coalesce(1)) for reference parity —
    rejects are a small fraction by contract; at scale drop the coalesce
    and write a directory.
    """
    if not count:
        return
    tmp = str(out_path) + "._spark_tmp"
    (
        rejects.coalesce(1)
        .write.mode("overwrite")
        .option("header", True)
        # Spark's CSV WRITER strips cell whitespace by default; the reference
        # writes the original raw values verbatim (scr/etl_relational.py:97-102)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(tmp)
    )
    part = next(Path(tmp).glob("part-*.csv"))
    Path(out_path).parent.mkdir(parents=True, exist_ok=True)
    shutil.move(str(part), str(out_path))
    shutil.rmtree(tmp)


def write_rejects_csv_by_file(
    rejects: DataFrame, out_dir: str | Path, file_col: str = "source_file"
) -> None:
    """Reject sink for combined multi-file runs: ONE partitioned write
    produces every per-file ``rejected_<name>.csv`` (vs a driver loop of
    N jobs). ``partitionBy`` routes each source file's rows to its own
    directory; ``repartition(file_col)`` guarantees exactly one part file
    (hence exactly one CSV header) per source file. A file without
    rejects gets no directory, so no reject CSV, and needs no count.
    """
    out_dir = Path(out_dir)
    tmp = str(out_dir / "._spark_rejects_tmp")
    (
        rejects.repartition(F.col(file_col))
        .write.mode("overwrite")
        .option("header", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .partitionBy(file_col)
        .csv(tmp)
    )
    from urllib.parse import unquote

    for d in Path(tmp).glob(f"{file_col}=*"):
        fname = unquote(d.name.split("=", 1)[1])
        part = next(d.glob("part-*.csv"))
        shutil.move(str(part), str(out_dir / f"rejected_{fname}"))
    shutil.rmtree(tmp)


def _one_row(spark: SparkSession, schema: T.StructType, values: tuple) -> DataFrame:
    """A one-row frame of literals over a one-partition Range: planned and
    run in the JVM. A Python-list ``createDataFrame`` would scan a PythonRDD
    and fork Python workers on every action."""
    return spark.range(0, 1, 1, 1).select(
        *[F.lit(v).cast(f.dataType).alias(f.name) for f, v in zip(schema.fields, values)]
    )


def _load_valid(
    spark: SparkSession,
    cfg: PipelineConfig,
    valid: DataFrame,
    run_id: Column,
    processed_at: str,
    group_col: str | None = None,
    attempted: int | None = None,
):
    """The single-batch load: dim upsert (set-based J3) → broadcast city
    resolve → ``_append_fact``. ``valid`` holds ``nombre, edad, ciudad``
    (``split_rejections``) plus ``group_col`` when given; ``attempted`` is
    its row count when the caller knows it. Returns the AppendResult."""
    dim = upsert_dimension(
        spark, valid.select(F.col("ciudad").alias("nombre")), cfg.dim_path
    )
    resolved = valid.join(
        F.broadcast(dim), valid.ciudad == dim.nombre, "inner"
    ).select(
        valid.nombre,
        valid.edad.cast("int").alias("edad"),
        dim.ciudad_id,
        *([valid[group_col]] if group_col else []),
    )
    batch = (
        resolved.withColumn("processed_at", F.lit(processed_at))
        .withColumn("run_id", run_id)
    )
    # every valid row resolves its city, so the batch has ``attempted``
    # rows; persona_id is assigned AFTER the anti-join so IGNOREd
    # duplicates don't consume ids (dense like SQLite AUTOINCREMENT)
    return _append_fact(spark, cfg, batch, group_col=group_col, attempted=attempted)


def _valid_reject_counts() -> list[Column]:
    """Valid and reject row counts of an annotated frame (``motivo`` NULL
    = valid), for one aggregate."""
    return [
        F.count(F.when(F.col("motivo").isNull(), 1)).alias("valid_count"),
        F.count("motivo").alias("rejected_count"),
    ]


def load_file(
    spark: SparkSession,
    cfg: PipelineConfig,
    valid: DataFrame,
    source_file: str,
    valid_count: int,
    rejected_count: int,
    now: datetime | None = None,
) -> FileRunResult:
    """Load one file's valid rows — reference ``load_batch``
    (scr/etl_batch.py:123-168), set-based.

    ``valid`` (``valid_count`` rows) should be cheap to re-read, such as a
    filter of a persisted frame: the dim upsert, the key resolution and the
    append each read it. A file with no valid rows runs no dim, id or fact
    job, only its audit row.
    """
    now = now or datetime.now(timezone.utc)
    run_id = make_run_id(source_file, now)
    started_at = now.isoformat()

    inserted = ignored = 0
    if valid_count:
        res = _load_valid(
            spark, cfg, valid, F.lit(run_id), started_at, attempted=valid_count
        )
        inserted, ignored = res.inserted_new, res.ignored_duplicates

    audit_row = (
        run_id, started_at, source_file, valid_count, rejected_count, inserted, ignored,
    )
    _one_row(spark, AUDIT_SCHEMA, audit_row).write.mode("append").parquet(cfg.audit_path)
    return FileRunResult(
        source_file=source_file,
        run_id=run_id,
        valid_count=valid_count,
        rejected_count=rejected_count,
        inserted_new=inserted,
        ignored_duplicates=ignored,
    )


def run_batch(
    spark: SparkSession, cfg: PipelineConfig, now: datetime | None = None
) -> BatchResult:
    """Process every CSV in ``cfg.data_in`` — reference ``etl_batch.main()``
    (scr/etl_batch.py:174-199).

    Per file: one CSV scan into a persisted annotated frame, whose one
    aggregate gives the valid and reject counts, then only the writes the
    file needs (job counts in the module docstring).
    """
    result = BatchResult()
    for csv_file in list_csv_files(cfg.data_in):
        raw = read_csv_all_string(spark, csv_file)
        ann = annotate_rejections(
            raw, edad_min=cfg.edad_min, message_style=cfg.message_style
        ).persist()
        try:
            n_valid, n_rejects = ann.agg(*_valid_reject_counts()).first()
            valid, rejects = split_rejections(ann)
            write_rejects_csv(
                rejects, Path(cfg.data_rejected) / f"rejected_{csv_file.name}", n_rejects
            )
            result.files.append(
                load_file(spark, cfg, valid, csv_file.name, n_valid, n_rejects, now=now)
            )
        finally:
            ann.unpersist()
    return result


# ---------------------------------------------------------------------------
# Schema introspection + migration (S7/S8)
# ---------------------------------------------------------------------------

def table_has_column(spark: SparkSession, path: str, col: str) -> bool:
    """PRAGMA table_info parity — reference scr/etl_incremental_audit.py:106-109."""
    try:
        return col in spark.read.parquet(path).columns
    except Exception:
        return False


def migrate_fact_if_needed(spark: SparkSession, fact_path: str) -> bool:
    """Add lineage columns to a legacy fact table, backfilling
    ``1970-01-01T00:00:00Z`` / ``MIGRATION`` — reference
    scr/etl_incremental_audit.py:112-155 (create-copy-drop-rename, here a
    rewrite + atomic directory swap). Returns True if migration ran.
    """
    if not Path(fact_path).exists():
        return False
    old = spark.read.parquet(fact_path)
    if "processed_at" in old.columns and "run_id" in old.columns:
        return False

    migrated = old
    if "processed_at" not in old.columns:
        migrated = migrated.withColumn("processed_at", F.lit(MIGRATION_BACKFILL_TS))
    if "run_id" not in migrated.columns:
        migrated = migrated.withColumn("run_id", F.lit(MIGRATION_BACKFILL_RUN))
    migrated = migrated.select([f.name for f in FACT_SCHEMA.fields])

    tmp = fact_path + "._migrating"
    migrated.write.mode("overwrite").parquet(tmp)
    bak = fact_path + "._pre_migration"
    shutil.move(fact_path, bak)
    shutil.move(tmp, fact_path)
    shutil.rmtree(bak)
    return True


# ---------------------------------------------------------------------------
# Scale path: whole-directory combined run (single read, per-file metrics)
# ---------------------------------------------------------------------------

def run_directory_combined(
    spark: SparkSession, cfg: PipelineConfig, now: datetime | None = None
) -> DataFrame:
    """One multi-file scan with ``input_file_name()`` lineage: the scan,
    cascade, dim upsert and fact append each run ONCE over all files —
    per-file audit metrics come from a groupBy(source_file) instead of a
    driver loop. This is the 1000-executor-shaped version of
    ``run_batch``; run_id embeds the file name per the reference contract.

    One scan per distinct header, each binding columns by its own header
    and tagging its own missing required columns; the load is
    ``_load_files``. Returns the whole audit table (``etl_runs``), earlier
    runs included.
    """
    from etl_python_sqlite_spark.sources.csv import read_csv_directory

    raws = read_csv_directory(spark, list_csv_files(cfg.data_in))
    if raws:
        _load_files(spark, cfg, raws, now)
    return read_or_empty(spark, cfg.audit_path, AUDIT_SCHEMA)


def _load_files(
    spark: SparkSession,
    cfg: PipelineConfig,
    raws: list[DataFrame],
    now: datetime | None,
) -> None:
    """The multi-file load: ``raws`` are all-string frames with a
    ``source_file`` column, one per header. Each is annotated and
    persisted (it feeds its reject sink, the load and the audit counts)
    and its rejects go to one ``rejected_<file>.csv`` per source file,
    keeping its own columns. The union of their normalized columns is
    loaded by ``_load_valid`` with ``group_col="source_file"``, so
    ``inserted_new`` / ``ignored_duplicates`` are counted PER FILE from
    the anti-join survivors, not stamped batch-global onto every row.
    One audit row per file is appended to ``etl_runs``.
    """
    now = now or datetime.now(timezone.utc)
    started_at = now.isoformat()
    run_id = _run_id_col(now)
    groups = [
        annotate_rejections(
            raw, edad_min=cfg.edad_min, message_style=cfg.message_style
        ).persist()
        for raw in raws
    ]
    try:
        for g in groups:
            write_rejects_csv_by_file(split_rejections(g)[1], cfg.data_rejected)
        ann = reduce(
            DataFrame.unionByName,
            (g.select("source_file", "motivo", "nombre_norm", "ciudad_norm", "edad_int")
             for g in groups),
        )
        valid = split_rejections(ann, keep=("source_file",))[0]
        res = _load_valid(spark, cfg, valid, run_id, started_at, group_col="source_file")

        # per_group is already a tiny DISTRIBUTED frame — join it straight
        # into the audit, no driver round trip
        audit = (
            ann.groupBy("source_file")
            .agg(*_valid_reject_counts())
            .join(F.broadcast(res.per_group), on="source_file", how="left")
            .select(
                run_id.alias("run_id"),
                F.lit(started_at).alias("started_at"),
                "source_file",
                "valid_count",
                "rejected_count",
                # a file without valid rows has no per_group row
                *[
                    F.coalesce(c, F.lit(0)).alias(c)
                    for c in ("inserted_new", "ignored_duplicates")
                ],
            )
        )
        audit.write.mode("append").parquet(cfg.audit_path)
    finally:
        for g in groups:
            g.unpersist()
