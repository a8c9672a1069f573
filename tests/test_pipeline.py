"""End-to-end batch pipeline vs the reference's etl_batch.main() contract."""

from __future__ import annotations

import csv
from datetime import datetime, timezone
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from etl_python_sqlite_spark.pipeline import (
    AUDIT_SCHEMA,
    FACT_SCHEMA,
    PipelineConfig,
    make_run_id,
    migrate_fact_if_needed,
    run_batch,
    run_directory_combined,
)

DIRTY = [
    ["nombre", "edad", "ciudad"],
    ["  guillermo ", "26", "san luis"],
    ["NOEMI", "52", "SAN LUIS"],
    ["Naomi ", "23", " san juan"],
    ["Pedro", "error", "Querétaro"],
    ["sofia", "29", "san luis"],
]

CLEAN = [
    ["nombre", "edad", "ciudad"],
    ["Marta", "33", "Lima"],
    ["guillermo", "26", "San Luis"],   # post-normalization dupe of DIRTY row 1
]


def _write_csv(path: Path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with path.open("w", newline="", encoding="utf-8") as f:
        csv.writer(f).writerows(rows)


@pytest.fixture()
def cfg(tmp_path):
    c = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(Path(c.data_in) / "a_dirty.csv", DIRTY)
    _write_csv(Path(c.data_in) / "b_clean.csv", CLEAN)
    return c


NOW = datetime(2024, 6, 1, 12, 0, 0, tzinfo=timezone.utc)


def test_run_id_format():
    rid = make_run_id("archivo final.csv", NOW)
    assert rid == "20240601T120000000000Z_archivo_final_csv"


def test_batch_end_to_end(spark, cfg):
    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}

    a = by_file["a_dirty.csv"]
    assert (a.valid_count, a.rejected_count) == (3, 2)
    assert (a.inserted_new, a.ignored_duplicates) == (3, 0)

    b = by_file["b_clean.csv"]
    assert (b.valid_count, b.rejected_count) == (2, 0)
    # 'guillermo,26,San Luis' normalizes to the same natural key as the
    # dirty file's first row → ignored as cross-file duplicate
    assert (b.inserted_new, b.ignored_duplicates) == (1, 1)

    fact = spark.read.parquet(cfg.fact_path)
    assert fact.count() == 4
    # lineage columns attached
    assert {"processed_at", "run_id"} <= set(fact.columns)
    # AUTOINCREMENT parity: dense ids — IGNOREd duplicates consume none
    assert sorted(r["persona_id"] for r in fact.collect()) == [1, 2, 3, 4]

    # reject CSV written with motivo, one per dirty file only
    rej = Path(cfg.data_rejected)
    assert (rej / "rejected_a_dirty.csv").exists()
    assert not (rej / "rejected_b_clean.csv").exists()
    with (rej / "rejected_a_dirty.csv").open() as f:
        rows = list(csv.DictReader(f))
    assert {r["motivo"] for r in rows} == {"Edad < 25", "Edad no convertible a int"}
    # raw values preserved verbatim (incl. whitespace) like the reference
    naomi = next(r for r in rows if r["motivo"] == "Edad < 25")
    assert naomi["nombre"] == "Naomi " and naomi["ciudad"] == " san juan"

    # audit table: one row per file with the same metrics
    audit = {r["source_file"]: r for r in spark.read.parquet(cfg.audit_path).collect()}
    assert audit["a_dirty.csv"]["inserted_new"] == 3
    assert audit["b_clean.csv"]["ignored_duplicates"] == 1


def test_rerun_is_idempotent(spark, cfg):
    run_batch(spark, cfg, now=NOW)
    result2 = run_batch(spark, cfg, now=NOW)
    assert all(r.inserted_new == 0 for r in result2.files)
    assert all(r.ignored_duplicates == r.valid_count for r in result2.files)
    assert spark.read.parquet(cfg.fact_path).count() == 4
    # audit keeps appending: 2 files × 2 runs
    assert spark.read.parquet(cfg.audit_path).count() == 4


def test_dim_fact_join_roundtrip(spark, cfg):
    """The reference's validation join (scr/etl_relational.py:182-194)."""
    run_batch(spark, cfg, now=NOW)
    fact = spark.read.parquet(cfg.fact_path)
    dim = spark.read.parquet(cfg.dim_path)
    joined = (
        fact.join(F.broadcast(dim), "ciudad_id")
        .select("persona_id", fact.nombre, "edad", dim.nombre.alias("ciudad"))
        .orderBy("persona_id")
    )
    got = {(r["nombre"], r["edad"], r["ciudad"]) for r in joined.collect()}
    assert got == {
        ("Guillermo", 26, "San Luis"),
        ("Noemi", 52, "San Luis"),
        ("Sofia", 29, "San Luis"),
        ("Marta", 33, "Lima"),
    }


def test_migration_backfill(spark, tmp_path):
    """Legacy fact without lineage columns gains them with reference
    backfill values (scr/etl_incremental_audit.py:144-151)."""
    fact_path = str(tmp_path / "fact_legacy")
    legacy = spark.createDataFrame(
        [(1, "Ana", 30, 1)], "persona_id long, nombre string, edad int, ciudad_id long"
    )
    legacy.write.parquet(fact_path)

    assert migrate_fact_if_needed(spark, fact_path) is True
    migrated = spark.read.parquet(fact_path)
    row = migrated.first()
    assert row["processed_at"] == "1970-01-01T00:00:00Z"
    assert row["run_id"] == "MIGRATION"
    # idempotent: second call is a no-op
    assert migrate_fact_if_needed(spark, fact_path) is False


def test_combined_directory_run_matches_per_file(spark, cfg, tmp_path):
    """The scale-path single-scan variant produces the same warehouse state
    AND the same per-(run,file) audit/reject contract as the driver loop."""
    audit = run_directory_combined(spark, cfg, now=NOW)
    fact = spark.read.parquet(cfg.fact_path)
    assert fact.count() == 4
    rows = {r["source_file"]: r for r in audit.collect()}
    assert rows["a_dirty.csv"]["valid_count"] == 3
    assert rows["a_dirty.csv"]["rejected_count"] == 2
    assert rows["b_clean.csv"]["valid_count"] == 2

    # per-FILE insert accounting (not batch-global stamped on every row):
    # the cross-file duplicate resolves to the first file in sorted order
    a, b = rows["a_dirty.csv"], rows["b_clean.csv"]
    assert (a["inserted_new"], a["ignored_duplicates"]) == (3, 0)
    assert (b["inserted_new"], b["ignored_duplicates"]) == (1, 1)

    # rejects routed per source file, raw values verbatim
    rej = Path(cfg.data_rejected)
    assert (rej / "rejected_a_dirty.csv").exists()
    assert not (rej / "rejected_b_clean.csv").exists()
    with (rej / "rejected_a_dirty.csv").open() as f:
        rrows = list(csv.DictReader(f))
    assert {r["motivo"] for r in rrows} == {"Edad < 25", "Edad no convertible a int"}
    naomi = next(r for r in rrows if r["motivo"] == "Edad < 25")
    assert naomi["nombre"] == "Naomi " and naomi["ciudad"] == " san juan"


def test_bucketed_warehouse_run_batch_parity(spark, tmp_path):
    """fact_table set → the warehouse default is the bucketed catalog
    layout: same end state and audit metrics as the path layout, and the
    per-batch anti-join consumes the bucket layout (no Exchange over the
    accumulated fact)."""
    from pyspark.sql import functions as F

    spark.sql("DROP TABLE IF EXISTS personas_limpias_bt")
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rejected"),
        warehouse=str(tmp_path / "wh"),
        fact_table="personas_limpias_bt",
        fact_buckets=4,
    )
    _write_csv(Path(cfg.data_in) / "a_dirty.csv", DIRTY)
    _write_csv(Path(cfg.data_in) / "b_clean.csv", CLEAN)

    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}
    assert (by_file["a_dirty.csv"].inserted_new, by_file["a_dirty.csv"].ignored_duplicates) == (3, 0)
    assert (by_file["b_clean.csv"].inserted_new, by_file["b_clean.csv"].ignored_duplicates) == (1, 1)

    fact = spark.table(cfg.fact_table)
    assert fact.count() == 4
    assert sorted(r["persona_id"] for r in fact.collect()) == [1, 2, 3, 4]

    # idempotent re-run against the bucketed table
    result2 = run_batch(spark, cfg, now=NOW)
    assert all(r.inserted_new == 0 for r in result2.files)
    assert spark.table(cfg.fact_table).count() == 4

    # plan assertion: anti-join's TARGET side reads the bucket layout with
    # no Exchange — only the tiny probe batch shuffles
    probe = (
        spark.createDataFrame([("Zoe", 28, 1)], "nombre string, edad int, ciudad_id long")
        .hint("merge")
        .join(
            spark.table(cfg.fact_table).select("nombre"),
            on="nombre",
            how="left_anti",
        )
    )
    probe.collect()
    final_plan = (
        probe._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )
    assert "Bucketed: true" in final_plan
    assert final_plan.count("Exchange hashpartitioning") == 1, final_plan[:800]
    spark.sql("DROP TABLE IF EXISTS personas_limpias_bt")


def test_edge_empty_and_all_reject_files(spark, tmp_path):
    """Header-only files and 100%-reject files must flow through without
    errors, with correct audit metrics."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(Path(cfg.data_in) / "empty.csv", [["nombre", "edad", "ciudad"]])
    _write_csv(
        Path(cfg.data_in) / "allbad.csv",
        [["nombre", "edad", "ciudad"], ["A", "error", "X"], ["B", "12", "Y"]],
    )
    result = run_batch(spark, cfg, now=NOW)
    by_file = {r.source_file: r for r in result.files}
    assert (by_file["empty.csv"].valid_count, by_file["empty.csv"].rejected_count) == (0, 0)
    assert (by_file["allbad.csv"].valid_count, by_file["allbad.csv"].rejected_count) == (0, 2)
    assert by_file["allbad.csv"].inserted_new == 0
    # no fact table written at all (zero valid rows anywhere)
    import os
    assert not os.path.exists(cfg.fact_path)
    # audit has both rows regardless
    assert spark.read.parquet(cfg.audit_path).count() == 2


def test_edge_extra_columns_pass_through_to_rejects(spark, tmp_path):
    """Extra CSV columns survive into the reject file (reference keeps
    them via {**row}, scr/etl_batch.py:52)."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(
        Path(cfg.data_in) / "extra.csv",
        [["nombre", "edad", "ciudad", "nota"],
         ["Ana", "30", "Lima", "ok-row"],
         ["Eva", "error", "Quito", "bad-row"]],
    )
    run_batch(spark, cfg, now=NOW)
    with (Path(cfg.data_rejected) / "rejected_extra.csv").open() as f:
        rows = list(csv.DictReader(f))
    assert rows[0]["nota"] == "bad-row"
    assert rows[0]["motivo"] == "Edad no convertible a int"
    # valid row loaded normally
    assert spark.read.parquet(cfg.fact_path).count() == 1


def test_cli_main_end_to_end(spark, tmp_path):
    """`python -m etl_python_sqlite_spark` parity path: main() drives the
    same run_batch over a dirty CSV and reports the audit line."""
    import etl_python_sqlite_spark.__main__ as cli

    data_in = tmp_path / "in"
    data_in.mkdir()
    (data_in / "personas.csv").write_text(
        "nombre,edad,ciudad\nana,30,madrid\nbob,17,paris\ncarla,abc,roma\n"
    )
    # reuse the session the suite already has: main() creates via
    # getOrCreate, so it binds to the active session rather than a new JVM
    rc = cli.main(
        [
            "--data-in", str(data_in),
            "--data-rejected", str(tmp_path / "rej"),
            "--warehouse", str(tmp_path / "wh"),
        ]
    )
    assert rc == 0
    out = spark.read.parquet(str(tmp_path / "wh" / "personas_limpias"))
    assert out.count() == 1  # only ana survives (bob underage, carla bad int)


# ---------------------------------------------------------------------------
# Cost model of run_batch: Spark jobs per file, no Python workers
# ---------------------------------------------------------------------------

#: Spark jobs of a warm two-file drop (one regular file, one without
#: ``ciudad``) re-delivered into an existing warehouse, at the test
#: session's settings; AQE runs each shuffle and broadcast stage as a job
#: of its own. The per-action loop this replaced ran 42.
TWO_FILE_DROP_JOBS = 20


def _jobs_of(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` runs (status tracker; works with the
    UI off)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _two_file_drop(data_in: Path) -> None:
    _write_csv(data_in / "a_dirty.csv", DIRTY)
    _write_csv(data_in / "b_sin_ciudad.csv", [["nombre", "edad"], ["Bruno", "33"], ["Eva", "40"]])


def test_warm_two_file_drop_job_budget(spark, tmp_path):
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _two_file_drop(Path(cfg.data_in))
    run_batch(spark, cfg, now=NOW)  # warm-up; creates the warehouse
    assert _jobs_of(spark, lambda: run_batch(spark, cfg, now=NOW)) <= TWO_FILE_DROP_JOBS


def test_zero_valid_files_add_no_warehouse_parts(spark, tmp_path):
    """A file without valid rows (no ``ciudad`` column, all rejects, header
    only) writes its audit row and rejects, and no dim or fact file."""
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _write_csv(Path(cfg.data_in) / "a_dirty.csv", DIRTY)
    run_batch(spark, cfg, now=NOW)

    def parts():
        return sorted(
            str(p) for d in (cfg.dim_path, cfg.fact_path) for p in Path(d).glob("part-*")
        )

    before = parts()
    cfg.data_in = str(tmp_path / "in2")
    _write_csv(Path(cfg.data_in) / "b_sin_ciudad.csv", [["nombre", "edad"], ["Bruno", "33"]])
    _write_csv(Path(cfg.data_in) / "c_allbad.csv", [["nombre", "edad", "ciudad"], ["A", "x", "Lima"]])
    _write_csv(Path(cfg.data_in) / "d_empty.csv", [["nombre", "edad", "ciudad"]])
    result = run_batch(spark, cfg, now=NOW)
    assert [(r.valid_count, r.rejected_count, r.inserted_new) for r in result.files] == [
        (0, 1, 0), (0, 1, 0), (0, 0, 0),
    ]
    assert parts() == before
    assert spark.read.parquet(cfg.audit_path).count() == 4


def test_audit_row_frame_runs_in_the_jvm(spark):
    """The per-file audit row is a JVM-planned one-row frame: a Python-list
    ``createDataFrame`` scans an ExistingRDD over a PythonRDD, which forks
    Python workers on every action."""
    from etl_python_sqlite_spark.pipeline import _one_row

    values = ("rid", "2024-06-01T12:00:00+00:00", "a b.csv", 3, 2, 1, 2)
    df = _one_row(spark, AUDIT_SCHEMA, values)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    assert [f.dataType for f in df.schema.fields] == [f.dataType for f in AUDIT_SCHEMA.fields]
    assert df.columns == AUDIT_SCHEMA.fieldNames()
    assert tuple(df.first()) == values


def test_combined_run_matches_per_file_on_mixed_headers(spark, tmp_path):
    """run_directory_combined over a reordered header and a larger file
    without ``ciudad``, under names that need URI escaping: the same audit
    metrics, reject files and facts as run_batch."""
    data_in = tmp_path / "in"
    reordered = [[c, e, n] for n, e, c in DIRTY]  # ciudad, edad, nombre
    _write_csv(data_in / "a reordered+1%.csv", reordered)
    _write_csv(
        data_in / "b_sin_ciudad_\u00f1.csv",
        [["nombre", "edad"]] + [[f"P{i}", str(30 + i)] for i in range(40)],
    )

    def run(fn, name):
        cfg = PipelineConfig(
            data_in=str(data_in),
            data_rejected=str(tmp_path / f"rej_{name}"),
            warehouse=str(tmp_path / f"wh_{name}"),
        )
        fn(spark, cfg, now=NOW)
        audit = {
            r["source_file"]: (
                r["valid_count"], r["rejected_count"], r["inserted_new"], r["ignored_duplicates"],
            )
            for r in spark.read.parquet(cfg.audit_path).collect()
        }
        rejects = {}
        for p in Path(cfg.data_rejected).glob("rejected_*.csv"):
            with p.open(newline="", encoding="utf-8") as f:
                rows = list(csv.reader(f))
            rejects[p.name] = (rows[0], sorted(map(tuple, rows[1:])))
        fact = sorted(
            (r["nombre"], r["edad"]) for r in spark.read.parquet(cfg.fact_path).collect()
        )
        return audit, rejects, fact

    batch = run(run_batch, "batch")
    combined = run(run_directory_combined, "combined")
    assert combined == batch
    audit, rejects, fact = batch
    assert audit == {
        "a reordered+1%.csv": (3, 2, 3, 0),
        "b_sin_ciudad_\u00f1.csv": (0, 40, 0, 0),
    }
    assert set(rejects) == {"rejected_a reordered+1%.csv", "rejected_b_sin_ciudad_\u00f1.csv"}
    assert rejects["rejected_a reordered+1%.csv"][0] == ["ciudad", "edad", "nombre", "motivo"]
    assert fact == [("Guillermo", 26), ("Noemi", 52), ("Sofia", 29)]


# ---------------------------------------------------------------------------
# One load core: the combined and streaming drivers share the multi-file load
# ---------------------------------------------------------------------------

#: Spark jobs of the warm two-file drop above under run_directory_combined
#: (one header group per file), at the test session's settings. Before the
#: shared load core it ran 30: the reject sink collected a per-file reject
#: count that no caller read, two jobs per header group.
COMBINED_DROP_JOBS = 26

MICROBATCH_SCHEMA = "nombre string, edad string, ciudad string, source_file string"


def _microbatch(spark, files: dict[str, list[list[str]]]):
    """A static stand-in for a streaming micro-batch: the CSV rows of
    ``files`` (header first) in the stream's fixed three-column schema."""
    rows = [tuple(r) + (name,) for name, data in files.items() for r in data[1:]]
    return spark.createDataFrame(rows, MICROBATCH_SCHEMA)


def test_warm_two_file_drop_combined_job_budget(spark, tmp_path):
    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
    )
    _two_file_drop(Path(cfg.data_in))
    run_directory_combined(spark, cfg, now=NOW)  # warm-up; creates the warehouse
    jobs = _jobs_of(spark, lambda: run_directory_combined(spark, cfg, now=NOW))
    assert jobs <= COMBINED_DROP_JOBS


def test_microbatch_honours_fact_table(spark, tmp_path):
    """The streaming micro-batch loads into the configured warehouse
    layout: with ``fact_table`` set, the bucketed catalog table, and no
    path-layout fact."""
    import os

    from etl_python_sqlite_spark.streaming.pipeline import process_microbatch

    cfg = PipelineConfig(
        data_in=str(tmp_path / "in"),
        data_rejected=str(tmp_path / "rej"),
        warehouse=str(tmp_path / "wh"),
        fact_table="personas_limpias_mb",
        fact_buckets=4,
    )
    spark.sql(f"DROP TABLE IF EXISTS {cfg.fact_table}")
    batch = _microbatch(spark, {"a_dirty.csv": DIRTY, "b_clean.csv": CLEAN})
    try:
        process_microbatch(spark, cfg, batch, 0, now=NOW)
        fact = spark.table(cfg.fact_table).collect()
        assert sorted((r["persona_id"], r["nombre"], r["edad"]) for r in fact) == [
            (1, "Guillermo", 26), (2, "Marta", 33), (3, "Noemi", 52), (4, "Sofia", 29),
        ]
        assert not os.path.exists(cfg.fact_path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {cfg.fact_table}")


def test_microbatch_matches_combined_run(spark, tmp_path):
    """A micro-batch of two files (a cross-file duplicate, rejects) and
    run_directory_combined over the same two CSVs, at the same ``now``,
    leave identical audit rows (run_id included), reject file bytes,
    fact and dim rows."""
    from etl_python_sqlite_spark.streaming.pipeline import process_microbatch

    files = {"a_dirty.csv": DIRTY, "b_clean.csv": CLEAN}

    def run(name, load):
        cfg = PipelineConfig(
            data_in=str(tmp_path / "in"),
            data_rejected=str(tmp_path / f"rej_{name}"),
            warehouse=str(tmp_path / f"wh_{name}"),
        )
        load(cfg)

        def rows(path):
            return sorted(map(tuple, spark.read.parquet(path).collect()))

        rejects = {
            p.name: p.read_bytes() for p in Path(cfg.data_rejected).glob("rejected_*.csv")
        }
        return rows(cfg.audit_path), rejects, rows(cfg.fact_path), rows(cfg.dim_path)

    for name, data in files.items():
        _write_csv(tmp_path / "in" / name, data)
    combined = run("combined", lambda cfg: run_directory_combined(spark, cfg, now=NOW))
    streamed = run(
        "stream",
        lambda cfg: process_microbatch(spark, cfg, _microbatch(spark, files), 0, now=NOW),
    )
    assert streamed == combined
    audit, rejects, fact, _ = combined
    assert [(r[0], r[2], r[3:]) for r in audit] == [
        ("20240601T120000000000Z_a_dirty_csv", "a_dirty.csv", (3, 2, 3, 0)),
        ("20240601T120000000000Z_b_clean_csv", "b_clean.csv", (2, 0, 1, 1)),
    ]
    assert set(rejects) == {"rejected_a_dirty.csv"}
    assert len(fact) == 4
