"""Repository benchmark: the ETL pipeline in two shapes and a query set.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. Workloads (closed loops, one process):

* ``etl_files`` - ``pipeline.run_batch`` (one audit row and run_id per
  file) loads drops A, B and C (``etlgen.py``) into a fresh warehouse, one
  client;
* ``etl_bulk`` - ``pipeline.run_directory_combined`` on drops of fewer,
  larger files, one client (runnable by name; BENCHMARK.json leaves it out,
  see perfbench/README.md);
* ``queries`` - a fixed set of declared queries from ``plans.relational``
  and ``plans.ext``, a stratified sample of the per-query profile in
  ``perfbench/profile`` (``select_queries``), over the parquet copy in
  ``perfbench/data``: a cold pass with one client in the fresh session,
  then warm repetitions of the set that ``nproc`` clients take query by
  query from one shared list, in the same order on every seed.

Every run checks outputs: each ETL file's audit row and reject reasons and
the final fact and dimension tables against the plain-Python oracle in
``etlgen.py``, and the result of every query execution, cold and warm,
against the DuckDB twin results stored in ``perfbench/expected``. A file or
query execution that raises or differs is a failed op.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it gives the
workload's own named metrics. Scratch data, per-run records and traces go
to ``.perfbench-work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench-work"

ETL_SIZES = {  # (files per drop, data rows per regular file)
    "etl_files": {"full": (2, 500), "tiny": (2, 100)},
    "etl_bulk": {"full": (3, 20000), "tiny": (2, 400)},
}
#: one ETL cycle (drops A, B, C in a fresh warehouse) per this many
#: seconds of ``--seconds``, at least one. A fixed count: the first cycle
#: runs in a cold JVM, so a count that followed the clock would mix cold
#: and warm cycles differently from run to run.
ETL_CYCLE_S = 30
#: queries per plan family (``plans.relational``, ``plans.ext``) in the
#: ``queries`` workload, picked by ``select_queries`` from the committed
#: per-query profile ``profile/sf0.01.json``
QUERIES_PER_FAMILY = 6
QUERY_SF = {"full": "sf0.01", "tiny": "sf0.001"}
#: one warm repetition of the query set per this many seconds of
#: ``--seconds``, at least one: a fixed amount of work per run, so counts
#: and memory compare across runs
QUERY_PASS_S = 10
#: seeds the shuffle of the warm repetitions, fixed (see ``run_queries``)
WARM_ORDER_SEED = 0
WORKLOADS = (*ETL_SIZES, "queries")

END_TO_END_UNITS = {
    "setup_s": "s", "cold_s": "s", "warm_p50_s": "s", "ops_per_min": "1/min",
}
PER_LAYER_UNITS = {
    "session.get_spark_s": "s", "sources.csv.read_s": "s",
    "sources.scan_input_mb": "MB/op", "pipeline.jobs_per_file": "count",
    "pipeline.reject_sink_s": "s", "pipeline.load_file_self_s": "s",
    "idempotent.upsert_dimension_s": "s", "idempotent.append_s": "s",
    "idempotent.rows_examined_per_attempted_row": "ratio",
    "warehouse.fact_files": "count", "plans.build_cold_s": "s",
    "plans.build_warm_s": "s/pass", "plans.build_jobs": "count",
    "plans.catalyst_s": "s/pass", "exec.jobs": "count/op",
    "exec.stages": "count/op", "exec.tasks": "count/op",
    "exec.empty_tasks": "count/op", "exec.cpu_s": "s/op", "exec.gc_s": "s/op",
    "exec.shuffle_write_mb": "MB/op", "exec.spill_mb": "MB/op",
    "exec.output_mb": "MB/op", "exec.busy_frac": "ratio",
    "cache.live_rdds": "count",
}


def _since_process_start() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf(
        "SC_CLK_TCK"
    )


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for process {pid}")


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile (q in [0, 1]) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, round(q * len(s) + 0.5) - 1))]


def _latency_quantiles(values: list[float]) -> dict[str, float]:
    """p50, and p90 when at least 100 samples back it, else the highest
    whole percentile that leaves at least ten samples beyond it; keyed
    ``query_p<q>_s``."""
    out = {"query_p50_s": _quantile(values, 0.5)}
    n = len(values)
    q = 90 if n >= 100 else 100 * (n - 10) // n
    if q > 50:
        out[f"query_p{q}_s"] = _quantile(values, q / 100)
    return out


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


# ---------------------------------------------------------------------------
# ETL workloads
# ---------------------------------------------------------------------------


def _read_rejects(path: Path) -> Counter:
    import csv

    if not path.exists():
        return Counter()
    with open(path, newline="", encoding="utf-8") as fh:
        return Counter(
            (r["nombre"], r["edad"], r["motivo"]) for r in csv.DictReader(fh)
        )


def _read_table(path: str) -> list[dict]:
    """A warehouse table, read with pyarrow so that checks launch no jobs."""
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def _check_drop(cfg, expected, seen_runs: set) -> set[str]:
    """Names of the drop's files whose audit row or rejects differ."""
    new = [r for r in _read_table(cfg.audit_path) if r["run_id"] not in seen_runs]
    seen_runs.update(r["run_id"] for r in new)
    got = {
        r["source_file"]: (
            r["source_file"], r["valid_count"], r["rejected_count"],
            r["inserted_new"], r["ignored_duplicates"],
        )
        for r in new
    }
    bad = set()
    for e in expected:
        rej = _read_rejects(Path(cfg.data_rejected) / f"rejected_{e.source_file}")
        if got.get(e.source_file) != e.audit() or rej != e.rejects:
            bad.add(e.source_file)
    return bad


def _check_warehouse(cfg, oracle) -> bool:
    """Final fact and dimension tables hold the oracle's rows, each once;
    surrogate ids are unique and dense."""
    try:
        dim = _read_table(cfg.dim_path)
        fact = _read_table(cfg.fact_path)
    except (OSError, ValueError):  # missing or unreadable after a failed drop
        return False
    city = {r["ciudad_id"]: r["nombre"] for r in dim}

    def dense(ids):
        return sorted(ids) == list(range(1, len(ids) + 1))

    # multisets, so a city stored under two ids or a natural key stored
    # twice fails the check
    return (
        dense([r["ciudad_id"] for r in dim])
        and Counter(r["nombre"] for r in dim) == Counter(oracle.cities.keys())
        and dense([r["persona_id"] for r in fact])
        and Counter((r["nombre"], r["edad"], city.get(r["ciudad_id"])) for r in fact)
        == Counter(oracle.facts)
    )


def run_etl(spark, args, tracer) -> dict:
    from etl_python_sqlite_spark import pipeline

    from etlgen import DropSizes, Oracle, generate

    run = pipeline.run_batch if args.workload == "etl_files" else pipeline.run_directory_combined
    files, rows = ETL_SIZES[args.workload][args.size]
    base = WORK / "etl"
    shutil.rmtree(base, ignore_errors=True)
    drops = generate(args.seed, base / "in", DropSizes(files, rows))
    oracle = Oracle()
    expected = [oracle.load_drop(d) for d in drops]
    csv_files = [f for d in drops for f in d.glob("*.csv")]
    csv_rows = sum(len(f.read_text(encoding="utf-8").splitlines()) - 1 for f in csv_files)
    csv_bytes = sum(f.stat().st_size for f in csv_files)

    cycles, failed, live_rdds = [], 0, []
    jsc = spark.sparkContext._jsc
    for k in range(max(1, round(args.seconds / ETL_CYCLE_S))):
        walls, seen_runs, bad = [], set(), set()
        for name, d, exp in zip("abc", drops, expected):
            cfg = pipeline.PipelineConfig(
                data_in=str(d),
                data_rejected=str(base / f"rej{k}{name}"),
                warehouse=str(base / f"wh{k}"),
            )
            op = f"cycle{k}-{name}"
            t0 = time.perf_counter()
            try:
                with tracer.span("drop", op=op):
                    run(spark, cfg)
            except Exception as exc:  # a failing drop fails all its files
                walls.append(time.perf_counter() - t0)
                print(f"perfbench: {op} raised {exc!r}", file=sys.stderr)
                bad.update(f"{name}/{e.source_file}" for e in exp)
                continue
            walls.append(time.perf_counter() - t0)
            live_rdds.append(jsc.getPersistentRDDs().size())
            tracer.collect()
            bad.update(f"{name}/{f}" for f in _check_drop(cfg, exp, seen_runs))
        if not _check_warehouse(cfg, oracle):
            print(f"perfbench: cycle{k} warehouse differs from the oracle", file=sys.stderr)
            bad.update(f"{n}/{e.source_file}" for n, exp in zip("abc", expected) for e in exp)
        for f in sorted(bad):
            print(f"perfbench: cycle{k} file {f} differs from the oracle", file=sys.stderr)
        failed += len(bad)
        cycles.append(
            {
                "load_s": walls[0], "merge_s": walls[1], "replay_s": walls[2],
                "stored_bytes": sum(
                    _dir_bytes(Path(p)) for p in (cfg.dim_path, cfg.fact_path, cfg.audit_path)
                ),
                "fact_files": len(list(Path(cfg.fact_path).glob("part-*"))),
            }
        )

    def med(key):
        return statistics.median(c[key] for c in cycles)

    n_files = len(csv_files)
    cycle_s = statistics.median(c["load_s"] + c["merge_s"] + c["replay_s"] for c in cycles)
    return {
        "attempted": n_files * len(cycles),
        "failed": failed,
        "named": {
            "rows_per_s": (csv_rows / cycle_s, "rows/s"),
            "load_s": (med("load_s"), "s"),
            "merge_s": (med("merge_s"), "s"),
            "replay_s": (med("replay_s"), "s"),
            "stored_bytes_per_input_byte": (med("stored_bytes") / csv_bytes, "ratio"),
        },
        "end_to_end": {
            "cold_s": cycles[0]["load_s"],
            "warm_p50_s": statistics.median(
                w for c in cycles for w in (c["merge_s"], c["replay_s"])
            ),
            "ops_per_min": 60 * n_files / cycle_s,
        },
        "detail": {
            "cycles": cycles, "csv_rows": csv_rows, "csv_bytes": csv_bytes,
            "files_per_drop": files, "rows_per_file": rows, "work_s": cycle_s,
        },
        "op_wall": sum(c["load_s"] + c["merge_s"] + c["replay_s"] for c in cycles),
        "live_rdds": max(live_rdds, default=0),
    }


# ---------------------------------------------------------------------------
# Query workload
# ---------------------------------------------------------------------------


def digest_frame(pdf) -> dict:
    """Column names, row count and a digest of the sorted canonical rows,
    canonicalised as the test suite's oracle comparison
    (``tests/conftest.compare_frames``) does."""
    import hashlib

    from tests.conftest import _canon

    cols = sorted(pdf.columns)
    rows = sorted(
        tuple(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return {
        "columns": cols,
        "rows": len(rows),
        "sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
    }


def select_queries(profile: dict, per_family: int = QUERIES_PER_FAMILY) -> list[str]:
    """The ``queries`` workload's set: a stratified sample of the profile
    that ``profile_queries.py`` writes (the rule is in perfbench/README.md).

    Per family, the queries whose cold execution left persisted RDDs (memo
    builds) form one stratum and the rest another. The memo stratum gets
    slots in proportion to its share of the family's cold time, at least
    one. Within a stratum sorted by cold wall, each slot takes the query at
    the middle of its equal band of ranks."""
    picked = []
    for family in ("relational", "ext"):
        qs = {n: q for n, q in profile.items() if q["family"] == family}
        memo = sorted((n for n, q in qs.items() if q["persisted_rdds"] > 0),
                      key=lambda n: (qs[n]["cold_s"], n))
        plain = sorted((n for n, q in qs.items() if q["persisted_rdds"] == 0),
                       key=lambda n: (qs[n]["cold_s"], n))
        share = sum(qs[n]["cold_s"] for n in memo) / sum(q["cold_s"] for q in qs.values())
        n_memo = max(1, round(per_family * share))
        for stratum, slots in ((plain, per_family - n_memo), (memo, n_memo)):
            picked += [stratum[int((i + 0.5) * len(stratum) / slots)] for i in range(slots)]
    return picked


def _catalyst_s(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs() / 1e3
    return total


def run_queries(spark, args, tracer) -> dict:
    import __spark_entry__

    sf = QUERY_SF[args.size]
    sf_dir = str(HERE / "data" / sf)
    expected = json.loads((HERE / "expected" / f"{sf}.json").read_text())
    all_q = __spark_entry__.queries()
    profile = json.loads((HERE / "profile" / "sf0.01.json").read_text())["queries"]
    qs = {n: all_q[n] for n in select_queries(profile)}
    clients = len(os.sched_getaffinity(0))
    jsc = spark.sparkContext._jsc
    per_query = {n: {"cold_s": None, "warm_s": []} for n in qs}
    live_rdds, failed = [], 0
    collected, lock = [], threading.Lock()  # (collect span, DataFrame) pairs

    def execute(name: str, op: str, phase: str):
        """Build and collect one query; returns (frame, wall seconds)."""
        t0 = time.perf_counter()
        with tracer.span(f"plans.{name}", op=op, phase=phase):
            with tracer.span("plans.build", phase=phase):
                df = qs[name](spark, sf_dir)
            with tracer.span("plans.collect", phase=phase) as s:
                pdf = df.toPandas()
        if s is not None:  # read the plan phases later, off the clock
            with lock:
                collected.append((s, df))
        return pdf, time.perf_counter() - t0

    def read_catalyst():
        for s, df in collected:
            s.attrs["catalyst_s"] = _catalyst_s(df)
        collected.clear()

    for name in qs:  # cold pass, one client; results checked off the clock
        try:
            pdf, per_query[name]["cold_s"] = execute(name, f"cold-{name}", "cold")
        except Exception as exc:
            print(f"perfbench: {name} raised {exc!r}", file=sys.stderr)
            failed += 1
            continue
        if digest_frame(pdf) != expected[name]:
            print(f"perfbench: {name} differs from its DuckDB twin", file=sys.stderr)
            failed += 1
    cold_s = sum(q["cold_s"] or 0.0 for q in per_query.values())
    read_catalyst()
    tracer.collect()
    live_rdds.append(jsc.getPersistentRDDs().size())

    # warm phase: the set repeated a fixed number of times, each repetition
    # shuffled, drained by ``clients`` threads from one list. The order is
    # the same on every seed: which heavy queries overlap moves every
    # latency, and a seed-shuffled order widened the warm latency's spread
    # over seeds (perfbench/README.md).
    rng = random.Random(WARM_ORDER_SEED)
    repeats = max(1, round(args.seconds / QUERY_PASS_S))
    todo = []
    for _ in range(repeats):
        todo.extend(rng.sample(list(qs), len(qs)))
    todo.reverse()  # clients pop from the end
    lat, warm_frames = [], []

    def client():
        nonlocal failed
        while True:
            with lock:
                if not todo:
                    return
                k = len(todo)
                name = todo.pop()
            try:
                pdf, wall = execute(name, f"warm{k}-{name}", "warm")
            except Exception as exc:
                print(f"perfbench: {name} raised {exc!r}", file=sys.stderr)
                with lock:
                    failed += 1
                continue
            with lock:
                lat.append(wall)
                per_query[name]["warm_s"].append(wall)
                warm_frames.append((name, pdf))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    warm_wall = time.perf_counter() - t0
    for name, pdf in warm_frames:  # warm results, checked off the clock
        if digest_frame(pdf) != expected[name]:
            print(f"perfbench: warm {name} differs from its DuckDB twin", file=sys.stderr)
            failed += 1
    del warm_frames
    read_catalyst()
    tracer.collect()
    live_rdds.append(jsc.getPersistentRDDs().size())

    per_min = 60 * len(lat) / warm_wall
    return {
        "attempted": len(qs) * (1 + repeats),
        "failed": failed,
        "named": {
            "cold_s": (cold_s, "s"),
            "queries_per_min": (per_min, "1/min"),
            **{k: (v, "s") for k, v in (_latency_quantiles(lat) if lat else {}).items()},
            "query_samples": (len(lat), "count"),
        },
        "end_to_end": {
            "cold_s": cold_s,
            # with every warm execution failed, the whole warm phase
            "warm_p50_s": _quantile(lat, 0.5) if lat else warm_wall,
            "ops_per_min": per_min,
        },
        "detail": {
            "queries": list(qs), "sf": sf, "clients": clients, "repeats": repeats,
            "warm_wall_s": warm_wall, "live_rdds": live_rdds,
            "per_query": per_query, "work_s": cold_s + warm_wall,
        },
        "op_wall": cold_s + warm_wall,
        "live_rdds": max(live_rdds),
    }


# ---------------------------------------------------------------------------
# Traced run: wrappers and per-layer metrics
# ---------------------------------------------------------------------------


def install_wrappers(tracer) -> None:
    """Wrap the public functions of each layer in the namespace their
    callers look them up in. Before the session exists: ``get_spark`` is
    one of them."""
    from etl_python_sqlite_spark import pipeline, session
    from etl_python_sqlite_spark.operators import transform
    from etl_python_sqlite_spark.sources import csv as csv_source

    def attempted(span, res):
        span.attrs["attempted"] = res.attempted

    tracer.wrap(session, "get_spark", "session.get_spark")
    for name in ("run_batch", "run_directory_combined", "load_file",
                 "write_rejects_csv", "write_rejects_csv_by_file"):
        tracer.wrap(pipeline, name, f"pipeline.{name}")
    tracer.wrap(pipeline, "read_csv_all_string", "sources.csv.read_csv_all_string")
    tracer.wrap(csv_source, "read_csv_directory", "sources.csv.read_csv_directory")
    tracer.wrap(pipeline, "transform_with_rejections", "transform.transform_with_rejections")
    tracer.wrap(transform, "annotate_rejections", "transform.annotate_rejections")
    tracer.wrap(pipeline, "upsert_dimension", "idempotent.upsert_dimension")
    tracer.wrap(pipeline, "idempotent_append", "idempotent.idempotent_append", attempted)


def layer_metrics(tracer, res: dict, cores: int) -> dict:
    """The per-layer metrics of one traced run (see perfbench/README.md)."""
    from spans import EXEC_FIELDS

    spans = tracer.spans

    def named(prefix, phase=None):
        return [
            s for s in spans
            if s.name.startswith(prefix) and phase in (None, s.attrs.get("phase"))
        ]

    def wall(ss):
        return sum(s.wall for s in ss)

    def total(ss):
        incs = [tracer.inclusive(s) for s in ss]
        return {k: sum(i[k] for i in incs) for k in EXEC_FIELDS}

    ops = res["attempted"]
    tot = total(s for s in spans if s.parent is None and s.name != "session.get_spark")
    appends = named("idempotent.idempotent_append")
    app_rows = sum(s.attrs["attempted"] for s in appends)
    app = total(appends)
    repeats = res["detail"].get("repeats", 1)
    cycles = res["detail"].get("cycles")
    mb = 1e6
    return {
        "session.get_spark_s": wall(named("session.get_spark")),
        "sources.csv.read_s": wall(named("sources.csv.")),
        "sources.scan_input_mb": tot["input_bytes"] / mb / ops,
        "pipeline.jobs_per_file": total(named("pipeline.run_"))["jobs"] / ops,
        "pipeline.reject_sink_s": wall(named("pipeline.write_rejects_csv")),
        "pipeline.load_file_self_s": sum(tracer.self_time(s) for s in named("pipeline.load_file")),
        "idempotent.upsert_dimension_s": wall(named("idempotent.upsert_dimension")),
        "idempotent.append_s": wall(appends),
        "idempotent.rows_examined_per_attempted_row": (
            (app["input_records"] + app["shuffle_read_records"]) / app_rows if app_rows else 0
        ),
        "warehouse.fact_files": cycles[-1]["fact_files"] if cycles else 0,
        "plans.build_cold_s": wall(named("plans.build", "cold")),
        "plans.build_warm_s": wall(named("plans.build", "warm")) / repeats,
        "plans.build_jobs": total(named("plans.build", "cold"))["jobs"],
        "plans.catalyst_s": sum(
            s.attrs.get("catalyst_s", 0.0) for s in named("plans.collect", "warm")
        ) / repeats,
        "exec.jobs": tot["jobs"] / ops,
        "exec.stages": tot["stages"] / ops,
        "exec.tasks": tot["tasks"] / ops,
        "exec.empty_tasks": tot["empty_tasks"] / ops,
        "exec.cpu_s": tot["cpu_s"] / ops,
        "exec.gc_s": tot["gc_s"] / ops,
        "exec.shuffle_write_mb": tot["shuffle_write_bytes"] / mb / ops,
        "exec.spill_mb": tot["spill_bytes"] / mb / ops,
        "exec.output_mb": tot["output_bytes"] / mb / ops,
        "exec.busy_frac": tot["run_s"] / (res["op_wall"] * cores),
        "cache.live_rdds": res["live_rdds"],
    }


def _tracing_overhead(record: dict, tracer) -> dict:
    """The tracing cost: the time the timed regions spent opening and
    closing spans, measured directly, and the traced minus the untraced
    ``work_s`` of the same workload, size and seed, when that untraced
    record is in ``.perfbench-work``."""
    work = record["detail"]["work_s"]
    out = {
        "span_overhead_s": tracer.overhead_s,
        "span_overhead_frac": tracer.overhead_s / work,
        "traced_work_s": work,
    }
    same = WORK / f"{record['workload']}_{record['size']}_seed{record['seed']}.json"
    if not same.exists():
        out["note"] = f"no untraced run {same.name} to compare walls with"
        return out
    untraced = json.loads(same.read_text())["detail"]["work_s"]
    out.update(
        untraced_work_s=untraced, wall_overhead_s=work - untraced,
        wall_overhead_frac=(work - untraced) / untraced,
    )
    return out


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def _parse(argv) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("full", "tiny"), default="full",
        help="tiny: 2-file drops and sf0.001 queries, for the smoke test",
    )
    return p.parse_args(argv)


def prepare_env(cores: int) -> None:
    """Point the session at ``cores`` CPUs, and every scratch file of the
    JVM and its Python workers at ``.perfbench-work``, which becomes the
    working directory. No session setting changes."""
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        # python workers import the library; scratch stays in the checkout
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(WORK / "tmp"),
        SPARK_SUBMIT_OPTS=" ".join(filter(None, [
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        ])),
    )
    os.chdir(WORK)


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    # fail fast, before a JVM starts, when the checkout lacks the program
    from etl_python_sqlite_spark import session

    if args.workload == "queries":
        import __spark_entry__  # noqa: F401

    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)

    from spans import Tracer

    tracer = Tracer(enabled=bool(args.trace))
    if args.trace:
        install_wrappers(tracer)
    spark = session.get_spark()
    try:
        spark.range(1).count()
        setup_s = _since_process_start()
        tracer.attach(spark)
        runner = run_queries if args.workload == "queries" else run_etl
        res = runner(spark, args, tracer)
        peak_rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        _stop(spark)
    shutil.rmtree(WORK / "etl", ignore_errors=True)

    named = {
        "setup_s": (setup_s, "s"),
        "failed_frac": (res["failed"] / res["attempted"], "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        **res["named"],
    }
    record = {
        "workload": args.workload, "size": args.size, "seed": args.seed,
        "seconds": args.seconds, "attempted": res["attempted"], "failed": res["failed"],
        "named": named, "detail": res["detail"],
    }
    if args.trace:
        metrics, units = layer_metrics(tracer, res, cores), PER_LAYER_UNITS
        record["tracing_overhead"] = _tracing_overhead(record, tracer)
        record["per_layer"] = metrics
        record["spans"] = [tracer.record(s) for s in tracer.spans]
        (WORK / f"trace_{args.workload}.json").write_text(json.dumps(record))
        print(f"perfbench: tracing overhead {json.dumps(record['tracing_overhead'])}")
    else:
        metrics = {"setup_s": setup_s, **res["end_to_end"]}
        units = END_TO_END_UNITS
        stem = f"{args.workload}_{args.size}_seed{args.seed}"
        (WORK / f"{stem}.json").write_text(json.dumps(record))

    print("perfbench: " + json.dumps(
        {"workload": args.workload, "attempted": res["attempted"], "failed": res["failed"],
         **{k: {"value": v, "unit": u} for k, (v, u) in named.items()}}
    ))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
