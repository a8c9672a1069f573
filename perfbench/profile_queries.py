"""Profile every declared query once cold and twice warm, one client.

    python3 perfbench/profile_queries.py [--sf sf0.01]

Runs all queries of ``__spark_entry__.queries()`` over the parquet copy in
``perfbench/data/<sf>`` in one session from ``session.get_spark()`` (the
benchmark's environment): a cold pass in declared order, then two warm
passes in the same order. Per query it records the family
(``plans.relational`` or ``plans.ext``), the wall of the whole execution and
of the build call ``fn(spark, sf_dir)`` alone, the jobs launched, the
persisted RDDs the cold execution left behind, and whether the cold result
matches the stored DuckDB twin digest. It writes
``perfbench/profile/<sf>.json``; ``run.select_queries`` picks the
``queries`` workload's set from that file.

    python3 perfbench/profile_queries.py --summary

compares, from the stored profile and without a session, the selected set
with all queries and with each family (the table in perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def summary(profile: dict, names: list[str]) -> dict:
    """What the profile says about a set of queries: cold and warm walls
    per query, the build call's share of the cold wall, the ``plans.ext``
    share of the cold and warm walls, warm-latency quartiles, how many
    queries build memos, and the memo saving (cold minus warm build time)
    as a share of the cold wall."""
    qs = [profile[n] for n in names]
    ext = [q for q in qs if q["family"] == "ext"]
    cold = sum(q["cold_s"] for q in qs)
    warm = sum(q["warm_median_s"] for q in qs)
    return {
        "queries": len(qs),
        "cold_s_per_query": cold / len(qs),
        "warm_s_per_query": warm / len(qs),
        "build_share_of_cold": sum(q["cold_build_s"] for q in qs) / cold,
        "ext_share_of_cold": sum(q["cold_s"] for q in ext) / cold,
        "ext_share_of_warm": sum(q["warm_median_s"] for q in ext) / warm,
        "warm_quartiles_s": statistics.quantiles([q["warm_median_s"] for q in qs], n=4),
        "memo_queries": sum(q["persisted_rdds"] > 0 for q in qs),
        "memo_saving_share_of_cold": sum(
            q["cold_build_s"] - statistics.median(q["warm_build_s"]) for q in qs
        ) / cold,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--sf", default="sf0.01")
    p.add_argument("--summary", action="store_true",
                   help="compare the selected set with the stored profile")
    args = p.parse_args(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    if args.summary:
        from run import select_queries

        profile = json.loads((HERE / "profile" / f"{args.sf}.json").read_text())["queries"]
        sets = {
            "all": list(profile),
            **{f: [n for n, q in profile.items() if q["family"] == f] for f in ("relational", "ext")},
            "selected": select_queries(profile),
        }
        for label, names in sets.items():
            print(label, json.dumps({k: v if isinstance(v, int) else (
                [round(x, 3) for x in v] if isinstance(v, list) else round(v, 3))
                for k, v in summary(profile, names).items()}))
        print("selected:", " ".join(sets["selected"]))
        return 0
    import __spark_entry__
    from etl_python_sqlite_spark import session

    from run import digest_frame, prepare_env, _stop

    cores = len(os.sched_getaffinity(0))
    prepare_env(cores)
    sf_dir = str(HERE / "data" / args.sf)
    expected = json.loads((HERE / "expected" / f"{args.sf}.json").read_text())
    qs = __spark_entry__.queries()
    spark = session.get_spark()
    sc = spark.sparkContext
    out = {
        name: {"family": fn.__module__.rsplit(".", 1)[-1], "warm_s": [], "warm_build_s": []}
        for name, fn in qs.items()
    }

    def execute(name: str, group: str):
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t1 = time.perf_counter()
        pdf = df.toPandas()
        t2 = time.perf_counter()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return pdf, t2 - t0, t1 - t0, jobs

    try:
        spark.range(1).count()
        for name in qs:
            before = sc._jsc.getPersistentRDDs().size()
            try:
                pdf, wall, build, jobs = execute(name, f"cold-{name}")
            except Exception as exc:
                print(f"{name} raised {exc!r}", file=sys.stderr)
                out[name]["error"] = repr(exc)[:300]
                continue
            out[name].update(
                cold_s=wall, cold_build_s=build, cold_jobs=jobs,
                persisted_rdds=sc._jsc.getPersistentRDDs().size() - before,
                matches_twin=digest_frame(pdf) == expected.get(name),
            )
        for k in range(2):
            for name in qs:
                if "error" in out[name]:
                    continue
                _, wall, build, jobs = execute(name, f"warm{k}-{name}")
                out[name]["warm_s"].append(wall)
                out[name]["warm_build_s"].append(build)
                out[name]["warm_jobs"] = jobs
    finally:
        _stop(spark)

    for q in out.values():
        if q["warm_s"]:
            q["warm_median_s"] = statistics.median(q["warm_s"])
    path = HERE / "profile" / f"{args.sf}.json"
    path.parent.mkdir(exist_ok=True)
    record = {"sf": args.sf, "cores": cores, "queries": out}
    path.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"{path.relative_to(ROOT)}: {len(out)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
