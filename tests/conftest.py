"""Shared fixtures: one SparkSession per test run, DuckDB oracle helper."""

from __future__ import annotations

import math
import os
import sys
from datetime import datetime

import duckdb
import pytest
from hypothesis import settings

# Property tests draw the same examples on every run: a pass/fail gate
# must not depend on which inputs a random seed happens to produce.
settings.register_profile("deterministic", derandomize=True)
settings.load_profile("deterministic")

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMOKE = f"{TESTDATA}/sf0.001"
SF_CORRECT = f"{TESTDATA}/sf0.01"

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from etl_python_sqlite_spark.session import get_spark

    import tempfile

    s = get_spark(
        app_name="tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]",
        shuffle_partitions=8,
        extra_conf={
            # static conf: must be set at session creation (bucketing tests
            # saveAsTable into the warehouse)
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark-wh-"),
        },
    )
    yield s


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh DuckDB connection with the testdata tables as views (the
    driver pre-registers the same views)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _canon(v):
    """Canonicalize a cell for order-insensitive cross-engine compare."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # collapse -0.0 / 0.0 and float repr noise at the 9th decimal
        r = round(v, 9)
        return "0" if r == 0 else repr(r)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def compare_frames(spark_df, duck_rel, qname: str) -> None:
    """Mimic the driver gate: row count + column-name set + order-insensitive
    value multiset equality (columns sorted by name)."""
    sp = spark_df.toPandas()
    dk = duck_rel.fetchdf()
    assert sorted(sp.columns) == sorted(dk.columns), (
        f"{qname}: column mismatch {sorted(sp.columns)} vs {sorted(dk.columns)}"
    )
    cols = sorted(sp.columns)
    sp_rows = sorted(
        tuple(_canon(v) for v in row) for row in sp[cols].itertuples(index=False, name=None)
    )
    dk_rows = sorted(
        tuple(_canon(v) for v in row) for row in dk[cols].itertuples(index=False, name=None)
    )
    assert len(sp_rows) == len(dk_rows), (
        f"{qname}: row count {len(sp_rows)} vs {len(dk_rows)}"
    )
    if sp_rows != dk_rows:
        diffs = [
            (a, b) for a, b in zip(sp_rows, dk_rows) if a != b
        ][:5]
        raise AssertionError(f"{qname}: value mismatch, first diffs: {diffs}")
