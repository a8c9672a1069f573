"""Write the expected query results the benchmark checks against.

    python3 perfbench/make_expected.py

Runs the DuckDB twin of every declared query (``__spark_entry__.oracle_sql()``)
over each parquet copy in ``perfbench/data`` and stores, per query, the
column names, row count and a digest of the canonical sorted rows (the
canonicalisation of ``tests/conftest.compare_frames``) in
``perfbench/expected/<sf>.json``. Run it again only when the data copy or
the oracle SQL changes.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def main() -> int:
    sys.path[:0] = [str(HERE), str(ROOT)]
    import __spark_entry__
    from tests.conftest import duck_con

    from run import QUERY_SF, digest_frame

    oracle = __spark_entry__.oracle_sql()
    for sf in QUERY_SF.values():
        con = duck_con(str(HERE / "data" / sf))
        out = {name: digest_frame(con.sql(sql).fetchdf()) for name, sql in oracle.items()}
        path = HERE / "expected" / f"{sf}.json"
        path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
        print(f"{path.relative_to(ROOT)}: {len(out)} queries")
    return 0


if __name__ == "__main__":
    sys.exit(main())
