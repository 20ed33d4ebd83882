"""Rebuild ``expected.json``: result digests of every query-workload query,
computed by the DuckDB oracle (``ORACLE`` SQL) on the fixture tables in
``data/`` and canonicalized like the engine's results.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import duckdb  # noqa: E402

import __spark_entry__  # noqa: E402
from perfbench.queries import EXPECTED, WORKLOADS, digest  # noqa: E402


def main() -> int:
    oracle = __spark_entry__.oracle_sql()
    out: dict[str, dict[str, str]] = {}
    for workload, (sf_dir, names) in WORKLOADS.items():
        con = duckdb.connect()
        for table in sf_dir.glob("*.parquet"):
            con.execute(f"CREATE VIEW {table.stem} AS "
                        f"SELECT * FROM read_parquet('{table}')")
        out[workload] = {}
        for name in names:
            res = con.sql(oracle[name])
            out[workload][name] = digest(res.fetchall(), res.columns)
            print(f"{workload} {name} {out[workload][name]}")
        con.close()
    EXPECTED.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
