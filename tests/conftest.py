"""Shared fixtures: one SparkSession per test session, fixture paths.

Test-strategy parity with the reference (SURVEY.md §5): end-to-end
golden-output tests for wc/grep (same correct/*.txt bytes), operator
unit tests instead of socket message traces, and the DuckDB oracle as
the correctness backstop at sf0.001.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"
REF_TESTDATA = Path("/root/reference/tests/testdata")

needs_reference = pytest.mark.skipif(
    not REF_TESTDATA.exists(), reason="reference fixtures not present"
)


def group_contract_model(lines: list[str], n: int) -> list[str]:
    """The reference group stage in plain Python, as the texts of the
    ``n`` reduce inputs: distinct lines sorted by ``line + "\\n"`` (so
    ``"a\\tb"`` sorts before ``"a"``), the line ranked k routed to
    file ``k % n``, every copy of a line kept, each file sorted."""

    def key(line: str) -> str:
        return line + "\n"

    rank = {line: k for k, line in enumerate(sorted(set(lines), key=key))}
    return [
        "".join(key(line) for line in sorted(lines, key=key) if rank[line] % n == i)
        for i in range(n)
    ]


@pytest.fixture(scope="session")
def spark():
    if not Path(SF_SMOKE).exists():
        # Clean skip on machines without the driver-generated parquet —
        # otherwise every spark/duck test errors inside the engines and
        # buries real failures.
        pytest.skip(f"test fixtures not present at {SF_SMOKE}")
    from mapreduce_server_development_spark.session import get_spark

    spark = get_spark(app_name="pytest", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    if not Path(SF_SMOKE).exists():
        pytest.skip(f"test fixtures not present at {SF_SMOKE}")
    import duckdb

    from mapreduce_server_development_spark.oracle_compare import (
        register_duckdb_views,
    )

    con = duckdb.connect()
    register_duckdb_views(con, SF_SMOKE)
    yield con
    con.close()
