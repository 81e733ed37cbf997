"""Output check: every query's result against an independent DuckDB answer
over the same input directory.

Oracle-backed queries compare against the registry's ``oracle_sql()``.  The
streaming drains have no oracle; for the drain a workload runs, the
benchmark holds SQL for the columns that do not depend on micro-batch
arrival order.  Both sides are reduced with ``frame_fingerprint`` from
``tools/check.py`` (row count, column names and an order-insensitive value
hash).
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

_saved_path = list(sys.path)
from tools import check as _check  # noqa: E402  (pins its own repo path on import)

sys.path[:] = _saved_path

frame_fingerprint = _check.frame_fingerprint
TABLES = _check.TABLES

#: drain -> (SQL over the inputs, columns of the drain's output it checks)
STREAM_CHECKS: dict[str, tuple[str, tuple[str, ...]]] = {
    "streaming_available_now": (
        "SELECT event_type, count(*) AS uses, "
        "CAST(round(sum(CAST(value AS DECIMAL(28,4))), 2) AS DOUBLE) AS sum_value "
        "FROM events GROUP BY event_type",
        ("event_type", "uses", "sum_value"),
    ),
}


def fingerprint(name: str, df: pd.DataFrame) -> tuple:
    """Fingerprint of a query's output, restricted to the checked columns
    for the streaming drains."""
    if name in STREAM_CHECKS:
        df = df[list(STREAM_CHECKS[name][1])]
    return frame_fingerprint(df)


def expected(inputs: str, names: list[str], oracles: dict[str, str]) -> dict[str, tuple]:
    """DuckDB fingerprints of the right answers for ``names``."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
        out = {}
        for name in names:
            sql = oracles[name] if name in oracles else STREAM_CHECKS[name][0]
            out[name] = frame_fingerprint(con.execute(sql).fetchdf())
        return out
    finally:
        con.close()


def failures(actual: dict[str, tuple | None], want: dict[str, tuple]) -> list[str]:
    """Queries whose output fingerprint is missing (the query raised) or
    differs from the expected one."""
    return sorted(n for n in want if actual.get(n) != want[n])
