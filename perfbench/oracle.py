"""Exact, order-insensitive comparison of a Spark result with its DuckDB oracle.

Cells are normalized the way the project's oracle-parity tests do it (floats
by `repr`, timestamps by ISO format, lists element-wise), columns are matched
by lower-cased name, and rows are compared as sorted tuples.
"""

from __future__ import annotations

import datetime
import math

import duckdb

from docling_api_spark.tables import TABLE_NAMES


def _norm(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, int):
        return repr(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return str(v)


def canonical_rows(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Sorted column names and the rows projected onto them, normalized and sorted."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=cols.__getitem__)
    return (
        [cols[i] for i in order],
        sorted(tuple(_norm(row[i]) for i in order) for row in rows),
    )


class Oracle:
    """DuckDB views over one directory of generated tables."""

    def __init__(self, sf_dir: str):
        self.con = duckdb.connect()
        for t in TABLE_NAMES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def expected(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return canonical_rows(rel.columns, rel.fetchall())

    def close(self) -> None:
        self.con.close()


def mismatch(expected: tuple[list[str], list[tuple]], df) -> str | None:
    """None when `df` equals the expected canonical result, else a reason."""
    cols, rows = canonical_rows(df.columns, df.collect())
    if cols != expected[0]:
        return f"columns {cols} != {expected[0]}"
    if len(rows) != len(expected[1]):
        return f"{len(rows)} rows != {len(expected[1])}"
    bad = sum(a != b for a, b in zip(rows, expected[1]))
    return f"{bad} rows differ" if bad else None
