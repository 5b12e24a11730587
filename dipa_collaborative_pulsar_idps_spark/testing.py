"""Local oracle-parity harness — mirrors the driver's t2 check.

For each declared query: run the Spark DataFrame and the DuckDB oracle SQL on
the same parquet tables, then compare row count, column-name set, and an
order-insensitive, round-off-tolerant canonical form of the values.
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
import math
import os
from dataclasses import dataclass

import duckdb
import pyarrow as pa
from pyspark.sql import DataFrame

from .tables import TABLE_NAMES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Connection with the driver's pre-registered table views."""
    con = duckdb.connect()
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


class _TsNs(int):
    """Marker: a timestamp as integer nanoseconds since epoch (the driver's
    comparison precision — NOT truncated to µs)."""


def _canon_ts_ns(ns: int) -> str:
    s, frac = divmod(int(ns), 1_000_000_000)
    base = _dt.datetime(1970, 1, 1) + _dt.timedelta(seconds=s)
    return base.isoformat(timespec="seconds") + f".{frac:09d}"


def _canon_cell(v) -> str:
    """Canonical string for one value: floats → 9 significant digits,
    timestamps → ISO at NANOSECOND precision (mirrors the driver, which
    compares via pandas/Arrow where parquet ns survives), NULL/NaN → '∅'."""
    if v is None:
        return "∅"
    if isinstance(v, _TsNs):
        return _canon_ts_ns(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == 0:
            return "0"
        return f"{v:.9e}"
    if isinstance(v, _decimal.Decimal):
        s = str(v)
        return s.rstrip("0").rstrip(".") if "." in s else s
    if isinstance(v, _dt.datetime):
        naive = v.replace(tzinfo=None)
        us = (naive - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
        return _canon_ts_ns(us * 1000)
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    return str(v)


_NS_MULT = {"s": 1_000_000_000, "ms": 1_000_000, "us": 1_000, "ns": 1}


def _oracle_rows_arrow(tbl: pa.Table) -> list[tuple]:
    """Extract oracle rows from Arrow, keeping timestamp columns at their
    native precision (ns under a TIMESTAMP_NS-capable DuckDB) instead of
    letting the Python client truncate them to µs datetimes."""
    cols: list[list] = []
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type):
            mult = _NS_MULT[col.type.unit]
            cols.append(
                [None if v is None else _TsNs(v * mult) for v in col.cast(pa.int64()).to_pylist()]
            )
        else:
            cols.append(col.to_pylist())
    if not cols:
        return []
    return list(zip(*cols))


def _canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_canon_cell(r[i]) for i in order) for r in rows)


@dataclass
class ParityResult:
    name: str
    ok: bool
    detail: str = ""


def compare_query(
    name: str,
    spark_df: DataFrame,
    con: duckdb.DuckDBPyConnection,
    oracle: str,
) -> ParityResult:
    s_rows = [tuple(r) for r in spark_df.collect()]
    s_cols = list(spark_df.columns)
    o_tbl = con.sql(oracle).arrow()
    o_cols = list(o_tbl.column_names)
    o_rows = _oracle_rows_arrow(o_tbl)

    if sorted(c.lower() for c in s_cols) != sorted(c.lower() for c in o_cols):
        return ParityResult(name, False, f"columns differ: spark={s_cols} oracle={o_cols}")
    if len(s_rows) != len(o_rows):
        return ParityResult(name, False, f"row count: spark={len(s_rows)} oracle={len(o_rows)}")
    sc = _canon_rows([c.lower() for c in s_cols], s_rows)
    oc = _canon_rows([c.lower() for c in o_cols], o_rows)
    if sc != oc:
        diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
        return ParityResult(name, False, f"value mismatch, first diffs: {diff}")
    return ParityResult(name, True, f"{len(s_rows)} rows")
