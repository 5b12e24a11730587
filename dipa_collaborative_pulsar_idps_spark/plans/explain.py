"""Plan-inspection helpers: make physical-plan quality testable.

The 100 TB contract is enforced here: filters reach the parquet scan,
small dims broadcast, hot paths stay in whole-stage codegen — asserted in
tests/test_plans.py, not just eyeballed.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_text(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Every *fragment* must appear in a PushedFilters entry of the scan."""
    txt = plan_text(df)
    pushed = [ln for ln in txt.splitlines() if "PushedFilters" in ln]
    joined = " ".join(pushed)
    for frag in fragments:
        assert frag in joined, f"filter {frag!r} not pushed to scan.\n{txt}"


def assert_broadcast_join(df: DataFrame, at_least: int = 1) -> None:
    txt = plan_text(df)
    n = txt.count("BroadcastHashJoin")
    assert n >= at_least, f"expected ≥{at_least} broadcast joins, saw {n}.\n{txt}"


def assert_no_python_udf(df: DataFrame) -> None:
    """Hot-path queries must stay JVM-side (no row-at-a-time Python)."""
    txt = plan_text(df)
    assert "BatchEvalPython" not in txt, f"row-at-a-time Python UDF in plan!\n{txt}"
