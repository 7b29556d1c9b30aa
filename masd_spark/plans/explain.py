"""Physical-plan inspection helpers.

Scale guarantees ("this filter reaches the scan", "this join broadcasts",
"this pipeline shuffles exactly once") rot silently as code evolves —
these helpers make them assertable in tests (tests/test_plans.py), the
same way correctness is asserted against the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Physical plan string. Before execution this is the initial plan
    (isFinalPlan=false); after an action, AQE's toString contains BOTH
    '== Final Plan ==' and '== Initial Plan ==' sections — keep only the
    final one so Exchange/scan counts aren't double-counted."""
    s = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in s and "== Initial Plan ==" in s:
        s = s.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return s


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast
    exchanges excluded — the cheap kind — and ReusedExchange excluded —
    a free reference to an exchange counted where it is defined)."""
    plan = physical_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line
        and "BroadcastExchange" not in line
        and "ReusedExchange" not in line
    )


def count_broadcast_joins(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet scan's PushedFilters bracket mentions
    ``fragment``. The match is scoped to the bracket contents: FileScan
    prints its output list, DataFilters, and PushedFilters on ONE line,
    so a bare substring search would be vacuously true for any column
    the scan merely READS.

    The bracket may be TRUNCATED: Spark cuts each metadata string at
    ``spark.sql.maxMetadataStringLength`` (default 100) with a ``...``
    and NO closing bracket, so the contents end at the first ``]`` or
    ``...`` — a close-bracket-anchored regex silently false-negatives
    on any filter list longer than the cap (session.py raises the cap,
    but a driver-provided session may keep the default)."""
    import re

    for m in re.finditer(
        r"PushedFilters: \[(.*?)(?:\]|\.\.\.)", physical_plan(df)
    ):
        if fragment in m.group(1):
            return True
    return False


def scan_read_schema(df: DataFrame) -> list[list[str]]:
    """Column lists of every parquet scan (pruning check). Parsed from the
    FileScan output list — plan strings truncate before ReadSchema.

    Raises on a truncated output list ('... N more fields', emitted once
    a scan exceeds spark.sql.debug.maxToStringFields, default 25): a
    silent partial parse would let a wide unpruned scan pass a
    'reads <= N columns' assertion.
    """
    import re

    out = []
    for m in re.finditer(r"FileScan parquet \[([^\]]*)\]", physical_plan(df)):
        if "more fields" in m.group(1):
            raise ValueError(
                "FileScan output list truncated by "
                "spark.sql.debug.maxToStringFields — raise that conf to "
                f"parse this scan: [{m.group(1)}]"
            )
        cols = [
            c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()
        ]
        out.append(cols)
    return out


def has_take_ordered(df: DataFrame) -> bool:
    """True if order-by+limit planned as TakeOrderedAndProject (per-
    partition heaps, no global sort)."""
    return "TakeOrderedAndProject" in physical_plan(df)
