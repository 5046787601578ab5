"""Formatted-explain parsing utilities for plan assertions."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries across all scans in the plan."""
    text = explain_formatted(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in each scan's ReadSchema (column-pruning check)."""
    text = explain_formatted(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        for field in m.group(1).split(","):
            name = field.split(":")[0].strip()
            if name:
                cols.append(name)
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_formatted(df) or "BroadcastNestedLoopJoin" in explain_formatted(df)

