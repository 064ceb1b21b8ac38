"""Physical-plan assertions for tests and tuning.

The build brief's efficiency bar is plan-level: filters must reach the
parquet scan (PushedFilters), projections must prune the read schema
(ReadSchema), small dimensions must broadcast. These helpers parse
``explain("formatted")`` output so tests can assert it.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def pushed_filters(df: DataFrame) -> list[str]:
    """All PushedFilters entries across scans in the plan."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        inner = m.group(1).strip()
        if inner:
            out.extend(s.strip() for s in inner.split(","))
    return out


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column sets read by each parquet scan (one string per scan)."""
    text = explain_str(df)
    return [m.group(1) for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text)]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df)


def partition_filters(df: DataFrame) -> list[str]:
    """PartitionFilters entries across scans — non-empty means the scan
    prunes hive-style partitions instead of reading them all."""
    text = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", text):
        inner = m.group(1).strip()
        if inner:
            out.extend(s.strip() for s in inner.split(","))
    return out


def has_single_partition_exchange(df: DataFrame) -> bool:
    """True when the plan funnels data through ONE task (Exchange
    SinglePartition) — the global-sort/global-window scale-killer pattern.
    Final single-row aggregates legitimately do this; scans, id assignment
    and sessionization must not."""
    return "Exchange SinglePartition" in explain_str(df)
