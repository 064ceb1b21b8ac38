"""Physical-plan assertions for tests and tuning.

The build brief's efficiency bar is plan-level: filters must reach the
parquet scan (PushedFilters), projections must prune the read schema
(ReadSchema), small dimensions must broadcast. These helpers parse
``explain("formatted")`` output so tests can assert it.

``spread`` reads the same plan statistics to repartition an input that is
estimated to arrive in fewer partitions than cores; the pipeline and
``brute_force_topk`` share it.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode="formatted")
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


def estimated_partitions(df: DataFrame) -> int:
    """Plan-side scan-parallelism estimate: Catalyst's sizeInBytes statistic
    over the session's maxPartitionBytes. Replaces df.rdd.getNumPartitions(),
    which instantiates the RDD lineage just to count — a needless analysis
    barrier under AQE. Only the 'is this input tiny relative to the cluster'
    decision rides on it, so the byte-based estimate is exactly as good:
    large inputs are never repartitioned, and mis-estimating a small input
    merely adds a cheap small-input shuffle (the intended behavior)."""
    spark = df.sparkSession
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    mpb = int(spark.conf.get("spark.sql.files.maxPartitionBytes", str(128 << 20)))
    return max(1, (size + mpb - 1) // mpb)


def spread(df: DataFrame, key: str, source: DataFrame | None = None) -> DataFrame:
    """Repartition ``df`` to the session's parallelism, keyed on the unique
    column ``key``, when ``source`` (default: ``df``) is estimated to arrive
    in fewer partitions than cores. A keyed hash repartition skips the
    round-robin path's sort-before-repartition (SPARK-23207) and spreads
    exactly as uniformly."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if estimated_partitions(df if source is None else source) < par:
        return df.repartition(par, key)
    return df
