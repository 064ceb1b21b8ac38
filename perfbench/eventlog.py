"""Readers for what a traced run leaves on disk.

- The Spark event log, written uncompressed (``spark.eventLog.compress=false``;
  the default zstd codec needs a Python module this host lacks). Every
  ``SparkListenerTaskEnd`` is attributed to the job group of the stage it
  ran in, which ``SparkListenerStageSubmitted`` carries in its properties as
  ``spark.jobGroup.id``. Stage names under AQE are opaque, so the job group
  is the only reliable attribution.
- The ``lineage.jsonl`` that the checkpointed ``run_pipeline`` appends one
  line to per stage write: a timestamp and the written part files' bytes.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from dataclasses import dataclass, field

_MB = 1e6


@dataclass
class GroupStats:
    """Task totals of one job group."""

    tasks: int = 0
    failed_tasks: int = 0
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    # stage id -> task durations (ms), for the skew of the largest stage
    stage_task_ms: dict[int, list[int]] = field(default_factory=dict)

    @property
    def shuffle_mb(self) -> float:
        return self.shuffle_bytes / _MB

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / _MB

    def task_skew(self) -> float:
        """max / median task time in the stage holding the most task time."""
        if not self.stage_task_ms:
            return 0.0
        durations = max(self.stage_task_ms.values(), key=sum)
        median = statistics.median(durations)
        return max(durations) / median if median > 0 else 1.0


def event_files(log_dir: str) -> list[str]:
    """The event-log files under ``log_dir`` in write order.

    Handles both the rolling layout (``eventlog_v2_<app>/events_<n>_<app>``,
    the Spark 4 default) and a single file per application."""
    rolled, single = [], []
    for dirpath, _, names in os.walk(log_dir):
        for name in names:
            m = re.match(r"events_(\d+)_", name)
            if m:
                rolled.append((dirpath, int(m.group(1)), os.path.join(dirpath, name)))
            elif not name.startswith((".", "appstatus")):
                single.append(os.path.join(dirpath, name))
    return [p for *_, p in sorted(rolled)] + sorted(single)


def _events(log_dir: str):
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def read_groups(log_dir: str) -> dict[str, GroupStats]:
    """Aggregate task metrics per job group; tasks outside any group are
    filed under the empty string."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = {}
    for e in _events(log_dir):
        kind = e.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = e.get("Properties") or {}
            stage_group[e["Stage Info"]["Stage ID"]] = props.get("spark.jobGroup.id", "")
        elif kind == "SparkListenerTaskEnd":
            stage = e["Stage ID"]
            g = groups.setdefault(stage_group.get(stage, ""), GroupStats())
            info = e["Task Info"]
            ms = info["Finish Time"] - info["Launch Time"]
            g.tasks += 1
            g.task_s += ms / 1000
            g.stage_task_ms.setdefault(stage, []).append(ms)
            if e["Task End Reason"]["Reason"] != "Success":
                g.failed_tasks += 1
            metrics = e.get("Task Metrics") or {}
            g.gc_s += metrics.get("JVM GC Time", 0) / 1000
            g.spill_bytes += metrics.get("Disk Bytes Spilled", 0)
            g.shuffle_bytes += (metrics.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
    return groups


def read_lineage(out_dir: str) -> list[dict]:
    path = os.path.join(out_dir, "lineage.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def lineage_summary(entries: list[dict], stages: tuple[str, ...] | None = None) -> dict:
    """Written bytes and rows of the selected stages, and the gap between
    each lineage timestamp and the one before it (the first stage's gap is
    unknown and left out)."""
    chosen = [e for e in entries if stages is None or e["stage"] in stages]
    return {
        "write_mb": sum(p["bytes"] for e in chosen for p in e.get("partitions", ())) / _MB,
        "rows": sum(e.get("rows", 0) for e in chosen),
        "gaps_s": {
            cur["stage"]: round(cur["ts"] - prev["ts"], 3)
            for prev, cur in zip(entries, entries[1:])
        },
    }
