"""Self-test of the benchmark's event-log and lineage readers.

    python3 perfbench/selftest.py

1. ``read_groups`` over a hand-written rolling event log: exact totals.
2. A small Spark run with the event log on: per job group, the task counts
   read from the log match Spark's own status tracker, shuffle bytes appear
   only where a shuffle ran, and a failing task is counted as failed. In the
   same session a tiny checkpointed ``run_pipeline`` runs, and
   ``lineage_summary`` must report its stages in order and the bytes of the
   part files on disk.

Prints ``perfbench selftest: ok`` and exits 0, or raises.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def _task_end(stage: int, ms: int, reason: str = "Success", **metrics) -> dict:
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task End Reason": {"Reason": reason},
        "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
        "Task Metrics": {
            "JVM GC Time": metrics.get("gc", 0),
            "Disk Bytes Spilled": metrics.get("spill", 0),
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("shuffle", 0)},
        },
    }


def check_synthetic_log(tmp: str) -> None:
    from eventlog import event_files, read_groups

    app = os.path.join(tmp, "eventlog_v2_local-1")
    os.makedirs(app)
    submit = lambda stage, group: {  # noqa: E731
        "Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": stage},
        "Properties": {"spark.jobGroup.id": group},
    }
    # rolled files are read in numeric order: events_2 before events_10
    files = {
        "events_2_local-1": [submit(0, "g"), _task_end(0, 100, gc=5, shuffle=2_000_000),
                             _task_end(0, 300, spill=1_000_000), submit(1, "h")],
        "events_10_local-1": [_task_end(0, 200), _task_end(1, 50, reason="ExceptionFailure"),
                              _task_end(7, 10)],
    }
    for name, events in files.items():
        with open(os.path.join(app, name), "w") as f:
            f.writelines(json.dumps(e) + "\n" for e in events)
    with open(os.path.join(app, "appstatus_local-1"), "w"):
        pass
    expect([os.path.basename(p) for p in event_files(tmp)] == ["events_2_local-1", "events_10_local-1"],
           "rolled event files out of order")
    groups = read_groups(tmp)
    g, h, none = groups["g"], groups["h"], groups[""]
    expect((g.tasks, g.failed_tasks) == (3, 0), f"group g task counts {g}")
    expect(abs(g.task_s - 0.6) < 1e-9 and abs(g.gc_s - 0.005) < 1e-9, f"group g times {g}")
    expect((g.shuffle_mb, g.spill_mb) == (2.0, 1.0), f"group g bytes {g}")
    expect(g.task_skew() == 1.5, f"group g skew {g.task_skew()}")  # max 300 / median 200
    expect((h.tasks, h.failed_tasks) == (1, 1), f"group h {h}")
    expect(none.tasks == 1, "a task of an unsubmitted stage must land in the '' group")


def _tracker_tasks(sc, group: str) -> int:
    st = sc.statusTracker()
    total = 0
    for job in st.getJobIdsForGroup(group):
        for stage in st.getJobInfo(job).stageIds:
            info = st.getStageInfo(stage)
            if info:
                total += info.numCompletedTasks + info.numFailedTasks
    return total


def check_spark_run(tmp: str) -> None:
    """One small Spark session with the event log on: three job groups,
    then a tiny checkpointed ``run_pipeline`` for its lineage."""
    from pyspark.sql import functions as F

    import inputs
    import run
    from blink_spark.pipeline import run_pipeline
    from eventlog import lineage_summary, read_groups, read_lineage

    inp = inputs.link_inputs(os.path.join(tmp, "cache"), 30, 20, seed=3)
    out = os.path.join(tmp, "pipe")
    log_dir = os.path.join(tmp, "eventlog")
    spark = run.start_spark(tmp, 2, "1g", log_dir)
    try:
        sc = spark.sparkContext
        sc.setJobGroup("st.scan", "scan")
        spark.range(0, 10_000, 1, 4).write.format("noop").mode("overwrite").save()
        sc.setJobGroup("st.shuffle", "shuffle")
        spark.range(0, 20_000, 1, 3).groupBy((F.col("id") % 5).alias("k")).count() \
            .write.format("noop").mode("overwrite").save()
        sc.setJobGroup("st.fail", "fail")
        boom = F.udf(lambda x: 1 // (x - 7), "int")
        try:
            spark.range(0, 10, 1, 2).select(boom("id")).collect()
            raise AssertionError("the failing job did not fail")
        except Exception as e:  # the job's Py4J/Python error
            expect("ZeroDivisionError" in str(e), f"unexpected failure: {e}")
        expected = {g: _tracker_tasks(sc, g) for g in ("st.scan", "st.shuffle")}
        sc.setJobGroup("st.pipeline", "pipeline")
        run_pipeline(spark, os.path.join(inp, "documents.parquet"), out)
    finally:
        run.stop_spark(spark)

    groups = read_groups(log_dir)
    expect(groups["st.scan"].tasks == expected["st.scan"] == 4,
           f"scan tasks: log {groups['st.scan'].tasks}, tracker {expected['st.scan']}")
    expect(groups["st.shuffle"].tasks == expected["st.shuffle"],
           f"shuffle tasks: log {groups['st.shuffle'].tasks}, tracker {expected['st.shuffle']}")
    expect(groups["st.scan"].shuffle_bytes == 0 < groups["st.shuffle"].shuffle_bytes,
           "shuffle bytes must appear only in the shuffling group")
    expect(groups["st.fail"].failed_tasks >= 1, "the failed task was not counted")
    expect(groups["st.pipeline"].tasks > 0 and groups["st.pipeline"].failed_tasks == 0,
           "pipeline tasks missing from its group")

    stages = ["mentions", "reps", "blocks", "cand_pairs", "scored_pairs", "clusters"]
    entries = read_lineage(out)
    expect([e["stage"] for e in entries] == stages, f"lineage stages {[e['stage'] for e in entries]}")
    summary = lineage_summary(entries, ("reps", "blocks"))
    on_disk = sum(
        os.path.getsize(os.path.join(out, st, n))
        for st in ("reps", "blocks") for n in os.listdir(os.path.join(out, st))
        if n.endswith(".parquet")
    )
    expect(abs(summary["write_mb"] * 1e6 - on_disk) < 1, "lineage bytes differ from the part files")
    expect(summary["rows"] == entries[1]["rows"] + entries[2]["rows"], "lineage rows")
    expect(list(summary["gaps_s"]) == stages[1:], "one gap per stage after the first")
    expect(all(g >= 0 for g in summary["gaps_s"].values()), "lineage timestamps go backwards")


def main() -> int:
    import run

    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    run.use_scratch(tmp)
    try:
        check_synthetic_log(os.path.join(tmp, "synthetic"))
        check_spark_run(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
