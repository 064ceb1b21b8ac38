"""Benchmark of the blink_spark ER engine: one seeded workload per run.

    python3 perfbench/run.py --workload link_checkpointed --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. Each run is a closed loop in one driver
process at ``local[<cores>]``: it builds the workload's inputs from
``--seed`` (cached under ``.perfbench/cache``), starts Spark, makes one
untimed warm-up pass and then repeats the pass until ``--seconds`` have
passed, checking every pass's output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` writes an
uncompressed Spark event log and alternates a pass through the public API
with the same pass run layer by layer (``workloads.Tracer``), then reports
each layer's task metrics from the event log.

The last line of stdout is the result, ``{"correct", "attempted", "failed",
"metrics"}``, with the metrics ``BENCHMARK.json`` lists. The line before it
is a report: the host (cores, heap, Spark version, commit, loadavg, CPU
steal), every end-to-end metric by name and unit, and the per-pass samples.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYERS = (
    "extract", "contract", "blocking", "pairs", "scoring.prepare",
    "scoring.score", "cluster", "expand", "ann", "stage_io",
)
LAYER_METRICS = (
    ("wall_s", "s"), ("task_s", "s"), ("tasks", "count"), ("util", "ratio"),
    ("task_skew", "ratio"), ("shuffle_mb", "MB"), ("spill_mb", "MB"),
    ("gc_s", "s"), ("failed_tasks", "count"), ("rows_out", "count"),
)
# The end-to-end metrics the result line carries. The report line before it
# also has wall_s_tail (equal to wall_s while a run fits one pass),
# peak_rss_mb (G1's lazy heap growth spreads it too far between runs to
# gate on), error_rate (the result's failed / attempted), resume_s and the
# workload's own quality metric (pairwise_f1 or recall_at_10), which
# ``quality`` repeats so every workload reports the same names.
GATED = ("setup_s", "wall_s", "records_per_s", "cpu_s", "quality")

EXTRA_METRICS = (
    ("contract.ratio", "ratio"), ("pairs.per_record", "ratio"),
    ("pairs.dropped_blocks", "count"), ("scoring.match_yield", "ratio"),
    ("ann.pairs_scored", "count"), ("ann.us_per_pair", "us"),
    ("stage_io.write_mb", "MB"),
)


def host_memory_gb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // (1 << 20)
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_info(cores: int, heap: str) -> dict:
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    src = hashlib.sha256()
    pkg = os.path.join(ROOT, "blink_spark")
    for dirpath, dirs, names in sorted(os.walk(pkg)):
        dirs.sort()
        for name in sorted(n for n in names if n.endswith(".py")):
            with open(os.path.join(dirpath, name), "rb") as f:
                src.update(f.read())
    with open("/proc/loadavg") as f:
        loadavg = [float(x) for x in f.read().split()[:3]]
    return {
        "cores": cores, "heap": heap, "spark": pyspark.__version__,
        "git_commit": commit, "source_sha256": src.hexdigest()[:16],
        "loadavg": loadavg,
    }


def _jvm_opts(scratch: str) -> str:
    # no hsperfdata file under /tmp; JVM temp files in the scratch directory
    return f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}/tmp"


def use_scratch(scratch: str) -> None:
    """Send the scratch writes of this process and its children (Python's
    tempfile, Spark's local dirs, the launcher JVM spark-submit starts) to
    ``scratch`` inside the checkout instead of /tmp."""
    os.makedirs(os.path.join(scratch, "tmp"))
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = _jvm_opts(scratch)


def start_spark(run_dir: str, cores: int, heap: str, event_log: str | None):
    """``get_spark`` sized to this host; scratch stays in ``run_dir``, which
    ``use_scratch`` has prepared."""
    from blink_spark.session import get_spark

    conf = {
        "spark.driver.memory": heap,
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": _jvm_opts(run_dir),
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_log}",
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark and its JVM, then wait until every child process is gone
    (the Python workers outlive the JVM by a moment)."""
    from pyspark import SparkContext

    from procstat import descendants

    pids = descendants()
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits when its stdin closes
        gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in pids) and time.monotonic() < deadline:
        time.sleep(0.05)


class Runner:
    """Passes of one workload, with every output checked."""

    def __init__(self, wl, spark, inp: str, run_dir: str):
        self.wl, self.spark, self.inp, self.run_dir = wl, spark, inp, run_dir
        self.attempted = self.failed = 0
        self.quality: dict[str, float] = {}

    def attempt(self, run, label: str):
        """Run and check one pass. ``run()`` returns a Pass or just the
        output frame; the Pass comes back, or None if it raised or failed
        its check."""
        from workloads import CheckFailed, Pass

        self.attempted += 1
        try:
            res = run()
            p = res if isinstance(res, Pass) else Pass(None, res)
            for k, v in self.wl.check(self.spark, self.inp, p).items():
                self.quality[k] = min(v, self.quality.get(k, v))
            return p
        except CheckFailed as e:
            print(f"perfbench: {label} pass failed its check: {e}", file=sys.stderr)
        except Exception:  # a failing pass is counted, the run goes on
            print(f"perfbench: {label} pass raised:\n{traceback.format_exc()}", file=sys.stderr)
        self.failed += 1
        return None

    def api_pass(self, label: str):
        out = os.path.join(self.run_dir, "out")
        return self.attempt(lambda: self.wl.run(self.spark, self.inp, out), label)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def measure(wl, inp: str, run_dir: str, seconds: float, cores: int, heap: str) -> tuple[dict, dict]:
    """End-to-end run: set-up, then timed passes for ``seconds``."""
    from procstat import PeakRss

    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, cores, heap, None)
        try:
            start_s = time.perf_counter() - t0
            r = Runner(wl, spark, inp, run_dir)
            warm = r.api_pass("warm-up")
            setup_s = start_s + (warm.clock.wall if warm else 0.0)
            passes = []
            deadline = time.perf_counter() + seconds
            while r.attempted == 1 or time.perf_counter() < deadline:
                p = r.api_pass(f"timed #{r.attempted}")
                if p:
                    passes.append(p)
            resumed = None
            if hasattr(wl, "resume") and passes:
                out = os.path.join(run_dir, "out")
                resumed = r.attempt(lambda: wl.resume(spark, inp, out), "resume")
        finally:
            stop_spark(spark)
    walls = [p.clock.wall for p in passes]
    wall = median(walls)
    metrics = {
        "setup_s": (setup_s, "s"),
        "wall_s": (wall, "s"),
        # with n samples the highest percentile they support is the max
        "wall_s_tail": (max(walls, default=0.0), "s"),
        "records_per_s": (wl.records / wall if wall else 0.0, "1/s"),
        "cpu_s": (median([p.clock.cpu for p in passes]), "s"),
        "peak_rss_mb": (rss.peak / 1e6, "MB"),
        "error_rate": (r.failed / r.attempted, "ratio"),
        **{k: (v, "ratio") for k, v in r.quality.items()},
    }
    if resumed:
        metrics["resume_s"] = (resumed.clock.wall, "s")
    report = {
        "metrics": _named(metrics),
        "wall_s_tail_percentile": 100,
        "samples": len(walls),
        "wall_s_samples": walls,
        "start_s": start_s,
    }
    metrics["quality"] = (min(r.quality.values(), default=0.0), "ratio")
    return _result(r, {k: metrics[k] for k in GATED}), report


def traced(wl, inp: str, run_dir: str, seconds: float, cores: int, heap: str) -> tuple[dict, dict]:
    """Traced run: API passes alternate with layer-by-layer passes."""
    from eventlog import GroupStats, read_groups
    from workloads import CheckFailed, Tracer, same_rows

    log_dir = os.path.join(run_dir, "eventlog")
    t0 = time.perf_counter()
    spark = start_spark(run_dir, cores, heap, log_dir)
    try:
        start_s = time.perf_counter() - t0
        r = Runner(wl, spark, inp, run_dir)
        spark.sparkContext.setJobGroup("perfbench.warmup", "warm-up")
        r.api_pass("warm-up")
        api_walls, traced_walls, tracers = [], [], []
        deadline = time.perf_counter() + seconds
        while not tracers or time.perf_counter() < deadline:
            i = len(tracers)
            spark.sparkContext.setJobGroup(f"perfbench.api{i}", "api pass")
            api = r.api_pass(f"api #{i}")
            if api:
                api_walls.append(api.clock.wall)
            tr = Tracer(spark, f"perfbench.t{i}")

            def run_traced():
                t = time.perf_counter()
                out = wl.trace(tr, spark, inp, os.path.join(run_dir, "traced"))
                traced_walls.append(time.perf_counter() - t)
                if api is not None and not same_rows(out, api.output):
                    raise CheckFailed("traced clusters differ from the public API's")
                return out

            r.attempt(run_traced, f"traced #{i}")
            tr.release()
            tracers.append(tr)
    finally:
        stop_spark(spark)  # also flushes and closes the event log
    groups = read_groups(log_dir)

    per_pass = []
    for tr in tracers:
        vals = {}
        for layer in LAYERS:
            g = groups.get(f"{tr.tag}.{layer}", GroupStats())
            wall = tr.wall.get(layer, 0.0)
            vals.update({
                f"{layer}.wall_s": wall,
                f"{layer}.task_s": g.task_s,
                f"{layer}.tasks": g.tasks,
                f"{layer}.util": g.task_s / (wall * cores) if wall else 0.0,
                f"{layer}.task_skew": g.task_skew(),
                f"{layer}.shuffle_mb": g.shuffle_mb,
                f"{layer}.spill_mb": g.spill_mb,
                f"{layer}.gc_s": g.gc_s,
                f"{layer}.failed_tasks": g.failed_tasks,
                f"{layer}.rows_out": tr.rows.get(layer, 0),
            })
        extra = dict(tr.extra)
        pairs = extra.get("ann.pairs_scored", 0)
        extra["ann.us_per_pair"] = vals["ann.task_s"] * 1e6 / pairs if pairs else 0.0
        for name, _ in EXTRA_METRICS:
            vals[name] = extra.get(name, 0)
        per_pass.append(vals)

    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS}
    units.update(dict(EXTRA_METRICS))
    metrics = {name: (median([v[name] for v in per_pass]), unit) for name, unit in units.items()}
    metrics["session.start_s"] = (start_s, "s")
    metrics["tracing.overhead_s"] = (median(traced_walls) - median(api_walls), "s")
    report = {
        "traced_passes": len(tracers),
        "api_wall_s_samples": api_walls,
        "traced_wall_s_samples": traced_walls,
        "ungrouped_tasks": groups.get("", GroupStats()).tasks,
        "error_rate": r.failed / r.attempted,
        "lineage_gaps_s": tracers[-1].lineage or None,
        **r.quality,
    }
    return _result(r, metrics), report


def _named(metrics: dict) -> dict:
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def _result(r: Runner, metrics: dict) -> dict:
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": _named(metrics),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "blink_spark")):
        print(f"perfbench: no blink_spark/ package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from procstat import steal_seconds
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    use_scratch(run_dir)
    cores = len(os.sched_getaffinity(0))
    heap = f"{max(1, min(8, host_memory_gb() // 4))}g"
    steal0 = steal_seconds()
    try:
        inp = wl.inputs(os.path.join(work, "cache"), args.seed)
        fn = traced if args.trace else measure
        result, report = fn(wl, inp, run_dir, args.seconds, cores, heap)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    report = {"workload": wl.name, "seed": args.seed, "trace": args.trace,
              "host": host_info(cores, heap), "steal_s": steal_seconds() - steal0, **report}
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
