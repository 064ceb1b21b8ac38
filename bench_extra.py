"""Extra benchmarks for the optimization round (bench.py is FROZEN).

Per-query noop-sink isolation (guide §1.4: computes every column of every
row, no sink cost, no count-only column pruning) for the four declared
bench queries, plus optional plan dumps. Prints one JSON line.

Usage:
  python bench_extra.py                 # time the 4 declared queries, noop sink
  python bench_extra.py plans OUTDIR    # dump explain('formatted') per query

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default: the CPUs this process may run on),
SPARK_GRAFT_BENCH_REPS (default 3).
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from blink_spark.session import DEFAULT_CPUS as CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))

QUERY_NAMES = (
    "ann_bruteforce_topk",
    "pricing_summary",
    "top_orders_per_customer",
    "sessionize_events",
)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def time_queries(spark) -> dict:
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    out: dict[str, dict] = {}
    for name in QUERY_NAMES:
        samples = []
        for r in range(REPS):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            t0 = time.time()
            _noop(qs[name](spark, SF_DIR))
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        out[name] = {"min": min(samples), "samples": samples}
    return out


def dump_plans(spark, outdir: str, suffix: str) -> None:
    import __spark_entry__ as entry_mod
    from blink_spark.plans.inspect import explain_str

    os.makedirs(outdir, exist_ok=True)
    qs = entry_mod.queries()
    for name in QUERY_NAMES:
        plan = explain_str(qs[name](spark, SF_DIR))
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)


def main() -> None:
    from blink_spark.session import get_spark

    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    spark = get_spark("bench_extra", cores=CPUS, shuffle_partitions=CPUS)
    if mode == "plans":
        outdir = sys.argv[2] if len(sys.argv) > 2 else os.path.join(_REPO, "plans", "r06")
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        dump_plans(spark, outdir, suffix)
        print(json.dumps({"mode": "plans", "outdir": outdir, "suffix": suffix}))
        return
    res = time_queries(spark)
    print(json.dumps({"mode": mode, "sf": SF_DIR, "cpus": CPUS, "results": res}))


if __name__ == "__main__":
    main()
