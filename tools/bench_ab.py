"""Interleaved same-JVM A/B for pipeline configuration changes.

This sandbox's co-tenant noise arrives in multi-minute bursts that inflate
whole reps by 30-200%, so sequential benchmarks of two builds regularly
return contradictory verdicts (round 3 produced three). The only estimator
that survived: alternate the two configurations REP BY REP inside ONE JVM
(same instance, same memory layout, same noise window) and compare minima.

Configurations are applied by swapping the pipeline's collaborators between
reps (plans are rebuilt per run, so a swap takes effect immediately):

- ``ss``   — distributed superstep connected components instead of the
             size-gated single-task union-find
- ``freq`` — localCheckpoint the token-frequency table in fused mode
             (the pre-round-3 behavior)
- ``aa``   — no change at all: an A/A run whose arm-minimum gap measures
             the same-JVM noise floor any A/B verdict must clear

Usage: python tools/bench_ab.py [variant] [rounds] [n_docs]
e.g.   python tools/bench_ab.py ss 6 600000
Prints per-round pairs and the min per arm; "base" is the current build.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    variant = sys.argv[1] if len(sys.argv) > 1 else "ss"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    n_docs = int(sys.argv[3]) if len(sys.argv) > 3 else 600_000

    import blink_spark.operators.cluster as C
    import blink_spark.pipeline as P
    from blink_spark.operators.blocking import df_aware_blocks as _orig_blocks
    from blink_spark.pipeline import PipelineConfig, run_pipeline
    from blink_spark.session import get_spark

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from bench_scaling import _fixture

    base = {
        "blocks": _orig_blocks,
        "cc": C.connected_components,
    }

    def blocks_cached(*a, **k):
        k["cache_freq"] = True
        return base["blocks"](*a, **k)

    def cc_superstep(edges, **k):
        k["local_threshold"] = 0
        return base["cc"](edges, **k)

    def set_mode(mode: str) -> None:
        P.df_aware_blocks = base["blocks"]
        C.connected_components = base["cc"]
        if mode == "base":
            return
        if mode == "ss":
            C.connected_components = cc_superstep
        elif mode == "freq":
            P.df_aware_blocks = blocks_cached
        elif mode == "aa":
            pass  # A/A: identical code both arms — measures the noise floor
        else:
            raise SystemExit(f"unknown variant {mode!r} (ss|freq|aa)")

    docs = _fixture(n_docs)
    warm = _fixture(40_000)
    spark = get_spark("bench_ab")
    cfg = PipelineConfig(rich_metrics=False, checkpoints=False)

    for m in ("base", variant):  # warm BOTH plan shapes (JIT)
        set_mode(m)
        out = "/tmp/bench_ab_warm"
        shutil.rmtree(out, ignore_errors=True)
        run_pipeline(spark, warm, out, config=cfg)
        shutil.rmtree(out, ignore_errors=True)

    res: dict[str, list[float]] = {"base": [], variant: []}
    for rnd in range(rounds):
        order = ["base", variant] if rnd % 2 == 0 else [variant, "base"]
        for m in order:
            set_mode(m)
            out = "/tmp/bench_ab_run"
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            run_pipeline(spark, docs, out, config=cfg).count()
            res[m].append(round(time.time() - t0, 2))
            shutil.rmtree(out, ignore_errors=True)
        print(
            f"round {rnd}: base={res['base'][-1]:.1f} {variant}={res[variant][-1]:.1f}",
            flush=True,
        )
    for m, ts in res.items():
        print(m, ts, "min", min(ts))


if __name__ == "__main__":
    main()
