"""One benchmark run inside a fresh process: set up, run passes, check.

Started by `run.py`, which samples this process tree from outside and
reads the JSON this writes to `--out`.  Timeline:

1. set-up: imports, `get_spark`, `register_all`, `catalog.register`
   (through `Engine` for interactive_sql).  `setup_s` runs from the
   parent's spawn instant (PERFBENCH_T0, CLOCK_MONOTONIC) to ready.
2. the cold first pass (`first_pass_s`), then one warm-up pass; neither
   is part of `pass_s` or the op latencies.
3. warm passes until `--seconds` have elapsed, at least the workload's
   `min_passes` (one more when traced, and an odd number).

A pass's time is the sum of its operations' latencies.  Every operation
gets its own Spark job group.  With `--trace 1` the tracer records spans
and the job group's jobs, stages and tasks are read from the status
tracker after each operation; warm passes alternate untraced and traced
so the tracing overhead can be measured.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

T0 = float(os.environ.get("PERFBENCH_T0", time.monotonic()))

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS, Result  # noqa: E402

COUNTS = ("jobs", "stages", "tasks", "tasks_failed")


@dataclass
class Ctx:
    root: str
    sf_dir: str
    scratch: str
    tracer: Tracer
    spark: object = None
    engine: object = None


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    counts: Counter = field(default_factory=Counter)


def _job_counts(sc, group: str) -> Counter:
    tracker = sc.statusTracker()
    c: Counter = Counter()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        c["jobs"] += 1
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is None:
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks
            c["tasks_failed"] += st.numFailedTasks
    return c


def setup(ctx: Ctx, workload: str) -> None:
    from hopspark import catalog
    from hopspark.functions import register_all
    from hopspark.session import get_spark

    if workload == "interactive_sql":
        from hopspark.engine import Engine

        ctx.spark = get_spark()
        ctx.engine = Engine(spark=ctx.spark, sf_dir=ctx.sf_dir)
    else:
        import hopspark.operators  # noqa: F401
        import hopspark.sources.avro_codec  # noqa: F401
        import hopspark.sources.iceberg  # noqa: F401

        ctx.spark = get_spark()
        register_all(ctx.spark)
        catalog.register(ctx.spark, ctx.sf_dir)


def run_pass(ctx: Ctx, wl, pass_no: int, rng, tally: Tally, counts: bool = False):
    """Run and check one pass; returns (pass seconds, op latencies in ms,
    check seconds)."""
    sc = ctx.spark.sparkContext
    results = []
    for i, op in enumerate(wl.ops(rng)):
        group = f"perfbench-{pass_no}-{i}"
        sc.setJobGroup(group, op.name)
        with ctx.tracer.span("bench.op"):
            t = time.perf_counter()
            try:
                res = op.run(ctx)
            except Exception as exc:  # noqa: BLE001 - a failed op is counted, not fatal
                res = Result(error=exc)
            lat = time.perf_counter() - t
        results.append((op, res, lat))
        if counts:
            tally.counts.update(_job_counts(sc, group))
    sc.setJobGroup("perfbench-idle", "idle")
    # the write stage's checks need the verified cleaned corpus, so
    # query results are checked first
    t = time.perf_counter()
    for op, res, _ in sorted(results, key=lambda x: x[0].kind == "write"):
        tally.attempted += 1
        try:
            err = wl.check(op, res, pass_no == 0)
        except Exception as exc:  # noqa: BLE001 - a broken check is a failed op
            err = f"check raised {type(exc).__name__}: {exc}"
        if err:
            tally.failed += 1
            if len(tally.errors) < 5:
                tally.errors.append(f"{op.name}: {err}")
    check_s = time.perf_counter() - t
    wl.after_pass()
    lat_ms = [lat * 1000.0 for _, _, lat in results]
    return sum(lat_ms) / 1000.0, lat_ms, check_s


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    trace = bool(args.trace)
    tracer = Tracer()
    ctx = Ctx(args.root, args.data, args.scratch, tracer)
    if trace:
        tracer.install()
        tracer.enabled = True
    setup(ctx, args.workload)
    setup_s = time.monotonic() - T0
    setup_layers = tracer.summary()

    wl = WORKLOADS[args.workload](ctx)
    rng = np.random.default_rng(args.seed)
    tally = Tally()
    first_pass_s = run_pass(ctx, wl, 0, rng, tally)[0]
    # one more warm-up pass: the JIT is still compiling after the cold
    # pass, and the second pass runs 15-20 % faster than the first
    tracer.enabled = False
    run_pass(ctx, wl, 1, rng, tally)

    # warm window.  The traced run alternates untraced and traced passes,
    # starting and ending untraced, so each traced pass can be compared
    # with the two untraced passes around it (trace.overhead_pct)
    passes, lat_ms, check_s = [], [], []
    span_from = len(tracer.spans)
    min_passes = wl.min_passes + trace
    w0 = time.monotonic()
    pass_no = 2
    while (
        time.monotonic() - w0 < args.seconds
        or len(passes) < min_passes
        or (trace and len(passes) % 2 == 0)
    ):
        on = trace and pass_no % 2 == 1
        tracer.enabled = on
        s, lat, chk = run_pass(ctx, wl, pass_no, rng, tally, counts=on)
        tracer.enabled = False
        passes.append(s)
        lat_ms.extend(lat)
        if on:
            check_s.append(chk)
        pass_no += 1
    w1 = time.monotonic()

    result = {
        "setup_s": setup_s,
        "first_pass_s": first_pass_s,
        "passes": passes,
        "lat_ms": lat_ms,
        "window": [w0, w1],
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors,
    }
    if trace:
        n = len(check_s)
        result.update(
            layers=tracer.summary(span_from),
            setup_layers=setup_layers,
            counts={k: tally.counts[k] for k in COUNTS},
            n_traced=n,
            check_s=sum(check_s) / n,
        )
    with open(args.out, "w") as f:
        json.dump(result, f)
    ctx.spark.stop()
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
