#!/usr/bin/env python3
"""hopspark benchmark: one run of one workload, one JSON line out.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload interactive_sql --seed 1 --seconds 5 --trace 0

Builds the workload's tables once under `.perfbench_work/` (generator
seed fixed, see datagen.py), starts a fresh worker process on
local[min(4, nproc)], samples its process tree from here, and prints as
the last line `{"correct", "attempted", "failed", "metrics"}`.  With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones (see README.md).  Exits non-zero without a result line
when the checkout lacks the program or a run fails.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from sampler import TreeSampler  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

WORKER_TIMEOUT_S = 170
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """The highest ladder percentile with at least ten samples above it.
    Below twenty samples no tail is supported and the median stands in."""
    for p in TAIL_LADDER:
        v = percentile(values, p)
        if sum(1 for x in values if x > v) >= 10:
            return p, v
    return 50.0, percentile(values, 50.0)


def _pgroup_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            if os.getpgid(int(name)) == pgid:
                return True
        except OSError:
            continue
    return False


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (JVM, Python workers),
    then wait until all of them have ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if proc.poll() is None or _pgroup_alive(proc.pid):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while time.monotonic() < deadline:
            if proc.poll() is not None and not _pgroup_alive(proc.pid):
                return
            time.sleep(0.05)


def run_worker(args, root: str, work: str, data: str) -> tuple[dict, TreeSampler]:
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(run_dir, "spark-local"), os.path.join(run_dir, "scratch")):
        os.makedirs(d)
    out = os.path.join(run_dir, "result.json")
    cpus = min(4, os.cpu_count() or 1)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # no hsperfdata file in the system temp dir: the run writes only
        # inside the checkout
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONDONTWRITEBYTECODE="1",
        # a bounded heap keeps peak memory from following the JVM's heap
        # growth policy on a many-GB default
        HOPSPARK_DRIVER_MEM="2g",
    )
    env.pop("HOPSPARK_CHECKPOINT_DIR", None)
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", root, "--data", data,
        "--scratch", os.path.join(run_dir, "scratch"), "--out", out,
    ]
    env["PERFBENCH_T0"] = repr(time.monotonic())
    log_path = os.path.join(run_dir, "worker.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(
            cmd, cwd=run_dir, env=env, start_new_session=True,
            stdout=subprocess.DEVNULL, stderr=log,
        )
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            stop_group(proc)
    if code != 0 or not os.path.exists(out):
        with open(log_path, "rb") as f:
            tail_log = f.read().decode(errors="replace")[-3000:]
        raise RuntimeError(f"worker exited with {code}:\n{tail_log}")
    with open(out) as f:
        return json.load(f), sampler


def end_to_end(res: dict, sampler: TreeSampler) -> dict:
    lat = res["lat_ms"]
    p, tail_v = tail(lat)
    print(
        f"op latency: n={len(lat)} p50={percentile(lat, 50):.3f} ms "
        f"tail=p{p:g} {tail_v:.3f} ms; warm passes (s): "
        f"{' '.join(f'{x:.3f}' for x in res['passes'])}; "
        f"peak jvm mem={sampler.peak_jvm_mem / 2**20:.0f} MB; "
        f"failed_ratio={res['failed'] / res['attempted']:.6f} "
        f"({res['failed']}/{res['attempted']})"
    )
    return {
        "setup_s": (res["setup_s"], "s"),
        "first_pass_s": (res["first_pass_s"], "s"),
        "pass_s": (statistics.median(res["passes"]), "s"),
        "op_p50_ms": (percentile(lat, 50), "ms"),
        "op_tail_ms": (tail_v, "ms"),
        "peak_rss_mb": (sampler.peak_mem / 2**20, "MB"),
    }


def per_layer(res: dict, sampler: TreeSampler) -> dict:
    n = res["n_traced"]
    layers, setup = res["layers"], res["setup_layers"]

    def lay(name, key):
        return layers.get(name, {}).get(key, 0.0) / n

    def setup_s(name):
        return setup.get(name, {}).get("total_ms", 0.0) / 1000.0

    w0, w1 = res["window"]
    n_warm = len(res["passes"])
    cpu = {g: sampler.cpu_between(g, w0, w1) / n_warm for g in ("driver", "jvm", "pyworker")}
    # each traced pass against the mean of the untraced passes on either
    # side, so a warm-up trend across the window cancels
    p = res["passes"]
    ratios = [p[i] * 2.0 / (p[i - 1] + p[i + 1]) for i in range(1, len(p) - 1, 2)]
    overhead = 100.0 * (statistics.mean(ratios) - 1.0)
    op_ms = lay("bench.op", "total_ms")
    self_sum = sum(v["self_ms"] for v in layers.values()) / n
    m = {
        "dialect.translate_ms": (lay("dialect.translate", "total_ms"), "ms"),
        "dialect.translate_calls": (lay("dialect.translate", "calls"), "count"),
        "engine.sql_calls": (lay("engine.sql", "calls"), "count"),
        "engine.sql_self_ms": (lay("engine.sql", "self_ms"), "ms"),
        "spark.sql_ms": (lay("spark.sql", "total_ms"), "ms"),
        "spark.sql_calls": (lay("spark.sql", "calls"), "count"),
        "operators.build_ms": (lay("operators.build", "total_ms"), "ms"),
        "spark.collect_ms": (lay("spark.collect", "total_ms"), "ms"),
        "spark.jobs": (res["counts"]["jobs"] / n, "count"),
        "spark.stages": (res["counts"]["stages"] / n, "count"),
        "spark.tasks": (res["counts"]["tasks"] / n, "count"),
        "spark.tasks_failed": (res["counts"]["tasks_failed"] / n, "count"),
        "ckpt.materialize_calls": (lay("ckpt.materialize", "calls"), "count"),
        "ckpt.materialize_ms": (lay("ckpt.materialize", "total_ms"), "ms"),
        "sources.iceberg_write_ms": (lay("sources.iceberg_write", "total_ms"), "ms"),
        "sources.iceberg_delete_ms": (lay("sources.iceberg_delete", "total_ms"), "ms"),
        "sources.iceberg_compact_ms": (lay("sources.iceberg_compact", "total_ms"), "ms"),
        "sources.iceberg_read_ms": (lay("sources.iceberg_read", "total_ms"), "ms"),
        "sources.avro_write_ms": (lay("sources.avro_write", "total_ms"), "ms"),
        "sources.avro_read_ms": (lay("sources.avro_read", "total_ms"), "ms"),
        "session.get_spark_s": (setup_s("session.get_spark"), "s"),
        "functions.register_all_s": (setup_s("functions.register_all"), "s"),
        "catalog.register_s": (setup_s("catalog.register"), "s"),
        "catalog.register_calls": (lay("catalog.register", "calls"), "count"),
        "proc.driver_cpu_s": (cpu["driver"], "s"),
        "proc.jvm_cpu_s": (cpu["jvm"], "s"),
        "proc.pyworker_cpu_s": (cpu["pyworker"], "s"),
        "proc.jvm_rss_peak_mb": (sampler.peak_jvm_mem / 2**20, "MB"),
        "bench.check_ms": (res["check_s"] * 1000.0, "ms"),
        "bench.op_ms": (op_ms, "ms"),
        "bench.op_self_ms": (lay("bench.op", "self_ms"), "ms"),
        "trace.self_cover_pct": (100.0 * self_sum / op_ms if op_ms else 0.0, "%"),
        "trace.overhead_pct": (overhead, "%"),
    }
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "hopspark", "__init__.py")):
        print("perfbench: run from the root of a hopspark checkout", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    sf = WORKLOADS[args.workload].sf
    data = datagen.ensure(os.path.join(work, "data", f"sf{sf:g}"), sf)
    try:
        res, sampler = run_worker(args, root, work, data)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    for err in res["errors"]:
        print(f"check failed: {err}")
    metrics = per_layer(res, sampler) if args.trace else end_to_end(res, sampler)
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
