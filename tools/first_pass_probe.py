#!/usr/bin/env python
"""Catalyst phase times of a new Engine's cold and warm pass.

Builds one Engine in a fresh process, then runs `interactive_sql`'s golden
files (perfbench/workloads.py `GOLDEN_FILES`, in file order) twice: the
cold first pass and a warm second pass.  For each statement it prints the
wall time of `Engine.sql` + `collect()` and the Catalyst phase times read
from `df._jdf.queryExecution().tracker().phases()` after the collect
(analysis, optimization, planning), then each pass's totals.  No perfbench
layer covers the cold pass; this is its layer view.

Usage, from the root of a checkout:

    python tools/first_pass_probe.py [--sf-dir DIR] [--json OUT]

Set HOPSPARK_DRIVER_MEM=2g to match perfbench's driver.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from workloads import GOLDEN_FILES  # noqa: E402

from hopspark import catalog  # noqa: E402
from hopspark.golden import parse_test_file  # noqa: E402

PHASES = ("analysis", "optimization", "planning")


def _phases_ms(df) -> dict[str, int]:
    phases = df._jdf.queryExecution().tracker().phases()
    return {
        k: phases.get(k).get().durationMs() if phases.contains(k) else 0
        for k in PHASES
    }


def run_pass(eng, cases) -> list[dict]:
    out = []
    for name, case in cases:
        t = time.monotonic()
        rec = {"case": name}
        try:
            df = eng.sql(case.query)
            df.collect()
            rec.update(_phases_ms(df))
        except Exception as exc:  # noqa: BLE001 - CATCH cases expect errors
            rec["error"] = type(exc).__name__
        rec["wall"] = round((time.monotonic() - t) * 1000)
        out.append(rec)
    return out


def totals(recs: list[dict]) -> dict[str, int]:
    return {k: sum(r.get(k, 0) for r in recs) for k in ("wall", *PHASES)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf-dir", default=catalog.DEFAULT_SF_DIR)
    ap.add_argument("--json", default=None, help="also write the records here")
    args = ap.parse_args()

    golden = os.path.join(ROOT, "tests", "golden")
    cases = [
        (f"{f}:{n}", case)
        for f in GOLDEN_FILES
        for n, case in enumerate(parse_test_file(os.path.join(golden, f)))
    ]

    t0 = time.monotonic()
    from hopspark.engine import Engine
    from hopspark.session import get_spark

    eng = Engine(spark=get_spark(app_name="hopspark-first-pass-probe"),
                 sf_dir=args.sf_dir)
    setup_s = time.monotonic() - t0

    passes = {p: run_pass(eng, cases) for p in ("cold", "warm")}
    cols = ("wall", *PHASES)
    print(f"set-up {setup_s:.2f} s; times in ms")
    print(f"{'case':<28}" + "".join(f"{p + ' ' + c[:5]:>12}"
                                    for p in passes for c in cols))
    for i, (name, _) in enumerate(cases):
        cells = []
        for recs in passes.values():
            rec = recs[i]
            cells += [str(rec.get(c, rec.get("error", "-"))) for c in cols]
        print(f"{name:<28}" + "".join(f"{c:>12}" for c in cells))
    for p, recs in passes.items():
        print(f"{p} total: " + ", ".join(f"{k} {v}" for k, v in totals(recs).items()))
    if args.json:
        with open(args.json, "w") as fh:
            json.dump({"setup_s": setup_s, **passes}, fh, indent=1)


if __name__ == "__main__":
    main()
