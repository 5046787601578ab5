#!/usr/bin/env python
"""Record what the front door makes of every golden statement.

Builds one Engine on the tier-1 test tables (``HOPSPARK_TEST_SF_DIR``,
with the test suite's default from ``tests/conftest.py``), runs every
case of ``tests/golden/*.test`` through ``golden.run_case`` in the corpus
order the golden test uses, and writes one JSON line per
``Engine._translate_statement`` call: the golden file and case index that
made it, the Impala-dialect input and the Spark SQL output (or the error
the translation raised).  Each case also gets one line with the number of
Spark jobs it launched, counted under its own job group.  Run it at two
commits and compare the files to see which translations a change moved
and which cases launched a different number of jobs:

    python tools/golden_translations.py --out /tmp/a.jsonl   # commit A
    python tools/golden_translations.py --out /tmp/b.jsonl   # commit B
    python tools/golden_translations.py --compare /tmp/a.jsonl /tmp/b.jsonl

A case whose result check fails is still recorded; the failures are
counted on stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def record(out_path: str) -> None:
    from hopspark.engine import Engine
    from hopspark.functions import register_all
    from hopspark.golden import parse_test_file, run_case
    from hopspark.session import get_spark

    sys.path.insert(0, os.path.join(ROOT, "tests"))
    from conftest import TEST_SF_DIR

    spark = get_spark(app_name="golden-translations", shuffle_partitions=8)
    register_all(spark)
    eng = Engine(spark=spark, sf_dir=TEST_SF_DIR)
    where = {"file": "", "case": 0}
    rows: list[dict] = []
    translate_statement = eng._translate_statement

    def recording(impala_sql: str) -> str:
        row = dict(where, input=impala_sql)
        rows.append(row)
        try:
            row["output"] = translate_statement(impala_sql)
        except Exception as exc:
            row["error"] = f"{type(exc).__name__}: {exc}"
            raise
        return row["output"]

    eng._translate_statement = recording
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    failed = 0
    paths = sorted(glob.glob(os.path.join(ROOT, "tests", "golden", "*.test")))
    for path in paths:
        where["file"] = os.path.basename(path)
        for i, case in enumerate(parse_test_file(path)):
            where["case"] = i
            group = f"golden-translations-{where['file']}-{i}"
            sc.setJobGroup(group, group)
            try:
                failed += bool(run_case(eng, case))
            except Exception:  # noqa: BLE001 - counted, the recording stays
                failed += 1
            jobs = len(tracker.getJobIdsForGroup(group))
            rows.append(dict(where, jobs=jobs))
    with open(out_path, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
    print(
        f"{sum('jobs' not in r for r in rows)} translations and "
        f"{sum(r.get('jobs', 0) for r in rows)} Spark jobs written to "
        f"{out_path}; "
        f"{failed} golden cases failed their check",
        file=sys.stderr,
    )


def compare(old_path: str, new_path: str) -> int:
    """Print each recorded translation that differs, then each case
    whose Spark-job count differs (marked with whether any of its
    translations differs: job counts also move on identical
    translations), and the totals; 1 when any translation differs."""
    def load(path: str) -> tuple[list[dict], dict[tuple[str, int], int]]:
        with open(path) as f:
            rows = [json.loads(line) for line in f]
        return [r for r in rows if "jobs" not in r], {
            (r["file"], r["case"]): r["jobs"] for r in rows if "jobs" in r
        }

    (old, old_jobs), (new, new_jobs) = load(old_path), load(new_path)
    keys = ("file", "case", "input", "output", "error")
    differ = [
        (a, b) for a, b in zip(old, new)
        if tuple(a.get(k) for k in keys) != tuple(b.get(k) for k in keys)
    ]
    for a, b in differ:
        print(json.dumps({"old": a, "new": b}))
    changed = {(r["file"], r["case"]) for pair in differ for r in pair}
    moved = sorted(
        case for case in old_jobs.keys() | new_jobs.keys()
        if old_jobs.get(case) != new_jobs.get(case)
    )
    for case in moved:
        print(json.dumps({
            "file": case[0], "case": case[1],
            "jobs": [old_jobs.get(case), new_jobs.get(case)],
            "translation_differs": case in changed,
        }))
    print(
        f"{min(len(old), len(new))} statements compared, {len(differ)} "
        f"differ; {len(old)} vs {len(new)} recorded; Spark jobs "
        f"{sum(old_jobs.values())} vs {sum(new_jobs.values())}, "
        f"{len(moved)} cases differ",
        file=sys.stderr,
    )
    return int(bool(differ) or len(old) != len(new))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="JSON-lines file to write")
    ap.add_argument(
        "--compare", nargs=2, metavar=("OLD", "NEW"),
        help="compare two recordings instead of making one",
    )
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if not args.out:
        ap.error("--out or --compare is required")
    record(args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
