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

``--strings OUT`` needs no Spark session: it collects (with ``ast``)
every string constant in ``tests/*.py`` and ``tools/*.py`` of two or
more words whose first word is SELECT, WITH, VALUES, CREATE, INSERT or
EXPLAIN, and writes one line per string and option set of
``tests/test_dialect_properties.py`` with what ``translate()`` makes of
it (or ``Type: message`` when it raises).  ``--compare`` reads these
files too:

    python tools/golden_translations.py --strings /tmp/a.jsonl
"""

from __future__ import annotations

import argparse
import ast
import collections
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


#: the first words of the string constants --strings translates
_STATEMENT_WORDS = {"SELECT", "WITH", "VALUES", "CREATE", "INSERT", "EXPLAIN"}
#: the option sets of tests/test_dialect_properties.py
_OPTIONS = (None, {"utf8_mode": True}, {"appx_count_distinct": True})


def _sql_strings(path: str) -> list[str]:
    """The distinct string constants of one Python file that open with a
    statement word and go on; the literal parts of f-strings are not
    whole strings and are skipped."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    parts = {
        id(v) for node in ast.walk(tree) if isinstance(node, ast.JoinedStr)
        for v in node.values
    }
    found = set()
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant) and isinstance(node.value, str)
            and id(node) not in parts
        ):
            words = node.value.split(None, 1)
            if len(words) == 2 and words[0].upper() in _STATEMENT_WORDS:
                found.add(node.value)
    return sorted(found)


def record_strings(out_path: str) -> None:
    from hopspark.dialect.translate import translate

    rows = []
    for pattern in ("tests/*.py", "tools/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern))):
            rel = os.path.relpath(path, ROOT)
            for sql in _sql_strings(path):
                for case, options in enumerate(_OPTIONS):
                    row = {"file": rel, "case": case, "input": sql}
                    try:
                        row["output"] = translate(sql, options=options)
                    except Exception as exc:  # noqa: BLE001 - recorded
                        row["error"] = f"{type(exc).__name__}: {exc}"
                    rows.append(row)
    with open(out_path, "w") as f:
        for row in rows:
            f.write(json.dumps(row) + "\n")
    print(
        f"{len(rows)} translations written to {out_path}; "
        f"{sum('error' in r for r in rows)} raised",
        file=sys.stderr,
    )


def compare(old_path: str, new_path: str) -> int:
    """Print each recorded translation that differs (rows are paired by
    file, case, input and the input's occurrence in the case; a row with
    no partner prints against null), then each case whose Spark-job
    count differs (marked with whether any of its translations differs:
    job counts also move on identical translations), and the totals; 1
    when any translation differs or has no partner."""
    def load(path: str) -> tuple[dict[tuple, dict], dict[tuple, int]]:
        with open(path) as f:
            rows = [json.loads(line) for line in f]
        keyed: dict[tuple, dict] = {}
        seen: collections.Counter = collections.Counter()
        for r in rows:
            if "jobs" not in r:
                key = (r["file"], r["case"], r["input"])
                keyed[key + (seen[key],)] = r
                seen[key] += 1
        return keyed, {
            (r["file"], r["case"]): r["jobs"] for r in rows if "jobs" in r
        }

    (old, old_jobs), (new, new_jobs) = load(old_path), load(new_path)
    differ = [
        (old.get(k), new.get(k)) for k in dict.fromkeys([*old, *new])
        if k not in old or k not in new
        or (old[k].get("output"), old[k].get("error"))
        != (new[k].get("output"), new[k].get("error"))
    ]
    for a, b in differ:
        print(json.dumps({"old": a, "new": b}))
    changed = {(r["file"], r["case"]) for pair in differ for r in pair if r}
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
        f"{len(old.keys() & new.keys())} statements compared, "
        f"{len(differ)} differ or have no partner; {len(old)} vs "
        f"{len(new)} recorded; Spark jobs {sum(old_jobs.values())} vs "
        f"{sum(new_jobs.values())}, {len(moved)} cases differ",
        file=sys.stderr,
    )
    return int(bool(differ))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", help="JSON-lines file to write")
    ap.add_argument(
        "--strings", metavar="OUT",
        help="translate the SQL strings of tests/ and tools/ into OUT",
    )
    ap.add_argument(
        "--compare", nargs=2, metavar=("OLD", "NEW"),
        help="compare two recordings instead of making one",
    )
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if args.strings:
        record_strings(args.strings)
        return 0
    if not args.out:
        ap.error("--out, --strings or --compare is required")
    record(args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
