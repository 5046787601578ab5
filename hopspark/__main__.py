"""Command-line shell — the impala-shell analogue (reference entry point A:
shell/impala_shell.py speaking HS2 to the coordinator; here the engine is
in-process, everything after parse is Catalyst).

Usage:
  python -m hopspark -q "SELECT count(*) FROM lineitem"
  python -m hopspark -f queries.sql --sf-dir /root/testdata/sf0.01
  python -m hopspark            # interactive: statements end with ';'
"""

from __future__ import annotations

import argparse
import sys

from hopspark.dialect.translate import _is_code, tokenize, untokenize


def split_statements(script: str) -> list[str]:
    """The statements of a script: the text between ``;`` operator
    tokens, from its first code token on, so a ``;`` inside a literal, a
    quoted identifier or a comment splits nothing.  A chunk with no code
    token (whitespace and comments only) is no statement."""
    out: list[str] = []
    stmt: list = []
    for t in tokenize(script) + tokenize(";"):
        if t.kind == "op" and t.text == ";":
            if stmt:
                out.append(untokenize(stmt).strip())
            stmt = []
        elif stmt or _is_code(t):
            stmt.append(t)
    return out


def _print_df(df, fmt: str, max_rows: int) -> None:
    if fmt == "tsv":
        cols = df.columns
        print("\t".join(cols))
        for row in df.limit(max_rows).collect():
            print("\t".join("" if v is None else str(v) for v in row))
    else:
        df.show(n=max_rows, truncate=False)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hopspark", description=__doc__)
    p.add_argument("-q", "--query", help="run one statement and exit")
    p.add_argument("-f", "--file", help="run statements from a file (';'-separated)")
    p.add_argument("--sf-dir", default=None, help="table directory (default: $SPARK_GRAFT_SF_DIR)")
    p.add_argument("--format", choices=("table", "tsv"), default="table")
    p.add_argument("--max-rows", type=int, default=100)
    p.add_argument(
        "--explain",
        action="store_true",
        help="print the formatted physical plan instead of executing",
    )
    args = p.parse_args(argv)

    from hopspark import catalog
    from hopspark.engine import Engine

    eng = Engine(sf_dir=args.sf_dir or catalog.DEFAULT_SF_DIR)

    def run(stmt: str) -> None:
        stmt = stmt.strip().rstrip(";").strip()
        if not stmt:
            return
        if args.explain:
            print(eng.explain(stmt))
            return
        _print_df(eng.sql(stmt), args.format, args.max_rows)

    if args.query:
        run(args.query)
        return 0
    if args.file:
        with open(args.file) as f:
            for stmt in split_statements(f.read()):
                run(stmt)
        return 0

    # interactive
    print("hopspark shell — Impala-dialect SQL; end statements with ';', Ctrl-D to exit")
    buf: list[str] = []
    for line in sys.stdin:
        buf.append(line)
        if line.rstrip().endswith(";"):
            try:
                run(" ".join(buf))
            except Exception as exc:  # keep the shell alive on query errors
                print(f"ERROR: {exc}", file=sys.stderr)
            buf = []
    return 0


if __name__ == "__main__":
    sys.exit(main())
