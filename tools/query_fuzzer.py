"""Randomized differential tester: seeded random SELECTs over the driver
tables, executed on BOTH Spark and DuckDB, value-hash-compared with the same
discipline as the driver's correctness gate.

This is the analogue of the reference's random query generator + discrepancy
searcher (apache-impala-4.1.0 `tests/comparison/query_generator.py`,
`discrepancy_searcher.py`, `data_generator.py`, which fuzz Impala against
Postgres/Oracle) — the tool most likely to catch the next float/decimal/null
divergence before the driver gate does.

Determinism discipline (what makes a random query hash-comparable):
- rows are compared as a sorted multiset, so ORDER BY never matters except
  under LIMIT — LIMIT is only emitted when the ORDER BY covers every output
  column (ties are then identical tuples, so any tie-break yields the same
  multiset);
- SUM/AVG accumulate integers only (double columns go through FLOOR→BIGINT;
  raw double accumulation is order-dependent across engines);
- no division without NULLIF (DuckDB errors on /0, Spark yields NULL);
- window functions order by the FULL column tuple (rows are unique; the
  nominal keys are NOT — the synthetic data repeats them as dedup bait).

Usage:
  PYTHONPATH=. python tools/query_fuzzer.py [--seeds N] [--start S] [--sf DIR]
Prints one line per divergence with the full repro SQL; exits nonzero if any.
"""

from __future__ import annotations

import random
import re
import sys

# ---------------------------------------------------------------------------
# Table metadata: column kinds + unique key + FK join graph.
# ---------------------------------------------------------------------------

TABLES: dict[str, dict] = {
    "region": {
        "cols": {"r_regionkey": "int", "r_name": "str"},
        "key": ["r_regionkey"],
    },
    "nation": {
        "cols": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
        "key": ["n_nationkey"],
    },
    "customer": {
        "cols": {
            "c_custkey": "int",
            "c_name": "str",
            "c_nationkey": "int",
            "c_acctbal": "double",
            "c_mktsegment": "str",
        },
        "key": ["c_custkey"],
    },
    "supplier": {
        "cols": {
            "s_suppkey": "int",
            "s_name": "str",
            "s_nationkey": "int",
            "s_acctbal": "double",
        },
        "key": ["s_suppkey"],
    },
    "part": {
        "cols": {
            "p_partkey": "int",
            "p_name": "str",
            "p_brand": "str",
            "p_type": "str",
            "p_size": "int",
            "p_retailprice": "double",
        },
        "key": ["p_partkey"],
    },
    "orders": {
        "cols": {
            "o_orderkey": "int",
            "o_custkey": "int",
            "o_orderstatus": "str",
            "o_totalprice": "double",
            "o_orderdate": "ts",
            "o_orderpriority": "str",
        },
        "key": ["o_orderkey"],
    },
    "lineitem": {
        "cols": {
            "l_orderkey": "int",
            "l_partkey": "int",
            "l_suppkey": "int",
            "l_linenumber": "int",
            "l_quantity": "double",
            "l_extendedprice": "double",
            "l_discount": "double",
            "l_tax": "double",
            "l_returnflag": "str",
            "l_linestatus": "str",
            "l_shipdate": "ts",
        },
        "key": ["l_orderkey", "l_linenumber"],
    },
    "events": {
        "cols": {
            "event_id": "int",
            "ts": "ts",
            "user_id": "int",
            "event_type": "str",
            "value": "double",
        },
        "key": ["event_id"],
    },
    "documents": {
        "cols": {
            "doc_id": "int",
            "lang": "str",
            "source": "str",
            "n_chars": "int",
        },
        "key": ["doc_id"],
    },
}

#: (left_table, right_table, left_col, right_col) — FK edges for join chains.
JOIN_GRAPH = [
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
]

STR_LITS = ["a", "e", "r", "o", "BUILDING", "N", "F", "O", "A", "R", "P"]
TS_LITS = [
    "1993-06-01 00:00:00",
    "1995-01-01 00:00:00",
    "1996-07-15 00:00:00",
    "1997-12-31 00:00:00",
]


class Gen:
    """One seeded random query. `sql` is valid in both Spark SQL and DuckDB."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed

    # -- scoped helpers ----------------------------------------------------

    def _cols_of_kind(self, scope, kind):
        return [
            f"{alias}.{c}"
            for alias, tbl in scope
            for c, k in TABLES[tbl]["cols"].items()
            if k == kind
        ]

    def int_expr(self, scope, depth=0):
        r = self.rng
        cols = self._cols_of_kind(scope, "int")
        choices = ["col", "col", "col", "const"]
        if depth < 2:
            choices += ["arith", "case", "floor_double", "length", "nullif"]
        kind = r.choice(choices)
        if kind == "col" and cols:
            return r.choice(cols)
        if kind == "arith" and cols:
            op = r.choice(["+", "-", "%"])
            if op == "%":
                return f"({r.choice(cols)} % {r.randint(2, 13)})"
            return f"({self.int_expr(scope, depth + 1)} {op} {r.randint(1, 50)})"
        if kind == "case":
            return (
                f"(CASE WHEN {self.pred(scope, depth + 1)} "
                f"THEN {self.int_expr(scope, depth + 1)} "
                f"ELSE {r.randint(0, 9)} END)"
            )
        if kind == "floor_double":
            dcols = self._cols_of_kind(scope, "double")
            if dcols:
                return f"CAST(FLOOR({r.choice(dcols)}) AS BIGINT)"
        if kind == "length":
            scols = self._cols_of_kind(scope, "str")
            if scols:
                return f"LENGTH({r.choice(scols)})"
        if kind == "nullif" and cols:
            c = r.choice(cols)
            return f"NULLIF({c}, {r.randint(0, 20)})"
        return str(r.randint(0, 100))

    def str_expr(self, scope, depth=0):
        r = self.rng
        cols = self._cols_of_kind(scope, "str")
        if not cols:
            return f"'{r.choice(STR_LITS)}'"
        c = r.choice(cols)
        kind = r.choice(["col", "col", "upper", "substr", "concat", "case"])
        if kind == "upper":
            return f"{r.choice(['UPPER', 'LOWER'])}({c})"
        if kind == "substr":
            return f"SUBSTR({c}, {r.randint(1, 3)}, {r.randint(1, 6)})"
        if kind == "concat":
            return f"CONCAT({c}, '_', {r.choice(cols)})"
        if kind == "case" and depth < 2:
            return (
                f"(CASE WHEN {self.pred(scope, depth + 1)} THEN {c} "
                f"ELSE '{r.choice(STR_LITS)}' END)"
            )
        return c

    def pred(self, scope, depth=0):
        r = self.rng
        kind = r.choice(
            ["cmp_int", "cmp_str", "in_str", "like", "between", "null",
             "cmp_ts", "bool"] + (["and_or"] * (2 if depth < 2 else 0))
        )
        if kind == "and_or":
            op = r.choice(["AND", "OR"])
            a = self.pred(scope, depth + 1)
            b = self.pred(scope, depth + 1)
            neg = "NOT " if r.random() < 0.2 else ""
            return f"{neg}({a} {op} {b})"
        if kind == "cmp_int":
            op = r.choice(["<", "<=", ">", ">=", "=", "<>"])
            return f"{self.int_expr(scope, depth + 1)} {op} {r.randint(0, 500)}"
        if kind == "cmp_str":
            op = r.choice(["<", ">", "=", "<>"])
            return f"{self.str_expr(scope, depth + 1)} {op} '{r.choice(STR_LITS)}'"
        if kind == "in_str":
            scols = self._cols_of_kind(scope, "str")
            if scols:
                lits = ", ".join(
                    f"'{x}'" for x in r.sample(STR_LITS, r.randint(1, 4))
                )
                neg = "NOT " if r.random() < 0.3 else ""
                return f"{r.choice(scols)} {neg}IN ({lits})"
        if kind == "like":
            scols = self._cols_of_kind(scope, "str")
            if scols:
                pat = r.choice(["%a%", "%e%", "B%", "%r", "%o%", "_a%"])
                return f"{r.choice(scols)} LIKE '{pat}'"
        if kind == "between":
            return (
                f"{self.int_expr(scope, depth + 1)} BETWEEN "
                f"{r.randint(0, 50)} AND {r.randint(51, 400)}"
            )
        if kind == "null":
            neg = r.choice(["", " NOT"])
            return f"NULLIF({self.int_expr(scope, depth + 1)}, " \
                   f"{r.randint(0, 9)}) IS{neg} NULL"
        if kind == "cmp_ts":
            tcols = self._cols_of_kind(scope, "ts")
            if tcols:
                c = r.choice(tcols)
                if r.random() < 0.5:
                    return (
                        f"{c} {r.choice(['<', '>='])} "
                        f"TIMESTAMP '{r.choice(TS_LITS)}'"
                    )
                return (
                    f"EXTRACT(YEAR FROM {c}) % {r.randint(2, 4)} "
                    f"= {r.randint(0, 1)}"
                )
        return f"{self.int_expr(scope, depth + 1)} > {r.randint(0, 200)}"

    # -- FROM clause -------------------------------------------------------

    def from_clause(self):
        """Random 1-3 table join chain along the FK graph."""
        r = self.rng
        n_tables = r.choice([1, 1, 2, 2, 2, 3])
        base = r.choice(list(TABLES))
        scope = [("t0", base)]
        sql = f"{base} t0"
        for _ in range(n_tables - 1):
            edges = [
                e for e in JOIN_GRAPH
                if any(t == e[0] for _, t in scope)
                and all(t != e[1] for _, t in scope)
            ]
            # also allow walking an edge backwards (dim → fact is skipped:
            # fact tables only ever appear as the base/left side)
            if not edges:
                break
            e = r.choice(edges)
            left_alias = next(a for a, t in scope if t == e[0])
            alias = f"t{len(scope)}"
            jt = r.choice(["JOIN", "JOIN", "LEFT JOIN"])
            sql += (
                f" {jt} {e[1]} {alias} "
                f"ON {left_alias}.{e[2]} = {alias}.{e[3]}"
            )
            scope.append((alias, e[1]))
        return sql, scope

    # -- query templates ---------------------------------------------------

    def gen(self) -> str:
        r = self.rng
        kind = r.choice(
            ["proj", "agg", "agg", "window", "setop", "subq", "exists",
             "rollup", "subq_in", "condagg"]
        )
        return getattr(self, f"q_{kind}")()

    def q_proj(self) -> str:
        r = self.rng
        frm, scope = self.from_clause()
        n = r.randint(2, 5)
        exprs = []
        for i in range(n):
            e = r.choice([self.int_expr, self.str_expr])(scope)
            exprs.append(f"{e} AS c{i}")
        sql = f"SELECT {', '.join(exprs)} FROM {frm}"
        if r.random() < 0.8:
            sql += f" WHERE {self.pred(scope)}"
        if r.random() < 0.4:
            # LIMIT needs a total order over the full output row
            order = ", ".join(
                f"c{i} {r.choice(['ASC', 'DESC'])} "
                f"{r.choice(['NULLS FIRST', 'NULLS LAST'])}"
                for i in range(n)
            )
            sql += f" ORDER BY {order} LIMIT {r.randint(1, 40)}"
            if r.random() < 0.4:
                # OFFSET (Impala: only valid with ORDER BY ... LIMIT) —
                # deterministic under the total order above
                sql += f" OFFSET {r.randint(0, 20)}"
        return sql

    def _agg_exprs(self, scope, n):
        r = self.rng
        out = []
        for i in range(n):
            a = r.choice(["count", "count", "sum", "avg", "min", "max", "cd"])
            if a == "count":
                out.append(f"COUNT(*) AS a{i}")
            elif a == "cd":
                e = r.choice([self.int_expr, self.str_expr])(scope)
                out.append(f"COUNT(DISTINCT {e}) AS a{i}")
            elif a == "sum":
                out.append(f"SUM({self.int_expr(scope)}) AS a{i}")
            elif a == "avg":
                out.append(
                    f"CAST(AVG({self.int_expr(scope)}) AS DOUBLE) AS a{i}"
                )
            else:
                f_ = a.upper()
                e = r.choice(
                    [self.int_expr, self.str_expr]
                )(scope)
                out.append(f"{f_}({e}) AS a{i}")
        return out

    def q_agg(self) -> str:
        r = self.rng
        frm, scope = self.from_clause()
        n_keys = r.randint(1, 2)
        keys = []
        for _ in range(n_keys):
            k = r.choice([self.str_expr, self.int_expr])(scope)
            if k.isdigit():
                # a bare integer literal in GROUP BY is an ORDINAL in both
                # engines — wrap it so it stays a constant expression
                k = f"({k} + 0)"
            keys.append(k)
        key_sel = [f"{k} AS g{i}" for i, k in enumerate(keys)]
        aggs = self._agg_exprs(scope, r.randint(1, 3))
        sql = (
            f"SELECT {', '.join(key_sel + aggs)} FROM {frm}"
        )
        if r.random() < 0.6:
            sql += f" WHERE {self.pred(scope)}"
        sql += f" GROUP BY {', '.join(keys)}"
        if r.random() < 0.3:
            sql += f" HAVING COUNT(*) > {r.randint(0, 3)}"
        return sql

    def q_window(self) -> str:
        r = self.rng
        tbl = r.choice(list(TABLES))
        scope = [("t0", tbl)]
        key = TABLES[tbl]["key"]
        key_cols = ", ".join(f"t0.{k}" for k in key)
        part = r.choice(
            self._cols_of_kind(scope, "str")
            or self._cols_of_kind(scope, "int")
        )
        wf = r.choice(["ROW_NUMBER()", "RANK()", "DENSE_RANK()"])
        # Total order = the FULL column tuple, not the nominal key: the
        # driver's synthetic lineitem repeats (l_orderkey, l_linenumber)
        # with different payloads (dedup-bait rows), so a key-only ORDER BY
        # leaves ties whose LEAD/ROW_NUMBER values are engine-dependent —
        # found by seed 154 at sf0.01 (REGRESSION_SEEDS).
        all_cols = ", ".join(
            f"t0.{c}" for c in TABLES[tbl]["cols"] if c not in key
        )
        osort = f"{key_cols}, {all_cols}" if all_cols else key_cols
        inner_cols = [f"t0.{k} AS k{i}" for i, k in enumerate(key)]
        extra = ""
        if r.random() < 0.4:
            extra = (
                f", SUM({self.int_expr(scope)}) OVER (PARTITION BY {part} "
                f"ORDER BY {osort} ROWS BETWEEN {r.randint(1, 5)} PRECEDING "
                f"AND CURRENT ROW) AS c_run"
            )
        elif r.random() < 0.5:
            # value functions: deterministic under the unique-key order
            vf = r.choice(
                [f"LAG({self.int_expr(scope)}, {r.randint(1, 2)})",
                 f"LEAD({self.int_expr(scope)}, {r.randint(1, 2)})",
                 f"NTILE({r.randint(2, 5)})"]
            )
            extra = (
                f", {vf} OVER (PARTITION BY {part} ORDER BY {osort}) AS c_v"
            )
        sql = (
            f"SELECT {', '.join(inner_cols)}, {part} AS c_part, "
            f"{wf} OVER (PARTITION BY {part} ORDER BY {osort}) AS c_rn"
            f"{extra} FROM {tbl} t0"
        )
        if r.random() < 0.5:
            sql += f" WHERE {self.pred(scope)}"
        outer = f"SELECT * FROM ({sql}) w WHERE c_rn <= {r.randint(1, 8)}"
        return outer

    def q_setop(self) -> str:
        r = self.rng
        tbl = r.choice(list(TABLES))
        scope = [("t0", tbl)]
        n = r.randint(1, 3)
        exprs = [
            f"{r.choice([self.int_expr, self.str_expr])(scope)} AS c{i}"
            for i in range(n)
        ]
        sel = f"SELECT {', '.join(exprs)} FROM {tbl} t0"
        op = r.choice(["UNION ALL", "UNION", "INTERSECT", "EXCEPT"])
        a = f"{sel} WHERE {self.pred(scope)}"
        b = f"{sel} WHERE {self.pred(scope)}"
        return f"{a} {op} {b}"

    def q_subq(self) -> str:
        r = self.rng
        tbl = r.choice(list(TABLES))
        scope = [("t0", tbl)]
        icols = self._cols_of_kind(scope, "int")
        c = r.choice(icols)
        inner_agg = r.choice(["AVG", "MIN", "MAX"])
        n = r.randint(1, 3)
        exprs = [
            f"{r.choice([self.int_expr, self.str_expr])(scope)} AS c{i}"
            for i in range(n)
        ]
        sql = (
            f"SELECT {', '.join(exprs)} FROM {tbl} t0 "
            f"WHERE {c} {r.choice(['>', '<='])} "
            f"(SELECT {inner_agg}({c.split('.')[1]}) FROM {tbl})"
        )
        if r.random() < 0.5:
            sql += f" AND {self.pred(scope)}"
        return sql

    def q_rollup(self) -> str:
        r = self.rng
        frm, scope = self.from_clause()
        keys = []
        for _ in range(r.randint(1, 2)):
            k = r.choice([self.str_expr, self.int_expr])(scope)
            if k.isdigit():
                k = f"({k} + 0)"
            keys.append(k)
        key_sel = [f"{k} AS g{i}" for i, k in enumerate(keys)]
        op = r.choice(["ROLLUP", "CUBE", "GROUPING SETS"])
        if op == "GROUPING SETS":
            sets = f"(({', '.join(keys)}), ())"
            grp = f"GROUPING SETS {sets}"
        else:
            grp = f"{op} ({', '.join(keys)})"
        aggs = self._agg_exprs(scope, r.randint(1, 2))
        gcol = f"GROUPING({keys[0]}) AS gflag"
        sql = (
            f"SELECT {', '.join(key_sel + aggs)}, {gcol} FROM {frm}"
        )
        if r.random() < 0.5:
            sql += f" WHERE {self.pred(scope)}"
        sql += f" GROUP BY {grp}"
        return sql

    def q_subq_in(self) -> str:
        r = self.rng
        e = r.choice(JOIN_GRAPH)
        outer_tbl, outer_col = e[0], e[2]
        inner_tbl, inner_col = e[1], e[3]
        if r.random() < 0.5:
            outer_tbl, outer_col, inner_tbl, inner_col = (
                inner_tbl, inner_col, outer_tbl, outer_col,
            )
        scope_o = [("t0", outer_tbl)]
        scope_i = [("s0", inner_tbl)]
        n = r.randint(1, 3)
        exprs = [
            f"{r.choice([self.int_expr, self.str_expr])(scope_o)} AS c{i}"
            for i in range(n)
        ]
        neg = "NOT " if r.random() < 0.3 else ""
        # NOT IN with a nullable subquery column would diverge on NULL
        # semantics only if the column were nullable — FK key columns are
        # not, so both engines agree
        return (
            f"SELECT {', '.join(exprs)} FROM {outer_tbl} t0 "
            f"WHERE t0.{outer_col} {neg}IN "
            f"(SELECT s0.{inner_col} FROM {inner_tbl} s0 "
            f"WHERE {self.pred(scope_i)})"
        )

    def q_condagg(self) -> str:
        r = self.rng
        frm, scope = self.from_clause()
        n = r.randint(2, 4)
        aggs = []
        for i in range(n):
            p = self.pred(scope)
            kind = r.choice(["cnt", "cnt", "sum", "min"])
            if kind == "cnt":
                aggs.append(f"SUM(CASE WHEN {p} THEN 1 ELSE 0 END) AS a{i}")
            elif kind == "sum":
                aggs.append(
                    f"SUM(CASE WHEN {p} THEN {self.int_expr(scope)} END) AS a{i}"
                )
            else:
                aggs.append(
                    f"MIN(CASE WHEN {p} THEN {self.str_expr(scope)} END) AS a{i}"
                )
        return f"SELECT {', '.join(aggs)} FROM {frm}"

    def q_exists(self) -> str:
        r = self.rng
        e = r.choice(JOIN_GRAPH)
        # EXISTS from the dim side into the fact side (correlated)
        outer_tbl, outer_col, inner_tbl, inner_col = e[1], e[3], e[0], e[2]
        scope_o = [("t0", outer_tbl)]
        scope_i = [("s0", inner_tbl)]
        n = r.randint(1, 3)
        exprs = [
            f"{r.choice([self.int_expr, self.str_expr])(scope_o)} AS c{i}"
            for i in range(n)
        ]
        neg = "NOT " if r.random() < 0.4 else ""
        sql = (
            f"SELECT {', '.join(exprs)} FROM {outer_tbl} t0 "
            f"WHERE {neg}EXISTS (SELECT 1 FROM {inner_tbl} s0 "
            f"WHERE s0.{inner_col} = t0.{outer_col} "
            f"AND {self.pred(scope_i)})"
        )
        return sql


def gen_query(seed: int) -> str:
    return Gen(seed).gen()


# ---------------------------------------------------------------------------
# Differential runner
# ---------------------------------------------------------------------------


def _norm(rows, cols):
    from decimal import Decimal

    idx = [cols.index(c) for c in sorted(cols)]
    out = []
    for r in rows:
        vals = []
        for i in idx:
            v = r[i]
            if isinstance(v, float):
                v = round(v, 6)
            elif isinstance(v, Decimal):
                # scale-insensitive rendering: engines may legally differ
                # in result scale (e.g. division); values must not.
                s = format(v, "f")
                if "." in s:
                    s = s.rstrip("0").rstrip(".")
                v = "0" if s in ("-0", "") else s
            vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def run_differential(spark, con, seed: int) -> tuple[bool, str, str]:
    """Returns (ok, sql, detail)."""
    sql = gen_query(seed)
    try:
        sdf = spark.sql(sql)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001
        return False, sql, f"spark error: {type(exc).__name__}: {exc}"[:400]
    try:
        ores = con.sql(sql)
        ocols = list(ores.columns)
        orows = ores.fetchall()
    except Exception as exc:  # noqa: BLE001
        return False, sql, f"duckdb error: {type(exc).__name__}: {exc}"[:400]
    if sorted(scols) != sorted(ocols):
        return False, sql, f"schema: spark={scols} duckdb={ocols}"
    if len(srows) != len(orows):
        if (
            len(srows) == 0
            and len(orows) == 1
            and re.search(r"\b(ROLLUP|CUBE|GROUPING SETS)\b", sql, re.I)
        ):
            # KNOWN ENGINE DELTA (found by this fuzzer, round 4): a
            # grand-total grouping set over EMPTY input yields one row per
            # the SQL standard (DuckDB, and Impala's union-of-aggregations
            # lowering), but Spark's Expand+groupBy lowering yields zero
            # rows. Surfaces only on degenerate empty inputs.
            return True, sql, "ok (known delta: empty-input grand total)"
        return False, sql, f"rows: spark={len(srows)} duckdb={len(orows)}"
    sn, on = _norm(srows, scols), _norm(orows, ocols)
    if sn != on:
        diff = next(
            (i, a, b) for i, (a, b) in enumerate(zip(sn, on)) if a != b
        )
        return False, sql, f"hash: first diff at row {diff[0]}: " \
                           f"spark={diff[1]} duckdb={diff[2]}"
    return True, sql, f"ok ({len(srows)} rows)"


def register_views(spark, con, sf_dir: str) -> None:
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def main() -> None:
    args = sys.argv[1:]
    n_seeds, start, sf_dir = 300, 0, "/root/testdata/sf0.001"
    if "--seeds" in args:
        n_seeds = int(args[args.index("--seeds") + 1])
    if "--start" in args:
        start = int(args[args.index("--start") + 1])
    if "--sf" in args:
        sf_dir = args[args.index("--sf") + 1]

    import duckdb

    from hopspark.session import get_spark

    spark = get_spark(app_name="query-fuzzer")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    register_views(spark, con, sf_dir)

    fails = []
    for seed in range(start, start + n_seeds):
        ok, sql, detail = run_differential(spark, con, seed)
        if not ok:
            fails.append(seed)
            print(f"--- seed {seed}: {detail}\n{sql}\n", flush=True)
        elif seed % 50 == 0:
            print(f"seed {seed}: {detail}", flush=True)

    print(f"\n{n_seeds} seeds, {len(fails)} divergent: {fails}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()


# ---------------------------------------------------------------------------
# Dialect-mode fuzzer: random IMPALA-dialect queries through Engine.sql
# (exercising hopspark/dialect/translate.py under composition) against
# hand-mapped DuckDB twins. Each construct is generated as an
# (impala_sql, duckdb_sql) PAIR, so a pass proves the dialect rewrite and
# the oracle agree on the same semantics.
# ---------------------------------------------------------------------------

#: ASCII-only tables (dialect byte-semantics string fns == char semantics)
_DIALECT_TABLES = ["region", "nation", "customer", "supplier", "part", "orders"]


def _ref_substr(s: str, p: int, l: int = 2**31 - 1) -> str:
    """Reference Substring contract (string-functions-ir.cc:56-71):
    1-indexed; pos 0 or a negative pos resolving past the start → ''."""
    n = len(s)
    fp = p if p >= 0 else n + p + 1
    fl = min(l, n - fp + 1)
    if fp > 0 and fp <= n and fl > 0:
        return s[fp - 1 : fp - 1 + fl]
    return ""


def _ref_pad(s: str, n: int, p: str, left: bool) -> str | None:
    """Reference Lpad/Rpad contract (:192-225): n < 0 → NULL; n ≤ len or
    empty pad → truncate to n; else pad to exactly n."""
    if n < 0:
        return None
    if n <= len(s) or p == "":
        return s[:n]
    fill = (p * n)[: n - len(s)]
    return (fill + s) if left else (s + fill)


def _ref_split_part(s: str, d: str, f: int) -> str:
    """Reference SplitPart contract (:1363-1401): empty delim → whole
    string; 1-indexed, negative counts from the end; out of range → ''."""
    assert f != 0
    if d == "":
        return s
    parts = s.split(d)
    idx = f - 1 if f > 0 else len(parts) + f
    return parts[idx] if 0 <= idx < len(parts) else ""


class DialectGen:
    """One seeded random Impala-dialect query + its DuckDB twin."""

    def __init__(self, seed: int):
        self.rng = random.Random(900_000 + seed)

    def _cols(self, tbl, kind):
        return [c for c, k in TABLES[tbl]["cols"].items() if k == kind]

    # every method returns (impala_sql, duckdb_sql)

    def int_pair(self, tbl, depth=0):
        r = self.rng
        ics = self._cols(tbl, "int")
        c = r.choice(ics)
        kind = r.choice(
            ["col", "nvl", "zeroifnull", "nullifzero", "isnull", "quotient",
             "bitand", "bitor", "bitxor", "if_", "length_", "ts_", "fact"]
            if depth < 2 else ["col"]
        )
        if kind == "fact":
            # round-5 postfix factorial operator (sql-parser.cup FACTORIAL)
            k = r.randint(2, 6)
            return (f"CAST(({c} % {k})! AS INT)",
                    f"CAST(factorial(CAST({c} % {k} AS INT)) AS INT)")
        if kind == "ts_":
            return self.ts_int_pair(tbl, depth + 1)
        if kind == "col":
            return c, c
        if kind == "nvl":
            k, m = r.randint(0, 20), r.randint(0, 9)
            return (f"nvl(nullif({c}, {k}), {m})",
                    f"coalesce(nullif({c}, {k}), {m})")
        if kind == "zeroifnull":
            k = r.randint(0, 20)
            return (f"zeroifnull(nullif({c}, {k}))",
                    f"coalesce(nullif({c}, {k}), 0)")
        if kind == "nullifzero":
            k = r.randint(2, 7)
            return (f"nullifzero({c} % {k})", f"nullif({c} % {k}, 0)")
        if kind == "isnull":
            k, m = r.randint(0, 20), r.randint(0, 9)
            return (f"isnull(nullif({c}, {k}), {m})",
                    f"coalesce(nullif({c}, {k}), {m})")
        if kind == "quotient":
            k = r.randint(2, 9)
            return f"quotient({c}, {k})", f"({c} // {k})"
        if kind == "bitand":
            k = r.randint(0, 63)
            return f"bitand({c}, {k})", f"({c} & {k})"
        if kind == "bitor":
            k = r.randint(0, 63)
            return f"bitor({c}, {k})", f"({c} | {k})"
        if kind == "bitxor":
            k = r.randint(0, 63)
            return f"bitxor({c}, {k})", f"xor({c}, {k})"
        if kind == "if_":
            pi, pd = self.pred_pair(tbl, depth + 1)
            ai, ad = self.int_pair(tbl, depth + 1)
            b = r.randint(0, 9)
            return (f"if({pi}, {ai}, {b})",
                    f"(CASE WHEN {pd} THEN {ad} ELSE {b} END)")
        if kind == "length_":
            si, sd = self.str_pair(tbl, depth + 1)
            return f"length({si})", f"length({sd})"
        return c, c

    def str_pair(self, tbl, depth=0):
        r = self.rng
        scs = self._cols(tbl, "str")
        c = r.choice(scs)
        kind = r.choice(
            ["col", "decode", "nvl", "strleft", "strright", "case_up",
             "fmt", "fmt_y", "fmt_vchar", "fmt_char",
             "flexparse", "flexparse_rr", "flexparse_fill",
             "substr_pos", "pad_len", "split_part", "chr_edge"]
            if depth < 2 else ["col"]
        )
        if kind in ("substr_pos", "pad_len", "split_part", "chr_edge"):
            # session-3 position/return contracts, differentially checked
            # against a THIRD implementation (the _ref_* Python twins of
            # the reference kernels) — the expected value is computed here
            # and emitted as a literal on the DuckDB side.
            if kind == "substr_pos":
                s = "".join(r.choice("abcdeXY z") for _ in range(r.randint(0, 8)))
                p = r.randint(-len(s) - 2, len(s) + 2)
                if r.random() < 0.5:
                    l = r.randint(0, len(s) + 2)
                    exp = _ref_substr(s, p, l)
                    return f"substr('{s}', {p}, {l})", f"'{exp}'"
                exp = _ref_substr(s, p)
                return f"substr('{s}', {p})", f"'{exp}'"
            if kind == "pad_len":
                s = "".join(r.choice("abcd") for _ in range(r.randint(0, 5)))
                n = r.randint(-3, 9)
                p = r.choice(["", "x", "yz"])
                left = r.random() < 0.5
                exp = _ref_pad(s, n, p, left)
                fn = "lpad" if left else "rpad"
                duck = "CAST(NULL AS VARCHAR)" if exp is None else f"'{exp}'"
                return f"{fn}('{s}', {n}, '{p}')", duck
            if kind == "split_part":
                nparts = r.randint(1, 4)
                d = r.choice([",", "::", ""])
                s = (d or ",").join(
                    "".join(r.choice("abc") for _ in range(r.randint(0, 3)))
                    for _ in range(nparts)
                ) if d else "".join(r.choice("abc,") for _ in range(5))
                f = r.choice([x for x in range(-nparts - 1, nparts + 2) if x])
                exp = _ref_split_part(s, d, f)
                return f"split_part('{s}', '{d}', {f})", f"'{exp}'"
            # chr_edge: printable-ASCII identity plus the out-of-range rule
            n = r.choice([r.randint(-9, -1), r.randint(32, 126),
                          r.randint(256, 400)])
            exp = chr(n) if 32 <= n <= 126 else ""
            exp_sql = "''" if exp == "" else f"'{exp}'" if exp != "'" else "''''"
            return f"chr({n})", exp_sql
        if kind.startswith("flexparse"):
            # round-6 flexible FORMAT parse: separator interchangeability
            # and short-year filling (datetime-iso-sql-format-parser.cc);
            # the DuckDB twin is the expected canonical literal, with the
            # fill/round rules computed here the way the reference anchors
            # them on the current session year.
            import datetime as _dt

            mo, dy = r.randint(1, 12), r.randint(1, 28)
            s1, s2 = r.choice("-/.,;: "), r.choice("-/.,;: ")
            cur = _dt.date.today().year
            if kind == "flexparse":
                y = r.randint(1402, 2035)
                inp, fmtc = f"{y:04d}{s1}{mo:02d}{s2}{dy:02d}", "YYYY-MM-DD"
            elif kind == "flexparse_rr":
                yy = r.randint(0, 99)
                cent = cur // 100
                if yy < 50 and cur % 100 > 49:
                    cent += 1
                elif yy > 49 and cur % 100 < 50:
                    cent -= 1
                y = cent * 100 + yy
                inp, fmtc = f"{yy:02d}{s1}{mo:02d}{s2}{dy:02d}", "RR-MM-DD"
            else:
                ln = r.randint(1, 3)
                run = r.randint(0, 10 ** ln - 1)
                y = (cur // 10 ** ln) * 10 ** ln + run
                inp = f"{run:0{ln}d}{s1}{mo:02d}{s2}{dy:02d}"
                fmtc = "YYYY-MM-DD"
            return (
                f"cast(cast('{inp}' as date format '{fmtc}') as string)",
                f"'{y:04d}-{mo:02d}-{dy:02d}'",
            )
        if kind in ("fmt", "fmt_y", "fmt_vchar", "fmt_char"):
            tcs = self._cols(tbl, "ts")
            if tcs:
                t = r.choice(tcs)
                if kind == "fmt_vchar":
                    # round-6: FORMAT through a VARCHAR(n) target — format
                    # first, then truncate to n (octet == char: ASCII)
                    n = r.randint(4, 10)
                    return (
                        f"cast({t} as varchar({n}) format 'YYYY-MM-DD')",
                        f"substr(strftime({t}, '%Y-%m-%d'), 1, {n})",
                    )
                if kind == "fmt_char":
                    # round-6: FORMAT through CHAR(n) — format, truncate,
                    # space-pad to exactly n
                    n = r.randint(3, 8)
                    return (
                        f"cast({t} as char({n}) format 'DD/MM')",
                        f"rpad(substr(strftime({t}, '%d/%m'), 1, {n}),"
                        f" {n}, ' ')",
                    )
                if kind == "fmt":
                    # CAST ... FORMAT string direction vs strftime twin
                    return (f"cast({t} as string format 'YYYY-MM')",
                            f"strftime({t}, '%Y-%m')")
                # round-5 Y/YYY format direction: last 1/3 year digits
                if r.random() < 0.5:
                    return (f"cast({t} as string format 'YYY')",
                            f"substr(strftime({t}, '%Y'), 2, 3)")
                return (f"cast({t} as string format 'Y')",
                        f"substr(strftime({t}, '%Y'), 4, 1)")
            kind = "col"
        if kind == "col":
            return c, c
        if kind == "decode":
            ii, id_ = self.int_pair(tbl, depth + 1)
            return (
                f"decode({ii} % 3, 0, 'zero', 1, 'one', 'many')",
                f"(CASE WHEN ({id_} % 3) = 0 THEN 'zero' "
                f"WHEN ({id_} % 3) = 1 THEN 'one' ELSE 'many' END)",
            )
        if kind == "nvl":
            return (f"nvl(nullif({c}, 'x'), 'dflt')",
                    f"coalesce(nullif({c}, 'x'), 'dflt')")
        if kind == "strleft":
            k = r.randint(1, 6)
            return f"strleft({c}, {k})", f"left({c}, {k})"
        if kind == "strright":
            k = r.randint(1, 6)
            return f"strright({c}, {k})", f"right({c}, {k})"
        if kind == "case_up":
            return (f"(case when {c} < 'M' then ucase({c}) else lcase({c}) end)",
                    f"(case when {c} < 'M' then upper({c}) else lower({c}) end)")
        return c, c

    def ts_int_pair(self, tbl, depth=0):
        """Integer-valued expressions over a timestamp column (dialect
        datetime functions vs DuckDB equivalents)."""
        r = self.rng
        tcs = self._cols(tbl, "ts")
        if not tcs:
            return self.int_pair(tbl, depth)
        c = r.choice(tcs)
        kind = r.choice(
            ["year", "month", "day", "quarter", "dateadd_y", "datediff_",
             "lastday", "trunc_dd", "trunc_q", "trunc_day", "trunc_hh",
             "extract_ms", "extract_epoch", "interval_expr"]
        )
        # round-5: extract millisecond = seconds*1000+ms (Postgres-style,
        # both engines), epoch = truncated unix seconds, and expression
        # INTERVAL quantities (make_interval rewrite)
        if kind == "extract_ms":
            return (f"extract({c}, 'millisecond')",
                    f"CAST(extract(milliseconds FROM {c}) AS BIGINT)")
        if kind == "extract_epoch":
            return (f"extract({c}, 'epoch')",
                    f"CAST(floor(extract(epoch FROM {c})) AS BIGINT)")
        if kind == "interval_expr":
            k = r.randint(2, 9)
            if r.random() < 0.4:
                # round-6: table-qualified (dotted) interval QUANTITY —
                # the unit scanner must treat `tbl.col` as a path, not
                # eat a unit-looking leaf (ADVICE regression)
                return (
                    f"day({tbl}.{c} + interval month({tbl}.{c}) % {k} days)",
                    f"day({c} + (month({c}) % {k}) * INTERVAL 1 DAY)",
                )
            return (f"day({c} + interval month({c}) % {k} days)",
                    f"day({c} + (month({c}) % {k}) * INTERVAL 1 DAY)")
        # round-5 datetime-trunc unit table (udf-builtins.cc
        # StrToTruncUnit -> date_trunc): DD/Q/HH24 plus DAY = Monday week
        if kind == "trunc_dd":
            return (f"day(trunc({c}, 'DD'))",
                    f"day(date_trunc('day', {c}))")
        if kind == "trunc_q":
            return (f"month(trunc({c}, 'Q'))",
                    f"month(date_trunc('quarter', {c}))")
        if kind == "trunc_day":
            return (f"day(trunc({c}, 'DAY'))",
                    f"day(date_trunc('week', {c}))")
        if kind == "trunc_hh":
            return (f"hour(trunc({c}, 'HH24'))",
                    f"hour(date_trunc('hour', {c}))")
        if kind == "datediff_":
            # Impala datediff(a, b) = a - b in days; DuckDB wants the unit
            # first and (start, end) order
            n = r.randint(1, 90)
            return (f"datediff(days_add({c}, {n}), {c})",
                    f"DATEDIFF('day', {c}, {c} + INTERVAL {n} DAY)")
        if kind == "lastday":
            # compare via day() — Impala last_day returns TIMESTAMP,
            # Spark/DuckDB DATE
            return (f"day(last_day({c}))",
                    f"day(last_day(CAST({c} AS DATE)))")
        if kind == "year":
            return f"year({c})", f"year({c})"
        if kind == "month":
            return f"month({c})", f"month({c})"
        if kind == "day":
            return f"day({c})", f"day({c})"
        if kind == "quarter":
            return f"quarter({c})", f"quarter({c})"
        # year() of type-preserving day arithmetic: days_add keeps
        # TIMESTAMP (make_interval form) — DuckDB interval addition too
        n = r.randint(1, 400)
        return (f"year(days_add({c}, {n}))",
                f"year({c} + INTERVAL {n} DAY)")

    def pred_pair(self, tbl, depth=0):
        r = self.rng
        kind = r.choice(
            ["cmp", "ilike", "istrue", "isnotfalse", "ndsf", "between",
             "in_", "and_or", "c_ops", "ts_cmp", "char_cmp"]
            if depth < 2 else ["cmp"]
        )
        if kind == "char_cmp":
            # round-6 CHAR pad-insensitive comparison: a CHAR(n) cast as a
            # comparison operand pads/truncates, then compares modulo
            # trailing spaces (chars.test; _cast_char comparison
            # wrap). DuckDB twin: byte-truncate both sides, rtrim, compare.
            scs = self._cols(tbl, "str")
            c = r.choice(scs)
            n = r.randint(1, 12)
            m = r.randint(1, 12)
            side = r.random() < 0.5
            imp_cast = f"cast({c} as char({n}))"
            duck_cast = f"rtrim(substr({c}, 1, {n}))"
            imp_col = f"cast({c} as char({m}))"
            duck_col = f"rtrim(substr({c}, 1, {m}))"
            op = r.choice(["=", "!=", "<", ">="])
            if side:
                return (
                    f"{imp_cast} {op} {imp_col}",
                    f"{duck_cast} {op} {duck_col}",
                )
            return (
                f"{imp_cast} {op} {c}",
                f"{duck_cast} {op} rtrim({c})",
            )
        if kind == "ts_cmp":
            ii, id_ = self.ts_int_pair(tbl, depth + 1)
            op = r.choice(["<", ">=", "="])
            k = r.randint(1992, 1999) if "year" in ii else r.randint(1, 12)
            return f"{ii} {op} {k}", f"{id_} {op} {k}"
        if kind == "and_or":
            op = r.choice(["AND", "OR"])
            a_i, a_d = self.pred_pair(tbl, depth + 1)
            b_i, b_d = self.pred_pair(tbl, depth + 1)
            return f"({a_i} {op} {b_i})", f"({a_d} {op} {b_d})"
        if kind == "c_ops":
            # round-5 C-style logical operators: && = AND, || = OR when
            # the operands carry predicate markers (sql-scanner.flex)
            op_i, op_d = r.choice([("&&", "AND"), ("||", "OR")])
            a_i, a_d = self.pred_pair(tbl, depth + 1)
            b_i, b_d = self.pred_pair(tbl, depth + 1)
            return f"({a_i} {op_i} {b_i})", f"({a_d} {op_d} {b_d})"
        if kind == "cmp":
            ii, id_ = self.int_pair(tbl, depth + 1)
            op = r.choice(["<", "<=", ">", ">=", "=", "!="])
            k = r.randint(0, 300)
            return f"{ii} {op} {k}", f"{id_} {op} {k}"
        if kind == "ilike":
            c = r.choice(self._cols(tbl, "str"))
            pat = r.choice(["%a%", "b%", "%N_1%", "%e"])
            return (f"{c} ilike '{pat.upper()}'",
                    f"lower({c}) LIKE '{pat.lower()}'")
        if kind == "istrue":
            ii, id_ = self.int_pair(tbl, depth + 1)
            k = r.randint(0, 20)
            return (f"istrue(nullif({ii}, {k}) > 2)",
                    f"(nullif({id_}, {k}) > 2) IS TRUE")
        if kind == "isnotfalse":
            ii, id_ = self.int_pair(tbl, depth + 1)
            k = r.randint(0, 20)
            return (f"isnotfalse(nullif({ii}, {k}) > 2)",
                    f"(nullif({id_}, {k}) > 2) IS NOT FALSE")
        if kind == "ndsf":
            ii, id_ = self.int_pair(tbl, depth + 1)
            k = r.randint(0, 9)
            return (f"nullif({ii}, {k}) <=> {k + 1}",
                    f"nullif({id_}, {k}) IS NOT DISTINCT FROM {k + 1}")
        if kind == "between":
            ii, id_ = self.int_pair(tbl, depth + 1)
            lo, hi = r.randint(0, 40), r.randint(41, 300)
            return (f"{ii} between {lo} and {hi}",
                    f"{id_} between {lo} and {hi}")
        if kind == "in_":
            c = r.choice(self._cols(tbl, "int"))
            lits = ", ".join(str(r.randint(0, 30)) for _ in range(3))
            neg = "not " if r.random() < 0.3 else ""
            return f"{c} {neg}in ({lits})", f"{c} {neg}in ({lits})"
        raise AssertionError(kind)

    def gen(self):
        r = self.rng
        tbl = r.choice(_DIALECT_TABLES)
        if r.random() < 0.25:
            # ORDER BY + LIMIT with a NULLABLE key and NO explicit NULLS
            # direction: exercises the dialect's Impala-default null
            # ordering rewrite (ASC → NULLS LAST, DESC → NULLS FIRST) —
            # the DuckDB twin spells Impala's defaults explicitly.
            key = TABLES[tbl]["key"][0]
            ii, id_ = self.int_pair(tbl)
            k = r.randint(0, 25)
            d = r.choice(["ASC", "DESC"])
            duck_nulls = "NULLS LAST" if d == "ASC" else "NULLS FIRST"
            n = r.randint(3, 30)
            return (
                f"SELECT nullif({ii}, {k}) AS s, {key} AS k FROM {tbl} "
                f"ORDER BY s {d}, k LIMIT {n}",
                f"SELECT nullif({id_}, {k}) AS s, {key} AS k FROM {tbl} "
                f"ORDER BY s {d} {duck_nulls}, k LIMIT {n}",
            )
        if r.random() < 0.5:
            # projection + filter
            n = r.randint(2, 4)
            pairs = [
                r.choice([self.int_pair, self.str_pair])(tbl)
                for _ in range(n)
            ]
            sel_i = ", ".join(f"{p[0]} AS c{i}" for i, p in enumerate(pairs))
            sel_d = ", ".join(f"{p[1]} AS c{i}" for i, p in enumerate(pairs))
            wi, wd = self.pred_pair(tbl)
            return (
                f"SELECT {sel_i} FROM {tbl} WHERE {wi}",
                f"SELECT {sel_d} FROM {tbl} WHERE {wd}",
            )
        # aggregation over a dialect group key
        gi, gd = r.choice([self.int_pair, self.str_pair])(tbl)
        ai, ad = self.int_pair(tbl)
        aggs = r.choice(["COUNT(*)", "MIN", "MAX", "SUM", "VARP"])
        if aggs == "COUNT(*)":
            agg_i = agg_d = "COUNT(*)"
        elif aggs == "VARP":
            # round-5 variance alias (BuiltinsDb.java:1270) — rounded so a
            # last-ulp accumulation difference can't flip the hash
            agg_i = f"round(variance_pop({ai}), 4)"
            agg_d = f"round(var_pop({ad}), 4)"
        else:
            agg_i, agg_d = f"{aggs}({ai})", f"{aggs}({ad})"
        wi, wd = self.pred_pair(tbl)
        return (
            f"SELECT {gi} AS g, {agg_i} AS a FROM {tbl} "
            f"WHERE {wi} GROUP BY {gi}",
            f"SELECT {gd} AS g, {agg_d} AS a FROM {tbl} "
            f"WHERE {wd} GROUP BY {gd}",
        )


def run_dialect_differential(engine, con, seed: int):
    """Returns (ok, impala_sql, detail). `engine` is hopspark Engine."""
    imp, duck = DialectGen(seed).gen()
    try:
        sdf = engine.sql(imp)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001
        return False, imp, f"engine error: {type(exc).__name__}: {exc}"[:400]
    try:
        ores = con.sql(duck)
        ocols = list(ores.columns)
        orows = ores.fetchall()
    except Exception as exc:  # noqa: BLE001
        return False, imp, f"duckdb error on twin: {exc}"[:400] + f"\n{duck}"
    if sorted(scols) != sorted(ocols):
        return False, imp, f"schema: {scols} vs {ocols}"
    if len(srows) != len(orows):
        return False, imp, (
            f"rows: spark={len(srows)} duckdb={len(orows)}\ntwin: {duck}"
        )
    sn, on = _norm(srows, scols), _norm(orows, ocols)
    if sn != on:
        d = next((i, a, b) for i, (a, b) in enumerate(zip(sn, on)) if a != b)
        return False, imp, (
            f"hash: row {d[0]}: spark={d[1]} duckdb={d[2]}\ntwin: {duck}"
        )
    return True, imp, f"ok ({len(srows)} rows)"


# ===========================================================================
# Region fuzzers (round 5): nested types, DECIMAL arithmetic, correlated
# subqueries — the three grammar regions the round-4 brief flagged as the
# likeliest residual divergence surface (reference analogue:
# tests/comparison/query_generator.py's nested/decimal profiles).
#
# Each generator yields a (spark_sql, duck_sql) PAIR: nested/decimal need
# dialect twins (array constructors and list functions are spelled
# differently; DuckDB's decimal→int cast rounds where Spark truncates);
# subquery pairs are identical strings. Pairs share run_pair_differential.
# ===========================================================================


class NestedGen:
    """Arrays/maps synthesized from base-table columns, then exploded,
    zipped, reduced, or transformed. Elements reuse Gen's scoped int
    grammar, COALESCEd where a NULL element would diverge by design
    (DuckDB list_sum skips NULLs; Spark aggregate() propagates)."""

    TABLES = ["nation", "customer", "supplier", "part", "orders"]

    def __init__(self, seed: int):
        self.rng = random.Random(1_000_003 * (seed + 1))
        self.g = Gen(seed)
        self.g.rng = self.rng  # one stream: pair stays deterministic

    def _elem(self, scope) -> str:
        return f"COALESCE({self.g.int_expr(scope)}, 0)"

    def gen(self) -> tuple[str, str]:
        r = self.rng
        tbl = r.choice(self.TABLES)
        scope = [("t0", tbl)]
        key = TABLES[tbl]["key"][0]
        es = [self._elem(scope) for _ in range(5)]
        pred = self.g.pred(scope)
        cte_s = (
            f"WITH t AS (SELECT t0.{key} AS k, "
            f"array({es[0]}, {es[1]}, {es[2]}) AS a, "
            f"array({es[3]}, {es[4]}) AS b "
            f"FROM {tbl} t0 WHERE {pred})"
        )
        cte_d = cte_s.replace(
            f"array({es[0]}, {es[1]}, {es[2]})", f"[{es[0]}, {es[1]}, {es[2]}]"
        ).replace(f"array({es[3]}, {es[4]})", f"[{es[3]}, {es[4]}]")
        kind = r.choice(
            ["explode", "zip", "reduce", "lambda", "agg_sum", "map"]
        )
        if kind == "explode":
            spark = f"{cte_s} SELECT k, x FROM t LATERAL VIEW explode(a) v AS x"
            duck = f"{cte_d} SELECT k, unnest(a) AS x FROM t"
            return spark, duck
        if kind == "zip":
            # zipping unnest: the 3-long a against the 2-long b — Spark's
            # element_at past b's end is NULL (ANSI off), matching DuckDB's
            # NULL-padded multi-unnest zip.
            spark = (
                f"{cte_s} SELECT k, x, element_at(b, pos + 1) AS y "
                f"FROM t LATERAL VIEW posexplode(a) v AS pos, x"
            )
            duck = f"{cte_d} SELECT k, unnest(a) AS x, unnest(b) AS y FROM t"
            return spark, duck
        if kind == "reduce":
            i = r.randint(1, 4)  # 4 is out of bounds for the 3-long array
            c = r.randint(0, 9)
            spark = (
                f"{cte_s} SELECT k, size(a) AS n, element_at(a, {i}) AS e, "
                f"array_contains(a, {c}) AS c, sort_array(a) AS s FROM t"
            )
            duck = (
                f"{cte_d} SELECT k, CAST(len(a) AS INT) AS n, "
                f"list_extract(a, {i}) AS e, "
                f"COALESCE(array_contains(a, {c}), FALSE) AS c, "
                f"list_sort(a) AS s FROM t"
            )
            return spark, duck
        if kind == "lambda":
            c, d = r.randint(0, 50), r.randint(1, 9)
            spark = (
                f"{cte_s} SELECT k, filter(a, x -> x > {c}) AS f, "
                f"transform(b, x -> x + {d}) AS m FROM t"
            )
            duck = (
                f"{cte_d} SELECT k, list_filter(a, x -> x > {c}) AS f, "
                f"list_transform(b, x -> x + {d}) AS m FROM t"
            )
            return spark, duck
        if kind == "agg_sum":
            spark = (
                f"{cte_s} SELECT k, aggregate(a, CAST(0 AS BIGINT), "
                f"(s, x) -> s + x) AS total FROM t"
            )
            duck = (
                f"{cte_d} SELECT k, CAST(list_sum(a) AS BIGINT) AS total "
                f"FROM t"
            )
            return spark, duck
        # map: value lookup incl. a missing key (NULL both sides)
        lk = r.randint(1, 3)
        spark = (
            f"{cte_s} SELECT k, element_at("
            f"map_from_arrays(array(1, 2), array(a[0], a[1])), {lk}) AS v "
            f"FROM t"
        )
        duck = (
            f"{cte_d} SELECT k, map([1, 2], [a[1], a[2]])[{lk}][1] AS v "
            f"FROM t"
        )
        return spark, duck


class DecimalGen:
    """DECIMAL arithmetic result values under random (p, s) pairs —
    +, -, *, % share result-scale rules across Spark and DuckDB; division
    scales differ by design, so it is normalized with round(_, s); the
    decimal→integer cast pair encodes the known dialect delta (Spark/Impala
    truncate toward zero, DuckDB rounds — twin wraps trunc())."""

    #: (table, double column) sources with bounded magnitudes
    SOURCES = [
        ("customer", "c_acctbal"),
        ("supplier", "s_acctbal"),
        ("part", "p_retailprice"),
        ("orders", "o_totalprice"),
    ]

    def __init__(self, seed: int):
        self.rng = random.Random(2_000_003 * (seed + 1))
        self.g = Gen(seed)
        self.g.rng = self.rng

    def _dec_term(self, col: str) -> tuple[str, int]:
        r = self.rng
        s = r.randint(0, 4)
        p = s + r.randint(8, 12)
        if r.random() < 0.3:
            lit = f"{r.randint(1, 999)}.{r.randint(0, 99):02d}"
            return f"CAST({lit} AS DECIMAL({p},{max(s, 2)}))", max(s, 2)
        return f"CAST({col} AS DECIMAL({p},{s}))", s

    def gen(self) -> tuple[str, str]:
        r = self.rng
        tbl, col = r.choice(self.SOURCES)
        scope = [("t0", tbl)]
        key = TABLES[tbl]["key"][0]
        a, sa = self._dec_term(f"t0.{col}")
        b, sb = self._dec_term(f"t0.{col}")
        pred = self.g.pred(scope)
        kind = r.choice(["add", "sub", "mul", "mod", "div", "int_cast", "agg"])
        if kind in ("add", "sub", "mul", "mod"):
            if kind == "mul":
                # keep the product inside 18 digits: DuckDB's decimal
                # multiply uses an int64 intermediate and ERRORS past it
                # (Spark widens to DECIMAL(38)); p<=9, s<=2 per operand
                # bounds the result at p1+p2 = 18.
                sa, sb = r.randint(0, 2), r.randint(0, 2)
                a = f"CAST({col} AS DECIMAL({sa + 7},{sa}))"
                b = f"CAST({r.randint(1, 99)}.{r.randint(0, 9)} AS DECIMAL(9,2))"
            op = {"add": "+", "sub": "-", "mul": "*", "mod": "%"}[kind]
            expr = f"({a} {op} {b})"
            sel = f"t0.{key} AS k, {expr} AS v"
            sql = f"SELECT {sel} FROM {tbl} t0 WHERE {pred}"
            return sql, sql
        if kind == "div":
            # division result TYPE is engine-specific (DuckDB can promote
            # wide decimal division to DOUBLE); normalize the VALUE to
            # DOUBLE on both sides and compare under the round-6 rule.
            s_out = r.randint(2, 6)
            expr = f"CAST(round({a} / (ABS({b}) + 1), {s_out}) AS DOUBLE)"
            sql = (
                f"SELECT t0.{key} AS k, {expr} AS v FROM {tbl} t0 "
                f"WHERE {pred}"
            )
            return sql, sql
        if kind == "int_cast":
            spark = (
                f"SELECT t0.{key} AS k, CAST({a} AS BIGINT) AS v "
                f"FROM {tbl} t0 WHERE {pred}"
            )
            duck = (
                f"SELECT t0.{key} AS k, CAST(trunc({a}) AS BIGINT) AS v "
                f"FROM {tbl} t0 WHERE {pred}"
            )
            return spark, duck
        # agg: SUM keeps the operand scale in both engines. AVG is
        # engine-specific (DuckDB: DOUBLE running mean; Spark: DECIMAL
        # rounded at s+4) — both sides restate it as the deterministic
        # exact-SUM-over-COUNT with ONE IEEE division (the repo's money
        # discipline, operators/_util.py).
        gcol = {
            "customer": "t0.c_nationkey",
            "supplier": "t0.s_nationkey",
            "part": "t0.p_brand",
            "orders": "t0.o_orderstatus",
        }[tbl]
        sql = (
            f"SELECT {gcol} AS g, SUM({a}) AS s, "
            f"CAST(SUM({a}) AS DOUBLE) / COUNT(*) AS m "
            f"FROM {tbl} t0 WHERE {pred} GROUP BY {gcol}"
        )
        return sql, sql


class SubqGen:
    """Correlated scalar / EXISTS / IN subqueries up to two levels deep,
    equality-correlated along the FK graph (the correlation shape both
    engines and the reference's planner decorrelate). Identical SQL on
    both sides; integer aggregates are CAST to BIGINT inside the subquery
    so DuckDB's HUGEINT widening can't leak into the compared schema."""

    def __init__(self, seed: int):
        self.rng = random.Random(3_000_003 * (seed + 1))
        self.g = Gen(seed)
        self.g.rng = self.rng

    def gen(self) -> tuple[str, str]:
        r = self.rng
        kind = r.choice(
            ["scalar_count", "scalar_agg", "exists2", "not_exists",
             "not_in", "in_exists", "scalar_cmp"]
        )
        p_c = self.g.pred([("c", "customer")])
        p_o = self.g.pred([("o", "orders")])
        if kind == "scalar_count":
            sql = (
                f"SELECT c.c_custkey, (SELECT COUNT(*) FROM orders o "
                f"WHERE o.o_custkey = c.c_custkey AND {p_o}) AS n "
                f"FROM customer c WHERE {p_c}"
            )
        elif kind == "scalar_agg":
            agg = r.choice(["MIN", "MAX", "SUM"])
            e_o = self.g.int_expr([("o", "orders")])
            sql = (
                f"SELECT c.c_custkey, COALESCE((SELECT CAST({agg}({e_o}) "
                f"AS BIGINT) FROM orders o WHERE o.o_custkey = c.c_custkey "
                f"AND {p_o}), -1) AS v FROM customer c WHERE {p_c}"
            )
        elif kind == "exists2":
            sql = (
                f"SELECT n.n_nationkey, n.n_name FROM nation n "
                f"WHERE EXISTS (SELECT 1 FROM customer c "
                f"WHERE c.c_nationkey = n.n_nationkey AND {p_c} "
                f"AND EXISTS (SELECT 1 FROM orders o "
                f"WHERE o.o_custkey = c.c_custkey AND {p_o}))"
            )
        elif kind == "not_exists":
            p_l = self.g.pred([("l", "lineitem")])
            sql = (
                f"SELECT s.s_suppkey FROM supplier s "
                f"WHERE NOT EXISTS (SELECT 1 FROM lineitem l "
                f"WHERE l.l_suppkey = s.s_suppkey AND {p_l})"
            )
        elif kind == "not_in":
            nullif = (
                f"NULLIF(o.o_custkey, {r.randint(1, 50)})"
                if r.random() < 0.5
                else "o.o_custkey"
            )
            sql = (
                f"SELECT c.c_custkey FROM customer c "
                f"WHERE {p_c} AND c.c_custkey NOT IN "
                f"(SELECT {nullif} FROM orders o WHERE {p_o})"
            )
        elif kind == "in_exists":
            p_r = self.g.pred([("r", "region")])
            sql = (
                f"SELECT c.c_custkey FROM customer c "
                f"WHERE {p_c} AND c.c_nationkey IN "
                f"(SELECT n.n_nationkey FROM nation n "
                f"WHERE EXISTS (SELECT 1 FROM region r "
                f"WHERE r.r_regionkey = n.n_regionkey AND {p_r}))"
            )
        else:  # scalar_cmp: correlated AVG in a WHERE comparison
            sql = (
                f"SELECT c.c_custkey FROM customer c "
                f"WHERE FLOOR(c.c_acctbal) > (SELECT FLOOR(AVG("
                f"c2.c_acctbal)) FROM customer c2 "
                f"WHERE c2.c_nationkey = c.c_nationkey)"
            )
        return sql, sql


class CollectionGen:
    """Round-5 dialect surfaces: implicit collection joins
    (FROM t, t.arr a — INNER semantics, a.item/a.pos, m.key/m.value) and
    select-list zipping UNNEST, generated as IMPALA SQL and passed
    through translate(), differentially checked against DuckDB's unnest.
    One array branch is conditionally EMPTY so the inner-join row-drop
    contract is exercised, not just the happy path."""

    TABLES = ["nation", "customer", "supplier", "part", "orders"]

    def __init__(self, seed: int):
        self.rng = random.Random(7_000_003 * (seed + 1))
        self.g = Gen(seed)
        self.g.rng = self.rng

    def _elem(self, scope) -> str:
        return f"COALESCE({self.g.int_expr(scope)}, 0)"

    def gen(self) -> tuple[str, str]:
        from hopspark.dialect import translate

        r = self.rng
        tbl = r.choice(self.TABLES)
        scope = [("t0", tbl)]
        key = TABLES[tbl]["key"][0]
        es = [self._elem(scope) for _ in range(5)]
        pred = self.g.pred(scope)
        pred2 = self.g.pred(scope)
        # `a` empties out on pred2 (inner semantics must drop those rows)
        a_imp = (
            f"CASE WHEN {pred2} THEN array({es[0]}, {es[1]}, {es[2]}) "
            f"ELSE array() END"
        )
        b_imp = f"array({es[3]}, {es[4]})"
        cte_imp = (
            f"WITH t AS (SELECT t0.{key} AS k, {a_imp} AS a, {b_imp} AS b "
            f"FROM {tbl} t0 WHERE {pred})"
        )
        a_d = (
            f"CASE WHEN {pred2} THEN [{es[0]}, {es[1]}, {es[2]}] "
            f"ELSE [] END"
        )
        cte_d = (
            f"WITH t AS (SELECT t0.{key} AS k, CAST({a_d} AS INT[]) AS a, "
            f"[{es[3]}, {es[4]}] AS b "
            f"FROM {tbl} t0 WHERE {pred})"
        )
        kind = r.choice(["cjoin", "cjoin_agg", "sunnest", "mapjoin"])
        if kind == "cjoin":
            imp = (
                f"{cte_imp} SELECT k, va.item AS x, va.pos AS p "
                f"FROM t, t.a va"
            )
            duck = (
                f"{cte_d} SELECT k, unnest(a) AS x, "
                f"CAST(generate_subscripts(a, 1) - 1 AS INT) AS p FROM t"
            )
            return translate(imp), duck
        if kind == "cjoin_agg":
            imp = (
                f"{cte_imp} SELECT k, COUNT(va.item) AS n, "
                f"CAST(SUM(va.item) AS BIGINT) AS s "
                f"FROM t, t.a va GROUP BY k"
            )
            duck = (
                f"{cte_d} SELECT k, COUNT(x) AS n, "
                f"CAST(SUM(x) AS BIGINT) AS s FROM "
                f"(SELECT k, unnest(a) AS x FROM t) GROUP BY k"
            )
            return translate(imp), duck
        if kind == "sunnest":
            imp = f"{cte_imp} SELECT k, unnest(a) AS x, unnest(b) AS y FROM t"
            duck = f"{cte_d} SELECT k, unnest(a) AS x, unnest(b) AS y FROM t"
            return translate(imp), duck
        # mapjoin: 2-entry map from the first b elements
        imp = (
            f"{cte_imp} SELECT k, m.key AS mk, m.value AS mv "
            f"FROM (SELECT k, map(1, b[0], 2, b[1]) AS mp FROM t) t2, "
            f"t2.mp m"
        )
        duck = (
            f"{cte_d} SELECT k, e.key AS mk, e.value AS mv FROM "
            f"(SELECT k, unnest(map_entries(map([1, 2], [b[1], b[2]]))) AS e "
            f"FROM t)"
        )
        return translate(imp), duck


class ValuesGen:
    """Round-6 dialect surface: Impala VALUES statements — one-outer-paren
    multi-row form, first-row column aliases (bare and AS), trailing
    ORDER BY/LIMIT — generated as IMPALA SQL and passed through
    translate(), differentially checked against DuckDB's
    (VALUES ...) t(names) spelling."""

    def __init__(self, seed: int):
        self.rng = random.Random(9_000_017 * (seed + 1))

    def gen(self) -> tuple[str, str]:
        from hopspark.dialect import translate

        r = self.rng
        ncol = r.randint(1, 3)
        nrow = r.randint(1, 4)
        names = [f"c{i}" for i in range(ncol)]

        # one type per COLUMN (mixed types per column diverge between
        # engines' coercion rules and can error in Spark: int vs boolean)
        coltypes = [r.choice(["int", "str", "bool"]) for _ in range(ncol)]

        def lit(ty: str) -> str:
            if r.random() < 0.15:
                return "NULL"
            if ty == "int":
                return str(r.randint(-99, 999))
            if ty == "str":
                s = r.choice(["a", "bee", "see d", "x''y"])
                return f"'{s}'"
            return r.choice(["true", "false"])

        rows = [[lit(t) for t in coltypes] for _ in range(nrow)]
        # when sorting+limiting, column 0 must be distinct non-null ints —
        # LIMIT over tied order keys picks engine-dependent rows
        order = r.random() < 0.7
        if order:
            keys = r.sample(range(-99, 999), nrow)
            for row, k in zip(rows, keys):
                row[0] = str(k)
        first = ", ".join(
            f"{v}{' AS ' if r.random() < 0.5 else ' '}{n}"
            for v, n in zip(rows[0], names)
        )
        rest = ", ".join("(" + ", ".join(row) + ")" for row in rows[1:])
        body = f"({first})" + (f", {rest}" if rest else "")
        # Impala's one-outer-paren multi-row spelling half the time
        imp = (
            f"values({body})" if (nrow > 1 and r.random() < 0.5)
            else f"values{body}"
        )
        duck_rows = ", ".join("(" + ", ".join(row) + ")" for row in rows)
        duck = f"SELECT * FROM (VALUES {duck_rows}) t({', '.join(names)})"
        if order:
            imp += f" order by {names[0]}"
            duck += f" ORDER BY {names[0]}"
        lim = r.randint(1, nrow + 1) if r.random() < 0.4 and order else None
        if lim is not None:
            imp += f" limit {lim}"
            duck += f" LIMIT {lim}"
        return translate(imp), duck


class FramesGen:
    """Round-6 region: explicit window FRAMES — ROWS/RANGE BETWEEN with
    numeric offsets (including frames ending before the current row and
    empty frames), UNBOUNDED ends, and IGNORE NULLS value functions
    (first/last/nth_value).  These are the analytic-fns.test semantics the
    main grammar's q_window doesn't reach; the two engines spell
    IGNORE NULLS differently (Spark: after the close paren; DuckDB: inside
    the argument list), so this is a pair generator over an inline VALUES
    relation with a unique int order key (total order ⇒ deterministic)."""

    AGGS = ["SUM", "MIN", "MAX", "COUNT"]

    def __init__(self, seed: int):
        self.rng = random.Random(11_000_083 * (seed + 1))

    def _frame(self) -> str:
        r = self.rng
        kind = r.choice(["ROWS", "RANGE"])
        starts = ["UNBOUNDED PRECEDING", f"{r.randint(0, 4)} PRECEDING",
                  "CURRENT ROW"]
        ends = ["CURRENT ROW", f"{r.randint(0, 4)} FOLLOWING",
                "UNBOUNDED FOLLOWING"]
        lo = r.choice(starts)
        hi = r.choice(ends)
        if kind == "ROWS" and r.random() < 0.3:
            # frame entirely before the current row — legal and a classic
            # empty-frame edge (start must not be after end)
            a, b = sorted([r.randint(1, 4), r.randint(1, 4)], reverse=True)
            lo, hi = f"{a} PRECEDING", f"{b} PRECEDING"
        return f"{kind} BETWEEN {lo} AND {hi}"

    def gen(self) -> tuple[str, str]:
        r = self.rng
        nrow = r.randint(4, 9)
        ks = r.sample(range(0, 50), nrow)
        rows = []
        for k in ks:
            g = r.randint(0, 2)
            v = "NULL" if r.random() < 0.25 else str(r.randint(-20, 99))
            rows.append(f"({k}, {g}, {v})")
        rel = f"(VALUES {', '.join(rows)}) t(k, g, v)"
        part = "PARTITION BY g " if r.random() < 0.6 else ""
        over_base = f"{part}ORDER BY k"

        spark_exprs, duck_exprs = [], []
        for i in range(r.randint(1, 3)):
            frame = self._frame()
            over = f"({over_base} {frame})"
            pick = r.random()
            if pick < 0.45:
                agg = r.choice(self.AGGS)
                e = f"{agg}(v) OVER {over} AS c{i}"
                spark_exprs.append(e)
                duck_exprs.append(e)
            elif pick < 0.75:
                fn = r.choice(["FIRST_VALUE", "LAST_VALUE"])
                if r.random() < 0.5:
                    spark_exprs.append(
                        f"{fn}(v) IGNORE NULLS OVER {over} AS c{i}"
                    )
                    duck_exprs.append(
                        f"{fn}(v IGNORE NULLS) OVER {over} AS c{i}"
                    )
                else:
                    e = f"{fn}(v) OVER {over} AS c{i}"
                    spark_exprs.append(e)
                    duck_exprs.append(e)
            else:
                n = r.randint(1, 3)
                e = f"NTH_VALUE(v, {n}) OVER {over} AS c{i}"
                spark_exprs.append(e)
                duck_exprs.append(e)
        sel_s = ", ".join(["k", "g"] + spark_exprs)
        sel_d = ", ".join(["k", "g"] + duck_exprs)
        tail = " ORDER BY k"
        return (
            f"SELECT {sel_s} FROM {rel}{tail}",
            f"SELECT {sel_d} FROM {rel}{tail}",
        )


class SubplanGen:
    """Round-9 nested surfaces: correlated subplan subqueries over a
    relative collection (EXISTS / NOT EXISTS / scalar COUNT / derived
    table — nested-types-subplan.test idioms) and the rootless table-path
    scan, generated as IMPALA SQL and run through the engine's statement
    translation (the schema-resolved rewrites + translate()),
    against DuckDB list-lambda twins.  The nested fixture is a per-key
    collect_list over a base table — the element MULTISET is
    deterministic even though element order is not, so only order-free
    shapes are generated (no subplan LIMIT)."""

    TABLES = ["nation", "customer", "supplier", "orders"]
    _ENGINE = None  # per-process cache: Engine.__init__ re-registers ~300
    # SQL kernels, far too slow to pay per seed

    def __init__(self, seed: int):
        self.rng = random.Random(9_000_011 * (seed + 1))

    def gen(self) -> tuple[str, str]:
        from pyspark.sql import SparkSession

        from hopspark.engine import Engine

        r = self.rng
        tbl = r.choice(self.TABLES)
        meta = TABLES[tbl]
        key = meta["key"][0]
        ints = [c for c, k in meta["cols"].items() if k == "int"]
        x = r.choice(ints)
        y = r.choice(ints)
        mod = r.randint(2, 7)
        thr = r.randint(0, 30)
        vname = f"__fz_sp_{tbl}"
        spark = SparkSession.getActiveSession()
        if SubplanGen._ENGINE is None or SubplanGen._ENGINE.spark is not spark:
            SubplanGen._ENGINE = Engine(
                spark=spark, sf_dir="/root/testdata/sf0.001",
                register_tables=False,
            )
        eng = SubplanGen._ENGINE
        elem = (
            f"named_struct('x', COALESCE({x}, 0) % 100, "
            f"'y', COALESCE({y}, 0) % 100)"
        )
        spark.sql(
            f"CREATE OR REPLACE TEMP VIEW {vname} AS "
            f"SELECT k, arr, transform(arr, __e -> array(__e.x, __e.y))"
            f" AS arr2, map_from_entries(transform("
            f"sequence(1, size(arr)), __i -> struct(__i, arr[__i-1].y)))"
            f" AS mp FROM (SELECT {key} % 50 AS k,"
            f" collect_list({elem}) AS arr "
            f"FROM {tbl} GROUP BY {key} % 50)"
        )
        cte_d = (
            f"WITH t0 AS (SELECT {key} % 50 AS k, "
            f"list(struct_pack(x := COALESCE({x}, 0) % 100, "
            f"y := COALESCE({y}, 0) % 100)) AS arr "
            f"FROM {tbl} GROUP BY {key} % 50), "
            f"t AS (SELECT k, arr, list_transform(arr,"
            f" e -> [e.x, e.y]) AS arr2 FROM t0)"
        )
        kind = r.choice(
            ["exists", "not_exists", "scalar_count", "derived", "rootless",
             "scalar_sum", "scalar_minmax", "scalar_avg",
             "lateral_agg_alias", "flatten_hop_count", "lateral_agg_where",
             "multi_agg", "map_agg", "grouping_body"]
        )
        if kind in ("exists", "not_exists"):
            neg = "NOT " if kind == "not_exists" else ""
            imp = (
                f"SELECT k FROM {vname} c WHERE {neg}EXISTS "
                f"(SELECT 1 FROM c.arr WHERE x % {mod} = 0 AND y > {thr})"
                f" ORDER BY k"
            )
            duck = (
                f"{cte_d} SELECT k FROM t WHERE {neg}len(list_filter("
                f"arr, e -> e.x % {mod} = 0 AND e.y > {thr})) > 0"
                f" ORDER BY k"
            )
        elif kind == "scalar_count":
            imp = (
                f"SELECT k, (SELECT COUNT(*) FROM c.arr WHERE x > {thr})"
                f" AS n FROM {vname} c ORDER BY k"
            )
            duck = (
                f"{cte_d} SELECT k, len(list_filter(arr,"
                f" e -> e.x > {thr})) AS n FROM t ORDER BY k"
            )
        elif kind == "scalar_sum":
            # r10: the aggregate HOF fast path (size/aggregate lowering)
            imp = (
                f"SELECT k, CAST((SELECT SUM(x) FROM c.arr"
                f" WHERE y % {mod} = 0) AS BIGINT)"
                f" AS s FROM {vname} c ORDER BY k"
            )
            duck = (
                f"{cte_d} SELECT k, CAST(list_sum(list_transform("
                f"list_filter(arr, e -> e.y % {mod} = 0), e -> e.x))"
                f" AS BIGINT) AS s FROM t ORDER BY k"
            )
        elif kind == "scalar_minmax":
            fn = r.choice(["min", "max"])
            imp = (
                f"SELECT k, (SELECT {fn.upper()}(x) FROM c.arr"
                f" WHERE x > {thr}) AS m FROM {vname} c ORDER BY k"
            )
            duck = (
                f"{cte_d} SELECT k, list_aggregate(list_transform("
                f"list_filter(arr, e -> e.x > {thr}), e -> e.x),"
                f" '{fn}') AS m FROM t ORDER BY k"
            )
        elif kind == "scalar_avg":
            imp = (
                f"SELECT k, CAST((SELECT AVG(y) FROM c.arr"
                f" WHERE x % {mod} = 0) AS DOUBLE)"
                f" AS a FROM {vname} c ORDER BY k"
            )
            duck = (
                f"{cte_d} SELECT k, CAST(list_avg(list_transform("
                f"list_filter(arr, e -> e.x % {mod} = 0), e -> e.y))"
                f" AS DOUBLE) AS a FROM t ORDER BY k"
            )
        elif kind == "lateral_agg_alias":
            # r10 session 2: lateral COUNT over a collection alias's
            # elements — lowers to an inline size() on the parent scan
            imp = (
                f"SELECT k, cnt FROM {vname} c, c.arr2 a1,"
                f" (SELECT COUNT(*) cnt FROM a1.item) v"
            )
            duck = (
                f"{cte_d} SELECT k, len(u) AS cnt FROM"
                f" (SELECT k, unnest(arr2) AS u FROM t) s"
            )
        elif kind == "flatten_hop_count":
            # multi-hop flatten: count over c.arr2.item inside a scalar
            # subquery
            imp = (
                f"SELECT k, CAST((SELECT COUNT(i.item) FROM c.arr2.item i"
                f" WHERE i.item > {thr}) AS BIGINT) AS n"
                f" FROM {vname} c"
            )
            duck = (
                f"{cte_d} SELECT k, CAST(len(list_filter(flatten(arr2),"
                f" e -> e > {thr})) AS BIGINT) AS n FROM t"
            )
        elif kind == "lateral_agg_where":
            imp = (
                f"SELECT k, s FROM {vname} c, c.arr2 a1,"
                f" (SELECT SUM(i.item) s FROM a1.item i"
                f" WHERE i.item % {mod} = 0) v"
            )
            duck = (
                f"{cte_d} SELECT k, CAST(list_sum(list_filter(u,"
                f" e -> e % {mod} = 0)) AS BIGINT) AS s FROM"
                f" (SELECT k, unnest(arr2) AS u FROM t) s2"
            )
        elif kind == "multi_agg":
            # r11: MULTI-aggregate lateral derived table — every item
            # lowers to an inline HOF in one substitution pass
            imp = (
                f"SELECT k, CAST(n AS BIGINT) AS n, CAST(s AS BIGINT)"
                f" AS s, m FROM {vname} c,"
                f" (SELECT COUNT(*) n, SUM(x) s, MAX(y) m"
                f"  FROM c.arr WHERE x % {mod} = 0) v ORDER BY k"
            )
            duck = (
                f"{cte_d} SELECT k,"
                f" CAST(len(list_filter(arr, e -> e.x % {mod} = 0))"
                f" AS BIGINT) AS n,"
                f" CAST(list_sum(list_transform(list_filter(arr,"
                f" e -> e.x % {mod} = 0), e -> e.x)) AS BIGINT) AS s,"
                f" list_max(list_transform(list_filter(arr,"
                f" e -> e.x % {mod} = 0), e -> e.y)) AS m"
                f" FROM t ORDER BY k"
            )
        elif kind == "map_agg":
            # r11: scalar aggregates over a MAP subplan target — lowered
            # onto map_entries(); map-typed correlated refs are
            # unplannable in Catalyst, so the HOF is the only plan
            imp = (
                f"SELECT k, CAST((SELECT COUNT(*) FROM c.mp) AS BIGINT)"
                f" AS n, CAST((SELECT SUM(value) FROM c.mp"
                f" WHERE value % {mod} = 0) AS BIGINT) AS s"
                f" FROM {vname} c ORDER BY k"
            )
            duck = (
                f"{cte_d} SELECT k, CAST(len(arr) AS BIGINT) AS n,"
                f" CAST(list_sum(list_filter(list_transform(arr,"
                f" e -> e.y), v -> v % {mod} = 0)) AS BIGINT) AS s"
                f" FROM t ORDER BY k"
            )
        elif kind == "grouping_body":
            # r12: GENERAL-path lateral (grouping body — the shape the
            # HOF fast paths don't absorb).  Catalyst decorrelates it
            # into a join KEYED ON THE ARRAY; the view's collect_list is
            # unsorted, so this exercises the decorrelation-landmine
            # guard end-to-end (engine._nondet_guard_spans must deep-
            # sort the outer collection or the join matches nothing).
            imp = (
                f"SELECT k, v.g AS g, CAST(v.n AS BIGINT) AS n"
                f" FROM {vname} c,"
                f" (SELECT x % {mod} AS g, COUNT(*) AS n FROM c.arr"
                f"  WHERE y > {thr} GROUP BY x % {mod}) v"
                f" ORDER BY k, g"
            )
            duck = (
                f"{cte_d} SELECT k, u.x % {mod} AS g,"
                f" CAST(COUNT(*) AS BIGINT) AS n FROM"
                f" (SELECT k, unnest(arr) AS u FROM t) s"
                f" WHERE u.y > {thr} GROUP BY k, u.x % {mod}"
                f" ORDER BY k, g"
            )
        elif kind == "derived":
            imp = (
                f"SELECT k, v.x AS x, v.y AS y FROM {vname} c, "
                f"(SELECT * FROM c.arr WHERE x % {mod} = 0) v "
                f"ORDER BY k, x, y"
            )
            duck = (
                f"{cte_d} SELECT k, u.x AS x, u.y AS y FROM "
                f"(SELECT k, unnest(arr) AS u FROM t) "
                f"WHERE u.x % {mod} = 0 ORDER BY k, x, y"
            )
        else:  # rootless table-path scan of the collection
            imp = (
                f"SELECT x, y FROM {vname}.arr WHERE x > {thr} "
                f"ORDER BY x, y"
            )
            duck = (
                f"{cte_d} SELECT u.x AS x, u.y AS y FROM "
                f"(SELECT unnest(arr) AS u FROM t) WHERE u.x > {thr} "
                f"ORDER BY x, y"
            )
        return eng._translate_statement(imp), duck


REGION_GENS = {
    "nested": NestedGen,
    "decimal": DecimalGen,
    "subquery": SubqGen,
    "collection": CollectionGen,
    "values": ValuesGen,
    "frames": FramesGen,
    "subplan": SubplanGen,
}


def run_pair_differential(spark, con, region: str, seed: int):
    """Returns (ok, spark_sql, detail) for one (spark, duck) pair."""
    spark_sql, duck_sql = REGION_GENS[region](seed).gen()
    try:
        sdf = spark.sql(spark_sql)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as exc:  # noqa: BLE001
        return False, spark_sql, (
            f"spark error: {type(exc).__name__}: {exc}"[:400]
        )
    try:
        ores = con.sql(duck_sql)
        ocols = list(ores.columns)
        orows = ores.fetchall()
    except Exception as exc:  # noqa: BLE001
        return False, spark_sql, (
            f"duckdb error: {exc}"[:400] + f"\ntwin: {duck_sql}"
        )
    if sorted(scols) != sorted(ocols):
        return False, spark_sql, f"schema: {scols} vs {ocols}"
    if len(srows) != len(orows):
        return False, spark_sql, (
            f"rows: spark={len(srows)} duckdb={len(orows)}\ntwin: {duck_sql}"
        )
    sn, on = _norm(srows, scols), _norm(orows, ocols)
    if sn != on:
        d = next((i, a, b) for i, (a, b) in enumerate(zip(sn, on)) if a != b)
        return False, spark_sql, (
            f"hash: row {d[0]}: spark={d[1]} duckdb={d[2]}\ntwin: {duck_sql}"
        )
    return True, spark_sql, f"ok ({len(srows)} rows)"
