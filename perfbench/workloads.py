"""The benchmark's three workloads.

A workload is a fixed list of operations replayed in passes by one client
in a closed loop.  `ops(rng)` gives one pass; the seed permutes the order
of operations within it, while groups that depend on each other (a golden
file's statements, the write stage's steps) keep their internal order.
Each operation returns its result; checks run after the pass, outside the
timed operation, through `check(op, result, first)`.

* interactive_sql — golden `.test` cases through `Engine.sql`, each
  checked with `hopspark.golden.run_case` (sf0.001 tables).
* analytic_batch — TPC-H / TPC-DS-pattern registry queries at sf0.1,
  verified once per run against their DuckDB oracle, then by digest.
* curation_ingest — curation operators at sf0.01 (500 documents, 500
  embeddings) and a write stage through `hopspark.sources`: Iceberg v2
  create, append, delete, compact and read, then an Avro round trip.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from dataclasses import dataclass, field

#: Golden files replayed by interactive_sql: expression files with no
#: fixture DDL, so a statement's time is the front door's (engine
#: rewrites, translation, Catalyst analysis) and the latency distribution
#: has one mode.  Table-scan files such as joins_core.test are left out:
#: its straight_join COUNT(*) case alone runs for seconds.
GOLDEN_FILES = (
    "exprs4.test",
    "like_patterns.test",
    "conditionals.test",
    "decimal_v2_3.test",
)

ANALYTIC_QUERIES = (
    "tpch_q3_shipping_priority",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpcds_q67_rollup_rank_topn",
    "window_rank_topn",
)

CURATION_OPERATORS = (
    "dedup_simhash",
    "pipeline_clean_corpus",
)

#: doc_id shift of the appended copy, and the rows the delete removes.
APPEND_OFFSET = 1_000_000
DELETE_MOD = 7
DELETE_PREDICATE = f"doc_id % {DELETE_MOD} = 0"


@dataclass
class Op:
    name: str
    kind: str
    run: object  # callable(ctx) -> result
    meta: dict = field(default_factory=dict)


@dataclass
class Result:
    schema: object = None
    rows: list | None = None
    value: object = None
    error: BaseException | None = None


def _canon(v) -> str:
    if isinstance(v, float):
        return format(v, ".10g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if hasattr(v, "asDict"):
        return _canon(list(v))
    if isinstance(v, dict):
        return "{" + ",".join(f"{_canon(k)}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    return repr(v)


def digest(rows) -> str:
    """Order-insensitive digest of a row set; floats to 10 significant
    digits so summation order cannot change it."""
    h = hashlib.sha1()
    for line in sorted(_canon(list(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(rows)}:{h.hexdigest()}"


def _describe(exc: BaseException) -> str:
    first = (str(exc).splitlines() or [""])[0]
    return f"{type(exc).__name__}: {first[:200]}"


def _collect(df) -> Result:
    return Result(schema=df.schema, rows=df.collect())


class _Replay:
    """Stands in for the engine inside `golden.run_case`, answering the
    case's statement with the result recorded during the timed run."""

    def __init__(self, result: Result) -> None:
        self.result = result

    def sql(self, _query):
        if self.result.error is not None:
            raise self.result.error
        return self

    @property
    def schema(self):
        return self.result.schema

    def collect(self):
        return self.result.rows


class Workload:
    name = ""
    sf = 0.0
    #: measured warm passes at least, whatever --seconds says
    min_passes = 2

    def __init__(self, ctx) -> None:
        self.ctx = ctx

    def ops(self, rng) -> list[Op]:
        raise NotImplementedError

    def check(self, op: Op, res: Result, first: bool) -> str | None:
        """None when the result is right, else a one-line reason."""
        raise NotImplementedError

    def after_pass(self) -> None:
        pass


class InteractiveSql(Workload):
    name = "interactive_sql"
    sf = 0.001
    # 3 x 40 statements: enough samples above p90 for op_tail_ms
    min_passes = 3

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from hopspark.golden import parse_test_file

        golden = os.path.join(ctx.root, "tests", "golden")
        self.files = [
            (f, parse_test_file(os.path.join(golden, f))) for f in GOLDEN_FILES
        ]

    def ops(self, rng) -> list[Op]:
        out: list[Op] = []
        for i in rng.permutation(len(self.files)):
            fname, cases = self.files[i]
            for n, case in enumerate(cases):
                out.append(Op(f"{fname}:{n}", "golden", self._runner(case), {"case": case}))
        return out

    def _runner(self, case):
        def run(ctx) -> Result:
            try:
                df = ctx.engine.sql(case.query)
                return Result(schema=df.schema, rows=df.collect())
            except Exception as exc:  # noqa: BLE001 - CATCH cases expect errors
                return Result(error=exc)

        return run

    def check(self, op: Op, res: Result, first: bool) -> str | None:
        from hopspark.golden import run_case

        errors = run_case(_Replay(res), op.meta["case"])
        return errors[0].splitlines()[0] if errors else None


class _RegistryWorkload(Workload):
    """Registry queries: verified against the DuckDB oracle on the first
    pass, then required to repeat that verified result's digest."""

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        from hopspark.operators import all_queries

        self.registry = all_queries()
        self.ref: dict[str, str] = {}

    def _query_op(self, name: str) -> Op:
        fn, oracle = self.registry[name]

        def run(ctx) -> Result:
            with ctx.tracer.span("operators.build"):
                df = fn(ctx.spark, ctx.sf_dir)
            return _collect(df)

        return Op(name, "query", run, {"oracle": oracle})

    def check(self, op: Op, res: Result, first: bool) -> str | None:
        if res.error is not None:
            return _describe(res.error)
        got = digest(res.rows)
        if op.name not in self.ref:
            if not first:
                return "no verified reference"
            err = self._verify(op, res)
            if err:
                return err
            self.ref[op.name] = got
            return None
        if got != self.ref[op.name]:
            return f"digest {got} != verified {self.ref[op.name]}"
        return None

    def _verify(self, op: Op, res: Result) -> str | None:
        oracle = op.meta.get("oracle")
        if oracle is None:
            # not SQL-expressible: the first result is the reference
            return None if res.rows else "empty result"
        from hopspark.testing import compare

        spark = self.ctx.spark
        local = spark.createDataFrame(res.rows, res.schema)
        cmp = compare(local, oracle, self.ctx.sf_dir)
        return None if cmp.ok else "oracle: " + "; ".join(cmp.errors[:2])


class AnalyticBatch(_RegistryWorkload):
    name = "analytic_batch"
    sf = 0.1

    def ops(self, rng) -> list[Op]:
        return [self._query_op(ANALYTIC_QUERIES[i]) for i in rng.permutation(len(ANALYTIC_QUERIES))]


class CurationIngest(_RegistryWorkload):
    name = "curation_ingest"
    sf = 0.01

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.pass_no = 0
        self.expected: tuple[int, str] | None = None

    def ops(self, rng) -> list[Op]:
        self.pass_no += 1
        ops = [self._query_op(n) for n in CURATION_OPERATORS]
        write = self._write_stage()
        order = rng.permutation(len(ops) + 1)
        out: list[Op] = []
        for i in order:
            out.extend(write if i == len(ops) else [ops[i]])
        return out

    def _paths(self) -> tuple[str, str]:
        base = os.path.join(self.ctx.scratch, f"pass{self.pass_no}")
        return os.path.join(base, "iceberg"), os.path.join(base, "avro")

    def _write_stage(self) -> list[Op]:
        from hopspark.sources.avro_codec import read_avro_native, write_avro_native
        from hopspark.sources.iceberg import (
            compact_data_files,
            delete_from_iceberg,
            read_iceberg,
            write_iceberg_table,
        )

        clean_fn = self.registry["pipeline_clean_corpus"][0]
        ice, avro = self._paths()

        def cleaned(ctx):
            with ctx.tracer.span("operators.build"):
                return clean_fn(ctx.spark, ctx.sf_dir)

        def create(ctx):
            return Result(value=write_iceberg_table(cleaned(ctx), ice, format_version=2))

        def append(ctx):
            from pyspark.sql import functions as F

            df = cleaned(ctx).withColumn("doc_id", F.col("doc_id") + APPEND_OFFSET)
            return Result(value=write_iceberg_table(df, ice, mode="append"))

        def delete(ctx):
            return Result(value=delete_from_iceberg(ctx.spark, ice, DELETE_PREDICATE))

        def compact(ctx):
            return Result(value=compact_data_files(ctx.spark, ice))

        def read(ctx):
            return _collect(read_iceberg(ctx.spark, ice))

        def avro_write(ctx):
            return Result(value=write_avro_native(read_iceberg(ctx.spark, ice), avro))

        def avro_read(ctx):
            return _collect(read_avro_native(ctx.spark, avro))

        steps = [
            ("iceberg_create", create),
            ("iceberg_append", append),
            ("iceberg_delete", delete),
            ("iceberg_compact", compact),
            ("iceberg_read", read),
            ("avro_write", avro_write),
            ("avro_read", avro_read),
        ]
        return [Op(name, "write", fn) for name, fn in steps]

    def check(self, op: Op, res: Result, first: bool) -> str | None:
        if op.kind == "query":
            err = super().check(op, res, first)
            if err is None and first and op.name == "pipeline_clean_corpus":
                self._expect(res.rows)
            return err
        if res.error is not None:
            return _describe(res.error)
        if self.expected is None:
            return "no verified cleaned corpus to compare with"
        n, want = self.expected
        if op.name in ("iceberg_read", "avro_read"):
            got = digest(res.rows)
            return None if got == want else f"read back {got} != written {want}"
        if op.name == "avro_write" and res.value != n:
            return f"wrote {res.value} rows, expected {n}"
        if op.name == "iceberg_compact" and res.value["rows"] != n:
            return f"compacted {res.value['rows']} rows, expected {n}"
        return None

    def _expect(self, clean_rows) -> None:
        """What the write stage must read back: the verified cleaned corpus
        plus its shifted copy, minus the deleted rows (DELETE_PREDICATE)."""
        rows = [tuple(r) for r in clean_rows]
        rows += [(r[0] + APPEND_OFFSET, *r[1:]) for r in rows]
        kept = [r for r in rows if r[0] % DELETE_MOD != 0]
        self.expected = (len(kept), digest(kept))

    def after_pass(self) -> None:
        shutil.rmtree(os.path.dirname(self._paths()[0]), ignore_errors=True)


WORKLOADS = {w.name: w for w in (InteractiveSql, AnalyticBatch, CurationIngest)}
