"""Unit tests for the Impala function-library residue
(hopspark/functions/registry.py) — the expr-test.cc analogue."""

from __future__ import annotations

import pytest


def _one(spark, expr: str):
    return spark.sql(f"SELECT {expr} AS v").head().v


def test_fnv_hash_known_vector(spark):
    # FNV-1a 64: fnv1a("") = 0xcbf29ce484222325 (offset basis, public constant)
    assert _one(spark, "fnv_hash('')") == -3750763034362895579
    # value computed by the pure-python reference implementation
    from hopspark.functions.registry import _fnv1a_64

    assert _one(spark, "fnv_hash('abc')") == _fnv1a_64(b"abc")


def test_murmur_hash_known_vectors(spark):
    """MurmurHash2_64 (hash-util.h:122-158), seed 0. Structural invariant:
    seed 0 + empty input → 0 (h stays 0 through every mix step). Longer
    inputs exercise the block loop (>=8 bytes) and the byte-cascade tail."""
    assert _one(spark, "murmur_hash('')") == 0
    from hopspark.functions.registry import _murmur2_64

    for s in ["a", "abc", "12345678", "123456789", "hello world"]:
        assert _one(spark, f"murmur_hash('{s}')") == _murmur2_64(s.encode())
    # distinct from both fnv and xxhash64 (the old stand-in): pin one value
    assert _one(spark, "murmur_hash('hello world')") == -3190198453633110066
    assert _one(spark, "murmur_hash(NULL)") is None


def test_utility_misc(spark):
    """version/pid/coordinator/current_session/sleep + Spark-native typeof,
    current_database, uuid (impala_functions.py:682-694)."""
    import time

    assert _one(spark, "version()")  # engine version string (Spark builtin)
    assert _one(spark, "pid()") > 0
    assert _one(spark, "coordinator()")
    assert ":" in _one(spark, "current_session()")
    assert _one(spark, "typeof(1 + 1)") == "int"
    assert _one(spark, "current_database()") == "default"
    assert len(_one(spark, "uuid()")) == 36
    t0 = time.time()
    assert _one(spark, "sleep(120)") is True
    assert time.time() - t0 >= 0.1


def test_istrue_family(spark):
    assert _one(spark, "istrue(true)") is True
    assert _one(spark, "istrue(NULL)") is False
    assert _one(spark, "isnottrue(NULL)") is True
    assert _one(spark, "isfalse(false)") is True
    assert _one(spark, "isnotfalse(NULL)") is True


def test_bit_functions(spark):
    assert _one(spark, "bitand(12, 10)") == 8
    assert _one(spark, "bitor(12, 10)") == 14
    assert _one(spark, "bitxor(12, 10)") == 6
    assert _one(spark, "bitnot(0)") == -1
    assert _one(spark, "countset(7)") == 3
    assert _one(spark, "setbit(0, 3)") == 8
    assert _one(spark, "rotateleft(1, 1)") == 2
    assert _one(spark, "rotateleft(1, 64)") == 1
    assert _one(spark, "rotateright(2, 1)") == 1


def test_quotient(spark):
    assert _one(spark, "quotient(7, 2)") == 3
    assert _one(spark, "quotient(-7, 2)") == -3


def test_is_inf(spark):
    assert _one(spark, "is_inf(cast('inf' as double))") is True
    assert _one(spark, "is_inf(1.5)") is False


def test_jaro_winkler(spark):
    v = _one(spark, "jaro_winkler_similarity('MARTHA', 'MARHTA')")
    assert v == pytest.approx(0.9611, abs=1e-3)
    assert _one(spark, "jaro_distance('abc', 'abc')") == 0.0


def test_damerau_levenshtein(spark):
    assert _one(spark, "damerau_levenshtein('ca', 'abc')") == 3  # OSA distance
    assert _one(spark, "damerau_levenshtein('ab', 'ba')") == 1
    assert _one(spark, "damerau_levenshtein('kitten', 'sitting')") == 3


def test_dialect_functions_run_e2e(spark, sf_dir):
    """engine.sql() should accept Impala-dialect function names."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    row = eng.sql(
        "SELECT ndv(l_partkey) AS nd, appx_median(l_quantity) AS med, "
        "zeroifnull(NULL) AS z, isnull(NULL, 42) AS i "
        "FROM lineitem"
    ).head()
    assert row.nd > 0
    assert row.med is not None
    assert row.z == 0
    assert row.i == 42


def test_timestamp_cmp(spark):
    assert (
        _one(
            spark,
            "timestamp_cmp(timestamp'2020-01-01', timestamp'2020-01-02')",
        )
        == -1
    )


def test_interval_arithmetic_family(spark):
    import datetime as dt

    # Month-end clamping matches the reference (timestamp-functions-ir.cc).
    assert _one(spark, "years_add(timestamp'2020-02-29 10:00:00', 1)") == dt.datetime(
        2021, 2, 28, 10
    )
    assert _one(spark, "months_sub(timestamp'2020-03-31', 1)") == dt.datetime(2020, 2, 29)
    assert _one(spark, "weeks_add(timestamp'2020-01-01', 2)") == dt.datetime(2020, 1, 15)
    assert _one(spark, "days_sub(timestamp'2020-03-01', 1)") == dt.datetime(2020, 2, 29)
    assert _one(spark, "hours_add(timestamp'2020-01-01 23:00:00', 2)") == dt.datetime(
        2020, 1, 2, 1
    )
    assert _one(spark, "seconds_add(timestamp'2020-01-01', 90)") == dt.datetime(
        2020, 1, 1, 0, 1, 30
    )
    assert _one(spark, "milliseconds_add(timestamp'2020-01-01', 1500)") == dt.datetime(
        2020, 1, 1, 0, 0, 1, 500000
    )
    # ns resolution truncates to µs (documented delta: Spark is µs-based).
    assert _one(spark, "nanoseconds_add(timestamp'2020-01-01', 2500)") == dt.datetime(
        2020, 1, 1, 0, 0, 0, 2
    )


def test_regexp_helpers(spark):
    assert _one(spark, "regexp_match_count('abcabc', 'a')") == 2
    assert _one(spark, "regexp_match_count('abc', 'z')") == 0
    assert _one(spark, r"regexp_escape('a.b*c')") == r"a\.b\*c"
    # escaped output is a literal-match regex for the original string
    assert _one(spark, "'a.b*c' RLIKE regexp_escape('a.b*c')") is True


def test_base64_roundtrip(spark):
    assert _one(spark, "base64encode('hello')") == "aGVsbG8="
    assert _one(spark, "base64decode(base64encode('hello world'))") == "hello world"


def test_mask_family(spark):
    # Reference defaults: upper→X, lower→x, digit→n (mask-functions-ir.cc).
    assert _one(spark, "mask_show_first_n('Abc123xyz', 3)") == "Abcnnnxxx"
    assert _one(spark, "mask_first_n('Abc123', 3)") == "Xxx123"
    assert _one(spark, "mask_last_n('Abc123', 2)") == "Abc1nn"
    assert _one(spark, "mask_show_last_n('Abc123', 2)") == "Xxxn23"
    assert len(_one(spark, "mask_hash('x')")) == 64


def test_dialect_interval_and_renames(spark):
    from hopspark.dialect import translate

    out = translate("SELECT date_add(t, INTERVAL 3 days), week(t), fmod(a, b) FROM x")
    assert "+  INTERVAL 3 days" in out.replace("( t", "(t") or "+" in out
    assert "weekofyear(t)" in out
    # fmod is C floating fmod: operands promoted to DOUBLE before mod.
    assert "mod(CAST((a) AS DOUBLE), CAST((b) AS DOUBLE))" in out
    import datetime as dt

    assert _one(
        spark, "(timestamp'2020-01-01' + INTERVAL 3 DAYS)"
    ) == dt.datetime(2020, 1, 4)
    row = spark.sql(
        translate("SELECT date_add(timestamp'2020-01-01', interval 1 month) AS d")
    ).head()
    assert row.d == dt.datetime(2020, 2, 1)


def test_create_function_surface(spark, sf_dir):
    """CREATE FUNCTION / SHOW FUNCTIONS / DROP FUNCTION parity
    (SURVEY.md §2.12; reference grammar sql-parser.cup:693-695)."""
    from pyspark.sql import types as T

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)

    # SQL-body form (Catalyst expression, codegen'd)
    eng.create_function(
        "add_tax", sql_params="x DOUBLE", sql_returns="DOUBLE", sql_body="x * 1.08"
    )
    assert eng.sql("SELECT add_tax(100.0) AS v").head().v == pytest.approx(108.0)

    # Python-callable form (the reference's native-UDF analogue)
    eng.create_function("py_rev", lambda s: s[::-1], return_type=T.StringType())
    assert eng.sql("SELECT py_rev('abc') AS v").head().v == "cba"

    names = eng.show_functions()
    assert "add_tax" in names
    eng.drop_function("add_tax")


def test_create_aggregate_function_surface(spark, sf_dir):
    """CREATE AGGREGATE FUNCTION parity (sql-parser.cup:693-695; UDA
    contract udf.h:379-391): a custom UDA registered through the engine is
    callable from engine.sql() in GROUP BY and OVER()."""
    import pandas as pd

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)

    # vectorized form: geometric mean
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.astype(float)).mean()))

    eng.create_aggregate_function("geomean", geomean, "double")
    got = {
        r.p: r.g
        for r in eng.sql(
            "SELECT o_orderpriority AS p, geomean(o_totalprice) AS g "
            "FROM orders GROUP BY o_orderpriority"
        ).collect()
    }
    want = {
        r.p: r.g
        for r in eng.sql(
            "SELECT o_orderpriority AS p, exp(avg(ln(o_totalprice))) AS g "
            "FROM orders GROUP BY o_orderpriority"
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert got[k] == pytest.approx(want[k], rel=1e-9)

    # UDA-contract form: init/update/finalize fold
    eng.create_aggregate_function(
        "sum_sq",
        return_type="double",
        init=lambda: 0.0,
        update=lambda acc, x: acc + float(x) * float(x),
        finalize=lambda acc: acc,
    )
    v = eng.sql(
        "SELECT sum_sq(n_nationkey) AS v FROM nation"
    ).head().v
    truth = eng.sql(
        "SELECT CAST(sum(n_nationkey * n_nationkey) AS DOUBLE) AS v FROM nation"
    ).head().v
    assert v == pytest.approx(truth)

    # window usage (grouped-agg UDFs are valid OVER() aggregates)
    rows = eng.sql(
        "SELECT n_regionkey, geomean(n_nationkey + 1) "
        "OVER (PARTITION BY n_regionkey) AS g FROM nation"
    ).collect()
    assert all(r.g is not None for r in rows)


def test_metadata_surface(spark, sf_dir):
    """SHOW TABLES / DESCRIBE parity (grammar sql-parser.cup SHOW/DESCRIBE)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    tables = eng.show_tables()
    for t in ("lineitem", "orders", "documents", "embeddings"):
        assert t in tables
    cols = dict(eng.describe("lineitem"))
    assert cols["l_orderkey"] == "bigint"
    assert cols["l_shipdate"] == "timestamp"


def test_jaro_family_complete(spark):
    """All four jaro variants registered (string-functions-ir.cc)."""
    assert _one(spark, "jaro_similarity('abc', 'abc')") == 1.0
    jw_sim = _one(spark, "jaro_winkler_similarity('MARTHA', 'MARHTA')")
    jw_dist = _one(spark, "jaro_winkler_distance('MARTHA', 'MARHTA')")
    assert jw_sim + jw_dist == pytest.approx(1.0)


def test_runtime_profile(spark, sf_dir):
    """profile() returns per-operator metrics through AQE wrappers — the
    RUNTIME_PROFILE analogue (be/src/util/runtime-profile.h)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    prof = eng.profile("SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY l_returnflag")
    names = " ".join(prof)
    assert "HashAggregate" in names and "Scan" in names and "Exchange" in names
    scan = next(v for k, v in prof.items() if k.startswith("Scan"))
    assert int(scan.get("numFiles", "0")) >= 1


def test_compute_stats_surface(spark, sf_dir):
    """COMPUTE STATS / SHOW TABLE STATS / SHOW COLUMN STATS — the
    reference's stats workflow (ComputeStatsStmt.java child queries:
    COUNT(*) + per-column NDV/nulls/width aggregates, one fused scan)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir, register_tables=False)
    # before stats: -1 convention
    assert eng.sql("SHOW TABLE STATS region").collect()[0][0] == -1
    eng.sql("COMPUTE STATS region").collect()
    assert eng.sql("SHOW TABLE STATS region").collect()[0][0] == 5
    cols = {r["column"]: r for r in eng.sql("SHOW COLUMN STATS region").collect()}
    assert set(cols) == {"r_regionkey", "r_name"}
    assert cols["r_regionkey"]["#Nulls"] == 0
    assert cols["r_regionkey"]["Max Size"] == 4  # int fixed width
    assert cols["r_name"]["Max Size"] >= 4  # string measured width
    # ndv is an HLL estimate; exact at this cardinality
    assert cols["r_regionkey"]["#Distinct Values"] == 5
    # uncomputed table: -1 rows, -1 per column
    col2 = eng.sql("SHOW COLUMN STATS nation").collect()
    assert all(r["#Distinct Values"] == -1 for r in col2)


def test_refresh_invalidate_surface(spark, sf_dir):
    """REFRESH <table> / INVALIDATE METADATA parse and execute; a refreshed
    table stays queryable (cache-invalidation no-op semantics on views)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql("REFRESH nation").collect() == []
    assert eng.sql("INVALIDATE METADATA").collect() == []
    assert eng.sql("INVALIDATE METADATA nation").collect() == []
    assert eng.sql("SELECT count(*) AS n FROM nation").collect()[0]["n"] == 25


def test_sql_bodies_call_only_earlier_entries():
    """register_sql_functions creates the bodies in `_SQL_FUNCTIONS` order,
    and Spark analyzes a body when it is created, so a body may call only
    entries defined before it."""
    import re

    from hopspark.functions.registry import _SQL_FUNCTIONS

    order = {name: i for i, name in enumerate(_SQL_FUNCTIONS)}
    callers = 0
    for name, (_params, _rtype, body) in _SQL_FUNCTIONS.items():
        code = re.sub(r"'(?:[^']|'')*'", "''", body)
        called = {
            c.lower() for c in re.findall(r"\b([A-Za-z_]\w*)\s*\(", code)
        } & order.keys()
        callers += bool(called)
        late = sorted(c for c in called if order[c] >= order[name])
        assert not late, f"{name} calls {late}, defined at or after it"
    assert callers == 19


def test_sql_library_is_registered_by_the_engine(spark):
    """register_all registers only the Python-UDF kernels; the SQL-bodied
    library and the utility constants come with an Engine. A new session
    has its own temp-function registry and no registration markers."""
    from hopspark.engine import Engine
    from hopspark.functions import register_all
    from hopspark.functions.registry import _SQL_FUNCTIONS

    names = [*_SQL_FUNCTIONS, "pid", "coordinator", "current_session"]
    session = spark.newSession()
    register_all(session)
    assert session.catalog.functionExists("fnv_hash")
    assert [n for n in names if session.catalog.functionExists(n)] == []
    Engine(spark=session, register_tables=False)
    assert [n for n in names if not session.catalog.functionExists(n)] == []


def test_sql_registration_raises_on_a_broken_body(spark, monkeypatch):
    """Only a collision with a builtin of the same name is tolerated; a
    body that fails analysis raises instead of leaving its name unset."""
    from pyspark.errors.exceptions.captured import AnalysisException

    from hopspark.functions import registry

    monkeypatch.setattr(
        registry, "_SQL_FUNCTIONS", {"version": ("", "STRING", "'x'")}
    )
    session = spark.newSession()
    registry.register_sql_functions(session)
    assert session.sql("SELECT version() AS v").head().v != "x"

    monkeypatch.setattr(
        registry,
        "_SQL_FUNCTIONS",
        {"broken_body": ("x INT", "INT", "no_such_function(x)")},
    )
    with pytest.raises(AnalysisException):
        registry.register_sql_functions(spark.newSession())


def test_gjo_wild_reads_bad_json_as_null():
    import pandas as pd

    from hopspark.functions.registry import _gjo_wild_udf

    out = _gjo_wild_udf.func(
        pd.Series(['{"a": 1, "b": 2}', "{not json"]), pd.Series(["$.*", "$.*"])
    )
    assert out.tolist() == ["[1,2]", None]


def test_gjo_wild_raises_unexpected_errors(monkeypatch):
    import json

    import pandas as pd

    from hopspark.functions.registry import _gjo_wild_udf

    def boom(doc):
        raise RuntimeError("bug in the parse")

    monkeypatch.setattr(json, "loads", boom)
    with pytest.raises(RuntimeError, match="bug in the parse"):
        _gjo_wild_udf.func(pd.Series(['{"a": 1}']), pd.Series(["$.*"]))
