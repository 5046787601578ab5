"""Type dispatch from the statement's own relations.

The translator's typed passes (BIGINT -> DECIMAL promotion, ``||`` on
boolean columns, string -> int cast guards) type a bare column from the
catalog relations the statement reads, the way the reference's analyzer
types a column from the statement's table refs
(fe/.../analysis/Analyzer.java).  A statement's values and result type
must not change when an unrelated table or view with a conflicting column
name is registered.
"""

from __future__ import annotations

import pytest

from hopspark.dialect.translate import _from_items, tokenize
from hopspark.engine import Engine


@pytest.fixture()
def eng(spark, sf_dir):
    e = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW rs_t1 AS SELECT * FROM VALUES "
        "(CAST(7 AS BIGINT), true, false), (CAST(-2 AS BIGINT), false, false)"
        " AS t(rs_big, rs_flag, rs_flag2)"
    )
    yield e
    for v in ("rs_t1", "rs_other", "rs_nested"):
        spark.catalog.dropTempView(v)


def _result(eng, sql):
    df = eng.sql(sql)
    return df.schema.simpleString(), sorted(df.collect())


@pytest.mark.parametrize(
    "query, schema, other",
    [
        # BIGINT + DECIMAL: the reference promotes BIGINT to DECIMAL(19,0)
        (
            "SELECT rs_big + 1.1 AS r FROM rs_t1",
            "struct<r:decimal(21,1)>",
            "SELECT CAST(1.5 AS DOUBLE) AS rs_big",
        ),
        # || on two BOOLEAN columns is OR, not string concatenation
        (
            "SELECT rs_flag || rs_flag2 AS r FROM rs_t1",
            "struct<r:boolean>",
            "SELECT 'x' AS rs_flag, 'y' AS rs_flag2",
        ),
    ],
)
def test_unrelated_view_does_not_change_result(eng, query, schema, other):
    before = _result(eng, query)
    assert before[0] == schema
    eng.sql(f"CREATE VIEW rs_other AS {other}")
    assert _result(eng, query) == before


def test_from_less_statement_makes_one_spark_sql_call(spark, monkeypatch):
    """A statement that reads no relation needs no catalog lookup: the
    only Spark SQL call is the translated statement itself."""
    eng = Engine(spark=spark, register_tables=False)
    calls = []
    real_sql = spark.sql

    def counting_sql(*args, **kwargs):
        calls.append(args[0])
        return real_sql(*args, **kwargs)

    monkeypatch.setattr(spark, "sql", counting_sql)
    assert eng.sql("SELECT 1 + 2 AS s").collect()[0].s == 3
    assert len(calls) == 1, calls


def test_statement_is_tokenized_once_by_engine_and_translator(
    eng, monkeypatch
):
    """The engine rewrites share one token list, and translate() takes
    that list: the statement is tokenized once."""
    import sys

    import hopspark.engine as engine_mod

    translate_mod = sys.modules["hopspark.dialect.translate"]
    real_tokenize = translate_mod.tokenize
    calls = []

    def counting_tokenize(sql):
        calls.append(sql)
        return real_tokenize(sql)

    monkeypatch.setattr(translate_mod, "tokenize", counting_tokenize)
    monkeypatch.setattr(engine_mod, "tokenize", counting_tokenize)
    rows = eng.sql(
        "SELECT n.n_name FROM nation n WHERE n.n_nationkey + 1 > 3"
    ).collect()
    assert rows
    assert len(calls) == 1, calls


def test_replaced_view_is_seen_by_the_next_statement(eng, spark):
    """The relation memo lasts one statement, so a view replaced outside
    the engine needs no invalidation."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW rs_nested AS "
        "SELECT array(1, 2) AS arr"
    )
    rows = eng.sql("SELECT item FROM rs_nested.arr").collect()
    assert sorted(r.item for r in rows) == [1, 2]
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW rs_nested AS "
        "SELECT array(named_struct('a', 5)) AS arr"
    )
    assert [r.a for r in eng.sql("SELECT a FROM rs_nested.arr").collect()] == [5]


def test_statement_columns():
    def cols(sql):
        toks = tokenize(sql)
        return Engine._statement_columns(toks, _from_items(toks))

    assert cols("SELECT 1 + 2") == (set(), {})
    assert cols(
        "WITH w AS (SELECT CAST(a AS BIGINT) AS a FROM t1), "
        "v AS (SELECT b FROM `T2`) "
        "SELECT * FROM w JOIN v ON true, t3 x, c.arr, range(3) r, "
        "(VALUES((1 k, CAST('2024-01-01' AS TIMESTAMP) ts)), ((2, NULL))) d "
        "WHERE EXISTS (SELECT CAST(1 AS INT) FROM t4)"
    ) == (
        {"t1", "t2", "t3", "t4"},
        {"a": {"BIGINT"}, "ts": {"TIMESTAMP"}},
    )
    assert cols(
        "SELECT d FROM (SELECT CAST(x AS DATE FORMAT 'YYYY') d FROM t5) v"
    ) == ({"t5"}, {"d": {"DATE"}})


@pytest.mark.parametrize(
    "sql, segs",
    [
        ("select x from t where a is not distinct from b", [["t"]]),
        ("select x from t where a IS DISTINCT\nFROM b", [["t"]]),
        ("select extract(year from now())", []),
        ("select trim(both 'x' from s) from t", [["t"]]),
        ("select coalesce((select max(a) from u), 0) from t", [["u"], ["t"]]),
    ],
)
def test_from_items_skip_non_clause_froms(sql, segs):
    """``IS [NOT] DISTINCT FROM`` and the FROM of a function's arguments
    open no FROM clause, so they name no relation to type from."""
    assert [it.segs for it in _from_items(tokenize(sql))] == segs
