"""The nondeterministic-decorrelation landmine guard (round 12).

Catalyst lowers a general-path lateral/expression subplan (grouping or
analytic bodies — the shapes the HOF fast paths don't absorb) into a
join KEYED ON the correlated collection, re-executing the outer plan on
both sides.  collect_list's element order follows shuffle fetch order,
so on a cluster the two sides can produce unequal arrays and the join
silently matches nothing (SCALE.md round-11 session 2: zero rows, no
error).  The engine now normalizes the OUTER relation's collection
column with a deep sort_array at translate time whenever the source
plan contains an order-nondeterministic constructor; unorderable
(map-bearing) collections raise instead of failing silently.

Reference parity: the reference's SubplanNode re-scans the SAME
materialized collection slot per outer row (be/src/exec/subplan-node.h),
so it cannot disagree with itself — the guard restores that guarantee
under Spark's decorrelation.
"""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hopspark.engine import Engine


def _mk_hazard_view(spark, name="clv"):
    rows = [(i % 10, i, float(i) * 1.5) for i in range(1000)]
    df = spark.createDataFrame(
        rows, "k int, v int, amt double"
    ).repartition(8)
    agg = df.groupBy("k").agg(
        F.collect_list(F.struct("v", "amt")).alias("items")
    )
    agg.createOrReplaceTempView(name)


GENERAL_Q = (
    "SELECT c.k, w.bucket, w.n FROM {v} c, "
    "(SELECT amt > 100 AS bucket, COUNT(*) AS n FROM c.items "
    "GROUP BY amt > 100) w ORDER BY c.k, w.bucket"
)


def test_general_path_normalizes_collect_list_view(spark):
    """A grouping-body lateral over an UNSORTED collect_list view is the
    landmine shape: the guard must deep-sort the outer collection so the
    decorrelated join keys are value-equal, and results must be correct."""
    _mk_hazard_view(spark, "clv_g")
    eng = Engine(spark)
    res = eng.sql(GENERAL_Q.format(v="clv_g"))
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    # the join key side must be the normalized array, never the raw
    # collect_list output
    assert "sort_array" in plan, plan
    rows = res.collect()
    # 10 keys x 2 buckets; amt = v*1.5 > 100 <=> v >= 67
    assert len(rows) == 20
    assert rows[0].k == 0 and rows[0].bucket is False and rows[0].n == 7
    assert rows[1].bucket is True and rows[1].n == 93


def test_fast_path_not_wrapped(spark):
    """Single-aggregate subplans take the zero-join HOF fast path — the
    guard must stay out of the way (no join, no sort_array rewrite)."""
    _mk_hazard_view(spark, "clv_f")
    eng = Engine(spark)
    res = eng.sql(
        "SELECT c.k, (SELECT COUNT(*) FROM c.items WHERE amt > 100) n "
        "FROM clv_f c ORDER BY c.k"
    )
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert "sort_array" not in plan, plan
    rows = res.collect()
    assert len(rows) == 10 and rows[0].n == 93


def test_deterministic_source_untouched(spark):
    """A literal/parquet-style array source is order-deterministic — the
    guard must not rewrite it (pos semantics preserved)."""
    spark.createDataFrame(
        [(1, [10, 20]), (2, [30, 5])], "k int, arr array<int>"
    ).createOrReplaceTempView("det_arr")
    eng = Engine(spark)
    res = eng.sql(
        "SELECT d.k, w.b, w.n FROM det_arr d, "
        "(SELECT item % 2 AS b, COUNT(*) AS n FROM d.arr "
        "GROUP BY item % 2) w ORDER BY d.k, w.b"
    )
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "sort_array" not in plan, plan
    assert [tuple(r) for r in res.collect()] == [
        (1, 0, 2), (2, 0, 1), (2, 1, 1),
    ]


def test_unorderable_collection_raises(spark):
    """collect_list of map-bearing structs cannot be normalized
    (Spark ordering is undefined for maps) — the engine must raise a
    clear error instead of returning silently-wrong rows."""
    base = spark.createDataFrame(
        [(1, {"a": 1}), (1, {"b": 2})],
        "k int, m map<string,int>",
    )
    base.groupBy("k").agg(
        F.collect_list("m").alias("ms")
    ).createOrReplaceTempView("clv_bad")
    eng = Engine(spark)
    with pytest.raises(ValueError, match="unorderable"):
        eng.sql(
            "SELECT b.k, w.n FROM clv_bad b, "
            "(SELECT size(item) AS g, COUNT(*) AS n FROM b.ms "
            "GROUP BY size(item)) w"
        )


def test_derived_table_root_normalized(spark):
    """The hazard also fires when the collection is built by a derived
    table inline in the query — the guard wraps the derived item."""
    rows = [(i % 5, i) for i in range(100)]
    spark.createDataFrame(rows, "k int, v int").createOrReplaceTempView(
        "flat_kv"
    )
    eng = Engine(spark)
    res = eng.sql(
        "SELECT d.k, w.parity, w.n FROM "
        "(SELECT k, collect_list(v) AS vs FROM flat_kv GROUP BY k) d, "
        "(SELECT item % 2 AS parity, COUNT(*) AS n FROM d.vs "
        "GROUP BY item % 2) w ORDER BY d.k, w.parity"
    )
    plan = res._jdf.queryExecution().optimizedPlan().toString()
    assert "sort_array" in plan, plan
    rows_out = res.collect()
    assert len(rows_out) == 10
    assert all(r.n == 10 for r in rows_out)


def test_deep_sort_sql_normalizes_nested(spark):
    """_deep_sort_sql sorts EVERY array level innermost-first and keeps
    NULL structs NULL, so equal multisets render byte-equal values."""
    from pyspark.sql import types as T

    dt = T.ArrayType(T.StructType([
        T.StructField("a", T.IntegerType()),
        T.StructField("xs", T.ArrayType(T.IntegerType())),
    ]))
    expr = Engine._deep_sort_sql("arr", dt)
    df = spark.sql(
        "SELECT " + expr + " AS n FROM (SELECT array("
        "named_struct('a', 2, 'xs', array(3, 1)), "
        "named_struct('a', 1, 'xs', array(9, 7)), "
        "CAST(NULL AS struct<a:int, xs:array<int>>)) AS arr)"
    )
    [row] = df.collect()
    assert row.n == [None, (1, [7, 9]), (2, [1, 3])] or row.n == [
        None,
        {"a": 1, "xs": [7, 9]},
        {"a": 2, "xs": [1, 3]},
    ] or [
        (x if x is None else (x.a, x.xs)) for x in row.n
    ] == [None, (1, [7, 9]), (2, [1, 3])]


def test_no_array_column_skipped(spark):
    """Scalar-only schemas never trip the guard even when the view uses
    collect-style aggregates elsewhere."""
    spark.createDataFrame(
        [(1, [1, 2])], "k int, arr array<int>"
    ).createOrReplaceTempView("det_arr2")
    eng = Engine(spark)
    # deterministic source, analytic body -> general path, no guard
    res = eng.sql(
        "SELECT d.k, w.r FROM det_arr2 d, "
        "(SELECT item, ROW_NUMBER() OVER (ORDER BY item) AS r "
        "FROM d.arr) w ORDER BY w.r"
    )
    assert [r.r for r in res.collect()] == [1, 2]


# --- round-12 ADVICE regressions (same rewrite pass) -------------------


def test_order_by_output_alias_shadows_element_field(spark):
    """ADVICE r11 (medium): an output alias in ORDER BY takes precedence
    over a same-named collection element field."""
    spark.createDataFrame(
        [(1, [(1, "zz"), (2, "aa")])],
        "c_custkey int, "
        "c_orders array<struct<o_orderkey int, o_comment string>>",
    ).createOrReplaceTempView("cust_adv")
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT o_orderkey AS o_comment FROM cust_adv c, c.c_orders o "
        "ORDER BY o_comment DESC"
    ).collect()
    assert [r[0] for r in rows] == [2, 1]
    # the element field still binds when no alias shadows it
    rows = eng.sql(
        "SELECT o_orderkey FROM cust_adv c, c.c_orders o "
        "ORDER BY o_comment"
    ).collect()
    assert [r[0] for r in rows] == [2, 1]  # 'aa' < 'zz'


def test_string_literal_alias_position(spark):
    """ADVICE r11 (low): a string literal before a word marks an alias
    position — `SELECT 'x' o_comment` must not be rewritten into the
    element field."""
    spark.createDataFrame(
        [(1, [(1, "zz")])],
        "c_custkey int, "
        "c_orders array<struct<o_orderkey int, o_comment string>>",
    ).createOrReplaceTempView("cust_adv2")
    eng = Engine(spark)
    rows = eng.sql(
        "SELECT 'x' o_comment FROM cust_adv2 c, c.c_orders o"
    ).collect()
    assert [r[0] for r in rows] == ["x"]


def test_decimal_avg_result_type(spark):
    """ADVICE r11 (low): decimal AVG's declared type follows the
    reference's createAdjustedDecimalType — precision (p-s)+max(6,s),
    not a blanket 38."""
    from decimal import Decimal

    spark.createDataFrame(
        [(1, [(Decimal("100.50"),), (Decimal("200.25"),)])],
        "k int, os array<struct<price decimal(12,2)>>",
    ).createOrReplaceTempView("dec_avg_t")
    eng = Engine(spark)
    df = eng.sql(
        "SELECT k, (SELECT AVG(price) FROM t.os) a FROM dec_avg_t t"
    )
    # p=12, s=2 -> scale'=6, precision'=(12-2)+6=16
    assert df.schema["a"].dataType.simpleString() == "decimal(16,6)"
    [row] = df.collect()
    assert float(row.a) == pytest.approx(150.375)


class _Plan:
    """A stand-in DataFrame whose plan read raises ``exc``."""

    def __init__(self, exc):
        self._exc = exc

    @property
    def _jdf(self):
        raise self._exc


def test_unreadable_plan_counts_as_order_nondet(spark):
    from py4j.protocol import Py4JError

    eng = Engine(spark, register_tables=False)
    assert eng._plan_is_order_nondet(_Plan(Py4JError("gateway gone")))


def test_plan_read_bug_is_not_taken_for_order_nondet(spark):
    eng = Engine(spark, register_tables=False)
    with pytest.raises(RuntimeError, match="bug"):
        eng._plan_is_order_nondet(_Plan(RuntimeError("bug")))
