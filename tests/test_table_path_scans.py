"""Rootless collection scans — ``FROM tbl.arr_col`` — the reference's
table-path idiom (testdata QueryTest/nested-types-scanner-basic.test,
nested-types-scanner-maps.test; fe Path.java resolution). The engine
rewrites a FROM/JOIN item whose dotted path starts at a catalog table and
ends at a collection into an inline LATERAL VIEW subquery
(engine.py _rewrite_table_path_scans)."""

from __future__ import annotations

import pytest

from hopspark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = Engine(spark=spark, sf_dir=sf_dir)
    # mirrors the shape of the reference's complextypestbl
    spark.sql("""
    CREATE OR REPLACE TEMP VIEW ctt AS
    SELECT * FROM VALUES
      (1, array(1,2,3), array(array(1,2),array(3,4)),
       named_struct('a', 10, 'b', array(100,200),
                    'c', named_struct('d',
                        array(named_struct('e', -1, 'f', 'aaa'),
                              named_struct('e', 11, 'f', 'c')))),
       map('k1', 7, 'k2', 8)),
      (2, array(), array(array(9)),
       named_struct('a', 20, 'b', array(300),
                    'c', named_struct('d',
                        array(named_struct('e', 5, 'f', 'zz')))),
       map('k3', 9)),
      (3, CAST(NULL AS array<int>), CAST(NULL AS array<array<int>>),
       named_struct('a', 30, 'b', CAST(NULL AS array<int>),
                    'c', named_struct('d',
                        CAST(NULL AS array<struct<e:int,f:string>>))),
       CAST(NULL AS map<string,int>))
    AS t(id, int_array, int_array_array, nested_struct, m)
    """)
    return e


def _rows(eng, sql):
    return [tuple(r) for r in eng.sql(sql).collect()]


def test_scalar_array_scan(eng):
    # nested-types-scanner-basic.test: select item from tbl.int_array
    assert _rows(eng, "select item from ctt.int_array order by item") == [
        (1,), (2,), (3,),
    ]
    # empty + NULL collections contribute no rows
    assert _rows(eng, "select count(*) from ctt.int_array") == [(3,)]
    # SELECT * on a scalar array exposes item only
    assert _rows(eng, "select * from ctt.int_array order by item") == [
        (1,), (2,), (3,),
    ]


def test_array_of_array_item_path(eng):
    assert _rows(
        eng, "select item from ctt.int_array_array.item order by item"
    ) == [(1,), (2,), (3,), (4,), (9,)]
    # scanning the OUTER array: rows are the inner arrays
    assert _rows(eng, "select count(*) from ctt.int_array_array") == [(3,)]


def test_struct_hop_to_array(eng):
    assert _rows(
        eng, "select item from ctt.nested_struct.b order by item"
    ) == [(100,), (200,), (300,)]


def test_struct_element_star_flattens_fields(eng):
    # IMPALA-10482 row shape: * on an array-of-struct scan = fields, no pos
    assert _rows(
        eng, "select * from ctt.nested_struct.c.d.item order by e"
    ) == [(-1, "aaa"), (5, "zz"), (11, "c")]


def test_aliased_element_field_access(eng):
    assert _rows(
        eng,
        "select inner_array.item.e from ctt.nested_struct.c.d.item"
        " inner_array order by 1",
    ) == [(-1,), (5,), (11,)]


def test_pos_virtual_column(eng):
    assert _rows(
        eng, "select a.item it, a.pos p from ctt.int_array a order by p"
    ) == [(1, 0), (2, 1), (3, 2)]


def test_map_scan_key_value(eng):
    # nested-types-scanner-maps.test: FROM tbl.map_col exposes key/value
    assert _rows(eng, "select key, value from ctt.m order by key") == [
        ("k1", 7), ("k2", 8), ("k3", 9),
    ]
    assert _rows(eng, "select * from ctt.m order by key") == [
        ("k1", 7), ("k2", 8), ("k3", 9),
    ]


def test_non_paths_untouched(eng):
    # plain table scans and scalar-column "paths" must not rewrite
    assert _rows(eng, "select count(*) from orders")[0][0] > 0
    with pytest.raises(Exception):
        eng.sql("select 1 from ctt.id").collect()  # scalar: not a scan
    # a db-qualified-looking name whose head is not a table: untouched
    with pytest.raises(Exception):
        eng.sql("select 1 from nosuchdb.nosuchtable").collect()


def test_relative_collection_join_still_works(eng):
    # the ALIAS-rooted form stays on the translate-layer rewrite
    assert _rows(
        eng,
        "select a.item from ctt t, t.int_array a where t.id = 1"
        " order by 1",
    ) == [(1,), (2,), (3,)]


@pytest.fixture(scope="module")
def eng2(spark, sf_dir):
    e = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql("""
    CREATE OR REPLACE TEMP VIEW ctt2 AS
    SELECT * FROM VALUES
      (1, named_struct('g', map('k1', named_struct('h',
              named_struct('i', array(1.1d, 2.2d))))),
       array(array(1,2),array(3,4))),
      (2, named_struct('g', map('k2', named_struct('h',
              named_struct('i', array(3.3d))))),
       array(array(9)))
    AS t(id, nested_struct, int_array_array)
    """)
    return e


def test_rootless_path_through_map_value(eng2):
    # nested-types-scanner-maps.test: from tbl.nested_struct.g.value.h.i
    assert _rows(
        eng2,
        "select item from ctt2.nested_struct.g.value.h.i order by item",
    ) == [(1.1,), (2.2,), (3.3,)]


def test_relative_array_hop_item(eng2):
    # the relative form through an array-of-array: t.int_array_array.item
    assert _rows(
        eng2,
        "select a.item from ctt2 t, t.int_array_array.item a order by 1",
    ) == [(1,), (2,), (3,), (4,), (9,)]
    # pos is the position within each INNER array
    assert _rows(
        eng2,
        "select t.id, a.item, a.pos from ctt2 t,"
        " t.int_array_array.item a order by 1, 2",
    ) == [(1, 1, 0), (1, 2, 1), (1, 3, 0), (1, 4, 1), (2, 9, 0)]


def test_array_hop_translation_idempotent():
    from hopspark.dialect.translate import translate

    sql = ("SELECT a.item FROM t1 t, t.int_array_array.item a"
           " ORDER BY a.item")
    once = translate(sql)
    assert "LATERAL VIEW" in once and translate(once) == once


@pytest.fixture(scope="module")
def eng3(spark, sf_dir):
    e = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql("""
    CREATE OR REPLACE TEMP VIEW cust_sp AS
    SELECT * FROM VALUES
      (1, array(named_struct('ok', 10, 'od', '1992-04-19'),
                named_struct('ok', 11, 'od', '1996-12-09'),
                named_struct('ok', 12, 'od', '1992-08-22'))),
      (2, array(named_struct('ok', 20, 'od', '1996-08-05'))),
      (3, CAST(NULL AS array<struct<ok:int,od:string>>))
    AS t(ck, c_orders)
    """)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW cs_sp AS SELECT * FROM VALUES"
        " (1, array(5,6,7)), (2, array(8)) AS t(id, xs)"
    )
    return e


def test_subplan_derived_table_basic(eng3):
    # nested-types-subplan.test: correlated derived table over a relative
    # collection; NULL collection contributes no rows
    assert _rows(
        eng3,
        "select ck, v.ok from cust_sp c, (select * from c.c_orders) v"
        " order by 1, 2",
    ) == [(1, 10), (1, 11), (1, 12), (2, 20)]


def test_subplan_limit_is_per_outer_row(eng3):
    assert _rows(
        eng3,
        "select ck, v.ok from cust_sp c,"
        " (select * from c.c_orders limit 2) v order by 1, 2",
    ) == [(1, 10), (1, 11), (2, 20)]


def test_subplan_computed_column_and_outer_filter(eng3):
    assert _rows(
        eng3,
        "select ck, x from cust_sp c,"
        " (select *, coalesce(ok, 0) x from c.c_orders) v"
        " where x % 2 = 0 order by 1, 2",
    ) == [(1, 10), (1, 12), (2, 20)]


def test_subplan_inner_where(eng3):
    assert _rows(
        eng3,
        "select ck, v.ok from cust_sp c,"
        " (select * from c.c_orders where ok > 11) v order by 1, 2",
    ) == [(1, 12), (2, 20)]


def test_subplan_scalar_array_item_pos(eng3):
    assert _rows(
        eng3,
        "select id, item from cs_sp c, (select item from c.xs limit 2) v"
        " order by 1, 2",
    ) == [(1, 5), (1, 6), (2, 8)]
    assert _rows(
        eng3,
        "select id, v.pos, v.item from cs_sp c,"
        " (select pos, item from c.xs) v order by 1, 2",
    ) == [(1, 0, 5), (1, 1, 6), (1, 2, 7), (2, 0, 8)]


def test_exists_over_relative_collection(eng3):
    # nested-types-subplan.test: EXISTS/NOT EXISTS over c.collection;
    # NULL collections behave as empty (NOT EXISTS keeps the row)
    assert _rows(
        eng3,
        "select ck from cust_sp c where exists"
        " (select 1 from c.c_orders o where o.ok = 20)",
    ) == [(2,)]
    assert _rows(
        eng3,
        "select ck from cust_sp c where not exists"
        " (select 1 from c.c_orders where ok = 20) order by ck",
    ) == [(1,), (3,)]


def test_scalar_subquery_over_relative_collection(eng3):
    assert _rows(
        eng3,
        "select ck, (select count(*) from c.c_orders) n from cust_sp c"
        " order by ck",
    ) == [(1, 3), (2, 1), (3, 0)]
    assert _rows(
        eng3,
        "select ck, (select max(ok) from c.c_orders) m from cust_sp c"
        " order by ck",
    ) == [(1, 12), (2, 20), (3, None)]


def test_in_subquery_over_relative_collection(eng3):
    assert _rows(
        eng3,
        "select ck from cust_sp c where 20 in"
        " (select ok from c.c_orders)",
    ) == [(2,)]


def test_subplan_collection_alias(eng3):
    # FROM c.c_orders o — the collection alias names the exploded rows
    assert _rows(
        eng3,
        "select ck, v.ok from cust_sp c,"
        " (select * from c.c_orders o where o.ok > 11) v order by 1, 2",
    ) == [(1, 12), (2, 20)]


# ---- round-10 ADVICE fixes ----------------------------------------------


def test_star_excludes_pos_when_referenced_elsewhere(eng):
    # r10 ADVICE: the reference's * never includes virtual columns even
    # when the statement references them — a WHERE on a.pos must not
    # leak pos into SELECT *
    df = eng.sql(
        "select * from ctt.int_array a where a.pos > 0 order by item"
    )
    assert df.columns == ["item"]
    assert [tuple(r) for r in df.collect()] == [(2,), (3,)]


def test_alias_star_excludes_virtuals(eng):
    # a.* alongside an explicit a.pos: the star expands to fields only
    df = eng.sql(
        "select a.*, a.pos p from ctt.nested_struct.c.d a order by p, e"
    )
    assert df.columns == ["e", "f", "p"]
    assert [tuple(r) for r in df.collect()] == [
        (-1, "aaa", 0), (5, "zz", 0), (11, "c", 1),
    ]


def test_struct_star_with_pos_filter(eng):
    df = eng.sql(
        "select * from ctt.nested_struct.c.d a where a.pos = 0 order by e"
    )
    assert df.columns == ["e", "f"]
    assert [tuple(r) for r in df.collect()] == [(-1, "aaa"), (5, "zz")]


def test_joined_table_pos_column_not_a_mention(eng, spark):
    # a column literally named pos on a JOINED table must not trip the
    # virtual-column scan (qualified by the other alias)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW pt_r10 AS SELECT * FROM VALUES"
        " (0, 2), (5, 3) AS t(pos, v)"
    )
    df = eng.sql(
        "select a.item, p.pos from ctt.int_array a"
        " join pt_r10 p on a.item = p.v order by 1"
    )
    assert df.columns == ["item", "pos"]
    assert [tuple(r) for r in df.collect()] == [(2, 0), (3, 5)]


def test_view_over_subplan_surface(eng3):
    # r10 ADVICE (medium): CREATE VIEW bodies get the subplan rewrite
    eng3.sql(
        "create view v_sp_r10 as select ck, v.ok from cust_sp c,"
        " (select * from c.c_orders) v"
    )
    assert _rows(
        eng3, "select * from v_sp_r10 order by 1, 2"
    ) == [(1, 10), (1, 11), (1, 12), (2, 20)]
    eng3.sql(
        "create view v_sp_r10b as select ck from cust_sp c where exists"
        " (select 1 from c.c_orders o where o.ok = 20)"
    )
    assert _rows(eng3, "select * from v_sp_r10b") == [(2,)]


def test_view_over_table_path_scan(eng):
    eng.sql(
        "create view v_tp_r10 as select item from ctt.int_array"
    )
    assert _rows(eng, "select * from v_tp_r10 order by item") == [
        (1,), (2,), (3,),
    ]


def test_subplan_unaliased_outer_table(eng3):
    # r10 ADVICE: the qualifier word itself may be the table name
    assert _rows(
        eng3,
        "select ck, v.ok from cust_sp,"
        " (select * from cust_sp.c_orders) v order by 1, 2",
    ) == [(1, 10), (1, 11), (1, 12), (2, 20)]
    assert _rows(
        eng3,
        "select ck from cust_sp where exists"
        " (select 1 from cust_sp.c_orders o where o.ok = 20)",
    ) == [(2,)]


# ---- round-10: scalar aggregate subplans (HOF fast path) -----------------


def test_subplan_agg_count_semantics(eng3):
    # COUNT over NULL/empty collections is 0 (reference SubplanNode +
    # non-grouping count over zero rows)
    assert _rows(
        eng3,
        "select ck, (select count(*) from c.c_orders) n from cust_sp c"
        " order by ck",
    ) == [(1, 3), (2, 1), (3, 0)]
    assert _rows(
        eng3,
        "select ck, (select count(ok) from c.c_orders where ok > 10) n"
        " from cust_sp c order by ck",
    ) == [(1, 2), (2, 1), (3, 0)]


def test_subplan_agg_sum_min_max_avg(eng3):
    assert _rows(
        eng3,
        "select ck, (select sum(ok) from c.c_orders) s from cust_sp c"
        " order by ck",
    ) == [(1, 33), (2, 20), (3, None)]
    assert _rows(
        eng3,
        "select ck, (select min(od) from c.c_orders) m from cust_sp c"
        " order by ck",
    ) == [(1, "1992-04-19"), (2, "1996-08-05"), (3, None)]
    assert _rows(
        eng3,
        "select ck, (select avg(ok) from c.c_orders where ok > 10) a"
        " from cust_sp c order by ck",
    ) == [(1, 11.5), (2, 20.0), (3, None)]
    # arithmetic argument + scalar-array element
    assert _rows(
        eng3,
        "select id, (select sum(item * 2) from c.xs) s from cs_sp c"
        " order by id",
    ) == [(1, 36), (2, 16)]


def test_subplan_agg_in_where_and_aliased(eng3):
    assert _rows(
        eng3,
        "select ck from cust_sp c"
        " where (select count(*) from c.c_orders) > 1",
    ) == [(1,)]
    # alias on the agg select item is accepted and ignored
    assert _rows(
        eng3,
        "select ck, (select count(*) as n from c.c_orders) n"
        " from cust_sp c order by ck",
    ) == [(1, 3), (2, 1), (3, 0)]


def test_subplan_agg_result_types(eng3):
    # SUM of integrals is BIGINT, AVG is DOUBLE (reference result typing)
    df = eng3.sql(
        "select (select sum(ok) from c.c_orders) s,"
        " (select avg(ok) from c.c_orders) a from cust_sp c limit 1"
    )
    types = dict(df.dtypes)
    assert types["s"] == "bigint" and types["a"] == "double"


# ---- round-10 session 2: generalized subplan resolution ------------------


@pytest.fixture(scope="module")
def eng4(spark, sf_dir):
    e = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql("""
    CREATE OR REPLACE TEMP VIEW ct4 AS
    SELECT * FROM VALUES
      (1, array(array(1,2),array(3,4)),
       named_struct('c', named_struct('d',
           array(array(named_struct('e', 10, 'f', 'aaa'),
                       named_struct('e', -10, 'f', 'bbb')),
                 array(named_struct('e', 11, 'f', 'c')))))),
      (2, array(array(9), cast(null as array<int>), array()),
       named_struct('c', named_struct('d',
           cast(null as array<array<struct<e:int,f:string>>>))))
    AS t(id, arr_arr, ns)
    """)
    return e


def test_lateral_agg_over_collection_alias(eng4):
    # (SELECT COUNT(a2.item) cnt FROM a1.item a2) over the exploded
    # inner-array alias — lowers to an inline HOF, zero joins.  A
    # qualified `t.id` before the FROM clause must not be taken for the
    # item binding the alias t.
    for head in ("id", "t.id"):
        df = eng4.sql(
            f"select {head}, cnt from ct4 t, t.arr_arr a1,"
            " (select count(a2.item) cnt from a1.item a2) v order by id, cnt"
        )
        assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
        assert [tuple(r) for r in df.collect()] == [
            (1, 2), (1, 2), (2, 0), (2, 0), (2, 1),
        ]


def test_lateral_agg_with_where(eng4):
    df = eng4.sql(
        "select id, s from ct4 t, t.arr_arr a1,"
        " (select sum(a2.item) s from a1.item a2 where a2.item > 1) v"
        " order by id, s"
    )
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    rows = [tuple(r) for r in df.collect()]
    # Impala default ordering: NULLS LAST for ASC
    assert rows == [(1, 2), (1, 7), (2, 9), (2, None), (2, None)]


def test_subplan_multi_hop_flatten(eng4):
    # (SELECT COUNT(x.item) FROM t.arr_arr.item x) — flattened nested
    # arrays inside a subplan; NULL inner arrays contribute nothing
    df = eng4.sql(
        "select id, (select count(x.item) from t.arr_arr.item x) n"
        " from ct4 t order by id"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 4), (2, 1)]


def test_subplan_struct_field_agg_via_transform(eng4):
    # count over a struct-element FIELD through item hops
    df = eng4.sql(
        "select id, (select count(i.e) from t.ns.c.d.item i) n"
        " from ct4 t order by id"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 3), (2, 0)]


def test_relative_struct_scan_bare_fields(eng4):
    # bare element-field refs on an unaliased relative multi-hop path
    df = eng4.sql(
        "select id, e, f from ct4 t, t.ns.c.d.item order by id, e"
    )
    assert df.columns == ["id", "e", "f"]
    assert [tuple(r) for r in df.collect()] == [
        (1, -10, "bbb"), (1, 10, "aaa"), (1, 11, "c"),
    ]


def test_subplan_union_legs_both_rewritten(eng4):
    # UNION ALL legs inside a derived table each get their FROM rewritten
    df = eng4.sql(
        "select id, v.item from ct4 t,"
        " (select x.item from t.arr_arr.item x where x.item = 1"
        "  union all"
        "  select x.item from t.arr_arr.item x where x.item = 9) v"
        " order by id"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 1), (2, 9)]


def test_implicit_collection_alias_binding(eng4):
    # FROM t.ns.c.d binds the implicit alias d; the subplan counts the
    # inner arrays of each d element
    for head in ("id", "t.id"):
        df = eng4.sql(
            f"select {head}, cnt from ct4 t, t.ns.c.d,"
            " (select count(*) cnt from d.item) v order by id, cnt"
        )
        assert [tuple(r) for r in df.collect()] == [(1, 1), (1, 2)]


# ---- round-11 advice regressions -----------------------------------------


def test_bare_star_multi_item_from_keeps_sibling_columns(eng):
    # r11 advice (medium): a comma-triggered table-path rewrite must not
    # treat the FROM as single-item — `SELECT *, pos FROM region,
    # ctt.int_array` keeps region's columns in the bare `*`
    df = eng.sql("select *, pos from region, ctt.int_array order by pos")
    assert "r_regionkey" in df.columns and "r_name" in df.columns
    assert df.count() == 15  # 5 regions x 3 elements


def test_substitute_scoped_to_binding_block(eng4):
    # r11 advice (low): a nested subquery binding its OWN column named
    # like the removed lateral-agg output must not be rewritten
    df = eng4.sql(
        "select id, cnt from ct4 t, t.arr_arr a1,"
        " (select count(a2.item) cnt from a1.item a2) v"
        " where id in (select id from"
        "   (select id, count(*) cnt from ct4 group by id) z"
        "   where z.cnt >= 1)"
        " order by id, cnt"
    )
    assert [tuple(r) for r in df.collect()] == [
        (1, 2), (1, 2), (2, 0), (2, 0), (2, 1),
    ]


def test_relative_struct_scan_not_last_from_item(eng4):
    # r11 advice (low): `FROM t, t.ns.c.d.item, u` — the LATERAL VIEW
    # must be spliced AFTER the final relation (Spark grammar), not in
    # place of the comma item
    df = eng4.sql(
        "select id, e, f, x from ct4 t, t.ns.c.d.item, (select 1 x) u"
        " order by id, e"
    )
    assert [tuple(r) for r in df.collect()] == [
        (1, -10, "bbb", 1), (1, 10, "aaa", 1), (1, 11, "c", 1),
    ]


# ---- round-11 nested TPC-H surfaces ---------------------------------------


@pytest.fixture(scope="module")
def eng5(spark, sf_dir):
    e = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql("""
    CREATE OR REPLACE TEMP VIEW tnc AS
    SELECT * FROM VALUES
      (1, 'seg_a', array(
         named_struct('okey', 10, 'price', 100.0,
                      'items', array(named_struct('qty', 1, 'tag', 'x'),
                                     named_struct('qty', 2, 'tag', 'y'))),
         named_struct('okey', 11, 'price', 50.0,
                      'items', array(named_struct('qty', 5, 'tag', 'x'))))),
      (2, 'seg_b', array(
         named_struct('okey', 20, 'price', 70.0,
                      'items', CAST(NULL AS
                        array<struct<qty:int,tag:string>>)))),
      (3, 'seg_a', CAST(NULL AS array<struct<okey:int,price:double,
         items:array<struct<qty:int,tag:string>>>>))
    AS t(id, seg, ords)
    """)
    return e


def test_table_path_implicit_unnest_field(eng5):
    # Path.java: tnc.ords.items == tnc.ords.item.items — a FIELD of the
    # struct element implicitly unnests the array (the nested TPC-H
    # customer.c_orders.o_lineitems idiom, tpch_nested-q1.test)
    df = eng5.sql("select qty, tag from tnc.ords.items order by qty")
    assert [tuple(r) for r in df.collect()] == [
        (1, "x"), (2, "y"), (5, "x"),
    ]


def test_bare_element_field_resolution(eng5):
    # fe Path resolution: bare refs bind to the collection element's
    # fields (tpch_nested-q3.test's pervasive idiom)
    df = eng5.sql(
        "select okey, price from tnc c, c.ords o"
        " where price > 60 order by okey"
    )
    assert [tuple(r) for r in df.collect()] == [(10, 100.0), (20, 70.0)]
    # two-level: fields of the inner collection's element
    df = eng5.sql(
        "select id, qty from tnc c, c.ords o, o.items i"
        " where tag = 'x' order by qty"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 1), (1, 5)]


def test_bare_field_shadowed_by_inner_scope(eng5):
    # a nested subquery that rebinds the alias must keep ITS refs local
    # (nested TPC-H q2/q11: the min-cost subquery reuses s/ps)
    df = eng5.sql(
        "select c.id, o.okey from tnc c, c.ords o"
        " where o.price = (select max(o.price) from tnc c2, c2.ords o)"
        " order by okey"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 10)]


def test_left_outer_collection_join_with_on(eng5):
    # tpch_nested-q13.test: LEFT OUTER collection join with an ON filter
    # keeps parents whose collection has no qualifying element
    df = eng5.sql(
        "select id, count(okey) n from tnc c"
        " left outer join c.ords on (price > 60)"
        " group by id order by id"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 1), (2, 1), (3, 0)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # explode_outer(filter(...)), not a join


def test_inner_collection_join_with_on(eng5):
    df = eng5.sql(
        "select id, okey from tnc c join c.ords o on (o.price < 80)"
        " order by okey"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 11), (2, 20)]


def test_multi_agg_lateral_derived_table(eng5):
    # r10 verdict item 4: (SELECT COUNT(*) c, SUM(x) s FROM c.path) —
    # multiple aggregate items lower to inline HOFs, zero joins
    df = eng5.sql(
        "select id, n_ords, sum_price from tnc c,"
        " (select count(*) n_ords, sum(o.price) sum_price,"
        "         max(o.okey) max_okey from c.ords o) v"
        " where max_okey is not null or n_ords = 0 order by id"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Generate" not in plan
    assert [tuple(r) for r in df.collect()] == [
        (1, 2, 150.0), (2, 1, 70.0), (3, 0, None),
    ]


def test_lateral_agg_decimal_sum(eng5, spark):
    # DECIMAL sum through the HOF path keeps the reference's
    # DECIMAL(38,s) contract (tpch_nested-q18.test's sum(l_quantity))
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW tnd AS SELECT * FROM VALUES"
        " (1, array(named_struct('q', CAST(1.50 AS DECIMAL(12,2))),"
        "           named_struct('q', CAST(2.25 AS DECIMAL(12,2))))),"
        " (2, CAST(NULL AS array<struct<q:decimal(12,2)>>))"
        " AS t(id, arr)"
    )
    e = Engine(spark=spark, sf_dir="/root/testdata/sf0.001")
    df = e.sql(
        "select id, s from tnd t, (select sum(q) s from t.arr) v"
        " order by id"
    )
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    import decimal
    assert [tuple(r) for r in df.collect()] == [
        (1, decimal.Decimal("3.75")), (2, None),
    ]
    fld = df.schema["s"].dataType
    assert (fld.precision, fld.scale) == (38, 2)


@pytest.fixture(scope="module")
def eng6(spark, sf_dir):
    e = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql("""
    CREATE OR REPLACE TEMP VIEW tmap AS
    SELECT * FROM VALUES
      (1, map('k1', 7, 'k2', 8)),
      (2, map('k3', 9)),
      (3, CAST(NULL AS map<string,int>)),
      (4, map())
    AS t(id, m)
    """)
    return e


def test_map_subplan_scalar_aggs(eng6):
    # r11 (r10 verdict item 6): scalar aggregates over a MAP subplan
    # target — key/value via map_entries(); Catalyst rejects map-typed
    # correlated refs, so the HOF lowering is the only plan
    df = eng6.sql(
        "select id, (select count(*) from t.m) n,"
        " (select max(key) from t.m) mk,"
        " (select sum(value) from t.m where key != 'k1') sv"
        " from tmap t order by id"
    )
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in df.collect()] == [
        (1, 2, "k2", 8), (2, 1, "k3", 9), (3, 0, None, None),
        (4, 0, None, None),
    ]


def test_map_subplan_lateral_agg_and_exists(eng6):
    df = eng6.sql(
        "select id, n, s from tmap t,"
        " (select count(*) n, sum(value) s from t.m) v order by id"
    )
    assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in df.collect()] == [
        (1, 2, 15), (2, 1, 9), (3, 0, None), (4, 0, None),
    ]
    df = eng6.sql(
        "select id from tmap t"
        " where exists (select * from t.m where value > 8) order by id"
    )
    assert [tuple(r) for r in df.collect()] == [(2,)]


def test_correlated_with_clause_views(eng5):
    # IMPALA-2414 (nested-types-with-clause.test): a correlated relative
    # ref inside a WITH body of a joined derived table — the CTE body
    # rewrites in place and the ENCLOSING derived table gets LATERAL
    df = eng5.sql(
        "select id, okey from tnc c join"
        " (with w2 as (select okey from c.ords) select * from w2) v"
        " where id = 1 order by okey"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 10), (1, 11)]
    # doubly-nested WITH
    df = eng5.sql(
        "select id, okey from tnc c join"
        " (with w1 as (with w2 as (select okey from c.ords)"
        "  select * from w2) select okey from w1) v"
        " where id = 1 order by okey"
    )
    assert [tuple(r) for r in df.collect()] == [(1, 10), (1, 11)]
    # under an outer WITH
    df = eng5.sql(
        "with w1 as (select id, okey from tnc c join"
        " (with w2 as (select okey from c.ords) select * from w2) v)"
        " select * from w1 where id = 2"
    )
    assert [tuple(r) for r in df.collect()] == [(2, 20)]


# --- round-12: map-of-map value hops (nested-types-with-clause.test) ----


def test_map_of_map_value_hop_exposes_entries(spark):
    """`t.map_map_col.value` scans every INNER map's entries,
    parent-correlated — key/value must resolve (with-clause.test#4's w2
    view body; the engine flattens one map_entries level)."""
    from hopspark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW mm_t AS SELECT CAST(1 AS INT) AS id,"
        " map('a', map('x', 1, 'y', 2), 'b', map('z', 3)) AS map_map_col"
    )
    eng = Engine(spark)
    rows = eng.sql(
        "select t.id, v.key AS k, v.value AS vv from mm_t t,"
        " (select key, value from t.map_map_col.value) v order by k"
    ).collect()
    assert [(r.id, r.k, r.vv) for r in rows] == [
        (1, "x", 1), (1, "y", 2), (1, "z", 3),
    ]


def test_map_root_correlated_ref_wrapped(spark):
    """Catalyst rejects map-typed correlated column refs; the engine
    wraps the binding FROM item with a map_entries pre-computation so
    the correlated ref rides an ARRAY instead (plan contains no
    map-typed outer() ref and the query runs)."""
    from hopspark.engine import Engine

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW mm_t2 AS SELECT CAST(7 AS INT) AS id,"
        " map('k1', map('a', 10), 'k2', map('b', 20)) AS m"
    )
    eng = Engine(spark)
    rows = eng.sql(
        "select t.id, v.value AS vv from mm_t2 t,"
        " (select key, value from t.m.value) v order by vv"
    ).collect()
    assert [(r.id, r.vv) for r in rows] == [(7, 10), (7, 20)]


def test_map_of_map_value_hop_aggregates_over_entries(spark):
    """A lateral aggregate over `t.map_map_col.value` counts and sums the
    inner maps' entries: the rows the same path's ``SELECT *`` returns."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW mm_t3 AS SELECT CAST(1 AS INT) AS id,"
        " map('a', map('x', 1, 'y', 2), 'b', map('z', 3)) AS map_map_col"
    )
    eng = Engine(spark)

    def rows(agg, where=""):
        df = eng.sql(
            f"select t.id, v.n from mm_t3 t, (select {agg} n"
            f" from t.map_map_col.value {where}) v"
        )
        assert "Join" not in df._jdf.queryExecution().executedPlan().toString()
        return [tuple(r) for r in df.collect()]

    assert rows("count(*)") == [(1, 3)]
    assert rows("sum(value)") == [(1, 6)]
    assert rows("count(*)", "where value > 1") == [(1, 2)]


def test_field_of_map_value_array_unnests_in_a_subplan(spark):
    """``t.m.value.y`` with array<struct<y: array>> values unnests the
    value arrays (Path.java): the correlated subplan reads the elements
    the rootless scan of the same path returns."""
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW mv_t AS SELECT CAST(1 AS INT) AS id,"
        " map('a', array(named_struct('y', array(1, 2)),"
        " named_struct('y', array(3))), 'b', array(named_struct('y',"
        " array(4)))) AS m"
    )
    eng = Engine(spark)
    scan = eng.sql("select item from mv_t.m.value.y").collect()
    assert sorted(r.item for r in scan) == [1, 2, 3, 4]
    rows = eng.sql(
        "select t.id, (select count(*) from t.m.value.y) n,"
        " (select sum(item) from t.m.value.y) s from mv_t t"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, 4, 10)]


def test_unresolvable_subplan_path_is_an_analysis_error(spark):
    """A subquery FROM path whose root the statement binds to a relation
    but which does not resolve (``item`` of a BIGINT) is the reference's
    analysis error naming the path; a root bound to nothing (a database
    name) still reaches Spark."""
    from pyspark.errors import AnalysisException

    spark.sql(
        "CREATE OR REPLACE TEMP VIEW np_t AS SELECT CAST(1 AS INT) AS id,"
        " array(named_struct('o_orderkey', CAST(7 AS BIGINT))) AS c_orders"
    )
    eng = Engine(spark)
    with pytest.raises(ValueError, match=(
        "Could not resolve table reference: 't.c_orders.o_orderkey.item'"
    )):
        eng.sql(
            "select t.id, (select count(*) from t.c_orders.o_orderkey.item)"
            " n from np_t t"
        )
    with pytest.raises(AnalysisException):
        eng.sql(
            "select t.id, (select count(*) from nosuchdb.tbl) n from np_t t"
        ).collect()


def test_rootless_scan_looks_up_only_its_table(eng, monkeypatch):
    """The rootless scan's LATERAL VIEW column list (``AS __tpp1,
    __tpe1``) names no relation: only the table is looked up."""
    names = []
    relation = Engine._relation

    def counted(self, name):
        names.append(name)
        return relation(self, name)

    monkeypatch.setattr(Engine, "_relation", counted)
    assert _rows(
        eng, "select item, pos from ctt.int_array order by pos, item"
    ) == [(1, 0), (2, 1), (3, 2)]
    assert names and set(names) == {"ctt"}
