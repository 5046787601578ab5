"""Dialect-translation unit tests (Impala SQL → Spark SQL)."""

from __future__ import annotations

import pytest

from hopspark.dialect import translate


def test_passthrough_untouched():
    sql = "SELECT a, b FROM t WHERE x = 1 AND y LIKE 'z%'"
    assert translate(sql) == sql


def test_function_renames():
    assert translate("SELECT ndv(x) FROM t") == "SELECT approx_count_distinct(x) FROM t"
    # byte-mode default: strleft slices BYTES (translate.py byte-semantics
    # pass); with utf8_mode on it renames to the char-native left()
    assert translate("SELECT strleft(s, 3) FROM t") == (
        "SELECT CAST(substring(encode(s, 'utf-8'), 1, 3) AS STRING) FROM t"
    )
    assert translate(
        "SELECT strleft(s, 3) FROM t", options={"utf8_mode": True}
    ) == "SELECT left(s, 3) FROM t"
    # byte-mode lcase/lower map only the 26 ASCII letters (reference
    # toupper/tolower over raw bytes); utf8 mode keeps the Unicode native
    assert translate("SELECT lcase(s) FROM t") == (
        "SELECT translate(s, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ',"
        " 'abcdefghijklmnopqrstuvwxyz') FROM t"
    )
    # utf8 mode keeps the Unicode native, with the reference's simple
    # locale mapping for U+0130 (Java/ICU lower 'İ' as i + combining dot;
    # the reference's tolower gives plain 'i' — expr-test.cc:10876)
    assert translate(
        "SELECT lcase(s) FROM t", options={"utf8_mode": True}
    ) == "SELECT lower(translate(s, 'İ', 'I')) FROM t"


def test_isnull_two_arg_becomes_nvl():
    assert translate("SELECT isnull(a, b) FROM t") == "SELECT nvl(a, b) FROM t"
    # 1-arg isnull is Spark-native; untouched
    assert translate("SELECT isnull(a) FROM t") == "SELECT isnull(a) FROM t"


def test_appx_median_appends_quantile():
    assert (
        translate("SELECT appx_median(x) FROM t")
        == "SELECT percentile_approx(x, 0.5) FROM t"
    )


def test_zeroifnull_nullifzero():
    assert translate("SELECT zeroifnull(x) FROM t") == "SELECT coalesce(x, 0) FROM t"
    assert translate("SELECT nullifzero(x) FROM t") == "SELECT nullif(x, 0) FROM t"


def test_dayname_monthname():
    assert (
        translate("SELECT dayname(d) FROM t") == "SELECT date_format(d, 'EEEE') FROM t"
    )


def test_iregexp_literal():
    assert (
        translate("SELECT * FROM t WHERE s IREGEXP 'ab.*'")
        == "SELECT * FROM t WHERE s RLIKE '(?i)ab.*'"
    )


def test_null_ordering_defaults_asc_desc():
    out = translate("SELECT a FROM t ORDER BY a, b DESC")
    assert "ORDER BY a NULLS LAST, b DESC NULLS FIRST" in out


def test_null_ordering_respects_explicit():
    sql = "SELECT a FROM t ORDER BY a NULLS FIRST"
    assert translate(sql) == sql


def test_null_ordering_with_limit():
    out = translate("SELECT a FROM t ORDER BY a LIMIT 5")
    assert "ORDER BY a NULLS LAST LIMIT 5" in out


def test_null_ordering_in_window():
    out = translate("SELECT rank() OVER (PARTITION BY p ORDER BY x DESC) FROM t")
    assert "ORDER BY x DESC NULLS FIRST)" in out


def test_string_literals_protected():
    sql = "SELECT 'ndv(x) ORDER BY a' FROM t"
    assert translate(sql) == sql


def test_broadcast_hint():
    # r12: the hint moves to the SELECT clause — a /*+ */ comment after
    # JOIN is a Spark parse error (joins.test#23)
    out = translate("SELECT * FROM a JOIN [broadcast] b ON a.k = b.k")
    assert "[broadcast]" not in out
    assert "/*+ BROADCAST(b) */" in out


def test_hint_in_string_literal_untouched():
    """Bracket-hint-looking text inside literals/comments must survive: the
    hint rewrite runs token-level, not on the raw SQL."""
    sql = "SELECT * FROM t WHERE tag = '[broadcast]'"
    assert translate(sql) == sql
    sql2 = "SELECT /* [shuffle] note */ a FROM t"
    assert translate(sql2) == sql2


def test_shuffle_hint_dropped():
    out = translate("SELECT * FROM a JOIN [shuffle] b ON a.k = b.k")
    assert "[shuffle]" not in out and "SHUFFLE" not in out


def test_group_concat_default_separator():
    """Impala group_concat(x) joins with ', ' (StringConcat default);
    2-arg form keeps the explicit separator."""
    assert (
        translate("SELECT group_concat(s) FROM t")
        == "SELECT string_agg(s, ', ') FROM t"
    )
    assert (
        translate("SELECT group_concat(s, '|') FROM t")
        == "SELECT string_agg(s, '|') FROM t"
    )


def test_cast_format_case_insensitive():
    """FORMAT patterns are case-insensitive in the reference
    (cast-format-expr.cc); lowercase 'mm' is the month, not minutes."""
    out = translate("SELECT CAST('2020-01-02' AS DATE FORMAT 'yyyy-mm-dd')")
    # the flexible-parse wrapper normalizes separators / fills short years,
    # but the Java pattern must still be the month (MM), not minutes (mm)
    assert out.startswith("SELECT to_date(")
    assert '"yyyy-MM-dd"' in out


def test_function_rename_inside_expression():
    out = translate("SELECT 1 + ndv(x) * 2 FROM t GROUP BY g ORDER BY g DESC")
    assert "approx_count_distinct(x)" in out
    assert "g DESC NULLS FIRST" in out


def test_aggif_rewrite():
    from hopspark.dialect import translate

    out = translate("SELECT aggif(x = 1, y) FROM t")
    assert "max(CASE WHEN x = 1 THEN  y END)" in out


def test_ds_hll_mapping():
    from hopspark.dialect import translate

    out = translate("SELECT ds_hll_estimate(ds_hll_union(s)) FROM t")
    assert "hll_sketch_estimate(hll_union_agg(s))" in out


def test_cast_format_clause():
    from hopspark.dialect import translate

    out = translate("SELECT CAST('2020-01-02' AS TIMESTAMP FORMAT 'YYYY-MM-DD')")
    assert out.startswith("SELECT to_timestamp(")
    assert '"yyyy-MM-dd"' in out
    assert 'date_format(ts , "yyyy-MM-dd HH:mm:ss")' in translate(
        "SELECT CAST(ts AS STRING FORMAT 'YYYY-MM-DD HH24:MI:SS') FROM t"
    )
    # ISO designators become quoted Java literals inside a double-quoted
    # SQL string (a single-quoted literal would break on the inner quotes)
    assert "\"yyyy-MM-dd'T'HH:mm:ss'Z'\"" in translate(
        "SELECT CAST(s AS TIMESTAMP FORMAT 'YYYY-MM-DDTHH24:MI:SSZ') FROM t"
    )
    # plain casts untouched
    assert translate("SELECT CAST(x AS INT) FROM t") == "SELECT CAST(x AS INT) FROM t"


def test_cast_format_e2e(spark):
    import datetime as dt

    from hopspark.dialect import translate

    row = spark.sql(
        translate(
            "SELECT CAST('05/03/2021 14:30' AS TIMESTAMP FORMAT 'DD/MM/YYYY HH24:MI') AS t"
        )
    ).head()
    assert row.t == dt.datetime(2021, 3, 5, 14, 30)


def test_appx_count_distinct_option():
    """CountDistinctToNdvRule parity: opt-in COUNT(DISTINCT) → approx
    (fe/.../rewrite/CountDistinctToNdvRule.java, APPX_COUNT_DISTINCT)."""
    from hopspark.dialect import translate

    sql = "SELECT COUNT(DISTINCT x), COUNT(y) FROM t"
    assert "approx_count_distinct" not in translate(sql)
    out = translate(sql, options={"appx_count_distinct": True})
    assert "approx_count_distinct" in out
    assert "COUNT(y)" in out  # plain count untouched


def test_appx_count_distinct_e2e(spark, sf_dir):
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir, options={"appx_count_distinct": True})
    exact = Engine(spark=spark, sf_dir=sf_dir)
    a = eng.sql("SELECT COUNT(DISTINCT l_partkey) AS nd FROM lineitem").head().nd
    e = exact.sql("SELECT COUNT(DISTINCT l_partkey) AS nd FROM lineitem").head().nd
    assert abs(a - e) / e < 0.1  # HLL error bound


def test_zipping_unnest_syntax(spark):
    """FROM t, UNNEST(a1, a2) with item/pos refs — zip semantics with null
    padding (sql-parser.cup:315; unnest-node.h:54-94)."""
    from hopspark.dialect import translate

    spark.sql("SELECT array(1,2,3) AS arr1, array('a','b') AS arr2").createOrReplaceTempView(
        "unnest_t"
    )
    rows = spark.sql(
        translate(
            "SELECT arr1.item AS i1, arr2.item AS i2, arr1.pos AS p "
            "FROM unnest_t, UNNEST(arr1, arr2)"
        )
    ).collect()
    assert [(r.i1, r.i2, r.p) for r in rows] == [(1, "a", 0), (2, "b", 1), (3, None, 2)]


def test_histogram_and_kll_rewrites(spark, sf_dir):
    from hopspark.dialect import translate
    from hopspark.engine import Engine

    out = translate("SELECT histogram(x) FROM t")
    assert out == "SELECT array_join(sort_array(collect_list(CAST(x AS STRING))), ', ') FROM t"
    assert translate("SELECT ds_kll_quantile(ds_kll_sketch(q), 0.5) FROM t") == (
        "SELECT CAST(percentile(q, 0.5) AS FLOAT) FROM t"
    )
    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql("SELECT histogram(r_regionkey) AS h FROM region").head().h == "0, 1, 2, 3, 4"
    m = eng.sql(
        "SELECT ds_kll_quantile(ds_kll_sketch(l_quantity), 0.5) AS m FROM lineitem"
    ).head().m
    assert 1 <= m <= 50


def test_set_statement_surface(spark, sf_dir):
    """SET <option>=<value> through engine.sql (impala-shell SET parity)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql("SET appx_count_distinct=true").count() == 0
    assert eng.options["appx_count_distinct"] is True
    out = eng.sql("SELECT COUNT(DISTINCT r_regionkey) AS nd FROM region")
    assert out.head().nd >= 4  # approx, small relation => near-exact
    eng.sql("SET appx_count_distinct=off")
    assert eng.options["appx_count_distinct"] is False


def test_utf8_variants_and_approx_family(spark, sf_dir):
    """*_utf8 variants map to the (UTF-8-native) base functions;
    distinctpc/distinctpcsa/sampled_ndv all collapse to the HLL estimate."""
    from hopspark.dialect import translate
    from hopspark.engine import Engine

    out = translate("SELECT length_utf8(s), sampled_ndv(x, 0.1), distinctpc(y) FROM t")
    assert out == (
        "SELECT length(s), approx_count_distinct(x), approx_count_distinct(y) FROM t"
    )
    eng = Engine(spark=spark, sf_dir=sf_dir)
    r = eng.sql(
        "SELECT length_utf8('héllo') AS l, "
        "int_months_between(TIMESTAMP '2020-03-15 00:00:00', TIMESTAMP '2020-01-01 00:00:00') AS imb"
    ).head()
    assert r.l == 5 and r.imb == 2


def test_regexp_like_flags(spark, sf_dir):
    """3-arg regexp_like with literal flags (i/m/n) folds the flags into
    the pattern; 2-arg form is Spark-native and untouched.  Other flags
    follow the reference: the later of c and i wins, and any other letter
    is an error."""
    from hopspark.dialect import translate
    from hopspark.engine import Engine

    assert translate("SELECT regexp_like(s, 'x') FROM t") == "SELECT regexp_like(s, 'x') FROM t"
    eng = Engine(spark=spark, sf_dir=sf_dir)
    r = eng.sql(
        "SELECT regexp_like('ABC', 'abc', 'i') AS a, regexp_like('ABC', 'abc') AS b, "
        "regexp_like('abc', 'ABC', 'ic') AS c, regexp_like('abc', 'ABC', 'ci') AS d"
    ).head()
    assert r.a is True and r.b is False and r.c is False and r.d is True
    with pytest.raises(Exception, match="Illegal match parameter x"):
        eng.sql("SELECT regexp_like('abc', 'abc', 'x') AS e").collect()


def test_utf8_mode_byte_semantics_default(spark, sf_dir):
    """UTF8_MODE defaults off (reference query-options.h): length counts
    bytes and substr slices bytes; the *_utf8 variants opt back into
    character semantics; SET utf8_mode toggles the session."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir, register_tables=False)
    row = eng.sql(
        "SELECT length('héllo') a, utf8_length('héllo') b, "
        "substr('héllo', 1, 3) c, utf8_substr('héllo', 1, 3) d"
    ).collect()[0]
    assert (row["a"], row["b"], row["c"], row["d"]) == (6, 5, "hé", "hél")
    eng.sql("SET utf8_mode=true")
    row = eng.sql("SELECT length('héllo') a, substr('héllo', 1, 3) b").collect()[0]
    assert (row["a"], row["b"]) == (5, "hél")
    eng.sql("SET utf8_mode=false")
    assert eng.sql("SELECT length('héllo') a").collect()[0]["a"] == 6
    # ASCII is unaffected either way
    assert eng.sql("SELECT substr('hello', 2, 3) a").collect()[0]["a"] == "ell"


def test_view_ddl_surface(spark, sf_dir):
    """CREATE/ALTER/DROP VIEW (Impala view DDL) — views are session temp
    views over the engine catalog; bodies pass through dialect translation
    (the nvl below is Impala-only)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.sql(
        "CREATE VIEW v_ddl AS SELECT n_name, nvl(NULL, n_nationkey) AS k "
        "FROM nation WHERE n_nationkey >= 10"
    )
    n1 = eng.sql("SELECT count(*) AS c FROM v_ddl").head().c
    assert n1 > 0
    # IF NOT EXISTS against an existing view is a no-op
    eng.sql("CREATE VIEW IF NOT EXISTS v_ddl AS SELECT 1 AS one")
    assert eng.sql("SELECT count(*) AS c FROM v_ddl").head().c == n1
    eng.sql("ALTER VIEW v_ddl AS SELECT n_name FROM nation")
    assert eng.sql("SELECT * FROM v_ddl LIMIT 1").columns == ["n_name"]
    eng.sql("DROP VIEW v_ddl")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        eng.sql("DROP VIEW v_ddl")
    eng.sql("DROP VIEW IF EXISTS v_ddl")  # silent


def test_view_ddl_edge_semantics(spark, sf_dir):
    """Round-2 advice: plain CREATE VIEW over an existing view must raise
    (Impala 'already exists', fe CreateViewStmt), IF NOT EXISTS must match
    case-insensitively (Spark's catalog is case-insensitive), the column-list
    form must rename, and db-qualified names must be rejected up front."""
    import pytest as _pytest

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.sql("CREATE VIEW v_edge AS SELECT n_name FROM nation")
    try:
        # plain CREATE over existing: raise, don't silently replace
        with _pytest.raises(ValueError, match="already exists"):
            eng.sql("CREATE VIEW v_edge AS SELECT 1 AS one")
        # IF NOT EXISTS is case-insensitive: V_EDGE no-ops against v_edge
        eng.sql("CREATE VIEW IF NOT EXISTS V_EDGE AS SELECT 1 AS one")
        assert eng.sql("SELECT * FROM v_edge LIMIT 1").columns == ["n_name"]
        # column-list form renames the body's output
        eng.sql(
            "CREATE VIEW v_cols (nk, nm) AS "
            "SELECT n_nationkey, n_name FROM nation"
        )
        assert eng.sql("SELECT * FROM v_cols LIMIT 1").columns == ["nk", "nm"]
        # db-qualified views have no home in the temp-view catalog
        with _pytest.raises(ValueError, match="qualified"):
            eng.sql("CREATE VIEW somedb.v_q AS SELECT 1 AS one")
    finally:
        eng.sql("DROP VIEW IF EXISTS v_edge")
        eng.sql("DROP VIEW IF EXISTS v_cols")


def test_explain_statement_surface(spark, sf_dir):
    """EXPLAIN <query> returns the plan as rows of 'Explain String' —
    the reference's HS2 EXPLAIN result shape."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    df = eng.sql("EXPLAIN SELECT r_name FROM region WHERE r_regionkey = 1")
    assert df.columns == ["Explain String"]
    text = "\n".join(r[0] for r in df.collect())
    assert "Physical Plan" in text and "region" in text


def test_values_multi_row_tuple_form(spark, sf_dir):
    """Impala values((...),(...)) is N rows, not one row of structs
    (sql-parser.cup values_stmt)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql("values((1+8, 'a'), (2, 'b')) order by 1 desc").collect()
    assert [(r[0], r[1]) for r in rows] == [(9, "a"), (2, "b")]
    # single-row and single-row-tuple forms
    assert eng.sql("values(1, 2)").collect() == eng.sql("values((1, 2))").collect()
    # scalar-subquery operands are NOT row tuples — translator must leave
    # the parens alone (Spark then rejects it, same as the reference
    # rejects subqueries inside VALUES)
    tr = translate("values((select 1), 'k')")
    assert "((" in tr.replace(" ", "")


def test_tablesample_system_sql(spark, sf_dir):
    """TABLESAMPLE SYSTEM(p) REPEATABLE(s) parses and samples
    deterministically per seed (opt_tablesample grammar; file-vs-row
    sampling delta documented in the rewrite)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    q = "select count(*) c from orders tablesample system(40) repeatable(7)"
    a = eng.sql(q).collect()[0].c
    b = eng.sql(q).collect()[0].c
    total = eng.sql("select count(*) c from orders").collect()[0].c
    assert a == b and 0 < a < total
    assert eng.sql(
        "select count(*) c from nation tablesample system(100)"
    ).collect()[0].c == 25


def test_interval_expression_quantity(spark, sf_dir):
    """Impala allows arbitrary exprs as INTERVAL quantities
    (TimestampArithmeticExpr; e.g. `ts + interval smallint_col days`) —
    rewritten to make_interval, preserving DATE->DATE and both operand
    orders; literal quantities stay native INTERVAL syntax."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql(
        "select cast('1970-01-01' as timestamp) + interval n_nationkey days d "
        "from nation order by 1 limit 3"
    ).collect()
    assert [r.d.day for r in rows] == [1, 2, 3]
    # interval-first order
    r = eng.sql(
        "select interval n_regionkey + 1 months + cast('2020-01-31' as timestamp) d "
        "from nation where n_nationkey = 0"
    ).collect()[0]
    assert (r.d.month, r.d.day) == (2, 29)  # make_interval clamps Jan 31 + 1mo
    # DATE input stays DATE
    r = eng.sql(
        "select cast('2020-01-01' as date) + interval n_nationkey days d "
        "from nation where n_nationkey = 5"
    ).collect()[0]
    import datetime

    assert r.d == datetime.date(2020, 1, 6) and isinstance(r.d, datetime.date)
    # sub-second expr quantity
    r = eng.sql(
        "select cast('2020-01-01' as timestamp) + interval n_nationkey milliseconds d "
        "from nation where n_nationkey = 24"
    ).collect()[0]
    assert r.d.microsecond == 24000
    # literal form still parses (native Spark path)
    assert eng.sql(
        "select cast('2020-01-01' as timestamp) + interval 3 days d"
    ).collect()[0].d.day == 4


def test_ignore_nulls_inside_call_parens(spark, sf_dir):
    """Impala's in-paren IGNORE NULLS (sql-parser.cup:3729
    `expr_list KW_IGNORE KW_NULLS`) moves outside the call for Spark."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql(
        "select first_value(nullif(n_regionkey, 0) ignore nulls) "
        "over (order by n_nationkey) f from nation order by n_nationkey limit 3"
    ).collect()
    assert [r.f for r in rows] == [None, 1, 1]
    rows = eng.sql(
        "select lag(nullif(n_regionkey, 0), 1 ignore nulls) "
        "over (order by n_nationkey) f from nation order by n_nationkey limit 3"
    ).collect()
    assert [r.f for r in rows] == [None, None, 1]


def test_select_list_unnest_zipping(spark, sf_dir):
    """IMPALA-10920 select-list zipping UNNEST: arrays explode in
    lockstep, shorter padded with NULLs; shares semantics with the
    FROM-clause form."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql(
        "select unnest(a1) x, unnest(a2) y "
        "from (select array(1,2,3) a1, array('a','b') a2) t"
    ).collect()
    assert [(r.x, r.y) for r in rows] == [(1, "a"), (2, "b"), (3, None)]
    # nested inside a subquery
    assert eng.sql(
        "select count(*) c from "
        "(select unnest(arr) x from (select array(1,2,3) arr) t) q"
    ).collect()[0].c == 3


def test_implicit_collection_join(spark, sf_dir):
    """Impala's `FROM tbl t, t.arr a` collection join: scalar arrays via
    a.item/a.pos, struct arrays via direct field access, no-alias form
    resolves against the source column without ambiguity."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql(
        "select a.item, a.pos from (select array(7,8) arr) t, t.arr a "
        "order by a.pos"
    ).collect()
    assert [tuple(r) for r in rows] == [(7, 0), (8, 1)]
    rows = eng.sql(
        "select arr.item from (select array(5,6) arr) t, t.arr"
    ).collect()
    assert sorted(r[0] for r in rows) == [5, 6]
    rows = eng.sql(
        "select s.x, s.y from (select array(named_struct('x',1,'y','a'), "
        "named_struct('x',2,'y','b')) arr) t, t.arr s order by s.x"
    ).collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")]
    # plain multi-table FROM commas are untouched
    assert eng.sql(
        "select count(*) c from region r, nation n "
        "where r.r_regionkey = n.n_regionkey"
    ).collect()[0].c == 25


def test_c_style_logical_operators(spark, sf_dir):
    """sql-scanner.flex: && is AND, ! is NOT, || is CompoundVerticalBar —
    boolean operands mean OR, string operands mean concat (type-dispatch
    mirrored by predicate-marker detection at OR precedence)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql(
        "select count(*) c from nation where n_regionkey = 0 && n_nationkey < 10"
    ).collect()[0].c == 2
    assert eng.sql(
        "select count(*) c from nation where n_regionkey = 4 || n_nationkey = 0"
    ).collect()[0].c == 6
    assert eng.sql("select 'a' || 'b' x").collect()[0].x == "ab"
    # bitwise single-char ops untouched
    assert tuple(eng.sql("select 12 & 10 a, 12 | 10 b").collect()[0]) == (8, 14)


def test_bars_bool_column_catalog_dispatch(spark, sf_dir):
    """`||` on BARE boolean columns — no predicate marker in either
    operand — is resolved through catalog schema knowledge, the same
    type dispatch the reference's analyzer does for
    CompoundVerticalBarExpr (round-6: previously a documented
    concat-path delta)."""
    from hopspark.dialect.translate import translate
    from hopspark.engine import Engine

    bc = {"is_big": "BOOLEAN", "is_disc": "BOOLEAN"}
    assert " OR " in translate("select is_big || is_disc from f", column_types=bc)
    assert " OR " in translate("select a || is_disc || c from f", column_types=bc)
    # string columns / unknown names keep concat; function calls opaque
    assert "||" in translate("select s1 || s2 from f", column_types=bc)
    assert "||" in translate("select is_big(x) || s from f", column_types=bc)
    # no catalog knowledge: unchanged legacy behavior
    assert "||" in translate("select is_big || is_disc from f")

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.sql(
        "CREATE VIEW bars_flags AS SELECT n_regionkey = 0 AS is_big, "
        "n_nationkey < 10 AS is_disc, n_nationkey FROM nation"
    )
    try:
        n_bars = eng.sql(
            "select count(*) c from bars_flags where is_big || is_disc"
        ).collect()[0].c
        n_or = eng.sql(
            "select count(*) c from bars_flags where is_big OR is_disc"
        ).collect()[0].c
        assert n_bars == n_or and n_bars > 0
    finally:
        eng.sql("DROP VIEW IF EXISTS bars_flags")


def test_postfix_factorial_operator(spark, sf_dir):
    """5! postfix factorial (ArithmeticExpr FACTORIAL, sql-parser.cup:3635);
    prefix ! stays NOT."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql("select 5! f").collect()[0].f == 120
    assert eng.sql("select 3 + 5! * 2 f").collect()[0].f == 243
    assert eng.sql("select (2+3)! f").collect()[0].f == 120
    assert eng.sql(
        "select count(*) c from nation where !(n_regionkey = 0)"
    ).collect()[0].c == 20


def test_collection_join_inner_semantics(spark, sf_dir):
    """The reference's implicit collection join is INNER: rows with empty
    or NULL collections are omitted while NULL elements surface
    (nested-types-scanner-basic.test: 8-row table yields 10 items, no
    padding). Bare COUNT(*) works for arrays AND maps (no AS clause when
    nothing references the elements)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql(
        "select a.item from (select array(1,2) arr union all select array() "
        "union all select cast(null as array<int>)) t, t.arr a"
    ).collect()
    assert sorted(r[0] for r in rows) == [1, 2]
    assert eng.sql(
        "select count(*) c from (select array(1, null, 3) arr) t, t.arr a"
    ).collect()[0].c == 3
    assert eng.sql(
        "select count(*) c from (select map('a',1,'b',2) mp union all "
        "select cast(null as map<string,int>) mp) t, t.mp m"
    ).collect()[0].c == 2


def test_unnest_drops_fully_empty_rows(spark, sf_dir):
    """zipping-unnest-in-select-list.test: unnesting an empty (or NULL)
    array yields ZERO rows — padding applies only between unequal-length
    arrays, never as whole-row NULL padding."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql(
        "select unnest(arr) x from "
        "(select array() arr union all select array(1) arr) t"
    ).collect()
    assert [r.x for r in rows] == [1]
    assert eng.sql(
        "select count(*) c from (select cast(null as array<int>) arr) t, "
        "unnest(t.arr)"
    ).collect()[0].c == 0
    rows = eng.sql(
        "select unnest(a1) x, unnest(a2) y "
        "from (select array(1,2,3) a1, array('a') a2) t"
    ).collect()
    assert len(rows) == 3 and rows[2].y is None


def test_collection_join_on_disk_parquet(spark, sf_dir, tmp_path):
    """The collection-join SQL over a REAL nested parquet table (not an
    inline fixture): array<struct> written to disk, registered, queried
    via FROM t, t.orders o with struct-field access + parent filter —
    mirroring nested-types-scanner-basic.test's access pattern."""
    from pyspark.sql import functions as F

    from hopspark.catalog import read_table
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    orders = read_table(spark, "orders", sf_dir)
    nested = orders.groupBy("o_custkey").agg(
        F.collect_list(
            F.struct(
                F.col("o_orderkey").alias("okey"),
                F.col("o_orderstatus").alias("status"),
            )
        ).alias("orders")
    )
    out = str(tmp_path / "cust_nested.parquet")
    nested.write.mode("overwrite").parquet(out)
    spark.read.parquet(out).createOrReplaceTempView("cust_nested")
    rows = eng.sql(
        """
        SELECT c.o_custkey, COUNT(o.okey) AS n_open
        FROM cust_nested c, c.orders o
        WHERE o.status = 'O' AND c.o_custkey < 50
        GROUP BY c.o_custkey
        ORDER BY c.o_custkey
        """
    ).collect()
    flat = {
        r.o_custkey: r.n
        for r in orders.filter("o_orderstatus = 'O' AND o_custkey < 50")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert {r.o_custkey: r.n_open for r in rows} == flat and rows


def test_string_int_cast_parse_guard(spark, sf_dir):
    """CAST(string AS int type) follows the reference's StringToInt
    contract (digits/sign/whitespace only → else NULL) for literals AND
    for catalog-known STRING columns (round-6)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    row = eng.sql(
        "select cast('3.9' as int) a, cast(' 42 ' as int) b, "
        "cast('abc' as int) c"
    ).collect()[0]
    assert (row.a, row.b, row.c) == (None, 42, None)
    # o_orderpriority values like '1-URGENT' are digit-prefixed but not
    # digit-only: the reference parse rejects them (Spark alone would
    # truncate '1-URGENT' to NULL anyway, but '3' || '-MEDIUM' shapes
    # show the difference via numeric-prefix strings)
    eng.sql(
        "CREATE VIEW numstr AS SELECT concat(cast(o_orderkey as string), "
        "'.5') AS s, o_orderkey FROM orders"
    )
    try:
        n = eng.sql(
            "select count(*) c from numstr where cast(s as int) is null"
        ).collect()[0].c
        total = eng.sql("select count(*) c from numstr").collect()[0].c
        assert n == total > 0
    finally:
        eng.sql("DROP VIEW IF EXISTS numstr")


def test_null_lhs_not_in_subquery_is_not_exists():
    """NULL NOT IN (<subquery>) must behave like the reference's
    null-aware anti join: TRUE when the subquery is empty (NAAJ returns
    every probe row on an empty build side), filtered otherwise.
    Catalyst's NullPropagation folds In(null, subquery) to NULL before
    planning, so the dialect layer rewrites the literal-NULL-LHS form to
    NOT EXISTS (exactly equivalent in filter context)."""
    from hopspark.dialect.translate import translate

    out = translate(
        "select * from t where null not in (select x from t2 where y > 0)"
    )
    assert "NOT EXISTS (select x from t2 where y > 0)" in out
    out = translate("select * from t where cast(null as int) not in (select x from t2)")
    assert "NOT EXISTS (select x from t2)" in out
    # column LHS, literal IN-list, and NOT IN list forms are untouched
    assert "not in" in translate("select * from t where a not in (select x from t2)")
    assert "not in" in translate("select * from t where null not in (1, 2)")
    # IS NOT NULL before an unrelated NOT IN is untouched
    kept = translate("select * from t where x is not null and y not in (select z from t2)")
    assert "is not null" in kept and "not in (select z" in kept


def test_values_first_row_aliases(spark, sf_dir):
    """Impala names VALUES columns via first-row select-list aliases
    (sql-parser.cup values_stmt); Spark needs SELECT * FROM VALUES ...
    AS _v(names). Standalone, inline-view, and AS-alias forms."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql("values(2 x, 20 y), (1, 10) order by x").collect()
    assert [r.asDict() for r in rows] == [
        {"x": 1, "y": 10},
        {"x": 2, "y": 20},
    ]
    assert eng.sql("select sum(x) s from (values(1 x), (2), (3)) t").collect()[0].s == 6
    assert eng.sql("values(1 as x, 2 as y)").columns == ["x", "y"]
    # unaliased VALUES stays on the untouched fast path
    assert eng.sql("values(1 + 1, 'a')").collect()[0][0] == 2


def test_explain_verbose_option_switches_mode(spark, sf_dir):
    from hopspark.engine import Engine

    engine = Engine(spark=spark, sf_dir=sf_dir)
    """SET explain_verbose toggles EXPLAIN between the formatted physical
    plan and the extended (logical + physical) rendering — the
    EXPLAIN_LEVEL analogue (reference query-options.h)."""
    engine.sql("SET explain_verbose=true")
    try:
        verbose = engine.explain("SELECT n_name FROM nation WHERE n_regionkey = 0")
        assert "Optimized Logical Plan" in verbose
    finally:
        engine.sql("SET explain_verbose=false")
    plain = engine.explain("SELECT n_name FROM nation WHERE n_regionkey = 0")
    assert "Physical Plan" in plain and "Optimized Logical Plan" not in plain


def test_avg_timestamp_returns_timestamp(spark, sf_dir):
    """avg(TIMESTAMP) -> TIMESTAMP (BuiltinsDb.java:1359, TimestampAvg*);
    Spark non-ANSI would silently implicit-cast to DOUBLE epoch seconds.
    Covers the literal, catalog-column, dotted, and window forms."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql("select avg(ts) a from events").dtypes == [("a", "timestamp")]
    assert eng.sql("select avg(e.ts) a from events e").dtypes == [
        ("a", "timestamp")
    ]
    r = eng.sql(
        "select avg(cast('2024-01-01' as timestamp)) a"
    ).collect()[0].a
    import datetime as dt

    assert r == dt.datetime(2024, 1, 1)
    win = eng.sql(
        "select avg(ts) over (partition by event_type) a from events limit 1"
    )
    assert win.dtypes == [("a", "timestamp")]
    # numeric avg is untouched
    assert eng.sql("select avg(value) a from events").dtypes == [("a", "double")]


def test_avg_timestamp_survives_view_clobber(spark, sf_dir):
    """r12 regression (VERDICT r12 what's-wrong #1): an out-of-band
    createOrReplaceTempView that replaces `events` with a raw parquet read
    (int64-nanos ts — tools/query_fuzzer.register_views under the driver's
    regenerated encoding) must not survive into the next Engine(): the
    session registration marker is verified structurally on every hit
    (catalog._views_verified), so register() heals the clobber and the
    avg(TIMESTAMP)->TIMESTAMP translate-time rewrite keeps firing."""
    from pyspark.sql import functions as F

    from hopspark import catalog
    from hopspark.engine import Engine

    # Make sure the marker is set for this sf_dir first.
    Engine(spark=spark, sf_dir=sf_dir)
    assert getattr(spark, "_hopspark_tables_registered", None) is not None
    # Simulate the driver environment's raw clobber: events with long ts.
    poisoned = catalog.read_table(spark, "events", sf_dir).withColumn(
        "ts", F.unix_micros("ts") * F.lit(1000)
    )
    poisoned.createOrReplaceTempView("events")
    assert dict(spark.table("events").dtypes)["ts"] == "bigint"
    # A fresh Engine must detect and heal the clobber despite the marker.
    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert dict(spark.table("events").dtypes)["ts"] == "timestamp"
    assert eng.sql("select avg(ts) a from events").dtypes == [
        ("a", "timestamp")
    ]


def test_same_schema_view_clobber_is_healed(spark, sf_dir, tmp_path):
    """A catalog view replaced out-of-band by one with the SAME schema
    (the table read from another directory) passes the schema check; the
    sentinel view's file path must still tell the next Engine() to
    re-register."""
    import pyarrow.parquet as pq

    from hopspark import catalog
    from hopspark.engine import Engine

    Engine(spark=spark, sf_dir=sf_dir)
    table = catalog.TABLES[0]
    rows = pq.read_table(catalog.table_path(sf_dir, table))
    pq.write_table(rows.slice(0, 1), catalog.table_path(str(tmp_path), table))
    try:
        catalog.read_table(spark, table, str(tmp_path)).createOrReplaceTempView(
            table
        )
        assert spark.table(table).count() == 1
        eng = Engine(spark=spark, sf_dir=sf_dir)
        assert eng.sql(f"select count(*) c from {table}").collect()[0].c == (
            rows.num_rows
        )
    finally:
        catalog.register(spark, sf_dir, force=True)


def test_ceil_floor_double_returns_double(spark, sf_dir):
    """ceil/floor over DOUBLE return DOUBLE (impala_functions.py:348-349);
    Spark natives return BIGINT. DECIMAL inputs keep Spark's DECIMAL."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql("select ceil(cast(2.3 as double)) a").dtypes == [
        ("a", "double")
    ]
    assert eng.sql("select floor(value) a from events").dtypes == [
        ("a", "double")
    ]
    assert eng.sql("select dceil(e.value) a from events e").dtypes == [
        ("a", "double")
    ]
    assert eng.sql("select ceil(2.3) a").dtypes[0][1].startswith("decimal")


def test_date_trunc_date_overload_range(spark, sf_dir):
    """Round-8 advice (medium): the DATE overload of date_trunc/trunc has
    the DATE range [0001, 9999] (date-value.h), not TIMESTAMP's 1400 floor
    (impala_functions.py:283)."""
    import datetime as dt

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql(
        "select date_trunc('YEAR', DATE '1200-06-15') a"
    ).collect()[0].a == dt.date(1200, 1, 1)
    assert eng.sql(
        "select trunc(DATE '1200-06-15', 'YEAR') a"
    ).collect()[0].a == dt.date(1200, 1, 1)
    # crossing the DATE lower bound is still in-range for DATE
    assert eng.sql(
        "select date_trunc('WEEK', DATE '1400-01-01') a"
    ).collect()[0].a == dt.date(1399, 12, 30)
    # the TIMESTAMP overload keeps the 1400 floor
    assert eng.sql(
        "select date_trunc('YEAR', CAST('1200-06-15' AS TIMESTAMP)) a"
    ).collect()[0].a is None


def test_retranslate_keeps_date_kernels():
    """Round-8 advice (medium): re-translating translated SQL (stored view
    bodies) must keep next_day/last_day on the DATE-returning native form —
    _static_type types to_date_strict(...) and DATE(...) as DATE."""
    from hopspark.dialect.translate import translate

    for sql in (
        "SELECT next_day(CAST(c AS DATE), 'MO') FROM t",
        "SELECT last_day(CAST(c AS DATE)) FROM t",
    ):
        once = translate(sql)
        again = translate(once)
        assert again == once
        assert "next_day2" not in again and "last_day1" not in again


def test_format_casts_keep_their_type(spark, sf_dir):
    """A CAST with a FORMAT clause has its target type: next_day/last_day
    over ``CAST(... AS DATE FORMAT ...)`` stay on the DATE overload and
    avg over ``CAST(... AS TIMESTAMP FORMAT ...)`` returns a TIMESTAMP,
    exactly as the plain CAST forms do."""
    import datetime

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    d = "CAST('2020-01-01' AS DATE FORMAT 'YYYY-MM-DD')"
    df = eng.sql(f"SELECT next_day({d}, 'MO') n, last_day({d}) l")
    assert [t for _, t in df.dtypes] == ["date", "date"]
    assert tuple(df.collect()[0]) == (
        datetime.date(2020, 1, 6), datetime.date(2020, 1, 31)
    )
    df = eng.sql(
        "SELECT avg(CAST('2020-01-01' AS TIMESTAMP FORMAT 'YYYY-MM-DD')) a"
    )
    assert df.dtypes == [("a", "timestamp")]
    assert df.collect()[0].a == datetime.datetime(2020, 1, 1)


def test_mask_char_codepoint_out_of_range():
    """Round-8 advice (low): a literal char arg >= 0x110000 must not crash
    translate(); the reference's byte path truncates to the low byte."""
    from hopspark.dialect.translate import translate

    out = translate("SELECT mask('abc', 2000000)")
    assert "maskchars" in out or "mask" in out  # translated, no ValueError
    out2 = translate("SELECT mask_show_first_n('hello', 2, 3000000, -1, -1)")
    assert isinstance(out2, str)


def test_bigint_decimal_arith_without_keywords(spark, sf_dir):
    """Round-8 advice (low): `SELECT big_col + 1.1` (no CAST/AVG/CEIL/...)
    must still trigger the schema scan so the BIGINT->DECIMAL(19,0)
    promotion fires — result type must not depend on unrelated keywords."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    plain = eng.sql("select o_custkey + 1.1 a from orders limit 1")
    with_kw = eng.sql(
        "select o_custkey + 1.1 a, floor(1.0) f from orders limit 1"
    )
    assert plain.dtypes[0] == with_kw.dtypes[0]


def test_nan_comparison_ieee_semantics(spark, sf_dir):
    """Comparisons whose operand carries a translator-produced IEEE special
    follow the reference's C++ float compare (operators-ir.cc): every
    ordered comparison against NaN is false, != is true
    (expr-test.cc:760-770)."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    for sql, want in (
        ("0/0 = 0/0", False),
        ("0/0 < 0/0", False),
        ("0/0 > 0/0", False),
        ("0/0 != 0/0", True),
        ("1/0 = 1/0", True),
        ("1/0 < 0/0", False),
        ("0/0 < 1/0", False),
        ("9223372036854775807 = 0/0", False),
        ("NULL = 0/0", None),
    ):
        got = eng.sql(f"select {sql} as v").head().v
        assert got is want or got == want, (sql, got, want)


def test_nan_comparison_idempotent_and_scoped():
    """The ieee_* routing is idempotent under re-translation and does NOT
    touch comparisons without an IEEE-special marker."""
    for sql in (
        "SELECT 0/0 = 0/0",
        "SELECT 1/0 < 0/0",
        "SELECT x + 1 = 5 FROM t",
        "SELECT a FROM t WHERE b >= c AND d/0 <= 2",
    ):
        once = translate(sql)
        assert translate(once) == once
    plain = translate("SELECT x + 1 = 5 FROM t")
    assert "ieee_" not in plain


def test_unix_timestamp_trailing_input_lenience(spark, sf_dir):
    """The reference's SimpleDateFormat parser walks PATTERN tokens only —
    trailing input is never examined (datetime-simple-date-format-parser.cc
    ParseDateTime; expr-test.cc:7628).  Fixed-width literal patterns get a
    byte-truncation of the input; variable-width patterns are untouched."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql(
        "select unix_timestamp('2038/01/19T03:14:08+01:00', "
        "'yyyy/MM/ddTHH:mm:ss') as v"
    ).head().v == 2147483648
    # offset-token pattern still parses (and APPLIES) the offset
    assert eng.sql(
        "select unix_timestamp('2038/01/19T03:14:08+01:00', "
        "'yyyy/MM/ddTHH:mm:ss+hh:mm') as v"
    ).head().v == 2147480048
    # variable-width (single-char token) pattern: no truncation wrap
    out = translate("SELECT unix_timestamp(c1, 'yyyy-M-d')")
    assert "bytesubstr3" not in out
    for sql in (
        "SELECT unix_timestamp('2038/01/19T03:14:08+01:00', "
        "'yyyy/MM/ddTHH:mm:ss')",
        "SELECT to_timestamp('2012-01-01 19:10:11xx', 'yyyy-MM-dd HH:mm:ss')",
    ):
        once = translate(sql)
        assert translate(once) == once


def test_ns_literal_constant_folding(spark, sf_dir):
    """All-literal TIMESTAMP arithmetic folds at translate time with the
    reference's ns precision (timestamp-functions-ir.cc AddMonths/
    AddInterval/AddSub; expr-test.cc:6548-6742), where Spark's µs storage
    would truncate."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    for sql, want in (
        ("cast(date_add(cast('2012-01-01 00:00:00.000000001' as timestamp),"
         " interval cast(1033 as bigint) nanoseconds) as string)",
         "2012-01-01 00:00:00.000001034"),
        ("cast(date_sub(cast('2012-01-02 01:00:33.123456789' as timestamp),"
         " interval 90033 seconds) as string)",
         "2012-01-01 00:00:00.123456789"),
        # month clamp (interval form): Jan 31 + 1 month -> Feb 29 (leap)
        ("cast(date_add(cast('2012-01-31 09:10:11.123456789' as timestamp),"
         " interval 1 month) as string)",
         "2012-02-29 09:10:11.123456789"),
        # ADD_MONTHS has NO keep-last-day here (day 29 != last of Jan)
        ("cast(add_months(cast('1405-01-29 09:10:11.123456789' as"
         " timestamp), -60) as string)",
         "1400-01-29 09:10:11.123456789"),
        # plain 2nd arg = days
        ("cast(date_add(cast('2012-01-01 09:10:11.123456789' as timestamp),"
         " 10) as string)",
         "2012-01-11 09:10:11.123456789"),
        # sub-µs comparison survives at ns
        ("cast('2011-12-22 09:10:11.123456789' as timestamp) >"
         " cast('2011-12-22 09:10:11.12345678' as timestamp)", True),
        # exact-ns range underflow -> NULL (µs math would truncate in-range)
        ("CAST('1400-01-01 00:00:00' AS TIMESTAMP) - INTERVAL 1 NANOSECONDS",
         None),
    ):
        got = eng.sql(f"select {sql} as v").head().v
        assert got == want or got is want, (sql, got, want)


def test_ns_folding_leaves_column_exprs_alone():
    """Column-bearing timestamp arithmetic and µs-exact literals keep the
    runtime path — the folder fires only on visible ns divergence."""
    for sql in (
        "SELECT cast(date_add(ts_col, interval 1 day) as string) FROM t",
        "SELECT cast(cast('2012-01-01 09:10:11.123456' as timestamp)"
        " as string)",
        "SELECT date_add(cast('2012-01-01' as timestamp), 5) FROM t",
    ):
        out = translate(sql)
        # no folded string literal with a 9-digit fraction appears
        assert ".123456789" not in out or "123456789" in sql
        assert translate(out) == out


def test_nan_null_safe_equal_contract(spark, sf_dir):
    """NaN <=> NaN is FALSE in the reference (IMPALA-6661): null-safety is
    for NULLs, not NaNs."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql(
        "select cast('nan' as double) <=> cast('nan' as double) a, "
        "0/0 <=> 0/0 b, NULL <=> 0/0 c"
    ).head()
    assert rows.a is False and rows.b is False and rows.c is False


def test_unix_timestamp_truncation_counts_bytes(spark, sf_dir):
    """r10 ADVICE: the fixed-width truncation length is BYTES, not chars —
    non-ASCII separators (admitted by the [^A-Za-z'] class) are multi-byte
    in UTF-8 and the bytesubstr3 kernel counts bytes."""
    from hopspark.engine import Engine

    out = translate("SELECT unix_timestamp(c1, 'yyyy年MM月dd日')")
    # pattern is 4+3+2+3+2+3 = 17 bytes (11 chars)
    assert "bytesubstr3" in out and "17" in out
    eng = Engine(spark=spark, sf_dir=sf_dir)
    # trailing input after the non-ASCII separators is still ignored
    v = eng.sql(
        "select unix_timestamp('2024年01月15日junk', "
        "'yyyy年MM月dd日') as v"
    ).head().v
    assert v == 1705276800


def test_clause_lookup_stops_at_clause_keywords():
    """r11 advice (low): a depth-0 comma in GROUP BY / ORDER BY / WHERE
    after a FROM is a list comma, not a FROM-item separator; a comma
    after a JOIN ... ON condition IS one (ON is part of the FROM
    clause)."""
    from hopspark.dialect.translate import _query_blocks, tokenize

    def first_comma_in_from(sql):
        toks = tokenize(sql)
        c = next(i for i, t in enumerate(toks) if t.text == ",")
        return _query_blocks(toks).clause_is(c, "FROM")

    assert first_comma_in_from("select a from t1, t2 where x = 1")
    assert not first_comma_in_from("select a from t group by a, b")
    assert not first_comma_in_from("select a from t order by a, b")
    assert first_comma_in_from("select a from t1 join t2 on t1.x = t2.x, t3")
    assert not first_comma_in_from("select a, b from t")


def test_group_by_dotted_path_not_a_table_path_scan(spark, sf_dir):
    """r11 advice (low), end-to-end: `GROUP BY id, ctt.int_array` must not
    rewrite the dotted GROUP BY item as a rootless collection scan."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW gbp AS SELECT * FROM VALUES"
        " (1, array(1,2)), (1, array(1,2)), (2, array(3))"
        " AS t(id, int_array)"
    )
    rows = sorted(
        tuple(r) for r in eng.sql(
            "select gbp.id, count(*) c from gbp"
            " group by gbp.id, gbp.int_array"
        ).collect()
    )
    assert rows == [(1, 2), (2, 1)]


def test_ns_fold_not_mid_expression():
    """r11 advice (low): a sub-µs constant that STARTS a select item but
    continues with an expression keyword (BETWEEN/IS/AND/...) must keep
    TimestampType — no 9-digit string fold mid-expression."""
    for sql in (
        "SELECT cast(0.0000001 as timestamp) BETWEEN a AND b FROM t",
        "SELECT cast(0.0000001 as timestamp) IS NULL FROM t",
        "SELECT cast(0.0000001 as timestamp) IN (a, b) FROM t",
    ):
        out = translate(sql)
        assert "000000100" not in out, (sql, out)
        assert translate(out) == out
    # the WHOLE-item display fold itself still fires (alias and FROM ends)
    assert "000000100" in translate(
        "SELECT cast(0.0000001 as timestamp) FROM t"
    )
    assert "000000100" in translate(
        "SELECT cast(0.0000001 as timestamp) v FROM t"
    )


# --- round-12 join-corpus surfaces (QueryTest joins/semi-joins ports) ----


def test_right_semi_anti_join_swaps_operands(spark):
    """Impala RIGHT SEMI/ANTI JOIN (TJoinOp; semi-joins.test#17-21) has no
    Spark SQL spelling — the dialect swaps operands into the LEFT form."""
    from hopspark.dialect.translate import translate

    out = translate(
        "select b.x FROM ta a right semi join tb b on a.k = b.k"
    ).upper()
    assert "RIGHT" not in out and "LEFT SEMI JOIN" in out
    assert out.index("TB B") < out.index("TA A")
    out = translate(
        "select b.x FROM ta a right anti join tb b on a.k = b.k"
    ).upper()
    assert "LEFT ANTI JOIN" in out
    # left side that is itself a join tree gets parenthesized
    out = translate(
        "select x from t1 join t2 on t1.a = t2.a "
        "right semi join t3 on t3.b = t1.b where t3.c > 1"
    ).upper()
    assert "T3 LEFT SEMI JOIN ( T1 JOIN T2" in " ".join(out.split())
    spark.createDataFrame([(1,), (2,)], "k int").createOrReplaceTempView(
        "rsj_a"
    )
    spark.createDataFrame([(2, "x"), (3, "y")], "k int, v string") \
        .createOrReplaceTempView("rsj_b")
    from hopspark.engine import Engine

    eng = Engine(spark)
    rows = eng.sql(
        "select b.v from rsj_a a right semi join rsj_b b on a.k = b.k"
    ).collect()
    assert [r.v for r in rows] == ["x"]
    rows = eng.sql(
        "select b.v from rsj_a a right anti join rsj_b b on a.k = b.k"
    ).collect()
    assert [r.v for r in rows] == ["y"]


def test_broadcast_hint_moves_to_select(spark):
    """`JOIN [broadcast] t` must become a SELECT-clause /*+ BROADCAST(t) */
    — a hint comment after JOIN is a Spark parse error (joins.test#23)."""
    from hopspark.dialect.translate import translate

    out = translate(
        "select a.x from t1 a join [broadcast] t2 b on a.k = b.k"
    )
    flat = " ".join(out.split())
    assert flat.startswith("select /*+ BROADCAST(b) */")
    assert "[broadcast]" not in flat
    # derived-table operand: alias after the closing paren
    out = translate(
        "select count(*) from t1 a inner join [broadcast] "
        "(select k from t2) b on a.k = b.k"
    )
    assert "/*+ BROADCAST(b) */" in out


def test_full_outer_collection_join(spark):
    """FULL OUTER JOIN against one's own collection
    (outer-to-inner-joins.test#19-20): no ON degenerates to
    explode_outer; with ON, unmatched items surface with NULLed parent
    slots and unmatched parents with a NULL item."""
    from hopspark.engine import Engine

    spark.createDataFrame(
        [(1, [2, 5]), (7, [1, 2]), (9, None)],
        "id int, arr array<int>",
    ).createOrReplaceTempView("foc_t")
    eng = Engine(spark)
    rows = eng.sql(
        "select a.id, b.item from foc_t a full outer join a.arr b "
        "where b.item % 2 = 0"
    ).collect()
    assert sorted((r[0], r[1]) for r in rows) == [(1, 2), (7, 2)]
    rows = eng.sql(
        "select a.id, b.item from foc_t a "
        "full outer join a.arr b on (a.id < b.item)"
    ).collect()
    got = sorted(
        ((-1 if r[0] is None else r[0]), (-1 if r[1] is None else r[1]))
        for r in rows
    )
    # id=1: 2,5 both match; id=7: none match -> (7, NULL) + both items
    # with NULL parent; id=9: NULL collection -> (9, NULL)
    assert got == [
        (-1, 1), (-1, 2), (1, 2), (1, 5), (7, -1), (9, -1),
    ]


def test_is_distinct_from_in_select_list_opens_no_from_clause(spark, sf_dir):
    """``IS [NOT] DISTINCT FROM`` in a select list is a comparison: the
    comma after it is a select-list comma, so the next select item is not
    a FROM item and the statement is not rewritten as a collection
    join."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    for op, spark_expr in (
        ("is distinct from", "NOT (n.n_regionkey <=> n.n_nationkey)"),
        ("is not distinct from", "n.n_regionkey <=> n.n_nationkey"),
    ):
        got = eng.sql(
            f"select n.n_regionkey {op} n.n_nationkey a, n.n_name"
            " from nation n where n.n_nationkey < 3"
        ).collect()
        want = spark.sql(
            f"select {spark_expr} a, n.n_name from nation n"
            " where n.n_nationkey < 3"
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert len(got) == 3
    rows = eng.sql(
        "select n.n_regionkey is distinct from n.n_nationkey a, n.n_name"
        " from nation n where n.n_nationkey < 3"
    ).collect()
    assert sorted(map(tuple, rows)) == [
        (False, "NATION_0"), (False, "NATION_1"), (False, "NATION_2"),
    ]


def test_impala_builtins_namespace_is_stripped(spark, sf_dir):
    """The reference resolves ``_impala_builtins.upper(...)`` against its
    builtins database; Spark has no such namespace."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    assert eng.sql("select _impala_builtins.upper('hello!') v").head().v == (
        "HELLO!"
    )


def test_lateral_view_column_list_opens_no_from_item():
    """The column list of a ``LATERAL VIEW … AS c1, c2`` belongs to the
    lateral view: its comma opens no FROM item."""
    from hopspark.dialect.translate import _from_items, tokenize

    toks = tokenize(
        "select x from t LATERAL VIEW posexplode(arrays_zip(t.z)) _unnest"
        " AS pos, _z"
    )
    assert [it.segs for it in _from_items(toks)] == [["t"]]


def test_join_condition_ends_at_a_lateral_view(spark):
    """A JOIN … ON collection join before a comma UNNEST ends its ON
    condition at the UNNEST's lateral view: Spark parses the result."""
    spark.sql(
        "SELECT 1 AS x, array(named_struct('y', 1)) AS arr, array(2) AS z"
    ).createOrReplaceTempView("lv_t")
    out = translate(
        "select a.x from lv_t a left join a.arr b on b.y > 0, unnest(a.z)"
    )
    spark.sql(f"EXPLAIN {out}").collect()  # parses and analyzes


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    from hopspark.engine import Engine

    return Engine(spark=spark, sf_dir=sf_dir)


def _one(eng, sql):
    return eng.sql(sql).head()[0]


def test_ceil_floor_of_double_casts_to_string_as_a_double(eng):
    """ceil/floor over DOUBLE is DOUBLE before the DOUBLE→STRING cast
    pass reads it, so it renders like the plain ``CAST(… AS DOUBLE)``."""
    assert _one(eng, "select cast(ceil(cast(2.5 as double)) as string)") == (
        _one(eng, "select cast(cast(3 as double) as string)")
    )
    assert _one(eng, "select cast(floor(cast(2.5 as double)) as string)") == (
        _one(eng, "select cast(cast(2 as double) as string)")
    )


def test_ceil_of_double_plus_decimal_is_typed_as_a_double(eng):
    """ceil over DOUBLE is DOUBLE before the DECIMAL promotion pass reads
    it: ``ceil(…) + 1.5`` types like ``CAST(… AS DOUBLE) + 1.5``."""
    assert _one(eng, "select typeof(ceil(cast(2.5 as double)) + 1.5)") == (
        _one(eng, "select typeof(cast(3 as double) + 1.5)")
    )


def test_double_quoted_regex_literal_keeps_its_quote(eng):
    """A double-quoted pattern or rewrite string may hold ``'``: re-quoted
    in single quotes, the quote is escaped."""
    assert translate("select 1 from t where s iregexp \"it's\"") == (
        "select 1 from t where s RLIKE '(?i)it\\'s'"
    )
    assert translate("select regexp_replace(s, 'b', \"$1'\") from t") == (
        "select regexp_replace(s, 'b', '\\\\$1\\'') from t"
    )
    assert _one(eng, "select \"IT'S\" iregexp \"it's\"") is True
    assert _one(eng, "select regexp_replace('ab', 'b', \"$1'\")") == "a$1'"
    assert _one(eng, "select regexp_replace('ab', '(b)', \"\\\\1'\")") == (
        "ab'"
    )


def test_iregexp_pattern_that_is_not_a_literal(eng):
    """A column, a call and a NOT IREGEXP pattern stay case-insensitive:
    the pattern is prefixed with (?i) at runtime."""
    assert translate("select 'ABC' iregexp concat('a','b')") == (
        "select 'ABC' RLIKE concat('(?i)', concat('a','b'))"
        " FROM (VALUES (0)) AS _hs_one_row(_hs_one_row_c)"
    )
    assert _one(eng, "select s iregexp p from (select 'ABC' s, 'a.c' p) v")
    assert _one(eng, "select 'ABC' iregexp concat('a', 'b')") is True
    assert _one(eng, "select 'ABC' not iregexp concat('a', 'b')") is False


def test_from_clause_unnest_goes_after_the_last_relation(spark):
    """A FROM-clause UNNEST followed by another FROM item: its lateral
    view goes after the clause's last relation, where Spark's grammar
    puts lateral views."""
    spark.sql("SELECT 1 AS x, array(10, 20) AS arr").createOrReplaceTempView(
        "un_t"
    )
    spark.sql("SELECT 1 AS y").createOrReplaceTempView("un_t2")
    out = translate(
        "select un_t.x, arr.item from un_t, unnest(un_t.arr), un_t2"
        " where un_t2.y = un_t.x"
    )
    assert out.index("un_t2") < out.index("LATERAL VIEW")
    assert sorted(map(tuple, spark.sql(out).collect())) == [(1, 10), (1, 20)]


@pytest.mark.parametrize("call", ["trunc()", "mask()", "mask_first_n()"])
def test_call_without_arguments_is_an_analysis_error(eng, call):
    """A wrong call reaches Spark's analysis instead of failing in the
    translator."""
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException):
        eng.sql(f"select {call}")
