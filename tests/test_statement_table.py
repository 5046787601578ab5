"""The statement table of `Engine.sql` (`hopspark.engine._STATEMENTS`):
which handler a statement reaches, with which pattern groups, and which
statements fall through to query translation.  Pure lookups: no Spark
session is started."""

from __future__ import annotations

import pytest

from hopspark.engine import _STATEMENTS, Engine, _statement

#: one example per table entry, in table order: (statement, handler, groups)
EXAMPLES = [
    ("SET", Engine._show_options, ()),
    ("set mem_limit = '2g'", Engine._set_statement, ("mem_limit", "'2g'")),
    ("COMPUTE INCREMENTAL STATS t", Engine.compute_incremental_stats, ("t",)),
    ("compute stats t;", Engine.compute_stats, ("t",)),
    ("DROP INCREMENTAL STATS t", Engine._drop_stats, ("t",)),
    ("DROP VIEW IF EXISTS v", Engine._drop_view, ("IF EXISTS ", "v")),
    ("SHOW TABLE STATS t", Engine.show_table_stats, ("t",)),
    ("show column stats t", Engine.show_column_stats, ("t",)),
    ("SHOW CREATE VIEW v", Engine._show_create, ("VIEW", "v")),
    ("SHOW FILES IN db.t", Engine.show_files, ("db.t",)),
    ("SHOW PARTITIONS t", Engine.show_partitions, ("t",)),
    ("REFRESH t", Engine._refresh_statement, ("t",)),
    ("INVALIDATE METADATA", Engine._refresh_statement, (None,)),
    (
        "CREATE VIEW IF NOT EXISTS v (a, b) AS SELECT 1, 2;",
        Engine._create_view,
        ("CREATE", "IF NOT EXISTS ", "v", "(a, b)", "SELECT 1, 2"),
    ),
    (
        "CREATE FUNCTION f(int) RETURNS int LOCATION '/x.jar' SYMBOL='a.B'",
        Engine._create_java_function_statement,
        ("f", "int", "/x.jar", "a.B"),
    ),
    (
        "ALTER VIEW v AS SELECT 1",
        Engine._create_view,
        ("ALTER", None, "v", None, "SELECT 1"),
    ),
    (
        "ALTER TABLE t ADD COLUMNS (a int, b string)",
        Engine._add_columns,
        ("t", None, None, "(a int, b string)"),
    ),
    (
        "ALTER TABLE t CHANGE a b bigint COMMENT 'c'",
        Engine._change_column,
        ("t", "a", "b", "bigint", "c"),
    ),
    (
        "ALTER TABLE t REPLACE COLUMNS (a int)",
        Engine._replace_columns,
        ("t", "(a int)"),
    ),
    ("ALTER TABLE t DROP COLUMN a", Engine._drop_column, ("t", "a")),
    ("ALTER VIEW v RENAME TO w", Engine._rename, ("v", "w")),
    (
        "ALTER TABLE t SET TBLPROPERTIES ('k'='v')",
        Engine._set_tbl_props,
        ("t", "'k'='v'"),
    ),
    (
        "ALTER TABLE t UNSET TBLPROPERTIES IF EXISTS ('k')",
        Engine._unset_tbl_props,
        ("t", "IF EXISTS ", "'k'"),
    ),
    ("ALTER TABLE t SET OWNER ROLE r", Engine._set_owner, ("t", "r")),
    (
        "DESCRIBE HISTORY '/p' BETWEEN 1 AND '2024-01-01'",
        Engine.describe_history,
        ("/p", None, "1", "'2024-01-01'"),
    ),
    ("DESCRIBE FORMATTED t", Engine._describe, ("FORMATTED ", "t")),
    ("EXPLAIN SELECT 1;", Engine._explain_rows, ("SELECT 1",)),
    (
        "COMMENT ON TABLE t IS 'x'",
        Engine._comment_on_table,
        ("t", "x", None),
    ),
    (
        "COMMENT ON COLUMN t.a IS NULL",
        Engine._comment_on_column,
        ("t", "a", None, "NULL"),
    ),
    ("TRUNCATE TABLE IF EXISTS t", Engine._truncate, ("IF EXISTS ", "t")),
    (
        "LOAD DATA INPATH '/d' OVERWRITE INTO TABLE t PARTITION (p=1)",
        Engine._load_data,
        ("/d", "OVERWRITE ", "t", "p=1"),
    ),
]


@pytest.mark.parametrize("sql,handler,groups", EXAMPLES)
def test_statement_reaches_its_handler(sql, handler, groups):
    assert _statement(sql) == (handler, groups)


def test_examples_cover_every_table_entry():
    entries = {
        id(entry) for entries in _STATEMENTS.values() for entry in entries
    }
    hit = set()
    for sql, _, _ in EXAMPLES:
        word = sql.split()[0].upper()
        hit.update(
            id(entry) for entry in _STATEMENTS[word]
            if entry[0].match(sql)
        )
    assert hit == entries


@pytest.mark.parametrize(
    "sql,groups",
    [
        ("SET appx_count_distinct=true;", ("appx_count_distinct", "true")),
        ("SET mem_limit='2g';", ("mem_limit", "'2g'")),
    ],
)
def test_set_value_stops_before_the_semicolon(sql, groups):
    assert _statement(sql) == (Engine._set_statement, groups)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT 1",
        "WITH a AS (SELECT 1) SELECT * FROM a",
        "VALUES (1), (2)",
        "DESC t",
        "ALTER TABLE t ADD PARTITION (p=1)",
        "CREATE TABLE t (a int) STORED AS PARQUET",
        "/* c */ SET x=1",
        "(SELECT 1)",
        "",
    ],
)
def test_other_statements_are_queries(sql):
    assert _statement(sql) is None
