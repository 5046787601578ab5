"""ALTER TABLE / DESCRIBE surface (reference:
testdata/workloads/functional-query/queries/QueryTest/alter-table.test;
analysis classes fe/.../analysis/AlterTable*Stmt.java)."""

import pytest

from hopspark.ddl import parse_col_defs, split_top_level
from hopspark.engine import Engine


@pytest.fixture()
def eng(spark, sf_dir):
    e = Engine(spark, sf_dir=sf_dir)
    # a scratch table the ALTERs can mutate without touching the shared
    # catalog views (alter-table.test works on its own t1/t2 the same way)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "i int, s string"
    ).createOrReplaceTempView("t1_alter")
    yield e
    for v in ("t1_alter", "t2_alter"):
        spark.catalog.dropTempView(v)


def _describe(eng, t):
    return [(r.name, r.type, r.comment) for r in eng.sql(f"DESCRIBE {t}").collect()]


def test_parse_col_defs_nested_types():
    defs = parse_col_defs(
        "(c1 bigint comment 'id col', c2 array<struct<f1:decimal(10,2)>>, "
        "c3 map<string,int>)"
    )
    assert defs == [
        ("c1", "bigint", "id col"),
        ("c2", "array<struct<f1:decimal(10,2)>>", None),
        ("c3", "map<string,int>", None),
    ]


def test_split_top_level_quotes():
    assert split_top_level("a 'x,y', b") == ["a 'x,y'", "b"]


def test_add_columns_and_describe(eng):
    out = eng.sql(
        "alter table t1_alter add columns (t tinyint, s2 string comment 'Str Col')"
    ).collect()
    assert out[0][0] == "New column(s) have been added to the table."
    assert _describe(eng, "t1_alter") == [
        ("i", "int", ""),
        ("s", "string", ""),
        ("t", "tinyint", ""),
        ("s2", "string", "Str Col"),
    ]
    # existing rows read NULL for the added column (metadata-only ALTER)
    rows = eng.sql("SELECT i, t, s2 FROM t1_alter ORDER BY i").collect()
    assert [tuple(r) for r in rows] == [(1, None, None), (2, None, None)]


def test_add_columns_if_not_exists(eng):
    eng.sql("alter table t1_alter add columns (t tinyint)")
    out = eng.sql(
        "alter table t1_alter add if not exists columns (t tinyint)"
    ).collect()
    assert out[0][0] == "No new column(s) have been added to the table."
    # mixed: one exists, one new → adds the new one only
    out = eng.sql(
        "alter table t1_alter add if not exists columns (t tinyint, u int)"
    ).collect()
    assert out[0][0] == "New column(s) have been added to the table."
    assert [n for n, _, _ in _describe(eng, "t1_alter")] == [
        "i", "s", "t", "u"
    ]
    # without IF NOT EXISTS a duplicate raises (AlterTableAddColsStmt)
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("alter table t1_alter add columns (t tinyint)")


def test_add_single_column_form(eng):
    out = eng.sql("alter table t1_alter add column if not exists t5 tinyint").collect()
    assert out[0][0] == "New column(s) have been added to the table."


def test_drop_column(eng):
    eng.sql("alter table t1_alter drop column s")
    assert [n for n, _, _ in _describe(eng, "t1_alter")] == ["i"]
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("alter table t1_alter drop column nope")
    with pytest.raises(ValueError, match="at least one column"):
        eng.sql("alter table t1_alter drop column i")


def test_change_column_rename_cast_comment(eng):
    eng.sql("alter table t1_alter change column i id_col bigint")
    eng.sql(
        "alter table t1_alter change column s s string comment 'added a comment'"
    )
    assert _describe(eng, "t1_alter") == [
        ("id_col", "bigint", ""),
        ("s", "string", "added a comment"),
    ]
    rows = eng.sql("SELECT id_col FROM t1_alter ORDER BY id_col").collect()
    assert [r[0] for r in rows] == [1, 2]
    with pytest.raises(ValueError, match="already exists"):
        eng.sql("alter table t1_alter change column id_col s int")


def test_replace_columns_positional(eng):
    eng.sql(
        "alter table t1_alter replace columns "
        "(c1 bigint comment 'id col', c2 string, c3 int)"
    )
    assert _describe(eng, "t1_alter") == [
        ("c1", "bigint", "id col"),
        ("c2", "string", ""),
        ("c3", "int", ""),
    ]
    rows = eng.sql("SELECT * FROM t1_alter ORDER BY c1").collect()
    assert [tuple(r) for r in rows] == [(1, "a", None), (2, "b", None)]


def test_rename_table(eng):
    eng.sql("alter table t1_alter rename to t2_alter")
    assert [n for n, _, _ in _describe(eng, "t2_alter")] == ["i", "s"]
    with pytest.raises(Exception):
        eng.spark.table("t1_alter")
    eng.sql("alter table t2_alter rename to t1_alter")


def test_set_unset_tblproperties(eng):
    eng.sql(
        "alter table t1_alter set TBLPROPERTIES('k1'='v1', 'k2'='v2', 'k3'='v3')"
    )
    rows = eng.sql("DESCRIBE FORMATTED t1_alter").collect()
    props = {r.type: r.comment for r in rows if r.name == ""}
    assert props.get("k1") == "v1" and props.get("k3") == "v3"
    eng.sql("alter table t1_alter unset TBLPROPERTIES ('k2')")
    rows = eng.sql("DESCRIBE FORMATTED t1_alter").collect()
    assert "k2" not in {r.type for r in rows if r.name == ""}
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("alter table t1_alter unset TBLPROPERTIES ('nope')")
    # IF EXISTS form swallows the miss
    eng.sql("alter table t1_alter unset TBLPROPERTIES IF EXISTS ('nope')")


def test_set_owner(eng):
    eng.sql("alter table t1_alter set owner user impala_user")
    rows = eng.sql("DESCRIBE FORMATTED t1_alter").collect()
    assert ("owner", "impala_user") in {
        (r.type, r.comment) for r in rows if r.name == ""
    }


def test_alter_view_rename(eng):
    eng.sql("CREATE VIEW v_alter AS SELECT 1 AS one")
    eng.sql("alter view v_alter rename to v_alter2")
    assert eng.sql("SELECT * FROM v_alter2").collect()[0][0] == 1
    # SHOW CREATE VIEW follows the rename
    ddl = eng.sql("SHOW CREATE VIEW v_alter2").collect()[0][0]
    assert ddl.startswith("CREATE VIEW")
    eng.sql("DROP VIEW v_alter2")


def test_describe_catalog_table(eng):
    rows = _describe(eng, "nation")
    assert rows[0] == ("n_nationkey", "int", "")
    assert [n for n, _, _ in rows] == ["n_nationkey", "n_name", "n_regionkey"]


def test_comment_on_table_and_column(eng):
    eng.sql("COMMENT ON TABLE t1_alter IS 'the table'")
    rows = eng.sql("DESCRIBE FORMATTED t1_alter").collect()
    assert ("comment", "the table") in {
        (r.type, r.comment) for r in rows if r.name == ""
    }
    eng.sql("COMMENT ON COLUMN t1_alter.i IS 'int col'")
    assert ("i", "int", "int col") in _describe(eng, "t1_alter")
    eng.sql("COMMENT ON COLUMN t1_alter.i IS NULL")
    assert ("i", "int", "") in _describe(eng, "t1_alter")


def test_truncate_table(eng):
    eng.sql("TRUNCATE TABLE t1_alter")
    assert eng.sql("SELECT COUNT(*) AS n FROM t1_alter").collect()[0][0] == 0
    # schema survives
    assert [n for n, _, _ in _describe(eng, "t1_alter")] == ["i", "s"]
    with pytest.raises(ValueError, match="does not exist"):
        eng.sql("TRUNCATE TABLE no_such_table_xyz")
    eng.sql("TRUNCATE TABLE IF EXISTS no_such_table_xyz")


def test_load_data_inpath(eng, tmp_path):
    eng.sql("DROP TABLE IF EXISTS load_t")
    eng.sql("CREATE TABLE load_t (i INT) STORED AS PARQUET")
    try:
        eng.sql("INSERT INTO load_t VALUES (1)")
        # stage files by writing the same schema elsewhere, then LOAD them
        src = str(tmp_path / "stage")
        eng.spark.range(2, 4).selectExpr("CAST(id AS INT) AS i").coalesce(
            1
        ).write.mode("overwrite").parquet(src)
        out = eng.sql(f"LOAD DATA INPATH '{src}' INTO TABLE load_t").collect()
        assert out[0][0].startswith("Loaded 1 file(s)")
        vals = sorted(
            r[0] for r in eng.sql("SELECT i FROM load_t").collect()
        )
        assert vals == [1, 2, 3]
        # source files were MOVED, not copied (LoadDataStmt semantics)
        import os

        assert not any(f.endswith(".parquet") for f in os.listdir(src))
        # OVERWRITE replaces the existing files
        src2 = str(tmp_path / "stage2")
        eng.spark.range(9, 10).selectExpr("CAST(id AS INT) AS i").coalesce(
            1
        ).write.mode("overwrite").parquet(src2)
        eng.sql(f"LOAD DATA INPATH '{src2}' OVERWRITE INTO TABLE load_t")
        assert [
            r[0] for r in eng.sql("SELECT i FROM load_t").collect()
        ] == [9]
    finally:
        eng.sql("DROP TABLE IF EXISTS load_t")


def test_load_data_missing_inpath(eng):
    with pytest.raises(ValueError, match="INPATH location does not exist"):
        eng.sql("LOAD DATA INPATH '/no/such/dir' INTO TABLE nation")


def test_set_accepts_non_boolean_options(eng):
    eng.sql("SET mem_limit=2g")
    eng.sql("SET batch_size=1024")
    eng.sql("SET appx_count_distinct=true")
    opts = {r.option: r.value for r in eng.sql("SET").collect()}
    assert opts["mem_limit"] == "2g"
    assert opts["batch_size"] == "1024"
    assert opts["appx_count_distinct"] == "True"


def test_describe_formatted_propagates_other_errors(eng, monkeypatch):
    """DESCRIBE FORMATTED leaves out the location of a table without
    storage (``_table_root`` raises ValueError); any other error from the
    lookup propagates."""
    rows = eng.sql("DESCRIBE FORMATTED t1_alter").collect()
    assert "Location:" not in {r.name for r in rows}

    def broken(table):
        raise RuntimeError("lookup failed")

    monkeypatch.setattr(eng, "_table_root", broken)
    with pytest.raises(RuntimeError, match="lookup failed"):
        eng.sql("DESCRIBE FORMATTED t1_alter")
