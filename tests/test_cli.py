"""CLI shell (python -m hopspark) — the impala-shell analogue."""

from __future__ import annotations

import subprocess
import sys


def _run(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "hopspark", "--sf-dir", "/root/testdata/sf0.001", *args],
        capture_output=True,
        text=True,
        timeout=240,
        cwd="/root/repo",
    )


def test_cli_single_query_tsv():
    r = _run("--format", "tsv", "-q", "SELECT count(*) AS n FROM region")
    assert r.returncode == 0, r.stderr[-500:]
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    assert lines[-2] == "n"
    assert lines[-1] == "5"


def test_cli_dialect_passthrough():
    r = _run(
        "--format",
        "tsv",
        "-q",
        "SELECT nvl(NULL, 7) AS a, years_add(TIMESTAMP '2020-01-01 00:00:00', 1) AS y",
    )
    assert r.returncode == 0, r.stderr[-500:]
    assert "7\t2021-01-01" in r.stdout


def test_cli_explain_flag():
    r = _run("--explain", "-q", "SELECT count(*) FROM lineitem")
    assert r.returncode == 0, r.stderr[-500:]
    assert "Physical Plan" in r.stdout and "Scan parquet" in r.stdout


def test_show_create_table(spark, sf_dir):
    """SHOW CREATE TABLE (ShowCreateTableStmt): one 'result' row with
    Impala type names reconstructed from the catalog schema."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    ddl = eng.sql("show create table nation").collect()[0].result
    assert "CREATE EXTERNAL TABLE nation" in ddl
    assert "n_nationkey INT" in ddl and "n_name STRING" in ddl
    assert "STORED AS PARQUET" in ddl


def test_show_create_view(spark, sf_dir):
    """SHOW CREATE VIEW renders the view's ORIGINAL definition
    (ToSqlUtils.getCreateViewSql), not a table-shaped DDL — round-6
    ADVICE item."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.sql("CREATE VIEW v_nations AS SELECT n_name FROM nation WHERE n_regionkey = 1")
    try:
        ddl = eng.sql("show create view v_nations").collect()[0].result
        assert ddl.startswith("CREATE VIEW v_nations AS SELECT n_name")
        assert "STORED AS PARQUET" not in ddl
        # non-view target must raise, as the reference's analyzer does
        import pytest as _pytest

        with _pytest.raises(ValueError):
            eng.sql("show create view nation")
    finally:
        eng.sql("DROP VIEW IF EXISTS v_nations")


def test_show_files_and_partitions(spark, sf_dir, tmp_path):
    """SHOW FILES IN / SHOW PARTITIONS (ShowFilesStmt / ShowPartitionsStmt):
    per-file Path/Size/Partition rows; per-partition key values + #Files
    + Size with the reference's -1 #Rows convention; unpartitioned tables
    raise like the reference's analysis."""
    import pytest

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    rows = eng.sql("SHOW FILES IN region").collect()
    assert rows and rows[0].Path.endswith("region.parquet")
    assert rows[0].Size.endswith(("B", "KB", "MB"))
    assert rows[0].Partition == ""
    with pytest.raises(Exception, match="not partitioned"):
        eng.sql("SHOW PARTITIONS region").collect()

    part_dir = str(tmp_path)
    spark.range(60).selectExpr("id", "id % 2 as half").write.partitionBy(
        "half"
    ).parquet(f"{part_dir}/facts.parquet")
    eng2 = Engine(spark=spark, sf_dir=part_dir, register_tables=False)
    files = eng2.sql("SHOW FILES IN facts").collect()
    assert all(f.Partition.startswith("half=") for f in files)
    parts = {r.half: r for r in eng2.sql("SHOW PARTITIONS facts").collect()}
    assert set(parts) == {"0", "1"}
    assert all(r["#Rows"] == -1 and r["#Files"] >= 1 for r in parts.values())


def test_create_java_function_from_jar(spark, sf_dir, tmp_path):
    """CREATE FUNCTION ... LOCATION '<jar>' SYMBOL='<class>' — the
    reference's Java-UDF-from-JAR form (CreateUdfStmt). The test compiles
    a UDF1 implementation with the session JDK and registers it through
    the SQL surface; classes with the Hive UDF interface raise the
    documented catalog error instead of failing opaquely."""
    import glob
    import os
    import shutil
    import subprocess

    import pyspark
    import pytest

    if not (shutil.which("javac") and shutil.which("jar")):
        pytest.skip("no JDK in image")
    sql_api = glob.glob(
        os.path.join(os.path.dirname(pyspark.__file__), "jars", "spark-sql-api_*.jar")
    )
    assert sql_api, "pyspark bundles the sql-api jar"
    src = tmp_path / "VowelCount.java"
    src.write_text(
        "import org.apache.spark.sql.api.java.UDF1;\n"
        "public class VowelCount implements UDF1<String, Integer> {\n"
        "  @Override public Integer call(String s) {\n"
        "    if (s == null) return null;\n"
        "    int n = 0;\n"
        "    for (char c : s.toLowerCase().toCharArray())\n"
        "      if (\"aeiou\".indexOf(c) >= 0) n++;\n"
        "    return n;\n"
        "  }\n"
        "}\n"
    )
    subprocess.run(
        ["javac", "-cp", sql_api[0], str(src)], check=True, cwd=tmp_path
    )
    jar = tmp_path / "vowelcount.jar"
    subprocess.run(
        ["jar", "cf", str(jar), "VowelCount.class"], check=True, cwd=tmp_path
    )

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.sql(
        f"CREATE FUNCTION vowel_count(string) RETURNS int "
        f"LOCATION '{jar}' SYMBOL='VowelCount'"
    )
    rows = eng.sql(
        "SELECT vowel_count(n_name) AS v FROM nation "
        "WHERE n_nationkey = 0"
    ).collect()
    assert rows[0].v == len([c for c in "NATION_0" if c.lower() in "aeiou"])
    with pytest.raises(ValueError, match="Hive-enabled session"):
        eng.sql(
            f"CREATE FUNCTION bad_fn LOCATION '{jar}' SYMBOL='NoSuchClass'"
        )
    with pytest.raises(ValueError, match="Could not load binary"):
        eng.sql(
            "CREATE FUNCTION bad_fn LOCATION '/nope/missing.jar' "
            "SYMBOL='VowelCount'"
        )


def test_compute_incremental_stats(spark, sf_dir, tmp_path):
    """COMPUTE INCREMENTAL STATS (ComputeStatsStmt incremental mode,
    compute-stats-incremental.test): only NEW partitions are scanned on a
    refresh (the partition predicate lands in PartitionFilters), table
    NDVs merge from per-partition HLL sketches, and SHOW TABLE STATS
    gains the per-partition + Total shape."""
    from hopspark.engine import Engine

    root = str(tmp_path)
    spark.range(300).selectExpr(
        "id", "cast(id % 7 as string) s", "id % 3 as day"
    ).write.partitionBy("day").parquet(f"{root}/sales.parquet")
    eng = Engine(spark=spark, sf_dir=root, register_tables=False)
    assert "Updated 3 partition(s)" in (
        eng.sql("COMPUTE INCREMENTAL STATS sales").collect()[0].summary
    )
    # second run with nothing new: zero partitions rescanned
    assert "Updated 0 partition(s)" in (
        eng.sql("COMPUTE INCREMENTAL STATS sales").collect()[0].summary
    )
    # a new partition arrives: exactly one partition scanned
    spark.range(300, 400).selectExpr(
        "id", "cast(id % 7 as string) s", "3 as day"
    ).write.mode("append").partitionBy("day").parquet(f"{root}/sales.parquet")
    assert "Updated 1 partition(s)" in (
        eng.sql("COMPUTE INCREMENTAL STATS sales").collect()[0].summary
    )
    stats = {r.day: r for r in eng.sql("SHOW TABLE STATS sales").collect()}
    assert stats["Total"]["#Rows"] == 400
    assert stats["3"]["#Rows"] == 100
    cols = {r.column: r for r in eng.sql("SHOW COLUMN STATS sales").collect()}
    # HLL-merged NDVs: exact-ish for 400 distinct ids, exact for 7
    assert abs(cols["id"]["#Distinct Values"] - 400) <= 12
    assert cols["s"]["#Distinct Values"] == 7
    # unpartitioned tables degenerate to the full COMPUTE STATS path
    eng2 = Engine(spark=spark, sf_dir=sf_dir)
    assert "column(s)" in (
        eng2.sql("COMPUTE INCREMENTAL STATS region").collect()[0].summary
    )


def test_drop_stats(spark, sf_dir):
    """DROP STATS / DROP INCREMENTAL STATS (DropStatsStmt): cached stats
    are discarded, so SHOW TABLE STATS reverts to -1."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    eng.sql("COMPUTE STATS region").collect()
    assert eng.sql("SHOW TABLE STATS region").collect()[0]["#Rows"] == 5
    eng.sql("DROP STATS region")
    assert eng.sql("SHOW TABLE STATS region").collect()[0]["#Rows"] == -1
    eng.sql("DROP INCREMENTAL STATS region")  # no-op when nothing cached


def test_char_typed_table_columns(spark, sf_dir, tmp_path):
    """CHAR(n)-typed table COLUMNS through the SQL surface (reference
    QueryTest/chars.test): read-side padding, pad-insensitive
    comparisons against CHAR literals of any length and bare strings,
    padded GROUP BY keys, and CAST-down-to-CHAR(1) truncation feeding a
    column-vs-column join — previously a documented untested surface."""
    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    spark.sql("DROP TABLE IF EXISTS chars_t")
    spark.sql(
        "CREATE TABLE chars_t (cs CHAR(5), vc VARCHAR(10)) USING parquet "
        f"LOCATION '{tmp_path}/chars_t'"
    )
    try:
        spark.sql(
            "INSERT INTO chars_t VALUES ('1aaaa','1cccc'), ('5a','5c'), "
            "('6a','6c'), ('6a','6c'), (NULL, NULL)"
        )
        # read-side padding + full-width length (chars.test rows)
        rows = eng.sql(
            "select cs, length(cs) n from chars_t where cs is not null order by cs"
        ).collect()
        assert [tuple(r) for r in rows] == [
            ("1aaaa", 5), ("5a   ", 5), ("6a   ", 5), ("6a   ", 5),
        ]
        # pad-insensitive comparisons: shorter CHAR, bare string, longer CHAR
        for pred in (
            "cs = cast('6a' as char(2))",
            "cs = '6a'",
            "cs = cast('6a' as char(10))",
        ):
            assert eng.sql(
                f"select count(*) n from chars_t where {pred}"
            ).collect()[0].n == 2
        # padded group-by keys
        g = eng.sql(
            "select cs, count(*) n from chars_t group by cs having count(vc) > 1"
        ).collect()
        assert [tuple(r) for r in g] == [("6a   ", 2)]
        # CAST down to CHAR(1) truncates (dialect char-cast rewrite), so
        # the column-vs-column first-char join matches like the reference
        n = eng.sql(
            "select count(*) n from chars_t a, chars_t b "
            "where cast(a.cs as char(1)) = cast(b.vc as char(1))"
        ).collect()[0].n
        assert n == 6  # '1'x1, '5'x1, '6'x2 by '6'x2
    finally:
        spark.sql("DROP TABLE IF EXISTS chars_t")


def test_script_splits_on_semicolon_tokens_only():
    """``-f`` splits a script at ``;`` operator tokens: a ``;`` inside a
    literal, a quoted identifier or a comment splits nothing, and a chunk
    of whitespace and comments is no statement."""
    from hopspark.__main__ import split_statements

    script = (
        "-- setup; first\n"
        "SET mem_limit=1g;\n"
        "SELECT 'a;b', \"c;d\" FROM `x;y` /* e; */ WHERE 1 = 1;\n"
        "  ;\n"
        "SELECT 2  -- trailing; comment\n"
        ";\n"
        "/* only a comment; */\n"
    )
    assert split_statements(script) == [
        "SET mem_limit=1g",
        "SELECT 'a;b', \"c;d\" FROM `x;y` /* e; */ WHERE 1 = 1",
        "SELECT 2  -- trailing; comment",
    ]
    assert split_statements("SELECT 1") == ["SELECT 1"]
    assert split_statements("") == []
