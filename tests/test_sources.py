"""Source/sink coverage — the HdfsTableSink / text-scanner parity layer
(hopspark/sources/io.py). Writes stay inside the repo (.pytest_tmp/)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hopspark.catalog import read_table
from hopspark.sources.io import (
    read_avro,
    read_csv,
    read_json,
    read_orc,
    read_parquet,
    write_partitioned,
)

TMP = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".pytest_tmp")


@pytest.fixture()
def tmpdir_repo():
    os.makedirs(TMP, exist_ok=True)
    yield TMP
    shutil.rmtree(TMP, ignore_errors=True)


def test_partitioned_write_roundtrip(spark, sf_dir, tmpdir_repo):
    """Dynamic-partitioned parquet write (INSERT ... PARTITION equivalent) —
    dir-per-partition layout + partition pruning on read-back."""
    li = read_table(spark, "lineitem", sf_dir).limit(1000)
    out = os.path.join(tmpdir_repo, "li_part")
    write_partitioned(li, out, partition_by=["l_returnflag"], sort_by=["l_shipdate"])

    # dir-per-partition layout, like HdfsPartition
    dirs = {d for d in os.listdir(out) if d.startswith("l_returnflag=")}
    assert len(dirs) >= 2

    back = read_parquet(spark, out)
    assert back.count() == 1000

    # partition pruning: filter on the partition column reaches the scan
    plan = back.filter(F.col("l_returnflag") == "R")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "l_returnflag" in plan.split("PartitionFilters")[1][:200]


def test_dynamic_partition_overwrite(spark, tmpdir_repo):
    """INSERT OVERWRITE PARTITION semantics: only the written partitions are
    replaced when partitionOverwriteMode=dynamic (HdfsTableSink overwrite)."""
    out = os.path.join(tmpdir_repo, "dyn")
    df1 = spark.createDataFrame(
        [Row(k="a", v=1), Row(k="a", v=2), Row(k="b", v=3)]
    )
    write_partitioned(df1, out, partition_by=["k"])

    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df2 = spark.createDataFrame([Row(k="a", v=99)])
        write_partitioned(df2, out, partition_by=["k"])
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    back = read_parquet(spark, out).orderBy("k", "v").collect()
    assert [(r.k, r.v) for r in back] == [("a", 99), ("b", 3)]


def test_escaped_text_scan(spark, tmpdir_repo):
    """Impala text-scanner semantics: escape protects a bare delimiter, \\N
    is NULL (be/src/exec/delimited-text-parser.cc)."""
    from hopspark.sources.io import read_text_escaped

    path = os.path.join(tmpdir_repo, "t.txt")
    with open(path, "w") as f:
        f.write("1|a\\|b|x\n")          # escaped delimiter inside a field
        f.write("2|\\N|y\n")            # \N → NULL
        f.write("3|plain|z\n")
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("t", T.StringType()),
        ]
    )
    rows = read_text_escaped(spark, path, schema, sep="|").orderBy("id").collect()
    assert rows[0].s == "a|b"
    assert rows[1].s is None
    assert rows[2].s == "plain"
    assert [r.t for r in rows] == ["x", "y", "z"]


def test_escaped_text_escape_state(spark, tmpdir_repo):
    """Escape-STATE cases a lookbehind split gets wrong: a field whose value
    ends in the escape char ('end\\' stored as 'end\\\\|'), and a literal
    '\\N' string (stored escaped as '\\\\N') that must NOT read as NULL —
    the raw token is compared to the marker before unescaping, mirroring
    be/src/exec/delimited-text-parser.cc."""
    from hopspark.sources.io import read_text_escaped

    path = os.path.join(tmpdir_repo, "esc.txt")
    with open(path, "w") as f:
        f.write("1|end\\\\|x\n")       # field value 'end\' then next field x
        f.write("2|\\\\N|y\n")          # literal string '\N', not NULL
        f.write("3|a\\\\\\|b|z\n")      # 'a\' + escaped '|' + 'b' → 'a\|b'
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("t", T.StringType()),
        ]
    )
    rows = read_text_escaped(spark, path, schema, sep="|").orderBy("id").collect()
    assert rows[0].s == "end\\" and rows[0].t == "x"
    assert rows[1].s == "\\N" and rows[1].t == "y"
    assert rows[2].s == "a\\|b" and rows[2].t == "z"


def test_sequencefile_escape_roundtrip(spark, tmpdir_repo):
    """Writer+reader agree on escape state: trailing-backslash and literal
    '\\N' values survive a sequencefile round trip."""
    from hopspark.sources.io import read_sequencefile, write_sequencefile

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "end\\"), (2, "\\N"), (3, None), (4, "a|b"), (5, "\\")], schema
    )
    path = os.path.join(tmpdir_repo, "esc_seq")
    write_sequencefile(df, path)
    got = {r.id: r.s for r in read_sequencefile(spark, path, schema).collect()}
    assert got == {1: "end\\", 2: "\\N", 3: None, 4: "a|b", 5: "\\"}


def test_csv_quoted_roundtrip(spark, tmpdir_repo):
    """Standard quoted-CSV path (Spark-native escaping inside quotes)."""
    path = os.path.join(tmpdir_repo, "t.csv")
    with open(path, "w") as f:
        f.write('1,"a,b",x\n2,\\N,y\n')
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("t", T.StringType()),
        ]
    )
    rows = read_csv(spark, path, schema).orderBy("id").collect()
    assert rows[0].s == "a,b"
    assert rows[1].s is None


def test_json_roundtrip(spark, tmpdir_repo):
    path = os.path.join(tmpdir_repo, "t.json")
    with open(path, "w") as f:
        f.write('{"id": 1, "s": "x"}\n{"id": 2, "s": null}\n')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("s", T.StringType())]
    )
    rows = read_json(spark, path, schema).orderBy("id").collect()
    assert rows[0].s == "x" and rows[1].s is None


def test_orc_roundtrip(spark, sf_dir, tmpdir_repo):
    out = os.path.join(tmpdir_repo, "nation_orc")
    nation = read_table(spark, "nation", sf_dir)
    nation.write.mode("overwrite").orc(out)
    back = read_orc(spark, out)
    assert back.count() == nation.count()
    assert back.schema == nation.schema


def test_avro_native_roundtrip(spark, sf_dir, tmpdir_repo):
    """Avro scan/sink without the spark-avro jar (hdfs-avro-scanner.h:86):
    pure-Python container codec, one file per partition, deflate blocks."""
    from hopspark.sources.avro_codec import write_avro_native

    out = os.path.join(tmpdir_repo, "nation_avro")
    shutil.rmtree(out, ignore_errors=True)
    nation = read_table(spark, "nation", sf_dir)
    assert write_avro_native(nation, out) == nation.count()
    back = read_avro(spark, out)  # jar absent -> native codec path
    assert back.schema == nation.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, nation.collect()))


def test_avro_schema_resolution(spark, tmpdir_repo):
    """Reader-vs-writer schema resolution by field NAME with numeric
    promotion and reader-only defaults — the semantics of
    hdfs-avro-scanner.cc's ResolveSchemas/VerifyTypesMatch."""
    from datetime import date
    from decimal import Decimal

    from hopspark.sources.avro_codec import write_avro_native

    out = os.path.join(tmpdir_repo, "typed_avro")
    shutil.rmtree(out, ignore_errors=True)
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField("d", T.DateType()),
            T.StructField("note", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [
            (1, Decimal("12.34"), date(2024, 1, 2), "a"),
            (2, None, None, None),
        ],
        schema,
    )
    write_avro_native(df, out, codec="null")
    # reader: reordered subset, writer int promoted to reader long, plus a
    # reader-only field that the writer never wrote (-> null default)
    reader = T.StructType(
        [
            T.StructField("note", T.StringType()),
            T.StructField("id", T.LongType()),
            T.StructField("extra", T.StringType()),
        ]
    )
    got = sorted(map(tuple, read_avro(spark, out, schema=reader).collect()),
                 key=lambda r: r[1])
    assert got == [("a", 1, None), (None, 2, None)]
    # full-fidelity read of logical types (decimal/date) via embedded schema
    full = {r.id: r for r in read_avro(spark, out).collect()}
    assert full[1].price == Decimal("12.34") and full[1].d == date(2024, 1, 2)
    assert full[2].price is None


@pytest.mark.parametrize("codec", ["deflate", "none"])
def test_rcfile_roundtrip_and_prune(spark, sf_dir, tmpdir_repo, codec):
    """RCFile scan/sink (hdfs-rcfile-scanner.cc): column-major row groups
    with text-serde cells; a pruned read skips unselected columns' bytes
    (compressed ones without inflating them — per-column zlib)."""
    from hopspark.sources.rcfile import read_rcfile, write_rcfile

    out = os.path.join(tmpdir_repo, f"orders_rc_{codec}")
    shutil.rmtree(out, ignore_errors=True)
    orders = read_table(spark, "orders", sf_dir)
    assert write_rcfile(orders, out, codec=codec) == orders.count()
    back = read_rcfile(spark, out, orders.schema)
    assert [f.dataType for f in back.schema.fields] == [
        f.dataType for f in orders.schema.fields
    ]
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, orders.collect()))
    assert a == b
    # storage-level projection: only 2 of the columns are ever parsed
    pruned = read_rcfile(
        spark, out, orders.schema, select=["o_orderkey", "o_totalprice"]
    )
    assert pruned.columns == ["o_orderkey", "o_totalprice"]
    assert (
        pruned.agg(F.sum("o_totalprice").alias("s")).collect()[0].s
        == orders.agg(F.sum("o_totalprice").alias("s")).collect()[0].s
    )


def test_avro_nested_complex_types(tmpdir_repo):
    """Avro complex types in the pure-Python codec: record/array/map encode,
    decode, block boundaries, null branches — the schema shapes Iceberg
    manifests need (sources/iceberg.py) and Avro's own nested-record spec."""
    from hopspark.sources.avro_codec import (
        avro_to_spark_schema,
        decode_container,
        spark_to_avro_schema,
        write_container,
    )

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType()),
                        T.StructField("b", T.StringType()),
                    ]
                ),
                True,
            ),
            T.StructField("counts", T.MapType(T.StringType(), T.LongType()), True),
        ]
    )
    avro = spark_to_avro_schema(schema, "row")
    rows = [
        (1, ["x", "y"], {"a": 5, "b": "hi"}, {"k1": 10, "k2": 20}),
        (2, [], None, {}),
        (3, None, {"a": None, "b": "z"}, None),
    ]
    path = os.path.join(tmpdir_repo, "nested.avro")
    assert write_container(path, avro, rows) == 3
    with open(path, "rb") as f:
        back = list(decode_container(f.read()))
    assert back == [
        (1, ["x", "y"], {"a": 5, "b": "hi"}, {"k1": 10, "k2": 20}),
        (2, [], None, {}),
        (3, None, {"a": None, "b": "z"}, None),
    ]
    assert avro_to_spark_schema(avro) == schema


def test_rcfile_null_marker_literal(spark, tmpdir_repo):
    """A string cell that is literally '\\N' (or '\\\\N') must not collapse
    to NULL: the writer escapes marker-shaped cells, the reader unescapes
    after the null check (Hive text-serde escapes the sequence)."""
    from hopspark.sources.rcfile import read_rcfile, write_rcfile

    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "\\N"), (2, None), (3, "\\\\N"), (4, "plain"), (5, "N")], schema
    )
    out = os.path.join(tmpdir_repo, "rc_nullmark")
    shutil.rmtree(out, ignore_errors=True)
    write_rcfile(df, out)
    got = {r.id: r.s for r in read_rcfile(spark, out, schema).collect()}
    assert got == {1: "\\N", 2: None, 3: "\\\\N", 4: "plain", 5: "N"}


def test_ctas_insert_truncate_sql(spark, sf_dir):
    """DML entry-point parity (SURVEY §3 entry point B; grammar
    sql-parser.cup:637-731): CTAS, INSERT INTO ... SELECT, INSERT
    OVERWRITE, TRUNCATE — all through the SQL surface."""
    import shutil

    from hopspark.engine import Engine

    eng = Engine(spark=spark, sf_dir=sf_dir)
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    spark.sql("DROP TABLE IF EXISTS dml_t")
    shutil.rmtree(f"{warehouse}/dml_t", ignore_errors=True)

    try:
        # CTAS
        eng.sql(
            "CREATE TABLE dml_t AS SELECT r_regionkey AS k, r_name AS v FROM region"
        )
        assert eng.sql("SELECT count(*) AS n FROM dml_t").head().n == 5

        # INSERT INTO ... SELECT (appends)
        eng.sql("INSERT INTO dml_t SELECT r_regionkey + 100, r_name FROM region")
        assert eng.sql("SELECT count(*) AS n FROM dml_t").head().n == 10

        # INSERT INTO ... VALUES
        eng.sql("INSERT INTO dml_t VALUES (999, 'NOWHERE')")
        assert (
            eng.sql("SELECT v FROM dml_t WHERE k = 999").head().v == "NOWHERE"
        )

        # INSERT OVERWRITE replaces contents
        eng.sql("INSERT OVERWRITE dml_t SELECT 1, 'only'")
        rows = eng.sql("SELECT k, v FROM dml_t").collect()
        assert [(r.k, r.v) for r in rows] == [(1, "only")]

        # TRUNCATE
        eng.sql("TRUNCATE TABLE dml_t")
        assert eng.sql("SELECT count(*) AS n FROM dml_t").head().n == 0
    finally:
        spark.sql("DROP TABLE IF EXISTS dml_t")
        shutil.rmtree(f"{warehouse}/dml_t", ignore_errors=True)


def test_nested_parquet_roundtrip(spark, sf_dir, tmpdir_repo):
    """On-disk complex types (reference complextypestbl analogue,
    functional_schema_template.sql:787-794): write array<struct> + map
    columns to real parquet, read back through an EXPLICIT nested schema,
    and re-run the nested aggregations over the file — proving the nested
    readers (parquet list/map decoding), not just in-memory synthesis."""
    from hopspark.operators.nested import nested_orders_table
    from hopspark.sources.io import read_parquet

    out = os.path.join(tmpdir_repo, "nested_orders")
    shutil.rmtree(out, ignore_errors=True)
    src = nested_orders_table(spark, sf_dir)
    src.write.mode("overwrite").parquet(out)

    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField(
                "orders",
                T.ArrayType(
                    T.StructType(
                        [
                            T.StructField("o_orderkey", T.LongType()),
                            T.StructField("price", T.DecimalType(14, 2)),
                            T.StructField("o_orderstatus", T.StringType()),
                        ]
                    )
                ),
            ),
            T.StructField(
                "status_counts", T.MapType(T.StringType(), T.LongType())
            ),
        ]
    )
    back = read_parquet(spark, out, schema=schema)
    assert back.schema == schema
    # data round-trip (orders arrays are key-sorted, maps compared as dicts)
    a = sorted(
        (r.c_custkey, tuple(map(tuple, r.orders)), tuple(sorted(r.status_counts.items())))
        for r in back.collect()
    )
    b = sorted(
        (r.c_custkey, tuple(map(tuple, r.orders)), tuple(sorted(r.status_counts.items())))
        for r in src.collect()
    )
    assert a == b

    # the nested query, re-pointed at the FILE: same aggregates as
    # nested_customer_orders computed from the flat tables
    from hopspark.operators.nested import nested_customer_orders

    on_disk = back.select(
        "c_custkey",
        F.size("orders").alias("n_orders"),
        F.array_max(F.transform("orders", lambda o: o.price))
        .cast("double")
        .alias("max_price"),
        F.size(F.filter("orders", lambda o: o.o_orderstatus == "O")).alias("n_open"),
        F.aggregate(
            "orders",
            F.lit(0).cast("decimal(38,2)"),
            lambda acc, o: acc + o.price,
        )
        .cast("double")
        .alias("total_spent"),
    ).orderBy("c_custkey")
    expected = nested_customer_orders(spark, sf_dir)
    assert [tuple(r) for r in on_disk.collect()] == [
        tuple(r) for r in expected.collect()
    ]
    # map semantics over the file: per-status totals agree with flat counts
    open_from_map = (
        back.select(F.element_at("status_counts", "O").alias("n"))
        .agg(F.sum(F.coalesce("n", F.lit(0))).alias("s"))
        .first()["s"]
    )
    open_flat = (
        read_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderstatus") == "O")
        .count()
    )
    assert open_from_map == open_flat

    # nested-schema pruning reaches the scan: direct field extraction
    # (GetArrayStructFields — `orders.price`) lets SchemaPruning drop the
    # other struct fields from the parquet ReadSchema. NOTE a transform()
    # lambda (o -> o.price) defeats pruning and reads the whole struct —
    # use direct extraction when projecting nested columns at scale.
    pruned = back.select(F.array_max(F.col("orders.price")).alias("mx"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "price" in read_schema
    assert "o_orderstatus" not in read_schema, read_schema


def test_tablesample_system_files(spark, sf_dir, tmpdir_repo):
    """File-level TABLESAMPLE SYSTEM (FeFsTable.getFilesSample analogue):
    whole files are selected to a byte target, repeatable per seed."""
    from hopspark.sources.io import tablesample_system

    out = os.path.join(tmpdir_repo, "orders_multifile")
    shutil.rmtree(out, ignore_errors=True)
    orders = read_table(spark, "orders", sf_dir)
    orders.repartition(8).write.mode("overwrite").parquet(out)
    total = orders.count()

    s50 = tablesample_system(spark, out, 50, seed=7)
    n50 = s50.count()
    assert 0 < n50 < total  # a strict subset of whole files
    # repeatable: same seed → same rows; different seed → usually different
    assert tablesample_system(spark, out, 50, seed=7).count() == n50
    assert sorted(map(tuple, s50.collect())) == sorted(
        map(tuple, tablesample_system(spark, out, 50, seed=7).collect())
    )
    # whole-file granularity: sampled count is a sum of per-file counts
    import glob

    per_file = {
        f: spark.read.parquet(f).count()
        for f in glob.glob(os.path.join(out, "part-*.parquet"))
    }
    assert n50 in {
        sum(c)
        for c in __import__("itertools").chain.from_iterable(
            __import__("itertools").combinations(per_file.values(), k)
            for k in range(1, len(per_file) + 1)
        )
    }
    # 100% returns everything; 0% returns nothing
    assert tablesample_system(spark, out, 100, seed=1).count() == total
    assert tablesample_system(spark, out, 0, seed=1).count() == 0


def test_dsv2_rcfile_datasource(spark, sf_dir, tmpdir_repo):
    """External data source via the DataSource V2 extension point
    (data-source-scan-node.cc analogue; PySpark Python Data Source API):
    the RCFile codec registered as a real format with write, read, column
    pruning reaching the codec's lazy column skip, and EqualTo filter
    pushdown evaluated in the reader."""
    from hopspark.sources import dsv2

    dsv2.register(spark)
    orders = read_table(spark, "orders", sf_dir)
    ddl = (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"
    )
    path = os.path.join(tmpdir_repo, "dsv2_orders")
    shutil.rmtree(path, ignore_errors=True)
    orders.write.format("hopspark_rcfile").option("schema", ddl).mode(
        "overwrite"
    ).save(path)
    back = spark.read.format("hopspark_rcfile").option("schema", ddl).load(path)

    # full round trip, typed
    a = sorted(map(tuple, back.collect()))
    b = sorted(map(tuple, orders.collect()))
    assert a == b

    # column pruning: reader receives only the projected columns, whose
    # indexes drive decode_container's byte-skip of the others
    pruned_sum = (
        back.select("o_orderkey", "o_totalprice")
        .agg(F.sum("o_totalprice").alias("s"))
        .first()["s"]
    )
    assert pruned_sum == orders.agg(F.sum("o_totalprice").alias("s")).first()["s"]
    names = [f.name for f in orders.schema.fields]
    reader = dsv2.RCFileReader(
        {"path": path},
        T.StructType([T.StructField("o_totalprice", T.DoubleType())]),
        names,
    )
    assert reader.select == [names.index("o_totalprice")]

    # EqualTo pushdown: reader-evaluated, residual filters left to Spark
    filt = back.filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 0)
    )
    assert (
        filt.count()
        == orders.filter(
            (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 0)
        ).count()
    )


def test_orc_filter_pushdown(spark, sf_dir, tmpdir_repo):
    """ORC scan parity (hdfs-orc-scanner.h): predicate pushdown reaches the
    ORC reader like the parquet path."""
    out = os.path.join(tmpdir_repo, "li_orc")
    read_table(spark, "lineitem", sf_dir).write.mode("overwrite").orc(out)
    df = read_orc(spark, out).filter(F.col("l_returnflag") == "R").select("l_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "l_returnflag" in plan.split("PushedFilters")[1][:200]
    assert df.count() > 0


def test_sequencefile_roundtrip(spark, tmpdir_repo):
    """SequenceFile scan/sink (be/src/exec/hdfs-sequence-scanner.cc): the
    value of each record is one delimited-text row; escaping and \\N nulls
    follow the text-scanner semantics."""
    from hopspark.sources.io import read_sequencefile, write_sequencefile

    path = os.path.join(tmpdir_repo, "seq")
    df = spark.createDataFrame(
        [
            Row(id=1, s="a|b", t="x"),      # bare separator inside a field
            Row(id=2, s=None, t="back\\slash"),
            Row(id=3, s="plain", t="z"),
        ]
    )
    write_sequencefile(df, path)
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("t", T.StringType()),
        ]
    )
    back = read_sequencefile(spark, path, schema).orderBy("id").collect()
    assert [r.id for r in back] == [1, 2, 3]
    assert back[0].s == "a|b"
    assert back[1].s is None
    assert back[1].t == "back\\slash"
    # schema-less form surfaces raw (key, value) pairs
    raw = read_sequencefile(spark, path)
    assert set(raw.columns) == {"key", "value"}
    assert raw.count() == 3


def test_text_escaped_sink_adversarial(spark, tmpdir_repo):
    """write_text_escaped → read_text_escaped with fields containing the
    separator, the escape char, and the LITERAL two-char string "\\N"
    (which must round-trip as a string — only an unescaped bare \\N cell
    is SQL NULL, be/src/exec/delimited-text-parser.cc)."""
    from pyspark.sql import Row

    from hopspark.sources.io import read_text_escaped, write_text_escaped

    path = os.path.join(tmpdir_repo, "txt_adversarial")
    df = spark.createDataFrame(
        [
            Row(id=1, s="a|b|c", t="pipe-y"),
            Row(id=2, s=None, t="back\\slash"),
            Row(id=3, s="\\N", t="literal-marker"),
            Row(id=4, s="trail\\", t=None),
        ]
    )
    write_text_escaped(df, path)
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType()),
            T.StructField("s", T.StringType()),
            T.StructField("t", T.StringType()),
        ]
    )
    back = {r.id: r for r in read_text_escaped(spark, path, schema).collect()}
    assert back[1].s == "a|b|c"
    assert back[2].s is None and back[2].t == "back\\slash"
    assert back[3].s == "\\N"  # escaped marker stays a literal string
    assert back[4].s == "trail\\" and back[4].t is None


def test_avro_read_error_is_not_taken_for_a_missing_source(spark, monkeypatch):
    """Only Spark's "Failed to find data source: avro" falls back to the
    native codec; any other read error of the avro source is raised."""
    from pyspark.errors import AnalysisException
    from pyspark.sql.readwriter import DataFrameReader

    def load(self, path=None, format=None, schema=None, **options):
        raise AnalysisException(
            message=f"Path does not exist: {path}", errorClass="PATH_NOT_FOUND"
        )

    monkeypatch.setattr(DataFrameReader, "load", load)
    with pytest.raises(AnalysisException) as info:
        read_avro(spark, "/no/such/avro")
    assert info.value.getCondition() == "PATH_NOT_FOUND"
