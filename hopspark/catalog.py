"""Explicit-schema table registry over the parquet test tables.

The reference resolves table metadata from the Hive Metastore with fixed,
explicit schemas (SURVEY.md §1.4 — HdfsTable,
fe/src/main/java/org/apache/impala/catalog/HdfsTable.java); it never infers.
We mirror that: every engine table has a declared StructType, and
`register()` binds the parquet files under a scale-factor directory as temp
views with those schemas enforced.

At cluster scale the same registry would point at partitioned table roots
(dir-per-partition like HdfsPartition) and Spark's partition discovery +
dynamic partition pruning take over; nothing in the API changes.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Declared engine schemas for the driver-provided tables (TESTDATA.md).
# Kept in exact parquet-file order so enforcement is a no-op cast.
SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # `ts` has shipped in two physical encodings: parquet
            # TIMESTAMP(NANOS) (which Spark cannot decode as a timestamp —
            # PARQUET_TYPE_ILLEGAL — so we read raw int64 nanos and truncate
            # to µs, the Impala-TIMESTAMP ns→µs mapping in SURVEY.md §1.3)
            # and plain TIMESTAMP(MICROS).  read_table() sniffs the footer
            # once per path and adapts; the logical surface is always a
            # µs TimestampType column.
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLES = tuple(SCHEMAS)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_EVENTS_TS_IS_INT64: dict = {}


def _events_ts_is_int64(path: str) -> bool:
    """True when events.ts is physically int64 nanos (legacy encoding).

    One driver-side footer sniff per (path, mtime) — O(KB) metadata read, so
    caching buys little; the mtime key exists because the test driver is
    known to regenerate events.parquet with a different encoding while a
    process is alive, and a path-keyed cache would then force the wrong read
    schema.  Failed sniffs (e.g. file not written yet) are NOT cached, so a
    later read re-probes instead of inheriting a stale False.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    probe = path
    if os.path.isdir(path):
        parts = [p for p in sorted(os.listdir(path)) if p.endswith(".parquet")]
        if parts:
            probe = os.path.join(path, parts[0])
    try:
        key = (probe, os.path.getmtime(probe))
        if key not in _EVENTS_TS_IS_INT64:
            field = pq.read_schema(probe).field("ts")
            _EVENTS_TS_IS_INT64[key] = pt.is_integer(field.type)
        return _EVENTS_TS_IS_INT64[key]
    except (OSError, KeyError, pa.ArrowInvalid):
        # no file yet, no ts column, or not a parquet file
        return False


def read_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one engine table with its declared schema.

    Passing the schema (rather than relying on footer inference) keeps the
    scan contract fixed — the Impala discipline — and still gets full
    parquet pushdown/pruning since names+types match the file exactly.
    """
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = table_path(sf_dir, name)
    schema = SCHEMAS[name]
    if name == "events" and _events_ts_is_int64(path):
        from pyspark.sql import functions as F

        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in schema.fields
            ]
        )
        df = spark.read.schema(schema).parquet(path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return spark.read.schema(schema).parquet(path)


def _register_key(sf_dir: str) -> tuple:
    """Cache key for a registration: the sf_dir plus (mtime, size) of every
    table file — the test driver is known to regenerate tables in-place with
    a different physical encoding while a session is alive (see
    _events_ts_is_int64); any change forces re-registration so the views
    pick up the new read schema.  10 os.stat calls, microseconds."""
    stats = []
    for name in TABLES:
        try:
            st = os.stat(table_path(sf_dir, name))
            stats.append((st.st_mtime, st.st_size))
        except OSError:
            stats.append(None)
    return (sf_dir, tuple(stats))


def _views_verified(spark: SparkSession, sf_dir: str) -> bool:
    """One-round-trip structural check that the catalog temp views are
    still the ones register() created: analyze a 10-way cross join of all
    views (never executed — .schema only triggers analysis) and compare the
    concatenated (name, dataType) list against the declared schemas; then
    check that the sentinel view (the first table) still reads its file
    under `sf_dir`.

    This is the guard against OUT-OF-BAND view replacement that the session
    marker cannot see — e.g. tools/query_fuzzer.register_views clobbering
    `events` with a raw parquet read whose `ts` is physical int64 nanos,
    which silently changes the translator's type dispatch
    (avg(TIMESTAMP)→TIMESTAMP rewrite, bool `||`, cast guards), or
    re-registering the views from another sf_dir, which keeps every
    schema and only the file path tells apart.  One analysis and one
    sentinel file lookup ≪ the 10 read+createOrReplaceTempView round trips
    they replace (nullability is ignored: reads through withColumn may
    relax it without changing any type dispatch)."""
    try:
        probe = spark.sql(
            "SELECT * FROM " + ", ".join(TABLES) + " LIMIT 0"
        ).schema
    except AnalysisException:
        return False  # a view was dropped or is unreadable
    declared = [
        (f.name, f.dataType) for name in TABLES for f in SCHEMAS[name].fields
    ]
    if [(f.name, f.dataType) for f in probe.fields] != declared:
        return False
    root = os.path.abspath(table_path(sf_dir, TABLES[0]))
    files = [
        unquote(urlparse(f).path) for f in spark.table(TABLES[0]).inputFiles()
    ]
    return bool(files) and all(
        f == root or f.startswith(root + os.sep) for f in files
    )


def forget_registration(spark: SparkSession, name: str) -> None:
    """Invalidate the session's registration marker (see register) when
    the view of catalog table ``name`` is replaced or dropped, so the next
    Engine() re-registers the pristine catalog views."""
    if name.lower() in SCHEMAS and hasattr(
        spark, "_hopspark_tables_registered"
    ):
        spark._hopspark_tables_registered = None


def register(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, force: bool = False
) -> None:
    """Register every engine table as a temp view (idempotent).

    Skipped when this session already registered the same sf_dir (r12) AND
    the views still verify structurally (_views_verified, r13): callers
    re-register defensively on every query, and the 10 lazy spark.read +
    createOrReplaceTempView round trips are pure per-query overhead when
    the views are already in place.  The marker is an attribute on the
    session object (dies with it); registering a DIFFERENT sf_dir, a
    regenerated table file, or finding a view clobbered out-of-band
    re-registers.  force=True re-registers unconditionally (the
    INVALIDATE METADATA path — Engine.refresh())."""
    key = _register_key(sf_dir)
    if (
        not force
        and getattr(spark, "_hopspark_tables_registered", None) == key
        and _views_verified(spark, sf_dir)
    ):
        return
    for name in TABLES:
        read_table(spark, name, sf_dir).createOrReplaceTempView(name)
    spark._hopspark_tables_registered = key
