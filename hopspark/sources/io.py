"""Explicit-schema readers and partitioned writers.

Reference parity:
  * text/CSV scanner with delimiters+escapes — be/src/exec/hdfs-text-scanner.h:49,
    be/src/exec/delimited-text-parser.cc (Spark: spark.read.csv options)
  * parquet scanner with stats/dictionary/bloom skipping —
    be/src/exec/parquet/hdfs-parquet-scanner.h:330-523 (Spark: built-in
    filter pushdown + column index; verified via explain in tests)
  * ORC scanner — be/src/exec/hdfs-orc-scanner.h:58
  * HdfsTableSink dynamic partition insert + sort-by clustering —
    be/src/exec/hdfs-table-sink.h:90 (Spark: partitionBy + sortWithinPartitions)

  * SequenceFile scanner — be/src/exec/hdfs-sequence-scanner.cc:1-570: the
    record value is a delimited-text row, parsed by the same
    delimited-text-parser as the plain text scan; we mirror that by sharing
    the escaped-split logic between the text and sequencefile readers.

  * Avro scanner — be/src/exec/hdfs-avro-scanner.h:86: spark-avro jar when
    present, else the pure-Python container codec in avro_codec.py with the
    reference's name-based schema resolution + numeric promotions.

  * RCFile scanner — be/src/exec/hdfs-rcfile-scanner.cc:1-641: pure-Python
    container codec in rcfile.py (column-major row groups, vint-RLE key
    buffers, text-serde cells, lazy column skip on pruned reads).
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def read_parquet(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = ",",
    header: bool = False,
    escape: str = "\\",
    null_value: str = "\\N",
) -> DataFrame:
    """Delimited-text scan with Impala-style escaping and \\N nulls."""
    return (
        spark.read.schema(schema)
        .options(sep=sep, header=header, escape=escape, nullValue=null_value, mode="PERMISSIVE")
        .csv(path)
    )


def _parse_delimited_lines(
    lines: DataFrame,
    schema: T.StructType,
    sep: str,
    escape: str,
    null_value: str,
) -> DataFrame:
    """Impala delimited-text semantics over a `value: string` column: the
    escape char protects a *bare* delimiter (no quoting) —
    be/src/exec/delimited-text-parser.cc, which tracks escape *state* while
    scanning. A lookbehind split can't express that state (a field ending in
    an escaped escape, 'end\\\\' → 'end\\\\\\\\|', would glue two fields), so we
    reproduce it with left-to-right literal replaces (JVM, codegen'd, no
    Python): rewrite 'ee'→SENT_ESC and 'e sep'→SENT_SEP (sequential scan =
    exact escape-state tracking), split on now-bare separators, compare the
    RAW token against the null marker (a literal '\\N' string arrives as
    SENT_ESC+'N' and so survives), then restore sentinels."""
    import re as _re

    from pyspark.sql import functions as F

    # In-band sentinels: unlikely in text data; collision would require raw
    # \x00/\x01 bytes in a delimited-text field.
    s_esc, s_sep = "\x00", "\x01"
    protected = F.replace(
        F.replace(F.col("value"), F.lit(escape + escape), F.lit(s_esc)),
        F.lit(escape + sep), F.lit(s_sep),
    )
    split = lines.select(F.split(protected, _re.escape(sep)).alias("_fields"))
    marker = null_value.replace("\\\\", "\\")
    cols = []
    for i, field in enumerate(schema.fields):
        raw = F.get(F.col("_fields"), i)
        unescaped = F.replace(
            F.replace(raw, F.lit(s_sep), F.lit(sep)), F.lit(s_esc), F.lit(escape)
        )
        val = F.when(raw == marker, None).otherwise(unescaped)
        cols.append(val.cast(field.dataType).alias(field.name))
    return split.select(*cols)


def read_text_escaped(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    sep: str = "|",
    escape: str = "\\",
    null_value: str = "\\N",
) -> DataFrame:
    """Impala delimited-text scan (see _parse_delimited_lines)."""
    return _parse_delimited_lines(spark.read.text(path), schema, sep, escape, null_value)


def read_sequencefile(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    sep: str = "|",
    escape: str = "\\",
    null_value: str = "\\N",
) -> DataFrame:
    """SequenceFile scan (be/src/exec/hdfs-sequence-scanner.cc:1-570): the
    container holds (key, value) records whose value is one delimited text
    row; Impala ignores the key and feeds values to the delimited-text
    parser. Without a schema, returns raw (key, value) strings."""
    pairs = spark.sparkContext.sequenceFile(path)
    kv = spark.createDataFrame(pairs, T.StructType([
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
    ]))
    if schema is None:
        return kv
    return _parse_delimited_lines(kv.select("value"), schema, sep, escape, null_value)


def _escaped_lines(df: DataFrame, sep: str, escape: str, null_value: str) -> DataFrame:
    """Serialize rows to Impala delimited-text lines (the inverse of
    _parse_delimited_lines). Bare separators and escapes inside fields are
    escape-protected; NULL → the null marker."""
    from pyspark.sql import functions as F

    parts = []
    for field in df.schema.fields:
        c = F.col(field.name).cast("string")
        # literal (non-regex) replaces: escape the escape char first, then
        # protect bare separators
        protected = F.replace(
            F.replace(c, F.lit(escape), F.lit(escape + escape)),
            F.lit(sep), F.lit(escape + sep),
        )
        parts.append(F.coalesce(protected, F.lit(null_value.replace("\\\\", "\\"))))
    return df.select(F.concat_ws(sep, *parts).alias("value"))


def write_sequencefile(df: DataFrame, path: str, sep: str = "|", escape: str = "\\",
                       null_value: str = "\\N") -> None:
    """Write rows as a SequenceFile of (row-number-less) delimited text
    values — the layout Impala's sequence scanner reads."""
    lines = _escaped_lines(df, sep, escape, null_value)
    lines.rdd.map(lambda r: ("", r["value"])).saveAsSequenceFile(path)


def write_text_escaped(df: DataFrame, path: str, sep: str = "|", escape: str = "\\",
                       null_value: str = "\\N") -> None:
    """Plain delimited-text sink (the layout read_text_escaped scans —
    Impala's TEXT table format, be/src/exec/hdfs-text-table-writer.cc)."""
    _escaped_lines(df, sep, escape, null_value).write.mode("overwrite").text(path)


def read_json(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    return spark.read.schema(schema).json(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType | None = None) -> DataFrame:
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


#: The condition of the AnalysisException Spark 4.1 raises when the
#: spark-avro data source is not on the classpath ("Failed to find data
#: source: avro").
_NO_AVRO_SOURCE = "_LEGACY_ERROR_TEMP_1139"


def read_avro(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Avro scan (be/src/exec/hdfs-avro-scanner.h:86): prefer the spark-avro
    DataSource when its jar is on the classpath; otherwise fall back to the
    pure-Python container codec in avro_codec.py (binaryFile + mapInPandas,
    name-based schema resolution with numeric promotions — the same
    resolution rules the reference scanner implements)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    try:
        return reader.format("avro").load(path)
    except AnalysisException as exc:
        if exc.getCondition() != _NO_AVRO_SOURCE:
            raise
        from hopspark.sources.avro_codec import read_avro_native

        return read_avro_native(spark, path, schema)


def tablesample_system(
    spark: SparkSession,
    path: str,
    percent: float,
    seed: int = 0,
    schema: T.StructType | None = None,
    fmt: str = "parquet",
    min_sample_bytes: int = 0,
) -> DataFrame:
    """File-level `TABLESAMPLE SYSTEM(percent) REPEATABLE(seed)` — mirrors
    the reference's file sampling (FeFsTable.getFilesSample:484-545):
    consistent file ordering for repeatable runs, then seeded random
    selection WITHOUT replacement until the cumulative file size reaches
    `max(round(total_bytes * percent/100), min_sample_bytes)`. Sampling
    whole files skips I/O proportionally (the point of SYSTEM vs BERNOULLI);
    the row-level form stays `df.sample()`. The PRNG is Python's, so the
    chosen subset differs from the reference's Java Random for the same
    seed — the contract (deterministic per seed, byte-target, whole files)
    is the same."""
    import random

    if not 0 <= percent <= 100:
        raise ValueError("percent must be in [0, 100]")
    files = sorted(
        e.path
        for e in os.scandir(path)
        if e.is_file() and not e.name.startswith(("_", "."))
    )
    if not files:
        raise ValueError(f"no data files under {path}")
    sizes = {f: os.path.getsize(f) for f in files}
    total = sum(sizes.values())
    target = max(round(total * percent / 100.0), min_sample_bytes)
    rnd = random.Random(seed)
    remaining = list(files)
    chosen: list[str] = []
    selected = 0
    while remaining and selected < target:
        f = remaining.pop(rnd.randrange(len(remaining)))
        chosen.append(f)
        selected += sizes[f]
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if not chosen:
        empty_schema = schema or reader.format(fmt).load(files[0]).schema
        return spark.createDataFrame([], empty_schema)
    return reader.format(fmt).load(chosen)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """INSERT [OVERWRITE] ... PARTITION(...) equivalent: dynamic partitioned
    write with optional within-partition clustering (the reference's
    /* +clustered */ sort-by — HdfsTableSink). At scale, `partition_by`
    drives dir-per-partition layout and `sort_by` improves parquet
    min-max skipping for later scans."""
    out = df
    if sort_by:
        keys = (partition_by or []) + sort_by
        out = out.sortWithinPartitions(*keys)
    writer = out.write.mode(mode).format(fmt)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """CREATE TABLE ... CLUSTERED BY (...) INTO n BUCKETS equivalent
    (reference grammar sql-parser.cup CLUSTERED/SORT BY; Kudu hash
    partitioning is the reference's closest physical analogue).

    Bucketing is the co-located-join primitive at 100 TB: two tables
    bucketed on their join key into the same bucket count join with NO
    exchange on either side — the shuffle happened once at write time and
    is amortized over every subsequent join/aggregation on that key
    (verified by tests/test_plans.py::test_bucketed_join_has_no_exchange).
    Registers through the session catalog (saveAsTable) because bucket
    metadata lives in the catalog, not in the parquet files."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
