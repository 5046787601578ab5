"""Watermarked windowed aggregation over the events stream (extension —
the reference is batch-only, SURVEY.md §2.10; this is the §7.E scale path
for continuous ingestion at 100 TB/day: file-source micro-batches, tumbling
or sliding windows, late data dropped by watermark).

Design notes for cluster scale:
  * The stream aggregation shuffles on (window, event_type) — the state
    store is keyed the same way, so skewed event_types could hot-spot one
    state partition; salting the key (extra bucket column folded back on
    output) is the documented mitigation.
  * `availableNow` trigger gives batch-equivalent backfill semantics, so
    the same code serves backfill and live tailing.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hopspark.catalog import SCHEMAS, _events_ts_is_int64, table_path


def _as_stream_dir(path: str) -> str:
    """The file-stream source only accepts directories; the driver lays
    tables out as single parquet files. Stage a directory containing a
    symlink to the file (read-only on the data itself)."""
    if os.path.isdir(path):
        return path
    stage = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        os.pardir,
        ".stream_stage",
        os.path.basename(os.path.dirname(path)) + "_" + os.path.basename(path),
    )
    stage = os.path.abspath(stage)
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, os.path.basename(path))
    if not os.path.exists(link):
        os.symlink(path, link)
    return stage


def stream_state_partitions(sf_dir: str) -> int:
    """Scale-adaptive state-store partition count for the bounded
    file-backed gate streams (r12, guide §2.2/§1.2).

    Structured Streaming fixes the number of state-store partitions to
    ``spark.sql.shuffle.partitions`` at query start, and every micro-batch
    commits EVERY store (a stream-stream join holds four per partition) —
    a snapshot/delta file write each.  With the session's batch-oriented
    partition count the gate streams spent nearly all their wall time
    committing near-empty stores: measured 136 s of summed commit time
    (32 partitions x 4 join stores x 2 batches) for a 20k-row interval
    join, 8.6 s wall.  Deriving the count from the INPUT SIZE (~one
    partition per 32 MB, >= 1, capped by the session's default
    parallelism) keeps tiny backfills cheap and lets a 100 TB feed scale
    to the full cluster; ``HOPSPARK_STREAM_STATE_PARTITIONS`` overrides
    for deployments that size state by key cardinality instead.
    Partition count never changes results — only where state rows live."""
    override = os.environ.get("HOPSPARK_STREAM_STATE_PARTITIONS")
    if override:
        return max(1, int(override))
    from hopspark.session import default_parallelism

    path = table_path(sf_dir, "events")
    try:
        if os.path.isdir(path):
            nbytes = sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
            )
        else:
            nbytes = os.path.getsize(path)
    except OSError:
        nbytes = 0
    return max(1, min(default_parallelism(), nbytes // (32 << 20) + 1))


def run_stream_to_completion(
    spark: SparkSession,
    df: DataFrame,
    qname: str,
    output_mode: str,
    n_partitions: int,
) -> DataFrame:
    """Run a streaming query to completion with the given state-partition
    count and return its output as a DataFrame.

    Sink choice (r13, guide §5 — the driver should do almost no data
    work): APPEND-mode streams (dedup keys, stream-stream join) emit one
    row per surviving input row — unbounded at 100 TB/day — so they go to
    a per-run PARQUET file sink in a fresh temp dir and are read back
    (executor-side IO, nothing accumulates on the driver).  The temp sink
    is recreated on every call: it is a within-run intermediate like a
    localCheckpoint, never a cross-run cache.  COMPLETE-mode streams are
    aggregate snapshots — cardinality is the aggregate's group count
    (windows × event_types; sessions per user-horizon), which is the same
    driver-size class as the query's own collect() — and stay on the
    memory sink.

    Conf-override concurrency (r12 ADVICE): ``spark.sql.shuffle.partitions``
    pins the stream's STATE partition count, but Structured Streaming
    snapshots the session conf by CLONING the session inside ``start()``
    (StreamExecution.sparkSessionForStream), so the override is restored
    immediately after ``start()`` returns — a concurrent batch query can
    only observe the tiny value during the start() call itself, not for
    the stream's lifetime.  The gate runs streams single-threaded; the
    residual start()-window race is documented here rather than padded
    with a lock because the session conf API has no per-query scope."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_partitions))
    try:
        if output_mode == "append":
            # the returned frame reads the sink lazily: remove it at exit
            out_dir = tempfile.mkdtemp(prefix=f"hopspark_{qname}_")
            atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
            data_dir = os.path.join(out_dir, "data")
            os.makedirs(data_dir, exist_ok=True)
            q = (
                df.writeStream.format("parquet")
                .option("path", data_dir)
                .option(
                    "checkpointLocation", os.path.join(out_dir, "_ckpt")
                )
                .queryName(qname)
                .outputMode("append")
                .start()
            )
        else:
            q = (
                df.writeStream.format("memory")
                .queryName(qname)
                .outputMode(output_mode)
                .start()
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if output_mode == "append":
        return spark.read.schema(df.schema).parquet(data_dir)
    return spark.table(qname)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a file-source stream with the catalog schema; like the
    batch reader, a legacy int64-nanos `ts` encoding is sniffed from the
    footer and surfaced as a µs timestamp."""
    from pyspark.sql import types as T

    path = table_path(sf_dir, "events")
    schema = SCHEMAS["events"]
    legacy = _events_ts_is_int64(path)
    if legacy:
        schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.LongType())
                for f in schema.fields
            ]
        )
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_as_stream_dir(path))
    )
    if legacy:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def sessionized_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Per-user session windows (gap-timeout sessionization) — the
    applyInPandasWithState use-case expressed with Spark's native
    session_window, which keeps state in the streaming state store and
    merges windows across micro-batches. Works identically on batch input
    (no watermark needed there)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def stream_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup — the continuous-ingestion member of the dedup
    family (operators/dedup.py is the batch path): drop repeated event_ids
    arriving within the watermark horizon. State is one compact key per
    distinct id, expired by the watermark, so state size is bounded by the
    id arrival rate × horizon, not the stream's history."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_stream_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "view",
    within: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream join: correlate each `left_type` event
    with the same user's `right_type` events that happened up to `within`
    BEFORE it (view→click attribution shape). Both sides are watermarked
    and the join condition is time-bounded, so each side's state store
    holds only the `within + watermark` horizon — the mandatory shape for
    an unbounded stream-stream equi-join."""
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"INTERVAL {within}")),
    ).select("l_user", "l_id", "l_ts", "r_id", "r_ts")


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Tumbling (or sliding, if `slide` given) window counts per event_type
    with late-data handling via watermark."""
    win = (
        F.window("ts", window) if slide is None else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "value_sum",
        )
    )
