"""Streaming extension: the windowed stream agg must equal its batch twin
when run with availableNow over the same files (backfill equivalence)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hopspark.catalog import read_table
from hopspark.streaming.windows import stream_events, windowed_event_counts

CKPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".pytest_tmp_stream"
)


@pytest.fixture()
def ckpt_dir():
    os.makedirs(CKPT, exist_ok=True)
    yield CKPT
    shutil.rmtree(CKPT, ignore_errors=True)


def test_stream_window_equals_batch(spark, sf_dir, ckpt_dir):
    stream = stream_events(spark, sf_dir)
    assert stream.isStreaming

    agg = windowed_event_counts(stream, window="1 hour", watermark="30 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(ckpt_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.sql(
        "SELECT window_start, event_type, n FROM win_counts ORDER BY window_start, event_type"
    ).collect()

    batch = (
        read_table(spark, "events", sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
        .orderBy("window_start", "event_type")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]
    assert len(got) > 0


def test_stream_dedup_within_watermark(spark, sf_dir, ckpt_dir):
    """dropDuplicatesWithinWatermark: a stream unioned with itself (every
    event twice) dedups back to exactly the distinct event_ids."""
    from hopspark.streaming.windows import stream_dedup

    stream = stream_events(spark, sf_dir)
    doubled = stream.unionByName(stream)
    deduped = stream_dedup(doubled)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(ckpt_dir, "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_stream").head()
    truth = read_table(spark, "events", sf_dir).select("event_id").distinct().count()
    assert got.n == got.d == truth


def test_stream_stream_join_equals_batch(spark, sf_dir, ckpt_dir):
    """Time-bounded watermarked stream-stream join must equal the batch
    join over the same files."""
    from hopspark.streaming.windows import stream_stream_join

    ev_types = [
        r.event_type
        for r in read_table(spark, "events", sf_dir)
        .groupBy("event_type").count().orderBy(F.desc("count")).limit(2).collect()
    ]
    lt, rt = ev_types[0], ev_types[1]
    stream = stream_events(spark, sf_dir)
    joined = stream_stream_join(stream, left_type=lt, right_type=rt)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(ckpt_dir, "ckpt_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT l_id, r_id FROM ss_join").collect()

    ev = read_table(spark, "events", sf_dir)
    left = ev.filter(F.col("event_type") == lt).select(
        F.col("user_id").alias("l_user"), F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    right = ev.filter(F.col("event_type") == rt).select(
        F.col("user_id").alias("r_user"), F.col("ts").alias("r_ts"),
        F.col("event_id").alias("r_id"),
    )
    batch = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") <= F.col("l_ts"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr("INTERVAL 30 minutes")),
    ).select("l_id", "r_id").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, batch))
    assert len(got) > 0


def test_session_windows_stream_equals_batch(spark, sf_dir, ckpt_dir):
    """Gap-timeout sessionization: streaming state-store result must equal
    the batch session_window over the same files."""
    from hopspark.streaming.windows import sessionized_counts

    stream = sessionized_counts(stream_events(spark, sf_dir), gap="30 minutes")
    q = (
        stream.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(ckpt_dir, "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT user_id, session_start, n_events FROM sessions "
        "ORDER BY user_id, session_start"
    ).collect()

    batch = (
        sessionized_counts(read_table(spark, "events", sf_dir), gap="30 minutes")
        .select("user_id", "session_start", "n_events")
        .orderBy("user_id", "session_start")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in batch]
    assert len(got) > 0


def test_stateful_running_totals_across_batches(spark, sf_dir, ckpt_dir):
    """applyInPandasWithState keeps per-user state across micro-batches:
    with the input split into two files (one per trigger), the final
    emitted totals must equal the batch groupBy."""
    from pyspark.sql import functions as F

    from pyspark.sql import types as T

    from hopspark.streaming.stateful import running_user_totals

    # stage the events as TWO parquet files so availableNow runs 2 batches
    # (ts dropped: the operator is time-agnostic and the staged file would
    # otherwise re-encode the converted timestamp)
    ev = read_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    src = os.path.join(ckpt_dir, "two_files")
    ev.repartition(2).write.mode("overwrite").parquet(src)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    stream = running_user_totals(raw)
    q = (
        stream.writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(ckpt_dir, "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last emission per user is the final cumulative state
    final = {
        r.user_id: r
        for r in spark.sql(
            "SELECT user_id, max(n_events) AS n_events FROM running_totals "
            "GROUP BY user_id"
        ).collect()
    }
    want = {
        r.user_id: r
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(final) == set(want)
    for uid in want:
        assert final[uid].n_events == want[uid].n
    # statefulness proof: at least one user updated twice (two emissions)
    multi = spark.sql(
        "SELECT user_id, COUNT(*) AS c FROM running_totals GROUP BY user_id HAVING COUNT(*) > 1"
    ).count()
    assert multi > 0, "no user saw more than one micro-batch - state untested"


def test_streaming_distinct_users_sketch(spark, sf_dir, ckpt_dir):
    """Online KMV distinct-count: the final per-type estimate must equal
    the exact batch COUNT(DISTINCT user_id) while every distinct count is
    below the sketch capacity (exact regime), with state capped at
    SKETCH_K longs per key across micro-batches."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from hopspark.streaming.stateful import streaming_distinct_users

    ev = read_table(spark, "events", sf_dir).select("event_type", "user_id")
    src = os.path.join(ckpt_dir, "ndv_files")
    ev.repartition(2).write.mode("overwrite").parquet(src)

    schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("user_id", T.LongType()),
        ]
    )
    raw = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    q = (
        streaming_distinct_users(raw)
        .writeStream.format("memory")
        .queryName("stream_ndv")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(ckpt_dir, "ckpt_ndv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.event_type: r.ndv
        for r in spark.sql(
            "SELECT event_type, max(ndv_est) AS ndv FROM stream_ndv GROUP BY event_type"
        ).collect()
    }
    want = {
        r.event_type: r.nd
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert set(got) == set(want)
    for k, exact in want.items():
        # exact regime at test scale (distinct users per type < SKETCH_K)
        assert got[k] == float(exact), (k, got[k], exact)


def test_sessionize_oracle_deterministic_on_ts_ties():
    """Round-2 advice: with a second-truncated ts tie at a session boundary,
    the oracle's cumulative sum must walk rows in the same (ts, event_id)
    order as the lag-based new_sess flag — otherwise the tied non-opening
    event can be assigned to the PREVIOUS session depending on DuckDB's
    arbitrary tie order.  Pure-DuckDB check, adversarial insertion order."""
    import duckdb

    from hopspark.operators.stream_queries import STREAMING_SESSIONIZE_SQL

    con = duckdb.connect()
    # user 7: e1 opens session 1 at t=1000; >1800s gap; e3 and e2 tie at
    # t=3600 (session 2).  Insert the higher event_id FIRST so a tie-order
    # bug surfaces as e3 landing in session 1.
    con.sql(
        """
        CREATE VIEW events AS
        SELECT * FROM (VALUES
          (7, TIMESTAMP '2024-01-01 00:16:40', 1),
          (7, TIMESTAMP '2024-01-01 01:00:00', 3),
          (7, TIMESTAMP '2024-01-01 01:00:00', 2),
          (7, TIMESTAMP '2024-01-01 01:00:05', 4)
        ) AS t(user_id, ts, event_id)
        """
    )
    rows = con.sql(STREAMING_SESSIONIZE_SQL).fetchall()
    # (user, session_no, start, end, n_events)
    assert [(r[0], r[1], r[4]) for r in rows] == [(7, 1, 1), (7, 2, 3)]


def test_events_ts_sniff_rekeys_on_rewrite(tmp_path):
    """Round-2 advice: the footer sniff must re-probe when the file is
    regenerated with a different encoding (driver does this between rounds)
    and must not cache a failure for a file that doesn't exist yet."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hopspark.catalog import _events_ts_is_int64

    p = tmp_path / "events.parquet"
    # missing file: False, and NOT cached
    assert _events_ts_is_int64(str(p)) is False
    pq.write_table(pa.table({"ts": pa.array([1, 2], pa.int64())}), p)
    os.utime(p, (1000, 1000))
    assert _events_ts_is_int64(str(p)) is True
    # regenerate with timestamp encoding and a new mtime: verdict must flip
    pq.write_table(
        pa.table({"ts": pa.array([1, 2], pa.timestamp("us"))}), p
    )
    os.utime(p, (2000, 2000))
    assert _events_ts_is_int64(str(p)) is False


def test_append_stream_sink_removed_at_exit(spark, sf_dir, monkeypatch):
    """An append-mode stream's temp sink and checkpoint dir outlive the
    call (the returned frame reads the sink lazily) but are registered
    for removal at interpreter exit."""
    import atexit

    from hopspark.streaming.windows import run_stream_to_completion

    registered = []
    monkeypatch.setattr(
        atexit, "register",
        lambda fn, *args, **kwargs: registered.append((fn, args, kwargs)),
    )
    out = run_stream_to_completion(
        spark, stream_events(spark, sf_dir).select("event_id"),
        "append_sink_cleanup", "append", 2,
    )
    assert out.count() == read_table(spark, "events", sf_dir).count()
    sinks = [
        args[0] for fn, args, _kw in registered
        if fn is shutil.rmtree
        and os.path.basename(args[0]).startswith("hopspark_append_sink_cleanup")
    ]
    assert len(sinks) == 1 and os.path.isdir(sinks[0])
    for fn, args, kwargs in registered:
        fn(*args, **kwargs)
    assert not os.path.exists(sinks[0])


def test_events_ts_sniff_reads_a_bad_footer_as_not_int64(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hopspark.catalog import _events_ts_is_int64

    p = tmp_path / "events.parquet"
    p.write_bytes(b"not a parquet file")
    assert _events_ts_is_int64(str(p)) is False
    # no ts column
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), p)
    assert _events_ts_is_int64(str(p)) is False


def test_events_ts_sniff_raises_unexpected_errors(tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hopspark.catalog import _events_ts_is_int64

    p = tmp_path / "events.parquet"
    pq.write_table(pa.table({"ts": pa.array([1], pa.int64())}), p)

    def boom(path):
        raise RuntimeError("bug in the sniff")

    monkeypatch.setattr(pq, "read_schema", boom)
    with pytest.raises(RuntimeError, match="bug in the sniff"):
        _events_ts_is_int64(str(p))
