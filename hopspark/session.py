"""SparkSession factory with scale-oriented defaults.

The reference engine gets its performance from an MPP runtime (LLVM
codegen, partitioned spilling joins/aggs, runtime bloom filters, cost-based
broadcast-vs-partition decisions — SURVEY.md §4.3). On Spark all of those
map to existing machinery; this factory simply turns the right knobs on so
every operator in the package inherits them:

  * AQE (runtime re-plan, partition coalescing, skew-join handling) — the
    Spark analogue of Impala's runtime re-optimization decisions.
  * CBO + join reorder — Impala's cardinality-based join ordering
    (fe/.../planner/SingleNodePlanner.java:528-540 in the reference).
  * Runtime bloom-filter semi-join reduction — Impala's runtime filters
    (fe/.../planner/RuntimeFilterGenerator.java:105-119).
  * ANSI off — Impala's permissive implicit casts / non-failing arithmetic.
  * UTC session timezone + timestampNTZ inference — Impala TIMESTAMP is
    timezone-less (be/src/runtime/timestamp-value.h:46).

Local-mode notes: tests/bench run on local[N]; on a real cluster only
`master` and the memory settings change — the SQL confs are the design.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import InheritableThread
from pyspark.sql import SparkSession

# Columns under this many bytes on the build side should broadcast; AQE will
# also convert to broadcast at runtime when post-shuffle stats allow.
_BROADCAST_THRESHOLD = str(64 * 1024 * 1024)


#: The session attribute `register_sql_functions` sets once the session
#: holds the dialect's SQL library; `warming` reads it.
SQL_LIBRARY_MARKER = "_hopspark_sql_fns_registered"

#: Job-free statements that warm Catalyst (analysis, optimization, planning
#: and the collect path) for a new session's first queries.  Each reads a
#: FROM VALUES source, which Catalyst folds to a LocalRelation, so all of
#: it runs on the driver and no Spark job is launched
#: (tests/test_warming.py pins that).  They cover the dialect's expression
#: families: arithmetic, DECIMAL and CAST; string, LIKE/regexp and CASE;
#: date/time.
WARMUP_STATEMENTS = (
    "SELECT a + b * 2 - a % 3 AS i, a / b AS q, a DIV b AS dv, abs(-a) AS ab,"
    " pow(b, 2) AS p, d * 3 + 1.5 AS dm, round(d, 2) AS r,"
    " CAST(d AS DECIMAL(20,4)) / 7 AS dq, CAST(s AS INT) AS ci,"
    " CAST(a AS STRING) AS cs, CAST(d AS DOUBLE) AS cd, CAST(s AS BIGINT) AS cb"
    " FROM VALUES (7, 2, CAST(12.345 AS DECIMAL(9,3)), '42') AS t(a, b, d, s)"
    " WHERE a > b",
    "SELECT concat(upper(s), lower(s)) AS c, substr(s, 2, 3) AS ss,"
    " length(s) AS l, trim(s) AS tr, lpad(s, 8, 'x') AS lp, instr(s, 'b') AS ix,"
    " s LIKE 'ab%' AS lk, s RLIKE '^a.*z$' AS rl,"
    " regexp_replace(s, '[aeiou]', '_') AS rr, regexp_extract(s, '(b+)', 1) AS re,"
    " CASE WHEN n > 1 THEN 'big' WHEN n IS NULL THEN NULL ELSE 'small' END AS cw,"
    " coalesce(m, n) AS co, if(n = 1, s, NULL) AS f"
    " FROM VALUES ('abcz', 3, CAST(NULL AS INT)) AS t(s, n, m)",
    "SELECT date_add(d, 3) AS da, datediff(d, DATE '2020-01-01') AS dd,"
    " year(ts) AS y, month(ts) AS mo, hour(ts) AS h, add_months(d, 1) AS am,"
    " date_format(ts, 'yyyy-MM-dd HH:mm') AS df, unix_timestamp(ts) AS u,"
    " CAST(ts AS DATE) AS cdt, CAST(d AS TIMESTAMP) AS cts, trunc(d, 'MM') AS tm,"
    " ts + INTERVAL 2 HOURS AS ti"
    " FROM VALUES (DATE '2024-01-31', TIMESTAMP '2024-01-31 12:34:56') AS t(d, ts)",
)


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "hopspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Parameters mirror what a deployment would tune; everything else is a
    considered default that should survive a 1000-executor cluster:
    shuffle partitioning is AQE-coalesced from an upper bound, joins prefer
    broadcast under threshold, skew is split at runtime.
    """
    cpus = default_parallelism()
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Local: ~cores. Cluster deployments pass an explicit larger bound;
        # AQE coalesces down from it, so erring high is safe.
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- shuffle / adaptivity ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", _BROADCAST_THRESHOLD)
        # --- cost-based optimization (Impala: cardinality-based join order) ---
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # --- runtime filters (Impala: bloom/min-max runtime filters) ---
        # NOTE: runtimeFilter.semiJoinReduction hangs query compilation on
        # this Spark build (4.1.2) even for trivial plans — verified by
        # bisection; bloom-filter runtime filters cover the Impala parity.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        # --- semantics: match the reference dialect ---
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.int96RebaseModeInRead", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInRead", "CORRECTED")
        # --- python/arrow path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Python DataSource V2 filter pushdown (sources/dsv2.py) — the
        # external-data-source predicate pushdown of the reference
        # (data-source-scan-node.cc accept/reject of pushed conjuncts)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- scan sizing: target healthy task sizes at large SF ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("HOPSPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def warming(spark: SparkSession) -> Iterator[None]:
    """Warm the JVM's Catalyst on a side session while the body runs.

    A new session's first statements pay for class loading and JIT of
    Catalyst, several times a warm statement's cost.  The body is set-up
    that keeps the driver JVM about one core busy (the SQL library's
    registration), so one `InheritableThread` collects `WARMUP_STATEMENTS`
    beside it.  They run on `spark.newSession()`, whose own catalog takes
    none of the body's catalog locks and keeps no state of theirs; the
    JVM thread py4j pins to it ends with it.  On exit the
    thread is stopped before its next statement and joined; a warm-up
    error is raised then, unless the body raised first.

    Nothing runs for a session that already holds the SQL library
    (`SQL_LIBRARY_MARKER`): it has been set up, and its JVM has warmed.
    """
    if getattr(spark, SQL_LIBRARY_MARKER, False):
        yield
        return
    side = spark.newSession()
    stop = threading.Event()
    errors: list[Exception] = []

    def run() -> None:
        try:
            for stmt in WARMUP_STATEMENTS:
                if stop.is_set():
                    return
                side.sql(stmt).collect()
        except Exception as exc:  # noqa: BLE001 - raised again on exit
            errors.append(exc)

    thread = InheritableThread(target=run)
    thread.start()
    try:
        yield
    finally:
        stop.set()
        thread.join()
    if errors:
        raise errors[0]
