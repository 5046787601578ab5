"""FROM-less SELECTs run on the driver.

The reference runs a SELECT without FROM as constant rows in the
coordinator, with no scan (be/src/exec/union-node.h).  The translator
gives such a block a one-row VALUES source, which Catalyst folds into a
LocalRelation, so ``collect()`` launches no Spark job.  The statements
must keep the types, rows and errors of the bare SELECT.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException, SparkRuntimeException

from hopspark.engine import Engine


@pytest.fixture(scope="module")
def eng(spark):
    return Engine(spark=spark, register_tables=False)


def _jobs(spark, group, run):
    """Run ``run()`` under its own job group; the jobs the group launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "query",
    [
        "select lpad('abc', 6, 'xy') a, conv('ff', 16, 2) b",
        "select 1 a where false",
        "SELECT upper('x') AS u LIMIT 1",
    ],
)
def test_from_less_select_launches_no_job(spark, eng, query):
    group = f"constant-select: {query}"
    assert _jobs(spark, group, lambda: eng.sql(query).collect()) == []


@pytest.mark.parametrize(
    "query, schema, rows",
    [
        # the source's names must not shadow a lateral alias
        ("select 1 as col1, col1 + 1 as b", "struct<col1:int,b:int>", [(1, 2)]),
        ("select 1 a where false", "struct<a:int>", []),
        ("select count(*) c", "struct<c:bigint>", [(1,)]),
        ("select sum(1) a having sum(1) > 0", "struct<a:bigint>", [(1,)]),
        ("select 1 a union all select 2", "struct<a:int>", [(1,), (2,)]),
        ("select rand() is not null a", "struct<a:boolean>", [(True,)]),
        ("select distinct 1 a", "struct<a:int>", [(1,)]),
        ("select row_number() over (order by 1) rn", "struct<rn:int>", [(1,)]),
        # a star item keeps the bare form: zero columns, one row
        ("select *", "struct<>", [()]),
        # a pandas UDF is evaluated the same way
        (
            "select fnv_hash('a') h",
            "struct<h:bigint>",
            [(-5808556873153909620,)],
        ),
    ],
)
def test_from_less_select_keeps_types_and_rows(eng, query, schema, rows):
    df = eng.sql(query)
    assert df.schema.simpleString() == schema
    assert sorted(tuple(r) for r in df.collect()) == rows


@pytest.mark.parametrize(
    "query, exc, error_class",
    [
        ("select raise_error('boom')", SparkRuntimeException,
         "USER_RAISED_EXCEPTION"),
        # the source adds no column a statement could resolve
        ("select col1", AnalysisException, "UNRESOLVED_COLUMN"),
    ],
)
def test_from_less_select_keeps_its_error(eng, query, exc, error_class):
    with pytest.raises(exc) as info:
        eng.sql(query).collect()
    assert info.value.getCondition().split(".")[0] == error_class
