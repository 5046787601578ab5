"""The Catalyst warm-up that overlaps an Engine's set-up
(`hopspark.session.warming`).

The conftest session already holds the SQL library, so `warming` does
nothing on it; every test that needs the warm-up builds its Engine on a
fresh `spark.newSession()`.
"""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from test_constant_select import _jobs

from hopspark import engine, session
from hopspark.engine import Engine


@pytest.fixture()
def started(monkeypatch):
    """The warm-up threads started while the test runs."""
    threads = []

    class Recorded(session.InheritableThread):
        def start(self):
            threads.append(self)
            super().start()

    monkeypatch.setattr(session, "InheritableThread", Recorded)
    return threads


@pytest.mark.parametrize("stmt", session.WARMUP_STATEMENTS)
def test_warmup_statement_launches_no_job(spark, stmt):
    side = spark.newSession()
    group = f"warm-up: {stmt[:40]}"
    assert _jobs(spark, group, lambda: side.sql(stmt).collect()) == []


def test_engine_on_new_session_warms_once(spark, started):
    fresh = spark.newSession()
    Engine(spark=fresh, register_tables=False)
    assert len(started) == 1
    assert not started[0].is_alive()
    # the session now holds the SQL library: a second Engine starts none
    Engine(spark=fresh, register_tables=False)
    assert len(started) == 1


def test_engine_on_set_up_session_starts_no_thread(spark, started):
    Engine(spark=spark, register_tables=False)
    assert started == []


def test_failing_warmup_raises_from_init(spark, started, monkeypatch):
    monkeypatch.setattr(
        session, "WARMUP_STATEMENTS", ("SELECT no_such_function(1)",)
    )
    with pytest.raises(AnalysisException, match="no_such_function"):
        Engine(spark=spark.newSession(), register_tables=False)
    assert len(started) == 1 and not started[0].is_alive()


def test_setup_error_is_not_masked_by_warmup(spark, started, monkeypatch):
    monkeypatch.setattr(
        session, "WARMUP_STATEMENTS", ("SELECT no_such_function(1)",)
    )

    def failing_setup(spark):
        # let the warm-up fail first, then fail the set-up itself
        started[0].join(timeout=120)
        assert not started[0].is_alive()
        raise RuntimeError("set-up failed")

    monkeypatch.setattr(engine, "register_all", failing_setup)
    with pytest.raises(RuntimeError, match="set-up failed"):
        Engine(spark=spark.newSession(), register_tables=False)
