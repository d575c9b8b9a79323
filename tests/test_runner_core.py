"""The runners' one retry helper (``streaming/runner.retrying``),
driven with a fake callable and a recorded sleep — no Spark session.
"""

from __future__ import annotations

import logging

import pytest

import kafka_jdbc_sink_connector_spark.streaming.runner as runner_mod
from kafka_jdbc_sink_connector_spark.config import ConfigError
from kafka_jdbc_sink_connector_spark.streaming.runner import retrying


@pytest.fixture
def sleeps(monkeypatch):
    slept: list[float] = []
    monkeypatch.setattr(runner_mod.time, "sleep", slept.append)
    return slept


def _flaky(*errors):
    """Callable that raises each of ``errors`` in turn, then returns
    ``"ok"``; ``fn.calls`` counts invocations."""
    pending = list(errors)

    def fn():
        fn.calls += 1
        if pending:
            raise pending.pop(0)
        return "ok"

    fn.calls = 0
    return fn


def test_success_after_failures(sleeps):
    fn = _flaky(RuntimeError("a"), OSError("b"))
    assert retrying(fn, attempts=4, backoff_s=0.25) == "ok"
    assert fn.calls == 3
    assert sleeps == [0.25, 0.25]


def test_exhaustion_reraises_last_error(sleeps):
    fn = _flaky(RuntimeError("first"), RuntimeError("second"),
                RuntimeError("last"))
    with pytest.raises(RuntimeError, match="^last$"):
        retrying(fn, attempts=3, backoff_s=0.1)
    assert fn.calls == 3
    assert sleeps == [0.1, 0.1]  # no sleep after the final attempt


def test_non_retriable_raises_on_first_attempt(sleeps):
    fn = _flaky(ConfigError("bad key"))
    with pytest.raises(ConfigError, match="bad key"):
        retrying(fn, attempts=5, backoff_s=1.0)
    assert fn.calls == 1
    assert sleeps == []


def test_each_swallowed_attempt_logs_a_warning(sleeps, caplog):
    fn = _flaky(RuntimeError("a"), RuntimeError("b"))
    with caplog.at_level(logging.WARNING, logger=runner_mod.__name__):
        assert retrying(fn, attempts=4, backoff_s=0.0) == "ok"
    recs = [r for r in caplog.records if r.name == runner_mod.__name__]
    assert [r.levelno for r in recs] == [logging.WARNING] * 2
    assert "attempt 1/4" in recs[0].getMessage()
    assert "attempt 2/4" in recs[1].getMessage()
    assert "RuntimeError('b')" in recs[1].getMessage()


def test_attempts_below_one_rejected(sleeps):
    fn = _flaky()
    with pytest.raises(ValueError, match="attempts"):
        retrying(fn, attempts=0, backoff_s=0.0)
    assert fn.calls == 0
