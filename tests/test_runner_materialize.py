"""The runner core decodes a parsed micro-batch once
(``ForeachBatchRunner.materialized``): a record parser's output is
checkpointed, read back by every later job of the batch, and freed when
the batch body returns or raises — also for an attempt that failed and
was retried.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.streaming.runner import (
    CdcStreamRunner,
    MultiTableRunner,
)

from tests.test_apply_batch import _events_df, audit_col, ev
from tests.test_view_sync import _cached_rdds

#: one conversation's turns, an update and a delete, plus one poison
#: record (unknown op) so the quarantine write runs too
ROWS = (
    [ev(i, "c", f"conv-{i % 3}", i) for i in range(9)]
    + [ev(9, "u", "conv-0", 0, text="edited"), ev(10, "d", "conv-1", 1),
       ev(11, "x", "conv-2", 2)]
)


def _counting_parser(spark):
    """A record parser whose ``pandas_udf`` counts the rows it decodes.
    It yields the op column, which every job of the batch reads (as it
    reads an Avro decoder's struct), so no job can prune it away."""
    seen = spark.sparkContext.accumulator(0)

    @F.pandas_udf("string")
    def decode(s: pd.Series) -> pd.Series:
        seen.add(len(s))
        return s

    return (lambda df: df.withColumn("op", decode("op"))), seen


def _runner(spark, tmp_path, record_parser, **cfg):
    applier = CdcApplier(
        spark, SinkConfig(n_buckets=2, **cfg), str(tmp_path / "tgt"),
        audit_ts=audit_col(),
    )
    return CdcStreamRunner(applier, str(tmp_path / "ckpt"),
                           record_parser=record_parser)


def test_cdc_runner_decodes_each_row_once(spark, tmp_path):
    parse, seen = _counting_parser(spark)
    runner = _runner(spark, tmp_path, parse)
    res = runner.process_batch(_events_df(spark, ROWS), batch_id=0)
    assert res.n_quarantined == 1
    assert seen.value == len(ROWS)


def test_multi_table_runner_decodes_each_row_once(spark, tmp_path):
    parse, seen = _counting_parser(spark)
    runner = MultiTableRunner(
        lambda topic: CdcApplier(
            spark, SinkConfig(n_buckets=2), str(tmp_path / topic),
            audit_ts=audit_col(),
        ),
        str(tmp_path / "ckpt"), record_parser=parse,
    )
    rows = [dict(r, topic="t_a" if r["kafka_offset"] % 2 else "t_b")
            for r in ROWS]
    runner.process_batch(
        _events_df(spark, rows, with_optional=("topic",)), batch_id=0
    )
    assert sorted(runner.appliers) == ["t_a", "t_b"]
    assert sum(r.n_quarantined for r in runner.results) == 1
    assert seen.value == len(ROWS)


def _materializing(apply_batch, fail_first: int, taken: list):
    """Wrap ``apply_batch``: compute the checkpointed events, note how
    many cached RDDs that added, and fail the first ``fail_first``
    calls."""
    def wrapped(events, **kw):
        before = _cached_rdds(events.sparkSession)
        events.count()
        taken.append(len(_cached_rdds(events.sparkSession) - before))
        if len(taken) <= fail_first:
            raise RuntimeError("apply failed")
        return apply_batch(events, **kw)
    return wrapped


@pytest.mark.parametrize("case", ["ok", "raises", "second_attempt"])
def test_cdc_runner_frees_the_checkpoint(spark, tmp_path, monkeypatch,
                                         case):
    runner = _runner(spark, tmp_path, lambda df: df,
                     max_retries=0 if case == "raises" else 1,
                     retry_backoff_ms=1)
    taken: list[int] = []
    monkeypatch.setattr(runner.applier, "apply_batch", _materializing(
        runner.applier.apply_batch,
        fail_first={"ok": 0, "raises": 1, "second_attempt": 1}[case],
        taken=taken,
    ))
    before = _cached_rdds(spark)
    if case == "raises":
        with pytest.raises(RuntimeError, match="apply failed"):
            runner.process_batch(_events_df(spark, ROWS), batch_id=0)
    else:
        assert not runner.process_batch(_events_df(spark, ROWS),
                                        batch_id=0).skipped
    # every attempt checkpointed its own parse, and none is left
    assert taken == [1] * (2 if case == "second_attempt" else 1)
    assert _cached_rdds(spark) <= before
