"""The sync core the maintained views share (``streaming/cascade.ViewSync``):
every view frees the local checkpoints a sync takes — also when the
apply fails — and launches no more Spark jobs per sync than before the
views shared one core.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.streaming.aggview import AggViewRunner
from kafka_jdbc_sink_connector_spark.streaming.cascade import CascadeRunner
from kafka_jdbc_sink_connector_spark.streaming.textindex import TextIndexRunner

from tests.test_apply_batch import _events_df, audit_col, ev

VIEWS = ("cascade", "aggview", "textindex")

B0 = [ev(i, "u", f"c{i % 4}", i % 3) for i in range(12)]
B1 = (
    [ev(100 + i, "u", f"c{i % 4}", i % 3, text="rev2",
        role="user" if i % 2 else "assistant") for i in range(8)]
    + [ev(120, "d", "c1", 1), ev(121, "d", "c2", 0)]
)
B2 = [ev(200 + i, "u", f"c{(i + 1) % 5}", (i + 2) % 3, text="rev3")
      for i in range(9)]

#: Spark jobs per sync() before the views shared one core, counted on
#: these batches with a 4-core local session: a refactor of the core
#: must not add jobs to any view or mode
JOBS_CEILING = {
    ("cascade", "bootstrap"): 5,
    ("cascade", "incremental"): 8,
    ("aggview", "bootstrap"): 6,
    ("aggview", "incremental"): 13,
    ("textindex", "bootstrap"): 5,
    ("textindex", "incremental"): 8,
}


def _mk(spark, tmp_path, view):
    """A COW upstream and one maintained view over it."""
    bronze = CdcApplier(
        spark, SinkConfig(n_buckets=4, delete_mode="delete"),
        str(tmp_path / "bronze"), audit_ts=audit_col(),
    )
    pk = {"cascade": ("conv_id", "turn_idx"), "aggview": ("role",),
          "textindex": ("term", "conv_id")}[view]
    down = CdcApplier(
        spark,
        SinkConfig(n_buckets=4, delete_mode="delete", pk_fields=pk,
                   delete_retain_fields=() if view != "cascade"
                   else ("ts",)),
        str(tmp_path / "view"), audit_ts=audit_col(),
    )
    if view == "cascade":
        run = CascadeRunner(spark, bronze.table_path, down)
    elif view == "aggview":
        run = AggViewRunner(
            spark, bronze.table_path, down, group_by=["role"],
            aggs={"n": F.count(F.lit(1)), "hi": F.max("turn_idx")},
        )
    else:
        run = TextIndexRunner(spark, bronze.table_path, down,
                              id_col="conv_id")
    return bronze, run


def _cached_rdds(spark) -> set[int]:
    return {
        i.id()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _sync_jobs(spark, run, group):
    """(result, number of Spark jobs) of one ``run.sync()``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = run.sync()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("view", VIEWS)
def test_view_sync_frees_its_checkpoints(spark, tmp_path, monkeypatch,
                                         view):
    bronze, run = _mk(spark, tmp_path, view)
    bronze.apply_batch(_events_df(spark, B0), batch_id=0)
    for batch_id, batch, mode in ((None, None, "bootstrap"),
                                  (1, B1, "incremental")):
        if batch is not None:
            bronze.apply_batch(_events_df(spark, batch),
                               batch_id=batch_id)
        before = _cached_rdds(spark)
        assert run.sync().mode == mode
        assert _cached_rdds(spark) <= before, mode

    # a failing apply still frees what the sync checkpointed
    bronze.apply_batch(_events_df(spark, B2), batch_id=2)

    def boom(events, **kw):
        events.count()  # materialize the checkpoints first
        raise RuntimeError("apply failed")

    monkeypatch.setattr(run.applier, "apply_batch", boom)
    before = _cached_rdds(spark)
    with pytest.raises(RuntimeError, match="apply failed"):
        run.sync()
    assert _cached_rdds(spark) <= before


@pytest.mark.parametrize("view", VIEWS)
def test_view_sync_jobs_per_sync(spark, tmp_path, view):
    bronze, run = _mk(spark, tmp_path, view)
    bronze.apply_batch(_events_df(spark, B0), batch_id=0)
    res, n = _sync_jobs(spark, run, f"{tmp_path.name}-bootstrap")
    assert res.mode == "bootstrap"
    assert n <= JOBS_CEILING[(view, "bootstrap")], n
    bronze.apply_batch(_events_df(spark, B1), batch_id=1)
    res, n = _sync_jobs(spark, run, f"{tmp_path.name}-incremental")
    assert res.mode == "incremental"
    assert n <= JOBS_CEILING[(view, "incremental")], n
