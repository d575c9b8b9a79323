"""Generic crash-point exactly-once sweep.

``apply_batch`` produces durable side effects at FIVE points: the
widen metadata commit, the quarantine write, the column-add evolution
commit, the merge snapshot commit (which advances the exactly-once
watermark), and the lineage write. A crash after ANY of them — or
inside the lineage write, after its partition dir exists but before
its part file does — followed by a replay of the same batch from the
checkpoint must converge to exactly the no-crash outcome — target
rows, lineage (including snapshot versions), and quarantine rows. The round-5 widening-pin bug
showed each new commit type opens a new crash window; this sweep is
parametrized over the boundary list so future commit types get
coverage by adding one entry.

Each scenario batch exercises every boundary at once: it widens a
column (int value overflowing to long), adds a new nullable column,
quarantines one bad-op row, and merges upserts + a delete — under
both copy-on-write and merge-on-read.
"""

from __future__ import annotations

import datetime as dt

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import kafka_jdbc_sink_connector_spark.apply as apply_mod
from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig

from tests.test_apply_batch import audit_col


class Boom(RuntimeError):
    """Injected crash."""


BOUNDARIES = [
    "after_widen_commit",
    "after_quarantine_write",
    "after_evolve_commit",
    "after_merge_commit",
    "inside_lineage_write",
]


def _install_crash(monkeypatch, boundary: str) -> None:
    """Patch the apply module so the side effect at ``boundary``
    completes and then the process 'dies' (raises Boom)."""
    if boundary == "after_widen_commit":
        real = apply_mod.widen_for_batch

        def wrap(*a, **k):
            real(*a, **k)
            raise Boom(boundary)

        monkeypatch.setattr(apply_mod, "widen_for_batch", wrap)
    elif boundary == "after_quarantine_write":
        real = apply_mod.CdcApplier._stats_and_quarantine

        def wrap(self, *a, **k):
            real(self, *a, **k)
            raise Boom(boundary)

        monkeypatch.setattr(
            apply_mod.CdcApplier, "_stats_and_quarantine", wrap
        )
    elif boundary == "after_evolve_commit":
        real = apply_mod.evolve_for_batch

        def wrap(*a, **k):
            real(*a, **k)
            raise Boom(boundary)

        monkeypatch.setattr(apply_mod, "evolve_for_batch", wrap)
    elif boundary == "after_merge_commit":
        real = apply_mod.merge_ops.merge_into

        def wrap(*a, **k):
            real(*a, **k)
            raise Boom(boundary)

        monkeypatch.setattr(apply_mod.merge_ops, "merge_into", wrap)
    elif boundary == "inside_lineage_write":
        # the lineage write dies after makedirs created its partition
        # dir, before the part file is written and renamed into it
        def wrap(*a, **k):
            raise Boom(boundary)

        monkeypatch.setattr(pq, "write_table", wrap)
    else:  # pragma: no cover
        raise ValueError(boundary)


_SCHEMA_V1 = (
    "kafka_partition int, kafka_offset long, op string, conv_id string, "
    "turn_idx int, text string, ts timestamp, n int"
)
# batch 1 widens n to long AND introduces the nullable 'tool' column
_SCHEMA_V2 = (
    "kafka_partition int, kafka_offset long, op string, conv_id string, "
    "turn_idx int, text string, ts timestamp, n long, tool string"
)
_TS = dt.datetime(2024, 1, 1)


def _batches(spark):
    b0 = spark.createDataFrame(
        [
            (0, 1, "c", "conv-a", 0, "a0", _TS, 5),
            (0, 2, "c", "conv-b", 0, "b0", _TS, 6),
            (1, 3, "c", "conv-c", 0, "c0", _TS, 7),
        ],
        _SCHEMA_V1,
    )
    b1 = spark.createDataFrame(
        [
            (0, 4, "u", "conv-a", 0, "a1", _TS, 2**40, "search"),  # widen
            (0, 5, "x", "conv-b", 0, "bad", _TS, 1, None),  # quarantine
            (1, 6, "d", "conv-c", 0, None, _TS, None, None),  # delete
            (1, 7, "c", "conv-d", 0, "d0", _TS, 8, "calc"),  # new col
        ],
        _SCHEMA_V2,
    )
    return b0, b1


def _state(applier: CdcApplier):
    target = sorted(
        tuple(r) for r in applier.read_target().collect()
    )
    lineage = sorted(
        tuple(r)
        for r in applier.read_lineage()
        .select(
            "batch_id", "kafka_partition", "min_offset", "max_offset",
            "n_insert", "n_update", "n_delete", "n_quarantined",
            "snapshot_version",
        )
        .collect()
    )
    quarantine = sorted(
        tuple(r)
        for r in applier.read_quarantine()
        .select("raw", "error", "kafka_offset", "batch_id")
        .collect()
    )
    return target, lineage, quarantine


def _cfg(merge_mode: str) -> SinkConfig:
    return SinkConfig(
        pk_fields=("conv_id", "turn_idx"),
        n_buckets=2,
        auto_evolve_widen=True,
        merge_mode=merge_mode,
        delete_mode="update",
        soft_delete_conditions="op_type=D",
        delete_retain_fields=("ts",),
    )


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
@pytest.mark.parametrize("boundary", BOUNDARIES)
def test_crash_replay_converges(
    spark, tmp_path, monkeypatch, boundary, merge_mode
):
    b0, b1 = _batches(spark)

    # no-crash oracle
    clean = CdcApplier(
        spark, _cfg(merge_mode), str(tmp_path / "clean"),
        audit_ts=audit_col(),
    )
    clean.apply_batch(b0, batch_id=0)
    r1 = clean.apply_batch(b1, batch_id=1)
    assert r1.n_quarantined == 1
    assert r1.widened_columns == ["n: int->bigint"]
    assert r1.evolved_columns == ["tool"]
    want = _state(clean)

    # crashing run: batch 0 clean, batch 1 dies right after `boundary`
    crashy = CdcApplier(
        spark, _cfg(merge_mode), str(tmp_path / "t"),
        audit_ts=audit_col(),
    )
    crashy.apply_batch(b0, batch_id=0)
    _install_crash(monkeypatch, boundary)
    with pytest.raises(Boom):
        crashy.apply_batch(b1, batch_id=1)
    monkeypatch.undo()

    # replay from the checkpoint with a FRESH applier (restart)
    replayed = CdcApplier(
        spark, _cfg(merge_mode), str(tmp_path / "t"),
        audit_ts=audit_col(),
    )
    res = replayed.apply_batch(b1, batch_id=1)
    if boundary in ("after_merge_commit", "inside_lineage_write"):
        # watermark already advanced — replay must skip the merge and
        # only backfill the side tables
        assert res.skipped
    else:
        assert not res.skipped

    assert _state(replayed) == want

    # a SECOND replay is a no-op that leaves everything untouched
    again = replayed.apply_batch(b1, batch_id=1)
    assert again.skipped
    assert _state(replayed) == want
