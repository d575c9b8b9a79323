"""Compaction + vacuum keep contents identical while shrinking the
file count / snapshot history."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.datagen import GenSpec, generate_cdc_events
from kafka_jdbc_sink_connector_spark.lake.maintenance import compact, vacuum

from tests.test_apply_batch import audit_col


@pytest.fixture()
def applied(spark, tmp_table):
    cfg = SinkConfig(n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    events = generate_cdc_events(
        spark, GenSpec(n_events=2000, n_conversations=40,
                       turns_per_conversation=6)
    )
    for i in range(3):
        b = events.filter(
            (F.col("kafka_offset") >= i * 700)
            & (F.col("kafka_offset") < (i + 1) * 700)
        )
        applier.apply_batch(b, batch_id=i)
    return applier


def _rows(applier):
    return sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["op_type"])
        for r in applier.read_target().collect()
    )


def test_compact_preserves_contents(applied):
    before = _rows(applied)
    t = applied.table()
    n_files_before = len(t.snapshot.files())
    done = compact(t, min_files=1)
    assert done  # something compacted
    t2 = applied.table()
    assert len(t2.snapshot.files()) <= n_files_before
    # one file per compacted bucket
    for b in done:
        assert len(t2.snapshot.buckets[str(b)]) == 1
    assert _rows(applied) == before


def test_compact_candidates_sorted(spark, tmp_path):
    """The compacted bucket list — returned, read and recorded in the
    manifest — is ascending, not in the string-hash order of a set."""
    applier = CdcApplier(spark, SinkConfig(n_buckets=8), str(tmp_path / "t"),
                         audit_ts=audit_col())
    events = generate_cdc_events(
        spark, GenSpec(n_events=400, n_conversations=40,
                       turns_per_conversation=2)
    )
    applier.apply_batch(events, batch_id=0)
    done = compact(applier.table(), min_files=1)
    assert done == list(range(8))
    assert applier.table().snapshot.stats["compacted_buckets"] == done


def test_vacuum_removes_history_keeps_latest(applied, spark):
    before = _rows(applied)
    t = applied.table()
    compact(t, min_files=1)
    stats = vacuum(t, keep_versions=1)
    assert stats["removed_files"] > 0
    assert stats["removed_snapshots"] > 0
    assert t.history() == [t.version]
    assert _rows(applied) == before
    # exactly-once watermark survives vacuum
    assert t.applied_batch("default") == 2


def test_vacuum_keeps_time_travel_window(applied):
    t = applied.table()
    vacuum(t, keep_versions=2)
    hist = t.history()
    assert len(hist) == 2
    # both kept versions remain readable
    for v in hist:
        t.read(version=v).count()


def test_rebucket_preserves_state_and_continues_ingest(
    spark, applied, tmp_table
):
    """Bucket-count change: one resolved full rewrite; contents,
    watermarks and props survive; pruning and further exactly-once
    ingest work under the new layout."""
    from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL
    from kafka_jdbc_sink_connector_spark.lake.maintenance import rebucket
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    before = _rows(applied)
    t = applied.table()
    t.set_props({"bloom.cols": ["conv_id"]})
    rebucket(t, 16)
    t = LakeTable.load(spark, tmp_table)
    assert t.snapshot.n_buckets == 16
    assert t.snapshot.props == {"bloom.cols": ["conv_id"]}
    assert _rows(applied) == before
    assert t.applied_batch("default") == 2  # watermark carried
    # per-bucket reads partition the table under the new assignment
    per = [t.read(buckets=[b]).count() for b in range(16)]
    assert sum(per) == len(before) and max(per) < len(before)
    # bucket column matches the new hash for every row
    from kafka_jdbc_sink_connector_spark.functions.keys import bucket_expr
    bad = (
        t.read(include_bucket=True)
        .filter(F.col(BUCKET_COL) != bucket_expr("conv_id", 16))
        .count()
    )
    assert bad == 0
    # ingest continues: next batch applies once, replay skips
    events = generate_cdc_events(
        spark, GenSpec(n_events=2400, n_conversations=40,
                       turns_per_conversation=6)
    )
    tail = events.filter(F.col("kafka_offset") >= 2100)
    r = applied.apply_batch(tail, batch_id=3)
    assert not r.skipped
    assert applied.apply_batch(tail, batch_id=3).skipped


def test_rebucket_validation_and_mor_fold(spark, tmp_path):
    from kafka_jdbc_sink_connector_spark.lake.maintenance import rebucket
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    cfg = SinkConfig(n_buckets=4, merge_mode="mor")
    applier = CdcApplier(
        spark, cfg, str(tmp_path / "t"), audit_ts=audit_col()
    )
    events = generate_cdc_events(
        spark, GenSpec(n_events=1200, n_conversations=20,
                       turns_per_conversation=5)
    )
    applier.apply_batch(events.filter(F.col("kafka_offset") < 800),
                        batch_id=0)
    applier.apply_batch(events.filter(F.col("kafka_offset") >= 800),
                        batch_id=1)
    t = applier.table()
    assert t.snapshot.delta_buckets  # MOR deltas present pre-rebucket
    before = _rows(applier)
    with pytest.raises(ValueError, match="already has"):
        rebucket(t, 4)
    rebucket(t, 8)
    t.refresh()
    assert t.snapshot.n_buckets == 8
    assert not t.snapshot.delta_buckets  # folded by the resolved read
    assert not t.snapshot.sdel_buckets
    assert _rows(applier) == before


def test_vacuum_removes_crashed_commit_orphans(spark, tmp_path):
    """A writer that dies between the data write and the manifest
    publish leaves orphan files no snapshot references; vacuum removes
    them (they are invisible to readers either way)."""
    import os

    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    from tests.test_lake_table import SCHEMA, _df

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, key_fields=["k"]
    )
    t.overwrite(_df(spark, [("a", 1), ("b", 2)]))
    orphan_dir = os.path.join(t.path, "data", "commit-crashed-deadbeef")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-orphan.parquet")
    open(orphan, "wb").write(b"not really parquet")
    before = {(r["k"], r["v"]) for r in t.read().collect()}
    stats = vacuum(t, keep_versions=2)
    assert stats["removed_files"] == 1
    assert not os.path.exists(orphan)
    assert {(r["k"], r["v"]) for r in t.read().collect()} == before


def test_expire_side_tables_retention(spark, applied):
    """Lineage/quarantine partitions older than the retention window
    are dropped; newer ones and the batch watermark survive, and a
    replay of an expired batch recomputes its rows idempotently."""
    import os

    lin = applied.read_lineage()
    assert {r["batch_id"] for r in lin.select("batch_id")
            .distinct().collect()} == {0, 1, 2}
    removed = applied.expire_side_tables(keep_batches=1)
    assert removed["lineage"] == 2
    kept = {r["batch_id"] for r in applied.read_lineage()
            .select("batch_id").distinct().collect()}
    assert kept == {2}
    assert applied.table().applied_batch("default") == 2  # untouched
    # replaying an expired batch backfills its partition (idempotent)
    events = generate_cdc_events(
        spark, GenSpec(n_events=2000, n_conversations=40,
                       turns_per_conversation=6)
    )
    b0 = events.filter(F.col("kafka_offset") < 700)
    r = applied.apply_batch(b0, batch_id=0)
    assert r.skipped
    kept = {r["batch_id"] for r in applied.read_lineage()
            .select("batch_id").distinct().collect()}
    assert kept == {0, 2}
