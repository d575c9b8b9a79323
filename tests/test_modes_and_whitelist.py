"""Remaining config surface: insert modes INSERT/UPDATE, fields
whitelist (O22), the guard_null_is_not_null translation, and op='r'
snapshot reads."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig

from tests.test_apply_batch import _compare_to_oracle, _events_df, audit_col, ev


def test_insert_mode_append_only(spark, tmp_table):
    """insert_mode=INSERT: bare appends, duplicate keys retained
    (reference INSERT statements would likewise not dedup)."""
    cfg = SinkConfig(insert_mode="insert", n_buckets=2)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows = [
        ev(1, "c", "conv-a", 0),
        ev(2, "c", "conv-a", 0, text="second copy"),
        ev(3, "d", "conv-a", 0),  # deletes skipped in append mode
    ]
    applier.apply_batch(_events_df(spark, rows), batch_id=0)
    got = applier.read_target().collect()
    assert len(got) == 2
    texts = {r["text"] for r in got}
    assert texts == {"msg conv-a/0 rev 1", "second copy"}
    # second batch appends again without rewriting
    applier.apply_batch(_events_df(spark, [ev(4, "c", "conv-b", 1)]),
                        batch_id=1)
    assert applier.read_target().count() == 3


def test_insert_mode_update_only(spark, tmp_table):
    """insert_mode=UPDATE: unmatched keys are dropped, matched keys
    updated (MERGE without the NOT MATCHED branch)."""
    cfg = SinkConfig(n_buckets=2)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0)]),
                        batch_id=0)

    cfg2 = SinkConfig(insert_mode="update", n_buckets=2)
    upd = CdcApplier(spark, cfg2, tmp_table, audit_ts=audit_col())
    rows = [
        ev(2, "u", "conv-a", 0, text="updated"),
        ev(3, "c", "conv-new", 5),  # no matching row -> dropped
    ]
    upd.apply_batch(_events_df(spark, rows), batch_id=1)
    got = {r["conv_id"]: r for r in upd.read_target().collect()}
    assert set(got) == {"conv-a"}
    assert got["conv-a"]["text"] == "updated"


def test_fields_whitelist_projection(spark, tmp_table):
    """fields.whitelist (O22): only whitelisted value fields reach the
    target; others stay NULL."""
    cfg = SinkConfig(fields_whitelist=("text", "ts"), n_buckets=2)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0, role="assistant")]),
        batch_id=0,
    )
    row = applier.read_target().collect()[0]
    assert row["text"] == "msg conv-a/0 rev 1"
    assert row["role"] is None  # not whitelisted
    assert row["conv_id"] == "conv-a"  # keys always written


def test_guard_null_translated_as_is_not_null(spark, tmp_table):
    """guard_null_is_not_null=True: a NULL guard value means
    `col IS NOT NULL` (intent) instead of the reference's never-true
    `col != NULL` (quirk)."""
    cfg = SinkConfig(
        soft_delete_conditions=(("op_type", "D"), ("role", None)),
        guard_null_is_not_null=True,
        n_buckets=2,
    )
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows1 = [ev(1, "c", "conv-a", 0), ev(2, "d", "conv-a", 0)]
    applier.apply_batch(_events_df(spark, rows1), batch_id=0)
    r1 = applier.read_target().collect()[0]
    assert r1["op_type"] == "D"
    # row is already deleted BUT role is not null -> second disjunct
    # passes -> delete applies again (new retain ts)
    applier.apply_batch(_events_df(spark, [ev(9, "d", "conv-a", 0)]),
                        batch_id=1)
    r2 = applier.read_target().collect()[0]
    assert r2["ts"] != r1["ts"]
    _compare_to_oracle(applier, rows1 + [ev(9, "d", "conv-a", 0)], cfg)


@pytest.fixture(params=["cow", "mor"])
def merge_mode(request):
    return request.param


def test_custom_guard_checks_the_fresh_upsert(spark, tmp_table, merge_mode):
    """A delete after an upsert in the same batch is the reference's
    soft-delete UPDATE matching the freshly merged row, so the guard
    is checked on THAT row. With `op_type != 'U'` (marker value 'U')
    an update then a delete leaves the update in place, retain field
    ts included — on a new key (bootstrap batch) and on an existing
    one (steady batch: a bucket rewrite under cow, a delta commit
    under mor)."""
    cfg = SinkConfig(soft_delete_conditions=(("op_type", "U"),),
                     n_buckets=2, merge_mode=merge_mode)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows0 = [ev(1, "c", "conv-a", 0), ev(2, "u", "conv-b", 0),
             ev(3, "d", "conv-b", 0)]
    rows1 = [ev(4, "u", "conv-a", 0, text="v2"), ev(5, "d", "conv-a", 0)]
    applier.apply_batch(_events_df(spark, rows0), batch_id=0)
    applier.apply_batch(_events_df(spark, rows1), batch_id=1)
    got = {r["conv_id"]: r for r in applier.read_target().collect()}
    assert got["conv-a"]["text"] == "v2"
    assert got["conv-a"]["ts"] == ev(4, "u", "conv-a", 0)["ts"]
    assert got["conv-b"]["ts"] == ev(2, "u", "conv-b", 0)["ts"]
    _compare_to_oracle(applier, rows0 + rows1, cfg)


def test_guard_that_still_passes_applies_every_delete(spark, tmp_table,
                                                     merge_mode):
    """With a guard the soft-deleted row still passes (`role IS NOT
    NULL` under guard_null_is_not_null, role not retained), the
    reference applies every delete in turn, so the LAST delete's retain
    fields win: within one batch `c, d, d`, and across batches (a later
    batch's delete, a second delta commit under mor)."""
    cfg = SinkConfig(soft_delete_conditions=(("op_type", "D"),
                                             ("role", None)),
                     guard_null_is_not_null=True,
                     n_buckets=2, merge_mode=merge_mode)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows0 = [ev(1, "c", "conv-a", 0), ev(2, "d", "conv-a", 0),
             ev(3, "d", "conv-a", 0)]
    rows1 = [ev(4, "d", "conv-a", 0)]
    applier.apply_batch(_events_df(spark, rows0), batch_id=0)
    got = applier.read_target().collect()
    assert [(r["op_type"], r["ts"]) for r in got] == [("D", rows0[2]["ts"])]
    _compare_to_oracle(applier, rows0, cfg)
    applier.apply_batch(_events_df(spark, rows1), batch_id=1)
    assert applier.read_target().collect()[0]["ts"] == rows1[0]["ts"]
    _compare_to_oracle(applier, rows0 + rows1, cfg)


def test_snapshot_read_op_r(spark, tmp_table):
    """Debezium snapshot reads (op='r') apply as upserts."""
    cfg = SinkConfig(n_buckets=2)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows = [ev(1, "r", "conv-a", 0), ev(2, "r", "conv-a", 1)]
    applier.apply_batch(_events_df(spark, rows), batch_id=0)
    got = applier.read_target().collect()
    assert len(got) == 2
    assert all(r["op_type"] == "R" for r in got)
