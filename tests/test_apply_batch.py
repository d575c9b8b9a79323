"""M0 end-to-end: batch apply matches the row-at-a-time replay oracle.

Ports the intent of ``BufferedRecordsTest.correctBatching`` and the
delete/upsert suites (SURVEY.md §5) onto the engine's flagship path:
events → validate → collapse → MERGE → lake table.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.datagen import GenSpec, generate_cdc_events
from kafka_jdbc_sink_connector_spark.operators.merge import payload_columns

from tests.oracle import AUDIT_SENTINEL, replay

FIXED_TS = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
def audit_col():
    return F.lit("2024-06-01T00:00:00Z").cast("timestamp")


def _events_df(spark, rows, with_optional=()):
    base_cols = [
        "kafka_partition", "kafka_offset", "op", "conv_id", "turn_idx",
        "role", "text", "ts",
    ]
    cols = base_cols + list(with_optional)
    schema_bits = {
        "kafka_partition": "int", "kafka_offset": "long", "op": "string",
        "conv_id": "string", "turn_idx": "int", "role": "string",
        "text": "string", "ts": "timestamp", "tool": "string",
        "meta_source": "string", "topic": "string",
    }
    schema = ", ".join(f"{c} {schema_bits[c]}" for c in cols)
    data = [tuple(r.get(c) for c in cols) for r in rows]
    return spark.createDataFrame(data, schema)


def ev(off, op, conv, turn, **kw):
    base = {
        "kafka_partition": zlib.crc32(str(conv).encode()) % 4,
        "kafka_offset": off,
        "op": op,
        "conv_id": conv,
        "turn_idx": turn,
        "ts": dt.datetime(2024, 1, 1) + dt.timedelta(seconds=off),
    }
    if op != "d":
        base.setdefault("role", "user")
        base.setdefault("text", f"msg {conv}/{turn} rev {off}")
    base.update(kw)
    return base


def _compare_to_oracle(applier, events_rows, cfg, extra_payload=()):
    got = {
        tuple(r[k] for k in cfg.pk_fields): r.asDict()
        for r in applier.read_target().collect()
    }
    payload = ["conv_id", "turn_idx", "role", "text", "ts"] + list(extra_payload)
    want = replay(events_rows, cfg, payload)
    assert set(got) == set(want), (
        f"key sets differ: only-engine={set(got) - set(want)}, "
        f"only-oracle={set(want) - set(got)}"
    )
    for key, wrow in want.items():
        grow = got[key]
        for col, wval in wrow.items():
            gval = grow.get(col)
            if wval == AUDIT_SENTINEL:
                assert gval == FIXED_TS.replace(tzinfo=None), (key, col, gval)
                continue
            if isinstance(gval, dt.datetime) and isinstance(wval, dt.datetime):
                gval = gval.replace(tzinfo=None)
                wval = wval.replace(tzinfo=None)
            assert gval == wval, (key, col, gval, wval)


@pytest.fixture(params=["cow", "mor"])
def applier(spark, tmp_table, request):
    cfg = SinkConfig(n_buckets=4, merge_mode=request.param)
    return CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())


def test_apply_phases_log_at_debug(spark, applier, caplog, capsys):
    """Each apply phase's wall time goes to the module logger at DEBUG
    (nothing is printed)."""
    import logging

    name = "kafka_jdbc_sink_connector_spark.apply"
    caplog.set_level(logging.DEBUG, logger=name)
    applier.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0)]),
                        batch_id=0)
    assert capsys.readouterr().out == ""
    records = [r for r in caplog.records if r.name == name]
    phases = [r.getMessage().split(":")[0] for r in records]
    assert phases == [
        "apply phase stats job", "apply phase quarantine+evolve",
        "apply phase merge commit", "apply phase lineage write",
    ]
    assert {r.levelno for r in records} == {logging.DEBUG}


def test_insert_update_upsert(spark, applier):
    rows = [
        ev(1, "c", "conv-a", 0),
        ev(2, "c", "conv-a", 1),
        ev(3, "u", "conv-a", 0, text="msg conv-a/0 rev 3"),
        ev(4, "c", "conv-b", 0),
        ev(5, "u", "conv-b", 0, role="assistant"),
    ]
    res = applier.apply_batch(_events_df(spark, rows), batch_id=0)
    assert not res.skipped and res.n_events == 5
    _compare_to_oracle(applier, rows, applier.cfg)
    tgt = {r["conv_id"] + "/" + str(r["turn_idx"]): r for r in
           applier.read_target().collect()}
    assert tgt["conv-a/0"]["text"] == "msg conv-a/0 rev 3"
    assert tgt["conv-a/0"]["op_type"] == "U"
    assert tgt["conv-a/1"]["op_type"] == "C"


def test_soft_delete_semantics(spark, applier):
    cfg = applier.cfg
    rows = [
        ev(1, "c", "conv-a", 0),
        ev(2, "c", "conv-a", 1),
        ev(3, "d", "conv-a", 0),          # delete existing-in-batch row
        ev(4, "c", "conv-c", 0),
        ev(5, "d", "conv-zz", 9),         # delete of absent key: no-op
    ]
    applier.apply_batch(_events_df(spark, rows), batch_id=0)
    _compare_to_oracle(applier, rows, cfg)
    tgt = {(r["conv_id"], r["turn_idx"]): r for r in
           applier.read_target().collect()}
    # insert-then-delete in one batch: row exists, marked deleted,
    # non-retained fields keep the insert's values (reference order:
    # MERGE then soft-delete UPDATE)
    row = tgt[("conv-a", 0)]
    assert row["op_type"] == "D"
    assert row["text"] == "msg conv-a/0 rev 1"
    # retain field ts comes from the delete event
    assert row["ts"].replace(tzinfo=None) == dt.datetime(2024, 1, 1, 0, 0, 3)
    assert ("conv-zz", 9) not in tgt


def test_soft_delete_guard_blocks_double_delete(spark, applier):
    rows1 = [ev(1, "c", "conv-a", 0), ev(2, "d", "conv-a", 0)]
    applier.apply_batch(_events_df(spark, rows1), batch_id=0)
    t1 = applier.read_target().collect()[0]
    assert t1["op_type"] == "D"
    ts1 = t1["ts"]
    # second delete: guard `op_type != 'D'` blocks the update — retained
    # ts must NOT move to the new delete event's ts
    rows2 = [ev(10, "d", "conv-a", 0)]
    applier.apply_batch(_events_df(spark, rows2), batch_id=1)
    t2 = applier.read_target().collect()[0]
    assert t2["op_type"] == "D"
    assert t2["ts"] == ts1
    _compare_to_oracle(applier, rows1 + rows2, applier.cfg)


def test_intra_batch_double_delete_keeps_first_retain(spark, applier):
    """[c@1, d@2, d@3] in ONE batch: the first delete marks the row; the
    `op_type != 'D'` guard blocks the second from re-overwriting the
    retain fields (BufferedRecords.java:287-303 executed in offset
    order) — retained ts must come from d@2, not d@3."""
    rows = [
        ev(1, "c", "conv-a", 0),
        ev(2, "d", "conv-a", 0),
        ev(3, "d", "conv-a", 0),
    ]
    applier.apply_batch(_events_df(spark, rows), batch_id=0)
    row = applier.read_target().collect()[0]
    assert row["op_type"] == "D"
    assert row["ts"].replace(tzinfo=None) == dt.datetime(2024, 1, 1, 0, 0, 2)
    _compare_to_oracle(applier, rows, applier.cfg)


def test_intra_batch_delete_between_upserts(spark, applier):
    """Deletes sandwiched between upserts never win; the winner is the
    earliest delete after the LAST upsert: [c@1, d@2, c@3, d@4, d@5]
    → retain ts from d@4."""
    rows = [
        ev(1, "c", "conv-a", 0),
        ev(2, "d", "conv-a", 0),
        ev(3, "c", "conv-a", 0, text="revived"),
        ev(4, "d", "conv-a", 0),
        ev(5, "d", "conv-a", 0),
    ]
    applier.apply_batch(_events_df(spark, rows), batch_id=0)
    row = applier.read_target().collect()[0]
    assert row["op_type"] == "D"
    assert row["text"] == "revived"
    assert row["ts"].replace(tzinfo=None) == dt.datetime(2024, 1, 1, 0, 0, 4)
    _compare_to_oracle(applier, rows, applier.cfg)


def test_intra_batch_delete_only_double_delete(spark, applier):
    """Two deletes of a pre-existing row in one batch: the first passes
    the guard, the second is blocked — retain ts from the EARLIEST."""
    applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0)]), batch_id=0
    )
    rows2 = [ev(7, "d", "conv-a", 0), ev(9, "d", "conv-a", 0)]
    applier.apply_batch(_events_df(spark, rows2), batch_id=1)
    row = applier.read_target().collect()[0]
    assert row["op_type"] == "D"
    assert row["ts"].replace(tzinfo=None) == dt.datetime(2024, 1, 1, 0, 0, 7)
    _compare_to_oracle(
        applier, [ev(1, "c", "conv-a", 0)] + rows2, applier.cfg
    )


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_update_mode_hard_delete_before_upsert_kills_row(
    spark, tmp_table, merge_mode
):
    """insert_mode=update + delete_mode=delete, one batch [d@2, u@3]
    against an existing row: the DELETE removes it, then the UPDATE
    matches nothing (no insert branch) — the row must be gone, even
    though the latest upsert has the higher offset."""
    seeder = CdcApplier(
        spark, SinkConfig(n_buckets=4, merge_mode=merge_mode),
        tmp_table, audit_ts=audit_col(),
    )
    seeder.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0)]),
                       batch_id=0)
    cfg = SinkConfig(n_buckets=4, merge_mode=merge_mode,
                     insert_mode="update", delete_mode="delete")
    upd = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows = [ev(2, "d", "conv-a", 0), ev(3, "u", "conv-a", 0, text="ghost")]
    upd.apply_batch(_events_df(spark, rows), batch_id=1)
    assert upd.read_target().count() == 0


def test_delete_then_reinsert_lww(spark, applier):
    rows = [
        ev(1, "c", "conv-a", 0),
        ev(2, "d", "conv-a", 0),
        ev(3, "u", "conv-a", 0, text="revived"),
    ]
    applier.apply_batch(_events_df(spark, rows), batch_id=0)
    row = applier.read_target().collect()[0]
    assert row["text"] == "revived"
    assert row["op_type"] == "U"  # un-deleted by the later upsert
    _compare_to_oracle(applier, rows, applier.cfg)


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_hard_delete_mode(spark, tmp_table, merge_mode):
    cfg = SinkConfig(delete_mode="delete", n_buckets=4,
                     merge_mode=merge_mode)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows = [
        ev(1, "c", "conv-a", 0),
        ev(2, "c", "conv-a", 1),
        ev(3, "d", "conv-a", 0),
    ]
    # two batches so merge-on-read exercises the delta path
    applier.apply_batch(_events_df(spark, rows[:2]), batch_id=0)
    applier.apply_batch(_events_df(spark, rows[2:]), batch_id=1)
    _compare_to_oracle(applier, rows, cfg)
    got = applier.read_target().collect()
    assert len(got) == 1 and got[0]["turn_idx"] == 1


def test_delete_mode_none_ignores_deletes(spark, tmp_table):
    cfg = SinkConfig(delete_mode="none", n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows = [ev(1, "c", "conv-a", 0), ev(2, "d", "conv-a", 0)]
    applier.apply_batch(_events_df(spark, rows), batch_id=0)
    got = applier.read_target().collect()
    assert len(got) == 1 and got[0]["text"] == "msg conv-a/0 rev 1"
    _compare_to_oracle(applier, rows, cfg)


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_multi_batch_replay_matches_oracle(spark, tmp_table, merge_mode):
    """Randomized-shape (but deterministic) generator stream applied in
    3 micro-batches equals a single sequential replay."""
    cfg = SinkConfig(n_buckets=8, merge_mode=merge_mode)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    spec = GenSpec(n_events=3000, n_conversations=80,
                   turns_per_conversation=10, delete_fraction=0.05)
    events = generate_cdc_events(spark, spec).cache()
    try:
        n = spec.n_events
        for i, (lo, hi) in enumerate([(0, n // 3), (n // 3, 2 * n // 3),
                                      (2 * n // 3, n)]):
            b = events.filter(
                (F.col("kafka_offset") >= lo) & (F.col("kafka_offset") < hi)
            )
            applier.apply_batch(b, batch_id=i)
        rows = [r.asDict() for r in events.collect()]
        # every payload column — including the retain field ts, whose
        # intra-batch multi-delete semantics a partial comparison once
        # let slip (round-2 verdict)
        _compare_to_oracle(
            applier, rows, cfg, extra_payload=("tool", "meta_source")
        )
    finally:
        events.unpersist()


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_delete_storm_matches_oracle(spark, tmp_table, merge_mode):
    """40% deletes over few keys — many keys see several deletes per
    batch, interleaved with upserts, in every ordering the generator
    produces. Full-column oracle comparison (stresses the
    earliest-delete-after-last-upsert rule far harder than the 5%
    default)."""
    cfg = SinkConfig(n_buckets=4, merge_mode=merge_mode)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    spec = GenSpec(n_events=2000, n_conversations=12,
                   turns_per_conversation=4, delete_fraction=0.40,
                   update_fraction=0.30)
    events = generate_cdc_events(spark, spec).cache()
    try:
        n = spec.n_events
        for i, (lo, hi) in enumerate([(0, n // 2), (n // 2, n)]):
            applier.apply_batch(
                events.filter((F.col("kafka_offset") >= lo)
                              & (F.col("kafka_offset") < hi)),
                batch_id=i,
            )
        rows = [r.asDict() for r in events.collect()]
        _compare_to_oracle(
            applier, rows, cfg, extra_payload=("tool", "meta_source")
        )
    finally:
        events.unpersist()


def test_backfill_pins_committing_snapshot_version(spark, tmp_table):
    """Replay of an already-merged batch whose lineage write was lost
    (crash window) re-derives lineage with the version the batch
    ORIGINALLY committed — not the table head, which may have moved
    (and evolved its schema) since."""
    import shutil

    cfg = SinkConfig(n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    b0 = _events_df(spark, [ev(1, "c", "conv-a", 0)])
    r0 = applier.apply_batch(b0, batch_id=0)
    # simulate the crash: the merge committed but lineage was lost
    shutil.rmtree(os.path.join(applier.lineage_path, "batch_id=0"))
    # the table moves on — batch 1 also evolves the schema (+tool)
    r1 = applier.apply_batch(
        _events_df(spark, [ev(2, "u", "conv-a", 0, tool="search")],
                   with_optional=("tool",)),
        batch_id=1,
    )
    assert r1.evolved_columns == ["tool"]
    assert r1.snapshot_version > r0.snapshot_version
    # replay of batch 0: skipped, but its lineage is backfilled with
    # the ORIGINAL committing version
    res = applier.apply_batch(b0, batch_id=0)
    assert res.skipped
    lin = {r["batch_id"]: r["snapshot_version"]
           for r in applier.read_lineage().collect()}
    assert lin[0] == r0.snapshot_version
    assert lin[1] == r1.snapshot_version


def test_schema_pin_respects_other_sources_evolution(spark, tmp_table):
    """In a multi-source table, an evolution commit tagged by ANOTHER
    source that sits immediately below this batch's merge commit was
    already in place when the batch entered — the replay schema pin
    must NOT step past it (stepping past would recompute the replayed
    batch's stats/quarantine under a schema older than the one the
    batch actually saw)."""
    from kafka_jdbc_sink_connector_spark.operators.evolution import (
        evolve_for_batch,
    )

    cfg = SinkConfig(n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0)]),
                        batch_id=0)
    table = applier.table()
    # source "other" evolves the schema (tagged), then source
    # "default"'s batch 1 merges right on top of that commit
    evolve_for_batch(
        table,
        _events_df(spark, [ev(90, "c", "conv-x", 0, tool="t")],
                   with_optional=("tool",)),
        cfg, source_id="other", batch_id=7,
    )
    v_evolved = table.version
    applier.apply_batch(_events_df(spark, [ev(2, "u", "conv-a", 0)]),
                        batch_id=1)
    table = applier.table()
    commit_snap, schema_snap = CdcApplier._committing_snapshot(
        table, 1, "default"
    )
    assert commit_snap.version == table.version
    # pinned to the evolved schema batch 1 entered against — NOT past
    # the foreign evolution commit to the pre-evolution schema
    assert schema_snap.version == v_evolved
    assert "tool" in [f.name for f in schema_snap.schema.fields]

    # counter-case: an evolution commit tagged by THIS batch is
    # stepped past (the batch's stats ran before its own evolution)
    applier.apply_batch(
        _events_df(spark, [ev(3, "u", "conv-a", 0, meta_source="s")],
                   with_optional=("meta_source",)),
        batch_id=2,
    )
    table = applier.table()
    _, schema_snap2 = CdcApplier._committing_snapshot(
        table, 2, "default"
    )
    assert "meta_source" not in [
        f.name for f in schema_snap2.schema.fields
    ]


def test_replay_with_zero_quarantine_clears_stale_partition(
    spark, tmp_table
):
    """A replayed batch that now quarantines zero rows must clear the
    stale quarantine partition from the earlier attempt (dynamic
    overwrite alone only replaces partitions present in the data)."""
    import shutil

    cfg = SinkConfig(n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0)]),
                        batch_id=0)
    # fabricate a stale partition from a 'previous attempt'
    stale = os.path.join(applier.quarantine_path, "batch_id=1")
    os.makedirs(stale, exist_ok=True)
    spark.createDataFrame(
        [("x", "stale error", 0, 99)],
        "raw string, error string, kafka_partition int, kafka_offset long",
    ).write.mode("overwrite").parquet(stale)
    assert applier.read_quarantine().count() == 1
    # batch 1 applies cleanly (zero quarantined) → partition cleared
    applier.apply_batch(_events_df(spark, [ev(2, "c", "conv-b", 0)]),
                        batch_id=1)
    assert applier.read_quarantine().count() == 0
    assert not os.path.isdir(stale)


def test_exactly_once_batch_skip(spark, applier):
    rows = [ev(1, "c", "conv-a", 0)]
    df = _events_df(spark, rows)
    r1 = applier.apply_batch(df, batch_id=0)
    v1 = r1.snapshot_version
    r2 = applier.apply_batch(df, batch_id=0)  # replayed batch id
    assert r2.skipped
    assert applier.table().version == v1
    assert applier.read_target().count() == 1
