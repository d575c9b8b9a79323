"""Change data feed (lake/changes.py): keywise diff of two snapshot
versions — insert/update/delete classification, soft deletes surface
as updates, compare_cols excludes apply-time noise."""

from __future__ import annotations

import pytest

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.lake.changes import table_changes

from tests.test_apply_batch import _events_df, audit_col, ev


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_change_feed_insert_update_delete(spark, tmp_table, merge_mode):
    cfg = SinkConfig(n_buckets=4, merge_mode=merge_mode,
                     delete_mode="delete")
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    r1 = applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0),
                           ev(2, "c", "conv-b", 0, text="stays"),
                           ev(3, "c", "conv-c", 0)]),
        batch_id=0,
    )
    applier.apply_batch(
        _events_df(spark, [ev(4, "u", "conv-a", 0, text="v2"),
                           ev(5, "d", "conv-c", 0),
                           ev(6, "c", "conv-d", 0)]),
        batch_id=1,
    )
    feed = {
        (r["conv_id"], r["turn_idx"]): r
        for r in table_changes(
            applier.table(), from_version=r1.snapshot_version
        ).collect()
    }
    assert feed[("conv-a", 0)]["_change_type"] == "update"
    assert feed[("conv-a", 0)]["text"] == "v2"        # post-image
    assert feed[("conv-c", 0)]["_change_type"] == "delete"
    assert feed[("conv-c", 0)]["text"] is not None    # pre-image kept
    assert feed[("conv-d", 0)]["_change_type"] == "insert"
    assert ("conv-b", 0) not in feed                  # unchanged: absent


def test_change_feed_prunes_untouched_buckets(spark, tmp_table):
    """Manifest-level pruning: only buckets whose file lists differ
    between the versions are read — a one-conversation update scans
    one bucket, not the table."""
    cfg = SinkConfig(n_buckets=8)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows0 = [ev(i, "c", f"conv-{i}", 0) for i in range(1, 17)]
    r1 = applier.apply_batch(_events_df(spark, rows0), batch_id=0)
    applier.apply_batch(
        _events_df(spark, [ev(100, "u", "conv-3", 0, text="v2")]),
        batch_id=1,
    )
    feed = table_changes(applier.table(), from_version=r1.snapshot_version)
    rows = feed.collect()
    assert len(rows) == 1 and rows[0]["text"] == "v2"
    # exactly one bucket's files per side back the plan (COW rewrote
    # only conv-3's bucket); unpruned it would read all 8 per side
    files = feed.inputFiles()
    assert 0 < len(files) <= 4, files
    whole_table = applier.read_target().inputFiles()
    assert len(files) < len(whole_table), (files, whole_table)


def test_change_feed_across_schema_evolution(spark, tmp_table):
    """The old version predates an evolved column: its rows compare as
    NULL for that column (same null-backfill as table reads)."""
    cfg = SinkConfig(n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    r1 = applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0),
                           ev(2, "c", "conv-b", 0)]),
        batch_id=0,
    )
    r2 = applier.apply_batch(
        _events_df(spark, [ev(3, "u", "conv-a", 0, tool="search")],
                   with_optional=("tool",)),
        batch_id=1,
    )
    assert r2.evolved_columns == ["tool"]
    feed = {r["conv_id"]: r for r in table_changes(
        applier.table(), from_version=r1.snapshot_version
    ).collect()}
    assert feed["conv-a"]["_change_type"] == "update"
    assert feed["conv-a"]["tool"] == "search"
    assert "conv-b" not in feed  # tool NULL==NULL → unchanged


def test_change_feed_soft_delete_is_update(spark, tmp_table):
    cfg = SinkConfig(n_buckets=4)  # soft delete default
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    r1 = applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0)]), batch_id=0
    )
    applier.apply_batch(_events_df(spark, [ev(2, "d", "conv-a", 0)]),
                        batch_id=1)
    feed = table_changes(
        applier.table(), from_version=r1.snapshot_version
    ).collect()
    assert len(feed) == 1
    assert feed[0]["_change_type"] == "update"   # row still exists
    assert feed[0]["op_type"] == "D"


def test_change_feed_compare_cols_excludes_noise(spark, tmp_table):
    """A replayed identical value with a fresh audit ts is NOT an
    update when audit_ts is excluded from the comparison."""
    from pyspark.sql import functions as F

    cfg = SinkConfig(n_buckets=4)
    applier = CdcApplier(
        spark, cfg, tmp_table,
        audit_ts=F.lit("2024-06-01T00:00:00Z").cast("timestamp"),
    )
    r1 = applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0)]), batch_id=0
    )
    # batch 2 re-delivers the same content under a new offset, with a
    # DIFFERENT audit timestamp
    applier.audit_ts = F.lit("2024-06-02T00:00:00Z").cast("timestamp")
    applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0)]), batch_id=1
    )
    t = applier.table()
    noisy = table_changes(t, from_version=r1.snapshot_version).collect()
    assert len(noisy) == 1  # audit ts moved → shows as update
    quiet = table_changes(
        t, from_version=r1.snapshot_version,
        compare_cols=["text", "role", "ts", "op_type"],
    ).collect()
    assert quiet == []

    with pytest.raises(ValueError, match="from_version"):
        table_changes(t, from_version=t.version + 1, to_version=0)


# --- adjacent-delta fast path ----------------------------------------


def _feed_key(r):
    return (r["conv_id"], r["turn_idx"], r["_change_type"])


def _rows_sorted(df):
    return sorted(
        (tuple(r) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _sdel(off, conv):
    """A subset delete: every turn of ``conv``."""
    return {"kafka_partition": 0, "kafka_offset": off, "op": "d",
            "conv_id": conv, "turn_idx": None,
            "ts": ev(off, "d", conv, 0)["ts"]}


def _counted_df(spark, rows, ntc, tool=False):
    """``_events_df`` rows plus an ``n_tool_calls`` column of SQL type
    ``ntc`` (and a ``tool`` column)."""
    extra = ["tool"] if tool else []
    cols = ["kafka_partition", "kafka_offset", "op", "conv_id",
            "turn_idx", "role", "text", "ts", *extra, "n_tool_calls"]
    schema = (
        "kafka_partition int, kafka_offset long, op string, "
        "conv_id string, turn_idx int, role string, text string, "
        "ts timestamp, " + "".join(f"{c} string, " for c in extra)
        + f"n_tool_calls {ntc}"
    )
    return spark.createDataFrame(
        [tuple(r.get(c) for c in cols) for r in rows], schema
    )


def _steady_batches(spark, tmp_table, delete_mode):
    cfg = SinkConfig(n_buckets=4, merge_mode="mor",
                     delete_mode=delete_mode)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    batches = [
        [ev(1, "c", "conv-a", 0), ev(2, "c", "conv-b", 0),
         ev(3, "c", "conv-c", 0), ev(4, "c", "conv-d", 1)],
        [ev(5, "u", "conv-a", 0, text="v2"), ev(6, "d", "conv-c", 0),
         ev(7, "c", "conv-e", 0)],
        [ev(8, "c", "conv-c", 0, text="back"),   # re-insert deleted key
         ev(9, "d", "conv-c", 0),                # ...and delete again
         ev(10, "d", "conv-b", 0), ev(11, "u", "conv-d", 1, text="v3")],
    ]
    for i, rows in enumerate(batches):
        applier.apply_batch(_events_df(spark, rows), batch_id=i)
    return applier.table()


def _insert_update_batches(spark, tmp_table):
    """Upsert-mode commits seed the table, then insert_mode=update
    with hard deletes takes over: updates of missing keys match
    nothing, and a key once deleted stays gone."""
    seeder = CdcApplier(
        spark, SinkConfig(n_buckets=4, merge_mode="mor"), tmp_table,
        audit_ts=audit_col(),
    )
    seeder.apply_batch(_events_df(spark, [
        ev(1, "c", "conv-a", 0), ev(2, "c", "conv-b", 0),
        ev(3, "c", "conv-c", 0), ev(4, "c", "conv-d", 1),
    ]), batch_id=0)
    seeder.apply_batch(_events_df(spark, [
        ev(5, "u", "conv-d", 1, text="v2"), ev(6, "c", "conv-e", 0),
    ]), batch_id=1)
    upd = CdcApplier(
        spark, SinkConfig(n_buckets=4, merge_mode="mor",
                          insert_mode="update", delete_mode="delete"),
        tmp_table, audit_ts=audit_col(),
    )
    for i, rows in enumerate([
        [ev(7, "u", "conv-a", 0, text="v2"),
         ev(8, "u", "conv-x", 0),                 # no row: ignored
         ev(9, "d", "conv-c", 0)],
        [ev(10, "u", "conv-c", 0, text="ghost"),  # deleted: stays gone
         ev(11, "d", "conv-b", 0), ev(12, "u", "conv-b", 0),
         ev(13, "u", "conv-d", 1, text="v3"), ev(14, "u", "conv-e", 0)],
    ], start=2):
        upd.apply_batch(_events_df(spark, rows), batch_id=i)
    return upd.table()


def _sdel_insert_update_batches(spark, tmp_table):
    """insert_mode=update + hard delete under a subset delete key, on a
    table another writer seeded: a subset delete kills every row of
    its subset key for good, whatever the position."""
    sub = dict(pk_fields=("conv_id", "turn_idx"),
               delete_as_update_key=("conv_id",), n_buckets=2,
               merge_mode="mor")
    seeder = CdcApplier(spark, SinkConfig(**sub), tmp_table,
                        audit_ts=audit_col())
    seeder.apply_batch(_events_df(spark, [
        ev(1, "c", "conv-a", 0), ev(2, "c", "conv-a", 1),
        ev(3, "c", "conv-b", 0), ev(4, "c", "conv-b", 1),
        ev(5, "c", "conv-c", 0),
    ]), batch_id=0)
    seeder.apply_batch(_events_df(spark, [
        ev(6, "u", "conv-c", 0, text="v2"),
    ]), batch_id=1)
    upd = CdcApplier(
        spark, SinkConfig(**sub, insert_mode="update",
                          delete_mode="delete"),
        tmp_table, audit_ts=audit_col(),
    )
    for i, rows in enumerate([
        [_sdel(7, "conv-a"), ev(8, "u", "conv-b", 0, text="v2")],
        [ev(9, "u", "conv-a", 0, text="ghost"),   # killed: stays gone
         ev(10, "u", "conv-b", 1, text="v2"), _sdel(11, "conv-c")],
        [ev(12, "u", "conv-a", 1, text="ghost"),
         ev(13, "u", "conv-c", 0, text="ghost"),
         ev(14, "u", "conv-b", 0, text="v3")],
    ], start=2):
        upd.apply_batch(_events_df(spark, rows), batch_id=i)
    return upd.table()


def _evolve_batches(spark, tmp_table):
    """An int column widened to bigint, then a column added: the
    commits after each step read older delta and base files through
    the evolved schema."""
    cfg = SinkConfig(n_buckets=2, merge_mode="mor",
                     auto_evolve_widen=True)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    batches = [
        ("int", False, [ev(i, "c", f"conv-{i}", 0, n_tool_calls=i)
                        for i in range(1, 7)]),
        ("int", False, [ev(7, "u", "conv-1", 0, n_tool_calls=70),
                        ev(8, "d", "conv-2", 0),
                        ev(9, "c", "conv-7", 0, n_tool_calls=9)]),
        ("bigint", False, [ev(10, "u", "conv-3", 0, n_tool_calls=2**40),
                           ev(11, "u", "conv-1", 0, n_tool_calls=71),
                           ev(12, "c", "conv-8", 0, n_tool_calls=12)]),
        ("bigint", True, [ev(13, "u", "conv-4", 0, tool="search",
                             n_tool_calls=4),
                          ev(14, "u", "conv-5", 0, n_tool_calls=15),
                          ev(15, "d", "conv-1", 0)]),
        ("bigint", True, [ev(16, "u", "conv-6", 0, n_tool_calls=6),
                          ev(17, "u", "conv-7", 0, tool="x",
                             n_tool_calls=17)]),
    ]
    for i, (ntc, tool, rows) in enumerate(batches):
        applier.apply_batch(_counted_df(spark, rows, ntc, tool),
                            batch_id=i)
    t = applier.table()
    assert t.schema["n_tool_calls"].dataType.simpleString() == "bigint"
    assert "tool" in t.schema.fieldNames()
    return t


def _sdel_history_batches(spark, tmp_table, delete_mode):
    """Plain delta commits after a subset delete, no compaction
    between: their rows resolve over the earlier sdel files."""
    cfg = SinkConfig(
        pk_fields=("conv_id", "turn_idx"),
        delete_as_update_key=("conv_id",),
        n_buckets=2, merge_mode="mor", delete_mode=delete_mode,
    )
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    batches = [
        [ev(1, "c", "conv-a", 0), ev(2, "c", "conv-a", 1),
         ev(3, "c", "conv-b", 0), ev(4, "c", "conv-c", 0),
         ev(5, "c", "conv-c", 1)],
        [_sdel(6, "conv-a"), ev(7, "u", "conv-b", 0, text="v2")],
        [ev(8, "c", "conv-a", 0, text="back"),
         ev(9, "u", "conv-c", 1, text="v2"), ev(10, "c", "conv-d", 0)],
        [ev(11, "u", "conv-a", 1, text="back"),
         ev(12, "u", "conv-a", 0, text="again"),
         ev(13, "u", "conv-b", 0, text="v3")],
    ]
    for i, rows in enumerate(batches):
        applier.apply_batch(_events_df(spark, rows), batch_id=i)
    t = applier.table()
    assert t.snapshot.sdel_files() and t.snapshot.delta_files()
    return t


def _assert_every_pair_equals_diff(t, monkeypatch, min_fast_pairs,
                                   min_history_pairs):
    """For every adjacent version pair: the feed ``table_changes``
    serves equals the two-snapshot diff, with and without pre-images.
    A pair is *fast* when it is one merge-on-read commit whose parent
    has the same ``mor_meta`` or no delta/sdel files in the buckets the
    commit touches; exactly these pairs (and commits that wrote no
    files) must be served without the diff. At least ``min_fast_pairs`` pairs are fast,
    ``min_history_pairs`` of them delta-only over earlier sdel files."""
    from kafka_jdbc_sink_connector_spark.lake import changes

    diff = changes._diff_changes
    diffed = []
    monkeypatch.setattr(changes, "_diff_changes",
                        lambda *a, **k: diffed.append(a) or diff(*a, **k))
    keys = list(t.snapshot.key_fields)
    fast_pairs = history_pairs = 0
    for v_from, v_to in zip(t.history(), t.history()[1:]):
        old_snap = t._read_version(v_from)
        new_snap = t._read_version(v_to)
        cols = [f.name for f in new_snap.schema.fields]
        cmp_cols = [c for c in cols if c not in keys]
        nd = changes._new_commit_files(old_snap, new_snap)
        one_pass = nd is not None
        if one_pass:
            touched = sorted({int(b) for b in (*nd[0], *nd[1])})
            one_pass = new_snap.mor_meta == old_snap.mor_meta or not (
                old_snap.delta_files(touched) or old_snap.sdel_files(touched)
            )
        # a commit that wrote no files (a schema step) has no change
        fast = one_pass and bool(nd[0] or nd[1])
        fast_pairs += fast
        history_pairs += fast and bool(
            nd[0] and not nd[1] and old_snap.sdel_files()
        )
        for pre in (False, True):
            ref = diff(t, old_snap, new_snap, keys, cols, cmp_cols, pre)
            diffed.clear()
            got = table_changes(t, from_version=v_from, to_version=v_to,
                                include_preimages=pre)
            assert bool(diffed) is not one_pass, (v_from, v_to, pre)
            assert _rows_sorted(got) == _rows_sorted(ref), (
                v_from, v_to, pre)
    assert fast_pairs >= min_fast_pairs
    assert history_pairs >= min_history_pairs


@pytest.mark.parametrize("scenario", [
    "update", "delete", "insert_update", "evolve", "sdel_history_update",
    "sdel_history_delete", "sdel_insert_update",
])
def test_adjacent_delta_fast_path_equals_diff(
    spark, tmp_table, monkeypatch, scenario
):
    """For every adjacent MOR version pair, the one-pass feed and the
    two-snapshot diff must produce identical change rows — inserts,
    updates, hard deletes (pre-image), soft deletes (marker-flip
    update), re-upserts of deleted keys, insert_mode=update, schema
    widening and column adds, plain commits over historical subset
    deletes, and subset deletes under insert_mode=update + hard delete
    (once sent to the generic diff) included; update pre-images too."""
    history = 0
    if scenario in ("update", "delete"):
        t, fast = _steady_batches(spark, tmp_table, scenario), 2
    elif scenario == "insert_update":
        t, fast = _insert_update_batches(spark, tmp_table), 3
    elif scenario == "evolve":
        t, fast = _evolve_batches(spark, tmp_table), 4
    elif scenario == "sdel_insert_update":
        t = _sdel_insert_update_batches(spark, tmp_table)
        fast, history = 3, 1  # the switch to insert_mode=update is diffed
    else:
        t = _sdel_history_batches(
            spark, tmp_table, scenario.rsplit("_", 1)[1])
        fast, history = 3, 2
    _assert_every_pair_equals_diff(t, monkeypatch, fast, history)


def test_adjacent_delta_fast_path_plan_reads_only_deltas_and_old_bucket(
    spark, tmp_table
):
    """Adjacent delta feed scans ONLY the commit's delta files plus the
    OLD state of their buckets — never other buckets, never the new
    snapshot's accumulated delta history outside them."""
    cfg = SinkConfig(n_buckets=8, merge_mode="mor")
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows0 = [ev(i, "c", f"conv-{i}", 0) for i in range(1, 17)]
    applier.apply_batch(_events_df(spark, rows0), batch_id=0)
    applier.apply_batch(
        _events_df(spark, [ev(100, "u", "conv-3", 0, text="v2")]),
        batch_id=1,
    )
    t = applier.table()
    v_from, v_to = t.version - 1, t.version
    from kafka_jdbc_sink_connector_spark.lake import changes

    nd, _ = changes._new_commit_files(
        t._read_version(v_from), t._read_version(v_to)
    )
    assert nd is not None and len(nd) == 1   # one bucket touched
    (bucket,) = nd.keys()
    feed = table_changes(t, from_version=v_from, to_version=v_to)
    rows = feed.collect()
    assert len(rows) == 1 and rows[0]["text"] == "v2"
    files = feed.inputFiles()
    # every scanned file is either a delta of THIS commit or an
    # old-version file of the touched bucket
    new_delta_files = {f for fs in nd.values() for f in fs}
    for f in files:
        rel = f.split(tmp_table.rstrip("/") + "/", 1)[1]
        assert (
            rel in new_delta_files
            or f"__bucket_p={bucket}" in rel
        ), rel
    whole_table = applier.read_target().inputFiles()
    assert len(files) < len(whole_table)


def test_fast_path_declined_for_compaction_and_cow(spark, tmp_table):
    from kafka_jdbc_sink_connector_spark.lake import changes
    from kafka_jdbc_sink_connector_spark.lake.maintenance import compact

    cfg = SinkConfig(n_buckets=4, merge_mode="mor")
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0)]), batch_id=0
    )
    applier.apply_batch(
        _events_df(spark, [ev(2, "u", "conv-a", 0, text="v2")]),
        batch_id=1,
    )
    t = applier.table()
    v_before = t.version
    compact(t)
    t.refresh()
    # compaction fold: adjacent but NOT a pure delta append
    assert changes._new_commit_files(
        t._read_version(v_before), t._read_version(t.version)
    ) is None
    # the feed across the compaction stays correct (generic diff):
    # compaction changes no row state
    assert table_changes(
        t, from_version=v_before, to_version=t.version
    ).collect() == []


@pytest.mark.parametrize("delete_mode", ["update", "delete"])
def test_adjacent_fast_path_covers_subset_delete_commits(
    spark, tmp_table, delete_mode
):
    """Steady-state feeds under delete.as.update.key ⊂ pk traffic:
    sdel commits now take the fast path (previously always the generic
    diff), and every adjacent pair's fast answer equals the
    two-snapshot diff — multi-row subset deletes, re-upserts, and
    mixed upsert+sdel batches included."""
    from kafka_jdbc_sink_connector_spark.lake import changes

    cfg = SinkConfig(
        pk_fields=("conv_id", "turn_idx"),
        delete_as_update_key=("conv_id",),
        n_buckets=4, merge_mode="mor", delete_mode=delete_mode,
    )
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())

    batches = [
        [ev(1, "c", "conv-a", 0), ev(2, "c", "conv-a", 1),
         ev(3, "c", "conv-b", 0), ev(4, "c", "conv-c", 0)],
        # pure subset-delete commit: kills both conv-a rows
        [_sdel(5, "conv-a")],
        # mixed commit: upsert + subset delete in one batch
        [ev(6, "u", "conv-b", 0, text="v2"), _sdel(7, "conv-c"),
         ev(8, "c", "conv-d", 0)],
        # re-upsert a subset-deleted conversation
        [ev(9, "c", "conv-a", 0, text="back")],
    ]
    for i, rows in enumerate(batches):
        applier.apply_batch(_events_df(spark, rows), batch_id=i)
    t = applier.table()
    keys = list(t.snapshot.key_fields)
    cols = [f.name for f in t.snapshot.schema.fields]
    cmp_cols = [c for c in cols if c not in keys]
    sdel_pairs = 0
    for v_from, v_to in zip(t.history(), t.history()[1:]):
        old_snap = t._read_version(v_from)
        new_snap = t._read_version(v_to)
        nd = changes._new_commit_files(old_snap, new_snap)
        if nd is None:
            continue
        if nd[1]:
            sdel_pairs += 1
        fast = changes._adjacent_delta_changes(
            t, old_snap, new_snap, *nd,
            keys=keys, cols=cols, cmp_cols=cmp_cols,
        )
        ref = changes._diff_changes(
            t, old_snap, new_snap, keys, cols, cmp_cols
        )
        assert _rows_sorted(fast) == _rows_sorted(ref), (v_from, v_to)
        assert _rows_sorted(
            table_changes(t, from_version=v_from, to_version=v_to)
        ) == _rows_sorted(ref)
    assert sdel_pairs >= 2  # the pure and the mixed sdel commits


def test_sdel_fast_path_plan_reads_only_commit_files_and_old_buckets(
    spark, tmp_table
):
    """An sdel commit's feed scans ONLY the commit's own sdel/delta
    files plus old-version files of the touched buckets — not the new
    snapshot's resolve, not untouched buckets."""
    from kafka_jdbc_sink_connector_spark.lake import changes

    cfg = SinkConfig(
        pk_fields=("conv_id", "turn_idx"),
        delete_as_update_key=("conv_id",),
        n_buckets=8, merge_mode="mor",
    )
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    rows0 = [ev(i, "c", f"conv-{i}", t) for i in range(1, 13)
             for t in (0, 1)]
    applier.apply_batch(_events_df(spark, rows0), batch_id=0)
    applier.apply_batch(
        _events_df(spark, [{
            "kafka_partition": 0, "kafka_offset": 100, "op": "d",
            "conv_id": "conv-3", "turn_idx": None,
            "ts": ev(100, "d", "conv-3", 0)["ts"],
        }]),
        batch_id=1,
    )
    t = applier.table()
    v_from, v_to = t.version - 1, t.version
    nd = changes._new_commit_files(
        t._read_version(v_from), t._read_version(v_to)
    )
    assert nd is not None and nd[1]          # sdel files present
    new_files = {f for part in nd for fs in part.values() for f in fs}
    buckets = {b for part in nd for b in part}
    feed = table_changes(t, from_version=v_from, to_version=v_to)
    rows = feed.collect()
    # soft delete flips both conv-3 turns to updates
    assert sorted(r["turn_idx"] for r in rows) == [0, 1]
    assert {r["_change_type"] for r in rows} == {"update"}
    for f in feed.inputFiles():
        rel = f.split(tmp_table.rstrip("/") + "/", 1)[1]
        assert (
            rel in new_files
            or any(f"__bucket_p={b}" in rel for b in buckets)
        ), rel
    assert len(feed.inputFiles()) < len(
        applier.read_target().inputFiles()
    )


# --- one-pass feed: job budget and memory ----------------------------


def _cached_rdds(spark) -> set[int]:
    return {
        i.id()
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }


def _jobs(spark, group, fn):
    """(result, number of Spark jobs) of ``fn()``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        res = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return res, len(sc.statusTracker().getJobIdsForGroup(group))


#: Spark jobs of ``table_changes(t, v - 1, v).count()`` on a 4-core
#: local session: the delta fold's map stage, the base side (a
#: broadcast at this size), the join and the count; an sdel commit
#: adds the sdel fold's map stage and its broadcast
FEED_JOBS = {"delta": 4, "sdel": 6}


@pytest.mark.parametrize("commit", ["delta", "sdel"])
def test_feed_builds_without_jobs_and_leaves_no_cache(spark, tmp_path,
                                                      commit):
    """The adjacent MOR feed launches no job while its frame is built,
    stays within its job budget on ``count()``, and leaves no cached
    RDD behind (the old-state checkpoint it used to take stayed cached
    until GC)."""
    cfg = SinkConfig(
        pk_fields=("conv_id", "turn_idx"),
        delete_as_update_key=("conv_id",),
        n_buckets=4, merge_mode="mor",
    )
    applier = CdcApplier(spark, cfg, str(tmp_path / "t"),
                         audit_ts=audit_col())
    applier.apply_batch(_events_df(spark, [
        ev(i, "c", f"conv-{i % 6}", i // 6) for i in range(1, 25)
    ]), batch_id=0)
    applier.apply_batch(_events_df(spark, [
        ev(30 + i, "u", f"conv-{i}", 0, text="v2") for i in range(4)
    ]), batch_id=1)
    last = [ev(40, "u", "conv-5", 1, text="v3"), ev(41, "c", "conv-9", 0)]
    if commit == "sdel":
        last.append(_sdel(42, "conv-2"))
    applier.apply_batch(_events_df(spark, last), batch_id=2)
    t = applier.table()
    assert bool(t.snapshot.sdel_files()) == (commit == "sdel")

    before = _cached_rdds(spark)
    group = f"{tmp_path.name}-feed"
    feed, built = _jobs(
        spark, f"{group}-build",
        lambda: table_changes(t, t.version - 1, t.version),
    )
    assert built == 0
    n, counted = _jobs(spark, f"{group}-count", feed.count)
    assert n == (6 if commit == "sdel" else 2)
    assert counted <= FEED_JOBS[commit], counted
    assert _cached_rdds(spark) <= before
