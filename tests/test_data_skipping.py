"""File-level min/max data skipping (lake/stats.py + LakeTable.read
``where=``).

The contract under test: ``read(where=P) == read().filter(P)`` —
always, for every table layout (COW, MOR-hot, pre-stats snapshots) —
while the scan provably touches FEWER files whenever stats allow.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL
from kafka_jdbc_sink_connector_spark.lake import stats as stats_mod
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable


SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def _mk_rows(spark, lo, hi, ts_day):
    base = dt.datetime(2024, 1, ts_day, tzinfo=dt.timezone.utc)
    rows = [
        (
            int(k),
            int(k * 10),
            f"name-{k:05d}",
            float(k) / 7.0,
            base + dt.timedelta(minutes=int(k)),
        )
        for k in range(lo, hi)
    ]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def appended_table(spark, tmp_path):
    """4 append commits with disjoint, increasing ``v``/``ts`` ranges —
    the natural CDC ingest layout (commit files time-clustered)."""
    path = str(tmp_path / "t")
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=4, key_fields=["k"])
    for i in range(4):
        df = _mk_rows(spark, i * 100, (i + 1) * 100, ts_day=i + 1)
        t.commit_append(t.with_bucket(df))
    return t


def test_where_equals_post_filter(spark, appended_table):
    t = appended_table
    preds = [("v", ">=", 1500), ("name", "<", "name-00350")]
    got = sorted(r["k"] for r in t.read(where=preds).collect())
    want = sorted(
        r["k"]
        for r in t.read()
        .filter((F.col("v") >= 1500) & (F.col("name") < "name-00350"))
        .collect()
    )
    assert got == want and len(got) > 0


def test_files_actually_skipped(spark, appended_table):
    t = appended_table
    all_files = t.read().inputFiles()
    # v >= 300 lives only in the last commit: 3 of 4 commits skipped
    pruned = t.read(where=[("v", ">=", 3000)]).inputFiles()
    assert len(pruned) < len(all_files)
    assert len(pruned) <= len(all_files) // 4 + 1
    rows = t.read(where=[("v", ">=", 3000)]).count()
    assert rows == 100


def test_timestamp_range_skip(spark, appended_table):
    t = appended_table
    cut = dt.datetime(2024, 1, 4, tzinfo=dt.timezone.utc)
    pruned = t.read(where=[("ts", ">=", cut)])
    assert len(pruned.inputFiles()) < len(t.read().inputFiles())
    want = t.read().filter(F.col("ts") >= F.lit(cut)).count()
    assert pruned.count() == want and want == 100


def test_equality_and_in_and_composition_with_buckets(spark, appended_table):
    t = appended_table
    # equality on a mid-range value: only its commit survives
    df = t.read(where=[("v", "=", 1230)])
    assert df.count() == 1 and df.collect()[0]["k"] == 123
    assert len(df.inputFiles()) < len(t.read().inputFiles())
    # IN across two commits keeps exactly those commits' files
    df2 = t.read(where=[("v", "in", (50, 3500))])
    assert sorted(r["k"] for r in df2.collect()) == [5, 350]
    # bucket pruning (key axis) composes with file skipping (value axis)
    row = (
        t.read(include_bucket=True)
        .filter(F.col("k") == 350)
        .select(BUCKET_COL)
        .collect()
    )
    bucket = row[0][BUCKET_COL]
    df3 = t.read(buckets=[bucket], where=[("v", ">=", 3000)])
    assert len(df3.inputFiles()) <= 1
    assert df3.filter(F.col("k") == 350).count() == 1


def test_float_nan_upper_bound_not_pruned(spark, tmp_path):
    """Spark treats NaN as greater than everything; parquet min/max
    ignore NaN — a ``>`` predicate must NOT skip a file whose only
    matching row is NaN."""
    path = str(tmp_path / "tnan")
    t = LakeTable.create(
        spark, path, SCHEMA, n_buckets=2, key_fields=["k"]
    )
    rows = [
        (1, 1, "a", 0.5, dt.datetime(2024, 1, 1)),
        (2, 2, "b", float("nan"), dt.datetime(2024, 1, 1)),
    ]
    t.commit_append(t.with_bucket(spark.createDataFrame(rows, SCHEMA)))
    got = t.read(where=[("score", ">", 100.0)]).collect()
    assert len(got) == 1 and got[0]["k"] == 2  # the NaN row
    # lower-bound ops still prune floats: no row has score < 0
    assert t.read(where=[("score", "<", 0.0)]).count() == 0


def test_null_semantics(spark, tmp_path):
    path = str(tmp_path / "tnull")
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=2, key_fields=["k"])
    # commit 1: name entirely NULL; commit 2: no nulls
    rows1 = [(1, 1, None, 1.0, dt.datetime(2024, 1, 1))]
    rows2 = [(2, 2, "x", 2.0, dt.datetime(2024, 1, 2))]
    t.commit_append(t.with_bucket(spark.createDataFrame(rows1, SCHEMA)))
    t.commit_append(t.with_bucket(spark.createDataFrame(rows2, SCHEMA)))
    # comparison can't match an all-null file -> only commit 2 scanned
    df = t.read(where=[("name", ">=", "a")])
    assert df.count() == 1 and len(df.inputFiles()) == 1
    # is_null keeps only the all-null file's commit
    dfn = t.read(where=[("name", "is_null")])
    assert dfn.count() == 1 and dfn.collect()[0]["k"] == 1
    assert len(dfn.inputFiles()) == 1
    # not_null skips the all-null file
    dfnn = t.read(where=[("name", "not_null")])
    assert dfnn.count() == 1 and dfnn.collect()[0]["k"] == 2


def test_mor_hot_buckets_never_file_pruned(spark, tmp_table):
    """A bucket carrying unresolved deltas reads ALL its base files
    (an overlay's resolved row needs base columns), yet the result
    still equals read().filter(P) — the update is visible through
    ``where`` even though its value lies outside every BASE file's
    stats range."""
    from kafka_jdbc_sink_connector_spark.apply import CdcApplier
    from kafka_jdbc_sink_connector_spark.config import SinkConfig
    from tests.test_apply_batch import _events_df, audit_col, ev

    cfg = SinkConfig(merge_mode="mor", n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(
        _events_df(
            spark,
            [ev(i, "c", f"conv-{i}", 0) for i in range(1, 20)],
        ),
        batch_id=0,
    )
    applier.apply_batch(
        _events_df(spark, [ev(30, "u", "conv-5", 0, text="zz-updated")]),
        batch_id=1,
    )
    t = applier.table()
    assert t.snapshot.delta_buckets  # hot bucket exists
    got = t.read(where=[("text", ">=", "zz")])
    want = t.read().filter(F.col("text") >= "zz")
    assert sorted(r["conv_id"] for r in got.collect()) == sorted(
        r["conv_id"] for r in want.collect()
    ) == ["conv-5"]


def test_pre_stats_snapshot_full_scan_correct(spark, appended_table):
    """Simulate a pre-upgrade manifest (no ``file_stats``): nothing is
    skipped, results identical."""
    t = appended_table
    t.snapshot.file_stats = {}
    df = t.read(where=[("v", ">=", 3000)])
    assert len(df.inputFiles()) == len(t.read().inputFiles())
    assert df.count() == 100


def test_statless_files_and_compaction_restores(spark, tmp_path):
    """Files without stats (a pre-upgrade manifest) are never skipped;
    a compaction harvests stats for the files it rewrites."""
    path = str(tmp_path / "tnostat")
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=2, key_fields=["k"])
    t.commit_append(t.with_bucket(_mk_rows(spark, 0, 50, 1)))
    t.snapshot.file_stats = {}
    # no stats -> no skipping, still correct
    assert t.read(where=[("v", ">=", 480)]).count() == 2
    # a rewrite (compaction path) harvests stats for rewritten files
    from kafka_jdbc_sink_connector_spark.lake.maintenance import compact

    compact(t, min_files=1)  # single-file buckets still rewritten
    assert t.snapshot.file_stats  # populated now
    assert t.read(where=[("v", ">=", 480)]).count() == 2


def test_stats_survive_manifest_roundtrip_and_time_travel(
    spark, appended_table
):
    t = appended_table
    v_old = t.version
    t2 = LakeTable.load(spark, t.path)
    assert t2.snapshot.file_stats == t.snapshot.file_stats
    assert t2.snapshot.file_stats  # non-empty
    # version read uses THAT version's stats
    t.commit_append(t.with_bucket(_mk_rows(spark, 400, 500, 5)))
    df = t.read(version=v_old, where=[("v", ">=", 3000)])
    assert df.count() == 100  # new commit invisible at v_old


def test_rewrite_drops_stats_of_removed_files(spark, appended_table):
    t = appended_table
    referenced = {f for fs in t.snapshot.buckets.values() for f in fs}
    assert set(t.snapshot.file_stats) <= referenced
    from kafka_jdbc_sink_connector_spark.lake.maintenance import compact

    compact(t)
    referenced2 = {f for fs in t.snapshot.buckets.values() for f in fs}
    assert set(t.snapshot.file_stats) <= referenced2
    assert not (set(t.snapshot.file_stats) & (referenced - referenced2))


def test_cluster_by_restores_skipping(spark, tmp_path):
    """Ingest order ignores ``v`` (interleaved commits), so a range
    scan initially reads every file; after ``cluster_by(["v"])`` each
    bucket's files hold disjoint ``v`` ranges and the same scan
    touches a fraction of them — with identical results."""
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by

    path = str(tmp_path / "tclust")
    t = LakeTable.create(spark, path, SCHEMA, n_buckets=2, key_fields=["k"])
    # two commits, each spanning the FULL v range (v = k*10)
    t.commit_append(t.with_bucket(
        _mk_rows(spark, 0, 400, 1).filter(F.col("k") % 2 == 0)))
    t.commit_append(t.with_bucket(
        _mk_rows(spark, 0, 400, 1).filter(F.col("k") % 2 == 1)))
    pred = [("v", ">=", 3000)]
    before = t.read(where=pred)
    n_before = len(before.inputFiles())
    assert n_before == len(t.read().inputFiles())  # nothing skippable
    want = sorted(r["k"] for r in before.collect())

    done = cluster_by(t, ["v"], files_per_bucket=4)
    assert done == [0, 1]
    after = t.read(where=pred)
    assert sorted(r["k"] for r in after.collect()) == want
    n_total = len(t.read().inputFiles())
    assert n_total > 2  # preserve_layout really made multiple files
    assert len(after.inputFiles()) < n_total  # skipping works now
    # per-bucket v-ranges are (near-)disjoint: every file's span is a
    # fraction of the full range
    spans = [
        c["hi"] - c["lo"]
        for e in t.snapshot.file_stats.values()
        for name, c in e["cols"].items()
        if name == "v" and "lo" in c
    ]
    full = 400 * 10
    assert spans and max(spans) < full * 0.8


def test_cluster_by_folds_mor_deltas(spark, tmp_table):
    """cluster_by rewrites the RESOLVED state: hot deltas fold in
    (bucket leaves MOR), and the update's value is what's clustered."""
    from kafka_jdbc_sink_connector_spark.apply import CdcApplier
    from kafka_jdbc_sink_connector_spark.config import SinkConfig
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by
    from tests.test_apply_batch import _events_df, audit_col, ev

    cfg = SinkConfig(merge_mode="mor", n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(
        _events_df(
            spark, [ev(i, "c", f"conv-{i}", 0) for i in range(1, 20)]
        ),
        batch_id=0,
    )
    applier.apply_batch(
        _events_df(spark, [ev(30, "u", "conv-5", 0, text="zz-updated")]),
        batch_id=1,
    )
    t = applier.table()
    assert t.snapshot.delta_buckets
    want = sorted(
        (r["conv_id"], r["text"]) for r in t.read().collect()
    )
    cluster_by(t, ["conv_id"], files_per_bucket=2)
    assert not t.snapshot.delta_buckets and not t.snapshot.sdel_buckets
    assert sorted(
        (r["conv_id"], r["text"]) for r in t.read().collect()
    ) == want
    # resolved update is present and now skippable by conv_id
    got = t.read(where=[("text", ">=", "zz")]).collect()
    assert [r["conv_id"] for r in got] == ["conv-5"]


# ---- pure-python prune-logic unit tests (no Spark) ------------------


def _entry(rows=10, **cols):
    return {"rows": rows, "cols": cols}


def test_prune_logic_comparisons():
    e = _entry(v={"t": "n", "lo": 100, "hi": 200, "nulls": 0})
    fm = stats_mod.file_may_match
    assert fm(e, [("v", ">=", 150)])
    assert not fm(e, [("v", ">", 200)])
    assert fm(e, [("v", ">=", 200)])
    assert not fm(e, [("v", "<", 100)])
    assert fm(e, [("v", "<=", 100)])
    assert not fm(e, [("v", "=", 99)])
    assert fm(e, [("v", "=", 100)])
    assert not fm(e, [("v", "in", [1, 2, 300])])
    assert fm(e, [("v", "in", [1, 150])])
    # per-term check (like Delta): an unsatisfiable CONJUNCTION whose
    # individual terms each overlap the range is conservatively kept —
    # the residual filter yields zero rows either way
    assert fm(e, [("v", ">=", 150), ("v", "<", 120)])
    # ...but a single failing term does skip
    assert not fm(e, [("v", ">=", 150), ("v", "<", 100)])


def test_prune_logic_conservative_cases():
    fm = stats_mod.file_may_match
    # no entry / no column / no bounds -> keep
    assert fm(None, [("v", "=", 1)])
    assert fm(_entry(), [("v", "=", 1)])
    assert fm(_entry(v={"nulls": 3}), [("v", "=", 1)])
    # type-mismatched literal -> keep
    e = _entry(v={"t": "n", "lo": 1, "hi": 2, "nulls": 0})
    assert fm(e, [("v", "=", "a-string")])
    # float upper-bound ops never prune (NaN), lower-bound ops do
    ef = _entry(s={"t": "n", "lo": 0.0, "hi": 1.0, "nulls": 0, "f": True})
    assert fm(ef, [("s", ">", 5.0)])
    assert fm(ef, [("s", ">=", 5.0)])
    assert not fm(ef, [("s", "<", -1.0)])
    assert not fm(ef, [("s", "=", 5.0)])
    # all-null file fails every comparison, passes is_null
    en = _entry(rows=4, v={"t": "n", "nulls": 4})
    assert not fm(en, [("v", ">=", 0)])
    assert fm(en, [("v", "is_null")])
    assert not fm(en, [("v", "not_null")])
    # zero nulls fails is_null
    ez = _entry(v={"t": "n", "lo": 1, "hi": 2, "nulls": 0})
    assert not fm(ez, [("v", "is_null")])


def test_prune_logic_validation_errors():
    with pytest.raises(ValueError, match="predicate"):
        stats_mod.prune_files({}, ["f"], [("v", "~", 1)])
    with pytest.raises(ValueError, match="at least one"):
        stats_mod.predicate_column([])
    with pytest.raises(ValueError, match="in"):
        stats_mod.file_may_match(
            _entry(v={"t": "n", "lo": 1, "hi": 9, "nulls": 0}),
            stats_mod._validate_predicates([("v", "in", 5)]),
        )


def test_decimal_column_does_not_break_harvest(spark, tmp_path):
    """pyarrow can't extract footer stats for FLBA decimal columns
    (ArrowNotImplementedError) — harvesting must survive and simply
    not index the column, and ``where=`` on OTHER columns still
    works (regression: commit_append crashed on decimal tables)."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("amount", T.DecimalType(20, 4)),
        ]
    )
    import decimal

    df = spark.createDataFrame(
        [(i, decimal.Decimal(i) / 4) for i in range(100)], schema
    )
    t = LakeTable.create(
        spark, str(tmp_path / "dec"), schema, n_buckets=2, key_fields=["k"]
    )
    t.commit_append(t.with_bucket(df))
    snap = t.snapshot
    assert snap.file_stats  # harvested without crashing
    for ent in snap.file_stats.values():
        assert "amount" not in ent["cols"] or "lo" not in ent["cols"]["amount"]
        assert "lo" in ent["cols"]["k"]  # sibling columns still indexed
    got = sorted(r["k"] for r in t.read(where=[("k", ">=", 90)]).collect())
    assert got == list(range(90, 100))


# -- metadata-only counts (LakeTable.count + file_fully_matches) ------


def test_count_equals_read_count_cow(spark, appended_table):
    t = appended_table
    preds = [
        None,
        [("v", ">", 2000)],
        [("v", ">=", 1000), ("v", "<", 3000)],
        [("name", "<=", "name-00150")],
        [("ts", ">=", dt.datetime(2024, 1, 3))],
        [("v", ">", 10**9)],  # provably empty everywhere
        [("k", "in", [5, 150, 399])],
    ]
    for where in preds:
        base = t.read(where=where) if where else t.read()
        assert t.count(where=where) == base.count(), where


def test_count_is_metadata_only_when_stats_decide(spark, appended_table):
    """Every file is decidable (fully matching or provably empty), so
    the count must come purely from the manifest: deleting the data
    files afterwards cannot change or break it."""
    import os as _os

    t = appended_table
    where = [("v", ">=", 1000)]  # commits 0 fully out, 1-3 fully in
    expect = t.read(where=where).count()
    for f in t.snapshot.files(None):
        _os.remove(_os.path.join(t.path, f))
    assert t.count(where=where) == expect
    assert t.count() == 400  # no-predicate total is metadata too


def test_count_scans_only_boundary_files(spark, appended_table):
    """A predicate cutting through one commit's range: that commit's
    files are boundary (scanned), the rest decided by stats — delete
    every decidable file, keep the boundary ones, count still right."""
    import os as _os

    t = appended_table
    where = [("v", ">=", 1500)]  # cuts commit 1 (1000..1990)
    expect = t.read(where=where).count()
    snap = t.snapshot
    from kafka_jdbc_sink_connector_spark.lake import stats as sm

    for f in snap.files(None):
        ent = snap.file_stats.get(f)
        decided = sm.file_fully_matches(ent, where) or not sm.file_may_match(
            ent, where
        )
        if decided:
            _os.remove(_os.path.join(t.path, f))
    assert t.count(where=where) == expect


def test_count_mor_hot_falls_back(spark, tmp_table):
    from kafka_jdbc_sink_connector_spark.apply import CdcApplier
    from kafka_jdbc_sink_connector_spark.config import SinkConfig
    from tests.test_apply_batch import _events_df, audit_col, ev

    cfg = SinkConfig(merge_mode="mor", n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(
        _events_df(
            spark, [ev(i, "c", f"conv-{i}", 0) for i in range(1, 20)]
        ),
        batch_id=0,
    )
    applier.apply_batch(
        _events_df(spark, [ev(30, "u", "conv-5", 0, text="zz-updated")]),
        batch_id=1,
    )
    t = applier.table()
    assert t.snapshot.delta_buckets
    for where in (None, [("text", ">=", "zz")], [("conv_id", ">", "conv-1")]):
        base = t.read(where=where) if where else t.read()
        assert t.count(where=where) == base.count(), where


def test_fully_matches_logic():
    fm = stats_mod.file_fully_matches

    def _e(rows=10, **cols):
        return {"rows": rows, "cols": cols}

    v = {"t": "n", "lo": 5, "hi": 9, "nulls": 0}
    assert fm(_e(v=v), [("v", ">=", 5)])
    assert fm(_e(v=v), [("v", ">", 4)])
    assert fm(_e(v=v), [("v", "<=", 9)])
    assert fm(_e(v=v), [("v", "<", 10)])
    assert not fm(_e(v=v), [("v", ">=", 6)])
    assert not fm(_e(v=v), [("v", "<", 9)])
    assert not fm(_e(v=v), [("v", "=", 5)])
    # constant column proves equality / in
    c = {"t": "n", "lo": 7, "hi": 7, "nulls": 0}
    assert fm(_e(v=c), [("v", "=", 7)])
    assert fm(_e(v=c), [("v", "in", [3, 7])])
    assert not fm(_e(v=c), [("v", "in", [3, 8])])
    # unknown nulls or any nulls break comparison proofs
    assert not fm(_e(v={"t": "n", "lo": 5, "hi": 9}), [("v", ">=", 5)])
    assert not fm(
        _e(v={"t": "n", "lo": 5, "hi": 9, "nulls": 1}), [("v", ">=", 5)]
    )
    # null-count proofs
    assert fm(_e(rows=10, v={"nulls": 10}), [("v", "is_null")])
    assert not fm(_e(rows=10, v={"nulls": 9}), [("v", "is_null")])
    assert fm(_e(v=v), [("v", "not_null")])
    # float: hidden NaN kills =/in/</<= proofs, survives >/>=
    f = {"t": "n", "lo": 0.0, "hi": 1.0, "nulls": 0, "f": True}
    assert fm(_e(s=f), [("s", ">=", 0.0)])
    assert fm(_e(s=f), [("s", ">", -1.0)])
    assert not fm(_e(s=f), [("s", "<=", 2.0)])
    assert not fm(_e(s=f), [("s", "<", 2.0)])
    # missing column / entry / rows
    assert not fm(_e(v=v), [("other", ">=", 0)])
    assert not fm(None, [("v", ">=", 0)])
    assert not fm({"cols": {"v": v}}, [("v", ">=", 0)])
    # type-mismatched literal can't prove
    assert not fm(_e(v=v), [("v", ">=", "abc")])
    # zero-row file vacuously matches anything
    assert fm(_e(rows=0), [("v", "=", 123)])


def test_cli_where_parsing():
    from kafka_jdbc_sink_connector_spark.cli import _parse_where

    assert _parse_where(None) is None
    assert _parse_where(["v:>=:10", "name:<=:abc", "s:>:1.5"]) == [
        ("v", ">=", 10),
        ("name", "<=", "abc"),
        ("s", ">", 1.5),
    ]
    assert _parse_where(["v:is_null"]) == [("v", "is_null")]
    # a value containing ':' stays intact after the op split
    assert _parse_where(["u:=:a:b"]) == [("u", "=", "a:b")]


# -- z-order clustering (cluster_by method="zorder") ------------------


def _grid_table(spark, tmp_path, name):
    """64x64 grid of (x, y) in one bucket, ingested in hash order so
    neither axis is skippable before clustering."""
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("y", T.LongType()),
        ]
    )
    rows = [(x * 64 + y, x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, schema)
    t = LakeTable.create(
        spark, str(tmp_path / name), schema, n_buckets=1, key_fields=["k"]
    )
    t.commit_append(t.with_bucket(df))
    return t


def _files_scanned(t, where):
    snap = t.snapshot
    return len(
        stats_mod.prune_files(snap.file_stats, snap.files(None), where)
    )


def test_zorder_prunes_every_clustered_column(spark, tmp_path):
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by

    t = _grid_table(spark, tmp_path, "z")
    cluster_by(t, ["x", "y"], files_per_bucket=16, method="zorder")
    n = len(t.snapshot.files(None))
    assert n >= 8
    px = [("x", "<", 8)]
    py = [("y", ">=", 56)]
    # both axes skip most files (each z-tile is compact in x AND y)
    assert _files_scanned(t, px) <= n // 2
    assert _files_scanned(t, py) <= n // 2
    # and results stay exact
    assert t.read(where=px).count() == 8 * 64
    assert t.read(where=py).count() == 64 * 8
    assert t.count(where=px + py) == 8 * 8


def test_linear_clustering_only_first_column_skips(spark, tmp_path):
    """The contrast that motivates zorder: lexicographic (x, y) makes
    y-ranges unskippable (every file spans all of y's domain within
    its x slice — except x-constant files)."""
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by

    t = _grid_table(spark, tmp_path, "lex")
    cluster_by(t, ["x", "y"], files_per_bucket=16, method="linear")
    n = len(t.snapshot.files(None))
    zx = _files_scanned(t, [("x", "<", 8)])
    zy = _files_scanned(t, [("y", ">=", 56)])
    assert zx <= n // 2  # first column skips
    assert zy >= n - 2   # second column effectively cannot


def test_zorder_handles_nulls_constants_and_timestamps(spark, tmp_path):
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("x", T.LongType()),
            T.StructField("c", T.LongType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc)
    rows = [
        (
            i,
            None if i % 17 == 0 else i % 50,
            7,
            base + dt.timedelta(minutes=i % 50),
        )
        for i in range(1000)
    ]
    t = LakeTable.create(
        spark, str(tmp_path / "m"), schema, n_buckets=1, key_fields=["k"]
    )
    t.commit_append(t.with_bucket(spark.createDataFrame(rows, schema)))
    cluster_by(t, ["x", "c", "ts"], files_per_bucket=8, method="zorder")
    where = [("x", "<", 10)]
    assert t.read(where=where).count() == sum(
        1 for r in rows if r[1] is not None and r[1] < 10
    )
    assert t.count(where=where) == t.read(where=where).count()


def test_zorder_rejects_string_columns(spark, appended_table):
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by

    with pytest.raises(ValueError, match="zorder"):
        cluster_by(appended_table, ["name"], method="zorder")
    with pytest.raises(ValueError, match="method"):
        cluster_by(appended_table, ["v"], method="hilbert")


# -- metadata-only min/max (LakeTable.min_max) ------------------------


def test_min_max_equals_scan_agg(spark, appended_table):
    t = appended_table
    got = t.min_max(["v", "name", "ts", "score"])
    row = t.read().agg(
        F.min("v"), F.max("v"), F.min("name"), F.max("name"),
        F.min("ts"), F.max("ts"), F.min("score"), F.max("score"),
    ).collect()[0]
    assert got["v"] == (row[0], row[1])
    assert got["name"] == (row[2], row[3])
    assert got["ts"] == (row[4], row[5])
    assert got["score"] == (row[6], row[7])


def test_min_max_metadata_only_for_stats_types(spark, appended_table):
    """Non-float columns resolve purely from the manifest: delete the
    data files and min_max still answers (floats would need a scan and
    are excluded here)."""
    import os as _os

    t = appended_table
    expect = t.min_max(["v", "name", "ts"])
    for f in t.snapshot.files(None):
        _os.remove(_os.path.join(t.path, f))
    assert t.min_max(["v", "name", "ts"]) == expect


def test_min_max_float_scans_and_handles_nan(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("s", T.DoubleType()),
        ]
    )
    rows = [(1, 1.5), (2, float("nan")), (3, -2.0), (4, None)]
    t = LakeTable.create(
        spark, str(tmp_path / "f"), schema, n_buckets=2, key_fields=["k"]
    )
    t.commit_append(t.with_bucket(spark.createDataFrame(rows, schema)))
    lo, hi = t.min_max(["s"])["s"]
    assert lo == -2.0
    import math

    assert math.isnan(hi)  # Spark's max: NaN beats every value


def test_min_max_mor_hot_and_all_null(spark, tmp_table):
    from kafka_jdbc_sink_connector_spark.apply import CdcApplier
    from kafka_jdbc_sink_connector_spark.config import SinkConfig
    from tests.test_apply_batch import _events_df, audit_col, ev

    cfg = SinkConfig(merge_mode="mor", n_buckets=4)
    applier = CdcApplier(spark, cfg, tmp_table, audit_ts=audit_col())
    applier.apply_batch(
        _events_df(
            spark, [ev(i, "c", f"conv-{i}", 0) for i in range(1, 20)]
        ),
        batch_id=0,
    )
    applier.apply_batch(
        _events_df(spark, [ev(30, "u", "conv-5", 0, text="zz-updated")]),
        batch_id=1,
    )
    t = applier.table()
    assert t.snapshot.delta_buckets
    got = t.min_max(["conv_id", "text"])
    row = t.read().agg(
        F.min("conv_id"), F.max("conv_id"), F.min("text"), F.max("text")
    ).collect()[0]
    assert got["conv_id"] == (row[0], row[1])
    assert got["text"] == (row[2], row[3])  # the MOR update's zz- value
    assert got["text"][1].startswith("zz")
