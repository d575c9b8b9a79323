"""LakeTable: atomic snapshots, bucket pruning, commit conflicts,
append commits, time travel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL
from kafka_jdbc_sink_connector_spark.lake.table import (
    CommitConflict,
    LakeTable,
    Snapshot,
)

SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("v", T.LongType(), True),
])


def _df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def test_create_load_roundtrip(spark, tmp_path):
    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, n_buckets=4, key_fields=["k"])
    assert t.version == 0 and t.read().count() == 0
    t2 = LakeTable.load(spark, p)
    assert t2.schema == SCHEMA and t2.snapshot.n_buckets == 4
    with pytest.raises(FileExistsError):
        LakeTable.create(spark, p, SCHEMA)


def test_overwrite_and_bucket_pruning(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=8, key_fields=["k"]
    )
    rows = [(f"k{i}", i) for i in range(100)]
    t.overwrite(_df(spark, rows))
    assert t.read().count() == 100
    # pruned read: each bucket holds only its hash slice; union of all
    # bucket-reads is the table, each strictly smaller
    per_bucket = [t.read(buckets=[b]).count() for b in range(8)]
    assert sum(per_bucket) == 100
    assert max(per_bucket) < 100
    # bucket column round-trips
    withb = t.read(buckets=[0], include_bucket=True)
    vals = {r[BUCKET_COL] for r in withb.collect()}
    assert vals <= {0}


def test_append_commit(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=4, key_fields=["k"]
    )
    t.overwrite(_df(spark, [("a", 1)]))
    t.commit_append(t.with_bucket(_df(spark, [("b", 2)])))
    assert t.read().count() == 2
    # append never rewrites: old file set is a subset of new
    prev = set(LakeTable(spark, t.path, t._read_version(1)).snapshot.files())
    now = set(t.snapshot.files())
    assert prev <= now


def test_commit_conflict_detection(spark, tmp_path):
    p = str(tmp_path / "t")
    t1 = LakeTable.create(spark, p, SCHEMA, n_buckets=2, key_fields=["k"])
    t2 = LakeTable.load(spark, p)
    t1.overwrite(_df(spark, [("a", 1)]))
    # t2 still thinks version is 0 → its commit targets v1 which exists
    with pytest.raises(CommitConflict):
        t2.overwrite(_df(spark, [("b", 2)]))
    # after refresh the writer can proceed
    t2.refresh()
    t2.overwrite(_df(spark, [("b", 2)]))
    assert LakeTable.load(spark, p).version == 2


def test_time_travel_and_exactly_once_watermark(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, key_fields=["k"]
    )
    t.overwrite(_df(spark, [("a", 1)]), source_id="s", batch_id=0)
    t.overwrite(_df(spark, [("a", 1), ("b", 2)]), source_id="s", batch_id=1)
    assert t.applied_batch("s") == 1
    assert t.applied_batch("other") == -1
    assert t.read(version=1).count() == 1
    assert t.read(version=2).count() == 2
    assert t.history() == [0, 1, 2]


def test_time_travel_by_timestamp(spark, tmp_path):
    """AS-OF-TIMESTAMP resolution: latest version committed at or
    before ts (Delta/Iceberg rule); pre-upgrade snapshots without
    commit_ts stay readable by version but are skipped by time."""
    import json as _json
    import os as _os

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, key_fields=["k"]
    )
    t.overwrite(_df(spark, [("a", 1)]))
    t.overwrite(_df(spark, [("a", 1), ("b", 2)]))
    s1 = t._read_version(1)
    s2 = t._read_version(2)
    assert s1.commit_ts is not None and s2.commit_ts >= s1.commit_ts
    # the streaming commit_ts extractor must agree with the full JSON
    # parse (pins the indent=1/sort_keys manifest layout it relies on)
    assert t._commit_ts_of(1) == s1.commit_ts
    assert t._commit_ts_of(2) == s2.commit_ts
    assert t.version_as_of(s1.commit_ts) in (1, 2)  # ties: same second
    assert t.version_as_of(s2.commit_ts + 1) == 2
    assert t.read_as_of(s2.commit_ts + 1).count() == 2
    mid = (s1.commit_ts + s2.commit_ts) / 2
    v = t.version_as_of(mid)
    assert v in (1, 2) and (v == 1 or s2.commit_ts <= mid)
    with pytest.raises(ValueError, match="no snapshot committed"):
        t.version_as_of(s1.commit_ts - 100)
    # pre-upgrade manifest (no commit_ts key): loads, reads, and is
    # invisible to time-based resolution
    log = _os.path.join(t.path, "_log")
    name = sorted(_os.listdir(log))[1]
    d = _json.loads(open(_os.path.join(log, name)).read())
    d.pop("commit_ts")
    open(_os.path.join(log, name), "w").write(_json.dumps(d))
    t2 = LakeTable.load(spark, t.path)
    assert t2._read_version(1).commit_ts is None
    assert t2.read(version=1).count() == 1
    assert t2.version_as_of(s2.commit_ts + 1) == 2


def test_schema_evolution_null_backfill_on_read(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, key_fields=["k"]
    )
    t.overwrite(_df(spark, [("a", 1)]))
    wider = T.StructType(
        SCHEMA.fields + [T.StructField("extra", T.StringType(), True)]
    )
    t.commit_metadata(wider)
    got = t.read().collect()[0]
    assert got["extra"] is None  # old parquet file, new column
    # and new data with the column lands fine
    new = spark.createDataFrame([("b", 2, "x")], wider)
    t.commit_append(t.with_bucket(new))
    vals = {r["k"]: r["extra"] for r in t.read().collect()}
    assert vals == {"a": None, "b": "x"}


def test_snapshot_json_backcompat_pre_mor():
    """Snapshots written before merge-on-read existed (no
    delta_buckets / mor_meta keys) must still load, with empty
    defaults."""
    import json

    from kafka_jdbc_sink_connector_spark.lake.table import Snapshot
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    old = {
        "version": 3,
        "schema": json.loads(schema.json()),
        "n_buckets": 4,
        "key_fields": ["k"],
        "bucket_key": "k",
        "buckets": {"0": ["data/f.parquet"]},
        "applied_batches": {"s": 2},
        "stats": {},
        "parent": 2,
    }
    snap = Snapshot.from_json(json.dumps(old))
    assert snap.delta_buckets == {} and snap.mor_meta == {}
    assert snap.delta_files() == [] and snap.all_files() == snap.files()
    # and the new fields round-trip
    snap.delta_buckets["1"] = ["data/d.parquet"]
    again = Snapshot.from_json(snap.to_json())
    assert again.delta_buckets == {"1": ["data/d.parquet"]}


def test_delta_commit_conflict_cleans_up(spark, tmp_path):
    """A losing commit_delta (stale snapshot) must raise CommitConflict
    and leave no orphan delta files referenced or on disk beyond the
    winner's; a refresh lets the writer retry."""
    import os

    from kafka_jdbc_sink_connector_spark.lake.mor import (
        DELTA_DEL,
        DELTA_DEL_OFF,
        DELTA_UPS,
        DELTA_UPS_OFF,
    )
    from pyspark.sql import functions as F

    p = str(tmp_path / "t")
    t1 = LakeTable.create(spark, p, SCHEMA, n_buckets=2, key_fields=["k"])
    t1.overwrite(_df(spark, [("a", 1)]))
    t2 = LakeTable.load(spark, p)

    def delta_rows(t, rows):
        base = t.with_bucket(_df(spark, rows))
        return base.select(
            "k",
            F.struct(F.col("v").alias("v")).alias(DELTA_UPS),
            F.lit(1).cast("long").alias(DELTA_UPS_OFF),
            F.lit(None).cast("struct<v:long>").alias(DELTA_DEL),
            F.lit(None).cast("long").alias(DELTA_DEL_OFF),
            F.col("__bucket"),
        )

    meta = {"soft": False, "hard": False, "upd_only": False,
            "guard": [], "overlay_cols": []}
    t1.commit_delta(delta_rows(t1, [("a", 2)]), mor_meta=meta)
    with pytest.raises(CommitConflict):
        t2.commit_delta(delta_rows(t2, [("a", 99)]), mor_meta=meta)
    # loser's files were removed; snapshot references resolve
    t2.refresh()
    for f in t2.snapshot.all_files():
        assert os.path.exists(os.path.join(p, f))
    got = {r["k"]: r["v"] for r in t2.read().collect()}
    assert got == {"a": 2}  # the winner's delta, not the loser's
    # retry after refresh succeeds
    t2.commit_delta(delta_rows(t2, [("a", 3)]), mor_meta=meta)
    assert {r["k"]: r["v"] for r in t2.read().collect()} == {"a": 3}


def test_failed_rewrite_leaves_no_orphan_data_dir(spark, tmp_path):
    """A commit that fails after writing its files but before publishing
    (here: rows for a bucket outside ``rewrite_buckets``) removes its
    data dir instead of leaving it for ``vacuum``."""
    import os

    p = str(tmp_path / "t")
    t = LakeTable.create(spark, p, SCHEMA, n_buckets=4, key_fields=["k"])
    t.overwrite(_df(spark, [(f"k{i}", i) for i in range(20)]))
    before = sorted(os.listdir(os.path.join(p, "data")))
    rows = t.with_bucket(_df(spark, [(f"k{i}", i) for i in range(20)]))
    with pytest.raises(ValueError, match="not in rewrite_buckets"):
        t.commit_rewrite(rows, [0])
    assert sorted(os.listdir(os.path.join(p, "data"))) == before
    assert t.version == 1 and t.read().count() == 20


def test_describe_history_operations(spark, tmp_path):
    from kafka_jdbc_sink_connector_spark.lake.maintenance import (
        compact,
        rebucket,
        vacuum,
    )

    t = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, n_buckets=2, key_fields=["k"]
    )
    t.overwrite(_df(spark, [(f"k{i}", i) for i in range(10)]))   # v1
    t.commit_append(t.with_bucket(_df(spark, [("x", 99)])))      # v2
    t.set_props({"bloom.cols": ["k"]})                           # v3
    compact(t, min_files=1)                                      # v4
    t.restore(2)                                                 # v5
    rebucket(t, 4)                                               # v6
    hist = t.describe_history()
    ops = {h["version"]: h["operation"] for h in hist}
    assert ops[0] == "CREATE"
    assert ops[1] == "WRITE"  # initial load of an empty table
    assert ops[2] == "APPEND"
    assert ops[3] == "SET PROPERTIES"
    assert ops[4] == "COMPACT"
    assert ops[5] == "RESTORE"
    assert ops[6] == "REBUCKET"
    assert hist[0]["version"] == 6  # newest first
    assert all("commit_ts" in h and "files_delta" in h for h in hist)
    # limit caps parsing; vacuumed parents degrade gracefully
    assert [h["version"] for h in t.describe_history(limit=2)] == [6, 5]
    vacuum(t, keep_versions=2)
    t2 = LakeTable.load(spark, t.path)
    hist2 = t2.describe_history()
    assert [h["version"] for h in hist2] == [6, 5]
