"""The LakeTable commit core without Spark: one snapshot derivation
(``_derive``) shared by the first publish and the lost-race rebase, and
the rebase's decline rules (``_rebase``), on hand-built snapshots."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.lake.table import (
    CommitConflict,
    Snapshot,
    _derive,
    _Edit,
    _rebase,
)

SCHEMA = T.StructType([
    T.StructField("k", T.StringType(), False),
    T.StructField("v", T.LongType(), True),
])
WIDER = T.StructType(SCHEMA.fields + [T.StructField("w", T.StringType(), True)])


def _snap(version=3, **kw) -> Snapshot:
    base = dict(
        version=version, schema=SCHEMA, n_buckets=2, key_fields=["k"],
        bucket_key="k", buckets={"0": ["b0"], "1": ["b1"]},
        applied_batches={"src": 5}, stats={"old": 1}, parent=version - 1,
        delta_buckets={"0": ["d0"]}, sdel_buckets={"1": ["s1"]},
        mor_meta={"soft": True}, commit_ts=123.0,
        file_stats={"b0": {"rows": 1}, "b1": {"rows": 2}},
        props={"p": "x"},
    )
    base.update(kw)
    return Snapshot(**base)


def _edit(**kw) -> _Edit:
    base = dict(schema=SCHEMA, n_buckets=2, stats={"new": 1})
    base.update(kw)
    return _Edit(**base)


# -- derivation -------------------------------------------------------


def test_append_adds_files_after_the_heads():
    head = _snap()
    out = _derive(head, _edit(
        base={"0": ["n0"], "3": ["n3"]}, file_stats={"n0": {"rows": 7}},
    ))
    assert out.version == 4 and out.parent == 3 and out.commit_ts is None
    assert out.buckets == {"0": ["b0", "n0"], "1": ["b1"], "3": ["n3"]}
    assert out.delta_buckets == head.delta_buckets
    assert out.sdel_buckets == head.sdel_buckets
    assert out.mor_meta == head.mor_meta and out.props == head.props
    assert out.stats == {"new": 1}
    assert out.file_stats == {
        "b0": {"rows": 1}, "b1": {"rows": 2}, "n0": {"rows": 7},
    }
    # the head is not mutated
    assert head.buckets == {"0": ["b0"], "1": ["b1"]} and head.version == 3


def test_rewrite_replaces_buckets_and_their_deltas():
    out = _derive(_snap(), _edit(
        base={"0": ["r0"]}, replaces=[0], file_stats={"r0": {"rows": 9}},
    ))
    assert out.buckets == {"0": ["r0"], "1": ["b1"]}
    assert out.delta_buckets == {}  # bucket 0's delta folded in
    assert out.sdel_buckets == {"1": ["s1"]}  # untouched bucket keeps it
    # file stats: the replaced file's entry is dropped, the new one kept
    assert out.file_stats == {"b1": {"rows": 2}, "r0": {"rows": 9}}


def test_rewrite_changing_bucket_count():
    out = _derive(_snap(), _edit(
        n_buckets=4, base={"0": ["x0"], "3": ["x3"]}, replaces=[0, 1],
    ))
    assert out.n_buckets == 4
    assert out.buckets == {"0": ["x0"], "3": ["x3"]}
    assert out.delta_buckets == {} and out.sdel_buckets == {}
    assert out.file_stats == {}


def test_delta_and_sdel_edit():
    out = _derive(_snap(), _edit(
        delta={"0": ["d0b"], "1": ["d1"]}, sdel={"1": ["s1b"]},
        mor_meta={"soft": False},
    ))
    assert out.buckets == {"0": ["b0"], "1": ["b1"]}
    assert out.delta_buckets == {"0": ["d0", "d0b"], "1": ["d1"]}
    assert out.sdel_buckets == {"1": ["s1", "s1b"]}
    assert out.mor_meta == {"soft": False}
    assert out.file_stats == {"b0": {"rows": 1}, "b1": {"rows": 2}}


def test_metadata_edit_carries_everything_but_schema_stats_props():
    head = _snap()
    out = _derive(head, _edit(schema=WIDER, props={"q": 1}))
    assert out.schema == WIDER and out.props == {"q": 1}
    assert out.stats == {"new": 1}
    for f in ("buckets", "delta_buckets", "sdel_buckets", "applied_batches",
              "mor_meta", "file_stats", "key_fields", "bucket_key"):
        assert getattr(out, f) == getattr(head, f), f


@pytest.mark.parametrize("src, batch, expect", [
    ("src", 3, {"src": 5}),            # older batch: watermark stays
    ("src", 7, {"src": 7}),            # newer batch: watermark moves
    ("other", 0, {"src": 5, "other": 0}),
    (None, 9, {"src": 5}),             # no source: untouched
])
def test_watermark_is_a_max(src, batch, expect):
    out = _derive(_snap(), _edit(source_id=src, batch_id=batch))
    assert out.applied_batches == expect


def test_file_stats_drop_unreferenced_entries():
    head = _snap(file_stats={"b0": {"rows": 1}, "gone": {"rows": 5}})
    out = _derive(head, _edit(base={"1": ["n1"]},
                              file_stats={"n1": {"rows": 3}}))
    assert out.file_stats == {"b0": {"rows": 1}, "n1": {"rows": 3}}


# -- rebase decline rules -----------------------------------------------


def _declines(latest, base, edit, why):
    with pytest.raises(CommitConflict) as ei:
        _rebase(latest, base, edit)
    msg = str(ei.value)
    assert msg == (f"cannot rebase {edit.kind} commit onto version "
                   f"{latest.version}: {why}"), msg


def test_concurrent_schema_change_declines():
    _declines(_snap(4, schema=WIDER), _snap(), _edit(base={"0": ["n"]}),
              "a concurrent commit changed the table schema")


def test_own_schema_change_declines():
    _declines(_snap(4), _snap(), _edit(schema=WIDER, base={"0": ["n"]}),
              "this commit changes the schema; refresh and re-plan")


@pytest.mark.parametrize("change", [
    {"n_buckets": 4}, {"bucket_key": "v"}, {"key_fields": ["k", "v"]},
])
def test_concurrent_layout_change_declines(change):
    _declines(_snap(4, **change), _snap(), _edit(base={"0": ["n"]}),
              "a concurrent commit changed the table layout")


def test_own_rebucket_declines():
    _declines(_snap(4), _snap(),
              _edit(n_buckets=4, base={"0": ["n"]}, replaces=[0, 1]),
              "this commit changes the table layout (rebucket); "
              "refresh and re-plan")


def test_already_applied_batch_declines():
    _declines(_snap(4, applied_batches={"src": 6}), _snap(),
              _edit(base={"0": ["n"]}, source_id="src", batch_id=6),
              "batch 6 from source 'src' was already applied by a "
              "concurrent writer (exactly-once)")


@pytest.mark.parametrize("change", [
    {"delta_buckets": {"0": ["d0", "dx"]}}, {"sdel_buckets": {}},
])
def test_concurrent_delta_declines_delta(change):
    _declines(_snap(4, **change), _snap(),
              _edit(delta={"0": ["n"]}, mor_meta={}),
              "concurrent delta/sdel commits would interleave the __seq "
              "resolution order")


@pytest.mark.parametrize("change", [
    {"buckets": {"0": ["b0"], "1": ["b1", "x"]}},
    {"delta_buckets": {"0": ["d0"], "1": ["x"]}},
    {"sdel_buckets": {}},
])
def test_touched_rewritten_bucket_declines(change):
    _declines(_snap(4, **change), _snap(),
              _edit(base={"1": ["r1"]}, replaces=[1]),
              "a concurrent commit touched rewritten bucket 1")


def test_rebasable_commits_derive_on_the_winners_head():
    base = _snap()
    # a concurrent append landed in bucket 1 and advanced the watermark
    latest = _snap(4, buckets={"0": ["b0"], "1": ["b1", "w1"]},
                   applied_batches={"src": 6},
                   file_stats={"b0": {"rows": 1}, "b1": {"rows": 2},
                               "w1": {"rows": 4}},
                   props={"p": "y"})
    append = _edit(base={"1": ["n1"]}, file_stats={"n1": {"rows": 3}},
                   source_id="src", batch_id=7)
    _rebase(latest, base, append)
    out = _derive(latest, append)
    assert out.version == 5 and out.parent == 4
    assert out.buckets == {"0": ["b0"], "1": ["b1", "w1", "n1"]}
    assert out.applied_batches == {"src": 7} and out.props == {"p": "y"}
    assert out.file_stats == {"b0": {"rows": 1}, "b1": {"rows": 2},
                              "w1": {"rows": 4}, "n1": {"rows": 3}}
    # a rewrite of the other bucket and a delta commit also rebase
    rewrite = _edit(base={"0": ["r0"]}, replaces=[0])
    _rebase(latest, base, rewrite)
    assert _derive(latest, rewrite).buckets == {"0": ["r0"],
                                               "1": ["b1", "w1"]}
    delta = _edit(delta={"1": ["dn"]}, mor_meta={"soft": False})
    _rebase(latest, base, delta)
    assert _derive(latest, delta).delta_buckets == {"0": ["d0"], "1": ["dn"]}
