"""Streaming: file-source micro-batches, checkpoint restart,
exactly-once replay, Kafka record parsing, multi-table routing.

Ports the intent of the reference's lifecycle/retry paths
(``JdbcAuditSinkTask.java``) and the at-least-once → exactly-once
upgrade (SURVEY.md §2 O16/O17, §5 test plan).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.datagen import GenSpec, generate_cdc_events
from kafka_jdbc_sink_connector_spark.schemas import CDC_EVENT_SCHEMA_V3
from kafka_jdbc_sink_connector_spark.sources.cdc import file_stream
from kafka_jdbc_sink_connector_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA,
    parse_kafka_records,
)
from kafka_jdbc_sink_connector_spark.streaming.runner import (
    CdcStreamRunner,
    MultiTableRunner,
)

from tests.oracle import replay
from tests.test_apply_batch import audit_col


def _write_chunks(spark, events, n_chunks, src_dir, n_total):
    for i in range(n_chunks):
        lo, hi = i * n_total // n_chunks, (i + 1) * n_total // n_chunks
        (
            events.filter(
                (F.col("kafka_offset") >= lo) & (F.col("kafka_offset") < hi)
            )
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )


def test_stream_apply_matches_oracle(spark, tmp_path):
    cfg = SinkConfig(n_buckets=4)
    src_dir = str(tmp_path / "incoming")
    spec = GenSpec(n_events=2000, n_conversations=50,
                   turns_per_conversation=8, delete_fraction=0.05)
    events = generate_cdc_events(spark, spec).cache()
    try:
        _write_chunks(spark, events, 4, src_dir, spec.n_events)
        applier = CdcApplier(
            spark, cfg, str(tmp_path / "tgt"), audit_ts=audit_col()
        )
        runner = CdcStreamRunner(applier, str(tmp_path / "ckpt"))
        stream = file_stream(
            spark, src_dir, CDC_EVENT_SCHEMA_V3, max_files_per_trigger=1
        )
        results = runner.run_available(stream)
        assert len(results) >= 2  # really micro-batched
        assert sum(r.n_events for r in results) == spec.n_events

        rows = [r.asDict() for r in events.collect()]
        payload = ["conv_id", "turn_idx", "role", "text", "ts", "tool",
                   "meta_source"]
        want = replay(rows, cfg, payload)
        got = {
            (r["conv_id"], r["turn_idx"]): r.asDict()
            for r in applier.read_target().collect()
        }
        assert set(got) == set(want)
        bad = [
            (k, got[k]["text"], want[k]["text"])
            for k in want
            if got[k]["text"] != want[k]["text"]
        ]
        assert not bad, bad[:5]
    finally:
        events.unpersist()


@pytest.mark.parametrize("merge_mode", ["cow", "mor"])
def test_stream_restart_no_duplicates(spark, tmp_path, merge_mode):
    """Stop after first run, add more data, restart from the same
    checkpoint: previously-applied files are not re-applied; new files
    are. Then force-replay an old batch id directly → skipped."""
    cfg = SinkConfig(n_buckets=4, merge_mode=merge_mode)
    src_dir = str(tmp_path / "incoming")
    ckpt = str(tmp_path / "ckpt")
    spec = GenSpec(n_events=1000, n_conversations=30,
                   turns_per_conversation=6)
    events = generate_cdc_events(spark, spec).cache()
    try:
        _write_chunks(spark, events, 2, src_dir, 600)  # offsets 0..599
        applier = CdcApplier(
            spark, cfg, str(tmp_path / "tgt"), audit_ts=audit_col()
        )
        runner = CdcStreamRunner(applier, ckpt)
        stream = file_stream(spark, src_dir, CDC_EVENT_SCHEMA_V3)
        runner.run_available(stream)
        v1 = applier.table().version
        n1 = applier.read_target().count()

        # restart with no new data: nothing applied
        runner2 = CdcStreamRunner(applier, ckpt)
        runner2.run_available(file_stream(spark, src_dir, CDC_EVENT_SCHEMA_V3))
        assert applier.table().version == v1
        assert applier.read_target().count() == n1

        # add the rest and restart: only new events applied
        (
            events.filter(F.col("kafka_offset") >= 600)
            .coalesce(1).write.mode("append").parquet(src_dir)
        )
        runner3 = CdcStreamRunner(applier, ckpt)
        runner3.run_available(file_stream(spark, src_dir, CDC_EVENT_SCHEMA_V3))

        rows = [r.asDict() for r in events.collect()]
        want = replay(rows, cfg,
                      ["conv_id", "turn_idx", "role", "text", "ts", "tool",
                       "meta_source"])
        assert applier.read_target().count() == len(want)

        # crash-replay simulation: re-deliver an already-committed batch
        res = runner3.process_batch(
            events.filter(F.col("kafka_offset") < 300), batch_id=0
        )
        assert res.skipped
    finally:
        events.unpersist()


def test_retry_then_success(spark, tmp_path, monkeypatch):
    """First apply attempt fails (transient), runner retries with
    backoff and succeeds — reference O17 bounded retry."""
    cfg = SinkConfig(n_buckets=2, max_retries=2, retry_backoff_ms=10)
    applier = CdcApplier(
        spark, cfg, str(tmp_path / "tgt"), audit_ts=audit_col()
    )
    calls = {"n": 0}
    real = applier.apply_batch

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient commit failure")
        return real(*a, **kw)

    monkeypatch.setattr(applier, "apply_batch", flaky)
    runner = CdcStreamRunner(applier, str(tmp_path / "ckpt"))
    df = generate_cdc_events(
        spark, GenSpec(n_events=50, n_conversations=5, turns_per_conversation=4)
    )
    res = runner.process_batch(df, batch_id=0)
    assert calls["n"] == 2 and not res.skipped


def test_retry_exhaustion_raises(spark, tmp_path, monkeypatch):
    cfg = SinkConfig(n_buckets=2, max_retries=1, retry_backoff_ms=1)
    applier = CdcApplier(spark, cfg, str(tmp_path / "tgt"))

    def always_fail(*a, **kw):
        raise RuntimeError("permanent failure")

    monkeypatch.setattr(applier, "apply_batch", always_fail)
    runner = CdcStreamRunner(applier, str(tmp_path / "ckpt"))
    df = generate_cdc_events(spark, GenSpec(n_events=10, n_conversations=2))
    with pytest.raises(RuntimeError, match="permanent"):
        runner.process_batch(df, batch_id=0)


def test_failed_compaction_retries_without_duplicate_result(
    spark, tmp_path, monkeypatch
):
    """Compaction runs OUTSIDE the retried apply: a transient compact
    failure after a successful apply must retry only the compaction —
    not re-enter the apply loop (which would skip the already-applied
    batch and append a duplicate skipped BatchResult, inflating
    metrics)."""
    from kafka_jdbc_sink_connector_spark.lake import maintenance

    cfg = SinkConfig(n_buckets=2, merge_mode="mor",
                     mor_compact_every_batches=1,
                     max_retries=2, retry_backoff_ms=1)
    applier = CdcApplier(
        spark, cfg, str(tmp_path / "tgt"), audit_ts=audit_col()
    )
    runner = CdcStreamRunner(applier, str(tmp_path / "ckpt"))
    df = generate_cdc_events(
        spark, GenSpec(n_events=60, n_conversations=6,
                       turns_per_conversation=4)
    )
    half = df.filter(F.col("kafka_offset") < 30)
    runner.process_batch(half, 0)  # bootstrap (COW base, no compaction)

    calls = {"n": 0}
    real = maintenance.compact

    def flaky_compact(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient compaction failure")
        return real(*a, **kw)

    monkeypatch.setattr(maintenance, "compact", flaky_compact)
    res = runner.process_batch(df.filter(F.col("kafka_offset") >= 30), 1)
    assert not res.skipped
    assert calls["n"] == 2  # compaction itself was retried…
    m = runner.metrics()
    assert m["n_batches"] == 2 and m["n_skipped"] == 0  # …no phantom skip
    assert not applier.table().snapshot.delta_files()  # and it ran


def _kafka_row(partition, offset, key=None, value=None):
    return (
        json.dumps(key).encode() if key is not None else None,
        json.dumps(value).encode() if value is not None else None,
        "transcripts",
        partition,
        offset,
        None,
        0,
    )


def test_parse_kafka_records_record_value_and_tombstone(spark):
    cfg = SinkConfig()
    rows = [
        _kafka_row(0, 1, key={"conv_id": "a", "turn_idx": 0},
                   value={"op": "c", "conv_id": "a", "turn_idx": 0,
                          "role": "user", "text": "hi",
                          "ts": "2024-01-01T00:00:00Z"}),
        # Debezium tombstone: null value, key only → delete event
        _kafka_row(0, 2, key={"conv_id": "a", "turn_idx": 0}, value=None),
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    from pyspark.sql import types as T
    value_schema = T.StructType([
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    key_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])
    parsed = parse_kafka_records(
        raw, value_schema, cfg, key_schema=key_schema, pk_mode="record_value"
    ).orderBy("kafka_offset").collect()
    assert parsed[0]["op"] == "c" and parsed[0]["text"] == "hi"
    assert parsed[0]["kafka_partition"] == 0 and parsed[0]["kafka_offset"] == 1
    # tombstone: op=d, keys recovered from the record key
    assert parsed[1]["op"] == "d"
    assert parsed[1]["conv_id"] == "a" and parsed[1]["turn_idx"] == 0
    assert parsed[1]["text"] is None


def test_parse_kafka_records_record_key_mode(spark):
    cfg = SinkConfig()
    rows = [
        _kafka_row(1, 7, key={"conv_id": "k", "turn_idx": 3},
                   value={"op": "u", "role": "assistant", "text": "yo",
                          "ts": "2024-01-01T00:00:01Z"}),
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    from pyspark.sql import types as T
    value_schema = T.StructType([
        T.StructField("op", T.StringType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    key_schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
    ])
    p = parse_kafka_records(
        raw, value_schema, cfg, key_schema=key_schema, pk_mode="record_key"
    ).collect()[0]
    assert p["conv_id"] == "k" and p["turn_idx"] == 3 and p["op"] == "u"


def test_multi_table_routing(spark, tmp_path):
    """topic column routes each slice to its own lake table
    (table.name.format=${topic} semantics)."""
    cfg = SinkConfig(n_buckets=2)
    made = {}

    def factory(topic):
        a = CdcApplier(
            spark, cfg, str(tmp_path / cfg.table_name(topic)),
            audit_ts=audit_col(),
        )
        made[topic] = a
        return a

    runner = MultiTableRunner(factory, str(tmp_path / "ckpt"))
    df = generate_cdc_events(
        spark, GenSpec(n_events=200, n_conversations=10)
    ).withColumn(
        "topic",
        F.when(F.col("kafka_offset") % 2 == 0, "t_even").otherwise("t_odd"),
    )
    runner.process_batch(df, batch_id=0)
    assert set(made) == {"t_even", "t_odd"}
    n_even = made["t_even"].read_target().count()
    n_odd = made["t_odd"].read_target().count()
    assert n_even > 0 and n_odd > 0


def test_mor_auto_compaction_in_stream(spark, tmp_path):
    """mor_compact_every_batches folds deltas during the stream and
    the final state still matches the replay oracle."""
    from kafka_jdbc_sink_connector_spark.sources.cdc import file_stream

    cfg = SinkConfig(n_buckets=4, merge_mode="mor",
                     mor_compact_every_batches=2)
    src_dir = str(tmp_path / "incoming")
    spec = GenSpec(n_events=1200, n_conversations=30,
                   turns_per_conversation=6, delete_fraction=0.05)
    events = generate_cdc_events(spark, spec).cache()
    try:
        _write_chunks(spark, events, 4, src_dir, spec.n_events)
        applier = CdcApplier(
            spark, cfg, str(tmp_path / "tgt"), audit_ts=audit_col()
        )
        runner = CdcStreamRunner(applier, str(tmp_path / "ckpt"))
        runner.run_available(
            file_stream(spark, src_dir, CDC_EVENT_SCHEMA_V3,
                        max_files_per_trigger=1)
        )
        m = runner.metrics()
        assert m["n_events"] == spec.n_events and m["events_per_sec"]
        # compaction ran at batch 2: deltas from batches 1-2 folded
        # (batch 3 may have re-added some)
        hist = applier.table().history()
        assert any(
            applier.table()._read_version(v).stats.get(
                "compacted_buckets"
            )
            for v in hist
        )
        rows = [r.asDict() for r in events.collect()]
        want = replay(rows, cfg,
                      ["conv_id", "turn_idx", "role", "text", "ts",
                       "tool", "meta_source"])
        got = {
            (r["conv_id"], r["turn_idx"]): r
            for r in applier.read_target().collect()
        }
        assert set(got) == set(want)
        for key, wrow in want.items():
            assert got[key]["text"] == wrow.get("text"), key
    finally:
        events.unpersist()


def test_multitable_partial_failure_retries_only_failed_topic(
    spark, tmp_path
):
    """Multi-table batch where one topic's applier fails transiently:
    the retry re-applies only the failed topic (the committed topic
    skips via its batch watermark) and the final state is correct."""
    from kafka_jdbc_sink_connector_spark.streaming.runner import (
        MultiTableRunner,
    )
    from tests.test_apply_batch import _events_df, ev

    calls = {"n": 0}

    class FlakyApplier(CdcApplier):
        def apply_batch(self, events, batch_id=0, source_id="default"):
            calls["n"] += 1
            if calls["n"] == 1:
                raise IOError("transient write failure")
            return super().apply_batch(events, batch_id, source_id)

    def factory(topic):
        cls = FlakyApplier if topic == "t_b" else CdcApplier
        return cls(
            spark,
            SinkConfig(n_buckets=2, max_retries=2, retry_backoff_ms=10),
            str(tmp_path / topic),
            audit_ts=audit_col(),
        )

    runner = MultiTableRunner(factory, str(tmp_path / "ckpt"))
    rows_a = [dict(ev(1, "c", "conv-a", 0), topic="t_a")]
    rows_b = [dict(ev(2, "c", "conv-b", 0), topic="t_b")]
    df = _events_df(spark, rows_a + rows_b, with_optional=("topic",))
    runner.process_batch(df, batch_id=0)
    assert runner.appliers["t_a"].read_target().count() == 1
    assert runner.appliers["t_b"].read_target().count() == 1
    assert calls["n"] == 2  # failed once, retried once


def test_multi_table_runner_record_parser_routes_decoded_topics(
    spark, tmp_path
):
    """MultiTableRunner's record_parser (the converter-layer hook)
    decodes raw Kafka wire records inside process_batch, preserving
    the topic column (keep_topic=True) so routing still splits per
    destination table."""
    import json as jsonlib

    from kafka_jdbc_sink_connector_spark.sources.kafka import (
        KAFKA_WIRE_SCHEMA,
        parse_kafka_records,
    )
    from pyspark.sql import types as T

    cfg = SinkConfig(n_buckets=2)
    value_schema = T.StructType([
        T.StructField("op", T.StringType()),
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])

    def wire(off, topic, conv):
        v = jsonlib.dumps({
            "op": "c", "conv_id": conv, "turn_idx": 0,
            "role": "user", "text": f"m{off}",
            "ts": "2024-01-01T00:00:00",
        }).encode()
        return (None, v, topic, 0, off, None, 0)

    raw = spark.createDataFrame(
        [wire(1, "t_a", "conv-1"), wire(2, "t_b", "conv-2"),
         wire(3, "t_a", "conv-3")],
        KAFKA_WIRE_SCHEMA,
    )
    made = {}

    def factory(topic):
        a = CdcApplier(
            spark, cfg, str(tmp_path / cfg.table_name(topic)),
            audit_ts=audit_col(),
        )
        made[topic] = a
        return a

    runner = MultiTableRunner(
        factory, str(tmp_path / "ckpt"),
        record_parser=lambda df: parse_kafka_records(
            df, value_schema, cfg, keep_topic=True,
        ),
    )
    runner.process_batch(raw, batch_id=0)
    assert set(made) == {"t_a", "t_b"}
    assert made["t_a"].read_target().count() == 2
    assert made["t_b"].read_target().count() == 1


def test_multi_table_followers_cascade(spark, tmp_path):
    """MultiTableRunner followers: one cascade per routed table keeps
    each silver in lock-step with its bronze."""
    from kafka_jdbc_sink_connector_spark.streaming.cascade import (
        CascadeRunner,
    )

    cfg = SinkConfig(n_buckets=2)
    made = {}

    def factory(topic):
        a = CdcApplier(
            spark, cfg, str(tmp_path / cfg.table_name(topic)),
            audit_ts=audit_col(),
        )
        made[topic] = a
        return a

    silvers = {}
    followers = []
    for topic in ("t_even", "t_odd"):
        bronze_path = str(tmp_path / cfg.table_name(topic))
        silvers[topic] = CdcApplier(
            spark, cfg, str(tmp_path / f"silver_{topic}"),
            audit_ts=audit_col(),
        )
        followers.append(
            CascadeRunner(spark, bronze_path, silvers[topic],
                          upstream_deleted_when=F.col("op_type") == "D")
        )

    runner = MultiTableRunner(factory, str(tmp_path / "ckpt"),
                              followers=followers)
    df = generate_cdc_events(
        spark, GenSpec(n_events=200, n_conversations=10)
    ).withColumn(
        "topic",
        F.when(F.col("kafka_offset") % 2 == 0, "t_even").otherwise("t_odd"),
    )
    runner.process_batch(df, batch_id=0)
    for topic in ("t_even", "t_odd"):
        live = {
            tuple(r) for r in made[topic].read_target()
            .filter(F.col("op_type") != "D")
            .select("conv_id", "turn_idx", "text").collect()
        }
        got = {
            tuple(r) for r in silvers[topic].read_target()
            .filter(F.col("op_type") != "D")
            .select("conv_id", "turn_idx", "text").collect()
        }
        assert got == live and live


def test_multi_table_follower_retry(spark, tmp_path):
    """A follower whose sync fails transiently is retried on the
    runner module's budget after the batch's commit-group marker is
    published; the routed tables are not re-applied."""
    from tests.test_apply_batch import _events_df, ev

    class FlakyFollower:
        calls = 0

        def sync(self):
            self.calls += 1
            if self.calls == 1:
                raise IOError("transient follower failure")

    follower = FlakyFollower()
    cfg = SinkConfig(n_buckets=2)
    runner = MultiTableRunner(
        lambda topic: CdcApplier(
            spark, cfg, str(tmp_path / topic), audit_ts=audit_col()
        ),
        str(tmp_path / "ckpt"),
        followers=[follower],
    )
    df = _events_df(
        spark, [dict(ev(1, "c", "conv-a", 0), topic="t_a")],
        with_optional=("topic",),
    )
    runner.process_batch(df, batch_id=0)
    assert follower.calls == 2
    assert runner.latest_group_id() == 0
    assert [r.skipped for r in runner.results] == [False]
    assert runner.appliers["t_a"].read_target().count() == 1
