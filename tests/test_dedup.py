"""Collapse/dedup operator: max_by vs window formulations agree,
duplicates (redelivery) are absorbed."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.datagen import GenSpec, generate_cdc_events
from kafka_jdbc_sink_connector_spark.operators.dedup import (
    DELETE_OFF,
    DELETE_STRUCT,
    FIRST_DEL_OFF,
    UPSERT_OFF,
    UPSERT_STRUCT,
    collapse_last_writer,
    collapse_last_writer_window,
)

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "ts", "tool", "meta_source"]


def _norm(df):
    return {
        (r["conv_id"], r["turn_idx"]): (
            r[UPSERT_OFF],
            r[DELETE_OFF],
            r[FIRST_DEL_OFF],
            r[UPSERT_STRUCT]["text"] if r[UPSERT_STRUCT] else None,
            r[DELETE_STRUCT]["ts"] if r[DELETE_STRUCT] else None,
        )
        for r in df.collect()
    }


def test_maxby_equals_window_formulation(spark):
    cfg = SinkConfig()
    events = generate_cdc_events(
        spark,
        GenSpec(n_events=2000, n_conversations=40, turns_per_conversation=6,
                delete_fraction=0.05),
    )
    a = _norm(collapse_last_writer(events, cfg, PAYLOAD))
    b = _norm(collapse_last_writer_window(events, cfg, PAYLOAD))
    assert a == b


def test_collapse_cardinality_and_duplicates(spark):
    cfg = SinkConfig()
    spec = GenSpec(n_events=3000, n_conversations=50,
                   turns_per_conversation=8, duplicate_fraction=0.2)
    events = generate_cdc_events(spark, spec)
    collapsed = collapse_last_writer(events, cfg, PAYLOAD)
    n_keys = events.select("conv_id", "turn_idx").distinct().count()
    assert collapsed.count() == n_keys  # exactly one row per key


def test_collapse_picks_highest_offset(spark):
    cfg = SinkConfig()
    df = spark.createDataFrame(
        [
            (0, 1, "c", "a", 0, "user", "v1", None),
            (0, 5, "u", "a", 0, "user", "v5", None),
            (0, 3, "u", "a", 0, "user", "v3", None),
            (0, 4, "d", "a", 0, None, None, None),
        ],
        "kafka_partition int, kafka_offset long, op string, conv_id string, "
        "turn_idx int, role string, text string, ts timestamp",
    )
    r = collapse_last_writer(df, cfg, ["conv_id", "turn_idx", "role", "text", "ts"]).collect()[0]
    assert r[UPSERT_STRUCT]["text"] == "v5"
    # d@4 precedes the latest upsert u@5 → no WINNING delete (the later
    # upsert overwrites whatever the delete marked), but the earliest
    # delete offset is still carried for the update+hard-delete rule
    assert r[UPSERT_OFF] == 5 and r[DELETE_OFF] is None
    assert r[FIRST_DEL_OFF] == 4


def test_collapse_winner_delete_is_earliest_after_last_upsert(spark):
    """[c@1, d@2, c@3, d@4, d@6]: winner delete = d@4 (earliest after
    the last upsert c@3); d@2 is sandwiched, d@6 guard-blocked."""
    cfg = SinkConfig()
    rows = [
        (0, 1, "c", "a", 0, "user", "v1", None),
        (0, 2, "d", "a", 0, None, None, "2024-01-01 00:00:02"),
        (0, 3, "c", "a", 0, "user", "v3", None),
        (0, 4, "d", "a", 0, None, None, "2024-01-01 00:00:04"),
        (0, 6, "d", "a", 0, None, None, "2024-01-01 00:00:06"),
    ]
    df = spark.createDataFrame(
        rows,
        "kafka_partition int, kafka_offset long, op string, conv_id string, "
        "turn_idx int, role string, text string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    r = collapse_last_writer(
        df, cfg, ["conv_id", "turn_idx", "role", "text", "ts"],
    ).collect()[0]
    assert r[UPSERT_OFF] == 3 and r[UPSERT_STRUCT]["text"] == "v3"
    assert r[DELETE_OFF] == 4
    assert str(r[DELETE_STRUCT]["ts"]) == "2024-01-01 00:00:04"
    assert r[FIRST_DEL_OFF] == 2
