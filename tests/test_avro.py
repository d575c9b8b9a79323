"""Avro decode path (the reference's production wire format: Avro
converters + Schema Registry, ``BufferedRecordsTest.java:94-99``).

The fixtures are Avro-binary-encoded with the in-repo writer (public
Avro 1.x spec) and framed with the Confluent magic+schema-id header,
then parsed through the same ``parse_kafka_records`` entry the JSON
tests use.
"""

from __future__ import annotations

import datetime as dt
import re
import struct
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.sources.avro import (
    AvroDecodeError,
    avro_schema_to_struct,
    decode_record,
    encode_record,
    spark_avro_available,
)
from kafka_jdbc_sink_connector_spark.sources.kafka import (
    KAFKA_WIRE_SCHEMA,
    parse_kafka_records,
)

VALUE_SCHEMA = """
{"type": "record", "name": "transcript_event", "fields": [
  {"name": "op", "type": "string"},
  {"name": "conv_id", "type": "string"},
  {"name": "turn_idx", "type": "int"},
  {"name": "role", "type": ["null", "string"]},
  {"name": "text", "type": ["null", "string"]},
  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}}
]}
"""

KEY_SCHEMA = """
{"type": "record", "name": "transcript_key", "fields": [
  {"name": "conv_id", "type": "string"},
  {"name": "turn_idx", "type": "int"}
]}
"""

TS = dt.datetime(2024, 1, 1, 12, 30, 45, 123456)


def _confluent(payload: bytes, schema_id: int = 7) -> bytes:
    return b"\x00" + struct.pack(">I", schema_id) + payload


def test_codec_roundtrip():
    rec = {"op": "c", "conv_id": "conv-1", "turn_idx": 3,
           "role": "user", "text": "héllo wörld", "ts": TS}
    blob = encode_record(VALUE_SCHEMA, rec)
    assert decode_record(VALUE_SCHEMA, blob) == rec
    # nullable fields roundtrip as None
    rec2 = dict(rec, role=None, text=None)
    assert decode_record(VALUE_SCHEMA, encode_record(VALUE_SCHEMA, rec2)) == rec2


def test_schema_mapping():
    st = avro_schema_to_struct(VALUE_SCHEMA)
    assert st["turn_idx"].dataType == T.IntegerType()
    assert st["role"].nullable and not st["op"].nullable
    assert isinstance(st["ts"].dataType, T.TimestampNTZType)
    with pytest.raises(AvroDecodeError, match="union"):
        avro_schema_to_struct(
            '{"type":"record","name":"x","fields":'
            '[{"name":"a","type":["int","string"]}]}'
        )


def _avro_kafka_row(partition, offset, key, value, schema_id=7):
    return (
        _confluent(encode_record(KEY_SCHEMA, key), schema_id)
        if key is not None else None,
        _confluent(encode_record(VALUE_SCHEMA, value), schema_id)
        if value is not None else None,
        "transcripts",
        partition,
        offset,
        None,
        0,
    )


def test_parse_avro_records_with_confluent_framing(spark):
    cfg = SinkConfig()
    rows = [
        _avro_kafka_row(0, 1, {"conv_id": "a", "turn_idx": 0},
                        {"op": "c", "conv_id": "a", "turn_idx": 0,
                         "role": "user", "text": "hi", "ts": TS}),
        # tombstone: null value → delete, keys from the Avro record key
        _avro_kafka_row(0, 2, {"conv_id": "a", "turn_idx": 0}, None),
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    parsed = parse_kafka_records(
        raw, None, cfg,
        value_format="avro",
        avro_value_schema=VALUE_SCHEMA,
        avro_key_schema=KEY_SCHEMA,
        confluent_wire=True,
    ).orderBy("kafka_offset").collect()
    assert parsed[0]["op"] == "c" and parsed[0]["text"] == "hi"
    assert parsed[0]["ts"] == TS  # timestamp-micros survives exactly
    assert parsed[1]["op"] == "d"
    assert parsed[1]["conv_id"] == "a" and parsed[1]["turn_idx"] == 0
    assert parsed[1]["text"] is None


def test_parse_avro_record_key_mode(spark):
    """pk_mode=record_key with an Avro-encoded key (keys absent from
    the value payload)."""
    value_schema = """
    {"type": "record", "name": "v", "fields": [
      {"name": "op", "type": "string"},
      {"name": "role", "type": ["null", "string"]},
      {"name": "text", "type": ["null", "string"]},
      {"name": "ts", "type": {"type": "long",
                              "logicalType": "timestamp-micros"}}
    ]}
    """
    cfg = SinkConfig()
    rows = [(
        _confluent(encode_record(KEY_SCHEMA,
                                 {"conv_id": "k", "turn_idx": 3})),
        _confluent(encode_record(value_schema,
                                 {"op": "u", "role": "assistant",
                                  "text": "yo", "ts": TS})),
        "transcripts", 1, 7, None, 0,
    )]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    parsed = parse_kafka_records(
        raw, None, cfg,
        pk_mode="record_key",
        value_format="avro",
        avro_value_schema=value_schema,
        avro_key_schema=KEY_SCHEMA,
        confluent_wire=True,
    ).collect()
    assert parsed[0]["conv_id"] == "k" and parsed[0]["turn_idx"] == 3
    assert parsed[0]["op"] == "u" and parsed[0]["text"] == "yo"


V2_SCHEMA = """
{"type": "record", "name": "transcript_event", "fields": [
  {"name": "op", "type": "string"},
  {"name": "conv_id", "type": "string"},
  {"name": "turn_idx", "type": "int"},
  {"name": "role", "type": ["null", "string"]},
  {"name": "text", "type": ["null", "string"]},
  {"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}},
  {"name": "tool", "type": ["null", "string"]}
]}
"""


def test_superset_struct_union_and_conflict():
    from kafka_jdbc_sink_connector_spark.sources.avro import superset_struct

    st = superset_struct({7: VALUE_SCHEMA, 9: V2_SCHEMA})
    assert [f.name for f in st.fields] == [
        "op", "conv_id", "turn_idx", "role", "text", "ts", "tool"
    ]
    assert all(f.nullable for f in st.fields)
    conflicting = VALUE_SCHEMA.replace(
        '{"name": "turn_idx", "type": "int"}',
        '{"name": "turn_idx", "type": "string"}',
    )
    with pytest.raises(AvroDecodeError, match="turn_idx"):
        superset_struct({7: conflicting, 9: V2_SCHEMA})


def test_multi_schema_batch_decodes_by_embedded_id(spark):
    """Schema-Registry parity: ONE batch carrying records under two
    writer-schema versions (per-record id in the Confluent frame,
    BufferedRecords.java:176-184) decodes to the superset — v1 records
    null-backfill the v2-only column."""
    cfg = SinkConfig()
    v1 = {"op": "c", "conv_id": "a", "turn_idx": 0,
          "role": "user", "text": "old", "ts": TS}
    v2 = {"op": "c", "conv_id": "b", "turn_idx": 1, "role": "tool",
          "text": "new", "ts": TS, "tool": "search"}
    rows = [
        (None, _confluent(encode_record(VALUE_SCHEMA, v1), 7),
         "transcripts", 0, 1, None, 0),
        (None, _confluent(encode_record(V2_SCHEMA, v2), 9),
         "transcripts", 0, 2, None, 0),
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    parsed = parse_kafka_records(
        raw, None, cfg, value_format="avro",
        avro_value_schemas={7: VALUE_SCHEMA, 9: V2_SCHEMA},
    ).orderBy("kafka_offset").collect()
    assert parsed[0]["text"] == "old" and parsed[0]["tool"] is None
    assert parsed[1]["tool"] == "search"
    assert parsed[0]["ts"] == TS and parsed[1]["ts"] == TS


def test_multi_schema_batch_applies_with_evolution(spark, tmp_table):
    """End-to-end: a mixed-version Avro batch goes through apply_batch;
    the v2-only column evolves onto the target and v1 rows read NULL."""
    import datetime as _dt

    from pyspark.sql import functions as F

    from kafka_jdbc_sink_connector_spark.apply import CdcApplier

    cfg = SinkConfig(n_buckets=4)
    applier = CdcApplier(
        spark, cfg, tmp_table,
        audit_ts=F.lit("2024-06-01T00:00:00Z").cast("timestamp"),
    )
    v1 = {"op": "c", "conv_id": "a", "turn_idx": 0,
          "role": "user", "text": "old", "ts": TS}
    v2 = {"op": "c", "conv_id": "b", "turn_idx": 1, "role": "tool",
          "text": "new", "ts": TS, "tool": "search"}
    rows = [
        (None, _confluent(encode_record(VALUE_SCHEMA, v1), 7),
         "transcripts", 0, 1, None, 0),
        (None, _confluent(encode_record(V2_SCHEMA, v2), 9),
         "transcripts", 0, 2, None, 0),
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    events = parse_kafka_records(
        raw, None, cfg, value_format="avro",
        avro_value_schemas={7: VALUE_SCHEMA, 9: V2_SCHEMA},
    )
    res = applier.apply_batch(events, batch_id=0)
    assert res.n_events == 2 and res.n_quarantined == 0
    got = {r["conv_id"]: r for r in applier.read_target().collect()}
    assert got["a"]["tool"] is None and got["b"]["tool"] == "search"
    assert got["a"]["ts"].replace(tzinfo=None) == TS.replace(tzinfo=None)


def test_multi_schema_record_key_mode(spark):
    """Registry routing applies to record KEYS too (pk_mode=record_key
    with a key-schema map): key versions route by embedded id."""
    k1 = KEY_SCHEMA
    k2 = KEY_SCHEMA.replace(
        '{"name": "turn_idx", "type": "int"}',
        '{"name": "turn_idx", "type": "int"},\n'
        '  {"name": "shard", "type": ["null", "string"]}',
    )
    v = {"op": "u", "conv_id": "ignored", "turn_idx": 0,
         "role": None, "text": "x", "ts": TS}
    rows = [
        (_confluent(encode_record(k1, {"conv_id": "a", "turn_idx": 1}), 3),
         _confluent(encode_record(VALUE_SCHEMA, v), 7),
         "t", 0, 1, None, 0),
        (_confluent(encode_record(
            k2, {"conv_id": "b", "turn_idx": 2, "shard": "s1"}), 4),
         _confluent(encode_record(VALUE_SCHEMA, v), 7),
         "t", 0, 2, None, 0),
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    parsed = parse_kafka_records(
        raw, None, SinkConfig(), pk_mode="record_key",
        value_format="avro",
        avro_value_schemas={7: VALUE_SCHEMA},
        avro_key_schemas={3: k1, 4: k2},
    ).orderBy("kafka_offset").collect()
    assert (parsed[0]["conv_id"], parsed[0]["turn_idx"]) == ("a", 1)
    assert (parsed[1]["conv_id"], parsed[1]["turn_idx"]) == ("b", 2)
    assert parsed[0]["shard"] is None and parsed[1]["shard"] == "s1"


@pytest.mark.parametrize("decoder", ["python", "spark"])
def test_multi_schema_truncated_frame_is_frame_error(spark, decoder):
    """A frame shorter than magic+id (5 bytes) must fail as a FRAME
    error on BOTH decoders — without the length guard the JVM path
    would read a short big-endian id that can collide with a known
    schema id and surface as a confusing decode error instead."""
    if decoder == "spark" and not spark_avro_available(spark):
        pytest.skip("spark-avro not on the classpath")
    cfg = SinkConfig()
    # 0x00 0x00 0x00: magic looks right, id truncated — and its short
    # read (0) could collide with a registry that maps id 0
    rows = [(None, b"\x00\x00\x00", "transcripts", 0, 1, None, 0)]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    parsed = parse_kafka_records(
        raw, None, cfg, value_format="avro",
        avro_value_schemas={0: VALUE_SCHEMA, 7: VALUE_SCHEMA},
        avro_decoder=decoder,
    )
    with pytest.raises(Exception, match="not Confluent wire format"):
        parsed.collect()


def test_multi_schema_unknown_id_raises(spark):
    cfg = SinkConfig()
    rows = [(None, _confluent(encode_record(VALUE_SCHEMA, {
        "op": "c", "conv_id": "a", "turn_idx": 0,
        "role": None, "text": None, "ts": TS}), 42),
        "transcripts", 0, 1, None, 0)]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    parsed = parse_kafka_records(
        raw, None, cfg, value_format="avro",
        avro_value_schemas={7: VALUE_SCHEMA},
        avro_decoder="python",
    )
    with pytest.raises(Exception, match="unknown schema id 42"):
        parsed.collect()


def test_avro_record_key_mode_requires_avro_key_schema(spark):
    """Config error up front, not an unresolved-column failure later."""
    cfg = SinkConfig()
    raw = spark.createDataFrame([], KAFKA_WIRE_SCHEMA)
    with pytest.raises(ValueError, match="avro_key_schema"):
        parse_kafka_records(
            raw, None, cfg, pk_mode="record_key",
            value_format="avro", avro_value_schema=VALUE_SCHEMA,
            key_schema=T.StructType([
                T.StructField("conv_id", T.StringType()),
                T.StructField("turn_idx", T.IntegerType()),
            ]),
        )


DECIMAL_SCHEMA = """
{"type": "record", "name": "payment_event", "fields": [
  {"name": "op", "type": "string"},
  {"name": "conv_id", "type": "string"},
  {"name": "turn_idx", "type": "int"},
  {"name": "amount", "type": ["null", {"type": "bytes",
    "logicalType": "decimal", "precision": 12, "scale": 2}]},
  {"name": "ts", "type": {"type": "long",
                          "logicalType": "timestamp-micros"}}
]}
"""


def test_decimal_logical_type_end_to_end(spark, tmp_table):
    """Connect Decimal parity (BaseDialectTest.java:80-109): Avro
    bytes+decimal → DecimalType(12,2) → validate/merge → exact values
    out, cross-checked by DuckDB reading the committed parquet files."""
    import decimal
    import os

    import duckdb
    from pyspark.sql import functions as F

    from kafka_jdbc_sink_connector_spark.apply import CdcApplier

    D = decimal.Decimal
    st = avro_schema_to_struct(DECIMAL_SCHEMA)
    assert st["amount"].dataType == T.DecimalType(12, 2)
    # codec roundtrip incl. negative (two's complement) and big values
    for v in (D("123.45"), D("-7.89"), D("9999999999.99"), D("0.01")):
        rec = {"op": "c", "conv_id": "k", "turn_idx": 0,
               "amount": v, "ts": TS}
        assert decode_record(
            DECIMAL_SCHEMA, encode_record(DECIMAL_SCHEMA, rec)
        )["amount"] == v

    events = [
        ("a", 0, 1, "c", D("123.45")),
        ("a", 0, 2, "u", D("-7.89")),       # LWW: final value
        ("b", 1, 3, "c", D("9999999999.99")),
    ]
    rows = [
        (None,
         _confluent(encode_record(DECIMAL_SCHEMA, {
             "op": op, "conv_id": cid, "turn_idx": ti,
             "amount": amt, "ts": TS})),
         "payments", 0, off, None, 0)
        for cid, ti, off, op, amt in events
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    cfg = SinkConfig(n_buckets=2, delete_retain_fields=("ts",))
    parsed = parse_kafka_records(
        raw, None, cfg, value_format="avro",
        avro_value_schema=DECIMAL_SCHEMA, confluent_wire=True,
    )
    applier = CdcApplier(
        spark, cfg, tmp_table,
        audit_ts=F.lit("2024-06-01T00:00:00Z").cast("timestamp"),
    )
    res = applier.apply_batch(parsed, batch_id=0)
    assert res.n_events == 3 and res.n_quarantined == 0
    tgt = applier.read_target()
    assert tgt.schema["amount"].dataType == T.DecimalType(12, 2)
    got = {r["conv_id"]: r["amount"] for r in tgt.collect()}
    assert got == {"a": D("-7.89"), "b": D("9999999999.99")}
    # DuckDB reads the committed snapshot files and agrees on exact
    # cents — the physical parquet decimal is portable, not engine-local
    files = [os.path.join(tmp_table, f)
             for f in applier.table().snapshot.files()]
    (total,) = duckdb.sql(
        "SELECT sum(CAST(amount * 100 AS BIGINT)) FROM read_parquet($f)",
        params={"f": files},
    ).fetchone()
    assert total == int(sum(v * 100 for v in got.values()))


TIME_SCHEMA = """
{"type": "record", "name": "shift_event", "fields": [
  {"name": "op", "type": "string"},
  {"name": "conv_id", "type": "string"},
  {"name": "turn_idx", "type": "int"},
  {"name": "start_ms", "type": ["null", {"type": "int",
    "logicalType": "time-millis"}]},
  {"name": "start_us", "type": ["null", {"type": "long",
    "logicalType": "time-micros"}]},
  {"name": "ts", "type": {"type": "long",
                          "logicalType": "timestamp-micros"}}
]}
"""


def test_time_logical_type_end_to_end(spark, tmp_table):
    """Connect Time parity (BaseDialectTest.java:80-109,184): Avro
    time-millis/time-micros decode to millis/micros-of-day integers
    (Spark 4.1 TimeType cannot be written to parquet — the raw integer
    is the only lake-safe representation), flow through validate/merge,
    and DuckDB agrees on the committed values."""
    import os

    import duckdb
    from pyspark.sql import functions as F

    from kafka_jdbc_sink_connector_spark.apply import CdcApplier

    st = avro_schema_to_struct(TIME_SCHEMA)
    assert st["start_ms"].dataType == T.IntegerType()
    assert st["start_us"].dataType == T.LongType()

    # codec: datetime.time encodes to its of-day integer; ints pass
    # through; decode yields the documented integer representation
    t = dt.time(12, 30, 45, 123456)
    ms = ((12 * 3600 + 30 * 60 + 45) * 1000) + 123
    us = ((12 * 3600 + 30 * 60 + 45) * 1_000_000) + 123456
    rec = {"op": "c", "conv_id": "k", "turn_idx": 0,
           "start_ms": t, "start_us": t, "ts": TS}
    out = decode_record(TIME_SCHEMA, encode_record(TIME_SCHEMA, rec))
    assert out["start_ms"] == ms and out["start_us"] == us
    rec_int = dict(rec, start_ms=ms, start_us=us)
    out2 = decode_record(TIME_SCHEMA, encode_record(TIME_SCHEMA, rec_int))
    assert out2["start_ms"] == ms and out2["start_us"] == us

    events = [
        ("a", 1, "c", dt.time(0, 0, 0)),
        ("a", 2, "u", t),                  # LWW: final value
        ("b", 3, "c", dt.time(23, 59, 59, 999000)),
    ]
    rows = [
        (None,
         _confluent(encode_record(TIME_SCHEMA, {
             "op": op, "conv_id": cid, "turn_idx": 0,
             "start_ms": tv, "start_us": tv, "ts": TS})),
         "shifts", 0, off, None, 0)
        for cid, off, op, tv in events
    ]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    cfg = SinkConfig(n_buckets=2, delete_retain_fields=("ts",))
    parsed = parse_kafka_records(
        raw, None, cfg, value_format="avro",
        avro_value_schema=TIME_SCHEMA, confluent_wire=True,
    )
    applier = CdcApplier(
        spark, cfg, tmp_table,
        audit_ts=F.lit("2024-06-01T00:00:00Z").cast("timestamp"),
    )
    res = applier.apply_batch(parsed, batch_id=0)
    assert res.n_events == 3 and res.n_quarantined == 0
    tgt = applier.read_target()
    assert tgt.schema["start_ms"].dataType == T.IntegerType()
    assert tgt.schema["start_us"].dataType == T.LongType()
    got = {r["conv_id"]: (r["start_ms"], r["start_us"])
           for r in tgt.collect()}
    end_ms = (23 * 3600 + 59 * 60 + 59) * 1000 + 999
    assert got == {"a": (ms, us), "b": (end_ms, end_ms * 1000)}
    # DuckDB reads the committed snapshot and reconstructs the same
    # times of day from the integer columns — value-hash portability
    files = [os.path.join(tmp_table, f)
             for f in applier.table().snapshot.files()]
    rows_db = dict(duckdb.sql(
        "SELECT conv_id, CAST(make_time(start_ms // 3600000, "
        "(start_ms // 60000) % 60, "
        "((start_ms % 60000) / 1000.0)) AS TIME) "
        "FROM read_parquet($f) ORDER BY conv_id",
        params={"f": files},
    ).fetchall())
    assert rows_db["a"] == t.replace(microsecond=123000)
    assert rows_db["b"] == dt.time(23, 59, 59, 999000)


def test_decoder_selection(spark):
    """'auto' must fall back to the Arrow UDF when the external
    spark-avro module is absent (it is not bundled with pyspark)."""
    assert isinstance(spark_avro_available(spark), bool)
    cfg = SinkConfig()
    rows = [_avro_kafka_row(0, 1, {"conv_id": "a", "turn_idx": 0},
                            {"op": "c", "conv_id": "a", "turn_idx": 0,
                             "role": None, "text": "x", "ts": TS})]
    raw = spark.createDataFrame(rows, KAFKA_WIRE_SCHEMA)
    out = parse_kafka_records(
        raw, None, cfg, value_format="avro",
        avro_value_schema=VALUE_SCHEMA, confluent_wire=True,
        avro_decoder="python",  # explicit fallback works everywhere
    ).collect()
    assert out[0]["text"] == "x"
    with pytest.raises(ValueError, match="unknown decoder"):
        parse_kafka_records(
            raw, None, cfg, value_format="avro",
            avro_value_schema=VALUE_SCHEMA, avro_decoder="bogus",
        ).collect()


#: every type the fallback decoder supports, both union orders
ALL_TYPES_SCHEMA = """
{"type": "record", "name": "all_types", "fields": [
  {"name": "i", "type": "int"},
  {"name": "l", "type": "long"},
  {"name": "f", "type": "float"},
  {"name": "d", "type": "double"},
  {"name": "b", "type": "boolean"},
  {"name": "s", "type": "string"},
  {"name": "by", "type": "bytes"},
  {"name": "dec", "type": {"type": "bytes", "logicalType": "decimal",
                           "precision": 12, "scale": 3}},
  {"name": "tsu", "type": {"type": "long",
                           "logicalType": "timestamp-micros"}},
  {"name": "tsm", "type": ["null", {"type": "long",
                                    "logicalType": "timestamp-millis"}]},
  {"name": "day", "type": [{"type": "int", "logicalType": "date"}, "null"]},
  {"name": "tm", "type": {"type": "int", "logicalType": "time-millis"}},
  {"name": "tu", "type": ["null", {"type": "long",
                                   "logicalType": "time-micros"}]},
  {"name": "nl", "type": ["long", "null"]},
  {"name": "ns", "type": ["null", "string"]}
]}
"""
#: an older writer schema of the same stream: a prefix of the fields
OLD_TYPES_SCHEMA = """
{"type": "record", "name": "all_types", "fields": [
  {"name": "i", "type": "int"},
  {"name": "l", "type": "long"},
  {"name": "nl", "type": ["long", "null"]}
]}
"""

ALL_TYPES_RECORDS = [
    {"i": -2**31, "l": 2**63 - 1, "f": 1.5, "d": -1e300, "b": True,
     "s": "héllo 𝄞", "by": b"\x00\xff", "dec": Decimal("-123456789.125"),
     "tsu": TS, "tsm": dt.datetime(1969, 12, 31, 23, 59, 59, 999000),
     "day": dt.date(1, 1, 1), "tm": 86_399_999, "tu": 0,
     "nl": 2**62 + 1, "ns": "x"},
    {"i": 0, "l": -2**63, "f": -0.25, "d": 0.0, "b": False, "s": "",
     "by": b"", "dec": Decimal("0.001"), "tsu": dt.datetime(1970, 1, 1),
     "tsm": None, "day": None, "tm": 0, "tu": None, "nl": None,
     "ns": None},
    {"i": 63, "l": 64, "f": 3.0, "d": 2.5, "b": True, "s": "a" * 300,
     "by": bytes(range(256)), "dec": Decimal("999999999.999"),
     "tsu": dt.datetime(2262, 4, 11), "tsm": TS.replace(microsecond=123000),
     "day": dt.date(2024, 2, 29), "tm": 1, "tu": 86_399_999_999,
     "nl": -(2**62) - 3, "ns": ""},
]


def test_compiled_decoder_matches_decode_record(spark):
    """The Spark fallback (compiled per writer schema, built column-wise)
    and ``decode_record`` give the same rows, equal to the encoded
    records, over every supported type — in a batch carrying two schema
    ids and a tombstone. Values beyond 2**53 in a nullable long column
    that also holds a NULL keep every digit."""
    from pyspark.sql import functions as F

    from kafka_jdbc_sink_connector_spark.sources.avro import (
        avro_decode_column,
        avro_decode_multi,
    )

    schemas = {10: OLD_TYPES_SCHEMA, 11: ALL_TYPES_SCHEMA}
    old_rec = {"i": 7, "l": -8, "nl": 2**53 + 1}
    frames = [_confluent(encode_record(ALL_TYPES_SCHEMA, r), 11)
              for r in ALL_TYPES_RECORDS]
    frames += [_confluent(encode_record(OLD_TYPES_SCHEMA, old_rec), 10),
               None]
    # one partition: one Arrow batch holds the big longs and the NULLs
    df = spark.createDataFrame(
        list(enumerate(frames)), "n int, v binary"
    ).coalesce(1)
    names = [f.name for f in avro_schema_to_struct(ALL_TYPES_SCHEMA).fields]

    def expected(frame):
        if frame is None:
            return dict.fromkeys(names)
        sid = struct.unpack(">I", frame[1:5])[0]
        rec = decode_record(schemas[sid], frame[5:])
        return {n: rec.get(n) for n in names}

    want = [expected(f) for f in frames]
    assert want[:3] == ALL_TYPES_RECORDS
    assert want[3] == {n: old_rec.get(n) for n in names}

    got = [
        r["d"].asDict() if r["d"] is not None else dict.fromkeys(names)
        for r in df.select(
            "n", avro_decode_multi(spark, F.col("v"), schemas,
                                   decoder="python").alias("d")
        ).orderBy("n").collect()
    ]
    assert got == want

    single = [
        r["d"].asDict() for r in df.filter("n < 3").select(
            "n", avro_decode_column(spark, F.col("v"), ALL_TYPES_SCHEMA,
                                    confluent_wire=True,
                                    decoder="python").alias("d")
        ).orderBy("n").collect()
    ]
    assert single == ALL_TYPES_RECORDS


def test_compiled_decoder_errors_keep_their_messages(spark):
    from pyspark.sql import functions as F

    from kafka_jdbc_sink_connector_spark.sources.avro import avro_decode_multi

    schemas = {10: OLD_TYPES_SCHEMA, 11: ALL_TYPES_SCHEMA}
    body = encode_record(OLD_TYPES_SCHEMA, {"i": 1, "l": 2, "nl": None})
    for frame, msg in (
        (b"\x01" + body, "not Confluent wire format (magic byte != 0)"),
        (_confluent(body, 42),
         "unknown schema id 42 (registry miss); known: [10, 11]"),
    ):
        df = spark.createDataFrame([(frame,)], "v binary")
        with pytest.raises(Exception, match=re.escape(msg)):
            df.select(avro_decode_multi(spark, F.col("v"), schemas,
                                        decoder="python")).collect()
    with pytest.raises(AvroDecodeError, match="truncated varint"):
        decode_record(OLD_TYPES_SCHEMA, body[:1])
