"""Seeded benchmark inputs, written once per run during set-up.

Change events come from the package's own generator
(``datagen.generate_cdc_events``: Zipf conversation popularity, ~20%
updates, 1% deletes, 2% redeliveries, schema v1 -> v2 -> v3 along the
offset axis). They are collected once to Arrow and cut into
micro-batch files with pyarrow, so every timed batch is one small
parquet file and the oracle sees exactly the rows the engine sees.

Two encodings:

* decoded event frames (``write_event_batches``) for the MOR
  workload. Each file carries only the columns of the highest
  schema version inside it, so the engine really evolves its target
  when the first v2 and v3 batches arrive;
* Kafka wire records (``write_wire_batches``): Confluent-framed Avro
  values under three writer-schema ids, a hot-key storm and a few
  poison records, in files of the Kafka source's wire schema.
"""

from __future__ import annotations

import os
import random
import struct
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from kafka_jdbc_sink_connector_spark.datagen import GenSpec, generate_cdc_events
from kafka_jdbc_sink_connector_spark.schemas import CDC_EVENT_SCHEMAS
from kafka_jdbc_sink_connector_spark.sources.avro import encode_record

_AVRO_V1_FIELDS = [
    '{"name": "op", "type": "string"}',
    '{"name": "conv_id", "type": "string"}',
    '{"name": "turn_idx", "type": "int"}',
    '{"name": "role", "type": ["null", "string"]}',
    '{"name": "text", "type": ["null", "string"]}',
    '{"name": "ts", "type": {"type": "long", "logicalType": "timestamp-micros"}}',
]
_AVRO_EXTRA = {
    2: ['{"name": "tool", "type": ["null", "string"]}'],
    3: ['{"name": "tool", "type": ["null", "string"]}',
        '{"name": "meta_source", "type": ["null", "string"]}'],
}


def avro_schema(version: int) -> str:
    fields = _AVRO_V1_FIELDS + _AVRO_EXTRA.get(version, [])
    return ('{"type": "record", "name": "transcript_event", "fields": ['
            + ", ".join(fields) + "]}")


#: registry schema id of each writer-schema version
SCHEMA_IDS = {1: 101, 2: 102, 3: 103}

_WIRE_SCHEMA = pa.schema([
    ("key", pa.binary()),
    ("value", pa.binary()),
    ("topic", pa.string()),
    ("partition", pa.int32()),
    ("offset", pa.int64()),
    ("timestamp", pa.timestamp("us", tz="UTC")),
    ("timestampType", pa.int32()),
])


@dataclass(frozen=True)
class Layout:
    """Offsets ``[0, boot)`` form the bootstrap batch; after it come
    ``n_batches`` batches of ``batch_events`` each."""

    boot: int
    batch_events: int
    n_batches: int

    @property
    def n_events(self) -> int:
        return self.boot + self.batch_events * self.n_batches

    def bounds(self, i: int) -> tuple[int, int]:
        lo = self.boot + i * self.batch_events
        return lo, lo + self.batch_events


def generate_events(spark, layout: Layout, seed: int, n_conversations: int,
                    turns: int, v2_at: int, v3_at: int) -> list[dict]:
    """All events of a run as dicts in offset order. Schema v2 starts
    at offset ``v2_at`` and v3 at ``v3_at``."""
    n = layout.n_events
    spec = GenSpec(
        n_events=n, n_conversations=n_conversations,
        turns_per_conversation=turns, seed=seed,
        v1_until=v2_at / n, v2_until=v3_at / n,
    )
    tbl = generate_cdc_events(spark, spec).toArrow()
    return sorted(tbl.to_pylist(), key=lambda e: e["kafka_offset"])


def _event_table(rows: list[dict]) -> pa.Table:
    version = max(r["schema_version"] for r in rows)
    names = [f.name for f in CDC_EVENT_SCHEMAS[version].fields]
    types = {
        "kafka_partition": pa.int32(), "kafka_offset": pa.int64(),
        "turn_idx": pa.int32(), "schema_version": pa.int32(),
        "ts": pa.timestamp("us", tz="UTC"),
    }
    return pa.table({
        c: pa.array([r[c] for r in rows], type=types.get(c, pa.string()))
        for c in names
    })


def write_event_batches(events: list[dict], layout: Layout, out_dir: str) -> list[str]:
    """``boot.parquet`` plus one file per batch; returns the paths in
    order (bootstrap first)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = [os.path.join(out_dir, "boot.parquet")]
    pq.write_table(_event_table(events[:layout.boot]), paths[0])
    for i in range(layout.n_batches):
        lo, hi = layout.bounds(i)
        paths.append(os.path.join(out_dir, f"b{i:05d}.parquet"))
        pq.write_table(_event_table(events[lo:hi]), paths[-1])
    return paths


def add_hot_key_storm(events: list[dict], seed: int, start: int,
                      hot_keys: int = 4, share: float = 0.3) -> None:
    """From offset ``start`` on, redirect ``share`` of the non-delete
    events to ``hot_keys`` keys of one conversation (in place)."""
    rng = random.Random(seed * 7919 + 1)
    for e in events[start:]:
        if e["op"] != "d" and rng.random() < share:
            e["conv_id"] = "conv-hot"
            e["turn_idx"] = rng.randrange(hot_keys)
            e["text"] = f"storm {e['kafka_offset']}"


def add_poison(events: list[dict], seed: int, share: float = 0.005) -> None:
    """Give ``share`` of the events an op outside the sink's
    vocabulary (in place); each must land in quarantine."""
    rng = random.Random(seed * 104729 + 2)
    for e in events:
        if rng.random() < share:
            e["op"] = "x"


def _frame(rec: dict) -> bytes:
    version = rec["schema_version"]
    body = encode_record(avro_schema(version), rec)
    return b"\x00" + struct.pack(">I", SCHEMA_IDS[version]) + body


def write_wire_batches(events: list[dict], layout: Layout, out_dir: str) -> list[str]:
    """One Kafka wire-record file per batch after the bootstrap slice;
    returns the paths in order."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i in range(layout.n_batches):
        lo, hi = layout.bounds(i)
        rows = events[lo:hi]
        tbl = pa.table({
            "key": pa.array([None] * len(rows), type=pa.binary()),
            "value": [_frame(r) for r in rows],
            "topic": ["transcripts"] * len(rows),
            "partition": [r["kafka_partition"] for r in rows],
            "offset": [r["kafka_offset"] for r in rows],
            "timestamp": [r["ts"] for r in rows],
            "timestampType": [0] * len(rows),
        }, schema=_WIRE_SCHEMA)
        paths.append(os.path.join(out_dir, f"w{i:05d}.parquet"))
        pq.write_table(tbl, paths[-1])
    return paths
