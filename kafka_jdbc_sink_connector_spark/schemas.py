"""Canonical StructTypes for the engine (FIXTURES.md F1-F5).

The reference's schema system is dynamic and per-record (Avro + Schema
Registry, ``BufferedRecords.java:176-195``); here the equivalent is a
small set of versioned ``StructType`` values plus helpers to diff and
evolve them (nullable-add only, like ``auto.evolve=true`` with optional
columns, ``BufferedRecordsTest.java:64-74``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- F1: target transcripts table -----------------------------------

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("op_type", T.StringType(), True),
        T.StructField("audit_ts", T.TimestampType(), True),
    ]
)

#: evolution step 1 adds `tool`, step 2 adds `meta_source` (both
#: nullable — mirrors optional int32 `age` in schema B of the reference
#: test, `BufferedRecordsTest.java:64-74`).
TRANSCRIPT_SCHEMA_V2 = T.StructType(
    TRANSCRIPT_SCHEMA.fields + [T.StructField("tool", T.StringType(), True)]
)
TRANSCRIPT_SCHEMA_V3 = T.StructType(
    TRANSCRIPT_SCHEMA_V2.fields
    + [T.StructField("meta_source", T.StringType(), True)]
)

# --- F2: change-event input ------------------------------------------

_CDC_COMMON = [
    T.StructField("kafka_partition", T.IntegerType(), False),
    T.StructField("kafka_offset", T.LongType(), False),
    T.StructField("op", T.StringType(), False),
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("schema_version", T.IntegerType(), False),
]

CDC_EVENT_SCHEMA_V1 = T.StructType(list(_CDC_COMMON))
CDC_EVENT_SCHEMA_V2 = T.StructType(
    list(_CDC_COMMON) + [T.StructField("tool", T.StringType(), True)]
)
CDC_EVENT_SCHEMA_V3 = T.StructType(
    list(_CDC_COMMON)
    + [
        T.StructField("tool", T.StringType(), True),
        T.StructField("meta_source", T.StringType(), True),
    ]
)

CDC_EVENT_SCHEMAS = {
    1: CDC_EVENT_SCHEMA_V1,
    2: CDC_EVENT_SCHEMA_V2,
    3: CDC_EVENT_SCHEMA_V3,
}

#: event columns that are transport metadata, not payload
CDC_META_COLUMNS = ("kafka_partition", "kafka_offset", "op", "schema_version")

# --- F4: quarantine --------------------------------------------------

QUARANTINE_SCHEMA = T.StructType(
    [
        T.StructField("raw", T.StringType(), True),
        T.StructField("error", T.StringType(), False),
        T.StructField("kafka_partition", T.IntegerType(), True),
        T.StructField("kafka_offset", T.LongType(), True),
        T.StructField("batch_id", T.LongType(), True),
    ]
)

# --- F5: lineage ------------------------------------------------------

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("kafka_partition", T.IntegerType(), True),
        T.StructField("min_offset", T.LongType(), True),
        T.StructField("max_offset", T.LongType(), True),
        T.StructField("n_insert", T.LongType(), False),
        T.StructField("n_update", T.LongType(), False),
        T.StructField("n_delete", T.LongType(), False),
        T.StructField("n_quarantined", T.LongType(), False),
        T.StructField("snapshot_version", T.LongType(), True),
    ]
)


def missing_nullable_fields(
    target: T.StructType, incoming: T.StructType
) -> list[T.StructField]:
    """Fields present in ``incoming`` but absent from ``target``.

    These are the auto-evolve candidates (added as nullable, the only
    evolution the reference performs — ``DbStructure.createOrAmendIfNecessary``
    adds optional columns, ``BufferedRecords.java:186-195``).
    """
    have = {f.name for f in target.fields}
    return [
        T.StructField(f.name, f.dataType, True)
        for f in incoming.fields
        if f.name not in have
    ]


def schema_compatible(target: T.StructType, incoming: T.StructType) -> list[str]:
    """Return a list of incompatibility reasons (empty = compatible).

    Only same-name same-type is accepted; type changes are rejected
    (the reference likewise never alters a column's type).
    """
    by_name = {f.name: f for f in target.fields}
    problems = []
    for f in incoming.fields:
        t = by_name.get(f.name)
        if t is not None and t.dataType != f.dataType:
            problems.append(
                f"column {f.name}: incompatible type change "
                f"{t.dataType.simpleString()} -> {f.dataType.simpleString()}"
            )
    return problems
