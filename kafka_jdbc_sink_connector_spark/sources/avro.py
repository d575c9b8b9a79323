"""Avro change-event decoding (the reference's production wire format:
Avro value/key converters + Schema Registry, ``BufferedRecordsTest.java:
94-99``).

Two decode paths, picked automatically:

* **spark-avro** (preferred): ``pyspark.sql.avro.functions.from_avro``
  — JVM-side, vectorized, handles logical types. Requires the
  ``org.apache.spark:spark-avro`` package on the cluster (it is an
  external module, not bundled with pyspark), so availability is
  probed at runtime.
* **fallback**: an Arrow-batched ``pandas_udf`` implementing the
  public Avro 1.x binary encoding (zigzag varints, length-prefixed
  strings/bytes, union branch indexes) for **flat records** — the only
  shape the reference ever handles (``BufferedRecords.java:89-96``:
  flat Struct values, no nesting). Where spark-avro is absent (the
  package is not bundled with pyspark) this IS the hot path of an Avro
  stream, so each writer schema is compiled once (:func:`_compile`:
  the JSON parsed and every field's reader planned) and a batch is
  decoded into column lists; :func:`decode_record` is the per-record
  form of the same compiled plan. The stream runners checkpoint the
  parsed micro-batch, so the UDF runs once per batch, not once per
  job that reads it.

Confluent wire format (magic byte ``0x00`` + 4-byte big-endian schema
id + Avro binary body) is stripped with :func:`confluent_payload` when
``confluent_wire=True`` — the framing Schema Registry serializers
prepend. :func:`avro_decode_column` decodes under one writer schema;
:func:`avro_decode_multi` routes each record by the schema id in its
frame.

Supported Avro types (the flat-CDC subset): null, boolean, int, long,
float, double, string, bytes, and ``["null", T]`` unions; logical
types ``timestamp-micros``/``timestamp-millis`` on long → Spark
timestamps, ``date`` on int → Spark dates, ``decimal`` on bytes →
``DecimalType(precision, scale)``, and ``time-millis`` on int /
``time-micros`` on long → **millis/micros-of-day integers** (the
dialect layer the reference inherits maps Connect ``Time`` alongside
Date/Timestamp/Decimal, ``BaseDialectTest.java:80-109``). The
time-of-day representation is deliberately the raw Avro integer:
Spark 4.1's ``TimeType`` cannot be written to parquet
(``UNSUPPORTED_TIME_TYPE``), so an int/long column is the only form
that survives the lake layer — and it is exactly what spark-avro
yields for these logical types when it lacks a TIME target, keeping
the two decoders identical. Consumers render with
``F.make_timestamp``/division as needed.
"""

from __future__ import annotations

import datetime as dt
import decimal as _dec
import json
import struct as _struct

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)


class AvroDecodeError(ValueError):
    pass


# --- schema mapping ---------------------------------------------------


def _field_type(ftype) -> tuple[str, str | None, bool, dict]:
    """Avro field type → (primitive, logical, nullable, attrs) where
    ``attrs`` carries logical-type parameters (decimal precision/scale)."""
    nullable = False
    if isinstance(ftype, list):  # union
        branches = [b for b in ftype if b != "null"]
        if len(branches) != 1 or len(branches) == len(ftype):
            raise AvroDecodeError(
                f"only ['null', T] unions are supported, got {ftype!r}"
            )
        nullable = "null" in ftype
        ftype = branches[0]
    if isinstance(ftype, dict):
        return ftype["type"], ftype.get("logicalType"), nullable, ftype
    return ftype, None, nullable, {}


_PRIM_TO_SPARK = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}


def avro_schema_to_struct(schema_json: str) -> T.StructType:
    """Flat Avro record schema (JSON) → Spark StructType."""
    sch = json.loads(schema_json)
    if sch.get("type") != "record":
        raise AvroDecodeError(f"top-level type must be record: {sch!r}")
    fields = []
    for f in sch["fields"]:
        prim, logical, nullable, attrs = _field_type(f["type"])
        if logical in ("timestamp-micros", "timestamp-millis"):
            spark_t: T.DataType = T.TimestampNTZType()
        elif logical == "date":
            spark_t = T.DateType()
        elif logical == "decimal" and prim == "bytes":
            # Connect's Decimal logical type (the dialect layer the
            # reference inherits maps it with scale-aware bindings,
            # BaseDialectTest.java:80-109): big-endian two's-complement
            # unscaled int in bytes + (precision, scale) attributes
            spark_t = T.DecimalType(
                int(attrs.get("precision", 38)), int(attrs.get("scale", 0))
            )
        elif logical in ("time-millis", "time-micros"):
            # millis-of-day int / micros-of-day long (see module
            # docstring: TimeType cannot reach parquet, and the raw
            # integer is decoder-portable)
            spark_t = (
                T.IntegerType() if logical == "time-millis"
                else T.LongType()
            )
        elif prim in _PRIM_TO_SPARK:
            spark_t = _PRIM_TO_SPARK[prim]
        else:
            raise AvroDecodeError(
                f"unsupported avro type {f['type']!r} for field {f['name']}"
            )
        fields.append(T.StructField(f["name"], spark_t, nullable))
    return T.StructType(fields)


# --- binary codec (public Avro 1.x spec) ------------------------------


def _zigzag_encode(n: int) -> bytes:
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _encode_value(prim: str, logical: str | None, v, attrs: dict) -> bytes:
    if logical in ("timestamp-micros", "timestamp-millis") and isinstance(
        v, dt.datetime
    ):
        unit = 1_000_000 if logical == "timestamp-micros" else 1_000
        v = int((v.replace(tzinfo=None) - _EPOCH).total_seconds() * unit)
    elif logical == "date" and isinstance(v, dt.date):
        v = (v - _EPOCH_DATE).days
    elif logical in ("time-millis", "time-micros") and isinstance(
        v, dt.time
    ):
        unit_us = 1_000 if logical == "time-millis" else 1
        v = (
            (v.hour * 3600 + v.minute * 60 + v.second) * 1_000_000
            + v.microsecond
        ) // unit_us
    elif logical == "decimal" and prim == "bytes":
        scale = int(attrs.get("scale", 0))
        unscaled = int(
            _dec.Decimal(str(v)).scaleb(scale).to_integral_value(
                rounding=_dec.ROUND_HALF_UP
            )
        )
        # minimal big-endian two's complement (Avro decimal spec)
        v = unscaled.to_bytes(
            (unscaled.bit_length() // 8) + 1, "big", signed=True
        )
    if prim in ("int", "long"):
        return _zigzag_encode(int(v))
    if prim == "boolean":
        return b"\x01" if v else b"\x00"
    if prim == "float":
        return _struct.pack("<f", float(v))
    if prim == "double":
        return _struct.pack("<d", float(v))
    if prim == "string":
        raw = str(v).encode("utf-8")
        return _zigzag_encode(len(raw)) + raw
    if prim == "bytes":
        return _zigzag_encode(len(v)) + bytes(v)
    raise AvroDecodeError(f"unsupported primitive {prim!r}")


def encode_record(schema_json: str, record: dict) -> bytes:
    """Encode one flat record to Avro binary (test-fixture writer —
    the mirror of the decoder below, same public spec)."""
    sch = json.loads(schema_json)
    out = bytearray()
    for f in sch["fields"]:
        prim, logical, nullable, attrs = _field_type(f["type"])
        v = record.get(f["name"])
        if nullable:
            null_branch = f["type"].index("null")
            if v is None:
                out += _zigzag_encode(null_branch)
                continue
            out += _zigzag_encode(1 - null_branch)
        elif v is None:
            raise AvroDecodeError(f"null for non-nullable field {f['name']}")
        out += _encode_value(prim, logical, v, attrs)
    return bytes(out)


def _read_long(b: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint at ``b[pos]`` → (value, next position)."""
    try:
        byte = b[pos]
    except IndexError:
        raise AvroDecodeError("truncated varint") from None
    if byte < 0x80:  # one-byte varint: |value| < 64
        return (byte >> 1) ^ -(byte & 1), pos + 1
    acc, shift = byte & 0x7F, 7
    while True:
        pos += 1
        if pos >= len(b):
            raise AvroDecodeError("truncated varint")
        byte = b[pos]
        acc |= (byte & 0x7F) << shift
        if byte < 0x80:
            return (acc >> 1) ^ -(acc & 1), pos + 1
        shift += 7


def _read_bytes(b, pos):
    n, pos = _read_long(b, pos)
    if n < 0:
        raise AvroDecodeError(f"negative length {n}")
    return b[pos:pos + n], pos + n


def _read_string(b, pos):
    n, pos = _read_long(b, pos)
    if n < 0:
        raise AvroDecodeError(f"negative length {n}")
    return b[pos:pos + n].decode("utf-8"), pos + n


def _read_boolean(b, pos):
    return b[pos:pos + 1] == b"\x01", pos + 1


def _read_float(b, pos):
    return _struct.unpack_from("<f", b, pos)[0], pos + 4


def _read_double(b, pos):
    return _struct.unpack_from("<d", b, pos)[0], pos + 8


_READERS = {
    "int": _read_long,
    "long": _read_long,
    "boolean": _read_boolean,
    "float": _read_float,
    "double": _read_double,
    "string": _read_string,
    "bytes": _read_bytes,
}


_FROM_LONG = {
    "timestamp-micros": lambda n: _EPOCH + dt.timedelta(microseconds=n),
    "timestamp-millis": lambda n: _EPOCH + dt.timedelta(milliseconds=n),
    "date": lambda n: _EPOCH_DATE + dt.timedelta(days=n),
}


def _field_reader(ftype):
    """One field's compiled reader ``(buf, pos) → (value, next pos)``:
    the union branch, primitive and logical-type conversion resolved
    once, not per record."""
    prim, logical, nullable, attrs = _field_type(ftype)
    if logical == "decimal" and prim == "bytes":
        exp = -int(attrs.get("scale", 0))

        def read(b, pos):
            raw, pos = _read_bytes(b, pos)
            unscaled = int.from_bytes(raw, "big", signed=True)
            return _dec.Decimal(unscaled).scaleb(exp), pos
    elif prim in ("int", "long") and logical in _FROM_LONG:
        conv = _FROM_LONG[logical]

        def read(b, pos):
            n, pos = _read_long(b, pos)
            return conv(n), pos
    elif prim in _READERS:
        read = _READERS[prim]
    else:
        raise AvroDecodeError(f"unsupported primitive {prim!r}")
    if not nullable:
        return read
    null_branch = ftype.index("null")

    def read_union(b, pos):
        branch, pos = _read_long(b, pos)
        if branch == null_branch:
            return None, pos
        if branch != 1 - null_branch:
            raise AvroDecodeError(f"union branch {branch} out of range")
        return read(b, pos)

    return read_union


def _compile(schema_json: str) -> tuple[tuple[str, ...], tuple]:
    """Writer schema JSON → (field names, field readers), parsed and
    planned once per schema."""
    fields = json.loads(schema_json)["fields"]
    return (
        tuple(f["name"] for f in fields),
        tuple(_field_reader(f["type"]) for f in fields),
    )


def _decode_body(readers, b: bytes, pos: int = 0) -> list:
    out = []
    for read in readers:
        v, pos = read(b, pos)
        out.append(v)
    return out


def decode_record(schema_json: str, payload: bytes) -> dict:
    """Decode one flat record (the per-record form of the compiled
    decoder the Spark fallback runs)."""
    names, readers = _compile(schema_json)
    return dict(zip(names, _decode_body(readers, bytes(payload))))


# --- Spark integration ------------------------------------------------


def confluent_payload(col: Column) -> Column:
    """Strip the Confluent wire-format header (magic 0x00 + 4-byte
    schema id) from a binary column."""
    return F.substring(col, 6, 2147483647)


def schema_id_column(col: Column) -> Column:
    """The 4-byte big-endian schema id embedded in a Confluent-framed
    binary column (bytes 2-5), as an int — JVM-side (hex → base-10)."""
    return F.conv(F.hex(F.substring(col, 2, 4)), 16, 10).cast("int")


def superset_struct(schemas: dict[int, str]) -> T.StructType:
    """Union of several writer schemas' fields by name — the read
    schema a multi-version stream decodes into. Field order follows
    first appearance over ascending schema id (schema evolution
    appends); every field is nullable (older writers null-backfill
    newer fields). Same-named fields must agree on type."""
    types: dict[str, T.DataType] = {}
    order: list[str] = []
    for sid in sorted(schemas):
        for f in avro_schema_to_struct(schemas[sid]).fields:
            if f.name in types:
                if types[f.name] != f.dataType:
                    raise AvroDecodeError(
                        f"field {f.name!r} changes type across writer "
                        f"schemas: {types[f.name]} vs {f.dataType} "
                        f"(id {sid})"
                    )
            else:
                types[f.name] = f.dataType
                order.append(f.name)
    return T.StructType(
        [T.StructField(n, types[n], True) for n in order]
    )


def avro_decode_multi(
    spark: SparkSession,
    col: Column,
    schemas: dict[int, str],
    decoder: str = "auto",
) -> Column:
    """Confluent-framed binary column → superset struct, routing each
    record by its embedded schema id.

    This is the Schema-Registry behavior the reference relies on: the
    Avro converter resolves the writer schema PER RECORD from the id in
    the frame (``BufferedRecords.java:176-184`` reacts to the resulting
    schema transitions; ``BufferedRecordsTest.java:94-99`` drives two
    schema versions through one connector). A micro-batch may therefore
    carry several writer-schema versions at once; records written under
    an older schema surface NULL for fields they predate, which is
    exactly the shape the engine's evolution operator expects.

    ``schemas`` maps registry schema id → Avro writer schema JSON.
    Unknown ids raise (registry miss). Framing is implied (the id IS
    the frame), so there is no ``confluent_wire`` flag here.
    """
    if not schemas:
        raise AvroDecodeError("schemas must map at least one schema id")
    target = superset_struct(schemas)
    use_spark = (
        decoder == "spark"
        or (decoder == "auto" and spark_avro_available(spark))
    )
    if decoder not in ("auto", "spark", "python"):
        raise ValueError(f"unknown decoder {decoder!r}")
    if use_spark:
        from pyspark.sql.avro.functions import from_avro

        sid = schema_id_column(col)
        body = confluent_payload(col)
        # mirror the python fallback exactly: NULL payload → NULL
        # struct (tombstones), bad magic byte → loud frame error —
        # same inputs must fail (or not) identically on both decoders
        # the length guard mirrors the python fallback's `len(b) < 5`
        # check: a truncated frame must fail as a frame error, not
        # yield a short schema id that could collide with a known one
        # and surface as a confusing decode error downstream
        out: Column = F.when(col.isNull(), F.lit(None).cast(target)).when(
            (F.length(col) < 5) | (F.substring(col, 1, 1) != F.lit(b"\x00")),
            F.raise_error(
                F.lit("not Confluent wire format (magic byte != 0)")
            ).cast(target),
        )
        for i in sorted(schemas):
            dec = from_avro(body, schemas[i])
            present = {
                f.name for f in avro_schema_to_struct(schemas[i]).fields
            }
            as_super = F.struct(
                *[
                    (
                        dec[f.name].cast(f.dataType)
                        if f.name in present
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in target.fields
                ]
            )
            out = out.when(sid == F.lit(i), as_super)
        # unknown id / malformed frame → fail the batch loudly, the
        # SAME behavior as the python fallback (a silent NULL struct
        # would quarantine the rows as 'keys missing' — data loss with
        # a misleading reason — and make identical pipelines behave
        # differently depending on which decoder the classpath picks)
        return out.otherwise(
            F.raise_error(
                F.concat(
                    F.lit("unknown schema id "),
                    F.coalesce(sid.cast("string"), F.lit("<bad frame>")),
                    F.lit(f" (registry miss); known: {sorted(schemas)}"),
                )
            ).cast(target)
        )

    slot = {f.name: i for i, f in enumerate(target.fields)}
    # compiled once per writer schema id: its field readers and the
    # superset column each field fills
    plans = {}
    for sid_k, sj in schemas.items():
        fnames, readers = _compile(sj)
        slots = [slot[n] for n in fnames]
        plans[sid_k] = (
            readers, None if slots == list(range(len(slot))) else slots
        )
    known = sorted(schemas)

    def plan_of(b: bytes):
        if len(b) < 5 or b[0] != 0:
            raise AvroDecodeError(
                "not Confluent wire format (magic byte != 0)"
            )
        sid_v = int.from_bytes(b[1:5], "big")
        plan = plans.get(sid_v)
        if plan is None:
            raise AvroDecodeError(
                f"unknown schema id {sid_v} (registry miss); known: "
                f"{known}"
            )
        return plan[0], plan[1], 5

    return _fallback_udf(target, plan_of)(col)


def spark_avro_available(spark: SparkSession) -> bool:
    """True when the external spark-avro module is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.spark.sql.avro.AvroDataToCatalyst"
        )
        return True
    except Exception:  # noqa: BLE001 — py4j raises opaque wrappers
        return False


def avro_decode_column(
    spark: SparkSession,
    col: Column,
    schema_json: str,
    confluent_wire: bool = False,
    decoder: str = "auto",
) -> Column:
    """Binary Avro column → struct column, via spark-avro when loaded,
    else the Arrow-batched fallback. ``decoder`` forces a path
    ('spark' | 'python' | 'auto')."""
    if confluent_wire:
        col = confluent_payload(col)
    use_spark = (
        decoder == "spark"
        or (decoder == "auto" and spark_avro_available(spark))
    )
    if decoder not in ("auto", "spark", "python"):
        raise ValueError(f"unknown decoder {decoder!r}")
    #: both decoder paths must yield the IDENTICAL struct type —
    #: spark-avro decodes timestamp-micros/millis as TimestampType
    #: while the schema mapping (and the fallback) uses TimestampNTZ —
    #: or the choice of decoder would leak downstream as spurious
    #: coerce_for_target casts / schema-evolution checks
    target = T.StructType(
        [
            T.StructField(f.name, f.dataType, True)
            for f in avro_schema_to_struct(schema_json).fields
        ]
    )
    if use_spark:
        from pyspark.sql.avro.functions import from_avro

        return from_avro(col, schema_json).cast(target)

    # the UDF evaluates on every row (EvalPython runs before when()
    # picks), so tombstones produce an all-null struct — every return
    # field must be nullable regardless of the Avro schema
    readers = _compile(schema_json)[1]
    return _fallback_udf(target, lambda b: (readers, None, 0))(col)


def _fallback_udf(target: T.StructType, plan_of):
    """The Arrow-batched fallback decoder: a ``pandas_udf`` binary →
    ``target`` struct. ``plan_of(payload)`` → ``(readers, slots,
    start)``: the writer schema's compiled field readers, the target
    column each fills (None: all, in order) and where the Avro body
    starts. NULL payloads (tombstones) decode to an all-NULL row.

    Output is built column-wise. Integer columns stay ``object`` dtype:
    pandas would turn a nullable int column into float64 and round
    values beyond 2**53."""
    names = [f.name for f in target.fields]
    ints = {
        f.name for f in target.fields
        if isinstance(f.dataType, (T.IntegerType, T.LongType))
    }
    nulls = (None,) * len(names)

    def _decode(s):  # pd.Series[bytes] -> pd.DataFrame (target rows)
        import pandas as pd

        rows = []
        for payload in s:
            if payload is None:
                rows.append(nulls)
                continue
            b = bytes(payload)
            readers, slots, pos = plan_of(b)
            vals = _decode_body(readers, b, pos)
            if slots is not None:
                row = list(nulls)
                for i, v in zip(slots, vals):
                    row[i] = v
                vals = row
            rows.append(vals)
        if not rows:
            return pd.DataFrame(columns=names)
        return pd.DataFrame(
            {
                n: pd.Series(c, dtype=object) if n in ints else list(c)
                for n, c in zip(names, zip(*rows))
            },
            columns=names,
        )

    return F.pandas_udf(_decode, returnType=target)
