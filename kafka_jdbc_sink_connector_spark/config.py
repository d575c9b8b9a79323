"""Engine configuration.

Mirrors the reference connector's config surface
(``JdbcAuditSinkConfig.java:34-122`` — insert mode, delete mode,
``delete.as.update.*``, audit columns, pk fields, batch size, retries)
as a validated dataclass. Parsing/validation behaviors the reference
encodes (enum validation ``JdbcAuditSinkConfig.java:132-168``, the
``col=value`` condition-list parse at ``:102-122``, value ``"null"`` →
SQL NULL) are reproduced as Python-level checks.

Fidelity notes (SURVEY.md §2 fidelity list):

* ``delete.mode=DELETE`` NPEs in the reference (uninitialized
  soft-delete statement, ``BufferedRecords.java:133,222``); this engine
  implements hard delete *correctly* as a first-class mode.
* ``audit.scn.column`` is parsed-but-dead config in the reference
  (``JdbcAuditSinkConfig.java:97-107`` and no read sites); we accept and
  ignore it, preserving the "required but unused" quirk only as an
  optional field.
* the ``col != NULL`` guard quirk (``BufferedRecords.java:296-298``) is
  three-valued-logic faithful by default (a NULL guard value produces a
  disjunct that never passes); set ``guard_null_is_not_null=True`` to
  translate intent as ``col IS NOT NULL`` instead.
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field


class InsertMode(str, enum.Enum):
    """How non-delete change events reach the target table.

    Reference: inherited ``insert.mode`` (test config uses ``UPSERT``,
    ``BufferedRecordsTest.java:41``).
    """

    INSERT = "insert"  # append-only, no key matching
    UPSERT = "upsert"  # MERGE: update matched, insert unmatched
    UPDATE = "update"  # MERGE: update matched, drop unmatched


class DeleteMode(str, enum.Enum):
    """How delete events are applied.

    Reference enum ``JdbcAuditSinkConfig.java:128-130`` (NONE / UPDATE /
    DELETE); UPDATE = soft delete ("delete as update").
    """

    NONE = "none"  # delete events are ignored
    UPDATE = "update"  # soft delete: mark row, retain subset of fields
    DELETE = "delete"  # hard delete: remove the row


class ConfigError(ValueError):
    """Invalid engine configuration (mirrors ConfigException paths)."""


def parse_conditions(spec: str) -> list[tuple[str, str | None]]:
    """Parse a ``delete.as.update.identifier``-style condition list.

    ``"OP_TYPE=D,HIST_STATUS=null"`` → ``[("OP_TYPE", "D"),
    ("HIST_STATUS", None)]``. The literal value ``"null"`` maps to SQL
    NULL, mirroring ``JdbcAuditSinkConfig.java:102-122``. The first
    entry is the soft-delete marker column/value; all entries form the
    "not already deleted" guard (``BufferedRecords.java:287-303``).
    """
    out: list[tuple[str, str | None]] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if "=" not in part:
            raise ConfigError(
                f"condition {part!r} must be of the form col=value"
            )
        col, _, value = part.partition("=")
        col = col.strip()
        if not col:
            raise ConfigError(f"condition {part!r} has an empty column")
        value = value.strip()
        out.append((col, None if value.lower() == "null" else value))
    if not out:
        raise ConfigError("empty condition list")
    return out


@dataclass
class SinkConfig:
    """Full engine configuration (reference: ``JdbcAuditSinkConfig``).

    ``pk_mode`` is record_value in the reference (hard-coded,
    ``BufferedRecords.java:45``): key fields are plain columns of the
    change-event row, which is also how this engine works.
    """

    # --- identity / routing (O3) -------------------------------------
    table_name_format: str = "${topic}"

    # --- keys / projection (O21, O22) --------------------------------
    pk_fields: tuple[str, ...] = ("conv_id", "turn_idx")
    fields_whitelist: tuple[str, ...] | None = None

    # --- apply semantics (O8-O13) ------------------------------------
    insert_mode: InsertMode = InsertMode.UPSERT
    delete_mode: DeleteMode = DeleteMode.UPDATE
    #: change-event op column; values `c`/`u` upsert, `d` delete
    #: (Debezium-style; reference identifies deletes by the value field
    #: condition `delete.as.update.identifier=OP_TYPE=D`).
    op_column: str = "op"
    op_delete_value: str = "d"
    #: op value classified as insert for lineage counts; any other
    #: non-delete valid op counts as update (Debezium: u=update,
    #: r=snapshot read).
    op_insert_value: str = "c"
    op_update_values: tuple[str, ...] = ("u", "r")
    #: soft-delete marker + guard conditions, first entry is the marker
    #: written on soft delete (reference `delete.as.update.identifier`).
    soft_delete_conditions: tuple[tuple[str, str | None], ...] = (
        ("op_type", "D"),
    )
    #: value fields retained (overwritten from the delete event) on soft
    #: delete — reference `delete.as.update.value.schema`
    #: (`BufferedRecordsTest.java:45` uses [UPDATE_TIME, TABLE_NAME]).
    delete_retain_fields: tuple[str, ...] = ("ts",)
    #: keys used by the soft-delete match — reference
    #: `delete.as.update.key` (defaults to pk_fields when None).
    delete_as_update_key: tuple[str, ...] | None = None
    guard_null_is_not_null: bool = False

    # --- audit columns (O11) -----------------------------------------
    audit_ts_column: str = "audit_ts"
    #: accepted-and-ignored, like the reference's dead `audit.scn.column`
    audit_scn_column: str | None = None

    # --- ordering ----------------------------------------------------
    #: ordering authority within a key: applied in ascending order,
    #: last writer wins (reference applies in Kafka offset order,
    #: `BufferedRecords.java:103`).
    order_by_columns: tuple[str, ...] = ("kafka_offset",)
    partition_column: str = "kafka_partition"
    offset_column: str = "kafka_offset"

    # --- target layout / scale ---------------------------------------
    #: "cow" rewrites every affected bucket per batch (read-optimized);
    #: "mor" appends per-bucket delta files and merges at read
    #: (write-optimized — the 100 TB steady-state default; compact()
    #: folds deltas back into base files). Subset delete keys work in
    #: both modes (MOR persists them as sdel delta files).
    merge_mode: str = "cow"
    #: in MOR mode, fold delta files back into base files every N
    #: batches (streaming runner hook); None = compaction is external
    #: (lake.maintenance.compact). Bounds read amplification.
    mor_compact_every_batches: int | None = None
    n_buckets: int = 16
    auto_create: bool = True
    auto_evolve: bool = True
    #: widen TARGET column types to the batch's when the change is a
    #: safe widening (int chain, float->double, decimal precision at
    #: equal scale) instead of try_cast-ing values down and
    #: quarantining the unrepresentable ones. Off by default: the
    #: reference only ever ADDS columns, never alters a type
    #: (DbStructure.amendIfNecessary). Never applies to pk columns
    #: (bucketing hashes are type-sensitive). Connect property:
    #: ``auto.evolve.widen``.
    auto_evolve_widen: bool = False

    # --- batching / retries (O5, O17) --------------------------------
    batch_size: int = 3000  # informational: micro-batch is the real unit
    max_retries: int = 3
    retry_backoff_ms: int = 1000

    # --- schema registry (converter layer) ---------------------------
    #: Confluent Schema Registry base URL (the converters'
    #: ``schema.registry.url``); consumed by the Kafka source to build
    #: an :class:`~.sources.registry.HttpSchemaRegistry` that resolves
    #: per-record writer schemas by embedded id. None = schemas are
    #: caller-supplied.
    schema_registry_url: str | None = None
    #: Confluent subject-name strategy for COLD-START value-schema
    #: resolution (a tombstone-only first batch carries no embedded
    #: schema id, so the subject must be derived from config):
    #: ``topic`` = TopicNameStrategy ``{topic}-value`` (Confluent
    #: default), ``record`` = RecordNameStrategy ``{record_name}``,
    #: ``topic_record`` = TopicRecordNameStrategy
    #: ``{topic}-{record_name}``. Warm-path resolution (by embedded
    #: id) is strategy-independent.
    subject_name_strategy: str = "topic"
    #: fully-qualified Avro record name for the record-based
    #: strategies; required at cold start under ``record`` /
    #: ``topic_record`` (it normally comes from the value being
    #: serialized, which a tombstone doesn't have).
    subject_record_name: str | None = None

    # derived, filled by __post_init__
    soft_delete_column: str = field(init=False, default="op_type")
    soft_delete_value: str = field(init=False, default="D")
    #: full valid-op vocabulary (insert ∪ updates ∪ delete) — the set
    #: the validator accepts; anything else quarantines as unknown op.
    valid_ops: tuple[str, ...] = field(init=False, default=("c", "u", "r", "d"))

    def __post_init__(self) -> None:
        self.insert_mode = InsertMode(self.insert_mode)
        self.delete_mode = DeleteMode(self.delete_mode)
        if not self.pk_fields:
            raise ConfigError("pk_fields must be non-empty")
        if not self.op_delete_value:
            raise ConfigError("op_delete_value must be non-empty")
        self.op_update_values = tuple(self.op_update_values)
        if self.op_delete_value == self.op_insert_value or (
            self.op_delete_value in self.op_update_values
        ):
            # a reference-style custom marker (e.g. 'D') must stay
            # distinguishable from the upsert vocabulary, else every
            # delete would be applied as an upsert
            raise ConfigError(
                f"op_delete_value {self.op_delete_value!r} collides with "
                f"the insert/update op vocabulary"
            )
        self.valid_ops = tuple(
            dict.fromkeys(
                (self.op_insert_value, *self.op_update_values,
                 self.op_delete_value)
            )
        )
        if self.subject_name_strategy not in (
            "topic", "record", "topic_record"
        ):
            raise ConfigError(
                f"subject_name_strategy {self.subject_name_strategy!r} "
                f"must be one of topic | record | topic_record"
            )
        if isinstance(self.soft_delete_conditions, str):
            self.soft_delete_conditions = tuple(
                parse_conditions(self.soft_delete_conditions)
            )
        if self.delete_mode is DeleteMode.UPDATE:
            if not self.soft_delete_conditions:
                raise ConfigError(
                    "delete_mode=update requires soft_delete_conditions"
                )
            col, value = self.soft_delete_conditions[0]
            if value is None:
                raise ConfigError(
                    "soft-delete marker value may not be null"
                )
            self.soft_delete_column = col
            self.soft_delete_value = value
        if self.delete_as_update_key is None:
            self.delete_as_update_key = tuple(self.pk_fields)
        else:
            self.delete_as_update_key = tuple(self.delete_as_update_key)
            extra = set(self.delete_as_update_key) - set(self.pk_fields)
            if extra:
                raise ConfigError(
                    f"delete_as_update_key fields {sorted(extra)} are not "
                    f"pk fields (the delete match key must be a subset of "
                    f"the primary key, like the reference's "
                    f"delete.as.update.key=RECID with pk [RECID,V_M,V_S])"
                )
            if not self.delete_as_update_key:
                raise ConfigError("delete_as_update_key must be non-empty")
            if (
                self.delete_as_update_key != tuple(self.pk_fields)
                and self.pk_fields[0] not in self.delete_as_update_key
            ):
                raise ConfigError(
                    f"delete_as_update_key must include the bucketing key "
                    f"{self.pk_fields[0]!r} so delete events route to "
                    f"target buckets"
                )

        if self.merge_mode not in ("cow", "mor"):
            raise ConfigError(
                f"merge_mode must be 'cow' or 'mor', got "
                f"{self.merge_mode!r}"
            )
        if (
            self.mor_compact_every_batches is not None
            and self.mor_compact_every_batches < 1
        ):
            raise ConfigError("mor_compact_every_batches must be >= 1")
        if self.n_buckets < 1:
            raise ConfigError("n_buckets must be >= 1")
        overlap = set(self.delete_retain_fields) & set(self.pk_fields)
        if overlap:
            # keys are always written on insert and matched on delete;
            # listing them as retain fields is redundant, not an error
            self.delete_retain_fields = tuple(
                f for f in self.delete_retain_fields if f not in overlap
            )

    #: Connect worker / JDBC-transport keys that have no engine
    #: equivalent — accepted and ignored so a reference worker config
    #: loads verbatim (the lake table replaces the JDBC connection; the
    #: Connect runtime replaces itself with Structured Streaming).
    _CONNECT_IGNORED_PREFIXES = (
        "connection.", "dialect.", "key.converter", "value.converter",
        "transforms", "errors.", "consumer.", "producer.",
    )
    _CONNECT_IGNORED_KEYS = {
        "name", "connector.class", "topics", "topics.regex",
        "tasks.max", "pk.mode", "quote.sql.identifiers",
        "table.types", "db.timezone",
    }

    @classmethod
    def from_connect_properties(
        cls, props: dict, **overrides
    ) -> "SinkConfig":
        """Build a :class:`SinkConfig` from a Kafka-Connect worker
        property map using the REFERENCE'S OWN property names
        (``JdbcAuditSinkConfig`` = Confluent ``JdbcSinkConfig`` + the
        audit extensions, ``JdbcAuditSinkConfig.java:14-90``) — a user
        can paste their existing connector JSON ``config`` block and
        run it on this engine unchanged.

        Values may be strings (as in a .properties file) or already
        typed (as in Connect JSON); list-valued keys accept either a
        list or a comma-separated string. JDBC-transport keys
        (``connection.*``, ``dialect.*``, converters, …) are accepted
        and ignored; ``pk.mode`` is handled by the Kafka source
        (``parse_kafka_records``), not the sink config, mirroring the
        reference where it lives in the runtime's converter layer.
        Engine-only knobs pass through under an ``engine.`` prefix
        (e.g. ``engine.merge.mode=mor``, ``engine.n.buckets=1024``) or
        as keyword ``overrides``. Unknown non-ignored keys raise
        :class:`ConfigError` (typo protection, like ConfigDef).
        """

        def as_list(v) -> tuple[str, ...]:
            if isinstance(v, (list, tuple)):
                return tuple(str(x).strip() for x in v)
            return tuple(s.strip() for s in str(v).split(",") if s.strip())

        def as_bool(v) -> bool:
            return v if isinstance(v, bool) else str(v).lower() == "true"

        props = dict(props)
        # Confluent `delete.enabled` is load-bearing, not ignorable —
        # the audit extension's delete.mode overrides when explicitly
        # set, otherwise map faithfully: false = deletes/tombstones are
        # NOT applied (mode none — the engine's soft-delete default
        # would mark rows the original connector left untouched), true
        # = the stock Confluent sink HARD-deletes on tombstones (mode
        # delete).
        del_enabled = props.pop("delete.enabled", None)
        kw: dict = {}
        if del_enabled is not None and "delete.mode" not in props:
            kw["delete_mode"] = (
                "delete" if as_bool(del_enabled) else "none"
            )
        engine_keys = {
            "engine.merge.mode": ("merge_mode", str),
            "engine.n.buckets": ("n_buckets", int),
            "engine.mor.compact.every.batches":
                ("mor_compact_every_batches", int),
            "engine.op.column": ("op_column", str),
            "engine.op.delete.value": ("op_delete_value", str),
            "engine.op.insert.value": ("op_insert_value", str),
            "engine.guard.null.is.not.null":
                ("guard_null_is_not_null", as_bool),
            "engine.audit.ts.column": ("audit_ts_column", str),
        }
        for key, raw in props.items():
            k = str(key)
            if k == "table.name.format":
                kw["table_name_format"] = str(raw)
            elif k == "pk.fields":
                kw["pk_fields"] = as_list(raw)
            elif k == "fields.whitelist":
                kw["fields_whitelist"] = as_list(raw) or None
            elif k == "insert.mode":
                kw["insert_mode"] = str(raw).lower()
            elif k == "delete.mode":
                kw["delete_mode"] = str(raw).lower()
            elif k == "delete.as.update.identifier":
                spec = (
                    ",".join(str(x) for x in raw)
                    if isinstance(raw, (list, tuple))
                    else str(raw)
                )
                kw["soft_delete_conditions"] = tuple(parse_conditions(spec))
            elif k == "delete.as.update.value.schema":
                kw["delete_retain_fields"] = as_list(raw)
            elif k == "delete.as.update.key":
                kw["delete_as_update_key"] = as_list(raw)
            elif k == "audit.timestamp.column":
                kw["audit_ts_column"] = str(raw)
            elif k == "audit.scn.column":
                kw["audit_scn_column"] = str(raw)
            elif k == "auto.create":
                kw["auto_create"] = as_bool(raw)
            elif k == "auto.evolve":
                kw["auto_evolve"] = as_bool(raw)
            elif k == "auto.evolve.widen":
                kw["auto_evolve_widen"] = as_bool(raw)
            elif k == "batch.size":
                kw["batch_size"] = int(raw)
            elif k == "max.retries":
                kw["max_retries"] = int(raw)
            elif k == "retry.backoff.ms":
                kw["retry_backoff_ms"] = int(raw)
            elif k in (
                "schema.registry.url",
                "value.converter.schema.registry.url",
                "key.converter.schema.registry.url",
            ):
                # the converters' registry endpoint is load-bearing
                # (BufferedRecordsTest.java:94-99 relies on registry
                # schema resolution); value/key converters share one
                # registry in practice — last one listed wins
                kw["schema_registry_url"] = str(raw)
            elif k == "value.converter.value.subject.name.strategy":
                # Confluent serializer property; accepts the strategy
                # class name or the short form
                s = str(raw).rsplit(".", 1)[-1]
                short = {
                    "TopicNameStrategy": "topic",
                    "RecordNameStrategy": "record",
                    "TopicRecordNameStrategy": "topic_record",
                    "topic": "topic",
                    "record": "record",
                    "topic_record": "topic_record",
                }.get(s)
                if short is None:
                    raise ConfigError(
                        f"unknown subject name strategy {raw!r}"
                    )
                kw["subject_name_strategy"] = short
            elif k == "value.converter.value.subject.record.name":
                # engine extension: the record name the record-based
                # strategies need for COLD-START subject resolution
                # (normally read off the serialized value, which a
                # tombstone-only batch doesn't have)
                kw["subject_record_name"] = str(raw)
            elif k in engine_keys:
                field_name, conv = engine_keys[k]
                kw[field_name] = conv(raw)
            elif k in cls._CONNECT_IGNORED_KEYS or any(
                k.startswith(p) for p in cls._CONNECT_IGNORED_PREFIXES
            ):
                continue
            else:
                raise ConfigError(
                    f"unknown connector property {k!r} (engine knobs "
                    f"use the 'engine.' prefix)"
                )
        kw.update(overrides)
        return cls(**kw)

    @property
    def subset_delete_key(self) -> bool:
        """True when deletes match on a proper subset of the pk (one
        delete event then affects every row sharing those fields)."""
        return tuple(self.delete_as_update_key) != tuple(self.pk_fields)

    def table_name(self, topic: str) -> str:
        """Topic → destination table name (reference
        ``JdbcAuditDbWriter.destinationTable``,
        ``JdbcAuditDbWriter.java:100-110``: empty result is an error).
        """
        name = self.table_name_format.replace("${topic}", topic)
        if not name:
            raise ConfigError(
                f"table name for topic {topic!r} is empty "
                f"(table_name_format={self.table_name_format!r})"
            )
        return name
