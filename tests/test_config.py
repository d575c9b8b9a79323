"""Config parsing/validation (reference O21,
``JdbcAuditSinkConfig.java:102-168`` + ``testDeleteAsUpdate`` intent)."""

from __future__ import annotations

import pytest

from kafka_jdbc_sink_connector_spark.config import (
    ConfigError,
    DeleteMode,
    InsertMode,
    SinkConfig,
    parse_conditions,
)


def test_condition_list_parse():
    assert parse_conditions("OP_TYPE=D") == [("OP_TYPE", "D")]
    assert parse_conditions("OP_TYPE=D,HIST=null") == [
        ("OP_TYPE", "D"),
        ("HIST", None),
    ]


def test_condition_parse_errors():
    with pytest.raises(ConfigError):
        parse_conditions("no_equals_sign")
    with pytest.raises(ConfigError):
        parse_conditions("")
    with pytest.raises(ConfigError):
        parse_conditions("=value")


def test_enum_validation():
    cfg = SinkConfig(insert_mode="upsert", delete_mode="update")
    assert cfg.insert_mode is InsertMode.UPSERT
    assert cfg.delete_mode is DeleteMode.UPDATE
    with pytest.raises(ValueError):
        SinkConfig(insert_mode="bogus")
    with pytest.raises(ValueError):
        SinkConfig(delete_mode="bogus")


def test_soft_delete_conditions_from_string():
    cfg = SinkConfig(soft_delete_conditions="op_type=D,hist=null")
    assert cfg.soft_delete_column == "op_type"
    assert cfg.soft_delete_value == "D"
    assert cfg.soft_delete_conditions == (("op_type", "D"), ("hist", None))


def test_marker_value_null_rejected():
    with pytest.raises(ConfigError):
        SinkConfig(soft_delete_conditions="op_type=null")


def test_delete_key_defaults_to_pk():
    cfg = SinkConfig(pk_fields=("a", "b"))
    assert cfg.delete_as_update_key == ("a", "b")


def test_retain_fields_deduped_against_pk():
    cfg = SinkConfig(pk_fields=("conv_id", "turn_idx"),
                     delete_retain_fields=("conv_id", "ts"))
    assert cfg.delete_retain_fields == ("ts",)


def test_table_name_format():
    cfg = SinkConfig(table_name_format="audit_${topic}")
    assert cfg.table_name("orders") == "audit_orders"
    with pytest.raises(ConfigError):
        SinkConfig(table_name_format="").table_name("x")


def test_empty_pk_rejected():
    with pytest.raises(ConfigError):
        SinkConfig(pk_fields=())


def test_audit_scn_column_accepted_and_ignored():
    # dead config in the reference (JdbcAuditSinkConfig.java:97-107)
    cfg = SinkConfig(audit_scn_column="SCN=null")
    assert cfg.audit_scn_column == "SCN=null"


def test_from_connect_properties_reference_unit_config():
    """The reference's own unit-test property map
    (BufferedRecordsTest.java:33-45) loads verbatim."""
    cfg = SinkConfig.from_connect_properties({
        "name": "my-connector",
        "connection.url": "jdbc:sqlite::memory:",
        "auto.create": True,
        "auto.evolve": True,
        "delete.mode": "UPDATE",
        "delete.as.update.identifier": "OP_TYPE=D",
        "pk.mode": "record_value",
        "pk.fields": ["RECID", "V_M", "V_S"],
        "delete.as.update.value.schema": ["UPDATE_TIME", "TABLE_NAME"],
    })
    assert cfg.pk_fields == ("RECID", "V_M", "V_S")
    assert cfg.delete_mode.value == "update"
    assert cfg.soft_delete_column == "OP_TYPE"
    assert cfg.soft_delete_value == "D"
    assert cfg.delete_retain_fields == ("UPDATE_TIME", "TABLE_NAME")
    assert cfg.auto_create and cfg.auto_evolve


def test_from_connect_properties_reference_production_config():
    """The reference's production-shaped Oracle config
    (BufferedRecordsTest.java:94-115) loads verbatim — including the
    subset delete key — with engine knobs via the engine.* prefix."""
    cfg = SinkConfig.from_connect_properties({
        "value.converter.schema.registry.url": "http://localhost:8081",
        "key.converter.schema.registry.url": "http://localhost:8081",
        "name": "AuditDeleteSink",
        "connector.class": "JdbcAuditSinkConnector",
        "key.converter": "AvroConverter",
        "value.converter": "AvroConverter",
        "topics": "test_audit_delete",
        "connection.url": "jdbc:oracle:thin:@host:1521/svc",
        "connection.user": "u",
        "connection.password": "p",
        "dialect.name": "OracleDatabaseDialect",
        "insert.mode": "UPSERT",
        "table.name.format": "SINK_AUDIT_DELETE_OP",
        "pk.mode": "record_value",
        "pk.fields": "RECID,V_M,V_S",     # .properties string form
        "auto.create": "false",
        "auto.evolve": "false",
        "delete.mode": "UPDATE",
        "delete.as.update.identifier": "OP_TYPE=D",
        "delete.as.update.key": "RECID",
        "delete.as.update.value.schema": "TIME_UPDATE,TABLE_NAME",
        "engine.merge.mode": "mor",
        "engine.n.buckets": "32",
    })
    assert cfg.insert_mode.value == "upsert"
    assert cfg.table_name_format == "SINK_AUDIT_DELETE_OP"
    assert cfg.delete_as_update_key == ("RECID",)
    assert cfg.subset_delete_key          # RECID ⊂ (RECID, V_M, V_S)
    assert not cfg.auto_create and not cfg.auto_evolve
    assert cfg.merge_mode == "mor" and cfg.n_buckets == 32


def test_from_connect_properties_rejects_typos():
    with pytest.raises(ConfigError, match="unknown connector property"):
        SinkConfig.from_connect_properties({"delete.as.update.keyy": "X"})
    # engine knobs must use the prefix
    with pytest.raises(ConfigError, match="engine"):
        SinkConfig.from_connect_properties({"merge_mode": "mor"})


def test_from_connect_properties_delete_enabled():
    """Confluent delete.enabled is load-bearing: false disables delete
    application unless the audit extension's delete.mode overrides."""
    off = SinkConfig.from_connect_properties(
        {"pk.fields": "conv_id,turn_idx", "delete.enabled": "false"})
    assert off.delete_mode.value == "none"
    # stock Confluent semantics: delete.enabled=true hard-deletes on
    # tombstones — mapped faithfully when no delete.mode overrides
    on = SinkConfig.from_connect_properties(
        {"pk.fields": "conv_id,turn_idx", "delete.enabled": "true"})
    assert on.delete_mode.value == "delete"
    overridden = SinkConfig.from_connect_properties({
        "pk.fields": "conv_id,turn_idx", "delete.enabled": "false",
        "delete.mode": "UPDATE",
        "delete.as.update.identifier": "op_type=D",
    })
    assert overridden.delete_mode.value == "update"


def test_bad_aqe_min_partition_env_fails_at_session_build(monkeypatch):
    """A malformed SPARK_GRAFT_AQE_MIN_PARTITION raises at
    build_session, naming the variable — not later as a Spark conf
    parse error inside the first query."""
    from kafka_jdbc_sink_connector_spark.session import build_session

    monkeypatch.setenv("SPARK_GRAFT_AQE_MIN_PARTITION", "64 kilobytes")
    with pytest.raises(ConfigError, match="SPARK_GRAFT_AQE_MIN_PARTITION"):
        build_session(app_name="bad-env")


@pytest.mark.parametrize("key,value", [
    ("SPARK_GRAFT_CPUS", "abc"),
    ("SPARK_GRAFT_CPUS", "0"),
    ("SPARK_GRAFT_CPUS", "-2"),
    ("SPARK_GRAFT_CPUS", "\u00b2"),  # superscript two: isdigit() but not int()
    ("SPARK_GRAFT_CPUS", "\u0661"),  # Arabic-Indic one: int() but not Spark
    ("SPARK_DRIVER_MEM", "\u0661g"),
    ("SPARK_DRIVER_MEM", "16 gigs"),
    ("SPARK_DRIVER_MEM", ""),
])
def test_bad_session_env_fails_at_session_build(monkeypatch, key, value):
    """A malformed CPU count or driver memory raises at build_session,
    naming the variable, before any session is asked for."""
    from pyspark.sql import SparkSession

    from kafka_jdbc_sink_connector_spark.session import build_session

    def no_session(self):
        raise AssertionError("build_session asked for a session")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", no_session)
    monkeypatch.setenv(key, value)
    with pytest.raises(ConfigError, match=key):
        build_session(app_name="bad-env")


def test_session_env_accepts_cpu_counts_and_byte_sizes(monkeypatch):
    from kafka_jdbc_sink_connector_spark.session import (
        _env_byte_size,
        _env_cpus,
    )

    for value in ("*", "4", " 2 "):
        monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
        assert _env_cpus("SPARK_GRAFT_CPUS", "*") == value.strip()
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert _env_cpus("SPARK_GRAFT_CPUS", "*") == "*"
    for value in ("16g", "512m", "1073741824"):
        monkeypatch.setenv("SPARK_DRIVER_MEM", value)
        assert _env_byte_size("SPARK_DRIVER_MEM", "16g") == value
