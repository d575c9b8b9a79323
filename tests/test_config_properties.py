"""Property-based config parsing tests (hypothesis — pure Python, no
Spark): the `col=value` condition grammar and the op-vocabulary
invariants hold for arbitrary inputs, not just the examples."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_jdbc_sink_connector_spark.config import (
    ConfigError,
    SinkConfig,
    parse_conditions,
)

_col = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd"),
                           whitelist_characters="_"),
    min_size=1, max_size=12,
).filter(lambda s: s.strip())
_val = st.one_of(
    st.just("null"),
    st.text(
        alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
        min_size=1, max_size=8,
    ),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_col, _val), min_size=1, max_size=5))
def test_parse_conditions_roundtrip(pairs):
    spec = ",".join(f"{c}={v}" for c, v in pairs)
    parsed = parse_conditions(spec)
    assert len(parsed) == len(pairs)
    for (col, val), (pc, pv) in zip(pairs, parsed):
        assert pc == col
        assert pv == (None if val.lower() == "null" else val)
    # re-rendering and re-parsing is a fixpoint
    rendered = ",".join(
        f"{c}={'null' if v is None else v}" for c, v in parsed
    )
    assert parse_conditions(rendered) == parsed


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=20))
def test_parse_conditions_never_crashes_weird_input(s):
    """Arbitrary strings either parse or raise ConfigError — never a
    different exception type."""
    try:
        out = parse_conditions(s)
        assert isinstance(out, list) and out
    except ConfigError:
        pass


_op = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll")),
    min_size=1, max_size=3,
)


@settings(max_examples=150, deadline=None)
@given(insert=_op, updates=st.lists(_op, min_size=0, max_size=3),
       delete=_op)
def test_op_vocabulary_invariants(insert, updates, delete):
    """Any accepted vocabulary includes the delete marker in valid_ops
    exactly once and rejects collisions with the upsert vocabulary."""
    try:
        cfg = SinkConfig(op_insert_value=insert,
                         op_update_values=tuple(updates),
                         op_delete_value=delete)
    except ConfigError:
        assert delete == insert or delete in updates
        return
    assert delete != insert and delete not in updates
    assert cfg.valid_ops.count(delete) == 1
    assert insert in cfg.valid_ops
    for u in updates:
        assert u in cfg.valid_ops


def test_mor_compact_cadence_validation():
    with pytest.raises(ConfigError, match="mor_compact"):
        SinkConfig(mor_compact_every_batches=0)


def test_auto_evolve_widen_property():
    from kafka_jdbc_sink_connector_spark.config import SinkConfig

    cfg = SinkConfig.from_connect_properties(
        {"pk.fields": "conv_id,turn_idx", "auto.evolve.widen": "true"}
    )
    assert cfg.auto_evolve_widen is True
    assert SinkConfig().auto_evolve_widen is False


def test_subject_name_strategy_properties():
    from kafka_jdbc_sink_connector_spark.config import SinkConfig

    cfg = SinkConfig.from_connect_properties({
        "pk.fields": "conv_id,turn_idx",
        "value.converter.value.subject.name.strategy":
            "io.confluent.kafka.serializers.subject."
            "TopicRecordNameStrategy",
        "value.converter.value.subject.record.name":
            "com.example.Transcript",
    })
    assert cfg.subject_name_strategy == "topic_record"
    assert cfg.subject_record_name == "com.example.Transcript"
    # short form accepted too
    assert SinkConfig.from_connect_properties({
        "pk.fields": "conv_id",
        "value.converter.value.subject.name.strategy": "record",
    }).subject_name_strategy == "record"
    assert SinkConfig().subject_name_strategy == "topic"
    with pytest.raises(ConfigError, match="subject name strategy"):
        SinkConfig.from_connect_properties({
            "pk.fields": "conv_id",
            "value.converter.value.subject.name.strategy": "Bogus",
        })
    with pytest.raises(ConfigError, match="subject_name_strategy"):
        SinkConfig(subject_name_strategy="bogus")


def test_removed_dedup_salt_property_is_rejected():
    # the salted two-phase collapse was removed; its old engine knob
    # must fail loudly instead of being silently ignored
    with pytest.raises(ConfigError, match="engine.dedup.salt"):
        SinkConfig.from_connect_properties({
            "pk.fields": "conv_id", "engine.dedup.salt": "8",
        })
