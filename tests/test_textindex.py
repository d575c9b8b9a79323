"""Incrementally-maintained inverted text index
(``streaming/textindex.TextIndexRunner``): posting-table equivalence
with the declarative index over the upstream's final state,
retraction via feed pre-images, lookups, exactly-once replay.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.streaming.textindex import (
    TextIndexRunner,
    _term_buckets,
    default_tokenizer,
)

from tests.test_apply_batch import _events_df, audit_col, ev


def _mk(spark, tmp_path, upstream_mode="cow"):
    bronze = CdcApplier(
        spark,
        SinkConfig(n_buckets=4, delete_mode="delete",
                   merge_mode=upstream_mode),
        str(tmp_path / "bronze"), audit_ts=audit_col(),
    )
    posting = CdcApplier(
        spark,
        SinkConfig(n_buckets=4, delete_mode="delete",
                   pk_fields=("term", "conv_id"),
                   delete_retain_fields=()),
        str(tmp_path / "idx"), audit_ts=audit_col(),
    )
    run = TextIndexRunner(
        spark, bronze.table_path, posting, id_col="conv_id"
    )
    return bronze, run


def _postings(run):
    return sorted(
        (r["term"], r["conv_id"]) for r in run.postings().collect()
    )


def _want(bronze):
    return sorted(
        (r["term"], r["conv_id"])
        for r in bronze.read_target()
        .select(
            "conv_id",
            F.explode(default_tokenizer(F.col("text"))).alias("term"),
        )
        .distinct()
        .collect()
    )


@pytest.mark.parametrize("upstream_mode", ["cow", "mor"])
def test_index_mirrors_declarative_tokenization(
    spark, tmp_path, upstream_mode
):
    bronze, run = _mk(spark, tmp_path, upstream_mode)
    b0 = [ev(0, "u", "a", 0, text="the cat sat"),
          ev(1, "u", "b", 1, text="the dog ran"),
          ev(2, "u", "c", 2, text="cat and dog")]
    bronze.apply_batch(_events_df(spark, b0), batch_id=0)
    assert run.sync().mode == "bootstrap"
    assert _postings(run) == _want(bronze)

    # update with term overlap ('the' survives, 'cat sat' retract,
    # 'bird flew' insert), a delete, and a fresh doc
    b1 = [ev(10, "u", "a", 0, text="the bird flew"),
          ev(11, "d", "b", 1),
          ev(12, "u", "d", 3, text="dog bird")]
    bronze.apply_batch(_events_df(spark, b1), batch_id=1)
    r = run.sync()
    assert r.mode == "incremental" and r.batch.n_quarantined == 0
    assert _postings(run) == _want(bronze)
    terms = {t for t, _ in _postings(run)}
    assert "sat" not in terms and "ran" not in terms  # retracted
    assert ("the", "a") in _postings(run)             # overlap kept

    assert run.sync().mode == "noop"


def test_index_lookup_any_all(spark, tmp_path):
    bronze, run = _mk(spark, tmp_path)
    b0 = [ev(0, "u", "a", 0, text="spark merge join"),
          ev(1, "u", "b", 1, text="spark window"),
          ev(2, "u", "c", 2, text="merge only here")]
    bronze.apply_batch(_events_df(spark, b0), batch_id=0)
    run.sync()
    assert {r[0] for r in run.lookup(["spark"]).collect()} == {"a", "b"}
    assert {r[0] for r in run.lookup(["spark", "merge"]).collect()} == {
        "a", "b", "c",
    }
    assert {
        r[0] for r in run.lookup(["spark", "merge"], mode="all").collect()
    } == {"a"}
    with pytest.raises(ValueError, match="any|all"):
        run.lookup(["x"], mode="phrase")


def test_index_replay_exactly_once(spark, tmp_path):
    bronze, run = _mk(spark, tmp_path)
    bronze.apply_batch(
        _events_df(spark, [ev(0, "u", "a", 0, text="alpha beta")]),
        batch_id=0,
    )
    run.sync()
    state = _postings(run)
    v = run.applier.table().version
    # fresh runner (crash-restart) replaying the same window skips
    _, run2 = _mk(spark, tmp_path)
    assert run2.sync().mode == "noop"
    assert _postings(run2) == state
    assert run2.applier.table().version == v


def test_index_custom_tokenizer_and_pk_validation(spark, tmp_path):
    bronze = CdcApplier(
        spark, SinkConfig(n_buckets=2, delete_mode="delete"),
        str(tmp_path / "bronze"), audit_ts=audit_col(),
    )
    bad = CdcApplier(
        spark,
        SinkConfig(n_buckets=2, delete_mode="delete",
                   pk_fields=("term",), delete_retain_fields=()),
        str(tmp_path / "bad"), audit_ts=audit_col(),
    )
    with pytest.raises(ValueError, match="pk must be"):
        TextIndexRunner(spark, bronze.table_path, bad, id_col="conv_id")

    posting = CdcApplier(
        spark,
        SinkConfig(n_buckets=2, delete_mode="delete",
                   pk_fields=("term", "conv_id"),
                   delete_retain_fields=()),
        str(tmp_path / "idx"), audit_ts=audit_col(),
    )
    # bigram tokenizer: deterministic, drawn from the same text
    def bigrams(text):
        toks = F.filter(
            F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
        )
        return F.array_distinct(
            F.zip_with(
                F.slice(toks, 1, 100),
                F.slice(toks, 2, 100),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        )

    run = TextIndexRunner(
        spark, bronze.table_path, posting, id_col="conv_id",
        tokenizer=bigrams,
    )
    bronze.apply_batch(
        _events_df(spark, [ev(0, "u", "a", 0, text="big fast scan")]),
        batch_id=0,
    )
    run.sync()
    got = {r["term"] for r in run.postings().collect()}
    assert "big fast" in got and "fast scan" in got


def test_lookup_prunes_to_probe_buckets(spark, tmp_path):
    """The lookup reads only the buckets the probe terms hash to —
    manifest-level pruning, the property that keeps a term query
    ~one-bucket-sized on a 100-TB posting table."""
    bronze, run = _mk(spark, tmp_path)
    rows = [ev(i, "u", f"c{i}", 0,
               text=f"term{i} shared") for i in range(12)]
    bronze.apply_batch(_events_df(spark, rows), batch_id=0)
    run.sync()
    t = run.applier.table()
    probe = _term_buckets(spark, t, ["term3"])
    assert len(probe) == 1 and 0 <= probe[0] < t.snapshot.n_buckets
    # pruned result == unpruned filter (correctness of the pruning)
    got = {r[0] for r in run.lookup(["term3"]).collect()}
    want = {
        r["conv_id"]
        for r in run.postings().filter(F.col("term") == "term3").collect()
    }
    assert got == want == {"c3"}
    # and the pruned read really touches fewer buckets than exist
    assert len(_term_buckets(spark, t, ["term3", "shared"])) <= 2 < (
        t.snapshot.n_buckets
    )


def test_sync_rejects_full_refresh(spark, tmp_path):
    _, run = _mk(spark, tmp_path)
    with pytest.raises(ValueError, match="TextIndexRunner has no full_refresh"):
        run.sync(full_refresh=True)


def test_lookup_rejects_empty_terms(spark, tmp_path):
    bronze, run = _mk(spark, tmp_path)
    bronze.apply_batch(
        _events_df(spark, [ev(0, "u", "a", 0, text="x y")]), batch_id=0
    )
    run.sync()
    with pytest.raises(ValueError, match="non-empty"):
        run.lookup([])
    with pytest.raises(ValueError, match="non-empty"):
        run.lookup(["", ""])


def test_search_postings_on_non_term_bucketed_table(spark, tmp_path):
    """Review regression: a posting table bucketed by something other
    than term (pk order (id, term)) must still be searchable — no
    bucket pruning, but the file-level term predicate applies."""
    from kafka_jdbc_sink_connector_spark.streaming.textindex import (
        search_postings,
    )

    ap = CdcApplier(
        spark,
        SinkConfig(n_buckets=2, delete_mode="delete",
                   pk_fields=("conv_id", "term"),
                   delete_retain_fields=()),
        str(tmp_path / "p"), audit_ts=audit_col(),
    )
    rows = [
        {"kafka_partition": 0, "kafka_offset": i, "op": "u",
         "conv_id": f"d{i % 3}", "term": t}
        for i, t in enumerate(["alpha", "beta", "alpha", "gamma"])
    ]
    df = spark.createDataFrame(
        [tuple(r.values()) for r in rows],
        "kafka_partition int, kafka_offset long, op string, "
        "conv_id string, term string",
    )
    ap.apply_batch(df, batch_id=0)
    t = ap.table()
    assert t.snapshot.bucket_key == "conv_id"  # NOT term
    got = {
        r[0]
        for r in search_postings(spark, t, ["alpha"],
                                 id_col="conv_id").collect()
    }
    assert got == {"d0", "d2"}
