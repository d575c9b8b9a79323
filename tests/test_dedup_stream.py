"""Streaming incremental dedup (streaming/dedup.DedupStreamRunner;
the retry case also covers EmbDedupStreamRunner).

Invariants under test:

* any batch partition of the corpus, driven through the runner,
  yields EXACTLY the corpus-wide LSH pair set (ids + band counts);
* ``drop_doc`` marks the later arrival (batch doc for batch-vs-index
  pairs — even when its id is smaller — larger id within a batch);
* exactly-once across BOTH tables for every crash window: replay
  after full success appends nothing; replay after the index append
  but before the pairs append lands the pairs exactly once;
* the real Structured Streaming path (file source, foreachBatch)
  produces the same evidence as driving ``process_batch`` directly.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.operators import docdedup
from kafka_jdbc_sink_connector_spark.operators.incremental import (
    MinHashDedupIndex,
)
from kafka_jdbc_sink_connector_spark.sources.cdc import file_stream
from kafka_jdbc_sink_connector_spark.streaming.dedup import DedupStreamRunner

SF = "/root/testdata/sf0.001"

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(os.path.join(SF, "documents.parquet"))
        .select("doc_id", "text")
        .cache()
    )


def _runner(spark, tmp_path, **kw):
    idx = MinHashDedupIndex.create(
        spark, str(tmp_path / "idx"), n_buckets=4, n_perm=8, bands=4, k=5
    )
    pairs = DedupStreamRunner.create_pairs_table(
        spark, str(tmp_path / "pairs"), n_buckets=4
    )
    return DedupStreamRunner(idx, pairs, str(tmp_path / "ckpt"), **kw)


def _pair_set(table):
    return {
        (r["doc_a"], r["doc_b"], r["n_bands_shared"])
        for r in table.refresh().read().collect()
    }


def test_stream_dedup_equals_corpus_wide(spark, docs, tmp_path):
    corpus = {
        tuple(r)
        for r in docdedup.minhash_lsh_candidates(
            docs, n_perm=8, bands=4, k=5
        ).collect()
    }
    runner = _runner(spark, tmp_path)
    for b in range(3):
        runner.process_batch(docs.filter(F.col("doc_id") % 3 == b), b)
    assert _pair_set(runner.pairs_table) == corpus
    assert len(runner.results) == 3
    assert sum(r[1] for r in runner.results) == docs.count()
    # every pair's drop_doc is one of its own endpoints
    bad = (
        runner.pairs_table.read()
        .filter(
            (F.col("drop_doc") != F.col("doc_a"))
            & (F.col("drop_doc") != F.col("doc_b"))
        )
        .count()
    )
    assert bad == 0


def test_drop_doc_marks_later_arrival(spark, tmp_path):
    text = "the quick brown fox jumps over the lazy dog again and again"
    other = "pack my box with five dozen liquor jugs for the daily haul"
    runner = _runner(spark, tmp_path)
    # batch 0: doc 10 plus a within-batch dup pair (20, 30) whose
    # text shares no shingles with doc 10's
    b0 = spark.createDataFrame(
        [(10, text), (20, other), (30, other)],
        DOC_SCHEMA,
    )
    runner.process_batch(b0, 0)
    # batch 1: doc 5 duplicates doc 10 — smaller id, later arrival
    b1 = spark.createDataFrame([(5, text)], DOC_SCHEMA)
    runner.process_batch(b1, 1)
    rows = {
        (r["doc_a"], r["doc_b"]): (r["drop_doc"], r["batch_id"])
        for r in runner.pairs_table.refresh().read().collect()
    }
    # within-batch: larger id loses; batch-vs-index: batch doc loses
    # even though 5 < 10
    assert rows[(20, 30)] == (30, 0)
    assert rows[(5, 10)] == (5, 1)
    got = {r["drop_doc"] for r in runner.dup_doc_ids().collect()}
    assert got == {30, 5}


def test_replay_after_full_success_appends_nothing(spark, docs, tmp_path):
    runner = _runner(spark, tmp_path)
    b0 = docs.filter(F.col("doc_id") < 60)
    runner.process_batch(b0, 0)
    before = _pair_set(runner.pairs_table)
    vi = runner.index.table.refresh().version
    vp = runner.pairs_table.refresh().version
    runner.process_batch(b0, 0)  # crash-after-both replay
    assert _pair_set(runner.pairs_table) == before
    assert runner.index.table.refresh().version == vi
    assert runner.pairs_table.refresh().version == vp
    assert runner.results[-1][3] is True  # flagged as replay-skip


def test_replay_between_index_and_pairs_commits(spark, docs, tmp_path):
    """Crash window: index append committed, pairs append lost. The
    replay must land the SAME pairs exactly once and not double-index
    the signatures."""
    runner = _runner(spark, tmp_path)
    b0 = docs.filter(F.col("doc_id") < 60)
    runner.process_batch(b0, 0)
    b1 = docs.filter(
        (F.col("doc_id") >= 60) & (F.col("doc_id") < 120)
    )
    # simulate the crash: the index commit happens, the pairs commit
    # never does (direct call bypasses the runner's pairs append)
    runner.index.add_and_find_dups(
        b1, source_id=runner.source_id, batch_id=1
    ).collect()
    vi = runner.index.table.refresh().version
    n_sigs = runner.index.read_signatures().count()
    before = _pair_set(runner.pairs_table)
    runner.process_batch(b1, 1)  # the replay
    assert runner.index.table.refresh().version == vi  # no re-append
    assert runner.index.read_signatures().count() == n_sigs
    after = _pair_set(runner.pairs_table)
    assert after > before or (
        after == before and runner.results[-1][2] == 0
    )
    # and the total evidence equals a clean two-batch run elsewhere
    clean = _runner(spark, tmp_path / "clean")
    clean.process_batch(b0, 0)
    clean.process_batch(b1, 1)
    assert after == _pair_set(clean.pairs_table)


def test_real_stream_matches_direct_batches(spark, docs, tmp_path):
    corpus = {
        tuple(r)
        for r in docdedup.minhash_lsh_candidates(
            docs, n_perm=8, bands=4, k=5
        ).collect()
    }
    src = str(tmp_path / "incoming")
    for b in range(3):
        (
            docs.filter(F.col("doc_id") % 3 == b)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    runner = _runner(spark, tmp_path)
    stream = file_stream(spark, src, DOC_SCHEMA, max_files_per_trigger=1)
    results = runner.run_available(stream)
    assert len(results) >= 2  # really micro-batched
    assert _pair_set(runner.pairs_table) == corpus


@pytest.mark.parametrize("kind", ["minhash", "emb"])
def test_retry_then_success(spark, docs, tmp_path, monkeypatch, kind):
    """A transient failure inside the batch body consumes one retry
    and the batch still lands exactly once — for both pair-dedup
    runners."""
    if kind == "minhash":
        make, pair_set = _runner, _pair_set
        b0 = docs.filter(F.col("doc_id") < 40)
    else:
        from tests import test_emb_dedup_stream as emb_suite

        make, pair_set = emb_suite._runner, emb_suite._pair_set
        b0 = spark.read.parquet(
            os.path.join(SF, "embeddings.parquet")
        ).filter(F.col("vec_id") % 2 == 0)
    runner = make(spark, tmp_path)
    real = runner.index.add_and_find_dups
    calls = {"n": 0}

    def flaky(*a, **kw):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("transient")
        return real(*a, **kw)

    monkeypatch.setattr(runner.index, "add_and_find_dups", flaky)
    runner.process_batch(b0, 0)
    assert calls["n"] == 2
    assert len(runner.results) == 1  # the failed attempt left no result
    clean = make(spark, tmp_path / "clean")
    clean.process_batch(b0, 0)
    assert pair_set(runner.pairs_table) == pair_set(clean.pairs_table)
