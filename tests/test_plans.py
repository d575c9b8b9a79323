"""Physical-plan assertions: the properties SCALE.md claims must be
visible in `.explain` output — pushdown, partial aggregation,
broadcast, codegen."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.datagen import GenSpec, generate_cdc_events
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
from kafka_jdbc_sink_connector_spark.operators.dedup import collapse_last_writer
from kafka_jdbc_sink_connector_spark.operators.similarity import knn_bruteforce

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_collapse_has_partial_aggregation(spark):
    """The dedup must combine map-side (partial_max_by) before the
    shuffle — the at-least-once-duplicate-storm defense."""
    events = generate_cdc_events(spark, GenSpec(n_events=1000))
    plan = plan_of(
        collapse_last_writer(events, SinkConfig(),
                             ["conv_id", "turn_idx", "text", "ts"])
    )
    assert "partial_max_by" in plan
    assert plan.count("Exchange") == 1  # exactly one shuffle


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet(os.path.join(SF, "events.parquet"))
        .filter(F.col("event_id") < 100)
        .select("event_id", "user_id")
    )
    plan = plan_of(df)
    assert "PushedFilters: [" in plan and "LessThan(event_id,100)" in plan
    # column pruning: only the two selected columns in ReadSchema
    assert "ReadSchema: struct<event_id:bigint,user_id:bigint>" in plan


def test_lake_read_prunes_files_and_pushes_filters(spark, tmp_path):
    t = LakeTable.create(
        spark, str(tmp_path / "t"),
        spark.createDataFrame([("a", 1)], "k string, v long").schema,
        n_buckets=8, key_fields=["k"],
    )
    t.overwrite(
        spark.createDataFrame([(f"k{i}", i) for i in range(50)],
                              "k string, v long")
    )
    pruned = t.read(buckets=[0, 1])
    full = t.read()
    # bucket pruning happens at the file-list level
    assert pruned.count() < full.count()
    plan = plan_of(t.read().filter(F.col("v") > 10))
    assert "GreaterThan(v,10)" in plan


def test_knn_broadcasts_queries(spark):
    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    plan = plan_of(
        knn_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=3)
    )
    assert "BroadcastExchange" in plan  # queries shipped, corpus scanned


def test_codegen_in_scan_pipeline(spark):
    """Text analysis stays inside whole-stage codegen (no Python)."""
    from kafka_jdbc_sink_connector_spark.operators.text import (
        quality_columns,
    )

    d = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    cols = quality_columns("text")
    df = d.select("doc_id", *[c.alias(n) for n, c in cols.items()])
    plan = plan_of(df)
    # the scan pipeline is codegen'd ("*(1)" stage marker); the
    # higher-order-function lambdas sit above it as a JVM Project
    # (HOFs don't participate in whole-stage codegen) — the property
    # that matters is that NO Python evaluation nodes appear
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hash_split_single_scan_no_shuffle(spark):
    """Deterministic split assignment is one codegen'd scan: no
    Exchange, no Python eval — the property that lets it run inline
    in any corpus pipeline for free."""
    from kafka_jdbc_sink_connector_spark.operators.text import hash_split

    d = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    df = d.select(
        "doc_id",
        hash_split("doc_id", {"train": 0.9, "val": 0.05, "test": 0.05},
                   salt="s").alias("split"),
    )
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_sample_single_scan_no_shuffle(spark):
    """Per-stratum subsampling is a filter on one codegen'd scan: no
    Exchange, no Python eval — like hash_split, free to run inline."""
    from kafka_jdbc_sink_connector_spark.operators.text import (
        stratified_keep,
    )

    d = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    df = d.filter(
        stratified_keep("doc_id", "lang", {"en": 0.6, "de": 0.25},
                        salt="s")
    ).select("doc_id", "lang")
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mix_single_scan_no_shuffle(spark):
    """Given precomputed domain counts, the temperature-mix keep
    predicate is a filter on one codegen'd scan: no Exchange, no
    Python eval — the counts aggregation is the only shuffle in the
    whole operator and it is bounded by #domains."""
    from kafka_jdbc_sink_connector_spark.operators.text import (
        temperature_mix_keep,
    )

    d = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    df = d.filter(
        temperature_mix_keep(
            "doc_id", "lang", {"en": 193, "de": 71}, 0.5, salt="s"
        )
    ).select("doc_id", "lang")
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_dim_joins_broadcast(spark):
    """The nation/region dim chain must broadcast (no shuffle of the
    customer fact side for a 25-row dim)."""
    import __spark_entry__ as entry

    plan = plan_of(entry.q_tpch_region_customer_agg(spark, SF))
    assert plan.count("BroadcastExchange") >= 2
    # the fact side is never shuffled for the join itself: the only
    # Exchange is the final groupBy aggregation
    assert "SortMergeJoin" not in plan


def test_tpch_q1_pushdown_and_partial_agg(spark):
    """Q1's date filter reaches the parquet scan and the aggregate
    combines map-side before the shuffle."""
    import __spark_entry__ as entry

    plan = plan_of(entry.q_tpch_q1_pricing_summary(spark, SF))
    assert "PushedFilters: [" in plan and "l_shipdate" in plan
    assert "partial_sum" in plan  # map-side combine
    assert plan.count("Exchange") == 1


def test_tpch_q3_fact_join_strategy(spark):
    """orders x lineitem is a fact-fact join. The filtered BUILDING
    customer side carries NO forced broadcast hint (it grows with
    scale factor — a hint would OOM at 100×); at test scale the
    optimizer still picks broadcast from size estimates, proving the
    plan degrades gracefully rather than by our fiat. No Python
    anywhere."""
    import __spark_entry__ as entry

    q = entry.q_tpch_q3_shipping_priority(spark, SF)
    # optimizer-chosen, not hint-forced (hints would surface as
    # `…Hint=(strategy=broadcast)` on the optimized Join nodes)
    assert "strategy=broadcast" not in optimized_of(q)
    plan = plan_of(q)
    assert "BroadcastExchange" in plan  # cost-based choice at this SF
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tpch_q5_no_forced_broadcast_of_scaling_tables(spark):
    """Q5: only bounded dims (nation 25 rows, filtered region) carry
    broadcast hints; customer/supplier join strategy is left to the
    optimizer (they grow with SF — a forced hint would OOM at 100×)."""
    import __spark_entry__ as entry

    opt = optimized_of(entry.q_tpch_q5_local_supplier_volume(spark, SF))
    hinted = [l for l in opt.splitlines() if "strategy=broadcast" in l]
    assert len(hinted) == 2, hinted
    # the hinted joins are the bounded-dim chain…
    assert any("n_nationkey" in l for l in hinted)
    assert any("r_regionkey" in l for l in hinted)
    # …and never the scale-dependent customer/supplier joins
    for l in hinted:
        assert "c_custkey" not in l and "s_suppkey" not in l, l


def test_mor_resolve_plan_shape(spark, tmp_path):
    """Merge-on-read resolution: delta aggregate combines map-side
    (partial ObjectHashAggregate) before its shuffle, the join reuses
    that partitioning (exactly 2 exchanges total: delta agg + base
    side), and no Python nodes appear."""
    from kafka_jdbc_sink_connector_spark.apply import CdcApplier

    from tests.test_apply_batch import _events_df, audit_col, ev

    applier = CdcApplier(
        spark, SinkConfig(n_buckets=4, merge_mode="mor"),
        str(tmp_path / "t"), audit_ts=audit_col(),
    )
    applier.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0)]),
                        batch_id=0)
    applier.apply_batch(_events_df(spark, [ev(2, "u", "conv-a", 0)]),
                        batch_id=1)
    plan = plan_of(applier.read_target())
    assert "partial_max" in plan
    assert plan.count("Exchange") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_mor_resolve_preserves_column_pruning(spark, tmp_path):
    """A narrow projection over a MOR read must prune the BASE parquet
    scan to keys + requested columns — resolution expressions are
    per-column, so Catalyst prunes the unused ones through the join.
    (The delta side stays struct-wide but is bounded by compaction.)"""
    import re

    from kafka_jdbc_sink_connector_spark.apply import CdcApplier

    from tests.test_apply_batch import _events_df, audit_col, ev

    applier = CdcApplier(
        spark, SinkConfig(n_buckets=2, merge_mode="mor"),
        str(tmp_path / "t"), audit_ts=audit_col(),
    )
    applier.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0)]),
                        batch_id=0)
    applier.apply_batch(_events_df(spark, [ev(2, "u", "conv-a", 0)]),
                        batch_id=1)
    plan = plan_of(applier.read_target().select("conv_id", "text"))
    schemas = re.findall(r"ReadSchema: (struct<[^\n]*)", plan)
    base = [s for s in schemas if "__ups" not in s]
    assert base, schemas
    for s in base:
        assert "text" in s and "role" not in s and "audit_ts" not in s, s


def test_mor_sdel_resolve_plan_shape(spark, tmp_path):
    """Subset-delete resolution stays JVM-side: the sdel overlay adds
    one aggregate + one join on top of the pk resolve, all declarative
    (no Python nodes), and the tiny sdel side broadcasts."""
    from kafka_jdbc_sink_connector_spark.apply import CdcApplier

    from tests.test_apply_batch import _events_df, audit_col, ev

    cfg = SinkConfig(pk_fields=("conv_id", "turn_idx"),
                     delete_as_update_key=("conv_id",),
                     n_buckets=4, merge_mode="mor")
    applier = CdcApplier(spark, cfg, str(tmp_path / "t"),
                         audit_ts=audit_col())
    applier.apply_batch(
        _events_df(spark, [ev(1, "c", "conv-a", 0),
                           ev(2, "c", "conv-a", 1)]),
        batch_id=0,
    )
    applier.apply_batch(
        _events_df(spark, [{"kafka_partition": 0, "kafka_offset": 3,
                            "op": "d", "conv_id": "conv-a",
                            "turn_idx": None,
                            "ts": ev(3, "d", "conv-a", 0)["ts"]}]),
        batch_id=1,
    )
    assert applier.table().snapshot.sdel_files()
    plan = plan_of(applier.read_target())
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastExchange" in plan  # batch-sized sdel side


@pytest.mark.parametrize("subset,exchanges,smjs", [(False, 2, 1),
                                                   (True, 4, 2)],
                         ids=["soft_delete", "subset_delete"])
def test_cow_merge_plan_shape(spark, tmp_path, monkeypatch, subset,
                              exchanges, smjs):
    """Copy-on-write merge, as the rows handed to ``commit_rewrite``:
    a steady batch pays the collapse shuffle plus one target-side
    shuffle into one sort-merge join on the pk (a subset delete adds
    its own collapse and the overlay join on the subset key); the
    bootstrap batch has no join at all; no Python nodes anywhere."""
    from kafka_jdbc_sink_connector_spark.apply import CdcApplier

    from tests.test_apply_batch import _events_df, audit_col, ev

    plans = []
    real = LakeTable.commit_rewrite

    def spy(self, new_data, *args, **kwargs):
        plans.append(plan_of(new_data))
        return real(self, new_data, *args, **kwargs)

    monkeypatch.setattr(LakeTable, "commit_rewrite", spy)
    cfg = SinkConfig(n_buckets=4, delete_as_update_key=(
        ("conv_id",) if subset else None))
    applier = CdcApplier(spark, cfg, str(tmp_path / "t"),
                         audit_ts=audit_col())
    applier.apply_batch(_events_df(spark, [ev(1, "c", "conv-a", 0),
                                           ev(2, "c", "conv-b", 0)]),
                        batch_id=0)
    dele = {"kafka_partition": 0, "kafka_offset": 4, "op": "d",
            "conv_id": "conv-b", "turn_idx": None if subset else 0,
            "ts": ev(4, "d", "conv-b", 0)["ts"]}
    applier.apply_batch(_events_df(spark, [
        ev(3, "u", "conv-a", 0, text="v2"), dele,
    ]), batch_id=1)
    bootstrap, steady = plans
    assert steady.count("Exchange") == exchanges
    assert steady.count("SortMergeJoin") == smjs
    if not subset:
        assert "Join" not in bootstrap
    for plan in plans:
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_ivf_ann_plan_broadcasts_probes(spark):
    """IVF: the probe side (queries × n_probe cells) broadcasts; the
    corpus is scanned once; assignment is pure codegen'd expressions
    (no Python)."""
    from kafka_jdbc_sink_connector_spark.operators.similarity import ivf_ann

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    plan = plan_of(ivf_ann(emb, emb.filter(F.col("vec_id") < 3), k=3))
    assert "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_incremental_probe_broadcasts_batch_not_index(spark, tmp_path):
    """The per-batch index probe must broadcast the (small) batch
    signatures and stream the (unboundedly growing) index through the
    join — no shuffle Exchange and no sort-merge over the index scan,
    the property that makes per-batch dedup viable at 100 TB."""
    from kafka_jdbc_sink_connector_spark.operators import incremental

    docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
    idx = incremental.MinHashDedupIndex.create(
        spark, str(tmp_path / "idx"), n_buckets=4
    )
    idx.add_and_find_dups(
        docs.filter(F.col("doc_id") % 2 == 0), batch_id=0
    )
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    # materialized batch signatures, as add_and_find_dups holds them
    # (the signature aggregation is a separate, batch-sized job)
    bsig = incremental.minhash_band_table(batch).localCheckpoint()
    isig = idx.table.read()
    probe = incremental._probe_pairs(isig, bsig)
    plan = plan_of(probe)
    assert "BroadcastExchange" in plan          # batch side shipped
    assert "SortMergeJoin" not in plan          # index never sorted
    # the only Exchange is the broadcast itself — the index scan feeds
    # the join directly (no hash-partition shuffle on either side of
    # the probe)
    assert "Exchange hashpartitioning" not in plan


def test_emb_incremental_probe_broadcasts_batch_not_index(
    spark, tmp_path
):
    """Same 100-TB property as the MinHash index, for the embedding
    index: the per-batch probe broadcasts the (small) batch vectors
    and streams the (unboundedly growing) index through the join —
    no shuffle Exchange, no sort-merge over the index scan."""
    from kafka_jdbc_sink_connector_spark.operators import incremental
    from kafka_jdbc_sink_connector_spark.operators.similarity import (
        lsh_buckets,
    )

    emb = spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
    idx = incremental.EmbeddingDedupIndex.create(
        spark, str(tmp_path / "idx"), n_buckets=4, threshold=0.3
    )
    idx.add_and_find_dups(
        emb.filter(F.col("vec_id") % 2 == 0), batch_id=0
    )
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    bvec = (
        batch.select("vec_id", "embedding")
        .join(lsh_buckets(batch, 8, 42, "vec_id", "embedding", 64),
              "vec_id")
        .localCheckpoint()
    )
    probe = incremental._emb_probe_pairs(idx.table.read(), bvec, 4)
    plan = plan_of(probe)
    assert "BroadcastExchange" in plan          # batch side shipped
    assert "SortMergeJoin" not in plan          # index never sorted
    assert "Exchange hashpartitioning" not in plan
    # cosine verify stays JVM-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zorder_key_stays_codegen(spark):
    """The Morton key is built from cast/floor/shift primitives only —
    no Python eval node, no shuffle of its own (the single Exchange in
    cluster_by is the range partition that was always there)."""
    from pyspark.sql import functions as F

    from kafka_jdbc_sink_connector_spark.lake.maintenance import (
        _zorder_column,
    )

    df = spark.range(1000).select(
        F.col("id").alias("x"), (F.col("id") % 7).alias("y")
    )
    z = df.withColumn("__z", _zorder_column(df, ["x", "y"]))
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # key computation itself: no shuffle
    assert "WholeStageCodegen" in z._jdf.queryExecution().executedPlan().toString() or "*(1)" in plan


def test_pack_chunks_one_shuffle_no_python(spark):
    """Sequence packing = one hash shuffle on the shard key + a
    window cumsum within shards; no global sort, no Python eval."""
    from kafka_jdbc_sink_connector_spark.operators.text import pack_chunks

    docs = spark.createDataFrame(
        [(i, "a b c") for i in range(100)], "doc_id long, text string"
    )
    plan = plan_of(pack_chunks(docs, max_tokens=128))
    assert plan.count("Exchange") == 1  # shard hash-partitioning only
    assert "rangepartitioning" not in plan.lower()  # no global order
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_assemble_transcripts_one_shuffle_partial_agg(spark):
    """Transcript assembly = one key shuffle with map-side partial
    collect_list; sorting is per-group (array_sort), never a global
    or range sort; no Python eval."""
    from kafka_jdbc_sink_connector_spark.operators.text import (
        assemble_transcripts,
    )

    df = spark.createDataFrame(
        [(f"c{i % 7}", i, f"u{i}") for i in range(100)],
        "conv_id string, turn_idx int, text string",
    )
    out = assemble_transcripts(
        df, ["conv_id"], "turn_idx", F.col("text")
    )
    plan = plan_of(out)
    assert plan.count("Exchange") == 1
    assert "partial_collect_list" in plan  # map-side combine
    assert "rangepartitioning" not in plan.lower()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    rows = {r["conv_id"]: r for r in out.collect()}
    assert rows["c0"]["transcript"].startswith("u0\nu7\nu14")
