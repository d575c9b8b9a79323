"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship CDC apply end-to-end on sf0.001.
``queries()`` exposes every SURVEY.md §2 operator (CDC core) plus the
training-data-pipeline suite (dedup, similarity, text analysis,
multimodal plumbing) against the driver's testdata tables; every entry
has a DuckDB-equivalent ``oracle_sql()`` (the LSH bucketing rounds the
plane dot before the sign test on both engines so bucket membership at
the float boundary is portable).

The `events` table doubles as a CDC stream for the core operators:
key = user_id, ordering authority = event_id (stable order), op =
'd' when event_type='error' else 'u' — mirroring the engine's
Debezium-style op column.
"""

from __future__ import annotations

import atexit
import datetime as _dt
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.config import SinkConfig
from kafka_jdbc_sink_connector_spark.operators import (
    docdedup,
    incremental,
    multimodal,
    similarity,
    text,
)
from kafka_jdbc_sink_connector_spark.operators.dedup import (
    UPSERT_STRUCT,
    collapse_last_writer,
)

SF_DEFAULT = "/root/testdata/sf0.001"

STOPWORD_SQL = "('the','a','of','and','to','in','is','it')"  # = text.STOPWORDS
HIGH_HEX_SQL = "('8','9','a','b','c','d','e','f')"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _scratch_dir(prefix: str) -> str:
    """A fresh temporary directory, removed when the process exits."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    return tmp


def _events_max_id(spark: SparkSession, sf_dir: str) -> int:
    """``max(event_id)`` over the events table, answered from parquet
    FOOTER statistics (the same reader as ``LakeTable.min_max``:
    ``lake.stats.harvest_file_stats`` + ``bounds_from_stats``); only
    files whose footers cannot decide it are scanned, by a Spark
    aggregate. Several queries only need this scalar to slice the
    stream into batches; the footer read replaces a full scan job per
    query."""
    from kafka_jdbc_sink_connector_spark.lake.stats import (
        bounds_from_stats,
        harvest_file_stats,
    )

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        root = path
        files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    else:
        root, files = os.path.dirname(path), [os.path.basename(path)]
    _, hi, scan = bounds_from_stats(
        harvest_file_stats(root, files), files, "event_id"
    )
    if scan:
        got = spark.read.parquet(
            *[os.path.join(root, f) for f in scan]
        ).agg(F.max("event_id")).collect()[0][0]
        hi = max((v for v in (hi, got) if v is not None), default=None)
    return int(hi)


def _events_as_cdc(events: DataFrame) -> DataFrame:
    """events table → engine change-event frame (see module docstring)."""
    return events.select(
        F.pmod(F.col("user_id"), F.lit(8)).cast("int").alias("kafka_partition"),
        F.col("event_id").alias("kafka_offset"),
        F.when(F.col("event_type") == "error", F.lit("d"))
        .otherwise(F.lit("u"))
        .alias("op"),
        "user_id",
        "event_id",
        "ts",
        "event_type",
        "value",
    )


_CDC_CFG = dict(
    pk_fields=("user_id",),
    delete_retain_fields=("ts",),
    n_buckets=8,
)


def q_cdc_last_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine collapse operator (O7/O8 core): last non-delete event per
    key by offset, via the map-side-combining max_by aggregate."""
    cfg = SinkConfig(**_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    collapsed = collapse_last_writer(
        cdc, cfg, ["user_id", "event_id", "ts", "event_type", "value"]
    )
    u = F.col(UPSERT_STRUCT)
    return collapsed.filter(u.isNotNull()).select(
        "user_id",
        u["event_id"].alias("last_event_id"),
        u["event_type"].alias("last_event_type"),
        u["value"].alias("last_value"),
        F.unix_timestamp(u["ts"]).alias("ts_epoch"),
    )


def _sql_cdc_last_event() -> str:
    return """
WITH nond AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM events WHERE event_type <> 'error'
)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       value AS last_value,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM nond WHERE rn = 1
"""


def q_cdc_apply_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: the full engine write path (validate → collapse →
    MERGE into a lake table with soft deletes + retain fields), then
    read the final state back."""
    cfg = SinkConfig(**_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    # session-scoped scratch dir (cleaned at interpreter exit) so the
    # returned DataFrame stays lazy — no driver-side collect
    tmp = _scratch_dir("cdc_final_state_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    applier.apply_batch(cdc, batch_id=0)
    return applier.read_target().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        "op_type",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def _sql_cdc_final_state() -> str:
    # the WINNING delete per key is the EARLIEST one positioned after
    # the latest upsert: the first delete marks the row and the
    # reference's "not already deleted" guard blocks every later delete
    # from re-overwriting the retain fields (BufferedRecords.java:287-303
    # executed in offset order) — NOT the latest delete
    return """
WITH cdc AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM cdc WHERE op <> 'd'
),
ups AS (SELECT * FROM ranked WHERE rn = 1),
win AS (
  SELECT u.user_id AS uid,
         min(d.event_id) AS del_id,
         arg_min(d.ts, d.event_id) AS del_ts
  FROM ups u
  JOIN cdc d ON d.user_id = u.user_id
            AND d.op = 'd' AND d.event_id > u.event_id
  GROUP BY 1
)
SELECT u.user_id,
       u.event_id AS last_event_id,
       CASE WHEN w.del_id IS NOT NULL THEN 'D' ELSE 'U' END AS op_type,
       u.event_type AS last_event_type,
       u.value AS last_value,
       CAST(floor(epoch(CASE WHEN w.del_id IS NOT NULL
                             THEN w.del_ts ELSE u.ts END)) AS BIGINT)
         AS ts_epoch
FROM ups u LEFT JOIN win w ON u.user_id = w.uid
"""


def q_cdc_apply_final_state_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same write path in merge-on-read mode, applied as two
    offset-ranged micro-batches so the second batch commits per-bucket
    delta files and the read resolves base+delta per key — must equal
    the same sequential-replay oracle as the COW flagship."""
    cfg = SinkConfig(merge_mode="mor", **_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mid = _events_max_id(spark, sf_dir) // 2
    tmp = _scratch_dir("cdc_final_state_mor_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    applier.apply_batch(cdc.filter(F.col("kafka_offset") <= mid), batch_id=0)
    applier.apply_batch(cdc.filter(F.col("kafka_offset") > mid), batch_id=1)
    return applier.read_target().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        "op_type",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel diff: apply the stream as two batches, then compare
    the mid-stream snapshot against the final one — per key: added /
    changed / unchanged (lake snapshots are immutable, so version N
    stays readable after N+1 commits)."""
    cfg = SinkConfig(**_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mid = _events_max_id(spark, sf_dir) // 2
    tmp = _scratch_dir("cdc_snapshot_diff_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    r1 = applier.apply_batch(
        cdc.filter(F.col("kafka_offset") <= mid), batch_id=0
    )
    applier.apply_batch(cdc.filter(F.col("kafka_offset") > mid), batch_id=1)
    t = applier.table()
    cols = ["user_id", "event_id", "op_type", "event_type", "value"]
    v_mid = t.read(version=r1.snapshot_version).select(
        *[F.col(c).alias(f"m_{c}") for c in cols]
    )
    v_end = t.read().select(*cols)
    j = v_end.join(v_mid, F.col("user_id") == F.col("m_user_id"),
                   "full_outer")
    status = (
        F.when(F.col("m_user_id").isNull(), F.lit("added"))
        .when(
            (F.col("event_id") != F.col("m_event_id"))
            | (F.col("op_type") != F.col("m_op_type")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return j.select(
        F.coalesce(F.col("user_id"), F.col("m_user_id")).alias("user_id"),
        F.col("m_event_id").alias("mid_event_id"),
        F.col("event_id").alias("final_event_id"),
        F.col("m_op_type").alias("mid_op_type"),
        F.col("op_type").alias("final_op_type"),
        status.alias("status"),
    )


def _final_state_sql(upto: str) -> str:
    """Final-state CTE body over events with event_id <= {upto}
    (mirrors _sql_cdc_final_state, parameterized by stream position)."""
    return f"""
  WITH cdc AS (
    SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
    FROM events WHERE event_id <= {upto}
  ),
  ranked AS (
    SELECT *, row_number() OVER (
      PARTITION BY user_id, (op = 'd') ORDER BY event_id DESC) AS rn
    FROM cdc
  ),
  ups AS (SELECT * FROM ranked WHERE op <> 'd' AND rn = 1),
  del AS (SELECT * FROM ranked WHERE op = 'd' AND rn = 1)
  SELECT u.user_id,
         u.event_id,
         CASE WHEN d.event_id IS NOT NULL AND d.event_id > u.event_id
              THEN 'D' ELSE 'U' END AS op_type
  FROM ups u LEFT JOIN del d ON u.user_id = d.user_id
"""


def _sql_cdc_snapshot_diff() -> str:
    return f"""
WITH bounds AS (
  SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS mid FROM events
),
m AS ({_final_state_sql("(SELECT mid FROM bounds)")}),
f AS ({_final_state_sql("(SELECT max(event_id) FROM events)")})
SELECT coalesce(f.user_id, m.user_id) AS user_id,
       m.event_id AS mid_event_id,
       f.event_id AS final_event_id,
       m.op_type AS mid_op_type,
       f.op_type AS final_op_type,
       CASE WHEN m.user_id IS NULL THEN 'added'
            WHEN f.event_id <> m.event_id OR f.op_type <> m.op_type
            THEN 'changed' ELSE 'unchanged' END AS status
FROM f FULL OUTER JOIN m ON f.user_id = m.user_id
"""


def q_cdc_restore_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE (rollback-to-snapshot) + checkpoint replay
    (``lake/table.py:restore``): apply the stream as two batches,
    roll the table back to the batch-0 commit with a metadata-only
    restore commit (state AND exactly-once watermarks rewind
    together), then replay batch 1 from the checkpoint. Emits both
    phases: the rolled-back state must equal the mid-stream oracle,
    and the replayed state must reconverge to the full-stream oracle
    — the table-side half of the reference's recovery story (Kafka
    offset rewind + idempotent upsert replay, SinkTask offset
    management)."""
    cfg = SinkConfig(**_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mid = _events_max_id(spark, sf_dir) // 2
    tmp = _scratch_dir("cdc_restore_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    r0 = applier.apply_batch(
        cdc.filter(F.col("kafka_offset") <= mid), batch_id=0
    )
    b1 = cdc.filter(F.col("kafka_offset") > mid)
    applier.apply_batch(b1, batch_id=1)
    t = applier.table()
    t.restore(r0.snapshot_version)
    cols = ["user_id", "event_id", "op_type"]
    # lazy over the restored snapshot's explicit file list — immutable,
    # so the later replay commit cannot disturb this plan
    rolled = applier.read_target().select(*cols).withColumn(
        "phase", F.lit("rolled_back")
    )
    # replay from the checkpoint: the restore rewound the batch
    # watermark below 1, so the batch re-applies (not skips) and the
    # state reconverges to the pre-restore head
    applier.apply_batch(b1, batch_id=1)
    replayed = applier.read_target().select(*cols).withColumn(
        "phase", F.lit("replayed")
    )
    return rolled.unionByName(replayed)


def _sql_cdc_restore_replay() -> str:
    return f"""
WITH bounds AS (
  SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS mid FROM events
),
m AS ({_final_state_sql("(SELECT mid FROM bounds)")}),
f AS ({_final_state_sql("(SELECT max(event_id) FROM events)")})
SELECT user_id, event_id, op_type, 'rolled_back' AS phase FROM m
UNION ALL
SELECT user_id, event_id, op_type, 'replayed' AS phase FROM f
"""


def q_cdc_cascade_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bronze → silver cascade (``streaming/cascade.py``): ingest the
    stream into a hard-delete bronze table in two batches; after each,
    an incremental cascade maintains a filtered silver VIEW of it
    (``value >= 50``) from the change feed only — including the
    incremental-view-maintenance edge the naive approach misses
    (updates moving a row out of the predicate must DELETE it
    downstream). Exactly-once per upstream version; cost follows
    change volume, not table size. Result: the silver table, which
    must equal the declarative filter over bronze's final state."""
    from kafka_jdbc_sink_connector_spark.streaming.cascade import (
        CascadeRunner,
    )

    cfg = SinkConfig(pk_fields=("user_id",), n_buckets=8,
                     delete_mode="delete")
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mid = _events_max_id(spark, sf_dir) // 2
    tmp = _scratch_dir("cdc_cascade_")
    bronze = CdcApplier(spark, cfg, os.path.join(tmp, "bronze"))
    silver = CdcApplier(
        spark,
        SinkConfig(pk_fields=("user_id",), n_buckets=8,
                   delete_mode="delete"),
        os.path.join(tmp, "silver"),
    )
    run = CascadeRunner(spark, bronze.table_path, silver,
                        row_filter=F.col("value") >= 50)
    bronze.apply_batch(cdc.filter(F.col("kafka_offset") <= mid), batch_id=0)
    run.sync()  # bootstrap
    bronze.apply_batch(cdc.filter(F.col("kafka_offset") > mid), batch_id=1)
    run.sync()  # incremental: inserts, updates, deletes, filter exits
    return silver.read_target().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    )


def _sql_cdc_cascade_view() -> str:
    # hard-delete live state (latest upsert with no later delete),
    # then the view predicate — the target the incremental cascade
    # must converge to
    return """
WITH cdc AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM cdc WHERE op <> 'd'
),
ups AS (SELECT * FROM ranked WHERE rn = 1),
live AS (
  SELECT u.* FROM ups u
  WHERE NOT EXISTS (
    SELECT 1 FROM cdc d
    WHERE d.op = 'd' AND d.user_id = u.user_id
      AND d.event_id > u.event_id
  )
)
SELECT user_id,
       event_id AS last_event_id,
       event_type AS last_event_type,
       value AS last_value
FROM live WHERE value >= 50
"""


def q_cdc_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained AGGREGATE view
    (``streaming/aggview.AggViewRunner``): ingest the stream into a
    hard-delete bronze in three batches; after each, the runner keeps
    ``GROUP BY event_type`` aggregates (user count, sum/max of value
    cents) current from the change feed WITH pre-images — group-wise
    partial recompute, so an update that moves a user's live row to a
    different event_type debits the old group (the edge post-image
    feeds can't see), deletes shrink groups, and a group losing its
    last row leaves the view. Cost per sync follows the changed
    groups, never the table. Result: the view table, which must equal
    the declarative GROUP BY over bronze's final live state."""
    from kafka_jdbc_sink_connector_spark.streaming.aggview import (
        AggViewRunner,
    )

    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    hi = _events_max_id(spark, sf_dir)
    tmp = _scratch_dir("cdc_aggview_")
    bronze = CdcApplier(
        spark,
        SinkConfig(pk_fields=("user_id",), n_buckets=8,
                   delete_mode="delete"),
        os.path.join(tmp, "bronze"),
    )
    view = CdcApplier(
        spark,
        SinkConfig(pk_fields=("event_type",), n_buckets=4,
                   delete_mode="delete", delete_retain_fields=()),
        os.path.join(tmp, "view"),
    )
    run = AggViewRunner(
        spark, bronze.table_path, view, ["event_type"],
        {
            "n_users": F.count("*"),
            "sum_value_cents": F.sum(_cents(F.col("value"))),
            "max_value_cents": F.max(_cents(F.col("value"))),
        },
    )
    mid = hi // 2
    bronze.apply_batch(
        cdc.filter(F.col("kafka_offset") <= mid), batch_id=0
    )
    run.sync()  # bootstrap
    bronze.apply_batch(
        cdc.filter(F.col("kafka_offset") > mid), batch_id=1
    )
    run.sync()  # incremental: group moves + deletes + empties
    return view.read_target().select(
        "event_type", "n_users", "sum_value_cents", "max_value_cents"
    )


def _sql_cdc_agg_view() -> str:
    # live state (same collapse as the cascade oracle), then the
    # GROUP BY the incremental view must converge to
    return """
WITH cdc AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM cdc WHERE op <> 'd'
),
ups AS (SELECT * FROM ranked WHERE rn = 1),
live AS (
  SELECT u.* FROM ups u
  WHERE NOT EXISTS (
    SELECT 1 FROM cdc d
    WHERE d.op = 'd' AND d.user_id = u.user_id
      AND d.event_id > u.event_id
  )
)
SELECT event_type,
       COUNT(*) AS n_users,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_value_cents,
       MAX(CAST(round(value * 100, 0) AS BIGINT)) AS max_value_cents
FROM live
GROUP BY event_type
"""


def q_cdc_rollup_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed continuous aggregate (the Timescale hypertable
    rollup shape) as an incrementally-maintained view:
    ``AggViewRunner`` with a DERIVED group column — the transform
    hook stamps ``date_trunc('hour', ts)`` on upstream AND feed rows,
    so a changed row debits its OLD hour bucket via the pre-image and
    credits the new one; only touched (hour, event_type) buckets
    re-aggregate per sync. Oracle = the declarative rollup over the
    final live state."""
    from kafka_jdbc_sink_connector_spark.streaming.aggview import (
        AggViewRunner,
    )

    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    hi = _events_max_id(spark, sf_dir)
    tmp = _scratch_dir("cdc_rollup_")
    bronze = CdcApplier(
        spark,
        SinkConfig(pk_fields=("user_id",), n_buckets=8,
                   delete_mode="delete"),
        os.path.join(tmp, "bronze"),
    )
    view = CdcApplier(
        spark,
        SinkConfig(pk_fields=("bucket_hour", "event_type"),
                   n_buckets=4, delete_mode="delete",
                   delete_retain_fields=()),
        os.path.join(tmp, "view"),
    )
    run = AggViewRunner(
        spark, bronze.table_path, view,
        ["bucket_hour", "event_type"],
        {
            "n_rows": F.count("*"),
            "sum_value_cents": F.sum(_cents(F.col("value"))),
        },
        transform=lambda df: df.withColumn(
            "bucket_hour", F.date_trunc("hour", F.col("ts"))
        ),
    )
    mid = hi // 2
    bronze.apply_batch(
        cdc.filter(F.col("kafka_offset") <= mid), batch_id=0
    )
    run.sync()
    bronze.apply_batch(
        cdc.filter(F.col("kafka_offset") > mid), batch_id=1
    )
    run.sync()
    return view.read_target().select(
        "bucket_hour", "event_type", "n_rows", "sum_value_cents"
    )


def _sql_cdc_rollup_view() -> str:
    return """
WITH cdc AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY event_id DESC) AS rn
  FROM cdc WHERE op <> 'd'
),
ups AS (SELECT * FROM ranked WHERE rn = 1),
live AS (
  SELECT u.* FROM ups u
  WHERE NOT EXISTS (
    SELECT 1 FROM cdc d
    WHERE d.op = 'd' AND d.user_id = u.user_id
      AND d.event_id > u.event_id
  )
)
SELECT date_trunc('hour', ts) AS bucket_hour,
       event_type,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM live
GROUP BY 1, 2
"""


def q_cdc_rebucket_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count evolution (``maintenance.rebucket``): apply the
    full stream, then re-bucket the table 8 → 32 with one resolved
    rewrite (the Iceberg partition-spec-evolution operation — the
    initial bucket choice rarely survives 100× growth). The state
    read back under the new layout must still equal the final-state
    oracle; watermarks and properties carry so ingest continues."""
    from kafka_jdbc_sink_connector_spark.lake.maintenance import rebucket

    cfg = SinkConfig(**_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    tmp = _scratch_dir("cdc_rebucket_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    applier.apply_batch(cdc, batch_id=0)
    rebucket(applier.table(), 32)
    return applier.read_target().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        "op_type",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_cdc_bloom_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter file skipping (``lake/stats.py`` blooms, opt-in
    ``bloom.cols`` table property): load the stream into a lake table
    in four INTERLEAVED commits (every file spans the full event_id
    range, so min/max bounds prune nothing), then point-look-up one
    event_id through ``read(where=)`` — the per-file blooms prove the
    value absent from all but ~one file. The 100-TB case this serves:
    key lookups on high-cardinality unclustered columns touch one
    file per bucket instead of every file ever written."""
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    mx = _events_max_id(spark, sf_dir)
    probe = (
        ev.filter(F.col("event_id") >= mx // 2)
        .agg(F.min("event_id"))
        .collect()[0][0]
    )
    tmp = _scratch_dir("cdc_bloom_")
    t = LakeTable.create(
        spark, os.path.join(tmp, "tgt"), ev.schema, n_buckets=8,
        key_fields=["user_id"], props={"bloom.cols": ["event_id"]},
    )
    for c in range(4):
        t.commit_append(
            t.with_bucket(ev.filter(F.pmod("event_id", F.lit(4)) == c))
        )
    return t.read(where=[("event_id", "=", int(probe))]).select(
        "user_id", "event_id", "event_type", "value"
    )


def _sql_cdc_bloom_point_lookup() -> str:
    return """
WITH probe AS (
  SELECT min(event_id) AS pid FROM events
  WHERE event_id >= (
    SELECT CAST(floor(max(event_id) / 2) AS BIGINT) FROM events)
)
SELECT user_id, event_id, event_type, value
FROM events WHERE event_id = (SELECT pid FROM probe)
"""


def q_cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed (Delta-CDF idea on the engine's snapshot log):
    apply the stream as two batches under HARD deletes, then emit every
    row whose state differs between the mid-stream version and the
    head — inserts (new keys), updates (re-upserted keys), deletes
    (hard-deleted keys, pre-image) — the view a downstream index/cache
    refreshes from instead of rescanning the table."""
    from kafka_jdbc_sink_connector_spark.lake.changes import table_changes

    cfg = SinkConfig(pk_fields=("user_id",), delete_retain_fields=("ts",),
                     n_buckets=8, delete_mode="delete")
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mid = _events_max_id(spark, sf_dir) // 2
    tmp = _scratch_dir("cdc_change_feed_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    r1 = applier.apply_batch(
        cdc.filter(F.col("kafka_offset") <= mid), batch_id=0
    )
    applier.apply_batch(cdc.filter(F.col("kafka_offset") > mid), batch_id=1)
    feed = table_changes(
        applier.table(), from_version=r1.snapshot_version,
        compare_cols=["event_id", "event_type", "value", "ts"],
    )
    return feed.select(
        "user_id",
        "_change_type",
        F.col("event_id").alias("image_event_id"),
        F.col("event_type").alias("image_event_type"),
        F.col("value").alias("image_value"),
        F.unix_timestamp("ts").alias("image_ts_epoch"),
    )


def _sql_cdc_change_feed() -> str:
    # hard-delete state at a stream position: latest upsert per key
    # with no later delete (<= position); feed = keywise diff of the
    # two states, post-image (pre-image only for deletes)
    def hard_state(upto: str) -> str:
        return f"""
  SELECT user_id, event_id, event_type, value, ts FROM (
    SELECT *, row_number() OVER (
      PARTITION BY user_id ORDER BY event_id DESC) AS rn
    FROM events
    WHERE event_type <> 'error' AND event_id <= {upto}
  ) u
  WHERE rn = 1 AND NOT EXISTS (
    SELECT 1 FROM events d
    WHERE d.user_id = u.user_id AND d.event_type = 'error'
      AND d.event_id > u.event_id AND d.event_id <= {upto}
  )
"""

    return f"""
WITH bounds AS (
  SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS mid FROM events
),
m AS ({hard_state("(SELECT mid FROM bounds)")}),
f AS ({hard_state("(SELECT max(event_id) FROM events)")})
SELECT coalesce(f.user_id, m.user_id) AS user_id,
       CASE WHEN m.user_id IS NULL THEN 'insert'
            WHEN f.user_id IS NULL THEN 'delete'
            ELSE 'update' END AS _change_type,
       coalesce(f.event_id, m.event_id) AS image_event_id,
       coalesce(f.event_type, m.event_type) AS image_event_type,
       coalesce(f.value, m.value) AS image_value,
       CAST(floor(epoch(coalesce(f.ts, m.ts))) AS BIGINT)
         AS image_ts_epoch
FROM f FULL OUTER JOIN m ON f.user_id = m.user_id
WHERE m.user_id IS NULL OR f.user_id IS NULL
   OR f.event_id <> m.event_id OR f.event_type <> m.event_type
   OR f.value <> m.value OR f.ts <> m.ts
"""


def q_cdc_change_feed_soft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change feed under SOFT deletes on a merge-on-read table: rows
    never leave the table, so a delete surfaces as ``update`` with the
    marker flipped (op_type='D') and the retain field (ts) overwritten
    from the delete event; ``compare_cols`` excludes the audit column
    so apply-time noise is invisible. The second batch is a pure delta
    commit adjacent to the first, so this entry drives the
    delta-replay fast path (lake/changes._adjacent_delta_changes)
    through the driver's oracle."""
    from kafka_jdbc_sink_connector_spark.lake.changes import table_changes

    cfg = SinkConfig(merge_mode="mor", **_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mid = _events_max_id(spark, sf_dir) // 2
    tmp = _scratch_dir("cdc_change_feed_soft_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    r1 = applier.apply_batch(
        cdc.filter(F.col("kafka_offset") <= mid), batch_id=0
    )
    applier.apply_batch(cdc.filter(F.col("kafka_offset") > mid), batch_id=1)
    feed = table_changes(
        applier.table(), from_version=r1.snapshot_version,
        compare_cols=["event_id", "event_type", "value", "ts", "op_type"],
    )
    return feed.select(
        "user_id",
        "_change_type",
        F.col("op_type").alias("image_op_type"),
        F.col("event_id").alias("image_event_id"),
        F.col("event_type").alias("image_event_type"),
        F.col("value").alias("image_value"),
        F.unix_timestamp("ts").alias("image_ts_epoch"),
    )


def _sql_cdc_change_feed_soft() -> str:
    # soft-delete state at a stream position: latest upsert per key;
    # the WINNING delete is the EARLIEST one after that upsert (guard
    # blocks later ones) — it flips op_type to 'D' and overwrites the
    # retain field ts. Rows never disappear, so the feed has inserts
    # and updates only; a marker flip alone is an update.
    def soft_state(upto: str) -> str:
        return f"""
  SELECT u.user_id, u.event_id, u.event_type, u.value,
         CASE WHEN w.del_id IS NOT NULL THEN 'D' ELSE 'U' END AS op_type,
         CASE WHEN w.del_id IS NOT NULL THEN w.del_ts ELSE u.ts END AS ts
  FROM (
    SELECT * FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
      WHERE event_type <> 'error' AND event_id <= {upto}
    ) WHERE rn = 1
  ) u
  LEFT JOIN (
    SELECT u2.user_id AS uid, min(d.event_id) AS del_id,
           arg_min(d.ts, d.event_id) AS del_ts
    FROM (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY event_id DESC) AS rn
        FROM events
        WHERE event_type <> 'error' AND event_id <= {upto}
      ) WHERE rn = 1
    ) u2
    JOIN events d ON d.user_id = u2.user_id
                 AND d.event_type = 'error'
                 AND d.event_id > u2.event_id AND d.event_id <= {upto}
    GROUP BY 1
  ) w ON u.user_id = w.uid
"""

    return f"""
WITH bounds AS (
  SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS mid FROM events
),
m AS ({soft_state("(SELECT mid FROM bounds)")}),
f AS ({soft_state("(SELECT max(event_id) FROM events)")})
SELECT f.user_id,
       CASE WHEN m.user_id IS NULL THEN 'insert'
            ELSE 'update' END AS _change_type,
       f.op_type AS image_op_type,
       f.event_id AS image_event_id,
       f.event_type AS image_event_type,
       f.value AS image_value,
       CAST(floor(epoch(f.ts)) AS BIGINT) AS image_ts_epoch
FROM f LEFT JOIN m ON f.user_id = m.user_id
WHERE m.user_id IS NULL
   OR f.event_id <> m.event_id OR f.op_type <> m.op_type
   OR f.event_type <> m.event_type OR f.value <> m.value
   OR f.ts <> m.ts
"""


def q_cdc_lineage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source-partition lineage (F5): offset ranges + op counts."""
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    return cdc.groupBy("kafka_partition").agg(
        F.min("kafka_offset").alias("min_offset"),
        F.max("kafka_offset").alias("max_offset"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("n_delete"),
        F.sum(F.when(F.col("op") != "d", 1).otherwise(0)).alias("n_upsert"),
    )


def _sql_cdc_lineage() -> str:
    return """
SELECT CAST(user_id % 8 AS INTEGER) AS kafka_partition,
       min(event_id) AS min_offset,
       max(event_id) AS max_offset,
       count(*) AS n_events,
       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_delete,
       CAST(sum(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_upsert
FROM events GROUP BY 1
"""


def q_cdc_quarantine_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation split (O2/O18): per-row first-failure reason; only
    quarantined rows returned, with source coordinates."""
    ev = _t(spark, sf_dir, "events")
    err = F.coalesce(
        F.when(F.col("user_id").isNull(), F.lit("null key field user_id")),
        F.when(F.col("value") > 180.0, F.lit("value_out_of_range")),
        F.when(
            F.get_json_object("props", "$.k").cast("int") > 90,
            F.lit("k_out_of_range"),
        ),
    )
    return (
        ev.withColumn("error", err)
        .filter(F.col("error").isNotNull())
        .select("event_id", "error")
    )


def _sql_cdc_quarantine() -> str:
    return """
SELECT event_id,
       coalesce(
         CASE WHEN user_id IS NULL THEN 'null key field user_id' END,
         CASE WHEN value > 180.0 THEN 'value_out_of_range' END,
         CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 90
              THEN 'k_out_of_range' END
       ) AS error
FROM events
WHERE coalesce(
         CASE WHEN user_id IS NULL THEN 'null key field user_id' END,
         CASE WHEN value > 180.0 THEN 'value_out_of_range' END,
         CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) > 90
              THEN 'k_out_of_range' END) IS NOT NULL
"""


def q_cdc_dlq_replay_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter replay (``apply.replay_quarantine``): every event
    of ~10% of the keys arrives with a corrupted op and dead-letters
    through the REAL quarantine path; the replay re-drives the
    batch's quarantine partition with a fix that restores the op, so
    the engine converges to the state the clean stream would have
    produced — which is exactly the standard final-state oracle.
    Mangling whole KEYS (not scattered events) keeps replay ordering
    out of the semantics: each affected key's full event set flows
    through one collapse, same as a clean apply."""
    cfg = SinkConfig(**_CDC_CFG)
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mangled = cdc.withColumn(
        "op",
        F.when(F.pmod("user_id", F.lit(10)) == 3, F.lit("x"))
        .otherwise(F.col("op")),
    )
    tmp = _scratch_dir("cdc_dlq_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    applier.apply_batch(mangled, batch_id=0)

    def fix(df):
        return df.withColumn(
            "op",
            F.when(
                F.col("op") == "x",
                F.when(F.col("event_type") == "error", F.lit("d"))
                .otherwise(F.lit("u")),
            ).otherwise(F.col("op")),
        )

    applier.replay_quarantine(0, fix=fix)
    return applier.read_target().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        "op_type",
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_cdc_schema_evolution_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evolution/backfill semantics (O6): even event_ids replay the
    pre-evolution schema (no `value` column); unionByName null-backfills
    it; aggregate proves the backfill."""
    ev = _t(spark, sf_dir, "events")
    v1 = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "ts", "user_id", "event_type", "props"
    )
    v2 = ev.filter(F.col("event_id") % 2 == 1)
    merged = v1.unionByName(v2, allowMissingColumns=True)
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_with_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def q_cdc_schema_widening_state(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Type-widening evolution (round 5, beyond reference parity):
    batch 0 writes a ``units`` column as INT (narrow writer); batch 1
    arrives with ``units`` as BIGINT carrying values beyond int range
    (an upstream ALTER). With ``auto_evolve_widen`` the TARGET column
    widens via a metadata-only commit and every row applies — batch-0
    parquet files read back up-converted. Final state: any batch-1
    (odd event_id) row beats all batch-0 rows for its key (applied
    later); latest event_id wins within a batch. Values derive from
    exact integer arithmetic (``event_id % 1000``) so both engines
    agree bit-for-bit."""
    ev = _t(spark, sf_dir, "events")

    def frame(df, units):
        return df.select(
            F.pmod(F.col("user_id"), F.lit(8)).cast("int")
            .alias("kafka_partition"),
            F.col("event_id").alias("kafka_offset"),
            F.lit("u").alias("op"),
            "user_id",
            "event_id",
            "ts",
            units.alias("units"),
        )

    narrow = F.pmod(F.col("event_id"), F.lit(1000)).cast("int")
    wide = (F.pmod(F.col("event_id"), F.lit(1000))
            + F.lit(2 ** 35)).cast("long")
    b0 = frame(ev.filter(F.col("event_id") % 2 == 0), narrow)
    b1 = frame(ev.filter(F.col("event_id") % 2 == 1), wide)
    cfg = SinkConfig(pk_fields=("user_id",), n_buckets=8,
                     auto_evolve_widen=True)
    tmp = _scratch_dir("cdc_widening_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    applier.apply_batch(b0, batch_id=0)
    res = applier.apply_batch(b1, batch_id=1)
    assert res.widened_columns == ["units: int->bigint"], (
        res.widened_columns
    )
    return applier.read_target().select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        "units",
    )


def _sql_cdc_widening() -> str:
    return """
WITH ranked AS (
  SELECT user_id, event_id, event_id % 2 AS par,
         row_number() OVER (PARTITION BY user_id
             ORDER BY event_id % 2 DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id,
       event_id AS last_event_id,
       CAST(CASE WHEN par = 1 THEN event_id % 1000 + 34359738368
                 ELSE event_id % 1000 END AS BIGINT) AS units
FROM ranked WHERE rn = 1
"""


def _sql_cdc_evolution() -> str:
    return """
WITH merged AS (
  SELECT event_type,
         CASE WHEN event_id % 2 = 1 THEN value END AS value
  FROM events
)
SELECT event_type,
       count(*) AS n_rows,
       count(value) AS n_with_value,
       min(value) AS min_value,
       max(value) AS max_value
FROM merged GROUP BY event_type
"""


def q_cdc_time_range_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping (``lake/stats.py``): ingest events as
    4 append commits sliced on ``event_id`` — the commit-time
    clustering every CDC ingest produces naturally — then scan with
    ``read(where=...)``. The footer min/max stats prove 2 of the 4
    commits can't match ``event_id > max/2``, so their files never
    enter the scan (``tests/test_data_skipping.py`` asserts the file
    counts); the residual predicate re-applies to surviving rows, so
    the result is EXACTLY ``read().filter(...)`` — which is what the
    DuckDB oracle computes straight off the raw table. At 100 TB this
    is the "rows since T" pattern: I/O ~ matching commits, not table
    size, composing with bucket pruning on the key axis."""
    import datetime as dt

    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    sel = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    max_id = _events_max_id(spark, sf_dir)
    tmp = _scratch_dir("cdc_skip_scan_")
    t = LakeTable.create(
        spark, os.path.join(tmp, "t"), sel.schema,
        n_buckets=8, key_fields=["event_id"], bucket_key="user_id",
    )
    step = (max_id + 4) // 4
    for i in range(4):
        sl = sel.filter(
            (F.col("event_id") >= i * step)
            & (F.col("event_id") < (i + 1) * step)
        )
        t.commit_append(t.with_bucket(sl))
    df = t.read(
        where=[
            ("event_id", ">", max_id // 2),
            ("ts", ">=", dt.datetime(2024, 1, 15)),
        ]
    )
    return df.select(
        "user_id", "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def _sql_time_range_scan() -> str:
    # mirrors LakeTable.read(where=...) == full-scan + filter: the
    # oracle needs no lake layout at all — that IS the contract
    return """
SELECT user_id, event_id, event_type, value,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM events
WHERE event_id > (SELECT CAST(floor(max(event_id) / 2) AS BIGINT)
                  FROM events)
  AND ts >= TIMESTAMP '2024-01-15'
"""


def q_cdc_metadata_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only counting (``LakeTable.count`` +
    ``stats.file_fully_matches``): ingest events as 4 time-sliced
    append commits, then answer three counts — a "rows since T" tail,
    a mid-range window, and the table total — from manifest row counts
    wherever the footer stats PROVE a file fully matches or can't
    match, scanning only boundary files (the Delta
    ``SELECT COUNT(*)``-from-stats idea generalized to range
    predicates; ``tests/test_data_skipping.py`` proves decidable files
    are never opened by deleting them). Contract:
    ``count(where=P) == read().filter(P).count()`` — exactly what the
    DuckDB oracle computes off the raw table. At 100 TB, counting the
    last day of a time-clustered table costs ~one boundary file per
    bucket, not a table scan."""
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    sel = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    max_id = _events_max_id(spark, sf_dir)
    tmp = _scratch_dir("cdc_meta_count_")
    t = LakeTable.create(
        spark, os.path.join(tmp, "t"), sel.schema,
        n_buckets=8, key_fields=["event_id"], bucket_key="user_id",
    )
    step = (max_id + 4) // 4
    for i in range(4):
        sl = sel.filter(
            (F.col("event_id") >= i * step)
            & (F.col("event_id") < (i + 1) * step)
        )
        t.commit_append(t.with_bucket(sl))
    recent = t.count(where=[("event_id", ">", max_id // 2)])
    window = t.count(
        where=[
            ("event_id", ">=", max_id // 4),
            ("event_id", "<", max_id // 2),
        ]
    )
    total = t.count()
    return spark.createDataFrame(
        [(recent, window, total)],
        "recent_rows bigint, window_rows bigint, total_rows bigint",
    )


def _sql_metadata_count() -> str:
    # count(where=P) == plain filtered count — the oracle never sees
    # the lake layout, which is the whole contract
    return """
WITH m AS (SELECT CAST(floor(max(event_id) / 2) AS BIGINT) AS half,
                  CAST(floor(max(event_id) / 4) AS BIGINT) AS quart
           FROM events)
SELECT (SELECT count(*) FROM events, m WHERE event_id > m.half)
           AS recent_rows,
       (SELECT count(*) FROM events, m
         WHERE event_id >= m.quart AND event_id < m.half)
           AS window_rows,
       (SELECT count(*) FROM events) AS total_rows
"""


def q_cdc_metadata_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only MIN/MAX (``LakeTable.min_max`` +
    ``stats.bounds_from_stats``): same sliced ingest as the count
    query; integer/timestamp bounds come straight from the manifest
    (tests prove it by deleting the data files first), the float
    column (``value``) forces a scan — a hidden NaN IS Spark's max but
    is invisible to parquet stats, so floats never resolve from
    metadata. Contract: equals ``read().agg(min, max)`` — the DuckDB
    oracle off the raw table. At 100 TB, "newest event time" is a
    driver-side manifest read."""
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    sel = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    max_id = _events_max_id(spark, sf_dir)
    tmp = _scratch_dir("cdc_meta_minmax_")
    t = LakeTable.create(
        spark, os.path.join(tmp, "t"), sel.schema,
        n_buckets=8, key_fields=["event_id"], bucket_key="user_id",
    )
    step = (max_id + 4) // 4
    for i in range(4):
        sl = sel.filter(
            (F.col("event_id") >= i * step)
            & (F.col("event_id") < (i + 1) * step)
        )
        t.commit_append(t.with_bucket(sl))
    mm = t.min_max(["event_id", "user_id", "ts", "value"])
    epoch = _dt.datetime(1970, 1, 1)
    return spark.createDataFrame(
        [(
            mm["event_id"][0], mm["event_id"][1],
            mm["user_id"][0], mm["user_id"][1],
            int((mm["ts"][0] - epoch).total_seconds()),
            int((mm["ts"][1] - epoch).total_seconds()),
            float(mm["value"][0]), float(mm["value"][1]),
        )],
        "min_event bigint, max_event bigint, min_user bigint, "
        "max_user bigint, min_ts_epoch bigint, max_ts_epoch bigint, "
        "min_value double, max_value double",
    )


def _sql_metadata_minmax() -> str:
    return """
SELECT min(event_id) AS min_event, max(event_id) AS max_event,
       min(user_id) AS min_user, max(user_id) AS max_user,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS min_ts_epoch,
       CAST(floor(epoch(max(ts))) AS BIGINT) AS max_ts_epoch,
       min(value) AS min_value, max(value) AS max_value
FROM events
"""


def q_cdc_clustered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering maintenance (``lake/maintenance.cluster_by``): one
    append commit whose files span the full ``user_id`` range (ingest
    order ignores the column — nothing skippable), then a sort-rewrite
    clustered on ``user_id`` (range-partitioned layout preserved via
    ``commit_rewrite(preserve_layout=True)``), then a range scan with
    ``read(where=...)``. The scan result must equal the plain filtered
    table — the DuckDB oracle — while the footer stats now let the
    scan drop most files per bucket (``tests/test_data_skipping.py``
    asserts the file counts; here the driver checks values)."""
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    sel = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    max_uid = sel.agg(F.max("user_id")).collect()[0][0]
    tmp = _scratch_dir("cdc_clustered_scan_")
    t = LakeTable.create(
        spark, os.path.join(tmp, "t"), sel.schema,
        n_buckets=4, key_fields=["event_id"], bucket_key="event_id",
    )
    t.commit_append(t.with_bucket(sel))
    cluster_by(t, ["user_id"], files_per_bucket=4)
    df = t.read(where=[("user_id", "<=", max_uid // 10)])
    return df.select(
        "user_id", "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def _sql_clustered_scan() -> str:
    # cluster_by + read(where=P) == full-scan + filter — layout
    # changes I/O, never results
    return """
SELECT user_id, event_id, event_type, value,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM events
WHERE user_id <= (SELECT CAST(floor(max(user_id) / 10) AS BIGINT)
                  FROM events)
"""


def q_cdc_zorder_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering (``cluster_by(method="zorder")``): one
    unordered commit of events, then a Morton-key sort-rewrite on
    ``(user_id, event_id)`` — bits interleaved, codegen'd, key dropped
    at write — after which range scans on EACH clustered column skip
    files (lexicographic order would leave ``event_id`` unskippable;
    ``tests/test_data_skipping.py`` asserts the file counts on a 2-D
    grid). The driver checks values: both probes on the same clustered
    table, each equal to the plain filtered table, which is the
    layout-blind DuckDB oracle."""
    from kafka_jdbc_sink_connector_spark.lake.maintenance import cluster_by
    from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

    sel = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mx = sel.agg(
        F.max("user_id").alias("u"), F.max("event_id").alias("e")
    ).collect()[0]
    tmp = _scratch_dir("cdc_zorder_scan_")
    t = LakeTable.create(
        spark, os.path.join(tmp, "t"), sel.schema,
        n_buckets=4, key_fields=["event_id"], bucket_key="event_id",
    )
    t.commit_append(t.with_bucket(sel))
    cluster_by(t, ["user_id", "event_id"], files_per_bucket=8,
               method="zorder")
    cols = [
        "user_id", "event_id", "event_type", "value",
        F.unix_timestamp("ts").alias("ts_epoch"),
    ]
    ax_u = (
        t.read(where=[("user_id", "<=", mx["u"] // 20)])
        .select(F.lit("u").alias("probe"), *cols)
    )
    ax_e = (
        t.read(where=[("event_id", ">", (mx["e"] // 20) * 19)])
        .select(F.lit("e").alias("probe"), *cols)
    )
    return ax_u.unionByName(ax_e)


def _sql_zorder_scan() -> str:
    # layout never changes results: both probes are plain filters
    return """
WITH m AS (SELECT CAST(floor(max(user_id) / 20) AS BIGINT) AS u_lo,
                  CAST(floor(max(event_id) / 20) AS BIGINT) * 19 AS e_hi
           FROM events)
SELECT 'u' AS probe, user_id, event_id, event_type, value,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM events, m WHERE user_id <= m.u_lo
UNION ALL
SELECT 'e' AS probe, user_id, event_id, event_type, value,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM events, m WHERE event_id > m.e_hi
"""


def q_events_assemble_transcripts(spark: SparkSession, sf_dir: str
                                  ) -> DataFrame:
    """Transcript assembly — the payload-domain layout step: collapse
    each key's ordered event stream into ONE training-ready text row
    (`role: text` turns joined in order), plus turn count and total
    length. Shape at 100 TB: collect_list per key (map-side partial)
    → array_sort on the (offset, …) struct → codegen'd transform +
    array_join — one shuffle on the key, no window, no global order,
    no Python. The same plan assembles multi-turn conversations from
    the CDC table (`conv_id`/`turn_idx`/`role`/`text`)."""
    from kafka_jdbc_sink_connector_spark.operators.text import (
        assemble_transcripts,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") != "error")
    line = F.concat_ws(
        ": ", F.col("event_type"), F.format_string("%.2f", F.col("value"))
    )
    return assemble_transcripts(ev, ["user_id"], "event_id", line)


def _sql_events_assemble_transcripts() -> str:
    # format_string('%.2f') and printf('%.2f') agree at any magnitude
    # (no locale grouping on either side)
    return """
WITH turns AS (
  SELECT user_id, event_id,
         event_type || ': ' || printf('%.2f', value) AS line
  FROM events WHERE event_type <> 'error'
)
SELECT user_id,
       CAST(count(*) AS INT) AS n_turns,
       string_agg(line, chr(10) ORDER BY event_id) AS transcript,
       CAST(length(string_agg(line, chr(10) ORDER BY event_id)) AS INT)
         AS transcript_chars
FROM turns GROUP BY user_id
"""


def q_events_hll_user_registers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic HyperLogLog sketch (``operators/sketch.py``) of
    distinct users as a REGISTER TABLE — md5-hashed, nibble-arithmetic
    rho, no float log2 — so the sketch itself is portable: the DuckDB
    oracle computes the identical ≤256 rows, hash-exact. Mergeability
    (union sketch = register-wise max) is what lets per-batch sketches
    compose at 100 TB without rescans; pytest pins it exactly."""
    from kafka_jdbc_sink_connector_spark.operators.sketch import (
        hll_registers,
    )

    return hll_registers(_t(spark, sf_dir, "events"), "user_id", p=8)


_SQL_HLL_RHO = """
  CASE WHEN length(ltrim(substr(hx, {o}, 13), '0')) = 0 THEN 53
       ELSE (13 - length(ltrim(substr(hx, {o}, 13), '0'))) * 4
            + CASE substr(ltrim(substr(hx, {o}, 13), '0'), 1, 1)
                WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                WHEN '7' THEN 1 ELSE 0 END + 1 END
"""


def _sql_hll_registers() -> str:
    rho = _SQL_HLL_RHO.format(o=3)
    return f"""
WITH h AS (
  SELECT md5(CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL
),
r AS (SELECT substr(hx, 1, 2) AS register, {rho} AS rho FROM h)
SELECT register, CAST(MAX(rho) AS INT) AS max_rho
FROM r GROUP BY register
"""


def q_events_hll_users_per_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Grouped sketches: per-event_type distinct-user HLL estimate
    beside the exact count — the "distinct users per source" rollup a
    training pipeline tracks per partition without a COUNT DISTINCT
    shuffle of the raw ids (register tables are ≤256 rows per key and
    merge across batches). Estimate rounded to 2 decimals (the
    harmonic sum's float order differs across engines at the last
    ulp; the estimator maps that far below 0.01)."""
    from kafka_jdbc_sink_connector_spark.operators.sketch import (
        hll_estimate_by,
        hll_registers_by,
    )

    ev = _t(spark, sf_dir, "events")
    regs = hll_registers_by(ev, ["event_type"], "user_id", p=8)
    est = hll_estimate_by(regs, ["event_type"], p=8).select(
        "event_type", F.round("estimate", 2).alias("est_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type").select(
        "event_type", "est_users", "n_exact"
    )


def _sql_hll_per_type() -> str:
    rho = _SQL_HLL_RHO.format(o=3)
    m, alpha = 256, 0.7213 / (1 + 1.079 / 256)
    return f"""
WITH h AS (
  SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
  FROM events WHERE user_id IS NOT NULL
),
r AS (
  SELECT event_type, substr(hx, 1, 2) AS register, {rho} AS rho FROM h
),
regs AS (
  SELECT event_type, register, MAX(rho) AS max_rho
  FROM r GROUP BY event_type, register
),
agg AS (
  SELECT event_type,
         COUNT(*) AS present,
         SUM(power(2.0, -max_rho)) AS s_present
  FROM regs GROUP BY event_type
),
est AS (
  SELECT event_type,
         CASE WHEN (CAST({alpha!r} AS DOUBLE) * {m} * {m})
                   / (s_present + ({m} - present)) <= 2.5 * {m}
                   AND ({m} - present) > 0
              THEN -({m}.0 * ln(({m} - present) / {m}.0))
              ELSE (CAST({alpha!r} AS DOUBLE) * {m} * {m})
                   / (s_present + ({m} - present)) END AS estimate
  FROM agg
)
SELECT e.event_type,
       round(e.estimate, 2) AS est_users,
       CAST(x.n_exact AS BIGINT) AS n_exact
FROM est e
JOIN (
  SELECT event_type, COUNT(DISTINCT user_id) AS n_exact
  FROM events GROUP BY event_type
) x USING (event_type)
"""


def q_events_cms_user_counts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Count-min frequency sketch (``operators/sketch.py``): sparse
    (row, col, cnt) counters, SUM-mergeable across batches, point
    estimate = MIN over the d rows — never an underestimate. Same
    portability recipe as the HLL: md5 row hashes make the sketch AND
    the estimates hash-exact against the DuckDB oracle. The query
    estimates per-user event counts for a deterministic probe set
    beside the exact counts."""
    from kafka_jdbc_sink_connector_spark.operators.sketch import (
        cms_estimate,
        cms_sketch,
    )

    ev = _t(spark, sf_dir, "events")
    sk = cms_sketch(ev, "user_id", d=4, w_hex=3)
    probes = ev.filter(F.col("user_id") % 10 == 3)
    est = cms_estimate(sk, probes, "user_id", d=4, w_hex=3)
    exact = probes.groupBy("user_id").agg(
        F.count("*").alias("n_exact")
    )
    return est.join(exact, "user_id").select(
        "user_id", "est_cnt", "n_exact"
    )


def _sql_cms_user_counts() -> str:
    return """
WITH vals AS (
  SELECT user_id FROM events WHERE user_id IS NOT NULL
),
rws AS (SELECT i FROM range(4) t(i)),
h AS (
  SELECT r.i AS row,
         substr(md5(CAST(r.i AS VARCHAR) || ':'
                    || CAST(v.user_id AS VARCHAR)), 1, 3) AS col
  FROM vals v CROSS JOIN rws r
),
sk AS (SELECT row, col, COUNT(*) AS cnt FROM h GROUP BY row, col),
probes AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 3
),
pk AS (
  SELECT p.user_id, r.i AS row,
         substr(md5(CAST(r.i AS VARCHAR) || ':'
                    || CAST(p.user_id AS VARCHAR)), 1, 3) AS col
  FROM probes p CROSS JOIN rws r
),
est AS (
  SELECT pk.user_id, MIN(COALESCE(sk.cnt, 0)) AS est_cnt
  FROM pk LEFT JOIN sk USING (row, col)
  GROUP BY pk.user_id
)
SELECT e.user_id,
       CAST(e.est_cnt AS BIGINT) AS est_cnt,
       CAST(x.n_exact AS BIGINT) AS n_exact
FROM est e
JOIN (
  SELECT user_id, COUNT(*) AS n_exact
  FROM events WHERE user_id % 10 = 3 GROUP BY user_id
) x USING (user_id)
"""


def q_events_qsketch_value(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile histogram sketch (``operators/sketch.py``): log2
    octaves × 16 linear sub-buckets computed with INTEGER arithmetic
    only (octave from the binary-string length, sub-bucket via
    integer div — no float log), so the sketch is deterministic and
    the DuckDB oracle rebuilds it bucket-for-bucket. Counts
    SUM-merge across batches; estimates carry ≤ 1/(2·16) ≈ 3.1%
    relative error. The query returns p50/p90/p99 estimates of the
    value column (as integer cents) beside the exact percentiles."""
    from kafka_jdbc_sink_connector_spark.operators.sketch import (
        qsketch_histogram,
        qsketch_quantiles,
    )

    ev = _t(spark, sf_dir, "events")
    cents = ev.select(_cents(F.col("value")).alias("c"))
    qs = [0.5, 0.9, 0.99]
    est = qsketch_quantiles(qsketch_histogram(cents, "c"), qs)
    exact = cents.agg(
        *[
            F.round(F.expr(f"percentile(c, {q})"), 6).alias(f"x{i}")
            for i, q in enumerate(qs)
        ]
    ).select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(float(q)).alias("q"),
                    F.col(f"x{i}").alias("exact_q"),
                )
                for i, q in enumerate(qs)
            ])
        ).alias("e")
    ).select("e.q", "e.exact_q")
    return est.join(exact, "q").select("q", "estimate", "exact_q")


def _sql_qsketch_value() -> str:
    return """
WITH v AS (
  SELECT CAST(round(value * 100, 0) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
),
b AS (
  SELECT CASE WHEN c < 0 THEN -2 WHEN c = 0 THEN -1
              ELSE (length(bin(c)) - 1) * 16
                   + ((c - (1::BIGINT << (length(bin(c)) - 1))) * 16)
                     // (1::BIGINT << (length(bin(c)) - 1))
         END AS bucket
  FROM v
),
hist AS (SELECT bucket, COUNT(*) AS cnt FROM b GROUP BY bucket),
cum AS (
  SELECT bucket, SUM(cnt) OVER (ORDER BY bucket) AS cum,
         SUM(cnt) OVER () AS n
  FROM hist WHERE bucket >= -1
),
qs AS (
  SELECT CAST(q AS DOUBLE) AS q
  FROM (VALUES (0.5), (0.9), (0.99)) t(q)
),
hit AS (
  SELECT q, MIN(bucket) AS bucket
  FROM cum JOIN qs ON cum >= ceil(q * n)
  GROUP BY q
),
est AS (
  SELECT q,
         CASE WHEN bucket = -1 THEN 0.0
              ELSE round(power(2.0, CAST(bucket // 16 AS DOUBLE))
                         * (1.0 + (CAST(bucket % 16 AS DOUBLE) + 0.5)
                            / 16), 6) END AS estimate
  FROM hit
),
ex AS (
  SELECT CAST(0.5 AS DOUBLE) AS q,
         round(quantile_cont(c, 0.5), 6) AS exact_q FROM v
  UNION ALL
  SELECT CAST(0.9 AS DOUBLE), round(quantile_cont(c, 0.9), 6) FROM v
  UNION ALL
  SELECT CAST(0.99 AS DOUBLE), round(quantile_cont(c, 0.99), 6) FROM v
)
SELECT e.q, e.estimate, x.exact_q
FROM est e JOIN ex x USING (q)
"""


def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (``operators/joins.asof_join``): every event picks
    the latest 'purchase' event of the same user at-or-before its
    timestamp — the kdb ``aj`` / pandas ``merge_asof`` semantics
    Spark lacks, built as UNION + key-window ``last(ignorenulls)``:
    ONE shuffle on the key, no join operator at all, fully codegen'd.
    Equal-timestamp duplicates resolve to the greatest event_id
    (explicit tiebreak). Oracle: the literal argmax correlated
    subquery."""
    from kafka_jdbc_sink_connector_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    left = ev.select("user_id", "ts", "event_id")
    right = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("rts"),
        F.col("event_id").alias("ref_event_id"),
        _cents(F.col("value")).alias("ref_value_cents"),
    )
    res = asof_join(
        left, right, ["user_id"], "ts", "rts",
        tiebreak="ref_event_id",
    )
    return res.select(
        "event_id",
        "user_id",
        F.col("ref_event_id_asof").alias("ref_event_id"),
        F.col("ref_value_cents_asof").alias("ref_value_cents"),
    )


def _sql_asof_join() -> str:
    return """
WITH r AS (
  SELECT user_id, ts, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS value_cents
  FROM events WHERE event_type = 'purchase'
),
m AS (
  SELECT l.event_id, l.user_id,
         (SELECT r.event_id FROM r
          WHERE r.user_id = l.user_id AND r.ts <= l.ts
          ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS ref_event_id
  FROM events l
)
SELECT m.event_id, m.user_id, m.ref_event_id,
       r.value_cents AS ref_value_cents
FROM m LEFT JOIN r ON r.event_id = m.ref_event_id
"""


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE (interval-containment) join
    (``operators/joins.range_join_bins``): every 'error' event opens a
    120-second incident window for its user; count the user's events
    falling inside each window. A raw BETWEEN join is
    BroadcastNestedLoop (quadratic); here intervals explode into
    fixed-width epoch bins and the join is an EQUI-join on
    (user, bin) with an exact residual — shuffle follows rows ×
    bins-per-interval. Oracle: the literal BETWEEN join."""
    from kafka_jdbc_sink_connector_spark.operators.joins import (
        range_join_bins,
    )

    ev = _t(spark, sf_dir, "events")
    points = ev.select("user_id", "ts", "event_id")
    iv = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 120 SECONDS")).alias("w_end"),
        F.col("event_id").alias("err_id"),
    )
    j = range_join_bins(
        points, iv, ["user_id"], "ts", "w_start", "w_end",
        bin_width=120.0,
    )
    return j.groupBy("err_id").agg(
        F.count("*").alias("n_in_window"),
        F.min("event_id").alias("first_event_id"),
    )


def _sql_range_join() -> str:
    return """
WITH iv AS (
  SELECT user_id, ts AS w_start, ts + INTERVAL 120 SECOND AS w_end,
         event_id AS err_id
  FROM events WHERE event_type = 'error'
)
SELECT iv.err_id,
       COUNT(*) AS n_in_window,
       MIN(e.event_id) AS first_event_id
FROM iv JOIN events e
  ON e.user_id = iv.user_id
 AND e.ts >= iv.w_start AND e.ts < iv.w_end
GROUP BY iv.err_id
"""


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 1800s starts a new session per user.

    The boundary test is a pure timestamp comparison
    (ts > prev + INTERVAL 1800s) — exact at microsecond precision on
    both engines, no epoch()/unix_timestamp float or flooring
    discrepancy at the threshold."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = prev.isNull() | (
        F.col("ts") > prev + F.expr("INTERVAL 1800 SECONDS")
    )
    return (
        ev.withColumn("new_sess", F.when(new_sess, 1).otherwise(0))
        .groupBy("user_id")
        .agg(
            F.sum("new_sess").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def _sql_sessionize() -> str:
    return """
WITH g AS (
  SELECT user_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   IS NULL
              OR ts > lag(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)
                   + INTERVAL 1800 SECONDS
              THEN 1 ELSE 0 END AS new_sess
  FROM events
)
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM g GROUP BY user_id
"""


def q_events_topk_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("event_type", "event_id", "value", "rank")
    )


def _sql_topk() -> str:
    return """
SELECT event_type, event_id, value, rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events
) WHERE rank <= 3
"""


# --- text analysis ----------------------------------------------------


def q_doc_textnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched text canonicalization (the one justified Python
    stage): NFC + control strip + whitespace collapse. The synthetic
    corpus is ASCII, so the SQL oracle's regex pipeline is equivalent
    (NFC is the identity on ASCII)."""
    from kafka_jdbc_sink_connector_spark.functions.textnorm import (
        canonicalize_text,
    )

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", canonicalize_text("text").alias("text_norm"))


def _sql_textnorm() -> str:
    return r"""
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(text,
           '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
         '[ \t\f\v]+', ' ', 'g')) AS text_norm
FROM documents
"""


def q_doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-pretokenizer matches (the corpus-sizing
    proxy for tokenizer cost) — both codegen'd regexps, one scan."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.bpe_token_count("text").alias("n_bpe_tokens"),
    )


def _sql_token_count() -> str:
    return r"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
       len(regexp_extract_all(
           text, ' ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+'))
         AS n_bpe_tokens
FROM documents
"""


def q_doc_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate signal: fraction of repeated 5-word windows per doc
    (codegen'd array exprs over the shared shingling; single scan)."""
    d = _t(spark, sf_dir, "documents")
    sh = text.word_shingles(F.col("text"), 5)
    return d.select(
        "doc_id",
        F.size(sh).alias("n_shingles"),
        F.size(F.array_distinct(sh)).alias("n_distinct"),
        text.repetition_ratio(F.col("text"), 5).alias("rep_ratio"),
    )


def _sql_repetition_ratio() -> str:
    return f"""
WITH sh AS ({_SHINGLE_SQL})
SELECT doc_id,
       len(shingles) AS n_shingles,
       len(list_distinct(shingles)) AS n_distinct,
       round(1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
                   / len(shingles), 4) AS rep_ratio
FROM sh
"""


def q_doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub audit (pre-training hygiene). The synthetic corpus is
    contact-free, so both engines append the SAME deterministic contact
    line per doc (email + long digit run built from doc_id) and then
    count + redact it — the redaction itself is what's under test."""
    d = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 55512345"),
        F.col("doc_id").cast("string"),
    )
    counts = text.pii_counts(aug)
    return d.select(
        "doc_id",
        counts["n_emails"].alias("n_emails"),
        counts["n_digit_runs"].alias("n_digit_runs"),
        F.md5(text.redact_pii(aug)).alias("redacted_fp"),
    )


def _sql_pii_redact() -> str:
    email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    digits = "[0-9]{7,}"
    aug = ("text || ' contact user' || CAST(doc_id AS VARCHAR) || "
           "'@example.com or call 55512345' || CAST(doc_id AS VARCHAR)")
    return f"""
SELECT doc_id,
       len(regexp_extract_all({aug}, '{email}')) AS n_emails,
       len(regexp_extract_all({aug}, '{digits}')) AS n_digit_runs,
       md5(regexp_replace(regexp_replace({aug}, '{email}', '<EMAIL>', 'g'),
                          '{digits}', '<NUM>', 'g')) AS redacted_fp
FROM documents
"""


def q_doc_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length distribution per language — the first chart every
    training-data curation pass draws. EXACT percentiles (sort-based,
    linear interpolation — same definition as DuckDB quantile_cont);
    at 100 TB swap in approx_percentile, which is one-pass and
    mergeable, and widen the oracle tolerance accordingly."""
    d = _t(spark, sf_dir, "documents")
    n = text.token_count("text")
    return (
        d.select("lang", n.alias("n"))
        .groupBy("lang")
        .agg(
            F.round(F.percentile("n", F.lit(0.5)), 4).alias("p50_tokens"),
            F.round(F.percentile("n", F.lit(0.9)), 4).alias("p90_tokens"),
            F.round(F.percentile("n", F.lit(0.99)), 4).alias("p99_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _sql_length_percentiles() -> str:
    n = r"len(regexp_split_to_array(trim(text), '\s+'))"
    return f"""
SELECT lang,
       round(quantile_cont({n}, 0.5), 4) AS p50_tokens,
       round(quantile_cont({n}, 0.9), 4) AS p90_tokens,
       round(quantile_cont({n}, 0.99), 4) AS p99_tokens,
       count(*) AS n_docs
FROM documents
GROUP BY 1
"""


def q_doc_bpe_token_count_true(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TRUE vocab-driven BPE token count (greedy ranked merges over
    the committed deterministic 128-merge vocab, Arrow-batched) next
    to the codegen'd pretokenizer lower bound. Oracled by an
    independent recursive-CTE greedy-merge encoder in DuckDB
    (:func:`_sql_bpe_token_count_true`) — different engine, different
    paradigm (declarative list ops per merge round vs the imperative
    Python loop) — plus the pytest fixtures + reference encoder in
    ``tests/test_bpe.py``."""
    from kafka_jdbc_sink_connector_spark.operators import bpe

    docs = _t(spark, sf_dir, "documents")
    merges = list(bpe.default_merges())
    return docs.select(
        "doc_id",
        bpe.bpe_count("text", merges).alias("n_tokens_true"),
        text.bpe_token_count("text").alias("n_pretokens"),
    )


def _sql_bpe_token_count_true() -> str:
    """Independent DuckDB oracle for greedy ranked-merge BPE as a
    RECURSIVE CTE: each recursion round finds the lowest-ranked
    adjacent pair in the symbol list (map lookup over the shared vocab
    — the vocab is an *input*, the encoder is re-implemented) and
    merges every non-overlapping occurrence left-to-right via
    ``list_reduce``; a pretoken is final when no adjacent pair has a
    rank. Encodes each DISTINCT pretoken once, then joins counts back
    per doc. Declarative set-oriented list algebra — no shared code
    with :mod:`operators.bpe`'s imperative loop."""
    from kafka_jdbc_sink_connector_spark.operators import bpe

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({q(a)}, {q(b)}, {i})"
        for i, (a, b) in enumerate(bpe.default_merges())
    )
    pat = text.BPE_TOKEN_RE
    return f"""
WITH RECURSIVE merges(a, b, rank) AS (VALUES {vals}),
rankmap AS (
  SELECT map(list(a || chr(1) || b), list(rank)) AS m FROM merges
),
docpre AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{pat}')) AS tok
  FROM documents
),
toks AS (SELECT DISTINCT tok FROM docpre),
enc(tok, sym) AS (
  SELECT tok, regexp_extract_all(tok, '(?s).') FROM toks
  UNION ALL
  SELECT tok, list_reduce(
      list_transform(sym, s -> [s]),
      (acc, x) -> CASE
        WHEN acc[-1] || chr(1) || x[1] = bp
          THEN acc[:-2] || [acc[-1] || x[1]]
        ELSE acc || x END)
  FROM (
    SELECT tok, sym,
      pairs[list_position(ranks, list_aggregate(ranks, 'min'))] AS bp
    FROM (
      SELECT tok, sym,
        list_transform(range(1, len(sym)),
                       i -> sym[i] || chr(1) || sym[i + 1]) AS pairs,
        list_transform(range(1, len(sym)),
                       i -> m[sym[i] || chr(1) || sym[i + 1]][1]) AS ranks
      FROM enc, rankmap
    ) WHERE list_aggregate(ranks, 'min') IS NOT NULL
  )
),
toklen AS (
  SELECT tok, len(sym) AS n FROM enc, rankmap
  WHERE list_aggregate(list_transform(range(1, len(sym)),
        i -> m[sym[i] || chr(1) || sym[i + 1]][1]), 'min') IS NULL
),
percount AS (
  SELECT p.doc_id, sum(t.n) AS n_true, count(*) AS n_pre
  FROM docpre p JOIN toklen t USING (tok) GROUP BY 1
)
SELECT d.doc_id,
       CAST(coalesce(c.n_true, 0) AS INTEGER) AS n_tokens_true,
       CAST(coalesce(c.n_pre, 0) AS INTEGER) AS n_pretokens
FROM documents d LEFT JOIN percount c USING (doc_id)
"""


def q_doc_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (``operators/text.pack_chunks``):
    concatenate-then-chunk layout for training sequences — per
    document: its md5-prefix shard, start offset in the shard's token
    stream (window cumsum within shard, ONE hash shuffle, no global
    order), the 2048-token pack it begins in, and whether it straddles
    a pack boundary. Deterministic under re-runs/re-partitioning."""
    from kafka_jdbc_sink_connector_spark.operators.text import pack_chunks

    return pack_chunks(_t(spark, sf_dir, "documents"), max_tokens=2048)


def _sql_doc_pack_chunks() -> str:
    return r"""
WITH t AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
         md5('pack-v1' || CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT doc_id, n_tokens, substr(h, 1, 2) AS shard,
         CAST(COALESCE(SUM(n_tokens) OVER (
           PARTITION BY substr(h, 1, 2) ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS start_off
  FROM t
)
SELECT doc_id, n_tokens, shard, start_off,
       CAST(floor(start_off / 2048) AS BIGINT) AS pack_id,
       (start_off % 2048) + n_tokens > 2048 AS spans_boundary
FROM c
"""


def q_doc_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 corpus split by salted content hash —
    stable under re-runs/re-shards/incremental adds (no RNG). Hex
    thresholds compare lexicographically on both engines, so the
    oracle needs no hex→int conversion."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.hash_split(
            "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05},
            salt="corpus-v1",
        ).alias("split"),
    )


def _sql_train_val_split() -> str:
    # thresholds: int(0.90 * 16^8) = 0xe6666666, int(0.95 * 16^8) =
    # 0xf3333333 — keep in sync with text.hash_split's computation
    return """
WITH h AS (
  SELECT doc_id,
         substr(md5('corpus-v1' || CAST(doc_id AS VARCHAR)), 1, 8) AS u
  FROM documents
)
SELECT doc_id,
       CASE WHEN u < 'e6666666' THEN 'train'
            WHEN u < 'f3333333' THEN 'val'
            ELSE 'test' END AS split
FROM h
"""


def q_doc_contamination_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval-set decontamination audit: split the corpus with the SAME
    deterministic hash split as ``doc_train_val_split``, then measure
    each test doc's 5-gram overlap against the train slice
    (``docdedup.ngram_contamination`` — distinct train shingle-hash
    set, left-semi per eval shingle). The duplicated docs planted in
    the corpus make several test docs fully contaminated; unique docs
    score 0."""
    from kafka_jdbc_sink_connector_spark.operators import docdedup

    d = _t(spark, sf_dir, "documents").withColumn(
        "split",
        text.hash_split(
            "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05},
            salt="corpus-v1",
        ),
    )
    train = d.filter(F.col("split") == "train")
    test = d.filter(F.col("split") == "test")
    return docdedup.ngram_contamination(train, test, k=5)


def _sql_contamination() -> str:
    # split thresholds shared with _sql_train_val_split
    return r"""
WITH s AS (
  SELECT doc_id, text,
         CASE WHEN substr(md5('corpus-v1' || CAST(doc_id AS VARCHAR)),
                          1, 8) < 'e6666666' THEN 'train'
              WHEN substr(md5('corpus-v1' || CAST(doc_id AS VARCHAR)),
                          1, 8) < 'f3333333' THEN 'val'
              ELSE 'test' END AS split,
         [array_to_string(toks[i:i+4], ' ')
          FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)] AS shingles
  FROM (SELECT doc_id, text,
               regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents)
),
tsh AS (
  SELECT DISTINCT unnest(shingles) AS sh FROM s WHERE split = 'train'
),
esh AS (
  SELECT doc_id, unnest(list_distinct(shingles)) AS sh
  FROM s WHERE split = 'test'
),
tot AS (
  SELECT doc_id, len(list_distinct(shingles)) AS n_shingles
  FROM s WHERE split = 'test'
),
hits AS (
  SELECT e.doc_id, count(*) AS n_overlap
  FROM esh e JOIN tsh t USING (sh) GROUP BY 1
)
SELECT t.doc_id,
       t.n_shingles,
       CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(CAST(coalesce(h.n_overlap, 0) AS DOUBLE) / t.n_shingles,
             4) AS contamination
FROM tot t LEFT JOIN hits h USING (doc_id)
"""


def q_doc_stratified_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic per-language subsampling (corpus mixing): keep
    60% of English, 25% of German/French, all of Spanish, drop
    Chinese (unlisted stratum) — salted-hash thresholds, stable under
    re-runs and re-shards, zero shuffle."""
    d = _t(spark, sf_dir, "documents")
    keep = text.stratified_keep(
        "doc_id", "lang",
        {"en": 0.60, "de": 0.25, "fr": 0.25, "es": 1.0},
        salt="mix-v1",
    )
    return d.filter(keep).select("doc_id", "lang")


def _sql_stratified_sample() -> str:
    # thresholds: int(0.60 * 16^8) = 0x99999999,
    # int(0.25 * 16^8) = 0x40000000; es = 1.0 keeps all; zh unlisted
    # -> dropped. Keep in sync with text.stratified_keep.
    return """
WITH h AS (
  SELECT doc_id, lang,
         substr(md5('mix-v1' || CAST(doc_id AS VARCHAR)), 1, 8) AS u
  FROM documents
)
SELECT doc_id, lang FROM h
WHERE (lang = 'en' AND u < '99999999')
   OR (lang IN ('de', 'fr') AND u < '40000000')
   OR lang = 'es'
"""


def q_doc_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 corpus rebalancing over the skewed ``lang``
    column (en is ~3x every other language in the testdata): sample
    each language at ``sqrt(n_min / n_d)`` so effective sizes flatten
    to ``sqrt(n_d)`` (scaled) with the smallest language kept whole.
    Counts come from one map-side-combined aggregation (collect
    bounded by #languages); the keep predicate is exact integer
    arithmetic — ``h16^2 * n_d < n_min * 2^32`` — so the oracle
    reproduces it bit-for-bit. Zero-shuffle keep scan."""
    d = _t(spark, sf_dir, "documents")
    counts = {
        r["lang"]: r["count"] for r in d.groupBy("lang").count().collect()
    }
    keep = text.temperature_mix_keep(
        "doc_id", "lang", counts, temperature=0.5, salt="temp-v1"
    )
    return d.filter(keep).select("doc_id", "lang")


def _sql_temperature_mix() -> str:
    # exact integer mirror of text.temperature_mix_keep at T=0.5:
    # h16 = int(md5('temp-v1' || id)[:4], 16); keep iff
    # h16^2 * n_d < n_min * 2^32. Keep in sync.
    return """
WITH n AS (
  SELECT lang, count(*) AS n_d FROM documents GROUP BY 1
),
nm AS (SELECT min(n_d) AS n_min FROM n),
h AS (
  SELECT doc_id, lang,
         CAST(('0x' || substr(md5('temp-v1' || CAST(doc_id AS VARCHAR)),
                              1, 4)) AS BIGINT) AS h16
  FROM documents
)
SELECT h.doc_id, h.lang
FROM h JOIN n USING (lang) CROSS JOIN nm
WHERE h16 * h16 * n_d < n_min * 4294967296
"""


def q_doc_filter_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite curation verdict per doc: keep/drop + first failing
    rule (too_short → words_too_long → repetitive →
    low_stopword_density), composing the quality + repetition signals
    in one codegen'd scan — the decision step a filter pipeline
    actually executes."""
    d = _t(spark, sf_dir, "documents")
    keep, reason = text.filter_verdict("text")
    return d.select(
        "doc_id", keep.alias("keep"), reason.alias("reason")
    )


def _sql_filter_verdict() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         len(toks) AS n_tokens,
         round(CAST(list_sum([length(x) FOR x IN toks]) AS DOUBLE)
               / len(toks), 4) AS awl,
         round(CAST(len(list_filter(toks,
                 x -> lower(x) IN {STOPWORD_SQL})) AS DOUBLE)
               / len(toks), 4) AS swr,
         round(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE)
                     / len(sh), 4) AS rep
  FROM (
    SELECT doc_id, toks,
           [array_to_string(toks[i:i+4], ' ')
            FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)] AS sh
    FROM w)
),
v AS (
  SELECT doc_id,
         CASE WHEN n_tokens < 20 THEN 'too_short'
              WHEN awl > 12.0 THEN 'words_too_long'
              WHEN rep > 0.2 THEN 'repetitive'
              WHEN swr < 0.02 THEN 'low_stopword_density'
         END AS reason
  FROM m
)
SELECT doc_id, reason IS NULL AS keep, reason FROM v
"""


def q_doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    cols = text.quality_columns("text")
    return d.select("doc_id", *[c.alias(n) for n, c in cols.items()])


def _sql_quality() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         length(text) AS n_chars_calc,
         len(toks) AS n_tokens,
         round(CAST(list_sum([length(x) FOR x IN toks]) AS DOUBLE)
               / len(toks), 4) AS avg_word_len,
         round(CAST(len(list_filter(toks,
                 x -> lower(x) IN {STOPWORD_SQL})) AS DOUBLE)
               / len(toks), 4) AS stopword_ratio
  FROM w
)
SELECT doc_id, n_chars_calc, n_tokens, avg_word_len, stopword_ratio,
       CASE WHEN n_tokens < 5 OR avg_word_len > 12 THEN 'low'
            WHEN stopword_ratio >= 0.05 THEN 'high'
            ELSE 'mid' END AS quality_bucket
FROM m
"""


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", text.lang_id("text").alias("lang_pred"))


def _sql_lang_id() -> str:
    return rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
)
SELECT doc_id,
       CASE WHEN CAST(len(list_filter(toks,
                  x -> lower(x) IN {STOPWORD_SQL})) AS DOUBLE)
                 / len(toks) >= 0.02
            THEN 'en' ELSE 'unknown' END AS lang_pred
FROM w
"""


_SHINGLE_SQL = r"""
  SELECT doc_id,
    [array_to_string(toks[i:i+4], ' ')
     FOR i IN range(1, greatest(len(toks) - 4, 1) + 1)] AS shingles
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
        FROM documents)
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", text.fingerprint("text", k=5).alias("fingerprint")
    )


def _sql_fingerprint() -> str:
    return f"""
WITH sh AS ({_SHINGLE_SQL})
SELECT doc_id, list_min([md5(s) FOR s IN shingles]) AS fingerprint
FROM sh
"""


def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return text.simhash32_table(d)


def _sql_simhash() -> str:
    bits = " + ".join(
        f"CASE WHEN list_sum([CASE WHEN substr(md5(x), {b + 1}, 1) IN "
        f"{HIGH_HEX_SQL} THEN 1 ELSE -1 END FOR x IN toks]) > 0 "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(32)
    )
    return rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM w
"""


def q_doc_simhash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: banded candidates (pigeonhole over 4
    8-bit bands) + exact popcount(xor) verify — never all-pairs."""
    d = _t(spark, sf_dir, "documents")
    return text.simhash_dup_pairs(d, max_hamming=3)


def _sql_simhash_dups() -> str:
    bits = " + ".join(
        f"CASE WHEN list_sum([CASE WHEN substr(md5(x), {b + 1}, 1) IN "
        f"{HIGH_HEX_SQL} THEN 1 ELSE -1 END FOR x IN toks]) > 0 "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(32)
    )
    return rf"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
),
sh AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM w),
bands AS (
  SELECT doc_id, simhash, band_idx,
         (simhash >> (band_idx * 8)) & 255 AS band_key
  FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band_idx)
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, x.doc_id AS doc_b,
         a.simhash AS sh_a, x.simhash AS sh_b
  FROM bands a JOIN bands x USING (band_idx, band_key)
  WHERE a.doc_id < x.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= 3
"""


# --- dedup ------------------------------------------------------------


def q_doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docdedup.exact_dedup(_t(spark, sf_dir, "documents"))


def _sql_exact_dedup() -> str:
    return """
WITH h AS (SELECT doc_id, md5(text) AS m FROM documents),
c AS (SELECT m, min(doc_id) AS canonical_id FROM h GROUP BY m)
SELECT h.doc_id, c.canonical_id,
       h.doc_id <> c.canonical_id AS is_dup
FROM h JOIN c USING (m)
"""


def q_doc_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docdedup.minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"), n_perm=8, bands=4, k=5
    )


def _sql_minhash_lsh() -> str:
    sig = ", ".join(
        f"list_min([md5('{j}|' || s) FOR s IN shingles]) AS s{j}"
        for j in range(8)
    )
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, md5(s{2 * b} || '|' || s{2 * b + 1}) "
        f"AS band_key FROM sig"
        for b in range(4)
    )
    return f"""
WITH sh AS ({_SHINGLE_SQL}),
sig AS (SELECT doc_id, {sig} FROM sh),
stacked AS ({bands})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS n_bands_shared
FROM stacked a JOIN stacked b
  ON a.band_idx = b.band_idx AND a.band_key = b.band_key
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
"""


def q_doc_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection against a PERSISTED signature
    index (operators/incremental.py): the corpus arrives as two ingest
    batches (doc_id parity split); each batch is probed against the
    index built so far (batch side broadcast — the index is never
    shuffled) and its signatures appended as an atomic watermarked
    commit on the engine's own lake table. The unioned two-batch
    result must equal the corpus-wide LSH self-join pair set — the
    oracle is exactly ``doc_minhash_lsh_pairs``'s."""
    d = _t(spark, sf_dir, "documents")
    tmp = _scratch_dir("mh_idx_")
    idx = incremental.MinHashDedupIndex.create(
        spark, os.path.join(tmp, "idx"), n_buckets=8, n_perm=8, bands=4,
        k=5,
    )
    p0 = idx.add_and_find_dups(
        d.filter(F.col("doc_id") % 2 == 0), batch_id=0
    )
    p1 = idx.add_and_find_dups(
        d.filter(F.col("doc_id") % 2 == 1), batch_id=1
    )
    # disjoint by construction: each pair is emitted by the batch that
    # completes it
    return p0.union(p1)


def q_doc_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup (streaming/dedup.py): the corpus
    arrives as three micro-batches (doc_id mod 3) driven through
    ``DedupStreamRunner`` — per batch: broadcast-probe the persisted
    index, append signatures + dup evidence as two watermarked
    commits. Returned state is the EVIDENCE TABLE, so the oracle
    checks the full streaming contract: the pair set equals the
    corpus-wide LSH self-join, ``batch_id`` is the completing batch,
    and ``drop_doc`` is the later arrival (batch doc for
    batch-vs-index pairs, larger id within a batch) — all derivable
    in SQL because the batch partition is the deterministic
    ``doc_id % 3``."""
    from kafka_jdbc_sink_connector_spark.streaming.dedup import (
        DedupStreamRunner,
    )

    d = _t(spark, sf_dir, "documents")
    tmp = _scratch_dir("dedup_stream_")
    idx = incremental.MinHashDedupIndex.create(
        spark, os.path.join(tmp, "idx"), n_buckets=8, n_perm=8, bands=4,
        k=5,
    )
    pairs = DedupStreamRunner.create_pairs_table(
        spark, os.path.join(tmp, "pairs"), n_buckets=8
    )
    runner = DedupStreamRunner(idx, pairs, os.path.join(tmp, "ckpt"))
    for b in range(3):
        runner.process_batch(d.filter(F.col("doc_id") % 3 == b), b)
    return runner.pairs_table.refresh().read()


def _sql_dedup_stream() -> str:
    # corpus-wide pairs + arrival-order rules under the doc_id%3
    # batch partition (batch of doc x = x mod 3)
    return f"""
WITH p AS ({_sql_minhash_lsh()})
SELECT doc_a, doc_b, n_bands_shared,
       CASE WHEN doc_a % 3 = doc_b % 3 THEN greatest(doc_a, doc_b)
            WHEN doc_a % 3 > doc_b % 3 THEN doc_a
            ELSE doc_b END AS drop_doc,
       greatest(doc_a % 3, doc_b % 3) AS batch_id
FROM p
"""


# the corpus has no literal newlines, so the line-dedup driver query
# deterministically re-lines it first: a newline after every 8th word
# (same regex on both engines; Java and RE2 both scan left-to-right
# non-overlapping, so the groupings agree)
_RELINE_PAT = r"((?:\S+ ){7}\S+) "


def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    relined = d.withColumn(
        "text", F.regexp_replace("text", _RELINE_PAT, "$1\n")
    )
    return docdedup.line_dedup(relined, min_df=2)


def _sql_line_dedup() -> str:
    return rf"""
WITH docs2 AS (
  SELECT doc_id,
         regexp_replace(text, '{_RELINE_PAT}', '\1' || chr(10), 'g')
           AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest(string_split(text, chr(10))) AS line,
         generate_subscripts(string_split(text, chr(10)), 1) AS pos
  FROM docs2
),
boiler AS (
  SELECT h FROM (
    SELECT DISTINCT doc_id, md5(trim(line)) AS h
    FROM lines WHERE trim(line) <> '')
  GROUP BY h HAVING count(*) >= 2
),
kept AS (
  SELECT doc_id, line, pos FROM lines
  WHERE md5(trim(line)) NOT IN (SELECT h FROM boiler)
),
agg AS (
  SELECT doc_id,
         string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.clean_text, '') AS clean_text,
       CAST(len(string_split(d.text, chr(10))) AS BIGINT) AS n_lines,
       CAST(len(string_split(d.text, chr(10))) - coalesce(a.n_kept, 0)
            AS BIGINT) AS n_removed
FROM docs2 d LEFT JOIN agg a USING (doc_id)
"""


def q_doc_ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return docdedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5, k=5, max_df=20
    )


def _sql_ngram_jaccard() -> str:
    return f"""
WITH sh AS ({_SHINGLE_SQL}),
ex AS (SELECT doc_id, unnest(list_distinct(shingles)) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
dfc AS (SELECT shingle, count(*) AS df FROM ex GROUP BY shingle),
rare AS (SELECT ex.doc_id, ex.shingle FROM ex
         JOIN dfc USING (shingle) WHERE dfc.df <= 20),
cand AS (SELECT a.doc_id AS da, b.doc_id AS db
         FROM rare a JOIN rare b USING (shingle)
         WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
inter AS (SELECT c.da, c.db, count(*) AS n_inter
          FROM cand c
          JOIN ex a ON a.doc_id = c.da
          JOIN ex b ON b.doc_id = c.db AND b.shingle = a.shingle
          GROUP BY 1, 2)
SELECT i.da AS doc_a, i.db AS doc_b,
       round(CAST(i.n_inter AS DOUBLE)
             / (sa.sz + sb.sz - i.n_inter), 4) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.da
JOIN sizes sb ON sb.doc_id = i.db
WHERE CAST(i.n_inter AS DOUBLE) / (sa.sz + sb.sz - i.n_inter) >= 0.5
"""


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (iterative graph algorithm): MinHash-LSH
    candidate pairs → connected components (hash-to-min label
    propagation, one bounded shuffle per round, diameter-bounded
    rounds) → every document labeled with its cluster id (min doc_id
    of the component; singletons label themselves). This is the step a
    curation pipeline runs between pairwise similarity and actual
    deduplication."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docdedup.minhash_lsh_candidates(docs, n_perm=8, bands=4, k=5)
    cc = docdedup.connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
            (F.coalesce("component", "doc_id") != F.col("doc_id")).alias(
                "is_dup"
            ),
        )
    )


def _sql_dup_clusters() -> str:
    # transitive closure of the pair graph via a recursive CTE —
    # min reachable id per node = the engine's hash-to-min fixpoint
    return f"""
WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({_sql_minhash_lsh()})),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, m) AS (
  SELECT src AS node, dst AS m FROM edges
  UNION
  SELECT e.src, r.m FROM edges e JOIN reach r ON r.node = e.dst
),
cc AS (
  SELECT node, least(node, min(m)) AS component FROM reach GROUP BY node
)
SELECT d.doc_id,
       coalesce(cc.component, d.doc_id) AS cluster_id,
       coalesce(cc.component, d.doc_id) <> d.doc_id AS is_dup
FROM documents d LEFT JOIN cc ON cc.node = d.doc_id
"""


def q_doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus dedup: pick ONE canonical document per
    near-dup cluster — the longest text, ties to the smallest doc_id —
    and report how many the cluster drops. Composition of the pair
    finder, the component labeler, and a per-cluster argmax (map-side
    combining min_by over a (len DESC, doc_id ASC) sort key)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = docdedup.minhash_lsh_candidates(docs, n_perm=8, bands=4, k=5)
    cc = docdedup.connected_components(pairs)
    labeled = (
        docs.select("doc_id", F.length("text").alias("len"))
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id", "len",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    return labeled.groupBy("cluster_id").agg(
        F.min_by(
            "doc_id", F.struct((-F.col("len")).alias("a"),
                               F.col("doc_id").alias("b"))
        ).alias("kept_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


def _sql_dedup_keep_best() -> str:
    return f"""
WITH clusters AS ({_sql_dup_clusters()}),
ranked AS (
  SELECT c.cluster_id, c.doc_id,
         row_number() OVER (
           PARTITION BY c.cluster_id
           ORDER BY length(d.text) DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.cluster_id) AS n_docs
  FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT cluster_id, doc_id AS kept_doc_id, n_docs,
       n_docs - 1 AS n_dropped
FROM ranked WHERE rn = 1
"""


def q_dup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline composition: text-signal near-dups (MinHash-LSH) full-
    outer-joined with embedding-signal near-dups (LSH-bucketed cosine)
    — the agreement view a curation pipeline uses to pick thresholds."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    t = docdedup.minhash_lsh_candidates(docs, n_perm=8, bands=4, k=5)
    e = similarity.cosine_dup_pairs(emb, threshold=0.3, n_planes=8,
                                    dim=64, round_digits=4).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        "cos_sim",
    )
    j = t.join(e, ["doc_a", "doc_b"], "full_outer")
    signal = (
        F.when(F.col("n_bands_shared").isNotNull()
               & F.col("cos_sim").isNotNull(), F.lit("both"))
        .when(F.col("n_bands_shared").isNotNull(), F.lit("text"))
        .otherwise(F.lit("embedding"))
    )
    return j.select(
        "doc_a", "doc_b", "n_bands_shared", "cos_sim",
        signal.alias("signal"),
    )


def _sql_dup_agreement() -> str:
    return f"""
WITH t AS ({_sql_minhash_lsh()}),
e AS (
  SELECT id_a AS doc_a, id_b AS doc_b, cos_sim
  FROM ({_sql_cosine_dup_pairs()})
)
SELECT coalesce(t.doc_a, e.doc_a) AS doc_a,
       coalesce(t.doc_b, e.doc_b) AS doc_b,
       t.n_bands_shared, e.cos_sim,
       CASE WHEN t.doc_a IS NOT NULL AND e.doc_a IS NOT NULL THEN 'both'
            WHEN t.doc_a IS NOT NULL THEN 'text'
            ELSE 'embedding' END AS signal
FROM t FULL OUTER JOIN e
  ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
"""


# --- similarity -------------------------------------------------------


def q_emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.knn_bruteforce(
        emb, emb.filter(F.col("vec_id") < 5), k=5
    )


def _sql_knn() -> str:
    return """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv
           FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT q.query_id, c.neighbor_id,
         round(
           list_sum([CAST(qv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)
                     FOR i IN range(1, len(qv) + 1)])
           / (sqrt(list_sum([CAST(qv[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)
                             FOR i IN range(1, len(qv) + 1)]))
              * sqrt(list_sum([CAST(cv[i] AS DOUBLE) * CAST(cv[i] AS DOUBLE)
                               FOR i IN range(1, len(cv) + 1)]))), 6
         ) AS cos_sim
  FROM c CROSS JOIN q
  WHERE c.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def q_emb_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    b = similarity.lsh_buckets(emb, n_planes=8, seed=42, dim=64)
    return b.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors"))


def _sql_lsh_buckets() -> str:
    planes = similarity.hyperplanes(8, 64, seed=42)
    plane_dots = []
    for p, plane in enumerate(planes):
        lits = ", ".join(repr(w) for w in plane)
        plane_dots.append(
            f"CASE WHEN round(list_sum([CAST(embedding[i] AS DOUBLE) "
            f"* w{p}[i] FOR i IN range(1, 65)]), 6) >= 0 "
            f"THEN {1 << p} ELSE 0 END"
        )
    with_planes = ", ".join(
        f"[{', '.join(repr(w) for w in plane)}] AS w{p}"
        for p, plane in enumerate(planes)
    )
    bucket = " + ".join(plane_dots)
    return f"""
WITH pl AS (SELECT {with_planes}),
b AS (
  SELECT vec_id, CAST({bucket} AS BIGINT) AS bucket
  FROM embeddings CROSS JOIN pl
)
SELECT bucket, count(*) AS n_vectors FROM b GROUP BY bucket
"""


def q_emb_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: LSH-bucket candidates + exact cosine
    verify at threshold 0.3 (the synthetic corpus's top ~0.1%% of
    pairs; its max pairwise cosine is ~0.51)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.cosine_dup_pairs(emb, threshold=0.3, n_planes=8,
                                       dim=64, round_digits=4)


def q_emb_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SEMANTIC dedup against a persisted sign-LSH bucket
    index (operators/incremental.EmbeddingDedupIndex): the corpus
    arrives as two ingest batches (vec_id parity split); each batch is
    bucketed once, probed against the index built so far (batch side
    broadcast — the index is never shuffled), exact-cosine verified,
    and appended as an atomic watermarked commit. The unioned
    two-batch result must equal the corpus-wide
    ``cosine_dup_pairs`` set — the oracle is exactly
    ``emb_cosine_dup_pairs``'s."""
    emb = _t(spark, sf_dir, "embeddings")
    tmp = _scratch_dir("emb_idx_")
    idx = incremental.EmbeddingDedupIndex.create(
        spark, os.path.join(tmp, "idx"), n_buckets=8, n_planes=8,
        dim=64, threshold=0.3, round_digits=4,
    )
    p0 = idx.add_and_find_dups(
        emb.filter(F.col("vec_id") % 2 == 0), batch_id=0
    )
    p1 = idx.add_and_find_dups(
        emb.filter(F.col("vec_id") % 2 == 1), batch_id=1
    )
    # disjoint by construction: each pair is emitted by the batch
    # that completes it
    return p0.union(p1)


def q_doc_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained inverted text index
    (``streaming/textindex.TextIndexRunner``): ingest the corpus into
    a bronze docs table, then apply a mutation batch (every 7th doc's
    text replaced, every 11th deleted) — the index syncs from the
    change feed WITH pre-images, retracting the OLD text's postings
    and inserting the new ones (the edge a post-image-only feed
    cannot maintain), exactly-once per upstream version. The posting
    table is term-bucketed, so lookups bucket-prune. Result: postings
    for a fixed probe-term set; oracle = tokenizing the FINAL
    document state declaratively."""
    from kafka_jdbc_sink_connector_spark.streaming.textindex import (
        TextIndexRunner,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tmp = _scratch_dir("doc_sindex_")
    bronze = CdcApplier(
        spark,
        SinkConfig(pk_fields=("doc_id",), n_buckets=8,
                   delete_mode="delete", delete_retain_fields=()),
        os.path.join(tmp, "bronze"),
    )
    posting = CdcApplier(
        spark,
        SinkConfig(pk_fields=("term", "doc_id"), n_buckets=8,
                   delete_mode="delete", delete_retain_fields=()),
        os.path.join(tmp, "postings"),
    )
    run = TextIndexRunner(spark, bronze.table_path, posting)

    def cdcify(df, op, off0):
        return df.select(
            F.pmod(F.col("doc_id"), F.lit(8)).cast("int")
            .alias("kafka_partition"),
            (F.col("doc_id") + F.lit(off0)).alias("kafka_offset"),
            F.lit(op).alias("op"),
            "doc_id",
            "text",
        )

    bronze.apply_batch(cdcify(docs, "u", 0), batch_id=0)
    run.sync()  # bootstrap
    upd = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 0)
    ).withColumn(
        "text",
        F.concat(F.lit("refreshed corpus entry "),
                 F.col("doc_id").cast("string")),
    )
    dels = docs.filter(F.col("doc_id") % 11 == 0)
    bronze.apply_batch(
        cdcify(upd, "u", 1_000_000).unionByName(
            cdcify(dels, "d", 2_000_000)
        ),
        batch_id=1,
    )
    run.sync()  # incremental: retract + insert + delete
    probe = ["spark", "merge", "entry", "corpus"]
    return run.postings().filter(F.col("term").isin(probe))


def _sql_doc_search_index() -> str:
    return """
WITH final AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN 'refreshed corpus entry ' || CAST(doc_id AS VARCHAR)
              ELSE text END AS text
  FROM documents
  WHERE doc_id % 11 <> 0
),
terms AS (
  SELECT DISTINCT f.doc_id, t.term
  FROM final f,
       unnest(regexp_split_to_array(lower(f.text), '[^a-z0-9]+'))
         AS t(term)
  WHERE t.term <> ''
)
SELECT term, doc_id
FROM terms
WHERE term IN ('spark', 'merge', 'entry', 'corpus')
"""


def q_emb_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming semantic dedup (``streaming/dedup.EmbDedupStreamRunner``):
    the corpus arrives as three micro-batches (vec_id mod 3) — per
    batch: broadcast-probe the persisted sign-LSH index, exact-cosine
    verify, append bucketed vectors + dup evidence as two watermarked
    commits. The evidence table is the result, so the oracle checks
    the full streaming contract: pair set == the corpus-wide
    cosine-pair self-join, ``batch_id`` is the completing batch, and
    ``drop_doc`` the later arrival — all derivable in SQL from the
    deterministic ``vec_id % 3`` partition."""
    from kafka_jdbc_sink_connector_spark.streaming.dedup import (
        EmbDedupStreamRunner,
    )

    emb = _t(spark, sf_dir, "embeddings")
    tmp = _scratch_dir("emb_stream_")
    idx = incremental.EmbeddingDedupIndex.create(
        spark, os.path.join(tmp, "idx"), n_buckets=8, n_planes=8,
        dim=64, threshold=0.3, round_digits=4,
    )
    pairs = EmbDedupStreamRunner.create_pairs_table(
        spark, os.path.join(tmp, "pairs"), n_buckets=8
    )
    runner = EmbDedupStreamRunner(idx, pairs, os.path.join(tmp, "ckpt"))
    for b in range(3):
        runner.process_batch(emb.filter(F.col("vec_id") % 3 == b), b)
    return runner.pairs_table.refresh().read()


def _sql_emb_dedup_stream() -> str:
    # corpus-wide cosine pairs + arrival-order rules under the
    # vec_id%3 batch partition (batch of vec x = x mod 3)
    return (
        "\nWITH p AS (" + _sql_cosine_dup_pairs() + """)
SELECT id_a, id_b, cos_sim,
       CASE WHEN id_a % 3 = id_b % 3 THEN greatest(id_a, id_b)
            WHEN id_a % 3 > id_b % 3 THEN id_a
            ELSE id_b END AS drop_doc,
       greatest(id_a % 3, id_b % 3) AS batch_id
FROM p
"""
    )


def _sql_cosine_dup_pairs() -> str:
    planes = similarity.hyperplanes(8, 64, seed=42)
    with_planes = ", ".join(
        f"[{', '.join(repr(w) for w in plane)}] AS w{p}"
        for p, plane in enumerate(planes)
    )
    bucket = " + ".join(
        f"CASE WHEN round(list_sum([CAST(embedding[i] AS DOUBLE) * w{p}[i] "
        f"FOR i IN range(1, 65)]), 6) >= 0 THEN {1 << p} ELSE 0 END"
        for p in range(8)
    )
    return f"""
WITH pl AS (SELECT {with_planes}),
b AS (
  SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
  FROM embeddings CROSS JOIN pl
),
pairs AS (
  SELECT a.vec_id AS id_a, x.vec_id AS id_b,
         round(
           list_sum([CAST(a.embedding[i] AS DOUBLE)
                     * CAST(x.embedding[i] AS DOUBLE)
                     FOR i IN range(1, 65)])
           / (sqrt(list_sum([CAST(a.embedding[i] AS DOUBLE)
                             * CAST(a.embedding[i] AS DOUBLE)
                             FOR i IN range(1, 65)]))
              * sqrt(list_sum([CAST(x.embedding[i] AS DOUBLE)
                               * CAST(x.embedding[i] AS DOUBLE)
                               FOR i IN range(1, 65)]))), 4
         ) AS cos_sim
  FROM b a JOIN b x ON a.bucket = x.bucket AND a.vec_id < x.vec_id
)
SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
"""


def q_emb_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters: cosine near-dup pairs (LSH-bucketed
    candidates + exact verify) → connected components → per-vector
    cluster label. Runs the LARGE-STAR/SMALL-STAR contraction so the
    diameter-insensitive CC variant is driver-oracled end-to-end (it
    must produce the identical labels hash-to-min does)."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_dup_pairs(emb, threshold=0.3, n_planes=8,
                                        dim=64, round_digits=4)
    cc = docdedup.connected_components(
        pairs, a_col="id_a", b_col="id_b", algorithm="two-phase-star"
    )
    return (
        emb.select("vec_id")
        .join(cc, emb.vec_id == cc.node, "left")
        .select(
            "vec_id",
            F.coalesce("component", "vec_id").alias("cluster_id"),
            (F.coalesce("component", "vec_id") != F.col("vec_id")).alias(
                "is_dup"
            ),
        )
    )


def _sql_emb_dup_clusters() -> str:
    return f"""
WITH RECURSIVE cpairs AS (
  SELECT id_a, id_b FROM ({_sql_cosine_dup_pairs()})
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM cpairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM cpairs
),
reach(node, m) AS (
  SELECT src AS node, dst AS m FROM edges
  UNION
  SELECT e.src, r.m FROM edges e JOIN reach r ON r.node = e.dst
),
cc AS (
  SELECT node, least(node, min(m)) AS component FROM reach GROUP BY node
)
SELECT v.vec_id,
       coalesce(cc.component, v.vec_id) AS cluster_id,
       coalesce(cc.component, v.vec_id) <> v.vec_id AS is_dup
FROM embeddings v LEFT JOIN cc ON cc.node = v.vec_id
"""


def q_emb_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via in-bucket rerank. Bucket membership is engine-portable
    because the plane dot is rounded before the sign test (see
    lsh_buckets), so this query now carries a full DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.lsh_ann_candidates(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_planes=8, dim=64
    )


def _sql_lsh_ann() -> str:
    planes = similarity.hyperplanes(8, 64, seed=42)
    with_planes = ", ".join(
        f"[{', '.join(repr(w) for w in plane)}] AS w{p}"
        for p, plane in enumerate(planes)
    )
    bucket = " + ".join(
        f"CASE WHEN round(list_sum([CAST(embedding[i] AS DOUBLE) * w{p}[i] "
        f"FOR i IN range(1, 65)]), 6) >= 0 THEN {1 << p} ELSE 0 END"
        for p in range(8)
    )
    return f"""
WITH pl AS (SELECT {with_planes}),
b AS (
  SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
  FROM embeddings CROSS JOIN pl
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(
           list_sum([CAST(q.embedding[i] AS DOUBLE)
                     * CAST(c.embedding[i] AS DOUBLE)
                     FOR i IN range(1, 65)])
           / (sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE)
                             * CAST(q.embedding[i] AS DOUBLE)
                             FOR i IN range(1, 65)]))
              * sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE)
                               * CAST(c.embedding[i] AS DOUBLE)
                               FOR i IN range(1, 65)]))), 6
         ) AS cos_sim
  FROM b c JOIN b q ON c.bucket = q.bucket
  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


# --- relational suite (TPC-H-shaped, SURVEY §2b joins/aggs/set ops) ---
#
# Money columns are reduced to exact integer cents BEFORE summation
# (round(x*100) per row, then integer sums) so the result is invariant
# to float summation order across engines.


def _cents(col) -> F.Column:
    return F.round(col * 100, 0).cast("long")


def q_tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy aggregate with pushdown-able date
    filter; exercises map-side partial aggregation on a 6-column
    projection of the widest table."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.expr("TIMESTAMP_NTZ '1998-09-02 00:00:00'")
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.sum(_cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
        F.sum(
            _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("sum_disc_cents"),
        F.avg(F.col("l_quantity")).alias("avg_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _sql_tpch_q1() -> str:
    return """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_base_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS sum_disc_cents,
       avg(l_quantity) AS avg_qty,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY 1, 2
"""


def q_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join (filtered dim × two big tables),
    aggregate, deterministic top-10.

    No forced broadcast of customer: it grows linearly with scale
    factor (a BUILDING-segment filter keeps ~1/5 of it — still
    scale-dependent), so the hint would OOM at 100×. AQE picks
    broadcast at small SF from runtime stats and falls back to
    sort-merge + skew splitting when the side is genuinely big."""
    cust = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    ords = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'")
    )
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents")
        )
        .orderBy(F.col("revenue_cents").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def _sql_tpch_q3() -> str:
    return """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue_cents DESC, l_orderkey ASC
LIMIT 10
"""


def q_tpch_region_customer_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-chain broadcast join: customer → nation → region rollup of
    customer counts and exact-cents balances (both dims broadcast)."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation),
                  cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region),
              nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_cents(F.col("c_acctbal"))).alias("acctbal_cents"),
        )
    )


def _sql_tpch_region_customer() -> str:
    return """
SELECT r_name, n_name,
       count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2
"""


def q_tpch_q5_local_supplier_volume(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q5 shape: 5-table join (two broadcast dims + customer +
    supplier + two facts) with a same-nation supplier-customer
    predicate, revenue per nation.

    Only nation (25 rows) and the filtered region (1 row) carry
    broadcast hints — they are bounded regardless of scale factor.
    customer and supplier grow linearly with SF, so their join
    strategy is left to AQE (broadcast at small SF, sort-merge at
    100×) instead of a forced hint that would OOM the executors."""
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    ords = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1996-01-01 00:00:00'"))
        & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(ords, li.l_orderkey == ords.o_orderkey)
        .join(cust, ords.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(
                _cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


def _sql_tpch_q5() -> str:
    return """
SELECT n_name,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS revenue_cents,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1
"""


def q_tpch_q4_priority_semi_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q4 shape: LEFT SEMI join (EXISTS) — orders having at
    least one late-shipped lineitem, counted per priority."""
    ords = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = li.filter(F.col("l_shipdate") > F.expr(
        "TIMESTAMP_NTZ '1999-06-01 00:00:00'"
    ))
    return (
        ords.join(late, ords.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


def _sql_tpch_q4() -> str:
    return """
SELECT o_orderpriority,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > TIMESTAMP '1999-06-01')
GROUP BY 1
"""


def q_tpch_customers_without_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no urgent order,
    per market segment (the bare no-orders set is empty in the
    synthetic data, so the anti side is filtered to stay non-trivial).
    """
    cust = _t(spark, sf_dir, "customer")
    urgent = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_cents(F.col("c_acctbal"))).alias("acctbal_cents"),
        )
    )


def _sql_tpch_anti() -> str:
    return """
SELECT c_mktsegment,
       count(*) AS n_customers,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY 1
"""


def q_tpch_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets over (status, priority) with subtotals and
    a grand total."""
    ords = _t(spark, sf_dir, "orders")
    return ords.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(_cents(F.col("o_totalprice"))).alias("total_cents"),
    )


def _sql_tpch_rollup() -> str:
    return """
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
"""


def q_tpch_custkey_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: high-balance customers split by whether they
    also placed an urgent order (INTERSECT) or not (EXCEPT)."""
    cust = _t(spark, sf_dir, "customer")
    ords = _t(spark, sf_dir, "orders")
    high = cust.filter(F.col("c_acctbal") > 9000).select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = ords.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    both = high.intersect(urgent).withColumn("tag", F.lit("urgent"))
    only = high.subtract(urgent).withColumn("tag", F.lit("no_urgent"))
    return both.unionByName(only)


def _sql_tpch_setops() -> str:
    return """
WITH high AS (SELECT c_custkey AS custkey FROM customer
              WHERE c_acctbal > 9000),
urgent AS (SELECT o_custkey AS custkey FROM orders
           WHERE o_orderpriority = '1-URGENT')
SELECT custkey, 'urgent' AS tag
FROM (SELECT custkey FROM high INTERSECT SELECT custkey FROM urgent)
UNION ALL
SELECT custkey, 'no_urgent' AS tag
FROM (SELECT custkey FROM high EXCEPT SELECT custkey FROM urgent)
"""


def q_tpch_scalar_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: date parts, string slicing/casing/
    concat, exact-cents conversion — one codegen'd scan projection."""
    ords = _t(spark, sf_dir, "orders")
    return ords.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.substring("o_orderpriority", 1, 1).alias("prio_code"),
        F.lower("o_orderpriority").alias("prio_lower"),
        F.length("o_orderpriority").alias("prio_len"),
        F.concat_ws("#", "o_orderstatus", "o_orderpriority").alias(
            "status_key"
        ),
        _cents(F.col("o_totalprice")).alias("total_cents"),
    )


def _sql_tpch_scalar() -> str:
    return """
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INTEGER) AS o_year,
       CAST(month(o_orderdate) AS INTEGER) AS o_month,
       substr(o_orderpriority, 1, 1) AS prio_code,
       lower(o_orderpriority) AS prio_lower,
       CAST(length(o_orderpriority) AS INTEGER) AS prio_len,
       o_orderstatus || '#' || o_orderpriority AS status_key,
       CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents
FROM orders
"""


def q_tpch_cust_latest_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window over a large join key: latest 2 orders per customer with
    a per-customer running count."""
    from pyspark.sql import Window as W

    ords = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").asc()
    )
    return (
        ords.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("o_custkey", "o_orderkey", "o_orderdate", "rn")
    )


def _sql_tpch_latest_orders() -> str:
    return """
SELECT o_custkey, o_orderkey, o_orderdate, rn FROM (
  SELECT o_custkey, o_orderkey, o_orderdate,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate DESC, o_orderkey ASC) AS rn
  FROM orders
) WHERE rn <= 2
"""


def q_emb_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: nearest-cell assignment against a deterministic
    codebook, 2-probe exact-cosine rerank (the scale path: a probe
    reads n_probe/n_cells of the corpus)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ivf_ann(
        emb, emb.filter(F.col("vec_id") < 5), k=5, n_cells=8,
        n_probe=2, dim=64,
    )


def _sql_ivf_ann() -> str:
    cb = similarity.ivf_codebook(8, 64, seed=7)
    with_cb = ", ".join(
        f"[{', '.join(repr(w) for w in c)}] AS c{i}"
        for i, c in enumerate(cb)
    )
    def dist(i: int) -> str:
        return (
            f"round(list_sum([(CAST(embedding[j] AS DOUBLE) - c{i}[j])"
            f" * (CAST(embedding[j] AS DOUBLE) - c{i}[j])"
            f" FOR j IN range(1, 65)]), 6)"
        )
    structs = ", ".join(
        f"{{'d': {dist(i)}, 'i': {i}}}" for i in range(8)
    )
    return f"""
WITH cb AS (SELECT {with_cb}),
assigned AS (
  SELECT vec_id, embedding,
         list_sort([{structs}]) AS cells
  FROM embeddings CROSS JOIN cb
),
corpus AS (SELECT vec_id, embedding, cells[1].i AS cell FROM assigned),
q AS (SELECT vec_id, embedding, unnest([x.i FOR x IN cells[1:2]]) AS cell
      FROM assigned WHERE vec_id < 5),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(
           list_sum([CAST(q.embedding[i] AS DOUBLE)
                     * CAST(c.embedding[i] AS DOUBLE)
                     FOR i IN range(1, 65)])
           / (sqrt(list_sum([CAST(q.embedding[i] AS DOUBLE)
                             * CAST(q.embedding[i] AS DOUBLE)
                             FOR i IN range(1, 65)]))
              * sqrt(list_sum([CAST(c.embedding[i] AS DOUBLE)
                               * CAST(c.embedding[i] AS DOUBLE)
                               FOR i IN range(1, 65)]))), 6
         ) AS cos_sim
  FROM corpus c JOIN q ON c.cell = q.cell
  WHERE c.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


# --- multimodal -------------------------------------------------------


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(d)
    return multimodal.decode_metadata(media)


def _sql_multimodal() -> str:
    # the deterministic fake decoder is a pure function of byte length;
    # the synthetic corpus is ASCII so bytes == chars, and DuckDB's
    # md5(varchar) hashes the same UTF-8 bytes
    return """
SELECT doc_id,
       CAST(length(text) AS INTEGER) AS n_bytes,
       CAST(length(text) % 640 AS INTEGER) AS width,
       CAST((length(text) * 7) % 480 AS INTEGER) AS height,
       CAST(length(text) % 30 AS INTEGER) AS n_frames,
       md5(text) AS checksum
FROM documents
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: Arrow mapInPandas, fixed schema contract,
    stubbed pixel work (checksum of payload+target dims — see
    operators/multimodal.py)."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(d)
    return multimodal.resize_images(media, target_w=224, target_h=224)


def _sql_multimodal_resize() -> str:
    return """
SELECT doc_id,
       CAST(length(text) % 640 AS INTEGER) AS width,
       CAST((length(text) * 7) % 480 AS INTEGER) AS height,
       CAST(224 AS INTEGER) AS resized_w,
       CAST(224 AS INTEGER) AS resized_h,
       md5(text || ':224x224') AS resized_checksum
FROM documents
"""


def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing: 1→N fanout per payload (every 5th
    fake-decoded frame), Arrow mapInPandas; zero-frame payloads emit
    zero rows."""
    d = _t(spark, sf_dir, "documents")
    media = multimodal.attach_binary_payload(d)
    return multimodal.sample_frames(media, every_n=5)


def _sql_multimodal_frame_sample() -> str:
    return """
SELECT doc_id,
       CAST(unnest(range(0, length(text) % 30, 5)) AS INTEGER)
         AS frame_idx,
       md5(text || ':' ||
           CAST(unnest(range(0, length(text) % 30, 5)) AS VARCHAR))
         AS frame_checksum
FROM documents
WHERE length(text) % 30 > 0
"""


# --- contract ---------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_cdc_apply_final_state(spark, SF_DEFAULT)


def _cdc_subset_delete_state(
    spark: SparkSession, sf_dir: str, merge_mode: str
) -> DataFrame:
    """delete.as.update.key ⊂ pk through the full write path
    (reference production config ``delete.as.update.key=RECID`` with a
    3-part pk, ``BufferedRecordsTest.java:108``): pk = (user_id,
    event_type), deletes match on user_id alone — one delete event
    soft-deletes every event_type row of that user. Two micro-batches;
    under merge-on-read the second commits sdel delta files that the
    read resolves per row (earliest delete after the row's last
    upsert, not-already-deleted guard)."""
    cfg = SinkConfig(
        pk_fields=("user_id", "event_type"),
        delete_as_update_key=("user_id",),
        delete_retain_fields=("ts",),
        n_buckets=8,
        merge_mode=merge_mode,
    )
    cdc = _events_as_cdc(_t(spark, sf_dir, "events"))
    mid = _events_max_id(spark, sf_dir) // 2
    tmp = _scratch_dir(f"cdc_subset_{merge_mode}_")
    applier = CdcApplier(spark, cfg, os.path.join(tmp, "tgt"))
    applier.apply_batch(cdc.filter(F.col("kafka_offset") <= mid), batch_id=0)
    applier.apply_batch(cdc.filter(F.col("kafka_offset") > mid), batch_id=1)
    return applier.read_target().select(
        "user_id",
        "event_type",
        "op_type",
        F.col("event_id").alias("last_event_id"),
        F.col("value").alias("last_value"),
        F.unix_timestamp("ts").alias("ts_epoch"),
    )


def q_cdc_subset_delete_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cdc_subset_delete_state(spark, sf_dir, "cow")


def q_cdc_subset_delete_state_mor(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _cdc_subset_delete_state(spark, sf_dir, "mor")


def _sql_cdc_subset_delete_state() -> str:
    # per (user_id, event_type) row: latest upsert; winning delete =
    # the user's EARLIEST delete event after that upsert (the guard
    # blocks later ones per row) — delete events match on user_id only
    return """
WITH cdc AS (
  SELECT *, CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op
  FROM events
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
  FROM cdc WHERE op <> 'd'
),
ups AS (SELECT * FROM ranked WHERE rn = 1),
win AS (
  SELECT u.user_id AS uid, u.event_type AS uet,
         min(d.event_id) AS del_id,
         arg_min(d.ts, d.event_id) AS del_ts
  FROM ups u
  JOIN cdc d ON d.user_id = u.user_id
            AND d.op = 'd' AND d.event_id > u.event_id
  GROUP BY 1, 2
)
SELECT u.user_id,
       u.event_type,
       CASE WHEN w.del_id IS NOT NULL THEN 'D' ELSE 'U' END AS op_type,
       u.event_id AS last_event_id,
       u.value AS last_value,
       CAST(floor(epoch(CASE WHEN w.del_id IS NOT NULL
                             THEN w.del_ts ELSE u.ts END)) AS BIGINT)
         AS ts_epoch
FROM ups u LEFT JOIN win w ON u.user_id = w.uid AND u.event_type = w.uet
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "cdc_last_event_per_key": q_cdc_last_event_per_key,
        "cdc_apply_final_state": q_cdc_apply_final_state,
        "cdc_apply_final_state_mor": q_cdc_apply_final_state_mor,
        "cdc_subset_delete_state": q_cdc_subset_delete_state,
        "cdc_subset_delete_state_mor": q_cdc_subset_delete_state_mor,
        "cdc_snapshot_diff": q_cdc_snapshot_diff,
        "cdc_restore_replay": q_cdc_restore_replay,
        "cdc_cascade_view": q_cdc_cascade_view,
        "cdc_agg_view": q_cdc_agg_view,
        "cdc_rollup_view": q_cdc_rollup_view,
        "cdc_bloom_point_lookup": q_cdc_bloom_point_lookup,
        "cdc_rebucket_state": q_cdc_rebucket_state,
        "cdc_change_feed": q_cdc_change_feed,
        "cdc_change_feed_soft": q_cdc_change_feed_soft,
        "cdc_lineage_agg": q_cdc_lineage_agg,
        "cdc_quarantine_split": q_cdc_quarantine_split,
        "cdc_dlq_replay_state": q_cdc_dlq_replay_state,
        "cdc_schema_evolution_backfill": q_cdc_schema_evolution_backfill,
        "cdc_schema_widening_state": q_cdc_schema_widening_state,
        "cdc_time_range_scan": q_cdc_time_range_scan,
        "cdc_metadata_count": q_cdc_metadata_count,
        "cdc_metadata_minmax": q_cdc_metadata_minmax,
        "cdc_clustered_scan": q_cdc_clustered_scan,
        "cdc_zorder_scan": q_cdc_zorder_scan,
        "events_sessionize": q_events_sessionize,
        "events_hll_user_registers": q_events_hll_user_registers,
        "events_hll_users_per_type": q_events_hll_users_per_type,
        "events_cms_user_counts": q_events_cms_user_counts,
        "events_qsketch_value": q_events_qsketch_value,
        "events_asof_join": q_events_asof_join,
        "events_range_join": q_events_range_join,
        "events_assemble_transcripts": q_events_assemble_transcripts,
        "events_topk_per_type": q_events_topk_per_type,
        "tpch_q1_pricing_summary": q_tpch_q1_pricing_summary,
        "tpch_q3_shipping_priority": q_tpch_q3_shipping_priority,
        "tpch_region_customer_agg": q_tpch_region_customer_agg,
        "tpch_q5_local_supplier_volume": q_tpch_q5_local_supplier_volume,
        "tpch_q4_priority_semi_join": q_tpch_q4_priority_semi_join,
        "tpch_customers_without_orders": q_tpch_customers_without_orders,
        "tpch_orders_rollup": q_tpch_orders_rollup,
        "tpch_custkey_setops": q_tpch_custkey_setops,
        "tpch_scalar_orders": q_tpch_scalar_orders,
        "tpch_cust_latest_orders": q_tpch_cust_latest_orders,
        "doc_textnorm": q_doc_textnorm,
        "doc_token_count": q_doc_token_count,
        "doc_bpe_token_count_true": q_doc_bpe_token_count_true,
        "doc_train_val_split": q_doc_train_val_split,
        "doc_pack_chunks": q_doc_pack_chunks,
        "doc_contamination_check": q_doc_contamination_check,
        "doc_stratified_sample": q_doc_stratified_sample,
        "doc_temperature_mix": q_doc_temperature_mix,
        "doc_quality_score": q_doc_quality_score,
        "doc_filter_verdict": q_doc_filter_verdict,
        "doc_repetition_ratio": q_doc_repetition_ratio,
        "doc_length_percentiles": q_doc_length_percentiles,
        "doc_pii_redact": q_doc_pii_redact,
        "doc_lang_id": q_doc_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "doc_simhash": q_doc_simhash,
        "doc_simhash_dups": q_doc_simhash_dups,
        "doc_exact_dedup": q_doc_exact_dedup,
        "doc_minhash_lsh_pairs": q_doc_minhash_lsh_pairs,
        "doc_dedup_incremental": q_doc_dedup_incremental,
        "doc_dedup_stream": q_doc_dedup_stream,
        "doc_line_dedup": q_doc_line_dedup,
        "doc_search_index": q_doc_search_index,
        "doc_dup_clusters": q_doc_dup_clusters,
        "doc_dedup_keep_best": q_doc_dedup_keep_best,
        "doc_ngram_jaccard_dups": q_doc_ngram_jaccard_dups,
        "dup_signal_agreement": q_dup_signal_agreement,
        "emb_knn_bruteforce": q_emb_knn_bruteforce,
        "emb_lsh_buckets": q_emb_lsh_buckets,
        "emb_cosine_dup_pairs": q_emb_cosine_dup_pairs,
        "emb_dedup_incremental": q_emb_dedup_incremental,
        "emb_dedup_stream": q_emb_dedup_stream,
        "emb_dup_clusters": q_emb_dup_clusters,
        "emb_lsh_ann": q_emb_lsh_ann,
        "emb_ivf_ann": q_emb_ivf_ann,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frame_sample": q_multimodal_frame_sample,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "cdc_last_event_per_key": _sql_cdc_last_event(),
        "cdc_apply_final_state": _sql_cdc_final_state(),
        "cdc_apply_final_state_mor": _sql_cdc_final_state(),
        "cdc_subset_delete_state": _sql_cdc_subset_delete_state(),
        "cdc_subset_delete_state_mor": _sql_cdc_subset_delete_state(),
        "cdc_snapshot_diff": _sql_cdc_snapshot_diff(),
        "cdc_restore_replay": _sql_cdc_restore_replay(),
        "cdc_cascade_view": _sql_cdc_cascade_view(),
        "cdc_agg_view": _sql_cdc_agg_view(),
        "cdc_rollup_view": _sql_cdc_rollup_view(),
        "cdc_bloom_point_lookup": _sql_cdc_bloom_point_lookup(),
        "cdc_rebucket_state": _sql_cdc_final_state(),
        "cdc_change_feed": _sql_cdc_change_feed(),
        "cdc_change_feed_soft": _sql_cdc_change_feed_soft(),
        "cdc_lineage_agg": _sql_cdc_lineage(),
        "cdc_quarantine_split": _sql_cdc_quarantine(),
        "cdc_dlq_replay_state": _sql_cdc_final_state(),
        "cdc_schema_evolution_backfill": _sql_cdc_evolution(),
        "cdc_schema_widening_state": _sql_cdc_widening(),
        "cdc_time_range_scan": _sql_time_range_scan(),
        "cdc_metadata_count": _sql_metadata_count(),
        "cdc_metadata_minmax": _sql_metadata_minmax(),
        "cdc_clustered_scan": _sql_clustered_scan(),
        "cdc_zorder_scan": _sql_zorder_scan(),
        "events_sessionize": _sql_sessionize(),
        "events_hll_user_registers": _sql_hll_registers(),
        "events_hll_users_per_type": _sql_hll_per_type(),
        "events_cms_user_counts": _sql_cms_user_counts(),
        "events_qsketch_value": _sql_qsketch_value(),
        "events_asof_join": _sql_asof_join(),
        "events_range_join": _sql_range_join(),
        "events_assemble_transcripts": _sql_events_assemble_transcripts(),
        "events_topk_per_type": _sql_topk(),
        "tpch_q1_pricing_summary": _sql_tpch_q1(),
        "tpch_q3_shipping_priority": _sql_tpch_q3(),
        "tpch_region_customer_agg": _sql_tpch_region_customer(),
        "tpch_q5_local_supplier_volume": _sql_tpch_q5(),
        "tpch_q4_priority_semi_join": _sql_tpch_q4(),
        "tpch_customers_without_orders": _sql_tpch_anti(),
        "tpch_orders_rollup": _sql_tpch_rollup(),
        "tpch_custkey_setops": _sql_tpch_setops(),
        "tpch_scalar_orders": _sql_tpch_scalar(),
        "tpch_cust_latest_orders": _sql_tpch_latest_orders(),
        "doc_textnorm": _sql_textnorm(),
        "doc_token_count": _sql_token_count(),
        "doc_bpe_token_count_true": _sql_bpe_token_count_true(),
        "doc_train_val_split": _sql_train_val_split(),
        "doc_pack_chunks": _sql_doc_pack_chunks(),
        "doc_contamination_check": _sql_contamination(),
        "doc_stratified_sample": _sql_stratified_sample(),
        "doc_temperature_mix": _sql_temperature_mix(),
        "doc_repetition_ratio": _sql_repetition_ratio(),
        "doc_length_percentiles": _sql_length_percentiles(),
        "doc_pii_redact": _sql_pii_redact(),
        "doc_quality_score": _sql_quality(),
        "doc_filter_verdict": _sql_filter_verdict(),
        "doc_lang_id": _sql_lang_id(),
        "doc_fingerprint": _sql_fingerprint(),
        "doc_simhash": _sql_simhash(),
        "doc_simhash_dups": _sql_simhash_dups(),
        "doc_exact_dedup": _sql_exact_dedup(),
        "doc_minhash_lsh_pairs": _sql_minhash_lsh(),
        "doc_dedup_incremental": _sql_minhash_lsh(),
        "doc_dedup_stream": _sql_dedup_stream(),
        "doc_line_dedup": _sql_line_dedup(),
        "doc_search_index": _sql_doc_search_index(),
        "doc_dup_clusters": _sql_dup_clusters(),
        "doc_dedup_keep_best": _sql_dedup_keep_best(),
        "doc_ngram_jaccard_dups": _sql_ngram_jaccard(),
        "dup_signal_agreement": _sql_dup_agreement(),
        "emb_knn_bruteforce": _sql_knn(),
        "emb_lsh_buckets": _sql_lsh_buckets(),
        "emb_cosine_dup_pairs": _sql_cosine_dup_pairs(),
        "emb_dedup_incremental": _sql_cosine_dup_pairs(),
        "emb_dedup_stream": _sql_emb_dedup_stream(),
        "emb_dup_clusters": _sql_emb_dup_clusters(),
        "emb_lsh_ann": _sql_lsh_ann(),
        "emb_ivf_ann": _sql_ivf_ann(),
        "multimodal_decode": _sql_multimodal(),
        "multimodal_resize": _sql_multimodal_resize(),
        "multimodal_frame_sample": _sql_multimodal_frame_sample(),
    }
