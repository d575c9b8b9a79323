"""MERGE-apply of collapsed change events into a lake table.

Re-expresses the reference's SQL generation + batched execution
(upsert MERGE ``BufferedRecords.java:234-268``, soft-delete UPDATE with
"not already deleted" guard ``BufferedRecords.java:270-305``, audit
timestamp injection ``BufferedRecords.java:28,255,261-265``) as one
per-key resolution shared by both table layouts: the collapsed batch
becomes delta rows (:func:`_build_delta_rows`), which a merge-on-read
target appends and a copy-on-write target resolves at once with
:func:`mor.resolve` over only the hash buckets that contain touched
keys, then rewrites them (copy-on-write MERGE, the Iceberg/Delta
strategy). Subset-key deletes go through
:func:`mor.apply_subset_overlays` in both layouts.

Semantics implemented, per key (see ``operators/dedup.py`` for the
collapse that feeds this):

==========================  =====================================================
batch outcome for the key    resulting row
==========================  =====================================================
upsert, no trailing delete  payload of latest upsert; marker col = upper(op);
                            audit col = apply time (matched rows are always
                            updated — the reference MERGE has no change guard)
upsert then delete (soft)   payload of latest upsert overlaid with: marker='D',
                            retain fields taken from the delete event, audit ts
                            **iff** the guard passes on the upserted row
                            (reference order: MERGE insert/update runs, then the
                            delete UPDATE matches the fresh row)
upsert then delete (hard)   row removed
delete only (soft)          pre-existing target row overlaid with marker/retain/
                            audit **iff** the guard passes (three-valued ``!=``
                            like the generated SQL: a NULL marker blocks the
                            update); no target row → no-op (UPDATE matches 0
                            rows)
delete only (hard)          target row removed if present
delete only (mode none)     ignored
==========================  =====================================================

Scale notes: the source side is ≤1 row/key post-collapse, so the
copy-on-write resolve joins it without the readers' per-key fold. The
target scan reads only affected buckets (bucket pruning via the
manifest) and only the columns in the table schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.config import DeleteMode, InsertMode, SinkConfig
from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL, bucket_expr
from kafka_jdbc_sink_connector_spark.lake import mor
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable, Snapshot
from kafka_jdbc_sink_connector_spark.operators.dedup import (
    DELETE_LIST,
    DELETE_OFF,
    DELETE_STRUCT,
    EVENT_OP,
    FIRST_DEL_OFF,
    UPSERT_OFF,
    UPSERT_STRUCT,
)


def payload_columns(table_schema, cfg: SinkConfig) -> list[str]:
    """Target data columns that change events supply directly (all but
    the engine-managed soft-delete marker and audit timestamp)."""
    managed = {cfg.audit_ts_column}
    if cfg.delete_mode is DeleteMode.UPDATE:
        managed.add(cfg.soft_delete_column)
    cols = [f.name for f in table_schema.fields if f.name not in managed]
    if cfg.fields_whitelist:
        keep = set(cfg.fields_whitelist) | set(cfg.pk_fields)
        cols = [c for c in cols if c in keep]
    return cols


def _mor_meta(cfg: SinkConfig) -> dict:
    """Resolution spec persisted in the snapshot so merge-on-read
    readers don't need the writer's SinkConfig."""
    soft = cfg.delete_mode is DeleteMode.UPDATE
    overlay: list[str] = []
    if soft:
        overlay = [cfg.soft_delete_column, cfg.audit_ts_column] + [
            f for f in cfg.delete_retain_fields
        ]
    return {
        "soft": soft,
        "hard": cfg.delete_mode is DeleteMode.DELETE,
        "upd_only": cfg.insert_mode is InsertMode.UPDATE,
        "guard": [list(g) for g in cfg.soft_delete_conditions]
        if soft
        else [],
        "guard_null_is_not_null": cfg.guard_null_is_not_null,
        "overlay_cols": overlay,
        "sdel_key": (
            list(cfg.delete_as_update_key) if cfg.subset_delete_key else []
        ),
    }


def _row_struct(snap: Snapshot, cfg: SinkConfig, value) -> Column:
    """A delta-row struct: every non-key column, ``value(name)`` cast
    to its type."""
    return F.struct(*[
        value(f.name).cast(f.dataType).alias(f.name)
        for f in mor.row_struct_fields(snap.schema, list(cfg.pk_fields))
    ])


def _overlay(
    snap: Snapshot, cfg: SinkConfig, audit: Column, deleted: Column
) -> Column:
    """The soft-delete overlay of a delete event (``deleted`` = its
    retain-field struct): marker/audit/retain set, other columns NULL.
    Outside soft mode a NULL struct: hard mode needs only the delete's
    position (nulls cost ~nothing in parquet)."""
    if cfg.delete_mode is not DeleteMode.UPDATE:
        return F.lit(None).cast(
            mor.row_struct_type(snap.schema, list(cfg.pk_fields))
        )
    retain = set(cfg.delete_retain_fields)

    def val(c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if c == cfg.soft_delete_column:
            return F.lit(cfg.soft_delete_value)
        if c in retain:
            return deleted[c]
        return F.lit(None)

    return _row_struct(snap, cfg, val)


def _build_sdel_rows(
    snap: Snapshot, sdels: DataFrame, cfg: SinkConfig, audit: Column
) -> DataFrame:
    """Collapsed subset-key deletes (``collapse_deletes_by_key``) →
    sdel rows: subset key + the offset-sorted list of (offset,
    overlay) entries. See lake/mor.py for the resolution."""
    entry = lambda e: F.struct(  # noqa: E731
        e["off"].cast("long").alias("off"),
        _overlay(snap, cfg, audit, e["row"]).alias("row"),
    )
    return sdels.select(
        *cfg.delete_as_update_key,
        F.transform(F.col(DELETE_LIST), entry).alias(mor.SDEL_LIST),
        bucket_expr(snap.bucket_key, snap.n_buckets).alias(BUCKET_COL),
    )


def _build_delta_rows(
    snap: Snapshot, src: DataFrame, cfg: SinkConfig, audit: Column
) -> DataFrame:
    """Collapsed change set (+bucket) → delta rows: the fully
    materialized upsert row (marker/audit applied) plus the soft-delete
    overlay values. See lake/mor.py for the layout and resolution."""
    payload = payload_columns(snap.schema, cfg)
    soft = cfg.delete_mode is DeleteMode.UPDATE

    def ups_val(c: str) -> Column:
        if c == cfg.audit_ts_column:
            return audit
        if soft and c == cfg.soft_delete_column:
            return F.upper(F.col(UPSERT_STRUCT)[EVENT_OP])
        if c in payload:
            return F.col(UPSERT_STRUCT)[c]
        return F.lit(None)

    # deletes are ignored in mode none — don't persist them
    none = cfg.delete_mode is DeleteMode.NONE
    no_off = F.lit(None).cast("long")
    del_off = no_off if none else F.col(DELETE_OFF).cast("long")
    return src.select(
        *cfg.pk_fields,
        F.when(F.col(UPSERT_OFF).isNotNull(),
               _row_struct(snap, cfg, ups_val)).alias(mor.DELTA_UPS),
        F.col(UPSERT_OFF).cast("long").alias(mor.DELTA_UPS_OFF),
        F.when(del_off.isNotNull(),
               _overlay(snap, cfg, audit, F.col(DELETE_STRUCT))
               ).alias(mor.DELTA_DEL),
        del_off.alias(mor.DELTA_DEL_OFF),
        (no_off if none else F.col(FIRST_DEL_OFF).cast("long")).alias(
            mor.DELTA_FIRST_DEL_OFF
        ),
        F.col(BUCKET_COL),
    )


def merge_into(
    table: LakeTable,
    collapsed: DataFrame,
    cfg: SinkConfig,
    audit_ts: Column | None = None,
    source_id: str | None = None,
    batch_id: int | None = None,
    affected_buckets: list[int] | None = None,
    subset_deletes: DataFrame | None = None,
    stats: dict | None = None,
) -> Snapshot:
    """Apply a collapsed (≤1 row/key) change set and commit a snapshot.

    ``affected_buckets`` lets the caller reuse a bucket set it already
    computed (the applier folds it into its lineage pass), avoiding an
    extra distinct+collect job here.

    ``subset_deletes`` (from :func:`collapse_deletes_by_key`) carries
    delete events keyed by a proper pk subset
    (``delete.as.update.key=RECID`` semantics): after the pk-level
    merge, every surviving row joins against it on the subset key and
    is overlaid/removed when the delete is newer than the row's last
    upsert and the not-already-deleted guard passes. When provided,
    ``collapsed`` must contain upsert events only.

    Both layouts build the same delta rows. Merge-on-read appends them
    (once the affected buckets hold data); copy-on-write resolves them
    with :func:`mor.resolve` over the affected buckets' rows and
    rewrites those buckets.
    """
    audit = audit_ts if audit_ts is not None else F.current_timestamp()
    snap = table.snapshot
    src = collapsed.withColumn(
        BUCKET_COL, bucket_expr(snap.bucket_key, snap.n_buckets)
    )
    affected = (
        affected_buckets
        if affected_buckets is not None
        else [r[0] for r in src.select(BUCKET_COL).distinct().collect()]
    )
    if not affected:
        return table.commit_rewrite(
            table.read(buckets=[], include_bucket=True).limit(0),
            [],
            source_id=source_id,
            batch_id=batch_id,
            stats=stats,
        )
    meta = _mor_meta(cfg)
    delta = _build_delta_rows(snap, src, cfg, audit)
    sdel = (
        _build_sdel_rows(snap, subset_deletes, cfg, audit)
        if subset_deletes is not None
        else None
    )
    has_base = bool(snap.files(affected))
    if cfg.merge_mode == "mor" and (has_base or snap.delta_files(affected)):
        # merge-on-read steady state: append the change set as
        # per-bucket delta files — bytes written ~ batch size, no
        # bucket rewrite. Subset-key deletes ride along as sdel files
        # (same version, same bucket routing — the subset key contains
        # the bucket key by config contract). (The very first batch
        # into empty buckets falls through to the copy-on-write
        # bootstrap below, so the table always starts from clean base
        # files.)
        return table.commit_delta(
            delta,
            mor_meta=meta,
            source_id=source_id,
            batch_id=batch_id,
            stats=stats,
            sdel_rows=sdel,
        )
    # copy-on-write: the batch's delta rows are already one per key,
    # so they enter the per-row resolution without the readers' fold
    # and join the affected buckets' rows on the pk (sort-merge, which
    # AQE can turn into a broadcast for a small batch). No target
    # files there (first load, brand-new buckets): no join at all.
    seq = F.lit(snap.version + 1).cast("long")
    rows = mor.resolve(
        table.read(buckets=affected, include_bucket=True)
        if has_base
        else None,
        mor.batch_keys(
            delta.withColumn(mor.DELTA_SEQ, seq), list(cfg.pk_fields), meta
        ),
        snap,
        meta,
        carry_pos=sdel is not None,
    )
    if sdel is not None:
        rows = mor.apply_subset_overlays(
            rows, sdel.withColumn(mor.DELTA_SEQ, seq), snap, meta
        )
    return table.commit_rewrite(
        rows,
        affected,
        source_id=source_id,
        batch_id=batch_id,
        stats=stats,
    )


def append_only(
    table: LakeTable,
    events: DataFrame,
    cfg: SinkConfig,
    audit_ts: Column | None = None,
    source_id: str | None = None,
    batch_id: int | None = None,
    stats: dict | None = None,
) -> Snapshot:
    """``insert_mode=INSERT``: plain append of non-delete events (the
    reference would issue bare INSERTs; in lake semantics this is an
    append — duplicate keys are the caller's concern, as there)."""
    snap = table.snapshot
    audit = audit_ts if audit_ts is not None else F.current_timestamp()
    payload = payload_columns(snap.schema, cfg)
    rows = events.filter(
        F.col(cfg.op_column) != F.lit(cfg.op_delete_value)
    )
    cols = []
    for f in snap.schema.fields:
        if f.name == cfg.audit_ts_column:
            cols.append(audit.cast(f.dataType).alias(f.name))
        elif (
            cfg.delete_mode is DeleteMode.UPDATE
            and f.name == cfg.soft_delete_column
        ):
            cols.append(F.upper(F.col(cfg.op_column)).alias(f.name))
        elif f.name in payload and f.name in rows.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    data = rows.select(*cols).withColumn(
        BUCKET_COL, bucket_expr(snap.bucket_key, snap.n_buckets)
    )
    return table.commit_append(
        data, source_id=source_id, batch_id=batch_id, stats=stats
    )
