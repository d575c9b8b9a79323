"""Cascading (medallion) incremental materialization: tail an
upstream lake table's change feed and MERGE-apply it into a
downstream table, exactly-once, keyed by upstream commit version.

This composes two halves the engine already has — the change data
feed (:func:`..lake.changes.table_changes`) as an incremental SOURCE
and :class:`..apply.CdcApplier` as the SINK — into the bronze →
silver → gold pipeline shape: the downstream table is itself a lake
table written through the managed apply path, so a further cascade
can tail IT in turn. The reference stops at one hop (Kafka →
database, ``JdbcSinkTask.put``); chaining is what a lake-native
engine adds on top.

Exactly-once: the upstream commit VERSION is the downstream batch id
under a per-edge source id (``cascade:<upstream path>``), so the
existing batch watermark makes ``sync()`` idempotent — a replayed or
crashed-and-retried sync of the same upstream window skips, and a
partial failure before the downstream commit retries from the same
watermark. The cost of a sync follows the upstream CHANGE volume
(the feed's fast path keeps it batch-sized for delta commits), never
the table size — the property that makes a 100-TB silver table
maintainable per ingest batch.

Filter semantics (incremental view maintenance): ``row_filter`` is a
predicate over upstream rows. An upstream update can move a row INTO
the filter (downstream insert) or OUT of it (downstream DELETE — the
naive "apply the filter to the change rows" silently strands such
rows downstream forever). ``sync`` therefore maps change rows to
ops first: upstream delete OR post-image failing the filter → ``d``,
else ``u``.

:class:`ViewSync` is the sync core all maintained views share (this
mirror, :mod:`.aggview`, :mod:`.textindex`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import BatchResult, CdcApplier
from kafka_jdbc_sink_connector_spark.config import DeleteMode
from kafka_jdbc_sink_connector_spark.lake.changes import (
    CHANGE_TYPE,
    FROM_VERSION,
    TO_VERSION,
    table_changes,
)
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
from kafka_jdbc_sink_connector_spark.streaming.runner import free_checkpoints

_FEED_META = (CHANGE_TYPE, FROM_VERSION, TO_VERSION)


@dataclass
class CascadeResult:
    mode: str  # bootstrap | incremental | refresh | noop
    upstream_version: int
    from_version: int | None = None
    batch: BatchResult | None = None


class ViewSync:
    """Sync core of a view maintained over an upstream lake table: the
    watermark, the mode choice, the apply and the release of the
    sync's local checkpoints. A view sets :attr:`_kind` and builds its
    events in ``_events(mode, up, w)``."""

    #: prefix of the default ``source_id`` (``"<kind>:" + abspath``) —
    #: it keys the view's watermark in the downstream manifests
    _kind = ""
    #: ``(who, why)`` of a view whose contract needs hard deletes
    _hard_deletes: tuple[str, str] | None = None
    _refreshable = True

    def __init__(self, spark: SparkSession, upstream_path: str,
                 applier: CdcApplier, source_id: str | None):
        delete_mode = applier.cfg.delete_mode
        if self._hard_deletes and delete_mode is not DeleteMode.DELETE:
            who, why = self._hard_deletes
            raise ValueError(
                f"{who} applier must use delete_mode='delete' "
                f"(got {delete_mode.value!r}): {why}"
            )
        self.spark = spark
        self.upstream_path = upstream_path
        self.applier = applier
        self.source_id = (
            source_id or f"{self._kind}:{os.path.abspath(upstream_path)}"
        )
        self._checkpoints: list[DataFrame] = []

    def watermark(self) -> int:
        """Last upstream version applied downstream (-1 = never)."""
        t = self.applier.table()
        return -1 if t is None else t.applied_batch(self.source_id)

    def sync(self, full_refresh: bool = False) -> CascadeResult:
        """Bring the downstream table up to the upstream head.

        * first run (no watermark): bootstrap — the view of the full
          upstream state, as upserts;
        * afterwards: incremental — from the change feed over
          ``(watermark, head]`` only;
        * ``full_refresh=True``: reconcile against the full upstream
          state (upserts for live rows + deletes for downstream keys
          no longer present) — the recovery path when the watermarked
          upstream version was vacuumed and the feed window is gone.
        """
        if full_refresh and not self._refreshable:
            raise ValueError(
                f"{type(self).__name__} has no full_refresh: drop the "
                f"downstream table and sync to rebuild it"
            )
        up = LakeTable.load(self.spark, self.upstream_path)
        head, w = up.version, self.watermark()
        if head <= w:
            return CascadeResult(mode="noop", upstream_version=head,
                                 from_version=w)
        mode = ("refresh" if full_refresh
                else "bootstrap" if w < 0 else "incremental")
        try:
            res = self.applier.apply_batch(
                self._events(mode, up, w), batch_id=head,
                source_id=self.source_id,
            )
        finally:
            self._free_checkpoints()
        return CascadeResult(mode=mode, upstream_version=head,
                             from_version=w, batch=res)

    def _checkpoint(self, df: DataFrame) -> DataFrame:
        """Lazy ``localCheckpoint`` of a computed event pipeline, so
        the applier's stats and merge jobs do not each re-run it;
        freed when the sync ends. Caveat: a local checkpoint is lost
        with its executor (no replica), failing the sync's apply."""
        df = df.localCheckpoint(eager=False)
        self._checkpoints.append(df)
        return df

    def _free_checkpoints(self) -> None:
        free_checkpoints(self._checkpoints)
        self._checkpoints.clear()

    def _op(self, rows: DataFrame, delete: bool | Column) -> DataFrame:
        """Stamp the op column: the downstream delete op where
        ``delete``, else a non-delete op drawn from the DOWNSTREAM
        config's vocabulary — hardcoding ``'u'`` quarantines every view
        row when the sink uses a custom vocabulary (``error_expr``
        checks membership), or worse applies upstream deletes as
        upserts if ``'d'`` happens to be a configured update value."""
        cfg = self.applier.cfg
        upsert = F.lit((cfg.op_update_values or [cfg.op_insert_value])[0])
        delete_op = F.lit(cfg.op_delete_value)
        if isinstance(delete, Column):
            op = F.when(delete, delete_op).otherwise(upsert)
        else:
            op = delete_op if delete else upsert
        return rows.withColumn(cfg.op_column, op)

    def _stamp(self, rows: DataFrame, keys: list[str],
               offset: int | None = None) -> DataFrame:
        """Stamp the transport columns the applier expects: offset =
        ``xxhash64(keys)`` (or the constant ``offset``), partition =
        ``pmod(xxhash64(keys, 1), 1024)``. Hashed offsets suit a view
        emitting one state per key per window (collapse order is then
        immaterial); determinism keeps a crash-retried sync
        byte-identical."""
        cfg = self.applier.cfg
        cols = [F.col(k) for k in keys]
        return rows.withColumn(
            cfg.offset_column,
            F.xxhash64(*cols) if offset is None
            else F.lit(offset).cast("long"),
        ).withColumn(
            cfg.partition_column,
            F.pmod(F.xxhash64(*cols, F.lit(1)), F.lit(1024)).cast("int"),
        )

    def _gone_keys(self, fresh: DataFrame) -> DataFrame | None:
        """Downstream keys absent from ``fresh`` — a refresh's deletes
        (LEFT ANTI on the pk; both sides pruned to key columns, so the
        reconcile shuffles keys, not payloads). None before the
        downstream table exists."""
        keys = list(self.applier.cfg.pk_fields)
        t = self.applier.table()
        if t is None:
            return None
        return t.read().select(*keys).join(
            fresh.select(*keys), keys, "left_anti"
        )


def _expr(c: Column | str | None) -> Column | None:
    return F.expr(c) if isinstance(c, str) else c


class CascadeRunner(ViewSync):
    """One edge of a table-to-table pipeline.

    Parameters
    ----------
    applier:
        The downstream :class:`CdcApplier` (its ``SinkConfig`` decides
        pk, delete mode, buckets for the silver table). Its
        ``pk_fields`` must exist on the upstream rows (after
        ``transform``).
    row_filter:
        Optional predicate :class:`Column` (or SQL string) over
        upstream payload rows — rows failing it are absent downstream,
        maintained incrementally (see module docstring).
    transform:
        Optional PROJECTION-ONLY callable ``DataFrame -> DataFrame``
        applied to upstream rows before the downstream merge: rename /
        derive / drop non-key columns. It must preserve the downstream
        pk columns and must not drop rows — row-level selection
        belongs in ``row_filter``, where delete propagation is
        handled.
    upstream_deleted_when:
        Optional predicate identifying LOGICALLY deleted upstream rows
        — for a soft-delete upstream (``delete.mode=update``), e.g.
        ``F.col("op_type") == "D"``. Matching rows are treated as
        deletes: excluded from bootstrap/refresh and propagated as
        downstream delete events incrementally (the downstream's own
        delete mode then decides soft vs hard). Without it a
        soft-delete upstream's marker column is just another payload
        column — which the downstream merge overwrites with its OWN
        marker, silently resurrecting soft-deleted rows.
    """

    _kind = "cascade"

    def __init__(
        self,
        spark: SparkSession,
        upstream_path: str,
        applier: CdcApplier,
        *,
        row_filter: Column | str | None = None,
        transform=None,
        upstream_deleted_when: Column | str | None = None,
        source_id: str | None = None,
    ):
        super().__init__(spark, upstream_path, applier, source_id)
        self.row_filter = _expr(row_filter)
        self.transform = transform
        self.upstream_deleted_when = _expr(upstream_deleted_when)

    def _events(self, mode: str, up: LakeTable, w: int) -> DataFrame:
        if mode != "incremental":
            # table-sized projections of a plain parquet read: cheap to
            # re-scan, fatal to checkpoint at 100 TB. A refresh compares
            # keys after the transform, in DOWNSTREAM key space
            live = self._finish(self._op(self._live(up.read()), False))
            gone = self._gone_keys(live) if mode == "refresh" else None
            if gone is None:
                return live
            dels = self._finish(self._op(gone, True), apply_transform=False)
            return live.unionByName(dels, allowMissingColumns=True)
        ch = table_changes(up, w)
        is_del = F.col(CHANGE_TYPE) == F.lit("delete")
        if self.upstream_deleted_when is not None:
            # a soft-delete upstream's logical deletes arrive as
            # change_type=update with the marker set — propagate them
            # as downstream deletes
            is_del = is_del | F.coalesce(
                self.upstream_deleted_when, F.lit(False)
            )
        if self.row_filter is not None:
            # post-images failing the filter leave the downstream view;
            # NULL-valued predicates count as failing (bootstrap's
            # .filter drops them), so coalesce before negating
            is_del = is_del | ~F.coalesce(self.row_filter, F.lit(False))
        # stamp the op while the feed meta is still in scope, THEN drop;
        # the change-window-sized feed resolution is checkpointed
        ch = self._op(ch, is_del).drop(*_FEED_META)
        return self._checkpoint(self._finish(ch))

    def _finish(self, rows: DataFrame, apply_transform=True) -> DataFrame:
        """Transform op-stamped rows, then stamp the transport columns
        (offsets hash the downstream pk)."""
        cfg = self.applier.cfg
        if apply_transform and self.transform is not None:
            rows = self.transform(rows)
            missing = {cfg.op_column, *cfg.pk_fields} - set(rows.columns)
            if missing:
                raise ValueError(
                    f"cascade transform dropped required column(s) "
                    f"{sorted(missing)}; transforms must preserve the "
                    f"downstream pk and the {cfg.op_column!r} column"
                )
        return self._stamp(rows, list(cfg.pk_fields))

    def _live(self, rows: DataFrame) -> DataFrame:
        """Upstream rows belonging to the downstream view."""
        if self.upstream_deleted_when is not None:
            rows = rows.filter(
                ~F.coalesce(self.upstream_deleted_when, F.lit(False))
            )
        if self.row_filter is not None:
            rows = rows.filter(self.row_filter)
        return rows
