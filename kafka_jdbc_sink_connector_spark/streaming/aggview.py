"""Incrementally-maintained aggregate views: a GROUP-BY materialized
view over an upstream lake table, kept current per upstream commit —
the aggregation sibling of :class:`.cascade.CascadeRunner`'s
row-level mirror.

The naive way to keep ``SELECT g, agg(...) GROUP BY g`` current is to
recompute it per batch — table-sized, dead at 100 TB. Pure delta
maintenance (add the inserts, subtract the deletes) only works for
self-inverse aggregates (sum/count) and breaks on min/max under
deletes. This runner takes the production middle road, **group-wise
partial recompute**:

1. the change feed over ``(watermark, head]`` — with PRE-images
   (:func:`..lake.changes.table_changes` ``include_preimages=True``)
   — names every group a change row touches. The pre-image matters:
   an update that MOVES a row between groups must debit the old
   group, which the post-image alone cannot name;
2. only those groups are re-aggregated from the upstream head — a
   broadcast LEFT SEMI join of the (batch-sized) affected-group set
   against the upstream scan, so cost follows the changed groups'
   data, never the table;
3. refreshed groups merge into the downstream table as upserts;
   affected groups with no remaining (post-filter) rows become
   deletes. The downstream is an ordinary lake table written through
   :class:`..apply.CdcApplier` (pk = the group-by columns), so it is
   itself time-travelable, cascade-able, and exactly-once under the
   upstream-version watermark — a crash-retried ``sync`` skips or
   replays idempotently exactly like the row-level cascade.

Because step 2 recomputes from real rows, ANY Spark aggregate
expression is supported — count/sum/avg/min/max/count_distinct/
collect_set — with none of delta-IVM's invertibility restrictions.

Reference anchor: the reference ends at row delivery
(``JdbcSinkTask.put``); maintained aggregates are lake-native
downstream machinery built on the engine's own feed + apply halves.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.apply import CdcApplier
from kafka_jdbc_sink_connector_spark.lake.changes import table_changes
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable
from kafka_jdbc_sink_connector_spark.streaming.cascade import ViewSync, _expr


class AggViewRunner(ViewSync):
    """One maintained aggregate view.

    Parameters
    ----------
    applier:
        Downstream :class:`CdcApplier`; its ``pk_fields`` must equal
        ``group_by`` (the group IS the key of the view).
    group_by:
        Grouping columns (must exist upstream and be non-null for
        grouped rows — the view's primary key cannot be null; rows
        with a NULL group key are excluded from the view, as the
        validator would quarantine their aggregate row anyway).
    aggs:
        ``{output_column: aggregate Column}`` — any Spark aggregate
        expression; evaluated per affected group over the upstream
        head, so no invertibility requirement.
    row_filter:
        Optional predicate over upstream rows (same IVM semantics as
        the row cascade: rows failing it simply don't contribute, and
        a group whose rows all leave the filter is deleted from the
        view; NULL predicate counts as failing).
    """

    _kind = "aggview"
    # read_target() consumers see a soft-delete marker as just another
    # column: vanished groups would keep reporting stale aggregates
    _hard_deletes = (
        "aggregate-view",
        "emptied groups must leave the view, not be soft-marked",
    )

    def __init__(
        self,
        spark: SparkSession,
        upstream_path: str,
        applier: CdcApplier,
        group_by: list[str],
        aggs: dict[str, Column],
        *,
        row_filter: Column | str | None = None,
        transform=None,
        source_id: str | None = None,
    ):
        if not group_by or not aggs:
            raise ValueError("group_by and aggs must be non-empty")
        if set(applier.cfg.pk_fields) != set(group_by):
            raise ValueError(
                f"downstream pk {list(applier.cfg.pk_fields)} must equal "
                f"group_by {list(group_by)} — the group is the view's key"
            )
        overlap = set(aggs) & set(group_by)
        if overlap:
            raise ValueError(
                f"agg output(s) {sorted(overlap)} collide with group_by"
            )
        super().__init__(spark, upstream_path, applier, source_id)
        self.group_by = list(group_by)
        self.aggs = dict(aggs)
        self.row_filter = _expr(row_filter)
        #: optional PROJECTION-ONLY callable run on upstream rows
        #: (feed rows included) before grouping — how DERIVED group
        #: columns work, e.g. a time bucket
        #: ``df.withColumn("hour", date_trunc('hour', ts))`` turns
        #: the view into a Timescale-style continuous aggregate. Must
        #: be deterministic and must not drop rows (row selection
        #: belongs in ``row_filter``): pre-images re-derive the OLD
        #: group through the same expression.
        self.transform = transform

    def _events(self, mode: str, up: LakeTable, w: int) -> DataFrame:
        g = self.group_by
        if mode == "incremental":
            feed = table_changes(up, w, include_preimages=True)
            if self.transform is not None:
                feed = self.transform(feed)
            # NULL-group images are rows outside the view (same rule
            # as _live): they can't name an affected group
            affected = self._checkpoint(
                feed.select(*g).na.drop(subset=g).distinct()
            )
            relevant = self._live(up.read()).join(
                F.broadcast(affected), g, "left_semi"
            )
            fresh = self._aggregate(relevant)
            # affected groups with no surviving rows leave the view
            dels = affected.join(fresh.select(*g), g, "left_anti")
        else:
            fresh = self._aggregate(self._live(up.read()))
            dels = self._gone_keys(fresh) if mode == "refresh" else None
        ev = self._op(fresh, False)
        if dels is not None:
            ev = ev.unionByName(self._op(dels, True), allowMissingColumns=True)
        # a computed pipeline (feed, semi-join, re-aggregation) sized by
        # the group count — batch-bounded incrementally, view-sized at
        # worst — so it is checkpointed in every mode
        return self._checkpoint(self._stamp(ev, g))

    def _live(self, rows: DataFrame) -> DataFrame:
        if self.transform is not None:
            rows = self.transform(rows)
            missing = set(self.group_by) - set(rows.columns)
            if missing:
                raise ValueError(
                    f"aggview transform dropped group column(s) "
                    f"{sorted(missing)}"
                )
        rows = rows.na.drop(subset=self.group_by)
        if self.row_filter is not None:
            rows = rows.filter(F.coalesce(self.row_filter, F.lit(False)))
        return rows

    def _aggregate(self, rows: DataFrame) -> DataFrame:
        return rows.groupBy(*self.group_by).agg(
            *[c.alias(name) for name, c in self.aggs.items()]
        )
