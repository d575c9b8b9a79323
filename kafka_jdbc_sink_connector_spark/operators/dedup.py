"""Per-key change-event collapse (last-writer-wins dedup).

Replaces the reference's op-type segmented *ordered* execution
(``BufferedRecords.flushWithDelete``, ``BufferedRecords.java:100-138``):
applying a batch's events in offset order per key produces the same
final row as applying only

* the latest non-delete event (the surviving column values), and
* the winning delete event positioned after that upsert (or, with no
  upsert, among all deletes). The reference applies each delete while
  its "not already deleted" guard passes
  (``BufferedRecords.java:287-303``), so the winner is the first delete
  whose resulting row fails the guard, else the last one
  (:func:`..lake.mor.winning_delete`). Under the usual guard on the
  marker column that is the earliest delete: it marks the row and
  blocks the rest. The resulting row takes the marker and retain
  fields from the delete and every other guard column from the
  batch's upsert; with no upsert in the batch those columns are
  unknown here and count as NULL. Outside soft-delete mode the
  earliest delete wins. Deletes sandwiched between upserts never
  matter — the following upsert overwrites everything.

so the whole batch collapses to ≤1 row per key — which is also the
cardinality Iceberg/Delta MERGE requires of its source, and what makes
replays idempotent.

One extra scalar, ``__first_del_off`` (offset of the batch's earliest
delete for the key, regardless of position), survives the collapse:
under ``insert_mode=update`` + ``delete_mode=delete`` the first DELETE
removes the row and every later UPDATE matches nothing (no insert
branch re-creates it), so *any* delete kills the key — information the
winner delete alone cannot carry when it precedes the latest upsert.

Scale: implemented as ``groupBy(pk).agg(...)`` — a declarative
aggregate with **map-side partial aggregation**, so at-least-once
duplicate storms and hot keys are mostly reduced before the shuffle
(a window + ``row_number`` formulation would sort and shuffle every
event). The delete side collects a per-key sorted list of delete
events (offset + retain-field struct); its size is bounded by the
number of DELETE events per key per micro-batch (~1% of CDC traffic,
almost always 0 or 1 per key), not by the batch — upsert storms still
collapse map-side to one struct. A salted two-phase variant (spread
each key over several reducers first) was measured slower on hot-key
storms of 2k and 200k events and on a delete-heavy hot key, and removed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.config import DeleteMode, SinkConfig
from kafka_jdbc_sink_connector_spark.lake.mor import winning_delete

UPSERT_STRUCT = "__upsert"
DELETE_STRUCT = "__delete"
UPSERT_OFF = "__upsert_off"
DELETE_OFF = "__delete_off"
FIRST_DEL_OFF = "__first_del_off"
DELETE_LIST = "__delete_list"
EVENT_OP = "__op"

_LONG_MIN = -(2**63)


def _payload_structs(events: DataFrame, cfg: SinkConfig, payload_cols):
    keys = set(cfg.pk_fields)
    carried = [
        (F.col(c) if c in events.columns else F.lit(None)).alias(c)
        for c in payload_cols
        if c not in keys
    ]
    payload = F.struct(*carried, F.col(cfg.op_column).alias(EVENT_OP))
    retained = [
        (F.col(c) if c in events.columns else F.lit(None)).alias(c)
        for c in cfg.delete_retain_fields
        if c not in keys
    ]
    del_payload = F.struct(*retained, F.col(cfg.op_column).alias(EVENT_OP))
    return payload, del_payload


def _winner_select(df: DataFrame, cfg: SinkConfig) -> DataFrame:
    """Pick the winning delete positioned after the latest upsert from
    the sorted per-key delete list, then drop the list."""
    keys = list(cfg.pk_fields)
    floor = F.coalesce(F.col(UPSERT_OFF), F.lit(_LONG_MIN))
    after = F.filter(F.col(DELETE_LIST), lambda d: d["off"] > floor)
    if cfg.delete_mode is DeleteMode.UPDATE:
        retain = set(cfg.delete_retain_fields)
        ups_fields = set(df.schema[UPSERT_STRUCT].dataType.fieldNames())

        def result_col(d, c: str):
            if c == cfg.soft_delete_column:
                return cfg.soft_delete_value
            if c in keys:
                return F.col(c)
            if c in retain:
                return d["row"][c]
            ups = F.col(UPSERT_STRUCT)
            return ups[c] if c in ups_fields else F.lit(None)

        win = winning_delete(after, {
            "guard": cfg.soft_delete_conditions,
            "guard_null_is_not_null": cfg.guard_null_is_not_null,
        }, result_col)
    else:
        win = F.get(after, 0)
    return df.select(
        *keys,
        F.col(UPSERT_STRUCT),
        F.col(UPSERT_OFF),
        win["row"].alias(DELETE_STRUCT),
        win["off"].alias(DELETE_OFF),
        F.col(FIRST_DEL_OFF),
    )


def collapse_last_writer(
    events: DataFrame,
    cfg: SinkConfig,
    payload_cols: list[str],
) -> DataFrame:
    """Collapse ``events`` to one row per ``cfg.pk_fields``.

    Output: pk fields + ``__upsert`` (payload struct of the latest
    non-delete event incl. its op, or NULL), ``__delete`` (struct of
    the winning delete event's *retained* fields — see the module
    docstring — or NULL), ``__upsert_off`` /
    ``__delete_off`` (their offsets), ``__first_del_off`` (earliest
    delete offset regardless of position, or NULL).

    ``payload_cols`` are the event columns to carry (the target table's
    data columns minus engine-managed marker/audit columns); events
    lacking one (older schema versions) contribute NULL.

    Width matters: the structs exclude the pk fields (they are the
    grouping keys) and the delete structs carry only the soft-delete
    retain fields — the aggregate is sort-based (struct buffers), so
    every byte is sorted and shuffled once.
    """
    op = F.col(cfg.op_column)
    off = F.col(cfg.offset_column)
    is_del = op == F.lit(cfg.op_delete_value)

    keys = list(cfg.pk_fields)
    payload, del_payload = _payload_structs(events, cfg, payload_cols)

    del_entry = F.when(
        is_del, F.struct(off.alias("off"), del_payload.alias("row"))
    )
    aggs = [
        F.max_by(payload, F.when(~is_del, off)).alias(UPSERT_STRUCT),
        F.max(F.when(~is_del, off)).alias(UPSERT_OFF),
        # collect_list skips NULLs → deletes only; sorted by offset
        F.array_sort(F.collect_list(del_entry)).alias(DELETE_LIST),
        F.min(F.when(is_del, off)).alias(FIRST_DEL_OFF),
    ]

    return _winner_select(events.groupBy(*keys).agg(*aggs), cfg)


def collapse_deletes_by_key(
    events: DataFrame, cfg: SinkConfig
) -> DataFrame:
    """Collapse delete events to one row per ``delete_as_update_key``
    (used when the delete match key is a proper pk *subset* — the
    reference's ``delete.as.update.key=RECID`` with pk [RECID,V_M,V_S]:
    one delete then soft-deletes every row sharing the subset key).

    Output: delete-key fields + ``__delete_list`` — the offset-sorted
    list of (offset, retain-field struct) delete events. The list is
    kept whole because the winning delete differs per *target row*: a
    row last upserted at offset o is marked by the
    :func:`..lake.mor.winning_delete` of the deletes with offset > o,
    and rows sharing the subset key have different o. Bounded by
    deletes per subset key per micro-batch.
    """
    op = F.col(cfg.op_column)
    off = F.col(cfg.offset_column)
    keys = list(cfg.delete_as_update_key)
    dels = events.filter(op == F.lit(cfg.op_delete_value))
    retained = [
        (F.col(c) if c in events.columns else F.lit(None)).alias(c)
        for c in cfg.delete_retain_fields
        if c not in keys
    ]
    del_payload = F.struct(*retained, op.alias(EVENT_OP))
    return dels.groupBy(*keys).agg(
        F.array_sort(
            F.collect_list(
                F.struct(off.alias("off"), del_payload.alias("row"))
            )
        ).alias(DELETE_LIST),
    )


def collapse_last_writer_window(
    events: DataFrame, cfg: SinkConfig, payload_cols: list[str]
) -> DataFrame:
    """Window/row_number formulation of the same collapse — kept as a
    cross-check implementation for tests (sorts within key partitions;
    no partial aggregation, so strictly worse at scale than
    :func:`collapse_last_writer`). It always keeps the earliest delete
    after the upsert, the winner under a guard on the marker column
    alone.
    """
    from pyspark.sql import Window as W

    keys = list(cfg.pk_fields)
    off = F.col(cfg.offset_column)
    is_del = F.col(cfg.op_column) == F.lit(cfg.op_delete_value)
    payload, del_payload = _payload_structs(events, cfg, payload_cols)

    tagged = events.withColumn("__is_del", is_del)
    wk = W.partitionBy(*keys)
    # latest upsert per key, visible on every row
    u_off = F.max(F.when(~is_del, off)).over(wk)
    first_del = F.min(F.when(is_del, off)).over(wk)
    ranked = tagged.withColumn("__u_off", u_off).withColumn(
        "__first_del", first_del
    )
    w_up = W.partitionBy(*keys, "__is_del").orderBy(off.desc())
    # winner delete = earliest AFTER the latest upsert → ascending rank
    # over the filtered delete set
    w_del = W.partitionBy(*keys).orderBy(off.asc())
    ups = (
        ranked.filter(~F.col("__is_del"))
        .withColumn("__rn", F.row_number().over(w_up))
        .filter(F.col("__rn") == 1)
        .select(
            *keys,
            payload.alias(UPSERT_STRUCT),
            off.alias(UPSERT_OFF),
            F.col("__first_del").alias(FIRST_DEL_OFF),
        )
    )
    dels = (
        ranked.filter(F.col("__is_del"))
        .filter(off > F.coalesce(F.col("__u_off"), F.lit(_LONG_MIN)))
        .withColumn("__rn", F.row_number().over(w_del))
        .filter(F.col("__rn") == 1)
        .select(
            *keys,
            del_payload.alias(DELETE_STRUCT),
            off.alias(DELETE_OFF),
            F.col("__first_del").alias("__fd2"),
        )
    )
    joined = ups.join(dels, keys, "full_outer")
    return joined.select(
        *keys,
        F.col(UPSERT_STRUCT),
        F.col(UPSERT_OFF),
        F.col(DELETE_STRUCT),
        F.col(DELETE_OFF),
        F.coalesce(F.col(FIRST_DEL_OFF), F.col("__fd2")).alias(
            FIRST_DEL_OFF
        ),
    )
