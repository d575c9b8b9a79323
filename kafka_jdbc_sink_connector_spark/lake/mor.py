"""Merge-on-read resolution (the Hudi MOR / Iceberg v2 delete-file
idea, rebuilt on the engine's manifest log).

Copy-on-write rewrites every affected bucket per micro-batch; with
Zipf-keyed CDC most buckets are touched every batch, so steady-state
COW rewrites nearly the whole table per batch — fatal write
amplification at 100 TB. In MOR mode a batch commit writes only
**delta files**: the collapsed change set (≤1 row per key), bucketed
like the base data. Readers merge base + deltas per key; `compact()`
folds deltas back into base files, bounding read amplification.

Delta row layout (per key, per commit):

* the pk fields (top level, join/group keys),
* ``__seq`` — the committing snapshot version (total order of batches),
* ``__ups`` — the fully materialized target row (non-key columns,
  marker/audit included) the upsert would have written, or NULL,
* ``__ups_off`` — the upsert's batch offset (intra-batch order),
* ``__del`` — the soft-delete overlay values (marker, audit, retain
  fields; other columns NULL), or NULL,
* ``__del_off`` — the delete's batch offset,
* ``__bucket`` — same hash bucket as the base layout.

Resolution (per key, position = (seq, offset), base row = (-1,
-inf)) is a fold, a join and a column-level rule:
:func:`fold_deltas` folds a key's delta rows across commits (readers
only), :func:`base_join` joins that to the base rows on the pk, and
:func:`resolve_rule` is the rule below over one joined row;
:func:`resolve` is the join plus the rule. Subset deletes split the
same way: :func:`fold_sdels`, a left join on the subset key, and
:func:`subset_overlay_rule` make :func:`apply_subset_overlays`. The
rules only read columns, so the change feed (``lake/changes.py``)
runs them twice over one joined row — over the folds from before a
commit and over the full ones — to get a key's old and new state
without a second join. The copy-on-write merge
(``operators/merge.py``) runs the same :func:`resolve` over one
batch's delta rows (:func:`batch_keys`, no aggregate) and rewrites
the buckets, so both layouts and the feed share one rule set:

1. ``U`` = the latest delta upsert by position; valid only if the
   insert mode allows it (UPDATE mode needs a base row to match).
2. ``P`` = ``U`` if valid else the base row; no ``P`` → no output row
   (deletes match nothing).
3. ``D*`` = the delete that ends the run of deletes positioned after
   ``P`` (:func:`winning_delete`): the reference applies them in order
   while its "not already deleted" guard passes
   (``BufferedRecords.java:287-303``), so ``D*`` is the first one whose
   resulting row fails the guard — with the usual marker guard, the
   earliest — else the last one. Hard mode takes the earliest.
4. soft mode: overlay ``D*``'s marker/audit/retain onto ``P`` iff the
   guard passes on ``P``'s values; hard mode: drop the row.

All resolution is declarative (aggregate + one join + array
expressions) — no Python, no windows; the delta aggregate reuses the
pk hash partitioning and deltas stay small between compactions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL

_LONG_MIN = -(2**63)

DELTA_SEQ = "__seq"
DELTA_UPS = "__ups"
DELTA_UPS_OFF = "__ups_off"
DELTA_DEL = "__del"
DELTA_DEL_OFF = "__del_off"
#: earliest delete offset in the batch for the key, regardless of its
#: position relative to the upsert — only consulted in hard-delete
#: resolution, where a delete *preceding* the batch's latest upsert
#: still removed the pre-existing row (and, under insert_mode=update,
#: kills the upsert too: UPDATE matches nothing after the DELETE)
DELTA_FIRST_DEL_OFF = "__first_del_off"


def row_struct_fields(schema: T.StructType, key_fields: list[str]) -> list[T.StructField]:
    """Non-key target columns — the payload of the __ups/__del structs."""
    return [f for f in schema.fields if f.name not in set(key_fields)]


def row_struct_type(schema: T.StructType, key_fields: list[str]) -> T.StructType:
    """The __ups/__del struct type: the non-key columns, all nullable."""
    return T.StructType(
        [T.StructField(f.name, f.dataType, True)
         for f in row_struct_fields(schema, key_fields)]
    )


def delta_schema(schema: T.StructType, key_fields: list[str]) -> T.StructType:
    """Read schema for delta files at the current table schema (older
    files null-backfill missing nested fields, same as base files)."""
    row_t = row_struct_type(schema, key_fields)
    fields = [schema[k] for k in key_fields]
    fields += [
        T.StructField(DELTA_SEQ, T.LongType(), False),
        T.StructField(DELTA_UPS, row_t, True),
        T.StructField(DELTA_UPS_OFF, T.LongType(), True),
        T.StructField(DELTA_DEL, row_t, True),
        T.StructField(DELTA_DEL_OFF, T.LongType(), True),
        T.StructField(DELTA_FIRST_DEL_OFF, T.LongType(), True),
        T.StructField(BUCKET_COL, T.IntegerType(), True),
    ]
    return T.StructType(fields)


#: per-key resolution input, one row per key (see :func:`resolve`):
#: ``__u`` — the latest upsert as (seq, off, row), or NULL; ``__dels``
#: — the key's delete entries (seq, off, row), sorted by position;
#: ``__dbucket`` — the key's bucket
KEY_UPS = "__u"
KEY_DELS = "__dels"
KEY_BUCKET = "__dbucket"
#: the pre-commit fold and the has-a-new-entry flag of
#: ``fold_deltas(new=...)``
KEY_UPS_PRE = "__u_pre"
KEY_DELS_PRE = "__dels_pre"
KEY_NEW = "__new"


def _entry(off: str, row: str, present: Column | None = None) -> Column:
    """One delta row's (seq, off, row) entry, NULL when the row has no
    such event (gated on the offset, not the struct: a hard-mode
    delete carries a NULL overlay struct but a real position)."""
    return F.when(
        F.col(off).isNotNull() if present is None else present,
        F.struct(
            F.col(DELTA_SEQ).alias("seq"),
            F.col(off).alias("off"),
            F.col(row).alias("row"),
        ),
    )


def _entries(hard: bool) -> tuple[Column, list[Column]]:
    """A delta row's upsert entry and its delete entries in position
    order. Each delta row contributes its batch's winning delete (see
    ``operators/dedup.py``). In hard mode a delete *preceding*
    the latest upsert also matters (it removed the pre-existing row
    before the upsert re-inserted — or, under insert_mode=update,
    failed to re-insert), so the batch's ``__first_del_off`` is a
    second, earlier entry; its overlay struct is NULL, which is fine —
    hard mode never reads it."""
    ups = _entry(DELTA_UPS_OFF, DELTA_UPS)
    winner = _entry(DELTA_DEL_OFF, DELTA_DEL)
    if not hard:
        return ups, [winner]
    first_off = F.col(DELTA_FIRST_DEL_OFF)
    first = _entry(
        DELTA_FIRST_DEL_OFF, DELTA_DEL,
        first_off.isNotNull() & ~first_off.eqNullSafe(F.col(DELTA_DEL_OFF)),
    )
    return ups, [first, winner]


def _present(entries: list[Column]) -> Column:
    return F.filter(F.array(*entries), lambda x: x.isNotNull())


def _fold(meta: dict, keep: Column | None = None) -> tuple[Column, Column]:
    """The per-key fold aggregates (latest upsert, sorted delete
    entries), over the delta rows where ``keep`` holds (all if None)."""
    ups, dels = _entries(bool(meta.get("hard")))
    if keep is not None:
        ups = F.when(keep, ups)
        dels = [F.when(keep, d) for d in dels]
    if len(dels) == 1:
        dels_agg = F.array_sort(F.collect_list(dels[0]))
    else:
        dels_agg = F.array_sort(F.flatten(F.collect_list(_present(dels))))
    return F.max(ups), dels_agg


def fold_deltas(
    deltas: DataFrame, keys: list[str], meta: dict,
    new: Column | None = None,
) -> DataFrame:
    """Per-key fold of delta files (any number of rows per key, across
    commits) → the :func:`resolve` input: the latest upsert by
    lexicographic max over (seq, off, row) — (seq, off) is unique per
    key, so the row never ties — and every delete entry, sorted. A
    declarative aggregate (partial aggregation map-side, reuses the pk
    hash partitioning for the join).

    ``new`` (a boolean over the delta rows, for the change feed) adds
    a second fold side by side, over the rows where it is false
    (``__u_pre``, ``__dels_pre``: the key's input before one commit),
    and ``__new``: whether the key has a row where it is true."""
    u, dels = _fold(meta)
    aggs = [u.alias(KEY_UPS), dels.alias(KEY_DELS),
            F.max(BUCKET_COL).alias(KEY_BUCKET)]
    if new is not None:
        u_pre, dels_pre = _fold(meta, ~new)
        aggs += [u_pre.alias(KEY_UPS_PRE), dels_pre.alias(KEY_DELS_PRE),
                 F.max(new).alias(KEY_NEW)]
    return deltas.groupBy(*keys).agg(*aggs)


def batch_keys(delta_rows: DataFrame, keys: list[str], meta: dict) -> DataFrame:
    """One batch's delta rows (with ``__seq``), already one per key →
    the :func:`resolve` input without an aggregate: a batch's own
    entries are already in position order."""
    ups, dels = _entries(bool(meta.get("hard")))
    return delta_rows.select(
        *keys,
        ups.alias(KEY_UPS),
        _present(dels).alias(KEY_DELS),
        F.col(BUCKET_COL).alias(KEY_BUCKET),
    )


def guard_passes(meta: dict, col) -> Column:
    """The "not already deleted" guard over a row's values (``col(name)``
    → Column, or a plain value known when the plan is built),
    three-valued like the reference's generated ``col != value`` SQL
    (``BufferedRecords.java:287-303``): an OR of disjuncts where a NULL
    guard value passes iff ``guard_null_is_not_null`` and the column is
    not NULL, and a NULL column blocks a ``!= value`` disjunct."""
    null_passes = bool(meta.get("guard_null_is_not_null"))
    ok = F.lit(False)
    for c, value in meta.get("guard", []):
        cur = col(c)
        if not isinstance(cur, Column):  # fold a known value
            part = F.lit(cur is not None and (
                cur != value if value is not None else null_passes
            ))
        elif value is None:
            part = cur.isNotNull() if null_passes else F.lit(False)
        else:
            part = cur != F.lit(value)
        ok = ok | part
    return ok


def winning_delete(dels: Column, meta: dict, result_col) -> Column:
    """The delete that wins a position-ordered run of soft deletes
    applied to one row. Each delete applies while the guard passes on
    the row so far, and a delete's resulting row takes the overlay
    columns from that delete, so the winner is the first delete whose
    resulting row fails the guard, else the last one (NULL for no
    deletes). ``result_col(d, c)`` is column ``c`` of the row after
    delete ``d``."""
    stops = F.filter(
        dels,
        lambda d: ~F.coalesce(
            guard_passes(meta, lambda c: result_col(d, c)), F.lit(False)
        ),
    )
    return F.coalesce(F.get(stops, 0), F.get(dels, F.size(dels) - 1))


#: subset-delete delta layout (``delete_as_update_key`` ⊂ pk): one row
#: per subset key per commit, carrying the batch's offset-sorted delete
#: list. Kept separate from the pk-keyed deltas because one subset
#: delete hits EVERY row sharing the subset key — resolution is a join
#: on the subset key over the already pk-resolved rows, and the winning
#: delete differs per row (it follows that row's last upsert). The
#: config guarantees the subset key contains the bucket key, so sdel
#: files bucket exactly like the rows they affect.
SDEL_LIST = "__sdlist"


def sdel_schema(schema: T.StructType, snap_key_fields, sdel_key) -> T.StructType:
    entry = T.StructType(
        [T.StructField("off", T.LongType(), True),
         T.StructField("row", row_struct_type(schema, list(snap_key_fields)),
                       True)]
    )
    fields = [schema[k] for k in sdel_key]
    fields += [
        T.StructField(DELTA_SEQ, T.LongType(), False),
        T.StructField(SDEL_LIST, T.ArrayType(entry), True),
        T.StructField(BUCKET_COL, T.IntegerType(), True),
    ]
    return T.StructType(fields)


#: resolved-row position column (seq, off) — appended by
#: resolve(carry_pos=True) for the subset-delete overlay pass
P_POS = "__p_pos"

#: per-subset-key fold of the sdel entries (see :func:`fold_sdels`)
SD_ENTRIES = "__sd"
SD_ENTRIES_PRE = "__sd_pre"
SD_NEW = "__sd_new"


def fold_sdels(
    sdels: DataFrame, skey: list[str], new: Column | None = None
) -> DataFrame:
    """Per subset key: every sdel entry (seq, off, row), sorted by
    position, with the key columns renamed ``sd_<k>``. ``new`` works as
    in :func:`fold_deltas`: a second list of the entries where it is
    false (``__sd_pre``) and ``__sd_new``."""
    entries = F.transform(
        F.col(SDEL_LIST),
        lambda e: F.struct(
            F.col(DELTA_SEQ).alias("seq"),
            e["off"].alias("off"),
            e["row"].alias("row"),
        ),
    )
    fold = lambda e: F.array_sort(F.flatten(F.collect_list(e)))  # noqa: E731
    aggs = [fold(entries).alias(SD_ENTRIES)]
    if new is not None:
        aggs += [fold(F.when(~new, entries)).alias(SD_ENTRIES_PRE),
                 F.max(new).alias(SD_NEW)]
    return sdels.groupBy(*skey).agg(*aggs).withColumnsRenamed(
        {k: f"sd_{k}" for k in skey}
    )


def subset_overlay_rule(
    meta: dict, sd: Column, p_pos: Column, col, cols: list[str]
) -> tuple[dict[str, Column], Column]:
    """The subset-delete overlay of one pk-resolved row: ``sd`` its
    subset key's sorted entries (NULL for none), ``p_pos`` its last
    upsert's position, ``col(name)`` its columns → (its ``cols`` after
    the overlay, by name; whether the overlay drops it)."""
    applicable = F.filter(
        sd,
        lambda e: F.struct(e["seq"].alias("seq"), e["off"].alias("off"))
        > p_pos,
    )
    same = {c: col(c) for c in cols}
    if meta.get("hard"):
        matched = (
            F.coalesce(F.size(sd) > 0, F.lit(False))
            if meta.get("upd_only")
            else F.get(applicable, 0).isNotNull()
        )
        return same, matched
    if not meta.get("soft"):
        return same, F.lit(False)  # delete mode none: sdels never written
    overlay_cols = set(meta.get("overlay_cols", []))
    d0 = winning_delete(
        applicable, meta,
        lambda d, c: d["row"][c] if c in overlay_cols else col(c),
    )
    overlay = d0.isNotNull() & guard_passes(meta, col)
    return {
        c: F.when(overlay, d0["row"][c]).otherwise(col(c))
        if c in overlay_cols else col(c)
        for c in cols
    }, F.lit(False)


def apply_subset_overlays(
    resolved: DataFrame, sdels: DataFrame, snap, meta: dict
) -> DataFrame:
    """Overlay subset-key deletes (sdel rows with ``__seq``) on
    pk-resolved rows (``resolved`` must carry ``__p_pos`` from
    :func:`resolve`): a left join on the subset key
    (:func:`fold_sdels`), then :func:`subset_overlay_rule` per row. The
    winning delete is the :func:`winning_delete` of the sdel entries
    positioned after the row's last upsert; the not-already-deleted
    guard is also checked against the row's CURRENT marker (a row
    already deleted in base stays untouched). Hard mode drops matched
    rows; under insert_mode=update any matching delete drops the row
    (updates never re-create it)."""
    skey = list(meta.get("sdel_key") or [])
    if not skey:
        return resolved.drop(P_POS)
    agg = fold_sdels(sdels, skey)
    cond = [resolved[k] == agg[f"sd_{k}"] for k in skey]
    j = resolved.join(agg, cond, "left")
    out_cols = [f.name for f in snap.schema.fields] + [BUCKET_COL]
    row, drop = subset_overlay_rule(
        meta, F.col(SD_ENTRIES), F.col(P_POS), F.col, out_cols
    )
    return j.filter(~drop).select(*[e.alias(c) for c, e in row.items()])


def resolve_rule(
    meta: dict, snap, u: Column, dels: Column, b_exists: Column, b_col
) -> tuple[dict[str, Column], Column, Column]:
    """The per-row rule (steps 1-4 of the module docstring) over one
    joined row: ``u`` and ``dels`` its fold (:data:`KEY_UPS`,
    :data:`KEY_DELS` or their pre-commit twins), ``b_exists`` whether a
    base row joined, ``b_col(name)`` the base row's columns; pk columns
    are read as ``coalesce(<pk>, base pk)``. Returns (the resolved
    row's columns by name in ``snap.schema`` order, cast; whether
    the row is absent; its (seq, offset) position)."""
    soft = bool(meta.get("soft"))
    hard = bool(meta.get("hard"))
    upd_only = bool(meta.get("upd_only"))
    overlay_cols = set(meta.get("overlay_cols", []))
    keys = list(snap.key_fields)

    pos = lambda s, o: F.struct(s.alias("seq"), o.alias("off"))  # noqa: E731

    u_valid = u.isNotNull()
    if upd_only:
        u_valid = u_valid & b_exists
        if hard:
            # a hard delete kills the key for good in UPDATE mode (no
            # re-insert possible) — later updates match nothing
            u_valid = u_valid & ~F.coalesce(
                F.exists(
                    dels,
                    lambda d: pos(d["seq"], d["off"])
                    < pos(u["seq"], u["off"]),
                ),
                F.lit(False),
            )
    p_exists = u_valid | b_exists
    p_pos = F.when(u_valid, pos(u["seq"], u["off"])).otherwise(
        pos(F.lit(-1).cast("long"), F.lit(_LONG_MIN))
    )
    after = F.filter(dels, lambda d: pos(d["seq"], d["off"]) > p_pos)

    def p_col(c: str):
        if c in keys:
            return F.coalesce(F.col(c), b_col(c))
        return F.when(u_valid, u["row"][c]).otherwise(b_col(c))

    if soft:
        d_win = winning_delete(
            after, meta,
            lambda d, c: (d["row"][c] if c in overlay_cols
                          and c not in keys else p_col(c)),
        )
        overlay = d_win.isNotNull() & guard_passes(meta, p_col)
        drop = ~p_exists
    else:
        d_win = F.get(after, 0)  # NULL when no delete follows P
        overlay = F.lit(False)
        drop = ~p_exists | (F.lit(hard) & d_win.isNotNull())

    out = {}
    for f in snap.schema.fields:
        c = f.name
        expr = p_col(c)
        if soft and c in overlay_cols and c not in keys:
            expr = F.when(overlay, d_win["row"][c]).otherwise(expr)
        out[c] = expr.cast(f.dataType)
    return out, drop, p_pos


def base_join(base: DataFrame, keyed: DataFrame, keys: list[str],
              how: str = "full_outer") -> DataFrame:
    """``base`` rows (columns renamed ``b_<name>``, plus
    ``__b_exists``) joined to ``keyed`` on the pk — the input of
    :func:`resolve_rule`."""
    b = base.select(
        *[F.col(c).alias(f"b_{c}") for c in base.columns],
        F.lit(True).alias("__b_exists"),
    )
    return b.join(keyed, [b[f"b_{k}"] == keyed[k] for k in keys], how)


def resolve(
    base: DataFrame | None, keyed: DataFrame, snap, meta: dict,
    carry_pos: bool = False,
) -> DataFrame:
    """Per-row resolution of ``keyed`` (one row per key, from
    :func:`fold_deltas` or :func:`batch_keys`) over ``base`` (rows with
    ``__bucket``, at position (-1, LONG_MIN); None when the buckets hold
    no rows — then there is no join) → the resolved rows, with
    ``__bucket``: :func:`base_join`, then :func:`resolve_rule` per row.
    ``meta`` is the resolution spec (``snap.mor_meta`` for readers, the
    writer's config for a copy-on-write merge). ``carry_pos`` appends
    ``__p_pos`` — each output row's (seq, offset) position — for the
    subset-delete overlay pass."""
    if base is None:
        j = keyed
        b_exists = F.lit(False)
        b_col = lambda c: F.lit(None)  # noqa: E731
    else:
        j = base_join(base, keyed, list(snap.key_fields))
        b_exists = F.col("__b_exists").isNotNull()
        b_col = lambda c: F.col(f"b_{c}")  # noqa: E731
    row, drop, p_pos = resolve_rule(
        meta, snap, F.col(KEY_UPS), F.col(KEY_DELS), b_exists, b_col
    )
    out = [e.alias(c) for c, e in row.items()]
    out.append(
        F.coalesce(b_col(BUCKET_COL), F.col(KEY_BUCKET)).alias(BUCKET_COL)
    )
    if carry_pos:
        out.append(p_pos.alias(P_POS))
    return j.filter(~drop).select(*out)
