"""Time-series joins Spark lacks as built-ins: AS-OF and RANGE.

**As-of join** — for each left row, the single most recent right row
of the same key at-or-before its timestamp (pandas ``merge_asof`` /
kdb ``aj`` / DuckDB ``ASOF JOIN`` semantics). The naive SQL is a
per-row correlated subquery; the scalable Spark shape used here is
the UNION + WINDOW trick: tag both sides, union them, and let
``last(col, ignorenulls=True)`` over a key-partitioned window
ordered by ``(ts, side, tiebreak)`` carry each right row's payload
forward to every later left row. ONE shuffle on the key, no join
explosion, no Python — whole-stage codegen end to end. Ties at equal
timestamps match (the right side sorts before the left), and a
``tiebreak`` column makes duplicate right timestamps deterministic
(the greatest tiebreak wins, matching argmax-(ts, tiebreak)).

**Range join** — points against intervals. Spark executes a raw
``BETWEEN`` join as BroadcastNestedLoop (quadratic blowup); the
scale shape is BINNING: each interval explodes into the fixed-width
bins it overlaps, points compute their bin, and the join becomes an
EQUI-join on ``(key, bin)`` with an exact residual filter — shuffle
volume follows rows × (interval span / bin width), never the cross
product. Pick ``bin_width`` ≈ the typical interval length so most
intervals explode into ~2 bins.

Both are (a) in the engine because a CDC/event lake constantly asks
"which dimension version was current when this event happened" and
"which events fall inside this incident window", and (b) oracled
against declarative SQL (argmax subquery / BETWEEN join) in the
driver harness.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    tolerance: float | None = None,
    tiebreak: str | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: every left row + the closest right row per ``on``
    key — ``direction='backward'`` (default) matches the LATEST right
    row with ``right_ts <= left_ts``, ``'forward'`` the EARLIEST with
    ``right_ts >= left_ts`` (NULL-filled when none). Same scan, same
    single shuffle: forward just reverses the window's time order.

    ``right_cols`` — right payload columns to carry (default: all
    non-key, non-ts). ``tolerance`` — maximum ``|left_ts - right_ts|``
    (seconds); matches further away are nulled out. ``tiebreak`` —
    right column deciding among equal-timestamp right rows (greatest
    wins); required for determinism when duplicates are possible.
    Carried columns are renamed ``<col><suffix>`` (and the matched
    timestamp is exposed as ``<right_ts><suffix>``, epoch seconds).
    """
    if not on:
        raise ValueError("asof_join needs at least one key column")
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be backward|forward")
    rcols = right_cols or [
        c for c in right.columns if c not in (*on, right_ts)
    ]
    out_names = {c: f"{c}{suffix}" for c in [*rcols, right_ts]}
    # fail fast on output-name collisions (like range_join_bins): a
    # left column named like a generated `<col><suffix>` output would
    # produce duplicate/ambiguous columns downstream, and `__`-
    # prefixed left columns collide with the join's internal tags
    clash = sorted(set(out_names.values()) & set(left.columns))
    if clash:
        raise ValueError(
            f"asof_join output column(s) {clash} collide with existing "
            f"left columns; rename them or pass a different suffix"
        )
    reserved = sorted(
        c for c in left.columns if c in ("__ts", "__side", "__r", "__m")
    )
    if reserved:
        raise ValueError(
            f"left column(s) {reserved} collide with asof_join's "
            f"reserved internal names; rename them first"
        )

    ts_d = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    lpay = [c for c in left.columns if c not in on]
    if tiebreak is not None and tiebreak not in right.columns:
        raise ValueError(
            f"tiebreak {tiebreak!r} is not a right column"
        )
    # the whole matched right row travels as ONE struct: carrying each
    # payload column independently with last(ignorenulls) would let a
    # NULL in the matched row be backfilled by a STALE value from an
    # older right row — a torn output row mixing two right rows. The
    # tiebreak rides in the struct even when it is not a carried
    # output column.
    struct_cols = list(rcols)
    if tiebreak is not None and tiebreak not in struct_cols:
        struct_cols.append(tiebreak)
    r_struct = F.struct(
        ts_d(right_ts).alias("__mts"),
        *[F.col(c).alias(c) for c in struct_cols],
    )
    # a right row whose timestamp is NULL — or fails the cast — would
    # sort before/after everything and become a bogus fallback match;
    # filter on the CASTED value, not the raw column
    r_tag = right.filter(ts_d(right_ts).isNotNull()).select(
        *on,
        ts_d(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lpay],
        r_struct.alias("__r"),
    )
    # the left tag's NULL struct needs the right struct's exact type
    # (the DataType object — the dtypes DDL string can't round-trip
    # column names with special characters)
    l_tag = left.select(
        *on,
        ts_d(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in lpay],
        F.lit(None).cast(r_tag.schema["__r"].dataType).alias("__r"),
    )
    # tiebreak orders by the column's OWN type (a cast would null out
    # non-numeric tiebreaks and silently lose determinism)
    tb_order = (
        [F.col("__r")[tiebreak].asc_nulls_first()]
        if tiebreak is not None
        else []
    )
    u = l_tag.unionByName(r_tag)
    # right rows order before left at equal ts (at-or-before /
    # at-or-after matches); among equal right ts the greatest
    # tiebreak lands last and wins. Forward is the same scan with the
    # time axis reversed: "preceding in descending ts" = every right
    # row at-or-after the left row, and last() is then the SMALLEST
    # such ts — the earliest upcoming right row. NULLS FIRST in both
    # directions: a left row with a NULL timestamp must see NO right
    # rows (desc defaults to NULLS LAST, which would hand it the
    # whole right side).
    ts_order = (
        F.col("__ts").asc_nulls_first()
        if direction == "backward"
        else F.col("__ts").desc_nulls_first()
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(ts_order, F.col("__side").asc(), *tb_order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last("__r", ignorenulls=True).over(w)
    res = (
        u.select(*on, "__ts", "__side", *lpay,
                 matched.alias("__m"))
        .filter(F.col("__side") == 1)
        .select(
            *on, "__ts", "__side", *lpay,
            *[F.col("__m")[c].alias(out_names[c]) for c in rcols],
            F.col("__m")["__mts"].alias(out_names[right_ts]),
        )
    )
    if tolerance is not None:
        gap = (
            F.col("__ts") - F.col(out_names[right_ts])
            if direction == "backward"
            else F.col(out_names[right_ts]) - F.col("__ts")
        )
        stale = F.col(out_names[right_ts]).isNull() | (gap > tolerance)
        res = res.select(
            *on, "__ts", "__side", *lpay,
            *[
                F.when(stale, F.lit(None)).otherwise(F.col(
                    out_names[c]
                )).alias(out_names[c])
                for c in rcols
            ],
            F.when(stale, F.lit(None)).otherwise(
                F.col(out_names[right_ts])
            ).alias(out_names[right_ts]),
        )
    # the original left_ts column rides along in lpay untouched; the
    # matched right timestamp is exposed as epoch-seconds double
    # (exact for microsecond timestamps — 1.7e15 < 2^53)
    return res.drop("__ts", "__side")


def range_join_bins(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_ts: str,
    start_ts: str,
    end_ts: str,
    bin_width: float = 300.0,
    how: str = "inner",
) -> DataFrame:
    """Join points to the ``[start, end)`` intervals containing them,
    as an EQUI-join on ``(on…, bin)``: intervals explode into the
    fixed-width epoch bins they overlap (``sequence`` — JVM-side),
    points compute one bin, the residual containment filter runs
    after the hash join. ``how='left'`` keeps unmatched points with
    NULL interval columns. Interval columns keep their names — they
    must not collide with point columns."""
    if how not in ("inner", "left"):
        raise ValueError("how must be inner|left")
    overlap = (set(intervals.columns) - set(on)) & set(points.columns)
    if overlap:
        raise ValueError(
            f"interval column(s) {sorted(overlap)} collide with point "
            f"columns; rename before joining"
        )
    ts_d = lambda c: F.col(c).cast("timestamp").cast("double")  # noqa: E731
    p = points.withColumn(
        "__bin", F.floor(ts_d(point_ts) / bin_width).cast("long")
    ).alias("__p")
    iv = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(ts_d(start_ts) / bin_width).cast("long"),
                # end is exclusive, but a point in the end bin can
                # still be < end; ceil via floor of (end - epsilon)
                # is wrong for exact multiples — emitting the end bin
                # and letting the residual filter decide is exact
                F.floor(ts_d(end_ts) / bin_width).cast("long"),
            )
        ),
    ).alias("__iv")
    # both sides may come from one scan (same attribute ids): compare
    # alias-qualified columns so the key predicate is not a self-equality
    pc = lambda c: F.col(f"__p.`{c}`")  # noqa: E731
    ic = lambda c: F.col(f"__iv.`{c}`")  # noqa: E731
    cond = [pc(k) == ic(k) for k in [*on, "__bin"]]
    t = ts_d(f"__p.`{point_ts}`")
    contained = (t >= ts_d(f"__iv.`{start_ts}`")) & (
        t < ts_d(f"__iv.`{end_ts}`")
    )
    if how == "inner":
        j = p.join(iv, cond, "inner").filter(contained)
    else:
        # left: containment must live IN the join condition — a
        # post-filter would drop the unmatched rows a left join is
        # asked to keep
        j = p.join(iv, [*cond, contained], "left")
    return j.select(
        *[pc(c) for c in points.columns],
        *[ic(c) for c in intervals.columns if c not in on],
    )
