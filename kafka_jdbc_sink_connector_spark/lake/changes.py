"""Change data feed: what changed between two table versions.

The Delta-CDF / Iceberg-changelog idea rebuilt on the engine's
snapshot log: downstream consumers (index builders, caches, training
shard refreshers) ask "give me every row that changed since version V"
instead of rescanning the table. The reference has no equivalent — its
JDBC target is the end of the line — but any lakehouse user of this
engine expects it.

Implementation: both versions stay readable (snapshots are immutable
until vacuum), so the feed is a key-wise full-outer diff of the two
resolved states:

* key only in the new version   → ``insert`` (post-image)
* key in both, any column differs → ``update`` (post-image)
* key only in the old version   → ``delete`` (pre-image — the only
  image a hard-deleted row has; soft deletes surface as ``update``
  because the row still exists with its marker flipped)

This is O(old + new) — correct for any mode and any distance. The
full-outer join does shuffle both sides (plain parquet reads don't
expose the bucket layout to Catalyst as a join distribution); the
scale lever is one level up: manifest-level bucket pruning restricts
both scans to buckets whose file lists differ, so feed cost follows
changed data, not table size. For adjacent delta (MOR) versions — subset-delete
commits included — :func:`table_changes` takes a cheaper route
automatically: the commit's delta/sdel files list exactly the changed
keys (resp. subsets), so only they and the OLD state of their buckets
are read (no resolve of the new snapshot); see
:func:`_adjacent_delta_changes`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

CHANGE_TYPE = "_change_type"
FROM_VERSION = "_from_version"
TO_VERSION = "_to_version"


def table_changes(
    table: LakeTable,
    from_version: int,
    to_version: int | None = None,
    compare_cols: list[str] | None = None,
    include_preimages: bool = False,
) -> DataFrame:
    """Rows whose state differs between ``from_version`` and
    ``to_version`` (default: current), as post-images (pre-image for
    hard deletes) + ``_change_type`` in {insert, update, delete} +
    the version bounds. Unchanged rows are not emitted.

    ``compare_cols`` limits which non-key columns count as "changed"
    (default: all). Typical use: exclude the audit timestamp, which
    moves on every re-application — e.g. an at-least-once redelivery
    re-writes identical values with a fresh audit ts, which most
    consumers don't want to see as an update.

    ``include_preimages=True`` switches updates to the Delta-CDF
    two-row scheme — ``update_preimage`` (the old values) followed by
    ``update_postimage`` — which consumers that must UNDO the old row
    need (incremental aggregate maintenance subtracts the pre-image;
    a group-by column change must debit the OLD group, which the
    post-image alone cannot name). Free in both feed paths: the diff
    join already holds both sides of every update.

    Contract (checked): both versions share the bucket layout and the
    old schema's columns are a subset of the new one's (the engine's
    evolution is add-only — a column REMOVED between the versions
    would otherwise silently drop out of both comparison and images).
    Key presence per side is detected via the first pk column being
    non-null, which holds because the write path quarantines events
    with null keys before they ever reach a snapshot
    (``operators/validate.py``).
    """
    to_version = table.version if to_version is None else to_version
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} > to_version {to_version}"
        )
    old_snap = table._read_version(from_version)
    new_snap = table._read_version(to_version)
    if old_snap.n_buckets != new_snap.n_buckets:
        raise ValueError(
            f"bucket layout changed between versions ({old_snap.n_buckets}"
            f" -> {new_snap.n_buckets} buckets); the bucket-pruned diff "
            f"is only valid within one layout"
        )
    dropped = {f.name for f in old_snap.schema.fields} - {
        f.name for f in new_snap.schema.fields
    }
    if dropped:
        raise ValueError(
            f"columns {sorted(dropped)} exist in v{from_version} but not "
            f"v{to_version}; the change feed compares the new schema's "
            f"columns and cannot represent removed ones"
        )
    keys = list(new_snap.key_fields)
    cols = [f.name for f in new_snap.schema.fields]
    non_keys = [c for c in cols if c not in keys]
    cmp_cols = non_keys if compare_cols is None else [
        c for c in non_keys if c in set(compare_cols)
    ]
    new_files = _new_commit_files(old_snap, new_snap)
    if new_files is not None:
        return _adjacent_delta_changes(
            table, old_snap, new_snap, *new_files,
            keys=keys, cols=cols, cmp_cols=cmp_cols,
            include_preimages=include_preimages,
        )
    return _diff_changes(table, old_snap, new_snap, keys, cols, cmp_cols,
                         include_preimages)


def _keywise_diff(
    new: DataFrame,
    old: DataFrame,
    keys: list[str],
    cols: list[str],
    cmp_cols: list[str],
    from_version: int,
    to_version: int,
    include_preimages: bool = False,
) -> DataFrame:
    """Full-outer key diff of two same-schema states → change rows.
    ``old``'s columns must be pre-renamed with an ``o_`` prefix."""
    cond = [new[k].eqNullSafe(old[f"o_{k}"]) for k in keys]
    j = new.join(old, cond, "full_outer")

    # key presence flags via any key column's side (keys are non-null
    # within their side by construction; eqNullSafe keeps this exact)
    new_exists = j[keys[0]].isNotNull()
    old_exists = j[f"o_{keys[0]}"].isNotNull()
    differs = F.lit(False)
    for c in cmp_cols:
        differs = differs | ~j[c].eqNullSafe(j[f"o_{c}"])

    if include_preimages:
        # Delta-CDF scheme: updates emit pre- AND post-image rows.
        # One pass over the join via explode of a per-row entry array
        # (a union of two selects would execute the diff join twice);
        # a no-match WHEN yields NULL and explode drops it.
        pre = F.struct(*[j[f"o_{c}"].alias(c) for c in cols])
        post = F.struct(*[j[c].alias(c) for c in cols])

        def entry(img, ct):
            return F.struct(img.alias("img"), F.lit(ct).alias("ct"))

        entries = (
            F.when(new_exists & ~old_exists,
                   F.array(entry(post, "insert")))
            .when(~new_exists & old_exists,
                  F.array(entry(pre, "delete")))
            .when(differs,
                  F.array(entry(pre, "update_preimage"),
                          entry(post, "update_postimage")))
        )
        return j.select(F.explode(entries).alias("e")).select(
            "e.img.*",
            F.col("e.ct").alias(CHANGE_TYPE),
            F.lit(from_version).alias(FROM_VERSION),
            F.lit(to_version).alias(TO_VERSION),
        )

    change = (
        F.when(new_exists & ~old_exists, F.lit("insert"))
        .when(~new_exists & old_exists, F.lit("delete"))
        .when(differs, F.lit("update"))
    )
    out = [
        (
            F.coalesce(j[c], j[f"o_{c}"]).alias(c)
            if c in keys
            # post-image; pre-image only when the row is gone
            else F.when(new_exists, j[c]).otherwise(j[f"o_{c}"]).alias(c)
        )
        for c in cols
    ]
    return j.select(
        *out,
        change.alias(CHANGE_TYPE),
        F.lit(from_version).alias(FROM_VERSION),
        F.lit(to_version).alias(TO_VERSION),
    ).filter(F.col(CHANGE_TYPE).isNotNull())


def _old_state(
    table: LakeTable, old_snap, new_snap, buckets: list[int]
) -> DataFrame:
    """The old version's resolved state over ``buckets``, projected to
    the NEW snapshot's schema (columns the old snapshot predates read
    as NULL — the same null-backfill the table itself applies to old
    files), with ``o_``-prefixed names for :func:`_keywise_diff`."""
    old_cols = {f.name for f in old_snap.schema.fields}
    return table.read(version=old_snap.version, buckets=buckets).select(
        *[
            (
                F.col(c)
                if c in old_cols
                else F.lit(None).cast(new_snap.schema[c].dataType)
            ).alias(f"o_{c}")
            for c in (f.name for f in new_snap.schema.fields)
        ]
    )


def _diff_changes(
    table: LakeTable, old_snap, new_snap, keys, cols, cmp_cols,
    include_preimages: bool = False,
) -> DataFrame:
    """Generic path: diff the two fully resolved states. Correct for
    any version distance, compaction-crossing windows included."""
    # manifest-level bucket pruning: a bucket whose base/delta/sdel
    # file lists are IDENTICAL in both snapshots cannot contain a
    # changed row — the diff reads only buckets that differ, so feed
    # cost scales with changed data, not table size (driver-side list
    # compare, no data touched)
    changed = [
        b
        for b in range(new_snap.n_buckets)
        if (
            old_snap.buckets.get(str(b), [])
            != new_snap.buckets.get(str(b), [])
            or old_snap.delta_buckets.get(str(b), [])
            != new_snap.delta_buckets.get(str(b), [])
            or old_snap.sdel_buckets.get(str(b), [])
            != new_snap.sdel_buckets.get(str(b), [])
        )
    ]
    old = _old_state(table, old_snap, new_snap, changed)
    new = table.read(version=new_snap.version, buckets=changed)
    return _keywise_diff(
        new, old, keys, cols, cmp_cols, old_snap.version,
        new_snap.version, include_preimages,
    )


def _appended_files(
    old_buckets: dict[str, list[str]], new_buckets: dict[str, list[str]]
) -> dict[str, list[str]] | None:
    """Per-bucket file-list tails when ``new`` is exactly ``old`` with
    files APPENDED (old list == head of new list, nothing removed);
    None if any list shrank or reordered (a compaction fold)."""
    out: dict[str, list[str]] = {}
    for b, files in new_buckets.items():
        head = old_buckets.get(b, [])
        if files[: len(head)] != head:
            return None
        if files[len(head):]:
            out[b] = files[len(head):]
    for b, files in old_buckets.items():
        if b not in new_buckets and files:
            return None  # files disappeared: a fold happened
    return out


def _new_commit_files(
    old_snap, new_snap
) -> tuple[dict[str, list[str]], dict[str, list[str]]] | None:
    """When ``new_snap`` is exactly ``old_snap`` plus one merge-on-read
    commit (no base rewrite, no compaction — delta AND subset-delete
    file lists strictly appended), return the commit's (delta files,
    sdel files) per bucket; else None.

    The per-bucket prefix check (old list == head of new list) is what
    proves the commit only APPENDED files — a compaction between the
    versions reorders/folds the lists and falls through to the generic
    diff.

    One declined combination: NEW sdel files under
    ``insert_mode=update`` + hard delete. There a subset delete kills
    its subset key for good (``mor.apply_subset_overlays`` matches on
    the sdel's existence, not its position), so resolving a commit's
    rows needs the FULL sdel history since compaction, not just this
    commit's — the generic diff already reads it."""
    if new_snap.parent != old_snap.version:
        return None
    if new_snap.buckets != old_snap.buckets:
        return None  # COW rewrite / append / compaction
    new_delta = _appended_files(
        old_snap.delta_buckets, new_snap.delta_buckets
    )
    new_sdel = _appended_files(
        old_snap.sdel_buckets, new_snap.sdel_buckets
    )
    if new_delta is None or new_sdel is None:
        return None
    meta = new_snap.mor_meta
    if new_sdel and bool(meta.get("upd_only")) and bool(meta.get("hard")):
        return None
    return new_delta, new_sdel


def _adjacent_delta_changes(
    table: LakeTable, old_snap, new_snap,
    new_delta: dict[str, list[str]],
    new_sdel: dict[str, list[str]] | None = None,
    *, keys, cols, cmp_cols, include_preimages: bool = False,
) -> DataFrame:
    """Adjacent-delta fast path: the just-committed delta/sdel files
    list exactly the keys that can have changed, so the feed touches

    * the commit's own delta files (batch-sized),
    * the commit's own subset-delete files, if any (the delete-key
      subsets this batch issued under ``delete.as.update.key ⊂ pk``),
      and
    * the OLD state of the affected buckets, key-filtered to the delta
      keys plus the rows matching the sdel subset keys before the diff
      join (needed for pre-images and the insert-vs-update distinction
      — the deltas alone cannot say whether a key existed at the old
      version; the sdel files name subsets, and only the old state
      enumerates which pk rows they hit),

    and never resolves the NEW snapshot (whose delta history spans
    every commit since the last compaction). Shuffle volume follows
    the batch size plus the sdel-matched rows, not the bucket
    contents: both key filters run before the full-outer diff (AQE can
    convert them to broadcasts at runtime). Inputs are a strict subset
    of the generic diff's; measured trade at local sizes in SCALE.md
    ("Change data feed").

    New state for the affected keys = ``mor.resolve(old state, folded
    new deltas)`` then ``mor.apply_subset_overlays(…, new sdels)`` —
    resolution composes (the resolved old row plays the base role at
    position (-1, -inf), exactly how a base file row written by
    compaction would, and every NEW sdel entry is positioned after
    any old-state row), so this is the same answer the two-snapshot
    diff computes, at batch cost. Historical sdel entries need never
    be read: a row present in the old state by definition survived
    them (they are not applicable after its position), and the one
    combination where existence alone matters (update+hard) is
    declined by :func:`_new_commit_files`.
    """
    import os

    from kafka_jdbc_sink_connector_spark.lake import mor

    new_sdel = new_sdel or {}
    affected = sorted({int(b) for b in new_delta}
                      | {int(b) for b in new_sdel})
    if not affected:
        # metadata-only / empty commit: nothing can have changed
        empty = table.spark.createDataFrame(
            [], table.read(version=new_snap.version, buckets=[]).schema
        )
        return empty.select(
            "*",
            F.lit(None).cast("string").alias(CHANGE_TYPE),
            F.lit(old_snap.version).alias(FROM_VERSION),
            F.lit(new_snap.version).alias(TO_VERSION),
        ).filter(F.col(CHANGE_TYPE).isNotNull())
    spark = table.spark
    dschema = mor.delta_schema(new_snap.schema, keys)
    dfiles = [
        os.path.join(table.path, f)
        for b in new_delta
        for f in new_delta[b]
    ]
    deltas = (
        spark.read.schema(dschema).parquet(*dfiles)
        if dfiles
        else spark.createDataFrame([], dschema)
    )
    dkeys = deltas.select(*keys).distinct()
    skey = list(new_snap.mor_meta.get("sdel_key") or [])
    sdels = None
    if new_sdel:
        sfiles = [
            os.path.join(table.path, f)
            for b in new_sdel
            for f in new_sdel[b]
        ]
        sdels = spark.read.schema(
            mor.sdel_schema(new_snap.schema, keys, skey)
        ).parquet(*sfiles)
        skeys = sdels.select(*skey).distinct()

    # old resolved state of the affected buckets, restricted to the
    # affected keys (left joins against the distinct key sets — no row
    # duplication; AQE broadcasts the batch-sized key frames).
    # localCheckpoint: both consumers below (the resolve base and the
    # diff's old side) reuse ONE materialization of this batch-sized
    # frame instead of scanning the old buckets twice
    old_all = _old_state(table, old_snap, new_snap, affected)
    if sdels is None:
        # delta-only commit (the common steady-state case): plain
        # LEFT SEMI — cheaper than the marker join below, which
        # Catalyst does not reduce back to a semi join
        old = old_all.join(
            dkeys.select(*[F.col(k).alias(f"o_{k}") for k in keys]),
            [f"o_{k}" for k in keys],
            "left_semi",
        )
    else:
        # rows hit by EITHER the delta pk keys OR the sdel subset
        # keys: two marker left-joins against distinct key frames (no
        # row duplication) + one filter — a single old-state scan
        in_d = dkeys.select(
            *[F.col(k).alias(f"o_{k}") for k in keys],
            F.lit(True).alias("__in_d"),
        )
        in_s = skeys.select(
            *[F.col(k).alias(f"o_{k}") for k in skey],
            F.lit(True).alias("__in_s"),
        )
        old = (
            old_all.join(in_d, [f"o_{k}" for k in keys], "left")
            .join(in_s, [f"o_{k}" for k in skey], "left")
            .filter(
                F.col("__in_d").isNotNull()
                | F.col("__in_s").isNotNull()
            )
            .drop("__in_d", "__in_s")
        )
    old = old.localCheckpoint(eager=False)
    # resolve the new deltas (and sdel overlays) over the old state →
    # new state per key
    base = old.select(
        *[F.col(f"o_{c}").alias(c) for c in cols]
    ).withColumn(
        mor.BUCKET_COL,
        F.lit(None).cast("int"),  # only carried through, keys drive joins
    )
    meta = new_snap.mor_meta
    new = mor.resolve(
        base, mor.fold_deltas(deltas, keys, meta), new_snap, meta,
        carry_pos=sdels is not None,
    )
    if sdels is not None:
        new = mor.apply_subset_overlays(new, sdels, new_snap, meta)
    new = new.drop(mor.BUCKET_COL)
    return _keywise_diff(
        new, old, keys, cols, cmp_cols, old_snap.version,
        new_snap.version, include_preimages,
    )
