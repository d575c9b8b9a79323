"""Change data feed: what changed between two table versions.

The Delta-CDF / Iceberg-changelog idea rebuilt on the engine's
snapshot log: downstream consumers (index builders, caches, training
shard refreshers) ask "give me every row that changed since version V"
instead of rescanning the table. The reference has no equivalent — its
JDBC target is the end of the line — but any lakehouse user of this
engine expects it.

Two paths, chosen on the driver from the manifests:

* **Generic diff** (:func:`_diff_changes`, any two versions): both
  versions stay readable (snapshots are immutable until vacuum), so
  the feed is a key-wise full-outer diff of the two resolved states,
  read only over the buckets whose base/delta/sdel file lists differ.
* **One keyed pass** (:func:`_adjacent_delta_changes`): when the new
  version is the old one plus one merge-on-read commit, that commit's
  delta/sdel files name every key it can have changed, and both states
  of those keys resolve from the same files. One fold of the touched
  buckets' delta rows carries the pre-commit and the full per-key
  input side by side, one join brings in the base row, and the
  per-row rules of :mod:`.mor` run over it twice, once per state. No
  diff join, no checkpoint: building the frame runs no Spark job, and
  ``count()`` on a steady delta commit runs 4.

Either way each changed key becomes one row:

* key only in the new version   → ``insert`` (post-image)
* key in both, any column differs → ``update`` (post-image)
* key only in the old version   → ``delete`` (pre-image — the only
  image a hard-deleted row has; soft deletes surface as ``update``
  because the row still exists with its marker flipped)

Feed cost follows the changed buckets, not the table; SCALE.md
("Change data feed") has the measurements.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

CHANGE_TYPE = "_change_type"
FROM_VERSION = "_from_version"
TO_VERSION = "_to_version"
#: tags the rows of the commit's own delta/sdel files in the one-pass
#: feed (:func:`_adjacent_delta_changes`)
_IN_COMMIT = "__in_commit"


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
    post-image alone cannot name). Free in both feed paths: each holds
    both states of a key in one row.

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
    return _change_rows(
        j, keys, cols, cmp_cols,
        j[keys[0]].isNotNull(), j[f"o_{keys[0]}"].isNotNull(),
        from_version, to_version, include_preimages,
    )


def _change_rows(
    j: DataFrame, keys, cols, cmp_cols, new_exists: Column,
    old_exists: Column, from_version: int, to_version: int,
    include_preimages: bool,
) -> DataFrame:
    """Change rows of ``j``, one row per key holding both states: the
    new one in columns named like the table's, the old one in
    ``o_``-prefixed columns; ``new_exists``/``old_exists`` say whether
    the key has a row in each state. Keys whose state did not change
    (absent from both included) yield nothing."""
    differs = F.lit(False)
    for c in cmp_cols:
        differs = differs | ~j[c].eqNullSafe(j[f"o_{c}"])
    insert = new_exists & ~old_exists
    delete = ~new_exists & old_exists
    update = new_exists & old_exists & differs

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
            F.when(insert, F.array(entry(post, "insert")))
            .when(delete, F.array(entry(pre, "delete")))
            .when(update, F.array(entry(pre, "update_preimage"),
                                  entry(post, "update_postimage")))
        )
        return j.select(F.explode(entries).alias("e")).select(
            "e.img.*",
            F.col("e.ct").alias(CHANGE_TYPE),
            F.lit(from_version).alias(FROM_VERSION),
            F.lit(to_version).alias(TO_VERSION),
        )

    change = (
        F.when(insert, F.lit("insert"))
        .when(delete, F.lit("delete"))
        .when(update, F.lit("update"))
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
    diff."""
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
    return new_delta, new_sdel


def _adjacent_delta_changes(
    table: LakeTable, old_snap, new_snap,
    new_delta: dict[str, list[str]],
    new_sdel: dict[str, list[str]] | None = None,
    *, keys, cols, cmp_cols, include_preimages: bool = False,
) -> DataFrame:
    """Adjacent merge-on-read feed in one keyed pass. The commit's
    delta/sdel files name every key it can have changed, and the
    buckets they touch (the *affected* buckets) hold everything both
    states of those keys are resolved from: the same base files in
    both snapshots, the old delta/sdel files, and the commit's.

    1. Every delta row of the affected buckets is folded per pk, with
       two folds side by side (:func:`.mor.fold_deltas` ``new=``): one
       over the rows from before the commit, one over all of them,
       plus whether the key has a row in the commit's files.
    2. The keys with a row in the commit join the base rows of the
       affected buckets once (:func:`.mor.base_join`).
    3. If the affected buckets hold sdel files (the manifest says so
       on the driver; else this step is skipped), their entry lists
       join on the subset key once (:func:`.mor.fold_sdels`, again
       with the pre-commit entries beside all of them). A commit that
       writes sdel entries also changes rows that only its subset keys
       hit, so then the join to base is full outer, filtered to the
       keys with a row in the commit or a subset key with an entry in
       it.
    4. :func:`.mor.resolve_rule`, then :func:`.mor.subset_overlay_rule`,
       runs over that one row twice: over the pre-commit folds it
       gives the old state, over the full ones the new state. The
       rules are built once, as the body of a ``transform`` over the
       two states. The old row is projected to the new schema as
       :func:`_old_state` does (columns the old snapshot predates read
       as NULL).
    5. The change type is computed row-wise (:func:`_change_rows`): no
       diff join, no semi join, no checkpoint.

    Building the frame runs no Spark job; ``count()`` runs 4 on a
    steady delta commit (delta fold, base side, join, count) and 6 on
    an sdel commit, against 10 and 14 for resolving the old state,
    cutting it to the commit's keys, checkpointing it and diffing it
    with the resolved new state.

    Resolving both states under the NEW snapshot's ``mor_meta`` is
    exact when the old snapshot has no delta/sdel entries in the
    affected buckets (then the old row is the base row under any rule)
    or the same ``mor_meta``; other commits take :func:`_diff_changes`.
    """
    from kafka_jdbc_sink_connector_spark.lake import mor

    new_sdel = new_sdel or {}
    affected = sorted({int(b) for b in new_delta}
                      | {int(b) for b in new_sdel})
    old_deltas = old_snap.delta_files(affected)
    old_sdels = old_snap.sdel_files(affected)
    meta = new_snap.mor_meta
    if meta != old_snap.mor_meta and (old_deltas or old_sdels):
        return _diff_changes(table, old_snap, new_snap, keys, cols,
                             cmp_cols, include_preimages)

    def tagged(old_files, new_files, schema):
        # the two file lists as one frame, each row tagged with
        # whether this commit wrote it; an empty list is left out, so
        # the frame stays a parquet scan whose size the planner knows
        parts = [
            table._scan(files, schema).withColumn(_IN_COMMIT, F.lit(tag))
            for files, tag in ((old_files, False), (new_files, True))
            if files
        ]
        return reduce(DataFrame.unionByName, parts) if parts else (
            table._scan([], schema).withColumn(_IN_COMMIT, F.lit(True))
        )

    keyed = mor.fold_deltas(
        tagged(old_deltas, _files(new_delta),
               mor.delta_schema(new_snap.schema, keys)),
        keys, meta, new=F.col(_IN_COMMIT),
    )
    base = table._scan(new_snap.files(affected), new_snap.schema)
    if new_sdel:
        j = mor.base_join(base, keyed, keys)
    else:
        j = mor.base_join(base, keyed.filter(mor.KEY_NEW), keys, "right")
    skey = list(meta.get("sdel_key") or [])
    has_sdel = bool(skey) and bool(old_sdels or new_sdel)
    if has_sdel:
        sd = mor.fold_sdels(
            tagged(old_sdels, _files(new_sdel),
                   mor.sdel_schema(new_snap.schema, keys, skey)),
            skey, new=F.col(_IN_COMMIT),
        )
        j = j.join(sd, [
            F.coalesce(F.col(k), F.col(f"b_{k}")) == sd[f"sd_{k}"]
            for k in skey
        ], "left")
    if new_sdel:
        j = j.filter(
            F.coalesce(F.col(mor.KEY_NEW), F.lit(False))
            | F.coalesce(F.col(mor.SD_NEW), F.lit(False))
        )

    b_exists = F.col("__b_exists").isNotNull()
    b_col = lambda c: F.col(f"b_{c}")  # noqa: E731

    def state(u, dels, sd):
        return F.struct(
            F.col(u).alias("u"), F.col(dels).alias("dels"),
            *([F.col(sd).alias("sd")] if has_sdel else []),
        )

    def resolved(s):
        row, drop, pos = mor.resolve_rule(
            meta, new_snap, s["u"], s["dels"], b_exists, b_col
        )
        if has_sdel:
            row, sd_drop = mor.subset_overlay_rule(
                meta, s["sd"], pos, row.__getitem__, cols
            )
            drop = drop | sd_drop
        return F.struct(
            F.struct(*[e.alias(c) for c, e in row.items()]).alias("row"),
            (~drop).alias("live"),
        )

    # the rules are built once and run over both states, [old, new];
    # exploding the one-element array makes a generator, which Catalyst
    # does not inline into the projection below, so they run once per
    # row rather than once per column read
    s = F.col("__s")
    rows = j.select(F.explode(F.array(F.transform(F.array(
        state(mor.KEY_UPS_PRE, mor.KEY_DELS_PRE, mor.SD_ENTRIES_PRE),
        state(mor.KEY_UPS, mor.KEY_DELS, mor.SD_ENTRIES),
    ), resolved))).alias("__s")).select(
        *[s[1]["row"][c].alias(c) for c in cols],
        *[s[0]["row"][c].alias(f"o_{c}") for c in cols],
        s[1]["live"].alias("__n_exists"), s[0]["live"].alias("__o_exists"),
    )
    old_cols = {f.name for f in old_snap.schema.fields}
    added = {
        f"o_{f.name}": F.lit(None).cast(f.dataType)
        for f in new_snap.schema.fields if f.name not in old_cols
    }
    if added:  # the old state predates these columns: NULL there
        rows = rows.withColumns(added)
    return _change_rows(
        rows, keys, cols, cmp_cols, rows["__n_exists"], rows["__o_exists"],
        old_snap.version, new_snap.version, include_preimages,
    )


def _files(per_bucket: dict[str, list[str]]) -> list[str]:
    return [f for fs in per_bucket.values() for f in fs]
