"""Table maintenance: compaction and vacuum.

The reference has no equivalent (the JDBC database compacts itself);
for a lake table these are the operations that keep a
continuously-merged 100 TB table healthy:

* **compact** — every COW merge commit writes fresh files per touched
  bucket and append commits add more; small-file count grows with
  batch cadence. Compaction rewrites chosen buckets into one file set
  and commits a snapshot that references only those (bin-packing
  rewrite, same idea as Iceberg's rewrite_data_files).
* **cluster_by** — sort-rewrite so each bucket's files hold disjoint
  clustering-column ranges, restoring file-level data skipping
  (``lake/stats.py``) after out-of-order ingest — the Delta
  OPTIMIZE/sort-order-rewrite analog.
* **vacuum** — snapshots are immutable and old ones stay readable
  (time travel); vacuum deletes data files not referenced by the
  last ``keep_versions`` snapshots plus the older manifests, bounding
  storage. Equivalent of Delta VACUUM / Iceberg expire_snapshots.

Both are driver-coordinated (manifest edits) with the data work fully
distributed; both commit through the same atomic publish as writes, so
readers never observe a partial state.
"""

from __future__ import annotations

from dataclasses import dataclass

import os

from pyspark.sql import functions as F

from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL
from kafka_jdbc_sink_connector_spark.lake.table import LakeTable, _DATA_DIR, _LOG_DIR


def compact(
    table: LakeTable,
    buckets: list[int] | None = None,
    min_files: int = 2,
) -> list[int]:
    """Rewrite buckets that have >= ``min_files`` data files into a
    single file set each. Returns the buckets compacted."""
    snap = table.snapshot
    all_ids = set(snap.buckets) | set(snap.delta_buckets) | set(
        snap.sdel_buckets
    )
    candidates = sorted(
        int(b)
        for b in all_ids
        if (
            # any merge-on-read delta (pk or subset-delete overlay) is
            # worth folding into base; otherwise bin-pack buckets with
            # enough small files
            len(snap.delta_buckets.get(b, []))
            or len(snap.sdel_buckets.get(b, []))
            or len(snap.buckets.get(b, [])) >= min_files
        )
        and (buckets is None or int(b) in set(buckets))
    )
    if not candidates:
        return []
    data = table.read(buckets=candidates, include_bucket=True)
    table.commit_rewrite(
        data,
        candidates,
        stats={"compacted_buckets": candidates},
    )
    return candidates


def rebucket(table: LakeTable, new_n_buckets: int) -> LakeTable:
    """Change the table's bucket count with one full resolved rewrite
    (Iceberg partition-spec evolution realized as rewrite_data_files:
    the initial bucket choice rarely survives 100× growth — too few
    buckets caps merge parallelism and makes every bucket rewrite
    huge, too many drowns a small table in file overhead).

    One shuffle of the full resolved table on the NEW bucket
    assignment — the only operation in this module that is
    deliberately table-sized, which is why it's a commit like any
    other: atomic, time-travelable, and rejected by the
    optimistic-concurrency rebase on conflict (a concurrent writer's
    commit under the old layout can't silently survive a bucket-count
    change, ``table.py:_rebase`` declines both directions). Batch
    watermarks and table properties carry over, so exactly-once
    ingest continues seamlessly under the new layout; MOR deltas are
    folded by the resolved read, like ``compact``.
    """
    from kafka_jdbc_sink_connector_spark.functions.keys import bucket_expr

    snap = table.snapshot
    if new_n_buckets < 1:
        raise ValueError("new_n_buckets must be >= 1")
    if new_n_buckets == snap.n_buckets:
        raise ValueError(f"table already has {new_n_buckets} buckets")
    data = table.read().withColumn(
        BUCKET_COL, bucket_expr(snap.bucket_key, new_n_buckets)
    )
    table.commit_rewrite(
        data,
        list(range(snap.n_buckets)),
        stats={"rebucketed": [snap.n_buckets, new_n_buckets]},
        new_n_buckets=new_n_buckets,
    )
    return table


def _zorder_column(data, cols, bits: int = 16):
    """Interleaved-bits Morton key over ``cols`` — entirely codegen'd
    (cast/floor/shiftright/shiftleft/sum), no Python per row.

    Each column is min-max scaled to ``bits``-bit integers (one
    aggregate job over the rows being rewritten — never the table),
    then bit ``i`` of column ``j`` lands at position ``i*ncols + j``.
    NULLs scale to 0 (sort first, like NULLS FIRST). Only
    numeric/timestamp/date columns interleave meaningfully; strings
    raise (use the lexicographic method for string prefixes).
    """
    from pyspark.sql import types as T

    schema = {f.name: f.dataType for f in data.schema.fields}
    bits = min(bits, 60 // len(cols))  # keep z inside a signed 64-bit

    def as_double(c):
        dt = schema[c]
        if isinstance(dt, T.DateType):
            return F.unix_date(F.col(c)).cast("double")
        if isinstance(dt, (T.TimestampType, T.NumericType)):
            return F.col(c).cast("double")
        raise ValueError(
            f"zorder needs numeric/timestamp/date columns, {c} is {dt}"
        )

    row = data.agg(
        *[f for c in cols for f in (F.min(as_double(c)), F.max(as_double(c)))]
    ).collect()[0]
    top = (1 << bits) - 1
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        mn, mx = row[2 * j], row[2 * j + 1]
        if mn is None or mx is None or mx == mn:
            continue  # constant/all-null column adds no order
        scaled = F.least(
            F.lit(top),
            F.greatest(
                F.lit(0),
                F.floor((as_double(c) - mn) / (mx - mn) * top),
            ),
        )
        scaled = F.coalesce(scaled, F.lit(0)).cast("long")
        for i in range(bits):
            bit = F.shiftright(scaled, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * len(cols) + j)
    return z


def cluster_by(
    table: LakeTable,
    cols: list[str],
    files_per_bucket: int = 4,
    buckets: list[int] | None = None,
    method: str = "linear",
) -> list[int]:
    """Sort-rewrite buckets so their files carry DISJOINT ranges of
    the clustering columns — the Delta ``OPTIMIZE ... ZORDER BY`` /
    Iceberg sort-order rewrite idea, specialized to lexicographic
    order: after clustering, a ``read(where=...)`` range predicate on
    ``cols[0]`` touches ~1/``files_per_bucket`` of each bucket's
    files via the footer min/max stats (:mod:`.stats`), instead of
    all of them when ingest order ignores the column.

    Mechanics: resolved rows are range-partitioned on ``(bucket,
    *cols)`` into ``len(buckets) * files_per_bucket`` partitions and
    written with the caller's layout preserved
    (``commit_rewrite(preserve_layout=True)``) — each partition is a
    contiguous slice of one bucket's value range (range boundaries
    are sampled, so file counts are approximate), and rows are
    additionally sorted within files so parquet row-group stats
    tighten too. Like :func:`compact`, the rewrite folds any
    merge-on-read deltas in (it rewrites the RESOLVED state), so a
    clustered bucket is also a compacted one.

    At 100 TB this is the scheduled background job that restores
    time-axis skippability after out-of-order backfills, and the
    range partitioning is one shuffle of the chosen buckets — cost
    proportional to what's rewritten, never the table.

    ``method="zorder"`` interleaves the columns' bits into a Morton
    key (:func:`_zorder_column`) and range-partitions on that instead:
    lexicographic order makes only ``cols[0]`` skippable, the z-curve
    makes range predicates on EACH clustered column skip (each file
    covers a compact multi-dimensional tile, so every column's per-file
    min/max range is ~``files^(-1/ncols)`` of its domain) — Delta's
    ``OPTIMIZE ZORDER BY``. The key costs one extra aggregate job
    (per-column min/max over the rewritten rows) and stays fully
    codegen'd; it is dropped at write, only the layout changes.
    """
    if not cols:
        raise ValueError("cluster_by needs at least one column")
    if method not in ("linear", "zorder"):
        raise ValueError(f"method must be linear|zorder, got {method!r}")
    snap = table.snapshot
    all_ids = set(snap.buckets) | set(snap.delta_buckets) | set(
        snap.sdel_buckets
    )
    target = sorted(
        int(b)
        for b in all_ids
        if buckets is None or int(b) in set(buckets)
    )
    if not target:
        return []
    data = table.read(buckets=target, include_bucket=True)
    n_parts = max(1, len(target) * files_per_bucket)
    if method == "zorder":
        data = data.withColumn("__z", _zorder_column(data, cols))
        order_exprs = [F.col("__z")]
    else:
        order_exprs = [F.col(c) for c in cols]
    arranged = data.repartitionByRange(
        n_parts, F.col(BUCKET_COL), *order_exprs
    ).sortWithinPartitions(BUCKET_COL, *order_exprs)
    # commit_rewrite projects to the table schema, so a __z helper
    # column affects only the layout, never the stored data
    table.commit_rewrite(
        arranged,
        target,
        stats={"clustered_by": list(cols), "cluster_method": method},
        preserve_layout=True,
    )
    # record the clustering intent as table properties so
    # :func:`plan` knows which axis to measure drift against on later
    # runs (Delta's OPTIMIZE remembers nothing; a table property is
    # the honest place for a standing layout contract). Metadata-only
    # commit, skipped when already recorded.
    want = {"cluster.cols": list(cols), "cluster.method": method}
    if any(table.snapshot.props.get(k) != v for k, v in want.items()):
        table.set_props(want)
    return target


def vacuum(
    table: LakeTable,
    keep_versions: int = 1,
    keep_from_version: int | None = None,
) -> dict:
    """Delete data files unreferenced by the newest ``keep_versions``
    snapshots, and drop older snapshot manifests. Time travel remains
    available for the kept versions only.

    ``keep_from_version`` additionally retains EVERY version ≥ that
    id, evaluated against the history AT EXECUTION TIME — the floor a
    change-feed consumer's watermark needs (a keep-N count computed
    earlier goes stale when other maintenance commits land in
    between, silently dropping the watermark manifest)."""
    if keep_versions < 1:
        raise ValueError("keep_versions must be >= 1")
    versions = table.history()
    keep = set(versions[-keep_versions:])
    if keep_from_version is not None:
        keep |= {v for v in versions if v >= keep_from_version}
    live: set[str] = set()
    for v in keep:
        snap = table._read_version(v)
        live.update(snap.all_files())

    removed_files = 0
    data_root = os.path.join(table.path, _DATA_DIR)
    for dirpath, _dirnames, filenames in os.walk(data_root, topdown=False):
        for fn in filenames:
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, table.path)
            if rel not in live and fn.endswith(".parquet"):
                os.unlink(full)
                removed_files += 1
        # prune empty commit dirs
        if not os.listdir(dirpath) and dirpath != data_root:
            os.rmdir(dirpath)

    removed_snapshots = 0
    for v in versions:
        if v not in keep:
            os.unlink(
                os.path.join(table.path, _LOG_DIR, f"v{v:020d}.json")
            )
            removed_snapshots += 1
    return {
        "removed_files": removed_files,
        "removed_snapshots": removed_snapshots,
        "kept_versions": sorted(keep),
    }


@dataclass
class MaintenanceAction:
    """One recommended maintenance operation, with the manifest
    evidence that triggered it."""

    kind: str      # compact | cluster_by | vacuum | rebucket
    reason: str
    params: dict

    def run(self, table: LakeTable):
        if self.kind == "compact":
            return compact(table, buckets=self.params.get("buckets"))
        if self.kind == "cluster_by":
            return cluster_by(
                table, self.params["cols"],
                buckets=self.params.get("buckets"),
                method=self.params.get("method", "linear"),
            )
        if self.kind == "vacuum":
            return vacuum(
                table,
                keep_versions=self.params["keep_versions"],
                keep_from_version=self.params.get("keep_from_version"),
            )
        if self.kind == "rebucket":
            return rebucket(table, self.params["new_n_buckets"])
        raise ValueError(f"unknown maintenance action {self.kind!r}")


def _interval_overlap_fraction(bounds: list[tuple]) -> float:
    """Fraction of files whose [lo, hi] range overlaps another file's
    — 0.0 for a freshly clustered bucket (disjoint slices), → 1.0 as
    out-of-order ingest smears every file across the axis."""
    if len(bounds) < 2:
        return 0.0
    bounds = sorted(bounds)
    overlapping = set()
    reach_hi, reach_idx = bounds[0][1], 0
    for i in range(1, len(bounds)):
        lo, hi = bounds[i]
        if lo <= reach_hi:
            overlapping.add(i)
            overlapping.add(reach_idx)
        if hi > reach_hi:
            reach_hi, reach_idx = hi, i
    return len(overlapping) / len(bounds)


def plan(
    table: LakeTable,
    *,
    max_delta_depth: int = 4,
    max_files_per_bucket: int = 8,
    max_retained_versions: int = 30,
    vacuum_keep_versions: int = 2,
    vacuum_keep_from_version: int | None = None,
    cluster_cols: list[str] | None = None,
    cluster_method: str | None = None,
    max_overlap_fraction: float = 0.5,
    min_cluster_files: int = 4,
    target_rows_per_bucket: int | None = None,
    execute: bool = False,
) -> list[MaintenanceAction]:
    """Read the manifest and decide WHICH maintenance the table needs
    — the policy layer over :func:`compact` / :func:`cluster_by` /
    :func:`vacuum` / :func:`rebucket`, which are mechanisms the
    operator otherwise has to schedule by hand. Everything is decided
    from the snapshot alone (bucket file lists, ``file_stats`` bounds,
    manifest count) — no data is read, so the plan itself is a
    driver-side metadata scan regardless of table size.

    Signals, in the order a 100-TB steady-state table hits them:

    * **merge-on-read delta depth** — buckets whose pending
      delta/sdel overlay count ≥ ``max_delta_depth`` (read
      amplification grows linearly with depth) → ``compact`` those
      buckets;
    * **small files** — buckets with ≥ ``max_files_per_bucket`` base
      files → ``compact``;
    * **clustering drift** — when the table has a standing clustering
      contract (``cluster.cols`` property, recorded by
      :func:`cluster_by`, or passed explicitly), buckets with ≥
      ``min_cluster_files`` files whose per-file [min, max] ranges on
      the primary clustering axis overlap for more than
      ``max_overlap_fraction`` of files (footer stats from
      ``file_stats``; a clustered bucket's slices are disjoint) →
      ``cluster_by`` those buckets;
    * **manifest growth** — more than ``max_retained_versions``
      retained snapshots → ``vacuum`` keeping
      ``vacuum_keep_versions``;
    * **bucket overflow** (opt-in: needs ``target_rows_per_bucket``)
      — when mean rows per bucket exceeds 2× the target (row counts
      from complete ``file_stats`` coverage only — never guessed),
      recommend ``rebucket`` to the next power of two that brings it
      back under target. Advisory by default because it is a full
      rewrite; it executes like any other action when ``execute``.

    ``execute=True`` runs the recommended actions in list order
    (compactions before clusterings before vacuum, so the vacuum sees
    the rewrites' garbage) and attaches each result under
    ``action.params["result"]``. Wire it on an ingest cadence via
    ``CdcStreamRunner(maintenance_every_batches=N)``.
    """
    snap = table.snapshot
    actions: list[MaintenanceAction] = []

    deep = sorted(
        int(b)
        for b in set(snap.delta_buckets) | set(snap.sdel_buckets)
        if len(snap.delta_buckets.get(b, []))
        + len(snap.sdel_buckets.get(b, [])) >= max_delta_depth
    )
    small = sorted(
        int(b)
        for b, files in snap.buckets.items()
        if len(files) >= max_files_per_bucket and int(b) not in set(deep)
    )
    if deep or small:
        bits = []
        if deep:
            bits.append(
                f"{len(deep)} bucket(s) at delta depth ≥ {max_delta_depth}"
            )
        if small:
            bits.append(
                f"{len(small)} bucket(s) with ≥ {max_files_per_bucket} "
                f"base files"
            )
        actions.append(MaintenanceAction(
            "compact", " and ".join(bits), {"buckets": deep + small}
        ))

    cols = cluster_cols or snap.props.get("cluster.cols")
    method = cluster_method or snap.props.get("cluster.method", "linear")
    if cols:
        axis = cols[0]
        compacting = set(a for act in actions
                         for a in act.params.get("buckets", []))
        drifted = []
        for b, files in snap.buckets.items():
            if int(b) in compacting or len(files) < min_cluster_files:
                # a bucket about to be compacted gets fresh files
                # anyway; re-measure next plan
                continue
            bounds = []
            for f in files:
                ent = (snap.file_stats.get(f) or {}).get("cols", {}).get(
                    axis
                )
                if not ent or "lo" not in ent or "hi" not in ent:
                    bounds = []
                    break  # incomplete stats: never guess
                bounds.append((ent["lo"], ent["hi"]))
            if bounds and _interval_overlap_fraction(
                bounds
            ) > max_overlap_fraction:
                drifted.append(int(b))
        if drifted:
            actions.append(MaintenanceAction(
                "cluster_by",
                f"{len(drifted)} bucket(s) with > "
                f"{max_overlap_fraction:.0%} overlapping file ranges on "
                f"{axis!r}",
                {"cols": list(cols), "buckets": sorted(drifted),
                 "method": method},
            ))

    n_versions = len(table.history())
    if n_versions > max_retained_versions:
        actions.append(MaintenanceAction(
            "vacuum",
            f"{n_versions} retained snapshots > {max_retained_versions}",
            {"keep_versions": vacuum_keep_versions,
             "keep_from_version": vacuum_keep_from_version},
        ))

    if target_rows_per_bucket:
        rows, complete = 0, True
        for files in snap.buckets.values():
            for f in files:
                r = (snap.file_stats.get(f) or {}).get("rows")
                if r is None:
                    complete = False
                    break
                rows += r
            if not complete:
                break
        if complete and snap.n_buckets and rows / snap.n_buckets > (
            2 * target_rows_per_bucket
        ):
            want = snap.n_buckets
            while rows / want > target_rows_per_bucket:
                want *= 2
            actions.append(MaintenanceAction(
                "rebucket",
                f"~{rows // snap.n_buckets} rows/bucket > 2× target "
                f"{target_rows_per_bucket}",
                {"new_n_buckets": want},
            ))

    if execute:
        for act in actions:
            act.params["result"] = act.run(table)
    return actions
