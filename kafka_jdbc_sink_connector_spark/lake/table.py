"""Snapshot-versioned, hash-bucketed parquet table with atomic commits.

The reference sink writes to a transactional JDBC database and gets
atomicity from ``connection.commit()`` (``JdbcAuditDbWriter.java:56-93``)
and upsert semantics from the database's MERGE. This engine targets a
data lake instead; since the sandbox has no Iceberg/Delta jars, the
table format is built from scratch on two public, well-known ideas:

* **hash-bucketed layout** (Hive/Iceberg bucketing): every row lives in
  bucket ``xxhash64(bucket_key) % n_buckets``; a MERGE only rewrites
  the buckets that contain touched keys (copy-on-write at bucket
  granularity) and a key lookup reads exactly one bucket. A
  **merge-on-read** mode (``commit_delta`` + :mod:`.mor`) appends
  per-bucket delta files instead and folds them at read/compaction —
  the Hudi-MOR / Iceberg-v2 idea, for steady-state CDC where COW
  would rewrite ~the whole table per micro-batch.
* **manifest-log snapshots** (Delta/Iceberg transaction log): a commit
  writes new data files, then atomically publishes a JSON snapshot
  ``_log/v<N>.json`` listing, per bucket, the exact files of this
  version. Publication uses create-if-absent (``os.link``), so a lost
  race surfaces as a commit conflict instead of corruption; readers
  always see a complete snapshot. Old snapshots remain readable (time
  travel) until vacuumed.

Exactly-once: each snapshot carries ``applied_batches`` — the highest
batch id applied per streaming source — so a replayed ``foreachBatch``
invocation (same checkpoint, same batch id) is recognized and skipped
(the Delta ``txn`` application-transaction pattern).

Scale notes (100 TB): the JSON manifest holds one entry per data file,
like a single-manifest Iceberg table; with ``n_buckets`` in the
thousands and periodic compaction the manifest stays in the MBs. The
data path (parquet read/write, bucket pruning) is fully distributed;
only the manifest merge is driver-side, mirroring Delta/Iceberg driver
commits.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_jdbc_sink_connector_spark.functions.keys import BUCKET_COL, bucket_expr
from kafka_jdbc_sink_connector_spark.lake import mor
from kafka_jdbc_sink_connector_spark.lake import stats as stats_mod

_LOG_DIR = "_log"
_DATA_DIR = "data"
_PART_DIR_COL = "__bucket_p"  # partitionBy twin of BUCKET_COL


class CommitConflict(RuntimeError):
    """Another writer published this version first (optimistic
    concurrency, like Delta's protocol). Retry from the new snapshot."""


@dataclass
class Snapshot:
    version: int
    schema: T.StructType
    n_buckets: int
    key_fields: list[str]
    bucket_key: str
    #: bucket id (str) -> list of file paths relative to table root
    buckets: dict[str, list[str]]
    #: streaming source id -> highest applied batch id
    applied_batches: dict[str, int] = field(default_factory=dict)
    stats: dict = field(default_factory=dict)
    parent: int | None = None
    #: merge-on-read: bucket id (str) -> ORDERED list of delta files
    #: (commit order = resolution order); empty in pure-COW tables
    delta_buckets: dict[str, list[str]] = field(default_factory=dict)
    #: merge-on-read subset-key deletes (delete_as_update_key ⊂ pk):
    #: bucket id (str) -> ordered list of sdel files (see lake/mor.py)
    sdel_buckets: dict[str, list[str]] = field(default_factory=dict)
    #: merge-on-read resolution spec (delete mode, guard, overlay
    #: columns) — written by the first delta commit so readers resolve
    #: without the writer's SinkConfig
    mor_meta: dict = field(default_factory=dict)
    #: wall-clock commit time (epoch seconds, stamped at publish) —
    #: powers AS-OF-TIMESTAMP time travel; None in pre-upgrade
    #: snapshots (they remain readable, just not addressable by time)
    commit_ts: float | None = None
    #: per-file column min/max/null-count footer stats for BASE files
    #: (``lake/stats.py``) — powers file-level data skipping in
    #: :meth:`LakeTable.read`'s ``where=``; files absent here (e.g.
    #: pre-upgrade commits) are never skipped
    file_stats: dict = field(default_factory=dict)
    #: table-level properties (Delta ``metadata.configuration``
    #: analog), carried verbatim through every commit. Known keys:
    #: ``bloom.cols`` (list of column names to build per-file bloom
    #: filters for at commit time — see ``lake/stats.py``),
    #: ``bloom.bits_per_key`` (default 10), ``bloom.max_bytes``
    #: (default 16384 per file per column)
    props: dict = field(default_factory=dict)

    def to_json(self) -> str:
        d = dict(self.__dict__)
        d["schema"] = json.loads(self.schema.json())
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Snapshot":
        d = json.loads(s)
        d["schema"] = T.StructType.fromJson(d["schema"])
        return Snapshot(**d)

    def files(self, buckets: list[int] | None = None) -> list[str]:
        return _pick(self.buckets, buckets)

    def delta_files(self, buckets: list[int] | None = None) -> list[str]:
        return _pick(self.delta_buckets, buckets)

    def sdel_files(self, buckets: list[int] | None = None) -> list[str]:
        return _pick(self.sdel_buckets, buckets)

    def all_files(self) -> list[str]:
        return self.files() + self.delta_files() + self.sdel_files()

    def mor_bucket_ids(self) -> set[int]:
        """Buckets carrying unresolved merge-on-read delta or sdel
        files (reads resolve them; stats cannot answer for them)."""
        return {
            int(b) for lists in (self.delta_buckets, self.sdel_buckets)
            for b, fs in lists.items() if fs
        }


def _pick(lists: dict[str, list[str]], buckets: list[int] | None) -> list[str]:
    if buckets is None:
        return [f for fs in lists.values() for f in fs]
    return [f for b in buckets for f in lists.get(str(b), [])]


@dataclass
class _Edit:
    """What one commit changes, independent of the head it lands on —
    applied by :func:`_derive` to the head it was planned against and,
    after a lost race, to the winner's head."""

    schema: T.StructType
    n_buckets: int
    stats: dict
    #: bucket id (str) -> files this commit adds to the base/delta/sdel
    #: lists (appended after the head's files)
    base: dict[str, list[str]] = field(default_factory=dict)
    delta: dict[str, list[str]] = field(default_factory=dict)
    sdel: dict[str, list[str]] = field(default_factory=dict)
    #: copy-on-write: buckets whose base/delta/sdel lists this commit
    #: replaces (a rewrite writes the buckets' *resolved* contents, so
    #: their delta/sdel files are folded in and dropped)
    replaces: list[int] | None = None
    #: merge-on-read resolution spec a delta commit publishes; None
    #: keeps the head's (and marks a non-delta commit)
    mor_meta: dict | None = None
    #: table properties; None keeps the head's
    props: dict | None = None
    source_id: str | None = None
    batch_id: int | None = None
    #: footer stats of the files in ``base``, harvested once before
    #: the first publish attempt
    file_stats: dict = field(default_factory=dict)

    @property
    def kind(self) -> str:
        if self.mor_meta is not None:
            return "delta"
        return "append" if self.replaces is None else "rewrite"


def _derive(head: Snapshot, edit: _Edit) -> Snapshot:
    """The snapshot that publishes ``edit`` on top of ``head``: its
    bucket-list edits, the exactly-once watermark ``max``, and the
    file stats of every base file still referenced plus the edit's
    own."""
    lists = [
        {b: list(fs) for b, fs in m.items()}
        for m in (head.buckets, head.delta_buckets, head.sdel_buckets)
    ]
    for b in edit.replaces or ():
        for m in lists:
            m.pop(str(b), None)
    for m, added in zip(lists, (edit.base, edit.delta, edit.sdel)):
        for b, fs in added.items():
            m.setdefault(b, []).extend(fs)
    buckets, delta_buckets, sdel_buckets = lists
    applied = dict(head.applied_batches)
    if edit.source_id is not None and edit.batch_id is not None:
        applied[edit.source_id] = max(
            edit.batch_id, applied.get(edit.source_id, -1)
        )
    referenced = {f for fs in buckets.values() for f in fs}
    file_stats = {
        f: s for f, s in head.file_stats.items() if f in referenced
    }
    file_stats.update(edit.file_stats)
    return replace(
        head,
        version=head.version + 1,
        parent=head.version,
        schema=edit.schema,
        n_buckets=edit.n_buckets,
        key_fields=list(head.key_fields),
        buckets=buckets,
        delta_buckets=delta_buckets,
        sdel_buckets=sdel_buckets,
        applied_batches=applied,
        stats=dict(edit.stats),
        mor_meta=dict(head.mor_meta if edit.mor_meta is None else edit.mor_meta),
        props=dict(head.props if edit.props is None else edit.props),
        file_stats=file_stats,
        commit_ts=None,
    )


def _rebase(latest: Snapshot, base: Snapshot, edit: _Edit) -> None:
    """Decide whether a commit planned against ``base`` that lost the
    publish race to ``latest`` may be re-published on top of it,
    reusing its written files; raise :class:`CommitConflict` if not
    (the caller refreshes and redoes the batch from current state —
    the conservative Iceberg ``validate*`` posture):

    * any schema change on either side declines — evolution must
      re-read the head to re-plan coercion;
    * table layout (bucket count/key, pk) must be unchanged;
    * exactly-once: if the head already applied our (source, batch),
      re-publishing would double-apply it — decline and let the
      caller's watermark check skip the batch;
    * an append is always rebasable — new files are additive no
      matter what the concurrent commits did;
    * a delta commit is rebasable only if the delta/sdel file lists
      are untouched between base and head — a concurrent delta commit
      would interleave with our files' stamped ``__seq`` (which must
      stay unique and correctly ordered in the resolution sequence),
      and a concurrent compaction folds the lists our commit was
      planned from; concurrent pure appends are fine (deltas resolve
      over base rows regardless of commit order);
    * a rewrite is rebasable only if no concurrent commit touched the
      rewritten buckets' base/delta/sdel lists — a rewrite folds those
      buckets' state, so any concurrent change to them would be
      silently lost.
    """

    def decline(why: str):
        raise CommitConflict(
            f"cannot rebase {edit.kind} commit onto version "
            f"{latest.version}: {why}"
        )

    def layout(s: Snapshot) -> tuple:
        return s.n_buckets, s.bucket_key, list(s.key_fields)

    if latest.schema != base.schema:
        decline("a concurrent commit changed the table schema")
    if edit.schema != base.schema:
        decline("this commit changes the schema; refresh and re-plan")
    if layout(latest) != layout(base):
        decline("a concurrent commit changed the table layout")
    if edit.n_buckets != base.n_buckets:
        decline("this commit changes the table layout (rebucket); "
                "refresh and re-plan")
    if (
        edit.source_id is not None
        and edit.batch_id is not None
        and latest.applied_batches.get(edit.source_id, -1) >= edit.batch_id
    ):
        decline(
            f"batch {edit.batch_id} from source {edit.source_id!r} was "
            f"already applied by a concurrent writer (exactly-once)"
        )
    if edit.mor_meta is not None and (
        latest.delta_buckets != base.delta_buckets
        or latest.sdel_buckets != base.sdel_buckets
    ):
        decline(
            "concurrent delta/sdel commits would interleave the "
            "__seq resolution order"
        )
    for bi in edit.replaces or ():
        b = str(bi)
        if any(
            getattr(latest, m).get(b) != getattr(base, m).get(b)
            for m in ("buckets", "delta_buckets", "sdel_buckets")
        ):
            decline(f"a concurrent commit touched rewritten bucket {b}")


class LakeTable:
    """Handle on a snapshot-versioned bucketed parquet table."""

    #: optimistic-concurrency retry budget: on a lost publish race the
    #: writer re-reads the winner's snapshot, validates no semantic
    #: conflict (see :func:`_rebase`), and re-publishes its
    #: already-written files against the new head — the Delta/Iceberg
    #: commit-retry protocol. 0 disables rebasing (the first conflict
    #: raises, pre-round-6 behavior).
    max_commit_retries = 5

    def __init__(self, spark: SparkSession, path: str, snapshot: Snapshot):
        self.spark = spark
        self.path = path
        self.snapshot = snapshot

    # -- lifecycle ----------------------------------------------------

    @staticmethod
    def exists(path: str) -> bool:
        log = os.path.join(path, _LOG_DIR)
        return os.path.isdir(log) and any(
            n.startswith("v") and n.endswith(".json") for n in os.listdir(log)
        )

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        n_buckets: int = 16,
        key_fields: tuple[str, ...] | list[str] = (),
        bucket_key: str | None = None,
        props: dict | None = None,
    ) -> "LakeTable":
        if cls.exists(path):
            raise FileExistsError(f"lake table already exists at {path}")
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        key_fields = list(key_fields)
        snap = Snapshot(
            version=0,
            schema=schema,
            n_buckets=n_buckets,
            key_fields=key_fields,
            bucket_key=bucket_key or (key_fields[0] if key_fields else ""),
            buckets={},
            props=dict(props or {}),
        )
        t = cls(spark, path, snap)
        t._publish(snap)
        return t

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "LakeTable":
        snap = cls._read_latest(path)
        if snap is None:
            raise FileNotFoundError(f"no lake table at {path}")
        return cls(spark, path, snap)

    def refresh(self) -> "LakeTable":
        snap = self._read_latest(self.path)
        assert snap is not None
        self.snapshot = snap
        return self

    # -- read ---------------------------------------------------------

    @property
    def schema(self) -> T.StructType:
        return self.snapshot.schema

    @property
    def version(self) -> int:
        return self.snapshot.version

    def read_schema(self, include_bucket: bool = False) -> T.StructType:
        fields = list(self.snapshot.schema.fields)
        if include_bucket:
            fields.append(T.StructField(BUCKET_COL, T.IntegerType(), True))
        return T.StructType(fields)

    def read(
        self,
        buckets: list[int] | None = None,
        include_bucket: bool = False,
        version: int | None = None,
        where: list[tuple] | None = None,
    ) -> DataFrame:
        """Read the table (optionally pruned to ``buckets``).

        The explicit schema projection is what makes schema evolution
        free: files written before a column was added simply yield NULL
        for it (parquet missing-column semantics), exactly the
        null-backfill behavior of ``auto.evolve`` in the reference.

        When the snapshot carries merge-on-read delta files for the
        requested buckets, base rows and deltas are merged per key at
        read time (see :mod:`.mor`); otherwise this is a plain
        bucket-pruned parquet scan.

        ``where`` — a conjunction of ``(col, op, literal)`` predicates
        (see :mod:`.stats`) — enables FILE-LEVEL DATA SKIPPING: base
        files whose footer min/max prove no matching rows are dropped
        from the scan, and the predicate is re-applied to surviving
        rows, so ``read(where=P)`` returns exactly
        ``read().filter(P)``. Buckets carrying unresolved MOR deltas
        are never file-pruned (a soft-delete overlay resolves against
        base-row columns, so every base row must be present); run
        compaction to restore skippability there.
        """
        snap = self.snapshot if version is None else self._read_version(version)
        base_schema = T.StructType(
            list(snap.schema.fields)
            + [T.StructField(BUCKET_COL, T.IntegerType(), True)]
        )

        def base(bs: list[int] | None, pred=None) -> DataFrame:
            rel = snap.files(bs)
            if pred is not None and snap.file_stats:
                rel = stats_mod.prune_files(snap.file_stats, rel, pred)
            return self._scan(rel, base_schema)

        # only buckets that actually carry deltas (pk deltas or
        # subset-delete overlays) pay the resolve join; the rest are a
        # plain parquet scan unioned in
        hot_ids = snap.mor_bucket_ids()
        requested = range(snap.n_buckets) if buckets is None else buckets
        hot = [b for b in requested if b in hot_ids]
        if not hot:
            df = base(buckets, where)
        else:
            cold = [b for b in requested if b not in hot_ids]
            sdels = snap.sdel_files(hot)
            meta = snap.mor_meta
            deltas = self._scan(
                snap.delta_files(hot),
                mor.delta_schema(snap.schema, snap.key_fields),
            )
            df = mor.resolve(
                base(hot),
                mor.fold_deltas(deltas, list(snap.key_fields), meta),
                snap, meta, carry_pos=bool(sdels),
            )
            if sdels:
                df = mor.apply_subset_overlays(
                    df,
                    self._scan(sdels, mor.sdel_schema(
                        snap.schema, snap.key_fields,
                        list(meta.get("sdel_key") or []),
                    )),
                    snap, meta,
                )
            if cold:
                df = df.unionByName(base(cold, where))
        if where is not None:
            df = df.filter(stats_mod.predicate_column(where))
        return df if include_bucket else df.drop(BUCKET_COL)

    def count(self, where: list[tuple] | None = None) -> int:
        """Row count, equal to ``read(where=...).count()`` but answered
        from manifest metadata wherever stats allow (the Delta
        ``SELECT COUNT(*)``-from-stats idea, generalized to range
        predicates via :func:`.stats.file_fully_matches`):

        * files whose stats PROVE every row matches contribute their
          manifest row count — zero I/O;
        * files whose stats prove no row matches are skipped — zero I/O;
        * only BOUNDARY files (stats can't decide) are scanned, with
          the residual predicate applied.

        Buckets carrying unresolved MOR deltas fall back to the resolve
        path (delta rows change counts positionlessly). At 100 TB a
        "rows since T" count over a time-clustered table touches ~one
        boundary file per bucket instead of the table.
        """
        snap = self.snapshot
        delta_ids = snap.mor_bucket_ids()
        total = 0
        if delta_ids:
            hot = sorted(delta_ids)
            total += self.read(buckets=hot, where=where).count()
        cold = [b for b in range(snap.n_buckets) if b not in delta_ids]
        partial: list[str] = []
        for f in snap.files(cold):
            ent = snap.file_stats.get(f)
            rows = ent.get("rows") if ent else None
            if rows is None:
                partial.append(f)
            elif where is None or stats_mod.file_fully_matches(ent, where):
                total += rows
            elif stats_mod.file_may_match(ent, where):
                partial.append(f)
            # else: proven empty under the predicate — skip
        if partial:
            df = self._scan(partial, snap.schema)
            if where is not None:
                df = df.filter(stats_mod.predicate_column(where))
            total += df.count()
        return total

    def min_max(self, cols: list[str]) -> dict[str, tuple]:
        """Per-column ``(min, max)`` equal to
        ``read().agg(min(c), max(c))``, answered from manifest stats
        wherever possible (:func:`.stats.bounds_from_stats`): only
        files whose footer bounds are unusable — plus every file of a
        FLOAT column (hidden NaN is Spark's max but invisible to
        parquet stats) and every MOR-hot bucket (deltas change values)
        — are scanned, in ONE job for all requested columns. On a
        time-clustered 100 TB table, "newest event ts" is pure
        metadata."""
        snap = self.snapshot
        delta_ids = snap.mor_bucket_ids()
        cold = [b for b in range(snap.n_buckets) if b not in delta_ids]
        out: dict[str, tuple] = {}
        scan_files: set[str] = set()
        for c in cols:
            lo, hi, undecided = stats_mod.bounds_from_stats(
                snap.file_stats, snap.files(cold), c
            )
            out[c] = (lo, hi)
            scan_files.update(undecided)
        # min/max merging is idempotent, so scanning a file for a
        # column whose stats already covered it cannot change the
        # result — one aggregate over the union handles all columns
        frames = []
        if scan_files:
            frames.append(self._scan(sorted(scan_files), snap.schema))
        if delta_ids:
            frames.append(
                self.read(buckets=sorted(delta_ids)).select(
                    *[F.col(f.name) for f in snap.schema.fields]
                )
            )
        if frames:
            df = frames[0]
            for f in frames[1:]:
                df = df.unionByName(f)
            row = df.agg(
                *[g for c in cols
                  for g in (F.min(c).alias(f"lo_{c}"),
                            F.max(c).alias(f"hi_{c}"))]
            ).collect()[0]

            def _merge(a, b, fn):
                if a is None:
                    return b
                if b is None:
                    return a
                return fn(a, b)

            for c in cols:
                lo, hi = out[c]
                out[c] = (
                    _merge(lo, row[f"lo_{c}"], min),
                    _merge(hi, row[f"hi_{c}"], max),
                )
        return out

    def _scan(self, files: list[str], schema: T.StructType) -> DataFrame:
        """Parquet scan of table-relative ``files`` under ``schema``;
        an empty list yields an empty frame."""
        if not files:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(
            *[os.path.join(self.path, f) for f in files]
        )

    def history(self) -> list[int]:
        log = os.path.join(self.path, _LOG_DIR)
        return sorted(
            int(n[1:-5]) for n in os.listdir(log)
            if n.startswith("v") and n.endswith(".json")
        )

    def describe_history(self, limit: int | None = None) -> list[dict]:
        """Commit audit trail, newest first (Delta ``DESCRIBE
        HISTORY`` analog): one dict per retained snapshot with the
        commit time, an OPERATION inferred from the snapshot deltas
        (create / append / merge-rewrite / delta-commit / compaction /
        metadata / restore / rebucket / …), the commit's stats, batch
        watermarks, and file/bucket deltas. Driver-side manifest reads
        only — bounded by retained versions (``limit`` caps how many
        are parsed)."""
        versions = list(reversed(self.history()))
        if limit is not None:
            versions = versions[: limit + 1]  # +1: parents for deltas
        snaps = {v: self._read_version(v) for v in versions}

        def op_of(s: Snapshot, parent: Snapshot | None) -> str:
            st = s.stats or {}
            if "restored_from" in st:
                return "RESTORE"
            if "rebucketed" in st:
                return "REBUCKET"
            if "compacted_buckets" in st:
                return "COMPACT"
            if "clustered_by" in st:
                return "CLUSTER"
            if "props_updated" in st:
                return "SET PROPERTIES"
            if parent is None:
                return "CREATE" if s.version == 0 else "UNKNOWN"
            if s.buckets == parent.buckets:
                if (s.delta_buckets != parent.delta_buckets
                        or s.sdel_buckets != parent.sdel_buckets):
                    return "DELTA COMMIT"
                if s.schema != parent.schema:
                    return "SCHEMA EVOLUTION"
                return "METADATA"
            old = {f for fs in parent.buckets.values() for f in fs}
            new = {f for fs in s.buckets.values() for f in fs}
            if not old:
                return "WRITE"  # initial load: nothing replaced
            return "APPEND" if old <= new else "REWRITE"

        out = []
        rows = versions if limit is None else versions[:limit]
        for v in rows:
            s = snaps[v]
            parent = snaps.get(s.parent) if s.parent is not None else None
            if parent is None and s.parent is not None:
                try:
                    parent = self._read_version(s.parent)
                except (FileNotFoundError, OSError):
                    parent = None  # vacuumed
            n_files = len(s.all_files())
            out.append({
                "version": v,
                "commit_ts": s.commit_ts,
                "operation": op_of(s, parent),
                "stats": dict(s.stats or {}),
                "n_buckets": s.n_buckets,
                "n_files": n_files,
                "files_delta": (
                    n_files - len(parent.all_files())
                    if parent is not None else n_files
                ),
                "applied_batches": dict(s.applied_batches),
            })
        return out

    def applied_batch(self, source_id: str) -> int:
        return self.snapshot.applied_batches.get(source_id, -1)

    # -- write --------------------------------------------------------

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            BUCKET_COL, bucket_expr(self.snapshot.bucket_key, self.snapshot.n_buckets)
        )

    def commit_rewrite(
        self,
        new_data: DataFrame,
        rewrite_buckets: list[int],
        new_schema: T.StructType | None = None,
        source_id: str | None = None,
        batch_id: int | None = None,
        stats: dict | None = None,
        preserve_layout: bool = False,
        new_n_buckets: int | None = None,
    ) -> Snapshot:
        """Copy-on-write commit: replace ``rewrite_buckets`` with the
        contents of ``new_data`` (which must carry ``__bucket`` and only
        rows belonging to those buckets); all other buckets carry over
        untouched. Optionally evolves the schema and records a batch id
        for exactly-once. Footer min/max stats of the written files are
        harvested into the snapshot (data skipping, :mod:`.stats`) — a
        metadata-only read of this commit's own files, like the
        Delta/Iceberg writer's stats collection.

        ``preserve_layout`` skips the default one-partition-per-bucket
        repartition and writes the caller's partitioning as-is — the
        hook :func:`.maintenance.cluster_by` uses to lay each bucket
        out as several files with disjoint clustering-column ranges
        (file count follows the caller's partitions).

        ``new_n_buckets`` changes the table's bucket count (the
        :func:`.maintenance.rebucket` hook): only valid for a
        FULL-table rewrite (``rewrite_buckets`` = every old bucket),
        and ``new_data``'s ``__bucket`` must already be assigned under
        the NEW count.
        """
        snap = self.snapshot
        schema = new_schema or snap.schema
        n_buckets = snap.n_buckets
        valid_ids = set(rewrite_buckets)
        if new_n_buckets is not None:
            if valid_ids != set(range(snap.n_buckets)):
                raise ValueError(
                    "changing n_buckets requires rewriting every bucket "
                    f"(got {sorted(rewrite_buckets)} of "
                    f"{snap.n_buckets})"
                )
            n_buckets = new_n_buckets
            valid_ids = set(range(n_buckets))
        name = self._new_dir("commit")

        def build() -> _Edit:
            # NOTE measured non-win: sortWithinPartitions(bucket, pk)
            # before the write changed written bytes by 0 (dictionary
            # encoding already absorbs repeated keys regardless of row
            # order) and showed no reproducible speed effect
            written = self._write_bucketed(
                new_data.select(*schema.fieldNames(), BUCKET_COL), name,
                None if preserve_layout else n_buckets,
            )
            for b in written:
                if int(b) not in valid_ids:
                    raise ValueError(
                        f"new_data contained rows for bucket {b} which is "
                        f"not in rewrite_buckets={rewrite_buckets}"
                    )
            return _Edit(
                schema=schema, n_buckets=n_buckets, stats=stats or {},
                base=written, replaces=list(rewrite_buckets),
                source_id=source_id, batch_id=batch_id,
            )

        return self._commit(build, name)

    def commit_append(
        self,
        new_data: DataFrame,
        new_schema: T.StructType | None = None,
        source_id: str | None = None,
        batch_id: int | None = None,
        stats: dict | None = None,
    ) -> Snapshot:
        """Append-only commit: new files are *added* to their buckets,
        existing files are untouched (no copy-on-write)."""
        snap = self.snapshot
        schema = new_schema or snap.schema
        name = self._new_dir("commit")
        return self._commit(lambda: _Edit(
            schema=schema, n_buckets=snap.n_buckets, stats=stats or {},
            base=self._write_bucketed(
                new_data.select(*schema.fieldNames(), BUCKET_COL), name,
                snap.n_buckets,
            ),
            source_id=source_id, batch_id=batch_id,
        ), name)

    def commit_delta(
        self,
        delta_rows: DataFrame,
        mor_meta: dict,
        new_schema: T.StructType | None = None,
        source_id: str | None = None,
        batch_id: int | None = None,
        stats: dict | None = None,
        sdel_rows: DataFrame | None = None,
    ) -> Snapshot:
        """Merge-on-read commit: append the batch's collapsed change
        set as per-bucket **delta files**; base files are untouched
        (bytes written ~ batch size, not table size). ``delta_rows``
        must have the :mod:`.mor` delta layout minus ``__seq`` — the
        committing version stamps it (the cross-batch resolution
        order). ``sdel_rows`` (subset-key delete lists, same minus
        ``__seq``) commit alongside under the same version."""
        snap = self.snapshot
        name = self._new_dir("delta")
        sdel_name = f"s{name}"

        def write(rows: DataFrame, dir_name: str) -> dict[str, list[str]]:
            seq = F.lit(snap.version + 1).cast("long")
            return self._write_bucketed(
                rows.withColumn("__seq", seq), dir_name, snap.n_buckets
            )

        return self._commit(lambda: _Edit(
            schema=new_schema or snap.schema, n_buckets=snap.n_buckets,
            stats=stats or {}, delta=write(delta_rows, name),
            sdel={} if sdel_rows is None else write(sdel_rows, sdel_name),
            mor_meta=mor_meta, source_id=source_id, batch_id=batch_id,
        ), name, sdel_name)

    def set_props(self, updates: dict) -> Snapshot:
        """Update table properties as a metadata-only commit (Delta
        ``ALTER TABLE SET TBLPROPERTIES`` analog). ``None`` values
        remove keys. Property changes take effect for SUBSEQUENT
        commits — e.g. enabling ``bloom.cols`` builds blooms for
        files written from the next commit on (existing files simply
        have no bloom and are never bloom-skipped)."""
        props = dict(self.snapshot.props)
        for k, v in updates.items():
            if v is None:
                props.pop(k, None)
            else:
                props[k] = v
        return self.commit_metadata(
            self.snapshot.schema,
            stats={"props_updated": sorted(updates)},
            new_props=props,
        )

    def commit_metadata(
        self, new_schema: T.StructType, stats: dict | None = None,
        new_props: dict | None = None,
    ) -> Snapshot:
        """Metadata-only commit (e.g. pure schema evolution). A lost
        race raises :class:`CommitConflict`; there is no rebase."""
        snap = self.snapshot
        return self._advance(_derive(snap, _Edit(
            schema=new_schema, n_buckets=snap.n_buckets,
            stats=stats or {}, props=new_props,
        )))

    def overwrite(self, df: DataFrame, source_id: str | None = None,
                  batch_id: int | None = None) -> Snapshot:
        """Full-table rewrite (used by tests and compaction)."""
        data = self.with_bucket(df) if BUCKET_COL not in df.columns else df
        return self.commit_rewrite(
            data, list(range(self.snapshot.n_buckets)),
            source_id=source_id, batch_id=batch_id,
        )

    def restore(self, version: int) -> Snapshot:
        """Roll the table back to ``version`` as a NEW metadata-only
        commit (Delta ``RESTORE`` / Iceberg rollback semantics): the
        new snapshot's contents — schema, bucket/delta/sdel file
        lists, MOR resolution spec, file stats AND exactly-once batch
        watermarks — are ``version``'s, while history is preserved
        (the rolled-past commits stay addressable by time travel until
        vacuumed, and the restore itself is one more commit with
        ``stats.restored_from`` recording provenance).

        Restoring the watermarks is deliberate: a stream replaying
        from its checkpoint after a restore re-applies every batch
        committed after ``version`` (``applied_batch`` is below them
        again), which is exactly the rewind-and-reprocess operation a
        CDC operator wants — state and watermark rewind TOGETHER, so
        replay converges to the pre-restore head instead of skipping
        the replayed batches against rolled-back state.

        No data is written or deleted. The target version's manifest
        and every data file it references must still exist (``vacuum``
        may have removed either); missing files raise before anything
        is published. Restoring to the current version is a no-op
        commit and is rejected. Downstream consumers see the restore
        through the ordinary change feed: ``table_changes`` across a
        restore commit falls back to the generic keywise diff (its
        base-bucket lists differ) and emits the inverse of the
        rolled-back changes.
        """
        snap = self.snapshot
        if version == snap.version:
            raise ValueError(
                f"table is already at version {version}; nothing to restore"
            )
        try:
            target = self._read_version(version)
        except FileNotFoundError:
            raise ValueError(
                f"version {version} is not retained (vacuumed or never "
                f"existed); retained: {self.history()}"
            ) from None
        missing = [
            f for f in target.all_files()
            if not os.path.isfile(os.path.join(self.path, f))
        ]
        if missing:
            raise ValueError(
                f"cannot restore to version {version}: {len(missing)} data "
                f"file(s) it references were removed by vacuum "
                f"(first: {missing[0]})"
            )
        # the target's contents re-headed on the current version: the
        # restore is one more commit on top of it, no rebase
        return self._advance(_derive(
            replace(target, version=snap.version),
            _Edit(schema=target.schema, n_buckets=target.n_buckets,
                  stats={"restored_from": version}),
        ))

    # -- internals ----------------------------------------------------

    def _new_dir(self, prefix: str) -> str:
        """Name of a fresh data directory for the next commit."""
        return f"{prefix}-{self.snapshot.version + 1:010d}-{uuid.uuid4().hex[:8]}"

    def _write_bucketed(
        self, rows: DataFrame, dir_name: str, n_partitions: int | None
    ) -> dict[str, list[str]]:
        """Write ``rows`` (carrying ``__bucket``) under
        ``data/<dir_name>``, one directory per bucket, and return
        ``{bucket: sorted table-relative files}``.

        ``n_partitions`` pins the write to that many tasks hashed on
        the bucket: an AQE-coalescible ``repartition(col)`` collapses a
        small commit to ONE task that then writes every bucket's file
        SERIALLY — per-file writer overhead (open/zstd/footer/commit)
        is invisible to AQE's byte-based sizing and measured ~1 s per
        micro-batch. ``None`` writes the caller's partitioning as is.
        """
        rel = os.path.join(_DATA_DIR, dir_name)
        out = os.path.join(self.path, rel)
        rows = rows.withColumn(_PART_DIR_COL, F.col(BUCKET_COL))
        if n_partitions is not None:
            rows = rows.repartition(n_partitions, F.col(BUCKET_COL))
        rows.write.partitionBy(_PART_DIR_COL).parquet(out)
        prefix = f"{_PART_DIR_COL}="
        return {
            name[len(prefix):]: sorted(
                os.path.join(rel, name, f)
                for f in os.listdir(os.path.join(out, name))
                if f.endswith(".parquet")
            )
            for name in os.listdir(out)
            if name.startswith(prefix)
        }

    def _harvest(self, props: dict, new_files: list[str]) -> dict:
        """Footer stats (plus opt-in blooms) of this commit's files."""
        harvested = stats_mod.harvest_file_stats(self.path, new_files)
        spec = stats_mod.bloom_spec(props)
        if spec:
            # opt-in (`bloom.cols` table property): reads the indexed
            # columns of THIS commit's files only
            blooms = stats_mod.harvest_blooms(self.path, new_files, spec)
            for rel, per_col in blooms.items():
                ent = harvested.setdefault(rel, {"cols": {}})
                for c, b in per_col.items():
                    ent.setdefault("cols", {}).setdefault(c, {})["bloom"] = b
        return harvested

    def _commit(self, build, *dir_names: str) -> Snapshot:
        """Run ``build`` — it writes this commit's files into
        ``dir_names`` and returns the :class:`_Edit` — harvest the new
        base files' stats, and publish; on a lost race, rebase onto the
        winner's head and retry (up to ``max_commit_retries``).

        The data dirs are removed on any failure before the first
        publish, and on a declined rebase or an exhausted budget
        (:class:`CommitConflict`) — the only points at which no
        published snapshot can reference them."""
        dirs = [os.path.join(self.path, _DATA_DIR, n) for n in dir_names]

        def remove_dirs():
            for d in dirs:
                shutil.rmtree(d, ignore_errors=True)

        base = self.snapshot
        try:
            edit = build()
            new_files = [f for fs in edit.base.values() for f in fs]
            if new_files:
                edit.file_stats = self._harvest(base.props, new_files)
            snap = _derive(base, edit)
        except BaseException:
            remove_dirs()
            raise
        attempt = 0
        while True:
            try:
                return self._advance(snap)
            except CommitConflict:
                attempt += 1
                try:
                    if attempt > self.max_commit_retries:
                        raise
                    latest = self._read_latest(self.path)
                    _rebase(latest, base, edit)
                except CommitConflict:
                    remove_dirs()
                    raise
                snap = _derive(latest, edit)

    def _advance(self, snap: Snapshot) -> Snapshot:
        self._publish(snap)
        self.snapshot = snap
        return snap

    def version_as_of(self, ts: float) -> int:
        """Latest version whose commit time is <= ``ts`` (epoch
        seconds) — the Delta/Iceberg ``AS OF TIMESTAMP`` resolution
        rule. Walks the manifest log NEWEST-FIRST reading only each
        manifest's ``commit_ts`` field (no schema/bucket-list parse)
        and stops at the first hit, which IS the maximum qualifying
        version regardless of clock ordering — typical queries ask for
        recent timestamps, so this touches one or two manifests.
        Raises when every retained snapshot is newer than ``ts`` (the
        state at that time is vacuumed or predates the table)."""
        for v in reversed(self.history()):
            cts = self._commit_ts_of(v)
            if cts is not None and cts <= ts:
                return v
        raise ValueError(
            f"no snapshot committed at or before ts={ts}; earliest "
            f"retained versions: {self.history()[:3]}"
        )

    def _commit_ts_of(self, version: int) -> float | None:
        """Extract one manifest's ``commit_ts`` without a full JSON
        parse: the manifest is written with ``indent=1, sort_keys``,
        so ``"commit_ts"`` is a top-level key on its own line —
        chunk-scan the raw text and stop at the first match (the
        parse of a large snapshot's bucket lists is the cost this
        avoids; the read itself short-circuits once found)."""
        # the trailing \n is load-bearing: with MULTILINE `$` the
        # pattern also matches end-of-buffer, so a value straddling a
        # chunk boundary mid-number would "match" its truncated digit
        # prefix and silently corrupt time-travel resolution
        pat = re.compile(rb'^ "commit_ts": ([0-9.eE+-]+|null),?\n',
                         re.MULTILINE)
        path = os.path.join(self.path, _LOG_DIR, f"v{version:020d}.json")
        carry = b""
        with open(path, "rb") as fh:
            while chunk := fh.read(1 << 16):
                m = pat.search(carry + chunk)
                if m:
                    val = m.group(1)
                    return None if val == b"null" else float(val)
                # keep an un-split tail in case the line straddles the
                # chunk boundary
                carry = (carry + chunk)[-64:]
        # no complete line found (foreign manifest layout / no final
        # newline) — pay the full parse rather than guessing
        with open(path, "rb") as fh:
            return json.load(fh).get("commit_ts")

    def read_as_of(self, ts: float, **kwargs) -> DataFrame:
        """Time travel by wall clock: read the table as it was at
        epoch-seconds ``ts``."""
        return self.read(version=self.version_as_of(ts), **kwargs)

    def _publish(self, snap: Snapshot) -> None:
        if snap.commit_ts is None:
            snap.commit_ts = time.time()
        log = os.path.join(self.path, _LOG_DIR)
        final = os.path.join(log, f"v{snap.version:020d}.json")
        tmp = os.path.join(log, f".tmp-{uuid.uuid4().hex}.json")
        with open(tmp, "w") as fh:
            fh.write(snap.to_json())
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # create-if-absent: atomic on POSIX; on an object store this
            # would be the catalog/LogStore putIfAbsent instead
            os.link(tmp, final)
        except FileExistsError as e:
            raise CommitConflict(
                f"version {snap.version} already committed at {final}"
            ) from e
        finally:
            os.unlink(tmp)

    @staticmethod
    def _read_latest(path: str) -> Snapshot | None:
        log = os.path.join(path, _LOG_DIR)
        if not os.path.isdir(log):
            return None
        names = sorted(
            n for n in os.listdir(log) if n.startswith("v") and n.endswith(".json")
        )
        if not names:
            return None
        with open(os.path.join(log, names[-1])) as fh:
            return Snapshot.from_json(fh.read())

    def _read_version(self, version: int) -> Snapshot:
        with open(
            os.path.join(self.path, _LOG_DIR, f"v{version:020d}.json")
        ) as fh:
            return Snapshot.from_json(fh.read())
