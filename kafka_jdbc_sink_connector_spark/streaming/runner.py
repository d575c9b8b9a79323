"""Structured Streaming runners: ``foreachBatch`` apply with bounded
retry and exactly-once restart semantics.

Maps the reference's task lifecycle (``JdbcAuditSinkTask.java``):

* ``put(records)`` → ``foreachBatch`` micro-batches driven by
  :class:`ForeachBatchRunner`, the one ``start``/``run_available``
  shell every runner (this module's and ``streaming/dedup.py``'s)
  shares,
* bounded retry with writer re-init + backoff
  (``JdbcAuditSinkTask.java:82-120``) → :func:`retrying`, the one
  retry loop every runner step goes through (each apply attempt loads
  the table head afresh — the writer re-init analog); Spark's own
  restart-from-checkpoint covers process death,
* offset commit after successful ``put`` → checkpoint commit after
  ``foreachBatch`` returns; a batch re-delivered after a crash hits
  the table's ``applied_batches`` watermark and is skipped, giving
  end-to-end exactly-once,
* topic→table routing (``JdbcAuditDbWriter.java:100-110``) →
  :class:`MultiTableRunner` splitting each micro-batch by topic.

Retry budgets: a step owned by one applier retries on that applier's
``cfg.max_retries``/``cfg.retry_backoff_ms``; steps no single applier
owns (the multi-table parse and followers, the pair-dedup batch body)
use :data:`RETRIES` x :data:`RETRY_BACKOFF_S`.
"""

from __future__ import annotations

import json
import logging
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from kafka_jdbc_sink_connector_spark.apply import BatchResult, CdcApplier
from kafka_jdbc_sink_connector_spark.config import ConfigError
from kafka_jdbc_sink_connector_spark.operators.evolution import (
    SchemaEvolutionError,
)
from kafka_jdbc_sink_connector_spark.operators.validate import (
    MissingRetainFieldError,
)

log = logging.getLogger(__name__)

#: deterministic failures — retrying replays the identical input
#: through the identical code, so fail fast instead of burning the
#: retry budget (the reference's RetriableException is reserved for
#: transient SQL/connection errors, JdbcAuditSinkTask.java:96-103)
NON_RETRIABLE = (ConfigError, SchemaEvolutionError, MissingRetainFieldError)

#: retry budget for steps that no single applier's config owns
RETRIES = 3
RETRY_BACKOFF_S = 0.5


def retrying(fn, attempts: int, backoff_s: float):
    """Return ``fn()``, calling it up to ``attempts`` times with
    ``backoff_s`` between calls. :data:`NON_RETRIABLE` errors raise at
    once; the last attempt's error raises as is; every swallowed error
    is logged at WARNING with its attempt number and traceback."""
    if attempts < 1:
        raise ValueError(f"attempts must be >= 1, got {attempts}")
    for attempt in range(1, attempts + 1):
        try:
            return fn()
        except NON_RETRIABLE:
            raise
        except Exception as e:  # noqa: BLE001 — mirror catch(SQLException)
            if attempt >= attempts:
                raise
            log.warning(
                "%s: attempt %d/%d failed, retrying in %.3fs: %r",
                getattr(fn, "__qualname__", fn), attempt, attempts,
                backoff_s, e, exc_info=True,
            )
            time.sleep(backoff_s)


def free_checkpoints(frames) -> None:
    """Release the blocks of ``localCheckpoint``-ed frames.
    ``DataFrame.unpersist()`` does not reach a local checkpoint: its
    blocks belong to the RDD behind the frame's LogicalRDD plan."""
    for df in frames:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)


class ForeachBatchRunner:
    """The ``foreachBatch`` shell shared by every runner: checkpoint
    location, source id for the exactly-once watermarks, the optional
    ``record_parser`` hook, the ``results`` log, and ``start`` /
    ``run_available``. Subclasses implement ``process_batch(batch_df,
    batch_id)``; ``start`` dispatches through ``self.process_batch`` so
    a wrapper installed on the class sees every micro-batch.

    A parsed micro-batch is read by several Spark jobs (the apply's
    stats job, quarantine write and merge; a multi-table split). A
    record parser is computed work — a Python Avro decode, a JSON
    parse — so :meth:`materialized` takes a lazy ``localCheckpoint`` of
    its output: the first job computes it, the later jobs read it back,
    and it is freed when the batch body returns or raises. Frames
    without a parser are plain scans and stay unmaterialized."""

    def __init__(self, checkpoint_dir: str, source_id: str, record_parser=None):
        self.checkpoint_dir = checkpoint_dir
        self.source_id = source_id
        self.record_parser = record_parser
        self.results: list = []

    def parse(self, batch_df: DataFrame) -> DataFrame:
        if self.record_parser is None:
            return batch_df
        return self.record_parser(batch_df)

    @contextmanager
    def materialized(self, parsed: DataFrame):
        """``parsed`` as the batch body reads it: lazily checkpointed
        when a record parser made it, freed on exit."""
        if self.record_parser is None:
            yield parsed
            return
        parsed = parsed.localCheckpoint(eager=False)
        try:
            yield parsed
        finally:
            free_checkpoints([parsed])

    def start(
        self,
        stream_df: DataFrame,
        available_now: bool = True,
        processing_time: str | None = None,
    ) -> StreamingQuery:
        writer = stream_df.writeStream.foreachBatch(
            lambda df, bid: self.process_batch(df, bid)
        ).option("checkpointLocation", self.checkpoint_dir)
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif processing_time:
            writer = writer.trigger(processingTime=processing_time)
        return writer.start()

    def run_available(self, stream_df: DataFrame, timeout_s: float = 600) -> list:
        """Process everything currently available, then stop."""
        q = self.start(stream_df, available_now=True)
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
        if q.exception() is not None:
            raise q.exception()
        return self.results


class CdcStreamRunner(ForeachBatchRunner):
    """Drives one streaming source into one destination table.

    ``record_parser`` is the engine-plumbed analog of the reference's
    converter layer (the Connect worker invokes the configured
    converters before ``put(records)`` ever sees a record;
    ``BufferedRecordsTest.java:94-99`` drives two registered schema
    versions through it): an optional callable ``DataFrame →
    DataFrame`` run INSIDE the managed ``foreachBatch`` on each
    micro-batch, before apply. This is where registry-driven Avro
    decode belongs — the per-batch schema-id harvest cannot run on the
    unbounded stream (:func:`..sources.kafka.parse_kafka_records`
    rejects streaming frames), but inside ``foreachBatch`` every
    micro-batch is a plain DataFrame::

        runner = CdcStreamRunner(
            applier, ckpt,
            record_parser=lambda df: parse_kafka_records(
                df, None, cfg, value_format="avro"),
        )
        runner.start(kafka_stream(spark, brokers, topic))

    The parser runs inside the retried apply, so a transiently
    unreachable registry gets the runner's backoff on top of the HTTP
    client's own retries. Its output is decoded once per attempt: the
    attempt takes a lazy ``localCheckpoint`` of the parsed frame
    (:meth:`ForeachBatchRunner.materialized`), the apply's stats job
    computes it, and the quarantine write and the merge read it back.
    A local checkpoint has no replica, so losing an executor loses its
    blocks and fails the attempt; the next attempt parses again from
    the source frame and checkpoints afresh. Every attempt's
    checkpoint is freed when the attempt returns or raises.

    ``followers`` are objects with an idempotent ``sync()`` —
    typically the maintained-view runners sharing one sync core
    (:class:`..streaming.cascade.ViewSync`: cascade, aggregate view,
    text index) — run after every applied batch INSIDE the managed
    ``foreachBatch``, so downstream silver/gold tables advance in
    lock-step with the ingest (the medallion pipeline in one streaming
    query). Each follower gets its own bounded retry; a follower
    failure fails the micro-batch, and on the stream's replay the
    apply skips via its watermark while the follower syncs the missed
    window — follower exactly-once rides the upstream-version
    watermark, so the composition is crash-safe end-to-end.
    """

    def __init__(
        self,
        applier: CdcApplier,
        checkpoint_dir: str,
        source_id: str = "stream",
        record_parser=None,
        followers: list | None = None,
        maintenance_every_batches: int | None = None,
        maintenance_kwargs: dict | None = None,
    ):
        super().__init__(checkpoint_dir, source_id, record_parser)
        self.applier = applier
        self.followers = list(followers or [])
        #: stats-driven maintenance cadence: every N batches run
        #: ``lake.maintenance.plan(table, execute=True, **kwargs)`` —
        #: the policy decides WHETHER anything (compact / cluster /
        #: vacuum) is actually needed from the manifest, so an idle
        #: cadence tick costs one metadata scan and no jobs
        self.maintenance_every_batches = maintenance_every_batches
        self.maintenance_kwargs = dict(maintenance_kwargs or {})
        #: plan() results per cadence tick, for observability/tests
        self.maintenance_log: list = []

    # foreachBatch body — public so tests can drive it directly
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> BatchResult:
        cfg = self.applier.cfg
        attempts = cfg.max_retries + 1
        backoff_s = cfg.retry_backoff_ms / 1000.0

        def parse_and_apply() -> BatchResult:
            with self.materialized(self.parse(batch_df)) as events:
                return self.applier.apply_batch(
                    events, batch_id=batch_id, source_id=self.source_id
                )

        res = retrying(parse_and_apply, attempts, backoff_s)
        self.results.append(res)

        # compaction runs OUTSIDE the retried apply: a failed compaction
        # must not re-enter the apply retry (where the now-applied batch
        # would be skipped and a duplicate skipped result appended) — it
        # gets its own bounded retry, and the batch result stands either way
        def housekeeping() -> None:
            self._maybe_compact(batch_id, skipped=res.skipped)
            self._maybe_maintain(batch_id, skipped=res.skipped)

        retrying(housekeeping, attempts, backoff_s)
        # followers (cascades) after the batch landed — same bounded
        # retry; their own upstream-version watermarks make a replayed
        # or crash-retried sync idempotent
        for follower in self.followers:
            retrying(follower.sync, attempts, backoff_s)
        return res

    def _maybe_compact(self, batch_id: int, skipped: bool) -> None:
        """MOR housekeeping off the apply path: fold delta files back
        into base every ``mor_compact_every_batches`` batches, bounding
        read amplification between external maintenance runs."""
        cfg = self.applier.cfg
        every = cfg.mor_compact_every_batches
        if (
            skipped
            or every is None
            or cfg.merge_mode != "mor"
            or batch_id <= 0
            or batch_id % every
        ):
            return
        from kafka_jdbc_sink_connector_spark.lake.maintenance import compact

        table = self.applier.table()
        if table is not None and table.snapshot.delta_files():
            compact(table)

    def _maybe_maintain(self, batch_id: int, skipped: bool) -> None:
        """Stats-driven housekeeping cadence: every
        ``maintenance_every_batches`` batches, let
        :func:`..lake.maintenance.plan` read the manifest and execute
        whatever it recommends. Replay-safe for the same reason
        compaction is: a maintenance commit is a rewrite/metadata
        commit outside the batch watermark, and a crash-replayed batch
        skips the apply then simply re-evaluates the (now satisfied)
        policy — idempotent, at worst a redundant metadata scan."""
        every = self.maintenance_every_batches
        if skipped or every is None or batch_id <= 0 or batch_id % every:
            return
        from kafka_jdbc_sink_connector_spark.lake.maintenance import plan

        table = self.applier.table()
        if table is None:
            return
        kw = dict(self.maintenance_kwargs)
        # a policy-triggered vacuum must never drop the versions the
        # followers' change-feed watermarks still point at — their
        # next sync reads table_changes(watermark, head), and a
        # vacuumed watermark manifest wedges the stream until a
        # manual full_refresh. Floor the retention at the oldest
        # follower watermark as a VERSION bound evaluated inside
        # vacuum at execution time (a keep-N count computed here
        # would go stale when this same tick's compact/cluster
        # commits land before the vacuum runs).
        wmarks = [
            f.watermark()
            for f in self.followers
            if hasattr(f, "watermark")
        ]
        live_wmarks = [w for w in wmarks if w is not None and w >= 0]
        if live_wmarks:
            wmin = min(live_wmarks)
            prev = kw.get("vacuum_keep_from_version")
            kw["vacuum_keep_from_version"] = (
                wmin if prev is None else min(prev, wmin)
            )
        self.maintenance_log.append(
            (batch_id, plan(table, execute=True, **kw))
        )

    def metrics(self) -> dict:
        """Throughput summary over this runner's processed batches."""
        applied = [r for r in self.results if not r.skipped]
        total_events = sum(r.n_events for r in applied)
        total_sec = sum(r.seconds for r in applied)
        return {
            "n_batches": len(applied),
            "n_skipped": sum(1 for r in self.results if r.skipped),
            "n_events": total_events,
            "n_quarantined": sum(r.n_quarantined for r in applied),
            "seconds": round(total_sec, 3),
            "events_per_sec": round(total_events / total_sec, 1)
            if total_sec
            else None,
        }


class MultiTableRunner(ForeachBatchRunner):
    """Routes one stream to many destination tables by a topic column
    (reference O3/O4: ``table.name.format`` + per-table buffers).

    Cross-table batch atomicity: the reference commits ONE JDBC
    transaction per ``put()`` spanning every routed table
    (``JdbcAuditDbWriter.java:63-94``, commit at ``:84``). Lake tables
    commit per-table, so this runner reproduces the consistency point
    with a COMMIT-GROUP MARKER: after every table routed in the batch
    has committed, an atomically-renamed JSON record under
    ``group_dir`` maps each table to a version that contains every
    batch ≤ ``batch_id``. Readers wanting the reference's "whole
    batch or nothing" view go through :meth:`read_consistent`, which
    pins each table to its marker version — a crash between table A's
    and table B's commits leaves no marker, so such readers never see
    the partial batch, and the per-table watermarks make the restart
    replay converge (table A skips, table B applies) before the
    marker for that batch is finally published.

    ``results`` holds one :class:`BatchResult` per routed table per
    batch, in topic order.
    """

    def __init__(
        self,
        applier_factory,
        checkpoint_dir: str,
        topic_column: str = "topic",
        source_id: str = "stream",
        record_parser=None,
        followers: list | None = None,
        group_dir: str | None = None,
    ):
        #: same converter-layer hook as CdcStreamRunner; the parser
        #: must PRESERVE the topic column (parse_kafka_records:
        #: keep_topic=True) or routing has nothing to split on. The
        #: parse runs before any applier exists, so its retry uses the
        #: module budget instead of a per-table cfg. Its output is
        #: checkpointed once per batch, outside the per-topic apply
        #: retries: a block lost with an executor fails the batch, and
        #: the stream's replay parses again (committed topics skip on
        #: their watermarks)
        super().__init__(checkpoint_dir, source_id, record_parser)
        #: topic -> CdcApplier, created lazily like the per-table
        #: BufferedRecords map (JdbcAuditDbWriter.java:63-83)
        self.appliers: dict[str, CdcApplier] = {}
        self.applier_factory = applier_factory
        self.topic_column = topic_column
        #: same post-apply cascade hook as CdcStreamRunner.followers —
        #: run after EVERY table routed in the batch has applied (a
        #: follower may tail any of them; its own upstream-version
        #: watermark makes replays idempotent)
        self.followers = list(followers or [])
        #: commit-group marker log (see class docstring); lives beside
        #: the stream's own checkpoint state by default
        self.group_dir = group_dir or os.path.join(
            checkpoint_dir, "_commit_groups"
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        parsed = retrying(
            lambda: self.parse(batch_df), RETRIES + 1, RETRY_BACKOFF_S
        )
        with self.materialized(parsed) as parsed:
            # the topic split job computes the checkpoint; every
            # topic's apply reads it back
            topics = [
                r[0]
                for r in parsed.select(self.topic_column).distinct().collect()
            ]
            for topic in sorted(topics):
                applier = self.appliers.get(topic)
                if applier is None:
                    applier = self.applier_factory(topic)
                    self.appliers[topic] = applier
                sub = parsed.filter(
                    F.col(self.topic_column) == topic
                ).drop(self.topic_column)
                # same bounded retry as the single-table runner; a topic
                # that already applied this batch id skips via the
                # per-table watermark, so retrying after a partial
                # failure re-applies only the topics that didn't commit
                self.results.append(retrying(
                    lambda: applier.apply_batch(
                        sub, batch_id=batch_id, source_id=self.source_id
                    ),
                    applier.cfg.max_retries + 1,
                    applier.cfg.retry_backoff_ms / 1000.0,
                ))
        # every routed table committed — publish the batch's
        # consistency point (JdbcAuditDbWriter.java:84's commit)
        self._publish_group(batch_id)
        for follower in self.followers:
            retrying(follower.sync, RETRIES + 1, RETRY_BACKOFF_S)

    # -- commit groups -------------------------------------------------

    def _group_path(self, batch_id: int) -> str:
        return os.path.join(self.group_dir, f"g{batch_id:020d}.json")

    def _group_ids(self) -> list[int]:
        """Batch ids of every published commit-group marker, ascending."""
        if not os.path.isdir(self.group_dir):
            return []
        return sorted(
            int(n[1:-5])
            for n in os.listdir(self.group_dir)
            if n.startswith("g") and n.endswith(".json")
        )

    def latest_group_id(self) -> int | None:
        """Highest batch id with a published commit-group marker."""
        ids = self._group_ids()
        return ids[-1] if ids else None

    def read_group(self, batch_id: int) -> dict:
        with open(self._group_path(batch_id)) as fh:
            return json.load(fh)

    def _publish_group(self, batch_id: int) -> None:
        """Atomically (tmp + rename) record, for every table this
        runner has ever routed to, a version containing every batch ≤
        ``batch_id``. Tables untouched by THIS batch carry forward
        from the previous marker — their older version still contains
        all their batches ≤ ``batch_id`` (they had no rows in the
        newer ones), so the group stays a consistent cut. A replayed
        batch republishes the same marker idempotently."""
        prev = self.latest_group_id()
        tables: dict[str, dict] = {}
        if prev is not None:
            tables.update(self.read_group(prev)["tables"])
        for topic, applier in self.appliers.items():
            t = applier.table()
            if t is not None:
                tables[topic] = {
                    "path": os.path.abspath(applier.table_path),
                    "version": t.version,
                }
        rec = {
            "batch_id": batch_id,
            "source_id": self.source_id,
            "tables": tables,
        }
        os.makedirs(self.group_dir, exist_ok=True)
        tmp = self._group_path(batch_id) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(rec, fh, indent=1, sort_keys=True)
        os.replace(tmp, self._group_path(batch_id))

    def expire_groups(self, keep_groups: int) -> int:
        """Retention for the commit-group log: drop all but the newest
        ``keep_groups`` markers (one tiny JSON per batch, but an
        unbounded stream writes unboundedly many). Keep at least as
        many groups as table versions your vacuum retains — a marker
        older than the vacuum window is unreadable anyway (same
        contract as time travel)."""
        if keep_groups < 1:
            raise ValueError("keep_groups must be >= 1")
        expired = self._group_ids()[:-keep_groups]
        for gid in expired:
            os.unlink(self._group_path(gid))
        return len(expired)

    def read_consistent(
        self, spark, batch_id: int | None = None
    ) -> dict[str, DataFrame]:
        """The reference's post-commit view of "the batch": every
        routed table pinned to its marker version, so either ALL of a
        batch's per-table writes are visible or none are — never the
        torn middle a crash between two tables' commits leaves in the
        live heads. ``batch_id=None`` reads the newest marker.
        Version pinning reads retained snapshots; a vacuum past the
        marker's versions ends its readability window (same contract
        as time travel)."""
        from kafka_jdbc_sink_connector_spark.lake.table import LakeTable

        gid = self.latest_group_id() if batch_id is None else batch_id
        if gid is None:
            return {}
        rec = self.read_group(gid)
        return {
            topic: LakeTable.load(spark, info["path"]).read(
                version=info["version"]
            )
            for topic, info in rec["tables"].items()
        }
