"""The workloads: set-up, the timed closed loop, and the correctness
gate.

Each workload is one writer in a closed loop: it hands the sink the
next micro-batch only after the previous one committed, as
``foreachBatch`` does. Reader rounds run after a commit, on the same
thread. README.md says why each workload exists.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

from kafka_jdbc_sink_connector_spark import CdcApplier, SinkConfig
from kafka_jdbc_sink_connector_spark.lake.changes import table_changes
from kafka_jdbc_sink_connector_spark.operators.merge import payload_columns
from kafka_jdbc_sink_connector_spark.streaming.runner import CdcStreamRunner

import inputs
import oracle_diff


@dataclass(frozen=True)
class Batch:
    """One timed batch."""

    index: int
    wall: float
    events: int
    traced: bool
    #: table version its apply committed
    version: int
    #: epoch seconds at hand-over
    handed: float


class Workload:
    name: str
    merge_mode = "cow"
    compact_every: int | None = None
    n_buckets = 8
    #: the timed loop runs at least this many compaction cycles (batches,
    #: without compaction), so every run holds the same sample count
    #: unless the host is fast enough to fit more into ``seconds``
    min_cycles = 2
    #: batches applied in set-up, after the bootstrap
    warmup = 2
    boot_events = 0
    batch_events = 2000
    #: key space: conversations x turns
    n_conversations: int
    turns = 20

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer=None):
        # room for one batch per second of the run, plus slack
        self.layout = inputs.Layout(self.boot_events, self.batch_events,
                                    self.warmup + 6 + int(seconds))
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.cfg = SinkConfig(n_buckets=self.n_buckets, merge_mode=self.merge_mode,
                              mor_compact_every_batches=self.compact_every)
        self.applier = CdcApplier(spark, self.cfg, os.path.join(work, "table"))
        self.runner = CdcStreamRunner(self.applier, os.path.join(work, "ckpt"))
        self.attempted = 0
        self.failed = 0
        self.batches: list[Batch] = []
        #: per reader round: wall seconds
        self.reads: list[float] = []
        #: recorded reader answers, checked against the oracle at the end
        self.answers: list[tuple] = []
        #: batches handed to the sink so far (bootstrap excluded)
        self.applied = 0
        self.first_timed_version = 0
        self._rng = random.Random(seed)
        #: cumulative seconds at the end of each set-up phase
        self.phases: dict[str, float] = {}

    # -- helpers -------------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def _v_at(self, batch: int) -> int:
        """Offset at which timed batch ``batch`` (0-based) starts;
        negative ``batch`` counts back into the warm-up and bootstrap."""
        return self.layout.bounds(self.warmup + batch)[0]

    def _events(self, spark) -> list[dict]:
        return inputs.generate_events(
            spark, self.layout, self.seed, self.n_conversations, self.turns,
            # both evolution steps land in set-up (the last two input
            # files before the first timed batch), so every timed batch
            # does the same work
            v2_at=self._v_at(-2) + 1, v3_at=self._v_at(-1) + 1)

    def watermark(self) -> int:
        """Highest offset handed to the sink so far."""
        return self.layout.bounds(self.applied - 1)[1] - 1

    def reader_round(self, version: int) -> None:
        """One point lookup and one key-range count against the head,
        and one pull of the change feed of commit ``version`` (the
        batch just applied)."""
        self.attempted += 1
        key = self._rng.choice(self.lookup_keys)
        lo = self._rng.randrange(self.n_conversations - self.scan_width)
        lo_id, hi_id = f"conv-{lo:08d}", f"conv-{lo + self.scan_width:08d}"
        t0 = time.monotonic()
        with self.span("reader"):
            table = self.applier.table()
            with self.span("reader.lookup"):
                rows = table.read(where=[("conv_id", "=", key[0]),
                                         ("turn_idx", "=", key[1])]).collect()
            with self.span("reader.scan"):
                n = table.count(where=[("conv_id", ">=", lo_id),
                                       ("conv_id", "<", hi_id)])
            with self.span("reader.changes"):
                table_changes(table, version - 1, version).count()
        self.reads.append(time.monotonic() - t0)
        self.answers.append((self.watermark(), key, [r.asDict() for r in rows],
                             (lo_id, hi_id), n))

    def _pick_lookup_keys(self, events: list[dict]) -> None:
        keys = sorted({(e["conv_id"], e["turn_idx"]) for e in events
                       if e["op"] in ("c", "u")})
        self.lookup_keys = self._rng.sample(keys, min(64, len(keys)))
        self.scan_width = max(1, self.n_conversations // 20)

    def set_tracing(self, on: bool, batch: int | None) -> None:
        if self.tracer is not None:
            self.tracer.enabled = on
            self.tracer.batch = batch

    # -- correctness ---------------------------------------------------

    def applied_events(self) -> list[dict]:
        return self.events[: self.watermark() + 1]

    def check(self) -> list[str]:
        """Final table state and every reader answer against the
        oracle; quarantine count against the poison injected."""
        cfg = self.cfg
        table = self.applier.table()
        payload = payload_columns(table.schema, cfg)
        valid = [e for e in self.applied_events() if e["op"] in cfg.valid_ops]
        by_conv = oracle_diff.by_conversation(valid)
        want = oracle_diff.oracle_state(by_conv, cfg, payload)
        got = {(r["conv_id"], r["turn_idx"]): r
               for r in table.read().toArrow().to_pylist()}
        errors = [f"final state: {d}" for d in oracle_diff.diff(got, want)]
        for wm, key, rows, (lo_id, hi_id), n in self.answers:
            w = oracle_diff.oracle_state(by_conv, cfg, payload, [key[0]], wm)
            w = {key: w[key]} if key in w else {}
            g = {key: rows[0]} if rows else {}
            errors += [f"lookup at offset {wm}: {d}"
                       for d in oracle_diff.diff(g, w)]
            convs = [c for c in by_conv if lo_id <= c < hi_id]
            expect = len(oracle_diff.oracle_state(by_conv, cfg, payload,
                                                  convs, wm))
            if n != expect:
                errors.append(f"scan [{lo_id}, {hi_id}) at offset {wm}: "
                              f"engine {n} != oracle {expect}")
        n_quarantined = (self.applier.read_quarantine().count()
                         if os.path.isdir(self.applier.quarantine_path) else 0)
        if n_quarantined != self.poison_applied():
            errors.append(f"quarantined {n_quarantined} != poison "
                          f"{self.poison_applied()}")
        return errors

    def poison_applied(self) -> int:
        return sum(1 for e in self.applied_events()
                   if e["op"] not in self.cfg.valid_ops)

    def _compaction_versions(self) -> list[int]:
        table = self.applier.table()
        return [v for v in range(self.first_timed_version + 1, table.version + 1)
                if "compacted_buckets" in (table._read_version(v).stats or {})]

    def compactions(self) -> int:
        return len(self._compaction_versions())

    def compacted(self) -> set[int]:
        """Indexes of the timed batches followed by an inline compaction."""
        after = {v - 1 for v in self._compaction_versions()}
        return {b.index for b in self.batches if b.version in after}

    def write_accounting(self) -> tuple[int, int]:
        """``(bytes, events)``: data-file bytes the commits since the
        first timed batch added, compaction rewrites included, and the
        events those commits applied. With a compaction cadence the
        window ends at the last compaction, so it spans whole cycles."""
        table = self.applier.table()
        end, batches = table.version, self.batches
        cycles = self._compaction_versions()
        if cycles:
            end = cycles[-1]
            batches = [b for b in batches if b.version <= end]
        prev = set(table._read_version(self.first_timed_version).all_files())
        total = 0
        for v in range(self.first_timed_version + 1, end + 1):
            files = set(table._read_version(v).all_files())
            total += sum(os.path.getsize(os.path.join(table.path, f))
                         for f in files - prev)
            prev = files
        return total, sum(b.events for b in batches)

    def events_per_key(self) -> list[float]:
        """Valid events per distinct key, per timed batch (an input
        property: how much the collapse folds)."""
        out = []
        for b in self.batches:
            lo, hi = self.layout.bounds(b.index)
            evs = [e for e in self.events[lo:hi] if e["op"] in self.cfg.valid_ops]
            keys = {(e["conv_id"], e["turn_idx"]) for e in evs}
            out.append(len(evs) / max(1, len(keys)))
        return out

    # -- the timed loop ------------------------------------------------

    def run(self, seconds: float) -> None:
        """Closed loop for at least ``seconds`` and ``min_cycles``
        compaction cycles (batches, on a target without compaction):
        hand over a batch, wait for its commit, run one reader round;
        then finish the current cycle. In a traced run every other
        cycle runs untraced, so the run also measures the tracing
        overhead. The first failed
        operation is counted and ends the loop."""
        start = time.monotonic()
        cycle = self.compact_every or 1
        least = self.min_cycles * cycle
        k = 0
        while time.monotonic() - start < seconds or k % cycle or k < least:
            if self.applied >= self.layout.n_batches:
                raise RuntimeError("input exhausted; enlarge the layout")
            traced = (k // cycle) % 2 == 0
            self.set_tracing(traced, self.applied)
            try:
                handed = time.time()
                t0 = time.monotonic()
                res = self.hand_over()
                wall = time.monotonic() - t0
                self.batches.append(Batch(self.applied - 1, wall, res.n_events,
                                          traced, res.snapshot_version, handed))
                self.set_tracing(self.tracer is not None, self.applied - 1)
                self.reader_round(res.snapshot_version)
            except Exception:  # noqa: BLE001 — counted as a failed operation
                traceback.print_exc()
                self.failed += 1
                break
            k += 1
        self.set_tracing(False, None)

    def close(self) -> None:
        pass


class MorReadMix(Workload):
    """Decoded event frames, one parquet file per batch, into a
    merge-on-read table, driven through ``CdcStreamRunner.process_batch``
    (the ``foreachBatch`` body, including its compaction cadence). A
    reader round follows every batch."""

    name = "mor_read_mix"
    merge_mode = "mor"
    # the bootstrap batch warms the apply path too; it carries v1 and v2
    # events, so the table starts with v2 columns and the warm-up batch
    # evolves it to v3
    warmup = 1
    compact_every = 3
    n_buckets = 4
    boot_events = 12_000
    n_conversations = 400

    def setup(self) -> None:
        t = time.monotonic()
        self.events = self._events(self.spark)
        self.phases["generate"] = time.monotonic() - t
        self._pick_lookup_keys(self.events)
        self.paths = inputs.write_event_batches(
            self.events, self.layout, os.path.join(self.work, "input"))
        self.phases["write_inputs"] = time.monotonic() - t
        boot = self.spark.read.parquet(self.paths[0])
        # per-file bloom filters on the bucket key let point lookups
        # skip files (built by the commit's harvest step)
        self.applier.ensure_table(boot).set_props({"bloom.cols": ["conv_id"]})
        self.attempted += 1
        self.runner.process_batch(boot, 0)
        self.phases["bootstrap"] = time.monotonic() - t
        for _ in range(self.warmup):
            res = self.hand_over()
        self.reader_round(res.snapshot_version)
        self.reads.clear()
        self.first_timed_version = self.applier.table().version
        self.phases["warmup"] = time.monotonic() - t

    def hand_over(self):
        i = self.applied
        # batch ids are shifted so the last warm-up batch completes a
        # compaction cycle: timed batches then run whole cycles
        batch_id = i + 1 + (-self.warmup) % self.compact_every
        self.attempted += 1
        res = self.runner.process_batch(
            self.spark.read.parquet(self.paths[i + 1]), batch_id)
        self.applied += 1
        return res


class KafkaAvro(Workload):
    """Confluent-framed Avro wire records through a real Structured
    Streaming query: ``file_stream`` with one file per trigger feeds
    ``CdcStreamRunner`` whose record parser decodes through a
    dictionary schema registry. Copy-on-write target."""

    name = "kafka_avro"
    # the first stream batch creates the table, the next two evolve it
    # to v2 and v3
    warmup = 3
    min_cycles = 4
    n_conversations = 200
    turns = 10

    def setup(self) -> None:
        from kafka_jdbc_sink_connector_spark.sources.cdc import file_stream
        from kafka_jdbc_sink_connector_spark.sources.kafka import (
            KAFKA_WIRE_SCHEMA,
            parse_kafka_records,
        )
        from kafka_jdbc_sink_connector_spark.sources.registry import (
            DictSchemaRegistry,
        )

        t = time.monotonic()
        self.events = self._events(self.spark)
        self.phases["generate"] = time.monotonic() - t
        inputs.add_hot_key_storm(self.events, self.seed,
                                 start=self.layout.bounds(1)[0])
        inputs.add_poison(self.events, self.seed)
        self._pick_lookup_keys(self.events)
        self.staged = inputs.write_wire_batches(
            self.events, self.layout, os.path.join(self.work, "staged"))
        self.phases["write_inputs"] = time.monotonic() - t
        self.watched = os.path.join(self.work, "wire")
        os.makedirs(self.watched)
        registry = DictSchemaRegistry(
            {sid: inputs.avro_schema(v) for v, sid in inputs.SCHEMA_IDS.items()})

        def parse(df):
            with self.span("sources.parse"):
                parsed = parse_kafka_records(df, None, self.cfg,
                                             value_format="avro",
                                             schema_registry=registry)
                if self.tracer is not None and self.tracer.enabled:
                    # traced run only: one decode pass on its own
                    with self.span("sources.decode"):
                        parsed.write.format("noop").mode("overwrite").save()
            return parsed

        self.runner.record_parser = parse
        self.query = self.runner.start(
            file_stream(self.spark, self.watched, KAFKA_WIRE_SCHEMA,
                        max_files_per_trigger=1),
            available_now=False)
        self.hand_over()
        # blooms for every file written from here on (see MorReadMix),
        # set before the remaining warm-up batches so they warm the
        # bloom harvest too
        self.applier.table().set_props({"bloom.cols": ["conv_id"]})
        for _ in range(self.warmup - 1):
            res = self.hand_over()
        self.reader_round(res.snapshot_version)
        self.reads.clear()
        self.first_timed_version = self.applier.table().version
        self.phases["warmup"] = time.monotonic() - t

    def hand_over(self):
        """Move the next wire file into the watched directory and wait
        until the stream has committed it."""
        n_before = len(self.runner.results)
        src = self.staged[self.applied]
        self.attempted += 1
        os.rename(src, os.path.join(self.watched, os.path.basename(src)))
        self.query.processAllAvailable()
        self.applied += 1
        done = self.runner.results[n_before:]
        if len(done) != 1:
            raise RuntimeError(f"expected one micro-batch, got {len(done)}")
        return done[0]

    def close(self) -> None:
        self.query.stop()


WORKLOADS = {w.name: w for w in (MorReadMix, KafkaAvro)}
