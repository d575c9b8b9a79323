"""CDC-sink benchmark: one workload, one fresh process.

    python3 perfbench/run.py --workload mor_read_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. Prints a report line (samples, tail
percentiles, drift, host record) and, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones from spans around the engine's layer entry points.
All scratch files live under ``.perfbench_work/`` and are removed at
exit; spans and reports are kept in ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
CORES = 2
DRIVER_MEMORY = "1g"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _check_checkout() -> None:
    for rel in ("kafka_jdbc_sink_connector_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            sys.exit(f"perfbench: {rel} not found under {ROOT}; "
                     f"run from the repository root")


def _session(work: str):
    from kafka_jdbc_sink_connector_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # fixed heap (initial = max) keeps the JVM's footprint from
    # depending on when the collector chose to grow the heap; two Spark
    # cores and two GC threads leave the rest of the host's CPUs free,
    # so a busy neighbour slows a run less
    java_opts = (f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
                 " -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1")
    return build_session(
        app_name="perfbench",
        cores=min(CORES, len(os.sched_getaffinity(0))),
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have
    exited."""
    import procs
    from pyspark import SparkContext

    me = os.getpid()
    pids = [p[0] for p in procs.tree_stats(me) if p[0] != me]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(wl, setup_s, cpu_s, peak_rss) -> tuple[dict, dict]:
    import measure

    walls = [b.wall for b in wl.batches]
    events = sum(b.events for b in wl.batches)
    written, written_events = wl.write_accounting()
    bs, rs = measure.summary(walls), measure.summary(wl.reads)
    metrics = {
        "setup_s": _metric(setup_s, "s"),
        "events_per_s": _metric(events / sum(walls), "1/s"),
        "batch_p50_s": _metric(bs["p50"], "s"),
        "batch_tail_s": _metric(bs["tail"], "s"),
        "read_p50_s": _metric(rs["p50"], "s"),
        "read_tail_s": _metric(rs["tail"], "s"),
        "write_bytes_per_event": _metric(written / written_events, "B"),
        "cpu_ms_per_event": _metric(1000.0 * cpu_s / events, "ms"),
        "peak_rss_mb": _metric(peak_rss / 2**20, "MB"),
    }
    detail = {"batch": bs, "read": rs, "events": events,
              "batch_events": wl.layout.batch_events,
              "batch_walls": walls, "read_walls": wl.reads}
    return metrics, detail


def per_layer(wl, tracer, gc_s, udf_cpu_s) -> dict:
    from tracing import SpanTree

    tree = SpanTree(tracer.spans)
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    traced = [b for b in wl.batches if b.traced]
    plain = [b for b in wl.batches if not b.traced]
    traced_ids = {b.index for b in traced}

    def per_batch(name, value, under=None):
        """Per traced batch: sum of ``value(span)`` over spans called
        ``name`` (optionally only those below a span called ``under``)."""
        sums = {i: 0.0 for i in traced_ids}
        for s in tree.spans:
            if s.name == name and s.batch in sums and (
                    under is None or tree.under(s, under)):
                sums[s.batch] += value(s)
        return list(sums.values())

    def rows_files(spans):
        import pyarrow.parquet as pq

        rows = files = 0
        for s in spans:
            for f in s.attrs.get("added", ()):
                files += 1
                rows += pq.ParquetFile(os.path.join(wl.applier.table_path, f)).metadata.num_rows
        return rows, files

    dur = lambda s: s.dur  # noqa: E731
    applies = [s for s in tree.spans if s.name == "apply"]
    runners = sorted((s for s in tree.spans if s.name == "runner"), key=lambda s: s.t0)
    reader = lambda name: [s.dur for s in tree.spans if s.name == name]  # noqa: E731
    reads = [s for s in tree.spans if s.name == "table.read" and tree.under(s, "reader")]
    prunes = [s for s in tree.spans if s.name == "prune" and tree.under(s, "reader")]
    files_total = sum(s.attrs["files"] + s.attrs["delta_files"] for s in reads)
    pruned = sum(s.attrs["in"] - s.attrs["out"] for s in prunes)
    compacts = [s for s in tree.spans if s.name == "compact"]
    commits = [s for s in tree.spans if s.name == "commit"]
    events_traced = sum(b.events for b in traced)
    rows_all, _ = rows_files(commits)
    files_per_batch = [rows_files([c for c in commits if c.batch == i])[1]
                       for i in traced_ids]
    handed = {b.index: b.handed for b in traced}
    gaps = [s.t0 - handed[s.batch] for s in runners if s.batch in handed]
    # like-for-like overhead: batches without an inline compaction
    compacted = wl.compacted()
    walls = {b.index: b.wall for b in traced}
    unaccounted = [walls[i] - sum(s.dur for s in tree.roots()
                                  if s.batch == i and s.name != "reader")
                   for i in traced_ids]
    parses = [s for s in tree.spans if s.name == "sources.parse"]
    m = {
        "apply.self_s": (med([tree.self_time(s) for s in applies]), "s"),
        "apply.jobs_per_batch": (med([len(tree.jobs(s)) for s in applies]), "count"),
        "apply.tasks_per_batch": (med([sum(j[2] for j in tree.jobs(s)) for s in applies]), "count"),
        "apply.driver_s": (med([tree.idle_time(s) for s in applies]), "s"),
        "evolution.s": (med(per_batch("evolution", dur)), "s"),
        "merge.self_s": (med([tree.self_time(s) for s in tree.spans if s.name == "merge"]), "s"),
        "commit.s": (med(per_batch("commit", dur, under="apply")), "s"),
        "commit.rows_written_per_event": (rows_all / max(1, events_traced), "ratio"),
        "commit.files_added_per_batch": (med(files_per_batch), "count"),
        "harvest.s": (med(per_batch("harvest", dur, under="apply")), "s"),
        "read.files_scanned_frac": ((files_total - pruned) / files_total if files_total else 0.0, "ratio"),
        "read.lookup_s": (med(reader("reader.lookup")), "s"),
        "read.scan_s": (med(reader("reader.scan")), "s"),
        "mor.delta_files_per_read": (statistics.mean([s.attrs["delta_files"] for s in reads]) if reads else 0.0, "count"),
        "changes.s": (med(reader("reader.changes")), "s"),
        "compact.s": (med([s.dur for s in compacts]), "s"),
        "compact.rows_rewritten": (med([rows_files([c for c in tree.subtree(s) if c.name == "commit"])[0]
                                        for s in compacts]), "count"),
        "runner.self_s": (med([tree.self_time(s) for s in runners if s.batch in traced_ids]), "s"),
        "runner.trigger_gap_s": (med(gaps), "s"),
        "runner.retries": (sum(max(0, sum(1 for c in tree.children.get(s.sid, ()) if c.name == "apply") - 1)
                               for s in runners), "count"),
        "sources.parse_s": (med([tree.self_time(s) for s in parses]), "s"),
        "sources.decode_s": (med(reader("sources.decode")), "s"),
        "sources.registry_jobs_per_batch": (med([len(s.jobs) for s in parses]), "count"),
        "dedup.events_per_key": (med(wl.events_per_key()), "ratio"),
        "validate.quarantined": (sum(s.attrs.get("n_quarantined", 0) for s in applies), "count"),
        "jvm.gc_s": (gc_s, "s"),
        "proc.udf_worker_cpu_s": (udf_cpu_s, "s"),
        "trace.overhead_s": (med([b.wall for b in traced if b.index not in compacted])
                              - med([b.wall for b in plain if b.index not in compacted]), "s"),
        "trace.unaccounted_s": (med(unaccounted), "s"),
    }
    return {k: _metric(v, u) for k, (v, u) in m.items()}


def main(argv=None) -> int:
    args = parse_args(argv)
    _check_checkout()
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", tag)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    # pandas-UDF workers import the package; keep Python temp files in
    # the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the launcher JVM that spark-submit runs first: no files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import procs
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")

    me = os.getpid()
    spark = wl = None
    try:
        spark = _session(work)
        session_s = time.monotonic() - T_START
        tracer = tracing.Tracer(spark.sparkContext) if args.trace else None
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        if tracer is not None:
            uninstall = tracing.install(tracer)
            tracer.enabled = False
        wl.setup()
        setup_s = time.monotonic() - T_START
        cpu0, gc0, steal0 = procs.tree_cpu(me), procs.gc_seconds(spark), procs.cpu_times()
        wl.run(args.seconds)
        cpu1, gc1, steal1 = procs.tree_cpu(me), procs.gc_seconds(spark), procs.cpu_times()
        peak_rss = procs.tree_peak_rss(me)
        if tracer is not None:
            uninstall()
        t_check = time.monotonic()
        errors = wl.check()
        check_s = time.monotonic() - t_check
        wl.attempted += wl.compactions()
        metrics, detail = end_to_end(wl, setup_s, cpu1["total"] - cpu0["total"],
                                     peak_rss)
        if args.trace:
            tracer.resolve_jobs()
            metrics = per_layer(wl, tracer, gc1 - gc0, cpu1["udf"] - cpu0["udf"])
            detail["spans"] = len(tracer.spans)
            with open(os.path.join(out_dir, f"{tag}.spans.json"), "w") as f:
                json.dump([s.__dict__ for s in tracer.spans], f, default=str)
        report = {
            "workload": args.workload, "trace": args.trace,
            "session_s": session_s, "setup_s": setup_s,
            "setup_phases": wl.phases, "check_s": check_s,
            "host": procs.host_record(spark, args.seed, procs.steal_pct(steal0, steal1),
                                      DRIVER_MEMORY),
            "compactions": wl.compactions(), "errors": errors, **detail,
        }
        with open(os.path.join(out_dir, f"{tag}.report.json"), "w") as f:
            json.dump(report, f, indent=1, default=str)
        print(json.dumps(report, default=str))
        print(json.dumps({
            "correct": not errors and wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
