"""Sink-pipeline benchmark: backfill and publish stream, with the
analytics read as a probe.

Run from the repository root:

    python3 perfbench/run.py --workload backfill_dump --seed 1 \
        --seconds 20 --trace 0

Each run is one fresh process: it generates the workload's inputs from
``--seed`` into ``.perfbench_work/``, starts a loopback ClickHouse
receiver, builds the session with ``session.get_spark`` at
``local[nproc]`` (shuffle partitions = nproc), warms up on inputs of
sf0.001 size (backfill_dump then on its measured inputs too), measures
for ``--seconds`` (at least one unit of work; publish_stream rounds up
to whole trigger intervals), checks every
output, stops everything it started, and prints one JSON object as its
last line of standard output.

``--trace 0`` reports the end-to-end metrics:

- ``setup_s`` — ``get_spark`` plus the warm-up.
- ``latency_p50_ms``/``latency_p90_ms`` — latency of one operation: a
  table's ``run_backfill`` (backfill_dump), a publish event from its due
  time to the receipt of the first POST carrying its row
  (publish_stream).
- ``rows_per_s`` — rows acknowledged by the receiver per second of
  backfill time, the median over the run's backfill cycles
  (backfill_dump); publish events acknowledged per second from the first
  event's due time to the last one's receipt (publish_stream).
- ``peak_rss_mb`` — peak RSS of the Spark JVM plus this process.

``--trace 1`` measures half the time untraced and half traced, then
probes stage boundaries with ``noop`` writes, and reports the per-layer
metrics (``per_layer()``); ``trace.overhead_ms`` is the traced minus the
untraced median operation latency. Spans go to
``.perfbench_work/trace-<workload>-s<seed>.json``.

The traced run of backfill_dump also runs the analytics query set
(``analytics_read.py``), checked against its oracle, as a probe for the
``analytics.*`` figures.

Failed operations (failed table dumps or row-count mismatches, events
never received, oracle mismatches, non-2xx POSTs) are reported as
``failed`` out of ``attempted``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = ROOT

WORKLOADS = ("backfill_dump", "publish_stream")
WARM_SCALE = 0.01       # sf0.001: a hundredth of the sf0.1 sizes
JVM_HEAP = "3g"
JVM_YOUNG = "384m"

END_TO_END = {"setup_s": "s", "latency_p50_ms": "ms",
              "latency_p90_ms": "ms", "rows_per_s": "rows/s",
              "peak_rss_mb": "MiB"}



def per_layer() -> dict[str, str]:
    """Per-layer metric -> unit; a layer a workload does not exercise
    reads 0. Counts and times are per unit of work (a backfill cycle, a
    publish epoch) unless the name says otherwise."""
    from perfbench.analytics_read import QUERIES
    from perfbench.gen import PUBLISH_MODELS

    return {
        "session.start_s": "s", "session.warmup_s": "s",
        "sources.load_s": "s", "sources.scan_s": "s", "sources.bytes": "B",
        "backfill.classify_s": "s", "backfill.candidates": "rows",
        "backfill.eligible": "rows", "backfill.eligible_ratio": "ratio",
        "csv_encode.self_s": "s", "csv_encode.bytes": "B",
        "clickhouse.insert_s": "s", "clickhouse.posts": "count",
        "clickhouse.rows": "rows", "clickhouse.rows_per_post": "rows",
        "clickhouse.post_failures": "count", "clickhouse.connections": "count",
        "stream.epochs": "count", "stream.trigger_ms": "ms",
        "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
        "stream.commit_offsets_ms": "ms", "stream.latest_offset_ms": "ms",
        "stream.query_planning_ms": "ms", "stream.backlog_files_max": "count",
        **{f"dispatch.handler_s.{m}": "s" for m in PUBLISH_MODELS},
        "dispatch.events_in": "count", "dispatch.entities_out": "count",
        "dispatch.dedup_ratio": "ratio", "spark.jobs_per_epoch": "count",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        **{f"analytics.{q}_{k}": u for q in QUERIES
           for k, u in (("s", "s"), ("rows", "rows"))},
        "generator.late_ms_max": "ms",
        "failed_ratio": "ratio", "trace.overhead_ms": "ms",
    }


class TracedSink:
    """The sink, with a span around each ``insert_df`` call."""

    def __init__(self, sink, tracer):
        self.sink, self.tracer = sink, tracer

    def insert_df(self, df, table, **kwargs):
        with self.tracer.span("clickhouse.insert_df", table=table):
            return self.sink.insert_df(df, table, **kwargs)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _make_workload(name: str, seed: int):
    if name == "backfill_dump":
        from perfbench.backfill_dump import BackfillDump
        return BackfillDump()
    from perfbench.publish_stream import PublishStream
    return PublishStream(seed)


def _session(work: str, nproc: int):
    from openedx_event_sink_clickhouse_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{nproc}]", extra_conf={
        "spark.sql.shuffle.partitions": str(nproc),
        "spark.driver.memory": JVM_HEAP,
        # a fixed heap and young generation: the resident high-water mark
        # then follows the work done, not the collector's resizing, which
        # depends on timing
        "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -Xmn{JVM_YOUNG}",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and the Python workers it forked,
    and wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()          # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _per_unit(spark, tracer, group: str, before: dict, after: dict,
              units: int) -> dict:
    """Layer figures every workload shares, per unit of work of the traced
    pass: sink time, the receiver's counts, and the Spark jobs, stages and
    tasks of the pass's job group."""
    from perfbench.common import job_counts

    posts = (after["posts"] - before["posts"]) / units
    rows = (after["rows"] - before["rows"]) / units
    jobs, stages, tasks = job_counts(spark, group)
    return {
        "clickhouse.insert_s": tracer.total("clickhouse.insert_df") / units,
        "clickhouse.posts": posts, "clickhouse.rows": rows,
        "clickhouse.rows_per_post": rows / posts if posts else 0.0,
        "clickhouse.connections":
            (after["connections"] - before["connections"]) / units,
        "clickhouse.post_failures": after["failures"] - before["failures"],
        "spark.jobs": jobs / units, "spark.stages": stages / units,
        "spark.tasks": tasks / units,
    }


def _e2e(setup_s: float, ops, rows_per_s: float, rss_mb: float) -> dict:
    from perfbench.common import quantile

    return {"setup_s": setup_s,
            "latency_p50_ms": quantile(ops.latencies_ms, 0.5),
            "latency_p90_ms": quantile(ops.latencies_ms, 0.9),
            "rows_per_s": rows_per_s, "peak_rss_mb": rss_mb}


def run(args) -> dict:
    from perfbench import gen
    from perfbench.common import Ctx, Ops, Tracer, median, quantile, vm_hwm_mb
    from perfbench.receiver import Receiver

    nproc = _nproc()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tempfile.tempdir = os.path.join(work, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "TMPDIR": tempfile.tempdir,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        # every JVM started, spark-submit's launcher too, keeps its temp
        # files in the work directory and its perf data out of /tmp
        "JAVA_TOOL_OPTIONS": " ".join(
            o for o in (os.environ.get("JAVA_TOOL_OPTIONS"),
                        f"-Djava.io.tmpdir={tempfile.tempdir}",
                        "-XX:-UsePerfData", f"-Dderby.system.home={work}")
            if o),
        # executors' Python workers import the package from the root
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    marks = [("start", time.perf_counter())]
    try:
        workload = _make_workload(args.workload, args.seed)
        probe = None
        if args.trace and args.workload == "backfill_dump":
            from perfbench.analytics_read import AnalyticsRead
            probe = AnalyticsRead(ROOT)

        def make_inputs() -> tuple[dict, dict]:
            """The inputs of the workload and the probe, full and warm-up
            sized, and their expected results."""
            parts = (workload.part,) + ((probe.part,) if probe else ())
            paths = gen.generate(os.path.join(work, "in"), args.seed,
                                 args.scale or workload.scale, parts)
            warm_paths = gen.generate(os.path.join(work, "warm"), args.seed,
                                      WARM_SCALE, parts)
            for w in (workload, probe):
                if w is not None:
                    w.prepare(paths, warm_paths)
            return paths, warm_paths

        from openedx_event_sink_clickhouse_spark.sinks.clickhouse import (
            ClickHouseConfig,
            ClickHouseSink,
        )

        tracer = Tracer(enabled=False)
        receiver = Receiver(nproc)
        url = receiver.start()
        spark = None
        try:
            # the inputs are made while the JVM starts, which keeps a run
            # short; the program only reads them after its session is up
            with ThreadPoolExecutor(max_workers=1) as pool:
                inputs = pool.submit(make_inputs)
                t0 = time.perf_counter()
                spark = _session(work, nproc)
                t1 = time.perf_counter()
                paths, warm_paths = inputs.result()
            marks += [("session", t1), ("inputs", time.perf_counter())]
            spark.sparkContext.setLogLevel("ERROR")
            jvm_pid = spark.sparkContext._gateway.proc.pid
            sink = TracedSink(ClickHouseSink(ClickHouseConfig(url=url)), tracer)
            ctx = Ctx(spark, sink, receiver, warm_paths, work, tracer)
            t2 = time.perf_counter()
            workload.warm(ctx)
            t3 = time.perf_counter()
            marks.append(("warm-up", t3))
            ctx.paths = paths

            ops, probed, traced = Ops(), Ops(), None
            if not args.trace:
                units = workload.measure(ctx, args.seconds, ops)
                marks.append(("measure", time.perf_counter()))
                rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb()
            else:
                units = workload.measure(ctx, args.seconds / 2, ops)
                group = "perfbench.traced"
                spark.sparkContext.setJobGroup(group, "traced pass")
                tracer.enabled = True
                before = receiver.snapshot()
                traced = Ops()
                units = workload.measure(ctx, args.seconds / 2, traced)
                after = receiver.snapshot()
                spark.sparkContext.setJobGroup("perfbench.probes", "probes")
                marks.append(("measure", time.perf_counter()))
                layers = _per_unit(spark, tracer, group, before, after, units)
                layers.update(workload.layers(ctx))
                if probe:
                    layers.update(probe.probe(ctx, probed))
                marks.append(("probes", time.perf_counter()))
        finally:
            if spark is not None:
                _stop_spark(spark)
            receiver.stop()
        marks.append(("teardown", time.perf_counter()))
        print("perfbench: phase seconds: " + ", ".join(
            f"{name} {t - prev:.2f}" for (_, prev), (name, t)
            in zip(marks, marks[1:])) + f"; units {units}", file=sys.stderr)

        passes = [ops, probed] + ([traced] if traced else [])
        attempted = sum(p.attempted for p in passes)
        failed = sum(p.failed for p in passes) + receiver.failures
        errors = [e for p in passes for e in p.errors] + receiver.errors
        # every row of one sink table carries the same number of fields
        for table, widths in receiver.table_widths.items():
            if len(widths) > 1:
                failed += 1
                errors.append(f"{table}: rows of {sorted(widths)} fields")
        for e in errors:
            print(f"perfbench: failed: {e}", file=sys.stderr)

        if not args.trace:
            metrics = _e2e(t1 - t0 + t3 - t2, ops, median(ops.rates), rss_mb)
            units_of = END_TO_END
        else:
            units_of = per_layer()
            m = dict.fromkeys(units_of, 0.0)
            m.update(layers)
            m["session.start_s"] = t1 - t0
            m["session.warmup_s"] = t3 - t2
            m["failed_ratio"] = failed / max(attempted, 1)
            m["trace.overhead_ms"] = (quantile(traced.latencies_ms, 0.5) -
                                      quantile(ops.latencies_ms, 0.5))
            tracer.write(os.path.join(
                base, f"trace-{args.workload}-s{args.seed}.json"))
            metrics = m
        return {"correct": failed == 0 and attempted > 0,
                "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": float(metrics[k]), "unit": u}
                            for k, u in units_of.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None,
                   help="input size as a share of sf0.1 (default: the "
                        "workload's own); the smoke tests use 0.01")
    args = p.parse_args(argv)

    missing = [f for f in ("openedx_event_sink_clickhouse_spark/session.py",
                           "__spark_entry__.py", "tools/check_correctness.py")
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the program: missing "
              f"{', '.join(missing)}", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:  # noqa: BLE001 — report and fail without a result
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
