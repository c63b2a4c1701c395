"""End-to-end benchmark of neontology_spark: a closed loop with one client.

One driver process runs a Spark session on ``local[<cores>]`` and performs a
workload's operation back to back until ``--seconds`` of operation time have
been measured, after warming up for as long.  Every operation's output is
checked outside the timed region.  The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

    python3 perfbench/run.py --workload validate_fresh --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics of BENCHMARK.json from
a run that alternates untraced and traced operations, then parses the Spark
event log of that run.  Inputs are built on first use and cached under
``perfbench/.work/cache``; everything else a run writes goes to a scratch
directory under ``perfbench/.work`` that is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LOAD_REPS = 3

# spans whose jobs, executor time, shuffle and spill are reported
SPAN_NAMES = [
    "audit.run", "audit.verdicts_collect",
    "checks.core.required", "checks.core.domain", "checks.core.unique", "images.payload",
    "checks.drift.histogram", "checks.drift.quantile_drift",
    "checks.stats.column_stats", "checks.stats.quantiles",
    "upsert.merge", "relationships.resolve_merge",
    "checks.referential.unmatched", "checks.referential.ambiguous", "io.write",
]
SPAN_QUANTITIES = [
    ("jobs", "count"), ("executor_run_s", "s"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
]
# per-layer busy times: metric name → span name
LAYER_SECONDS = {
    "audit.append.violations_s": "audit.append.violations",
    "audit.append.verdicts_s": "audit.append.verdicts",
    "audit.append.metrics_s": "audit.append.metrics",
    "audit.lineage_s": "audit.lineage",
    "audit.verdicts_collect_s": "audit.verdicts_collect",
    "images.payload_s": "images.payload",
    "checks.core.unique_s": "checks.core.unique",
    "checks.core.required_s": "checks.core.required",
    "checks.core.domain_s": "checks.core.domain",
    "checks.drift.histogram_s": "checks.drift.histogram",
    "checks.drift.quantile_drift_s": "checks.drift.quantile_drift",
    "checks.stats.column_stats_s": "checks.stats.column_stats",
    "checks.stats.quantiles_s": "checks.stats.quantiles",
    "upsert.merge_s": "upsert.merge",
    "relationships.resolve_merge_s": "relationships.resolve_merge",
    "checks.referential.unmatched_s": "checks.referential.unmatched",
    "checks.referential.ambiguous_s": "checks.referential.ambiguous",
    "io.write_s": "io.write",
}


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(run_dir: str, trace: bool):
    """A session sized for a small box: all cores, a 2 GB driver heap."""
    from pyspark.sql import SparkSession

    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    # keep the JVMs' and the Python workers' scratch files inside the run
    os.environ.update(
        TMPDIR=tmp, SPARK_LOCAL_DIRS=local, PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # spark-submit's launcher JVM
    )
    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed heap and the throughput collector keep GC work alike from
        # run to run; no hsperfdata file in /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms2g -XX:+UseParallelGC -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(n))
        # repeated operations reuse their compiled stages (the default 100
        # entries is fewer than one validation run generates)
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", events)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every Python worker, and wait for them."""
    from pyspark import SparkContext

    from perfbench.procstat import tree

    if SparkContext._gateway is None:
        return  # already stopped
    started = set(tree()) - {os.getpid()}
    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc  # the JVM pyspark launched
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    # the PySpark daemon and its workers exit once the JVM is gone
    deadline = time.monotonic() + 30
    while left := [p for p in started if _alive(p)]:
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Loop:
    """Back-to-back operations; each is timed, measured and then verified."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0

    def one(self, tr) -> dict | None:
        """One operation; its measurements, or None if it failed."""
        from perfbench.procstat import peak_rss_bytes, reset_peak_rss, tree_cpu_s
        from perfbench.workloads import dir_bytes

        i = self.attempted
        self.attempted += 1
        first_span = len(getattr(tr, "spans", ()))
        try:
            self.wl.prepare(i)
            outs = self.wl.outputs(i)
            bytes0, files0 = dir_bytes(outs)
            reset_peak_rss()
            cpu0, t0 = tree_cpu_s(), time.perf_counter()
            res = self.wl.op(tr, i)
            dt, cpu = time.perf_counter() - t0, tree_cpu_s() - cpu0
            rss = peak_rss_bytes()
            out_bytes, out_files = dir_bytes(outs)
            errors = self.wl.verify(res)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if errors:
            self.failed += 1
            print(f"op {i}: output check FAILED: {errors}", file=sys.stderr)
            return None
        print(f"op {i}: {dt:.3f} s, cpu {cpu:.2f} s, rss {rss / 2**20:.0f} MB, ok", file=sys.stderr)
        return {
            "s": dt, "cpu_s": cpu, "rss": rss,
            "out_bytes": out_bytes - bytes0, "out_files": out_files - files0,
            "spans": (first_span, len(getattr(tr, "spans", ()))),
        }

    def run_for(self, tracers: list, seconds: float) -> list[list[dict]]:
        """Operations until their summed time reaches ``seconds``, taking
        the tracers in turn (so a warm-up trend affects each alike); returns
        each tracer's verified operations."""
        out: list[list[dict]] = [[] for _ in tracers]
        measured, k = 0.0, 0
        while measured < seconds or not all(out):
            rec = self.one(tracers[k % len(tracers)])
            if rec is not None:
                out[k % len(tracers)].append(rec)
                measured += rec["s"]
            elif self.failed > 2 * sum(map(len, out)) + 2:
                break  # persistently failing: stop, the result says so
            k += 1
        return out


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(wl, ops: list[dict], setup_s: float) -> dict:
    op_s = statistics.median(o["s"] for o in ops)
    return {
        "op_s": metric(op_s, "s"),
        "rows_per_s": metric(wl.rows_in_scope / op_s, "rows/s"),
        "setup_s": metric(setup_s, "s"),
        "peak_rss_mb": metric(statistics.median(o["rss"] for o in ops) / 2**20, "MB"),
        "out_bytes_per_row": metric(statistics.median(o["out_bytes"] for o in ops) / wl.rows_in_scope, "B/row"),
    }


def printed_only(ops: list[dict]) -> dict:
    """Reported but not in BENCHMARK.json: CPU time per operation moves with
    JIT compilation and the box's load more than any bound allows."""
    return {"cpu_s": metric(statistics.median(o["cpu_s"] for o in ops), "s")}


def per_layer(wl, tracer, work, traced: list[dict], isolated: tuple[int, int], overhead_pct: float) -> dict:
    from perfbench.tracing import Work, rollup

    def group(lo, hi):
        """Span name → (summed seconds, self seconds, rolled-up Work)."""
        out: dict[str, list] = {}
        for s in tracer.spans[lo:hi]:
            rec = out.setdefault(s.name, [0.0, 0.0, Work()])
            rec[0] += s.seconds
            rec[1] += tracer.self_seconds(s)
            rec[2].add(rollup(tracer, work, [s.id]))
        return out

    op_groups = [group(*o["spans"]) for o in traced]
    iso = group(*isolated)

    def value(name: str, pick) -> float:
        """Median over traced operations where the span ran in them, else the
        isolated pass, else 0 (the layer is not on this workload)."""
        if any(name in g for g in op_groups):
            return statistics.median(pick(g[name]) if name in g else 0.0 for g in op_groups)
        return pick(iso[name]) if name in iso else 0.0

    m: dict = {}
    m["audit.run.self_s"] = metric(value("audit.run", lambda r: r[1]), "s")
    for name, span in LAYER_SECONDS.items():
        m[name] = metric(value(span, lambda r: r[0]), "s")
    m["audit.bytes_written"] = metric(statistics.median(o["out_bytes"] for o in traced) if wl.audit else 0, "B")
    m["audit.files_written"] = metric(statistics.median(o["out_files"] for o in traced) if wl.audit else 0, "count")

    # the operation's own work, summed over its top-level spans
    def op_total(o) -> Work:
        lo, hi = o["spans"]
        return rollup(tracer, work, [s.id for s in tracer.spans[lo:hi] if s.parent is None])

    totals = [op_total(o) for o in traced]
    med = lambda f: statistics.median(f(w) for w in totals)  # noqa: E731
    m["images.python_worker_s"] = metric(med(lambda w: w.python_run_s), "s")
    m["images.bytes_to_python"] = metric(med(lambda w: w.python_bytes_sent), "B")
    m["images.python_rows_ratio"] = metric(med(lambda w: w.python_rows_in) / wl.rows_in_scope, "ratio")
    keys = wl.unique_keys
    m["checks.core.unique.key_scans_ratio"] = metric(
        med(lambda w: sum(w.key_scan_rows.get(k, 0) for k in keys)) / (len(keys) * wl.table_rows) if keys else 0.0,
        "ratio",
    )
    stats_spans = ("checks.stats.column_stats", "checks.stats.quantiles")
    m["checks.stats.jobs"] = metric(sum(value(n, lambda r: r[2].jobs) for n in stats_spans), "count")
    m["checks.stats.shuffle_bytes"] = metric(
        sum(value(n, lambda r: r[2].shuffle_write_bytes) for n in stats_spans), "B"
    )
    m["upsert.shuffle_bytes"] = metric(value("upsert.merge", lambda r: r[2].shuffle_write_bytes), "B")
    for name in SPAN_NAMES:
        for q, unit in SPAN_QUANTITIES:
            m[f"{name}.{q}"] = metric(value(name, lambda r, q=q: getattr(r[2], q)), unit)
    m["trace.overhead_pct"] = metric(overhead_pct, "%")
    return m


def print_spans(tracer, work) -> None:
    """Per-span breakdown of the traced run, for reading by eye (stderr)."""
    from perfbench.tracing import rollup

    print(f"{'span':34s} {'s':>7s} {'self s':>7s} {'jobs':>5s} {'tasks':>6s} {'exec s':>7s} "
          f"{'in MB':>7s} {'shuf w MB':>9s} {'shuf r MB':>9s} {'spill MB':>8s} {'py rows':>8s}", file=sys.stderr)
    for sp in tracer.spans:
        w = rollup(tracer, work, [sp.id])
        indent = "  " if sp.parent else ""
        print(f"{indent + sp.name:34s} {sp.seconds:7.3f} {tracer.self_seconds(sp):7.3f} {w.jobs:5d} "
              f"{w.tasks:6d} {w.executor_run_s:7.2f} {w.input_bytes / 1e6:7.2f} "
              f"{w.shuffle_write_bytes / 1e6:9.3f} {w.shuffle_read_bytes / 1e6:9.3f} "
              f"{w.spill_bytes / 1e6:8.2f} {w.python_rows_in:8d}", file=sys.stderr)


def measure(args, wl, loop, spark, run_dir: str, session_s: float) -> tuple[dict, dict, int]:
    """Set up, warm up and measure; (metrics, printed-only metrics, timed
    operations)."""
    from perfbench.tracing import NullTracer, Tracer, find_event_log, parse_event_log

    t0 = time.perf_counter()
    wl.build()
    build_s = time.perf_counter() - t0
    loads = []
    for _ in range(LOAD_REPS):
        t0 = time.perf_counter()
        wl.load()
        loads.append(time.perf_counter() - t0)
    wl.stage()
    untraced = NullTracer()
    t0 = time.perf_counter()
    first = loop.one(untraced)
    first_s = first["s"] if first else time.perf_counter() - t0
    setup_s = session_s + build_s + statistics.median(loads) + first_s
    print(f"setup: session {session_s:.2f} s, cached inputs {build_s:.2f} s, "
          f"load {statistics.median(loads):.2f} s, first op {first_s:.2f} s", file=sys.stderr)
    # the JIT keeps speeding operations up for a while: warm up for as long
    # as will be measured before timing
    warmed = first_s
    while warmed < args.seconds:
        t0 = time.perf_counter()
        loop.one(untraced)
        warmed += time.perf_counter() - t0

    if not args.trace:
        (ops,) = loop.run_for([untraced], args.seconds)
        if not ops:
            return {}, {}, 0
        return end_to_end(wl, ops, setup_s), printed_only(ops), len(ops)
    tracer = Tracer(spark.sparkContext)
    plain, traced = loop.run_for([untraced, tracer], args.seconds)
    lo = len(tracer.spans)
    wl.isolated(tracer)
    isolated = (lo, len(tracer.spans))
    app_id = spark.sparkContext.applicationId
    stop_spark(spark)  # flushes and closes the event log
    work = parse_event_log(find_event_log(os.path.join(run_dir, "events"), app_id))
    print_spans(tracer, work)
    if not (plain and traced):
        return {}, {}, len(plain) + len(traced)
    rps = lambda ops: wl.rows_in_scope / statistics.median(o["s"] for o in ops)  # noqa: E731
    overhead = 100.0 * (rps(plain) / rps(traced) - 1.0)
    return per_layer(wl, tracer, work, traced, isolated, overhead), {}, len(plain) + len(traced)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    if not os.path.isdir(os.path.join(ROOT, "neontology_spark")):
        print(f"no neontology_spark package next to {BENCH}: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    args = parse_args(argv)

    from perfbench.workloads import WORKLOADS

    work_root = os.path.join(BENCH, ".work")
    cache = os.path.join(work_root, "cache")
    run_dir = os.path.join(work_root, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(cache, exist_ok=True)
    os.makedirs(run_dir)
    spark = wl = None
    try:
        spark = start_spark(run_dir, bool(args.trace))
        session_s = time.perf_counter() - t_start
        wl = WORKLOADS[args.workload](spark, run_dir, cache, args.seed)
        loop = Loop(wl)
        metrics, extra, timed = measure(args, wl, loop, spark, run_dir, session_s)
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    if not metrics:
        print("no operation produced a verified result", file=sys.stderr)
        return 1
    print(f"workload {args.workload} seed {args.seed}: closed loop, 1 client, local[{cores()}], "
          f"{timed} timed ops after {loop.attempted - timed} warm-up ops, rows in scope {wl.rows_in_scope}")
    for name, m in metrics.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']}")
    for name, m in extra.items():
        print(f"  {name} = {m['value']:.6g} {m['unit']} (not gated)")
    print(f"  error_rate = {loop.failed / loop.attempted:.6g} "
          f"({loop.failed} of {loop.attempted} ops failed verification)")
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
