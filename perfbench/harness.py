"""Run one workload: set-ups, the measured closed loop, and the metrics.

A run is one fresh process. It generates its inputs from the seed, then
sets up ``SETUPS`` times (the first launches the driver JVM; the others stop
the session and build it again in the same JVM), each set-up being session
build, table or fixture opens, and the workload's warm-up operations. The
first set-up also runs ``workload.warm_in_passes`` passes over the window's
operations: the JIT compiler of a fresh JVM keeps speeding the operations up
for several passes, and a window that starts before it settles measures how
far it got. The first set-up is always the slowest (it launches the JVM), so
the median set-up (``setup_s``) is one of the others. Then
one client thread sends operations back to back (a closed loop), checking
every result.

The window does a fixed amount of work: ``workload.passes`` passes over the
same operations, the first ``round(seconds * workload.ops_per_second /
passes)`` of the workload's plan. Before each pass the workload resets the
state an operation may leave behind (``Workload.reset``, untimed), so every
pass repeats the same work. Each operation's latency is the best of its
passes, and the pass figures (throughput, CPU per operation) are those of
the best pass, as ``bench.py`` reports min-of-3: a host stall that slows
one pass does not move them. The window takes about ``seconds`` on a 4-vCPU
host. A program slow enough to need ``CAP`` times that stops early, with
fewer samples.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from typing import NamedTuple

from perfbench import host
from perfbench.stats import percentile, samples_beyond
from perfbench.tracing import SparkProbe, Tracer, read_event_log

SETUPS = 3
CAP = 5

# metric name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "cpu_s_per_op": "s",
    "setup_s": "s",
}

# the traced run's metrics; a workload that does not exercise a layer
# reports 0 for it
LAYERS = {
    "session.start_s": "s",
    "session.jvm_launch_s": "s",
    "io.read_table_s": "s",
    "io.read_table_calls": "count",
    "io.table_handle_hits": "count",
    "io.write_silver_s": "s",
    "io.bytes_written": "bytes",
    "io.files_written": "count",
    "io.write_amplification": "ratio",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.exec_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.codegen_compiles": "count",
    "spark.codegen_ms": "ms",
    "spark.files_discovered": "count",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_max_over_median": "ratio",
    "sources.rest.capture_s": "s",
    "sources.rest.pages": "count",
    "sources.rest.bytes": "bytes",
    "ingest.read_s": "s",
    "ingest.merge_s": "s",
    "ingest.rows_in": "count",
    "ingest.rows_out": "count",
    "streaming.start_s": "s",
    "streaming.batch_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.input_rows": "count",
    "streaming.state_rows_total": "count",
    "streaming.dedup_useful_ratio": "ratio",
    "cache.hits": "count",
    "cache.misses": "count",
    "cache.hit_ratio": "ratio",
    "cache.evictions": "count",
    "cache.entries": "count",
    "cache.build_s": "s",
    "cache.hit_s": "s",
    "self.io_s": "s",
    "self.operators_s": "s",
    "self.spark_s": "s",
    "self.sources_s": "s",
    "self.ingest_s": "s",
    "self.streaming_s": "s",
    "self.bench_s": "s",
    "host.steal_s": "s",
    "host.cal_s": "s",
    "host.loadavg": "count",
    "trace.latency_p50_s": "s",
    "trace.throughput_per_s": "1/s",
    "trace.bookkeeping_s_per_op": "s",
    "bench.ops": "count",
    "bench.datagen_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "ratio",
}
# layers only the ungated ``ingest`` workload exercises: the traced run
# reports them in its report line only. The result line carries the rest,
# each exercised by at least one gated workload (``cache.*`` reads 0 on
# ``dashboard``)
REPORT_ONLY = {
    "io.write_silver_s", "io.bytes_written", "io.files_written", "io.write_amplification",
    "sources.rest.capture_s", "sources.rest.pages", "sources.rest.bytes",
    "ingest.read_s", "ingest.merge_s", "ingest.rows_in", "ingest.rows_out",
    "streaming.start_s", "streaming.batch_s", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.wal_commit_ms", "streaming.latest_offset_ms",
    "streaming.commit_offsets_ms", "streaming.input_rows", "streaming.state_rows_total",
    "streaming.dedup_useful_ratio", "self.sources_s", "self.ingest_s", "self.streaming_s",
}
PER_LAYER = {k: u for k, u in LAYERS.items() if k not in REPORT_ONLY}


class Session:
    """The SparkSession and the driver JVM behind it.

    ``stop`` ends the SparkContext only; ``close`` also shuts the py4j
    gateway and waits for the JVM process to exit."""

    def __init__(self, workdir: str, cpus: int, event_log: bool):
        self.workdir = workdir
        self.cpus = cpus
        self.conf = {
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.local.dir": os.path.join(workdir, "local"),
            "spark.driver.extraJavaOptions": (
                f"-Dderby.system.home={workdir}/derby -Djava.io.tmpdir={workdir}/tmp"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            self.event_dir = os.path.join(workdir, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            self.conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.event_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = None
        self.jvm_proc = None

    def start(self):
        from xboard_spark.session import get_spark

        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_proc is None:
            from pyspark import SparkContext

            self.jvm_proc = SparkContext._gateway.proc
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self.jvm_proc is not None:
            if self.jvm_proc.stdin is not None:
                self.jvm_proc.stdin.close()  # the JVM exits when stdin closes
            try:
                self.jvm_proc.wait(timeout=30)
            except Exception:
                self.jvm_proc.kill()
                self.jvm_proc.wait(timeout=30)


class Op(NamedTuple):
    """One operation of a workload's plan: ``kind`` plus hashable ``args``."""

    kind: str
    args: tuple = ()


def run(workload, seconds: float, cpus: int) -> dict:
    """Run ``workload`` and return the result record: the contract keys plus
    ``host`` (the ungated host record) and ``report`` (every metric by
    name, the sample count and ``error_rate``)."""
    tracer: Tracer = workload.tracer
    plan = workload.plan()
    per_pass = max(1, round(seconds * workload.ops_per_second / workload.passes))
    ops = [plan[i % len(plan)] for i in range(per_pass)]
    t0 = time.perf_counter()
    workload.generate(ops)
    datagen_s = time.perf_counter() - t0

    session = Session(workload.workdir, cpus, event_log=tracer.enabled)
    try:
        setups, session_starts = [], []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if i:
                session.stop()
            with tracer.span("session.get_spark"):
                spark = session.start()
            session_starts.append(time.perf_counter() - t0)
            workload.setup(spark)
            if i == 0:
                _warm_in(workload, ops)
            setups.append(time.perf_counter() - t0)
        r = _window(workload, spark, ops, CAP * seconds, session)
        app_id = spark.sparkContext.applicationId
    finally:
        session.close()

    n = len(r["kinds"])
    best = best_latencies(r["latencies"])
    top = best_pass(r["passes"])
    metrics = {
        "latency_p50_s": statistics.median(best),
        "latency_p90_s": percentile(best, 90),
        "throughput_per_s": top["work"] / top["wall_s"],
        "cpu_s_per_op": min(p["cpu_s"] / p["ops"] for p in r["passes"]),
        "setup_s": statistics.median(setups),
    }
    host_record = {
        "host.steal_s": r["steal_s"],
        "host.cal_s": r["cal_s"],
        "host.loadavg": host.loadavg(),
        "nproc": os.cpu_count(),
        "spark.master": f"local[{cpus}]",
        "spark.shuffle_partitions": cpus,
    }
    error_rate = r["failed"] / n
    report = {
        "workload": workload.name,
        "samples": n,
        "passes": len(r["passes"]),
        "positions": len(best),
        "p90_samples_beyond": samples_beyond(len(best), 90),
        "work": [f"{p['work']} {workload.work_unit} in {p['wall_s']:.2f} s" for p in r["passes"]],
        "datagen_s": datagen_s,
        "setups_s": setups,
        "by_kind": _by_kind(r["kinds"], [x for lat in r["latencies"] for x in lat]),
        "latencies_s": [[round(x, 4) for x in lat] for lat in r["latencies"]],
        "metrics": {
            k: {"value": v, "unit": u}
            for k, v, u in [(k, metrics[k], END_TO_END[k]) for k in metrics]
            + [("error_rate", error_rate, "ratio"), ("peak_rss_mb", r["peak_rss_mb"], "MB")]
        },
    }
    result = {
        "correct": r["failed"] == 0,
        "attempted": n,
        "failed": r["failed"],
        "host": host_record,
        "report": report,
    }
    if tracer.enabled:
        layer = _layer_metrics(workload, r, session_starts, datagen_s)
        layer.update(
            {
                f"spark.{k}": v / n if k.endswith(("_s", "_bytes")) else v
                for k, v in read_event_log(session.event_dir, app_id, r["groups"]).items()
            }
        )
        layer.update({k: v for k, v in host_record.items() if k.startswith("host.")})
        layer["error_rate"] = error_rate
        layer["peak_rss_mb"] = r["peak_rss_mb"]
        report["layers"] = {k: {"value": layer.get(k, 0.0), "unit": u} for k, u in LAYERS.items()}
        result["metrics"] = layer
    else:
        result["metrics"] = metrics
    return result


def best_latencies(latencies: list[list[float]]) -> list[float]:
    """Each operation's best latency over the passes that reached it.
    ``latencies[p][j]`` is operation ``j`` of pass ``p``; a pass cut short
    by the cap is shorter than the others."""
    return [min(lat[j] for lat in latencies if j < len(lat)) for j in range(len(latencies[0]))]


def best_pass(passes: list[dict]) -> dict:
    """The pass with the highest throughput among the complete ones (the
    first pass, if the cap cut every other short)."""
    full = [p for p in passes if p["ops"] == passes[0]["ops"]]
    return max(full, key=lambda p: p["work"] / p["wall_s"])


def _by_kind(kinds: list[str], latencies: list[float]) -> dict:
    """Count and median latency per operation kind."""
    groups: dict[str, list[float]] = {}
    for k, lat in zip(kinds, latencies):
        groups.setdefault(k, []).append(lat)
    return {k: [len(v), round(statistics.median(v), 4)] for k, v in sorted(groups.items())}


def _warm_in(workload, ops: list[Op]) -> None:
    """The fresh JVM's extra warm-up: ``workload.warm_in_passes`` passes
    over the window's operations, so that its JIT compiler has reached
    about the steady state the window measures."""
    for _ in range(workload.warm_in_passes):
        workload.reset()
        for op in ops:
            workload.prepare(op)
            workload.execute(op)


_RAISED = object()  # the result of an operation that raised


def _window(workload, spark, ops: list[Op], cap_s: float, session: Session) -> dict:
    """The measured closed loop: ``workload.passes`` passes over ``ops``,
    stopping early if it runs past ``cap_s`` seconds."""
    tracer: Tracer = workload.tracer
    probe = workload.probe
    sc = spark.sparkContext
    pids = [os.getpid(), session.jvm_proc.pid]
    latencies, kinds, passes, failed, groups = [], [], [], 0, set()
    cal0 = host.calibration_seconds()
    steal0 = host.steal_seconds()
    start = time.perf_counter()
    i = 0  # operation number over the whole window
    for _ in range(workload.passes):
        if time.perf_counter() - start >= cap_s:
            break
        workload.reset()
        lat, work = [], 0
        cpu0 = host.tree_cpu_seconds(pids)
        t_pass = time.perf_counter()
        for op in ops:
            if time.perf_counter() - start >= cap_s:
                break
            group = f"op-{i}"
            if probe is not None:
                with tracer.bookkeeping():
                    sc.setJobGroup(group, op.kind)
                    workload.group = group
                    groups.add(group)
                    before = probe.counters()
            workload.prepare(op)
            tracer.op = i
            t = time.perf_counter()
            try:
                units, result = workload.execute(op)
            except Exception:
                # a raising operation counts as failed, with its latency
                traceback.print_exc()
                units, result = 0, _RAISED
            lat.append(time.perf_counter() - t)
            kinds.append(op.kind)
            workload.observe(op, lat[-1])
            if probe is not None:
                with tracer.bookkeeping():
                    after = probe.counters()
                    jobs, stages, tasks = probe.group_shape(group)
                    for name, v in (("jobs", jobs), ("stages", stages), ("tasks", tasks)):
                        tracer.count(f"spark.{name}", v)
                    for k in after:
                        tracer.count(f"spark.{k}", after[k] - before[k])
                    groups.update(workload.extra_groups())
            try:
                ok = result is not _RAISED and workload.check(op, result)
            except Exception:
                traceback.print_exc()
                ok = False
            if ok:
                work += units
            else:
                failed += 1
            tracer.op = None
            i += 1
        wall = time.perf_counter() - t_pass
        cpu = host.tree_cpu_seconds(pids) - cpu0
        if lat:
            latencies.append(lat)
            passes.append({"ops": len(lat), "work": work, "wall_s": wall, "cpu_s": cpu})
    steal = host.steal_seconds() - steal0
    cal = statistics.median([cal0, host.calibration_seconds()])
    rss = host.peak_rss_mb(os.getpid()) + host.peak_rss_mb(session.jvm_proc.pid)
    return {
        "latencies": latencies,
        "kinds": kinds,
        "passes": passes,
        "failed": failed,
        "steal_s": steal,
        "cal_s": cal,
        "peak_rss_mb": rss,
        "groups": groups,
    }


def _layer_metrics(workload, r: dict, session_starts: list[float], datagen_s: float) -> dict:
    """Per-layer numbers of the traced run, per operation of the window
    unless the name says otherwise."""
    tracer: Tracer = workload.tracer
    n = len(r["kinds"])
    c = tracer.counts
    top = best_pass(r["passes"])
    out = {
        "session.start_s": statistics.median(session_starts[1:]),
        "session.jvm_launch_s": session_starts[0],
        "bench.datagen_s": datagen_s,
        "bench.ops": n,
        "trace.latency_p50_s": statistics.median(best_latencies(r["latencies"])),
        "trace.throughput_per_s": top["work"] / top["wall_s"],
        "trace.bookkeeping_s_per_op": tracer.bookkeeping_s / n,
        "spark.jobs_per_op": c["spark.jobs"] / n,
        "spark.stages_per_op": c["spark.stages"] / n,
        "spark.tasks_per_op": c["spark.tasks"] / n,
        "spark.codegen_compiles": c["spark.codegen_compiles"] / n,
        "spark.codegen_ms": c["spark.codegen_ns"] / 1e6 / n,
        "spark.files_discovered": c["spark.files_discovered"] / n,
    }
    for phase in SparkProbe.PHASES:
        out[f"spark.{phase}_ms"] = c[f"spark.{phase}_ms"] / n
    for layer, s in tracer.self_time_by_layer().items():
        out[f"self.{layer}_s"] = s / n
    for name in {s[0] for s in tracer.spans if s[4] is not None}:
        out[f"{name}_s"] = tracer.total(name) / n
    for name in ("io.read_table_calls", "io.table_handle_hits", "operators.build_jobs"):
        out[name] = c[name] / n
    out.update(workload.layer_metrics(n))
    return out
