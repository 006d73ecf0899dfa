#!/usr/bin/env python3
"""Benchmark of the whole engine, one workload per run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The workload's inputs are made
from ``--seed`` under a scratch directory inside the checkout, which is
removed at exit. The run sets up a Spark session several times (the
median is ``setup_s``), warms up while checking outputs, then runs
measured passes of ops back to back (one client, closed loop) for at
least ``--seconds`` seconds, and checks the end state.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it carries
annotations: input sizes, per-op medians, load average, and with
``--trace 1`` the tracing overhead. A traced run also writes its spans
to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import trace as tr  # noqa: E402
from perfbench.workloads import WORKLOADS, Failures  # noqa: E402

SETUPS = 3
# every per-layer metric a traced run prints, with its unit; a layer a
# workload does not reach reads 0
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "checkpointing.pin_eager_s": "s",
    "checkpointing.pins": "count",
    "queries.exec_s": "s",
    "queries.stage_cpu_s": "s",
    "queries.gc_s": "s",
    "queries.single_task_stage_share": "ratio",
    "queries.task_max_over_median": "ratio",
    "queries.shuffle_write_mb": "MB",
    "queries.spill_mb": "MB",
    "plans.sweep_s": "s",
    "plans.job_overhead_s": "s",
    "plans.run_job_s": "s",
    "sources.extract_build_s": "s",
    "sources.read_tasks": "count",
    "sources.rows_read": "count",
    "compilers.transform_build_s": "s",
    "operators.merge_build_s": "s",
    "operators.merge_shuffle_mb": "MB",
    "operators.merge_matched_share": "ratio",
    "sinks.write_s": "s",
    "sinks.ledger_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.ledger_rows": "count",
    "sinks.persisted_frames_after_run": "count",
    "sinks.storage_mem_mb_after_run": "MB",
    "connectors.extract_s": "s",
    "connectors.apply_s": "s",
    "connectors.calls_search_read": "count",
    "connectors.calls_create": "count",
    "connectors.calls_write": "count",
    "connectors.calls_unlink": "count",
    "connectors.rows_per_call": "count",
    "connectors.fallback_rows": "count",
    "connectors.server_busy_s": "s",
}


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _mem_total_gb() -> float:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(work: str, reserved_cores: int, trace: bool) -> tuple[dict, dict]:
    """Pin what the engine would otherwise take from the machine's
    defaults: Spark cores (the session default is 32), driver memory
    (the default 16g exceeds a small box), PYTHONPATH for Python
    workers, and every directory Spark, the JVMs and Python write
    (temp files included), under ``work``."""
    cpus = max(1, _nproc() - reserved_cores)
    driver_gb = max(1, min(4, int(_mem_total_gb() // 6)))
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        # a heap sized once: G1 growing it on its own schedule made the
        # peak resident set of identical runs differ by a quarter
        "spark.driver.extraJavaOptions": f"-Dderby.system.home={work} -Xms{driver_gb}g",
    }
    if trace:
        events = os.path.join(work, "eventlog")
        os.makedirs(events)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{events}"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf, {"spark_cores": cpus, "driver_memory_gb": driver_gb}


class Recorder:
    """Op samples ``[name, seconds, ok, traced]`` of the measured passes."""

    def __init__(self) -> None:
        self.samples: list[list] = []
        self.traced = False

    def __call__(self, name: str, fn):
        """Time ``fn()``; an exception fails the op and the run goes on."""
        t0 = time.perf_counter()
        try:
            out, ok = fn(), True
        except Exception:  # noqa: BLE001 - a raising op is a failed op
            traceback.print_exc()
            out, ok = None, False
        self.add(name, time.perf_counter() - t0, ok)
        return out

    def add(self, name: str, seconds: float, ok: bool) -> None:
        self.samples.append([name, seconds, ok, self.traced])


def medians_by_op(samples) -> dict[str, float]:
    """Median latency of each kind of op (query or job), in run order."""
    names = dict.fromkeys(s[0] for s in samples)
    return {n: statistics.median(s[1] for s in samples if s[0] == n) for n in names}


def end_to_end(samples, passes, setup_s: float, rss_mb: float) -> dict:
    """The end-to-end metrics. Op latency is the geometric mean of the
    per-kind medians. The median of all ops pooled falls between two kinds
    of op with different latencies and jumps between them from run to run:
    over four sets of ten seeded ``erp_analytics`` runs on a 4-core VM its
    quartile spread averaged 0.09 of its median, against 0.06 for this
    mean. Throughput is the median over passes of the ops a pass
    completed per second, so that one pass slowed by the host moves
    neither metric."""
    metrics = {
        "setup_s": (setup_s, "s"),
        "op_s_geomean": (statistics.geometric_mean(medians_by_op(samples).values()), "s"),
        "ops_per_s": (statistics.median(n_ok / s for s, n_ok in passes), "1/s"),
        "jvm_peak_rss_mb": (rss_mb, "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM for the driver JVM")


def _cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and the driver JVM, its
    JIT and GC threads included (not by the JVM's Python workers)."""
    with open(f"/proc/{jvm_pid}/stat", encoding="ascii") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    jvm = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    own = os.times()
    return jvm + own.user + own.system


def _steal_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU time of the whole machine so far, in jiffies:
    the time the host ran something else while a core here was ready."""
    with open("/proc/stat", encoding="ascii") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def install_layer_spans(tracer: tr.Tracer) -> None:
    """Spans on the calls the engine makes into its own layers."""
    from cubicerp_client_etl_spark import checkpointing
    from cubicerp_client_etl_spark.connectors import rpc
    from cubicerp_client_etl_spark.plans import interpreter

    for attr, name in (
        ("run_job", "plans.run_job"),
        ("extract", "sources.extract"),
        ("transform", "compilers.transform"),
        ("load_sink", "plans.load_sink"),
        ("apply_reprocess_mode", "operators.merge"),
        ("write_parquet", "sinks.write"),
        ("write_ledger", "sinks.ledger"),
    ):
        tracer.wrap(interpreter, attr, name)
    tracer.wrap(rpc, "rpc_extract", "connectors.extract")
    tracer.wrap(rpc, "rpc_apply_actions", "connectors.apply_build")
    tracer.wrap_everywhere(checkpointing.pin_eager, "checkpointing.pin_eager")


def measure(wl, args, conf: dict, tracer: tr.Tracer) -> tuple[dict, dict]:
    t0 = time.perf_counter()
    sizes = wl.prepare()
    gen_s = time.perf_counter() - t0

    from cubicerp_client_etl_spark import session

    failures = Failures()
    setups, get_spark_s, spark = [], [], None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = session.get_spark(app_name=f"perfbench-{wl.name}", extra_conf=conf)
            get_spark_s.append(time.perf_counter() - t0)
            wl.probe(spark)
            setups.append(time.perf_counter() - t0)
        tracer.sc = spark.sparkContext
        t0 = time.perf_counter()
        warm = Recorder()
        wl.warmup(spark, failures, warm)
        warmup_s = time.perf_counter() - t0
        for name, _, ok, _ in warm.samples:
            if not ok:
                failures.add(f"{name} failed during the warm-up")

        if args.trace:
            install_layer_spans(tracer)
        rec, pass_s, pass_cpu_s = Recorder(), [], []
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        passes: dict[bool, list[tuple[float, int]]] = {False: [], True: []}
        t_start, steal0 = time.perf_counter(), _steal_jiffies()
        # a traced run needs two passes of each kind (order below)
        min_passes = max(4, wl.min_passes) if args.trace else wl.min_passes
        while len(pass_s) < min_passes or time.perf_counter() - t_start < args.seconds:
            # A traced run traces half its passes, in the order untraced,
            # traced, traced, untraced, so that the engine still warming up
            # biases neither half; the difference is the tracing overhead.
            rec.traced = tracer.enabled = bool(args.trace) and len(pass_s) % 4 in (1, 2)
            first = len(rec.samples)
            t0, c0 = time.perf_counter(), _cpu_s(jvm_pid)
            wl.run_pass(spark, rec, failures)
            pass_s.append(time.perf_counter() - t0)
            pass_cpu_s.append(_cpu_s(jvm_pid) - c0)
            n_ok = sum(1 for s in rec.samples[first:] if s[2])
            passes[rec.traced].append((pass_s[-1], n_ok))
        tracer.enabled = False
        steal1 = _steal_jiffies()

        wl.final_check(spark, failures)
        rss_mb = _jvm_peak_rss_mb(spark)
        jsc = spark.sparkContext._jsc
        after_run = {
            "sinks.persisted_frames_after_run": jsc.getPersistentRDDs().size(),
            "sinks.storage_mem_mb_after_run": sum(
                i.memSize() for i in jsc.sc().getRDDStorageInfo()
            ) / 2**20,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)

    setup_s = statistics.median(setups)
    plain = [s for s in rec.samples if not s[3]]
    metrics = end_to_end(plain, passes[False], setup_s, rss_mb)
    attempted = len(rec.samples)
    failed = sum(1 for s in rec.samples if not s[2])
    notes = {
        "workload": wl.name,
        "seed": args.seed,
        "inputs": {**sizes, "generate_s": gen_s},
        "setup_runs_s": setups,
        "warmup_s": warmup_s,
        "pass_s": pass_s,
        "pass_cpu_s": pass_cpu_s,
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "ops_per_pass": wl.ops_per_pass,
        "op_s_p50": statistics.median(s[1] for s in plain),
        "op_s_p50_by_op": medians_by_op(plain),
        "failed_frac": failed / attempted,
        "check_failures": list(failures),
    }
    if args.trace:
        traced = [s for s in rec.samples if s[3]]
        traced_m = end_to_end(traced, passes[True], setup_s, rss_mb)
        notes["tracing_overhead"] = {
            k: traced_m[k]["value"] - metrics[k]["value"]
            for k in ("op_s_geomean", "ops_per_s")
        }
        stages = tr.stage_totals(conf["spark.eventLog.dir"][len("file://"):])
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(
            {
                "session.get_spark_s": statistics.median(get_spark_s),
                "session.warmup_s": warmup_s,
                **after_run,
                **wl.layer_metrics(tracer, stages, len(traced)),
            }
        )
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"),
            {"per_layer": layers, "notes": notes},
        )
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
    result = {
        "correct": not failures and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, notes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its processes and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    cls = WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench_work", f"{cls.name}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    load_before = os.getloadavg()[0]
    tracer = tr.Tracer(run_id=f"{cls.name}-{args.seed}-{os.getpid()}")
    wl = cls(args.seed, work, tracer)
    try:
        conf, env = pin_environment(work, cls.reserved_cores, bool(args.trace))
        os.chdir(work)  # anything Spark drops in the cwd lands here
        result, notes = measure(wl, args, conf, tracer)
    finally:
        wl.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still has its directory there
    notes.update(env)
    notes["loadavg_1m_before"] = load_before
    notes["loadavg_1m_after"] = os.getloadavg()[0]
    print(json.dumps(notes))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
