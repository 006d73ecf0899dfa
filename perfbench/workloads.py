"""The benchmark workloads. Each drives the engine only through its
public functions: ``queries.REGISTRY[...].fn``,
``plans.interpreter.run_job`` / ``run_ready_jobs`` and
``connectors.xmlrpc.XmlRpcTransport``.

A workload generates its inputs (``prepare``, no Spark), runs one op
for the set-up probe (``probe``), warms up while checking outputs
(``warmup``: a first, checked run of every op and an untimed pass),
runs measured passes of ops (``run_pass``), and checks the end state
(``final_check``). Every op is timed by the caller's
recorder; a check failure marks the op failed, and the run goes on.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time
import xmlrpc.client

from perfbench import gen
from perfbench import trace as tr

# q-number prefixes of the headline queries in the workload: money
# aggregates, star/three-way joins, windows and single-task parquet
# scans. q013, q041 and q230 of the same family are left out so that a
# run fits its time budget with a warm-up pass and three measured
# passes; q041 also starts Python workers, which the other queries do
# not. q011 stays: its prefix scans are the workload's eager pins.
ERP_QUERIES = "q001 q006 q010 q011 q043 q080 q231".split()


class Failures(list):
    """Check failures of one run, printed to stderr as they happen."""

    def add(self, what: str) -> None:
        print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        self.append(what)


def _action_counts(merged) -> dict[str, int]:
    return {r["action"]: r["count"] for r in merged.groupBy("action").count().collect()}


class ErpAnalytics:
    """Money aggregates, star/three-way joins, windows and single-task
    parquet scans; no shingle or similarity operator. One op is one
    query written to a ``noop`` sink."""

    name = "erp_analytics"
    min_passes = 3
    reserved_cores = 0

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed, self.tracer = seed, tracer
        self.sf_dir = os.path.join(work, "sf")
        self.ops_per_pass = len(ERP_QUERIES)

    def prepare(self) -> dict:
        from cubicerp_client_etl_spark.queries import REGISTRY

        self.names = [
            next(n for n in sorted(REGISTRY) if n.split("_")[0] == q)
            for q in ERP_QUERIES
        ]
        return gen.analytic_tables(self.seed, self.sf_dir)

    def close(self) -> None:
        pass

    def _op(self, spark, name: str) -> None:
        from cubicerp_client_etl_spark.queries import REGISTRY

        with self.tracer.span("queries.build"):
            df = REGISTRY[name].fn(spark, self.sf_dir)
        with self.tracer.span("queries.exec"):
            df.write.format("noop").mode("overwrite").save()

    def probe(self, spark) -> None:
        self._op(spark, self.names[0])

    def warmup(self, spark, failures: Failures, record) -> None:
        """First run of every query, compared with its DuckDB oracle by
        the repository's oracle sweep (its canonical form and types),
        then one untimed pass: the first pass after the cold run was
        still a fifth slower than the third on a 4-core VM."""
        from tools.oracle_sweep import sweep

        n_failed = sweep(spark, self.sf_dir, only=",".join(self.names))
        if n_failed:
            failures.add(f"{n_failed} queries differ from their oracle")
        self.run_pass(spark, record, failures)

    def run_pass(self, spark, record, failures: Failures) -> None:
        for name in self.names:
            record(name, lambda name=name: self._op(spark, name))

    def final_check(self, spark, failures: Failures) -> None:
        pass

    def layer_metrics(self, tracer, stages, ops: int) -> dict:
        spans = tracer.by_name()
        build, exec_ = stages.get("queries.build"), stages.get("queries.exec")
        pins = stages.get("checkpointing.pin_eager")
        totals = [t for t in (build, exec_, pins) if t is not None]
        run_s = sum(t.run_s for t in totals)
        skew = [x for t in totals for x in t.skew]
        return {
            "queries.build_s": _sum_dur(spans, "queries.build") / ops,
            "queries.build_jobs": sum(t.jobs for t in (build, pins) if t) / ops,
            "checkpointing.pin_eager_s": _sum_dur(spans, "checkpointing.pin_eager") / ops,
            "checkpointing.pins": len(spans.get("checkpointing.pin_eager", [])) / ops,
            "queries.exec_s": _sum_dur(spans, "queries.exec") / ops,
            "queries.stage_cpu_s": sum(t.cpu_s for t in totals) / ops,
            "queries.gc_s": sum(t.gc_s for t in totals) / ops,
            "queries.single_task_stage_share": (
                sum(t.single_task_run_s for t in totals) / run_s if run_s else 0.0
            ),
            "queries.task_max_over_median": statistics.median(skew) if skew else 0.0,
            "queries.shuffle_write_mb": sum(t.shuffle_write_mb for t in totals) / ops,
            "queries.spill_mb": sum(t.spill_mb for t in totals) / ops,
        }


class EtlSweep:
    """One op is one job of ``plans.interpreter.run_ready_jobs`` over
    the ``etl.job`` registry of the benchmark's loopback Odoo-protocol
    server, which is reset to the seeded state before every sweep.

    The five file-merge jobs, one per reprocess mode, read a staged
    batch (CSV, or fixed width with header/footer read one task per
    file), run a field program with a mapping decode, merge against a
    parquet target, write parquet and append the ledger; no Python
    worker, no network. The RPC sync jobs extract over RPC with a
    delegated domain, merge (update) against a target carrying server
    ids, and create/write through ``mapInPandas`` workers, where the
    server refuses a seeded share of rows and the per-row fallback
    runs."""

    name = "etl_sweep"
    min_passes = 3
    # the server's one thread counts against the box's cores
    reserved_cores = 1

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed, self.work, self.tracer = seed, work, tracer
        self.in_dir = os.path.join(work, "etl_in")
        self.out_dir = os.path.join(work, "etl_out")
        self.file_ledger = os.path.join(work, "file_ledger")
        self.rpc_ledger = os.path.join(work, "rpc_ledger")
        self.jobs_run = self.ledger_rows = 0
        self.expect = {"file_ledger": 0, "rpc_ledger": 0, "rpc_errors": 0}
        self.matched = self.staged = 0
        self.proc = None

    def prepare(self) -> dict:
        self.target, file_jobs, sizes = gen.etl_inputs(self.seed, self.in_dir)
        self.file_jobs = {j.name: j for j in file_jobs}
        self.state = gen.rpc_state(self.seed)
        self.rpc = gen.rpc_expected(self.state)
        self.registry = {j["id"]: j["name"] for j in self.state["jobs"]}
        self.ops_per_pass = len(self.registry)
        state_file = os.path.join(self.work, "rpc_state.json")
        with open(state_file, "w", encoding="utf-8") as fh:
            json.dump(self.state, fh)
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "perfbench.rpc_server", "--state", state_file],
            stdout=subprocess.PIPE, text=True, cwd=self.work,
        )
        self.port = int(self.proc.stdout.readline())
        self.url = f"http://127.0.0.1:{self.port}"
        self.control = xmlrpc.client.ServerProxy(
            f"{self.url}/xmlrpc/2/common", allow_none=True
        )
        n_src = len(self.state["source"])
        sizes["rows"] += n_src + len(self.state["partner"])
        sizes["rejected_share"] = sum(self.rpc["rejected_rows"].values()) / n_src
        return sizes

    def close(self) -> None:
        if self.proc is not None:
            self.proc.terminate()
            self.proc.wait(timeout=30)
            self.proc.stdout.close()
            self.proc = None

    # ---- job specs -------------------------------------------------
    def _file_spec(self, job: gen.EtlJobInput):
        from cubicerp_client_etl_spark.plans.spec import (
            ColumnSpec, FieldSpec, JobSpec, MappingSpec, ResourceSpec, TransformSpec,
        )

        def fixed(cols):
            return tuple(ColumnSpec(n, txt_position=p, txt_length=w) for n, p, w in cols)

        if job.fmt == "csv":
            extract = ResourceSpec(
                name="staged", f_type="csv", f_filename=job.path,
                columns=tuple(ColumnSpec(n) for n, _, _ in gen.FW_BODY),
            )
        else:
            extract = ResourceSpec(
                name="staged", f_type="txt", f_filename=job.path,
                columns=fixed(gen.FW_BODY), header_columns=fixed(gen.FW_HEADER),
                footer_columns=fixed(gen.FW_FOOTER),
            )
        status_map = MappingSpec(
            "status_map", lines=tuple(gen.STATUS_LABELS.items()),
            default=gen.STATUS_DEFAULT,
        )
        return JobSpec(
            name=job.name,
            extract=extract,
            transform=TransformSpec(
                name="normalise",
                fields=(
                    FieldSpec("id", field_name="id"),
                    FieldSpec("name", value="UPPER(TRIM(name))"),
                    FieldSpec("amount", value="CAST(amount AS DOUBLE)"),
                    FieldSpec("qty", value="CAST(qty AS INT)"),
                    FieldSpec("status", field_name="status", mapping="status_map"),
                ),
                reprocess=job.mode,
                mappings=(status_map,),
            ),
            load=ResourceSpec(
                name="target", f_type="parquet",
                f_filename=os.path.join(self.out_dir, job.name),
            ),
            ledger_path=self.file_ledger,
            pk_field="id",
        )

    def _rpc_spec(self, jid: int, name: str):
        from cubicerp_client_etl_spark.plans.spec import (
            ColumnSpec, FieldSpec, JobSpec, ResourceSpec, ServerSpec, TransformSpec,
        )

        from perfbench.rpc_server import DB, LOGIN, PASSWORD

        server = ServerSpec(name=DB, etl_type="rpc", fs_host="127.0.0.1",
                            fs_port=self.port, login=LOGIN, password=PASSWORD)
        return JobSpec(
            name=name,
            extract=ResourceSpec(
                name="source", etl_type="rpc", rpc_model="bench.source",
                rpc_schema="id long, code string, name string, amount double",
                columns=tuple(ColumnSpec(c) for c in ("id", "code", "name", "amount")),
                domain=(("job", "=", jid), ("active", "=", True)),
                server=server,
            ),
            transform=TransformSpec(
                name="to_partner",
                fields=(
                    FieldSpec("pk", value="code"),
                    FieldSpec("name", value="UPPER(name)"),
                    FieldSpec("v", value="CAST(ROUND(amount * 100) AS BIGINT)"),
                ),
                reprocess="update",
            ),
            load=ResourceSpec(name="partner", etl_type="rpc",
                              rpc_model="bench.partner", server=server),
            pk_field="pk",
            ledger_path=self.rpc_ledger,
        )

    # ---- the sweep -------------------------------------------------
    def _build(self, row):
        """``job_builder``: the job's spec from its registry row, and
        what its run adds to the ledgers."""
        jid, name = int(row["id"]), row["name"]
        self.jobs_run += 1
        if name in self.file_jobs:
            job = self.file_jobs[name]
            self.expect["file_ledger"] += sum(job.expected_actions.values())
            return self._file_spec(job)
        self.expect["rpc_ledger"] += self.rpc["ledger_rows"][jid]
        self.expect["rpc_errors"] += self.rpc["rejected_rows"][jid]
        return self._rpc_spec(jid, name)

    def _target(self, spark, row):
        """``existing_target_for``: the parquet target of a file job, the
        server-side records (with their ids) of an RPC job."""
        if row["name"] in self.file_jobs:
            return spark.read.parquet(self.target)
        j = int(row["id"])
        return spark.createDataFrame(
            [(p["pk"], p["name"], p["v"], p["id"])
             for p in self.state["partner"] if p["job"] == j],
            "pk string, name string, v long, model_id long",
        )

    def _sweep(self, spark, on_job) -> dict:
        """``run_ready_jobs`` against the server; the caller resets it."""
        from cubicerp_client_etl_spark.connectors.xmlrpc import XmlRpcTransport
        from cubicerp_client_etl_spark.plans import interpreter

        from perfbench.rpc_server import DB, LOGIN, PASSWORD

        def build(row):
            on_job(int(row["id"]))
            return self._build(row)

        with self.tracer.span("plans.sweep"):
            return interpreter.run_ready_jobs(
                spark, XmlRpcTransport(self.url, DB, LOGIN, PASSWORD), build,
                existing_target_for=lambda row: self._target(spark, row),
            )

    def _expected_actions(self, jid: int) -> dict:
        name = self.registry[jid]
        if name in self.file_jobs:
            return self.file_jobs[name].expected_actions
        return self.rpc["actions"][jid]

    def _check(self, ran: dict, failures: Failures) -> set:
        """Per-job action counts against the generator's; returns the
        ids of the jobs that failed."""
        bad = set()
        for jid in self.registry:
            want = self._expected_actions(jid)
            got = _action_counts(ran[jid]) if jid in ran else None
            if got != want:
                failures.add(f"{self.registry[jid]}: actions {got} != {want}")
                bad.add(jid)
                continue
            job = self.file_jobs.get(self.registry[jid])
            # the modes whose action tags tell matched staged rows apart
            if job is not None and job.mode in ("update", "onlyupdate", "delete"):
                self.matched += sum(got.get(a, 0) for a in ("updated", "replaced"))
                self.staged += gen.ETL_STAGED_ROWS
        return bad

    def probe(self, spark) -> None:
        """The first action on the workload's inputs: the insert job's
        extract (CSV scan) counted."""
        from cubicerp_client_etl_spark.plans import interpreter

        spec = self._file_spec(self.file_jobs["file_merge_insert"])
        interpreter.extract(spark, spec).count()

    def warmup(self, spark, failures: Failures, record) -> None:
        """One untimed sweep, checked like any other: the first run of
        every job is cold, and the first full sweep ran a fifth slower
        than the next ones on a 4-core VM."""
        self.run_pass(spark, record, failures)
        self.stats_before = self.control.bench_stats()

    def run_pass(self, spark, record, failures: Failures) -> None:
        """One sweep. A job's op time runs from its ``job_builder`` call
        (right after ``action_start``) to the next job's, the first from
        the start of the sweep and the last to its end. The sweep has no
        per-job isolation: if it raises, every job it did not finish
        fails."""
        marks: list[tuple[int, float]] = []
        self.control.bench_reset()
        t0 = time.perf_counter()
        try:
            ran = self._sweep(
                spark, on_job=lambda jid: marks.append((jid, time.perf_counter()))
            )
        except Exception as exc:  # noqa: BLE001 - a raising sweep fails its jobs
            failures.add(f"sweep raised {exc!r}")
            ran = {}
        t1 = time.perf_counter()
        bad = self._check(ran, failures)
        ends = [t for _, t in marks[1:]] + [t1]
        for k, ((jid, start), end) in enumerate(zip(marks, ends)):
            record.add(self.registry[jid], end - (t0 if k == 0 else start), jid not in bad)
        for jid in sorted(set(self.registry) - {j for j, _ in marks}):
            record.add(self.registry[jid], t1 - t0, False)

    def final_check(self, spark, failures: Failures) -> None:
        """After the last sweep: each file job's output rows, the server's
        partner records, and both ledgers: one row per merged row and
        one RPC ``error`` row per rejected row, for every job run
        (counted, never joined on ``job_id``)."""
        from pyspark.sql import functions as F

        stats = self.control.bench_stats()
        self.stats_delta = {
            "calls": _minus(stats["calls"], self.stats_before["calls"]),
            "rows": _minus(stats["rows"], self.stats_before["rows"]),
            "busy_s": stats["busy_s"] - self.stats_before["busy_s"],
        }
        for job in self.file_jobs.values():
            n = spark.read.parquet(os.path.join(self.out_dir, job.name)).count()
            if n != sum(job.expected_actions.values()):
                failures.add(f"{job.name}: output has {n} rows")
        after = {p["pk"]: {"name": p["name"], "v": p["v"]}
                 for p in self.control.bench_partner()}
        want = self.rpc["partner_after"]
        if after != want:
            diff = len(set(after) ^ set(want)) + sum(
                after[k] != v for k, v in want.items() if k in after
            )
            failures.add(f"server end state differs in {diff} partner records")
        file_rows = spark.read.parquet(self.file_ledger).count()
        rpc_led = spark.read.parquet(self.rpc_ledger)
        rpc_rows = rpc_led.count()
        rpc_errors = rpc_led.filter(F.col("level") == "error").count()
        got = {"file_ledger": file_rows, "rpc_ledger": rpc_rows, "rpc_errors": rpc_errors}
        if got != self.expect:
            failures.add(f"ledgers {got} != {self.expect}")
        self.ledger_rows = file_rows + rpc_rows

    def layer_metrics(self, tracer, stages, ops: int) -> dict:
        """Per sweep, per job, per file job or per RPC job, as named."""
        spans = tracer.by_name()
        sweeps = spans.get("plans.sweep", [])
        n_sweeps = max(1, len(sweeps))
        n_file = max(1, len(spans.get("sinks.write", [])))
        n_rpc = max(1, len(spans.get("connectors.extract", [])))
        write, ledger = stages.get("sinks.write"), stages.get("sinks.ledger")
        n_files = sum(
            sum(f.startswith("part-") for f in os.listdir(os.path.join(self.out_dir, j)))
            for j in self.file_jobs
        )
        # the load step of an RPC job ships the rows: its self time is the
        # merge execution plus the mapInPandas create/write round trips
        self_s = tr.self_times(tracer.spans)
        rpc_loads = {s.parent for s in tracer.spans if s.name == "connectors.apply_build"}
        # server counters cover every measured sweep, traced or not
        delta = self.stats_delta
        all_sweeps = delta["calls"].get("action_start", 0) / len(self.registry)
        calls, rows = delta["calls"], delta["rows"]
        shipped = calls.get("create", 0) + calls.get("write", 0)
        return {
            "plans.sweep_s": sum(s.duration for s, _ in sweeps) / n_sweeps,
            "plans.job_overhead_s": sum(st for _, st in sweeps) / n_sweeps,
            "plans.run_job_s": _sum_dur(spans, "plans.run_job") / ops,
            "sources.extract_build_s": _sum_dur(spans, "sources.extract") / ops,
            "sources.read_tasks": (write.input_tasks if write else 0) / n_file,
            "sources.rows_read": (write.input_records if write else 0) / n_file,
            "compilers.transform_build_s": _sum_dur(spans, "compilers.transform") / ops,
            "operators.merge_build_s": _sum_dur(spans, "operators.merge") / ops,
            "operators.merge_shuffle_mb": (write.shuffle_write_mb if write else 0) / n_file,
            "operators.merge_matched_share": (
                self.matched / self.staged if self.staged else 0.0
            ),
            "sinks.write_s": _sum_dur(spans, "sinks.write") / n_file,
            "sinks.ledger_s": _sum_dur(spans, "sinks.ledger") / ops,
            "sinks.bytes_written": (
                (write.output_bytes if write else 0) + (ledger.output_bytes if ledger else 0)
            ) / ops,
            "sinks.files_written": n_files / len(self.file_jobs),
            "connectors.extract_s": _sum_dur(spans, "connectors.extract") / n_rpc,
            "connectors.apply_s": sum(self_s[i] for i in rpc_loads) / n_rpc,
            "connectors.calls_search_read": calls.get("search_read", 0) / all_sweeps,
            "connectors.calls_create": calls.get("create", 0) / all_sweeps,
            "connectors.calls_write": calls.get("write", 0) / all_sweeps,
            "connectors.calls_unlink": calls.get("unlink", 0) / all_sweeps,
            "connectors.rows_per_call": (
                (rows.get("create", 0) + rows.get("write", 0)) / shipped if shipped else 0.0
            ),
            "connectors.fallback_rows": rows.get("rejected_batch", 0) / all_sweeps,
            "connectors.server_busy_s": delta["busy_s"] / all_sweeps,
            "sinks.ledger_rows": self.ledger_rows / self.jobs_run,
        }


def _minus(a: dict, b: dict) -> dict:
    return {k: a.get(k, 0) - b.get(k, 0) for k in a}


def _sum_dur(spans, name: str) -> float:
    return sum(s.duration for s, _ in spans.get(name, []))


WORKLOADS = {w.name: w for w in (ErpAnalytics, EtlSweep)}
