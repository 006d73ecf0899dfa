"""Self-tests of the benchmark: generator determinism, the expected-count
oracle against a tiny end-to-end run, and span self-time arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402
from perfbench.run import Recorder  # noqa: E402


def _tree_files(root: str) -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root)
        for f in files
    )


def test_generator_is_byte_identical_per_seed(tmp_path):
    dirs = {}
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        out = tmp_path / name
        gen.analytic_tables(seed, str(out / "sf"))
        gen.etl_inputs(seed, str(out / "etl"))
        dirs[name] = str(out)
    files = _tree_files(dirs["a"])
    assert files == _tree_files(dirs["b"]) == _tree_files(dirs["c"])
    match, mismatch, errors = filecmp.cmpfiles(dirs["a"], dirs["b"], files, shallow=False)
    assert not mismatch and not errors and len(match) == len(files)
    _, differ, _ = filecmp.cmpfiles(dirs["a"], dirs["c"], files, shallow=False)
    assert differ, "another seed must give other inputs"
    assert gen.rpc_state(7) == gen.rpc_state(7) != gen.rpc_state(8)


def test_expected_actions_counts_rows():
    target = {"a", "b", "c"}
    staged = ["b", "c", "d"]
    assert gen.expected_actions("insert", target, staged) == {"kept": 3, "inserted": 3}
    assert gen.expected_actions("update", target, staged) == {
        "updated": 2, "inserted": 1, "kept": 1}
    assert gen.expected_actions("noupdate", target, staged) == {"kept": 3, "inserted": 1}
    assert gen.expected_actions("onlyupdate", target, staged) == {"updated": 2, "kept": 1}
    assert gen.expected_actions("delete", target, staged) == {
        "replaced": 2, "inserted": 1, "kept": 1}


def test_rpc_expectations_follow_the_seeded_state():
    state = gen.rpc_state(3)
    exp = gen.rpc_expected(state)
    rpc_ids = [j["id"] for j in gen.rpc_jobs(state["jobs"])]
    assert sorted(exp["actions"]) == rpc_ids
    assert all(n == gen.RPC_REJECTS_PER_JOB for n in exp["rejected_rows"].values())
    refused = [s for s in state["source"] if s["amount"] < 0]
    assert all(s["active"] for s in refused)
    # a refused row keeps its old server record, or gets none
    assert all(s["code"] not in exp["partner_after"] for s in refused)


def test_self_times_subtract_covered_child_intervals():
    S = trace.Span
    spans = [
        S("root", 0.0, 10.0, None, "r"),
        S("a", 1.0, 3.0, 0, "r"),
        S("b", 2.0, 5.0, 0, "r"),  # overlaps a: the union [1, 5] counts once
        S("a.x", 1.5, 2.0, 1, "r"),  # grandchild: only a's self time drops
        S("c", 7.0, 8.0, 0, "r"),
        S("d", 9.5, 11.0, 0, "r"),  # clipped to the parent's end
    ]
    assert trace.self_times(spans) == pytest.approx([4.5, 1.5, 3.0, 0.5, 1.0, 1.5])


def test_tracer_records_nested_spans_only_when_enabled():
    tr = trace.Tracer("run")
    with tr.span("off"):
        pass
    tr.enabled = True
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent) for s in tr.spans] == [("outer", None), ("inner", 0)]
    assert all(s.run_id == "run" for s in tr.spans)


def test_recorder_counts_a_raising_op_as_failed():
    rec = Recorder()
    assert rec("ok", lambda: 1) == 1
    assert rec("boom", lambda: 1 / 0) is None
    assert [(s[0], s[2]) for s in rec.samples] == [("ok", True), ("boom", False)]


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from cubicerp_client_etl_spark.session import get_spark

    work = tmp_path_factory.mktemp("spark")
    s = get_spark(app_name="perfbench-selftest", extra_conf={
        "spark.local.dir": str(work),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    })
    yield s
    s.stop()


def test_expected_counts_match_a_tiny_end_to_end_sweep(spark, tmp_path, monkeypatch):
    """The plain-Python oracle agrees with the engine on tiny inputs:
    every file-merge mode, the RPC jobs, the server's end state and
    both ledgers."""
    from perfbench.workloads import EtlSweep, Failures

    monkeypatch.setattr(gen, "ETL_TARGET_ROWS", 60)
    monkeypatch.setattr(gen, "ETL_STAGED_ROWS", 40)
    monkeypatch.setattr(gen, "RPC_SOURCE_ROWS", 30)
    monkeypatch.setattr(gen, "RPC_TARGET_ONLY", 3)
    wl = EtlSweep(5, str(tmp_path), trace.Tracer("t"))
    failures = Failures()
    try:
        wl.prepare()
        wl.probe(spark)
        wl.warmup(spark, failures, Recorder())
        rec = Recorder()
        wl.run_pass(spark, rec, failures)
        wl.final_check(spark, failures)
    finally:
        wl.close()
    assert failures == []
    assert len(rec.samples) == len(gen.sweep_jobs())
    assert all(ok for _, _, ok, _ in rec.samples)
