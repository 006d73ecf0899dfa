"""Seeded input generators for the benchmark workloads.

Everything the engine reads is produced here from ``--seed`` alone: the
same seed gives byte-identical files and the same server state. The
expected outcomes (per-mode action counts, server end state, rejected
rows) are derived from the same draws in plain Python, never by running
the engine. Sizes are fixed constants, so only the values change with
the seed and the run-to-run spread reflects the engine, not the input.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- analytic
# One hundredth of the TPC-H-style fixture schema's sf1 row counts
# (the scale the engine's tests call sf0.01), with the value
# distributions of the engine's fixture tables.
ANALYTIC_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    # the oracle sweep opens a view over every fixture table; the
    # analytic workload reads neither of these two
    "documents": 50,
    "embeddings": 50,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start: dt.date, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(tbl: pa.Table, path: str) -> int:
    pq.write_table(tbl, path, compression="snappy")
    return os.path.getsize(path)


def analytic_tables(seed: int, out_dir: str) -> dict:
    """Write the fixture tables as one-row-group parquet files (the
    layout of the engine's own fixtures) and return input sizes."""
    rng = np.random.default_rng([seed, 1])
    n = ANALYTIC_ROWS
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {
        "region": pa.table(
            {
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": REGIONS,
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": list(rng.choice(SEGMENTS, c)),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(WORDS, p), rng.choice(WORDS, p))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
            "p_type": list(rng.choice(PART_TYPES, p)),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], o)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, o),
            "o_orderpriority": list(rng.choice(PRIORITIES, o)),
        }
    )
    li = n["lineitem"]
    qty = rng.integers(1, 51, li).astype(float)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, p, li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s, li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 3000.0, li), 2),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], li)),
            "l_linestatus": list(rng.choice(["F", "O"], li)),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, li),
        }
    )
    e = n["events"]
    ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us")
        + rng.integers(0, 30 * 86400 * 10**6, e).astype("timedelta64[us]")
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": ts,
            "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
            "event_type": list(rng.choice(EVENT_TYPES, e)),
            "value": _money(rng, 0.01, 490.02, e),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = [
        " ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 80, d)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(["de", "en", "es", "fr", "zh"], d)),
            "source": [f"src{i}" for i in rng.integers(0, 20, d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    m = n["embeddings"]
    vecs = rng.normal(0.0, 0.12, (m, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, m), pa.int32()),
        }
    )
    nbytes = sum(
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    )
    return {
        "rows": sum(t.num_rows for t in tables.values()),
        "files": len(tables),
        "bytes": nbytes,
    }


# ---------------------------------------------------------------- file ETL
ETL_MODES = ("insert", "update", "noupdate", "onlyupdate", "delete")
ETL_TARGET_ROWS = 5_000
ETL_STAGED_ROWS = 5_000
ETL_FILES_PER_JOB = 4
ETL_OVERLAP = 0.5
STATUS_LABELS = {"A": "active", "I": "inactive", "S": "suspended"}
STATUS_DEFAULT = "unknown"
# fixed-width body layout: (name, 1-based position, length)
FW_BODY = (("id", 1, 10), ("name", 11, 24), ("amount", 35, 12),
           ("qty", 47, 6), ("status", 53, 1))
FW_HEADER = (("hdr_date", 2, 8), ("hdr_batch", 10, 6))
FW_FOOTER = (("ftr_rows", 2, 10),)


@dataclass(frozen=True)
class EtlJobInput:
    name: str
    mode: str
    fmt: str  # "csv" (native splittable read) | "txt" (fixed width, wholetext)
    path: str
    expected_actions: dict[str, int]


def _key(i: int) -> str:
    return f"K{i:09d}"


def _etl_rows(rng, keys: list[int]) -> list[tuple]:
    k = len(keys)
    names = [f"{a}_{b}" for a, b in zip(rng.choice(WORDS, k), rng.integers(0, 10**6, k))]
    amount = _money(rng, 0.0, 99999.99, k)
    qty = rng.integers(0, 1000, k)
    status = rng.choice(["A", "I", "S", "X"], k, p=[0.6, 0.2, 0.15, 0.05])
    return list(zip((_key(i) for i in keys), names, amount, qty, status))


def expected_actions(mode: str, target: set[str], staged: list[str]) -> dict[str, int]:
    """Per-action row counts of ``mode`` applied to the two key sets,
    counted row by row in plain Python."""
    counts: dict[str, int] = {}

    def add(action: str, n: int = 1) -> None:
        counts[action] = counts.get(action, 0) + n

    staged_set = set(staged)
    if mode == "insert":
        add("kept", len(target))
        add("inserted", len(staged))
        return counts
    for key in staged:
        if key in target:
            add({"update": "updated", "noupdate": "kept",
                 "onlyupdate": "updated", "delete": "replaced"}[mode])
        elif mode != "onlyupdate":
            add("inserted")
    for key in target:
        if key not in staged_set:
            add("kept")
    return counts


def etl_inputs(seed: int, out_dir: str) -> tuple[str, list[EtlJobInput], dict]:
    """Write the reprocess target (parquet) and one staged batch per
    reprocess mode (CSV or fixed width with header/footer, several
    files each). Returns (target path, jobs, input sizes)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    target_keys = list(range(ETL_TARGET_ROWS))
    t_rows = _etl_rows(rng, target_keys)
    target_path = os.path.join(out_dir, "target.parquet")
    cols = list(zip(*t_rows))
    nbytes = _write(
        pa.table(
            {
                "id": cols[0],
                "name": cols[1],
                "amount": pa.array(cols[2], pa.float64()),
                "qty": pa.array(cols[3], pa.int32()),
                "status": [STATUS_LABELS.get(s, STATUS_DEFAULT) for s in cols[4]],
            }
        ),
        target_path,
    )
    target_set = {r[0] for r in t_rows}
    n_files = 1
    jobs = []
    n_overlap = int(ETL_STAGED_ROWS * ETL_OVERLAP)
    for j, mode in enumerate(ETL_MODES):
        fresh_start = ETL_TARGET_ROWS + j * ETL_STAGED_ROWS
        keys = list(rng.choice(ETL_TARGET_ROWS, n_overlap, replace=False)) + list(
            range(fresh_start, fresh_start + ETL_STAGED_ROWS - n_overlap)
        )
        keys = [int(k) for k in rng.permutation(keys)]
        rows = _etl_rows(rng, keys)
        fmt = "csv" if j % 2 == 0 else "txt"
        job_dir = os.path.join(out_dir, f"staged_{j}_{mode}")
        os.makedirs(job_dir)
        for f, chunk in enumerate(np.array_split(np.arange(len(rows)), ETL_FILES_PER_JOB)):
            part = [rows[i] for i in chunk]
            path = os.path.join(job_dir, f"part_{f}.{fmt}")
            with open(path, "w", encoding="utf-8", newline="\n") as fh:
                if fmt == "csv":
                    fh.writelines(
                        f"{k},{n},{a:.2f},{q},{s}\n" for k, n, a, q, s in part
                    )
                else:
                    fh.write(f"H20240131{f:06d}\n")
                    fh.writelines(
                        f"{k:<10}{n:<24}{a:>12.2f}{q:>6}{s}\n" for k, n, a, q, s in part
                    )
                    fh.write(f"F{len(part):>10}\n")
            nbytes += os.path.getsize(path)
            n_files += 1
        jobs.append(
            EtlJobInput(
                name=f"file_merge_{mode}",
                mode=mode,
                fmt=fmt,
                path=job_dir,
                expected_actions=expected_actions(
                    mode, target_set, [r[0] for r in rows]
                ),
            )
        )
    sizes = {
        "rows": ETL_TARGET_ROWS + ETL_STAGED_ROWS * len(ETL_MODES),
        "files": n_files,
        "bytes": nbytes,
        "overlap_share": ETL_OVERLAP,
    }
    return target_path, jobs, sizes


# --------------------------------------------------------------- RPC sync
RPC_JOBS = 1
RPC_SOURCE_ROWS = 200  # per job
RPC_ACTIVE_SHARE = 0.9
RPC_TARGET_SHARE = 0.5  # of a job's active source rows already on the server
RPC_TARGET_ONLY = 20  # per job: target rows the source no longer has
# per job: new rows the server refuses (negative amount); each fails a
# batched create, so the transport's per-row fallback runs every sweep
RPC_REJECTS_PER_JOB = 1


def sweep_jobs() -> list[dict]:
    """The ``etl.job`` registry the server serves, all ready: one
    file-merge job per reprocess mode, then the RPC sync jobs."""
    names = [f"file_merge_{m}" for m in ETL_MODES]
    names += [f"rpc_sync_{k}" for k in range(1, RPC_JOBS + 1)]
    return [{"id": i, "name": n, "state": "ready"} for i, n in enumerate(names, 1)]


def rpc_jobs(jobs: list[dict]) -> list[dict]:
    return [j for j in jobs if j["name"].startswith("rpc_sync_")]


def rpc_state(seed: int) -> dict:
    """Seeded server state: the ``etl.job`` registry, the
    ``bench.source`` rows each RPC job extracts, and the
    ``bench.partner`` records its update merge targets. Plain JSON-able
    data: the server process loads it, the benchmark derives
    expectations from it."""
    rng = np.random.default_rng([seed, 3])
    jobs, source, partner = sweep_jobs(), [], []
    next_id = 1
    for job in rpc_jobs(jobs):
        j = job["id"]
        codes = [f"J{j}C{i:05d}" for i in range(RPC_SOURCE_ROWS)]
        n_active = int(RPC_SOURCE_ROWS * RPC_ACTIVE_SHARE)
        active_idx = rng.permutation(RPC_SOURCE_ROWS)[:n_active]
        active = np.zeros(RPC_SOURCE_ROWS, dtype=bool)
        active[active_idx] = True
        amount = _money(rng, 0.0, 9999.99, RPC_SOURCE_ROWS)
        rejected = active_idx[-RPC_REJECTS_PER_JOB:]
        amount[rejected] = -amount[rejected] - 1.0
        names = [f"{w}_{k}" for w, k in zip(rng.choice(WORDS, RPC_SOURCE_ROWS),
                                             rng.integers(0, 10**6, RPC_SOURCE_ROWS))]
        for i, code in enumerate(codes):
            source.append({"id": next_id, "job": j, "code": code, "name": names[i],
                           "amount": float(amount[i]), "active": bool(active[i])})
            next_id += 1
        in_target = [codes[i] for i in sorted(active_idx[: int(n_active * RPC_TARGET_SHARE)])]
        in_target += [f"J{j}X{i:05d}" for i in range(RPC_TARGET_ONLY)]
        for code in in_target:
            partner.append({"id": next_id, "job": j, "pk": str(code),
                            "name": f"old_{code}", "v": 0})
            next_id += 1
    return {"jobs": jobs, "source": source, "partner": partner, "next_id": next_id}


def rpc_expected(state: dict) -> dict:
    """What one sweep must do, derived from the seeded state, per job id:
    merge action counts, ledger rows and rows the server rejects; and
    the partner records after the sweep (keyed by pk)."""
    actions, ledger_rows, rejected = {}, {}, {}
    after = {p["pk"]: {"name": p["name"], "v": p["v"]} for p in state["partner"]}
    for job in rpc_jobs(state["jobs"]):
        j = job["id"]
        target = {p["pk"] for p in state["partner"] if p["job"] == j}
        rows = [s for s in state["source"] if s["job"] == j and s["active"]]
        codes = {s["code"] for s in rows}
        actions[j] = expected_actions("update", target, [s["code"] for s in rows])
        ledger_rows[j] = len(codes | target)
        rejected[j] = 0
        for s in rows:
            v = int(round(s["amount"] * 100))
            if v < 0:
                rejected[j] += 1
                continue
            after[s["code"]] = {"name": s["name"].upper(), "v": v}
    return {"actions": actions, "ledger_rows": ledger_rows,
            "rejected_rows": rejected, "partner_after": after}
