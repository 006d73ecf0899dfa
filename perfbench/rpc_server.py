"""Loopback Odoo-protocol XML-RPC server for the ``etl_sweep`` workload.

Run as ``python -m perfbench.rpc_server --state FILE``: it loads the
seeded state (``perfbench.gen.rpc_state``, written as JSON by the
benchmark), prints its port on one stdout line and serves until
terminated. One thread serves every request, so
the server adds one busy thread to the box, and the time it spends
inside model calls is measured here, not guessed from the client.

Besides the Odoo surface (``authenticate`` on ``/xmlrpc/2/common``,
``execute_kw`` on ``/xmlrpc/2/object``) it exposes three control calls
for the benchmark: ``bench_reset`` (back to the seeded state),
``bench_stats`` (call and row counters, busy time) and
``bench_partner`` (the partner records, for the output check).
"""

from __future__ import annotations

import argparse
import copy
import json
import sys
import time
import xmlrpc.client
from collections import Counter
from xmlrpc.server import SimpleXMLRPCRequestHandler, SimpleXMLRPCServer

DB, LOGIN, PASSWORD, UID = "bench", "admin", "secret", 2


class OdooLikeState:
    """In-memory models ``etl.job``, ``bench.source``, ``bench.partner``.
    Rows with a negative ``v`` fail validation, as a real server would
    refuse them."""

    def __init__(self, state: dict) -> None:
        self.initial = state
        self.calls: Counter = Counter()
        self.rows: Counter = Counter()
        self.busy_s = 0.0
        self.bench_reset()

    # ---- benchmark control -----------------------------------------
    def bench_reset(self) -> bool:
        st = copy.deepcopy(self.initial)
        self.jobs = {j["id"]: dict(j) for j in st["jobs"]}
        self.source = [dict(s) for s in st["source"]]
        self.partner = {p["id"]: dict(p) for p in st["partner"]}
        self.next_id = st["next_id"]
        return True

    def bench_stats(self) -> dict:
        return {
            "calls": dict(self.calls),
            "rows": dict(self.rows),
            "busy_s": self.busy_s,
        }

    def bench_partner(self) -> list[dict]:
        return [
            {"pk": p["pk"], "name": p["name"], "v": p["v"]}
            for p in self.partner.values()
        ]

    # ---- Odoo surface ----------------------------------------------
    def authenticate(self, db, login, password, _ctx):
        return UID if (db, login, password) == (DB, LOGIN, PASSWORD) else 0

    def execute_kw(self, db, uid, password, model, method, args, kwargs):
        t0 = time.perf_counter()
        try:
            if (db, uid, password) != (DB, UID, PASSWORD):
                raise xmlrpc.client.Fault(3, "AccessDenied")
            self.calls[method] += 1
            return self._call_model(model, method, args, kwargs or {})
        finally:
            self.busy_s += time.perf_counter() - t0

    def _call_model(self, model, method, args, kwargs):
        if model == "etl.job":
            if method == "search_read":
                fields = kwargs.get("fields") or ["id", "name", "state"]
                return [{f: j[f] for f in fields} for j in self.jobs.values()]
            if method in ("action_start", "action_done"):
                for jid in args[0]:
                    self.jobs[jid]["state"] = (
                        "running" if method == "action_start" else "done"
                    )
                return True
        if model == "bench.source" and method == "search_read":
            domain, fields = args[0], kwargs.get("fields") or []
            out = [
                {f: s[f] for f in fields} if fields else dict(s)
                for s in self.source
                if all(_match(s, leaf) for leaf in domain)
            ]
            self.rows["search_read"] += len(out)
            return out
        if model == "bench.partner":
            if method == "create":
                vals_list = args[0]
                self.rows["create"] += len(vals_list)
                if any(v.get("v", 0) < 0 for v in vals_list):
                    self.rows["rejected_batch"] += len(vals_list)
                    raise xmlrpc.client.Fault(2, "ValidationError: negative v")
                ids = []
                for vals in vals_list:
                    self.partner[self.next_id] = {"id": self.next_id, **vals}
                    ids.append(self.next_id)
                    self.next_id += 1
                return ids
            if method == "write":
                ids, vals = args[0], args[1]
                self.rows["write"] += len(ids)
                if vals.get("v", 0) < 0:
                    raise xmlrpc.client.Fault(2, "ValidationError: negative v")
                for rid in ids:
                    if rid not in self.partner:
                        raise xmlrpc.client.Fault(4, f"missing id {rid}")
                    self.partner[rid].update(vals)
                return True
            if method == "unlink":
                self.rows["unlink"] += len(args[0])
                for rid in args[0]:
                    self.partner.pop(rid, None)
                return True
        raise xmlrpc.client.Fault(1, f"unsupported {model}.{method}")


def _match(row: dict, leaf) -> bool:
    field, op, value = leaf
    if op == "=":
        return row.get(field) == value
    raise xmlrpc.client.Fault(1, f"unsupported domain operator {op!r}")


class _Handler(SimpleXMLRPCRequestHandler):
    rpc_paths = ("/xmlrpc/2/common", "/xmlrpc/2/object")

    def log_message(self, *args):
        pass


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state", required=True, help="JSON file of the seeded state")
    args = ap.parse_args()
    with open(args.state, encoding="utf-8") as fh:
        state = json.load(fh)
    SimpleXMLRPCServer.request_queue_size = 64
    srv = SimpleXMLRPCServer(
        ("127.0.0.1", 0), requestHandler=_Handler, allow_none=True, logRequests=False
    )
    srv.register_instance(OdooLikeState(state))
    print(srv.server_address[1], flush=True)
    try:
        srv.serve_forever()
    finally:
        srv.server_close()


if __name__ == "__main__":
    sys.exit(main())
