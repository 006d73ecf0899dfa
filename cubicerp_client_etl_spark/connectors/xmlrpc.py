"""Live XML-RPC transport for the Odoo wire protocol — stdlib only.

The reference reaches its server through openerplib/odoolib
(cubicerpetl/cbc_xmlrpc.py:39-57), which is the classic Odoo XML-RPC
surface: ``/xmlrpc/2/common`` ``authenticate(db, login, password, {})``
returning a uid, then ``/xmlrpc/2/object``
``execute_kw(db, uid, password, model, method, args, kwargs)`` for
every model call. This module speaks that exact protocol with nothing
but ``xmlrpc.client``, so the engine needs no third-party RPC library
and the transport is picklable into ``mapInPandas`` (one client per
executor partition — ``rpc.rpc_apply_actions``' contract).

Error isolation: ``create_batch`` first tries ONE batched ``create``
call (modern Odoo accepts a list of vals dicts — one round-trip per
Arrow chunk, the whole point of the batched sink); if the server
rejects the batch, it degrades to per-row creates so each row's
failure is captured individually in the ledger instead of poisoning
its neighbors — the reference's per-row semantics
(cubicerpetl.py:738-745) paid only on the error path.

Tested against a REAL in-process XML-RPC server (stdlib
SimpleXMLRPCServer serving authenticate/execute_kw over a loopback
socket) in tests/test_rpc_connector.py — the transport layer itself,
not a method-level mock.
"""

from __future__ import annotations

import xmlrpc.client
from typing import Sequence

from cubicerp_client_etl_spark.plans.spec import ServerSpec


class XmlRpcTransport:
    """RpcTransport over the Odoo XML-RPC wire protocol (stdlib).

    Lazy: the proxies and the authenticate round-trip happen on first
    use, so the object can be constructed on the driver, pickled to
    executors, and each worker authenticates its own session.
    """

    def __init__(
        self,
        url: str,
        database: str,
        login: str,
        password: str,
        allow_none: bool = True,
    ) -> None:
        self.url = url.rstrip("/")
        self.database = database
        self.login = login
        self.password = password
        self.allow_none = allow_none
        self._uid = None
        self._models = None

    @classmethod
    def from_server_spec(cls, spec: ServerSpec, database: str) -> "XmlRpcTransport":
        """INI bootstrap parity (cbc_xmlrpc.get_connection): host/port/
        username/password resolved per section by config.server_spec_
        from_ini; the database is the section name in the reference."""
        return cls(
            url=f"http://{spec.fs_host}:{spec.fs_port}",
            database=database,
            login=spec.login,
            password=spec.password,
        )

    # pickling: drop live proxies (sockets); workers re-authenticate
    def __getstate__(self):
        state = dict(self.__dict__)
        state["_uid"] = None
        state["_models"] = None
        return state

    def _ensure(self) -> None:
        if self._models is not None:
            return
        common = xmlrpc.client.ServerProxy(
            f"{self.url}/xmlrpc/2/common", allow_none=self.allow_none
        )
        uid = common.authenticate(self.database, self.login, self.password, {})
        if not uid:
            raise PermissionError(
                f"XML-RPC authentication failed for {self.login!r} "
                f"on {self.url}/{self.database}"
            )
        self._uid = uid
        self._models = xmlrpc.client.ServerProxy(
            f"{self.url}/xmlrpc/2/object", allow_none=self.allow_none
        )

    def execute_kw(self, model: str, method: str, args, kwargs=None):
        self._ensure()
        return self._models.execute_kw(
            self.database,
            self._uid,
            self.password,
            model,
            method,
            list(args),
            kwargs or {},
        )

    # ---- RpcTransport protocol ------------------------------------
    def search_read(
        self, model: str, domain: Sequence, fields: Sequence[str]
    ) -> list[dict]:
        # Odoo wire form: domain leaves as lists, not tuples
        wire_domain = [list(leaf) for leaf in domain]
        return self.execute_kw(
            model, "search_read", [wire_domain], {"fields": list(fields)}
        )

    def create_batch(self, model: str, rows: list[dict]) -> list[dict]:
        try:
            ids = self.execute_kw(model, "create", [list(rows)])
            if not isinstance(ids, (list, tuple)):
                ids = [ids]
            return [{"ok": True, "id": int(i), "error": None} for i in ids]
        except xmlrpc.client.Fault:
            # batch rejected: degrade to per-row creates so one bad row
            # doesn't poison its neighbors (ledger-grade isolation)
            out = []
            for row in rows:
                try:
                    rid = self.execute_kw(model, "create", [[row]])
                    if isinstance(rid, (list, tuple)):
                        rid = rid[0]
                    out.append({"ok": True, "id": int(rid), "error": None})
                except xmlrpc.client.Fault as fault:
                    out.append(
                        {"ok": False, "id": None, "error": fault.faultString}
                    )
            return out


    def write_batch(
        self, model: str, updates: list[tuple[int, dict]]
    ) -> list[dict]:
        """Per-id ``write`` calls with per-row fault capture — the
        reference's update leg (cubicerpetl.py:728-746 writes one
        record per call; here one call per ROW only because Odoo's
        write takes one vals dict per call — the batch is the Arrow
        chunk the caller iterates)."""
        out = []
        for rid, vals in updates:
            try:
                ok = self.execute_kw(model, "write", [[int(rid)], vals])
                out.append({"ok": bool(ok), "id": int(rid), "error": None})
            except xmlrpc.client.Fault as fault:
                out.append(
                    {"ok": False, "id": int(rid), "error": fault.faultString}
                )
        return out

    def unlink(self, model: str, ids: list[int]) -> list[dict]:
        """One batched ``unlink`` (the reference's delete leg,
        cubicerpetl.py:506-517: unlink(ids) then re-insert); per-id
        degradation on a batch fault."""
        try:
            ok = self.execute_kw(model, "unlink", [[int(i) for i in ids]])
            return [
                {"ok": bool(ok), "id": int(i), "error": None} for i in ids
            ]
        except xmlrpc.client.Fault:
            out = []
            for i in ids:
                try:
                    ok = self.execute_kw(model, "unlink", [[int(i)]])
                    out.append({"ok": bool(ok), "id": int(i), "error": None})
                except xmlrpc.client.Fault as fault:
                    out.append(
                        {"ok": False, "id": int(i), "error": fault.faultString}
                    )
            return out


def json_config_factory(config: str) -> "XmlRpcTransport":
    """Transport factory for the rpc_model DataSource's
    ``transport_config`` option: a JSON object with ``url``,
    ``database``, ``login``, ``password`` — the executor-side analogue
    of the reference's INI bootstrap (every worker builds its own
    authenticated client from declarative config, no pickled sockets).
    """
    import json

    cfg = json.loads(config)
    return XmlRpcTransport(
        url=cfg["url"],
        database=cfg["database"],
        login=cfg["login"],
        password=cfg["password"],
    )
