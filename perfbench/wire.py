"""Keep-alive client for the emulator's two wire protocols.

One persistent HTTP/1.1 connection per protocol, as the drivers hold
them: gosnowflake (`/queries/v1/query-request`, HTTP 200 with
`success:false` on error) and SQL REST API v2 (`/api/v2/statements`).
Each statement is recorded as a client span (send/receive wall clock,
round trip, request/response bytes, the server's query id) so a traced
run can line the server's own events up against it.
"""

import http.client
import json
import time


class StatementError(Exception):
    pass


class Client:
    def __init__(self, port, database="BENCH", schema="PUBLIC", timeout=120):
        self.port = port
        self.database = database
        self.schema = schema
        self.timeout = timeout
        self.conns = {}
        self.token = None
        self.spans = []      # one dict per statement, in order
        self.logins = []     # login round trips, ms

    def _conn(self, proto):
        c = self.conns.get(proto)
        if c is None:
            c = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.timeout)
            self.conns[proto] = c
        return c

    def _post(self, proto, path, body, headers=None):
        data = json.dumps(body).encode()
        h = {"Content-Type": "application/json", "Connection": "keep-alive"}
        if headers:
            h.update(headers)
        c = self._conn(proto)
        c.request("POST", path, data, h)
        resp = c.getresponse()
        raw = resp.read()
        return resp.status, (json.loads(raw) if raw else None), len(data), len(raw)

    def close(self):
        for c in self.conns.values():
            c.close()
        self.conns = {}

    # ------------------------------------------------------------ session

    def login(self, user="bench"):
        t0 = time.perf_counter()
        _, r, _, _ = self._post(
            "gosnowflake",
            "/session/v1/login-request?databaseName=%s&schemaName=%s"
            % (self.database, self.schema),
            {"data": {"LOGIN_NAME": user, "PASSWORD": "x"}})
        self.logins.append((time.perf_counter() - t0) * 1000)
        if not r or not r.get("success"):
            raise StatementError("login failed: %r" % (r,))
        self.token = r["data"]["token"]

    def logout(self):
        _, r, _, _ = self._post("gosnowflake", "/session/logout", {"token": self.token})
        self.token = None
        if not r or not r.get("success"):
            raise StatementError("logout failed: %r" % (r,))

    def _auth(self):
        return {"Authorization": 'Snowflake Token="%s"' % self.token}

    # ---------------------------------------------------------- statements

    def run(self, proto, sql, bindings=None, kind="stmt"):
        """Executes one statement; returns its rows (lists of cells).
        Raises StatementError on a server-side error. The span is recorded
        either way."""
        body = {}
        if proto == "gosnowflake":
            path = "/queries/v1/query-request"
            body["sqlText"] = sql
        else:
            path = "/api/v2/statements"
            body.update({"statement": sql, "database": self.database,
                         "schema": self.schema})
        if bindings:
            body["bindings"] = {str(i + 1): {"type": t, "value": str(v)}
                                for i, (t, v) in enumerate(bindings)}
        t_send = time.time()
        t0 = time.perf_counter()
        status, r, req_b, resp_b = self._post(proto, path, body, self._auth())
        rt = (time.perf_counter() - t0) * 1000
        span = {"i": len(self.spans), "proto": proto, "kind": kind,
                "t_send": t_send, "t_recv": t_send + rt / 1000.0, "rt_ms": rt,
                "req_bytes": req_b, "resp_bytes": resp_b, "qid": None, "ok": False,
                "sql": sql, "bindings": bindings}
        self.spans.append(span)
        if proto == "gosnowflake":
            if not r or not r.get("success"):
                raise StatementError("%s -> %s" % (sql[:80], (r or {}).get("message")))
            span["qid"] = r["data"].get("queryId")
            rows = r["data"].get("rowset") or []
        else:
            if status != 200 or not r or r.get("code") != "090001":
                raise StatementError("%s -> %s" % (sql[:80], (r or {}).get("message")))
            span["qid"] = r.get("statementHandle")
            rows = r.get("data") or []
        span["ok"] = True
        return rows
