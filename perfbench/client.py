"""Closed-loop HTTP clients, one per endpoint.

A client sends its next request only after GET /state reported the
previous one terminal: the service answers a second concurrent request
on an endpoint with 409, so an open loop would measure refusals. A
request's latency runs from its first POST until the poll that sees its
terminal state. The poll interval is fixed (``POLL_S``) and reported.
"""

from __future__ import annotations

import http.client
import itertools
import json
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

POLL_S = 0.05
BUSY = 409


@dataclass
class Result:
    label: str  # "task" or "calc"
    latency_s: float = 0.0
    ok: bool = False
    post_s: float = 0.0
    state_s: list[float] = field(default_factory=list)
    state_bytes: list[int] = field(default_factory=list)
    busy_refusals: int = 0
    rows_by_op: dict[str, int] = field(default_factory=dict)
    spark_jobs: int = 0
    error: str | None = None
    rid: str = ""  # request id of the traced spans


class Http:
    def __init__(self, port: int):
        self.port = port

    def call(self, method: str, path: str, body: dict | None = None) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            data = json.dumps(body).encode() if body is not None else None
            headers = {"Content-Type": "application/json"} if data else {}
            conn.request(method, path, body=data, headers=headers)
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()


class Client:
    """Drives one endpoint. ``tracer`` (traced mode only) gets a root
    span per request plus client-side ``api.*`` spans."""

    def __init__(self, http: Http, endpoint: str, tracer=None, job_counter=None):
        self.http = http
        self.endpoint = endpoint
        self.tracer = tracer
        self.jobs = job_counter
        self._rids = itertools.count(1)

    def _span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def _post(self, body: dict, res: Result) -> dict:
        """POST until accepted. The previous request on this endpoint
        has already reported finished, so a 409 here is a busy refusal;
        it is counted and retried."""
        while True:
            t0 = time.perf_counter()
            with self._span(f"api.post_{self.endpoint}", "api"):
                code, raw = self.http.call("POST", f"/{self.endpoint}", body)
            res.post_s = time.perf_counter() - t0
            if code != BUSY:
                break
            res.busy_refusals += 1
            time.sleep(POLL_S)
        if code != 200:
            raise RuntimeError(f"POST /{self.endpoint} -> {code}: {raw[:300]!r}")
        return json.loads(raw)

    def _state(self, res: Result) -> dict:
        t0 = time.perf_counter()
        with self._span("api.get_state", "api"):
            code, raw = self.http.call("GET", "/state")
        res.state_s.append(time.perf_counter() - t0)
        res.state_bytes.append(len(raw))
        if code != 200:
            raise RuntimeError(f"GET /state -> {code}")
        return json.loads(raw)

    def run(self, body: dict, label: str, query_id: int | None = None) -> Result:
        res = Result(label)
        rid = res.rid = f"{self.endpoint}-{next(self._rids)}-{label}"
        jobs0 = self.jobs() if self.jobs else 0
        root_cm = (
            self.tracer.span(f"request.{self.endpoint}", "untraced")
            if self.tracer else nullcontext()
        )
        t0 = time.perf_counter()
        try:
            with root_cm as root:
                if root is not None:
                    root.rid = rid
                    self.tracer.inflight[self.endpoint] = (rid, root.id)
                ack = self._post(body, res)
                if "error" in ack:
                    raise RuntimeError(f"POST /{self.endpoint}: {ack['error']}")
                key = str(ack["taskid"]) if self.endpoint == "task" else str(query_id)
                while True:
                    st = self._state(res)
                    if self.endpoint == "task":
                        state = st["tasks"].get(key, {}).get("state")
                        done = state in ("Finished", "Error")
                        ok = state == "Finished"
                    else:
                        state = st["queries"].get(key, {}).get("state")
                        done = state in ("finished", "error")
                        ok = state == "finished"
                    if done:
                        break
                    time.sleep(POLL_S)
            res.latency_s = time.perf_counter() - t0
            res.ok = ok
            if not ok:
                res.error = json.dumps(
                    st["tasks"].get(key) if self.endpoint == "task"
                    else st["queries"].get(key)
                )
            if self.endpoint == "task":
                # per-table run-log entries: an append and an update of
                # the same table are two entries here
                for e in st["tables"]:
                    if str(e["task_id"]) == key and e["state"].startswith("finished_"):
                        op = e["operation"]
                        res.rows_by_op[op] = res.rows_by_op.get(op, 0) + e["copied_records_count"]
        except Exception as e:  # a failed request is counted, not fatal
            res.latency_s = time.perf_counter() - t0
            res.ok = False
            res.error = repr(e)
        finally:
            if self.tracer:
                self.tracer.inflight.pop(self.endpoint, None)
        res.spark_jobs = (self.jobs() - jobs0) if self.jobs else 0
        return res
