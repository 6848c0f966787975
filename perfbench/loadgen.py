"""api_mixed load generator: one process, ``clients`` closed-loop
client threads against a running ``IngestApiServer``. Each client sends
its next seeded op only after the previous one finished: it POSTs a
request, then reads ``GET /ingest/status/:id`` ``polls`` times with a
fixed think time, stopping early once the request is ``completed``.
A fixed poll count keeps the op mix the same in every run; the single
drain queue completes a request only every few seconds, so waiting for
completion would make the mix depend on the drain's luck. Every
response is checked; a wrong body, a non-matching status code or a
missed deadline is a failed op.

    python3 perfbench/loadgen.py <config.json> <port> <out.json>
"""

from __future__ import annotations

import http.client
import json
import sys
import threading
import time
import uuid

from gen import api_ops, chunks, completed_doc

STATUSES = {"yet_to_start", "triggered", "completed"}


class Client(threading.Thread):
    def __init__(self, idx: int, cfg: dict, port: int, t_end: float, seen: set, lock):
        super().__init__(daemon=True)
        self.idx, self.cfg, self.port, self.t_end = idx, cfg, port, t_end
        self.seen, self.lock = seen, lock
        self.ops: list[tuple] = []  # (kind, start, end, ok, why)
        self.completions: list[float] = []
        self.abandoned = 0  # poll sequences cut short by the end of the run

    def _http(self, method: str, path: str, body: str | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=self.cfg["op_timeout_s"])
        t0 = time.time()
        try:
            conn.request(method, path, body=body.encode() if body is not None else None)
            r = conn.getresponse()
            return t0, time.time(), r.status, r.read().decode()
        except OSError as exc:  # timeout or refused: a failed op
            return t0, time.time(), None, repr(exc)
        finally:
            conn.close()

    def _op(self, kind, t0, t1, ok, why=""):
        self.ops.append((kind, t0, t1, ok, why))
        return ok

    def run(self) -> None:
        ops = api_ops(self.cfg["seed"], self.idx)
        while time.time() < self.t_end:
            kind, payload, expect, ids = next(ops)
            if kind == "unknown":
                t0, t1, code, body = self._http("GET", f"/ingest/status/{payload}")
                self._op("get", t0, t1, (code, body) == (404, expect), body[:200])
                continue
            t0, t1, code, body = self._http("POST", "/ingest", payload)
            if expect is not None:
                self._op("post", t0, t1, (code, body) == (400, expect), body[:200])
                continue
            if not self._op("post", t0, t1, code == 202 and self._fresh(body), body[:200]):
                continue
            self._poll(json.loads(body)["ingestion_id"], ids, t0)

    def _fresh(self, body: str) -> bool:
        try:
            doc = json.loads(body)
            rid = doc["ingestion_id"]
            uuid.UUID(rid)
        except (ValueError, KeyError, TypeError):
            return False
        with self.lock:
            if rid in self.seen or list(doc) != ["ingestion_id"]:
                return False
            self.seen.add(rid)
        return True

    def _poll(self, rid: str, ids: list[int], sent: float) -> None:
        want_ids = chunks(ids)
        final = completed_doc(rid, ids)
        for _ in range(self.cfg["polls"]):
            time.sleep(self.cfg["think_s"])
            if time.time() >= self.t_end:
                self.abandoned += 1
                return
            t0, t1, code, body = self._http("GET", f"/ingest/status/{rid}")
            try:
                doc = json.loads(body) if code == 200 else {}
                ok = (
                    doc.get("ingestion_id") == rid
                    and [b["ids"] for b in doc["batches"]] == want_ids
                    and [b["batch_id"] for b in doc["batches"]]
                    == [f"{rid}-{i}" for i in range(len(want_ids))]
                    and {b["status"] for b in doc["batches"]} <= STATUSES
                    and doc["status"] in STATUSES
                )
            except (ValueError, KeyError, TypeError):
                ok = False
            if doc.get("status") == "completed":
                ok = ok and body == final
            if not self._op("get", t0, t1, ok, body[:200]):
                return
            if doc["status"] == "completed":
                self.completions.append(t1 - sent)
                return


def main() -> None:
    cfg = json.load(open(sys.argv[1]))
    port, out = int(sys.argv[2]), sys.argv[3]
    seen: set = set()
    lock = threading.Lock()
    t0 = time.time()
    t_end = t0 + cfg["seconds"]
    clients = [Client(i, cfg, port, t_end, seen, lock) for i in range(cfg["clients"])]
    for c in clients:
        c.start()
    for c in clients:
        c.join(cfg["seconds"] + cfg["op_timeout_s"] + 30)
    if any(c.is_alive() for c in clients):
        raise SystemExit("load generator clients did not stop")
    with open(out, "w") as fh:
        json.dump(
            {
                "t0": t0,
                "t1": time.time(),
                "clients": [
                    {"ops": c.ops, "completions": c.completions, "abandoned": c.abandoned}
                    for c in clients
                ],
            },
            fh,
        )


if __name__ == "__main__":
    main()
