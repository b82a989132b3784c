"""Closed-loop HTTP load generator for the ``serve`` workload.

Reads a request plan (JSON list of ``{"route", "path", "expect"}``),
sends it to ``127.0.0.1:<port>`` over ``--connections`` client loops —
each loop sends its next request only after the previous reply — checks
every reply against the plan's expectation, and writes one record per
request (route, latency, status, ok) as JSON.

Run by ``run.py`` as its own process, so the client does not share the
server's interpreter lock:
``python3 perfbench/loadgen.py --port 8080 --plan plan.json --out out.json``.
"""

from __future__ import annotations

import argparse
import http.client
import json
import threading
import time


def check(expect: dict, status: int, body) -> bool:
    """True iff the reply matches what the ground truth predicts."""
    if status != 200:
        return False
    kind = expect["kind"]
    if kind == "resolve":
        return len(body) == 1 and body[0].get("node_id") == expect["node"]
    if kind == "node":
        return (
            body.get("grebi:nodeId") == expect["node"]
            and sorted(body.get("grebi:name", [])) == expect["names"]
        )
    if kind == "count":
        return body.get("numElements") == expect["n"]
    if kind == "suggest":
        return body == expect["names"]
    raise ValueError(f"unknown expectation {kind!r}")


def get(conn: http.client.HTTPConnection, path: str):
    conn.request("GET", path)
    resp = conn.getresponse()
    data = resp.read()
    return resp.status, json.loads(data)


def run(port: int, plan: list[dict], connections: int) -> tuple[list[dict], float]:
    """Send ``plan`` over ``connections`` closed loops; returns one
    record per plan entry, in plan order, and the wall time in seconds."""
    records: list[dict | None] = [None] * len(plan)
    lock = threading.Lock()
    next_i = [0]

    def loop() -> None:
        while True:
            with lock:
                i = next_i[0]
                next_i[0] += 1
            if i >= len(plan):
                return
            req = plan[i]
            rec = {"route": req["route"]}
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
            t0 = time.perf_counter()
            status = -1
            try:
                status, body = get(conn, req["path"])
                rec["ms"] = (time.perf_counter() - t0) * 1000.0
                rec.update(status=status, ok=check(req["expect"], status, body))
            except Exception as exc:  # noqa: BLE001 - any error fails the op
                # a transport error, or a reply of the wrong shape that
                # makes check() raise: either way a failed op, not a lost one
                rec.setdefault("ms", (time.perf_counter() - t0) * 1000.0)
                rec.update(status=status, ok=False, error=f"{type(exc).__name__}: {exc}")
            finally:
                conn.close()
            records[i] = rec

    threads = [threading.Thread(target=loop) for _ in range(connections)]
    t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    if any(r is None for r in records):
        raise RuntimeError("a client loop ended without answering its requests")
    return records, wall


def main() -> None:
    ap = argparse.ArgumentParser(description="closed-loop HTTP load generator")
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--plan", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--connections", type=int, default=2)
    a = ap.parse_args()
    with open(a.plan) as f:
        plan = json.load(f)
    records, wall = run(a.port, plan, a.connections)
    with open(a.out, "w") as f:
        json.dump({"wall_s": wall, "records": records}, f)


if __name__ == "__main__":
    main()
