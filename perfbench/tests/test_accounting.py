"""Failure accounting: a wrong answer counts as a failed op."""

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import loadgen  # noqa: E402
from run import Ledger, percentile  # noqa: E402

ANSWERS = {
    "/right": (200, [{"node_id": "mondo:1"}]),
    "/wrong": (200, [{"node_id": "mondo:2"}]),
    "/missing": (404, {"error": "not found"}),
    "/count": (200, {"numElements": 3}),
    # 200 replies of the wrong shape: check() raises on them
    "/dict": (200, {"node_id": "mondo:1"}),
    "/list": (200, [{"numElements": 3}]),
}


class _Handler(BaseHTTPRequestHandler):
    def do_GET(self):  # noqa: N802
        status, body = ANSWERS[self.path]
        data = json.dumps(body).encode()
        self.send_response(status)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def log_message(self, *a):
        pass


def test_wrong_answers_and_bad_status_are_failed_ops():
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        want = {"kind": "resolve", "node": "mondo:1"}
        plan = [
            {"route": "resolve", "path": "/right", "expect": want},
            {"route": "resolve", "path": "/wrong", "expect": want},
            {"route": "resolve", "path": "/missing", "expect": want},
            {"route": "search", "path": "/count", "expect": {"kind": "count", "n": 3}},
            {"route": "search", "path": "/count", "expect": {"kind": "count", "n": 4}},
        ]
        records, wall = loadgen.run(httpd.server_address[1], plan, connections=2)
    finally:
        httpd.shutdown()
        httpd.server_close()
        t.join(timeout=10)
    assert not t.is_alive()
    assert [r["ok"] for r in records] == [True, False, False, True, False]
    assert records[2]["status"] == 404 and wall > 0

    ledger = Ledger()
    for r in records:
        ledger.record(r["ok"], r["route"])
    out = ledger.result({"x_ms": (1.0, "ms")})
    assert (out["attempted"], out["failed"], out["correct"]) == (5, 3, False)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}


def test_wrong_shaped_reply_is_a_failed_op_not_a_lost_one():
    httpd = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    try:
        want = {"kind": "resolve", "node": "mondo:1"}
        plan = [
            {"route": "resolve", "path": "/dict", "expect": want},
            {"route": "search", "path": "/list", "expect": {"kind": "count", "n": 3}},
            {"route": "resolve", "path": "/right", "expect": want},
        ]
        records, _wall = loadgen.run(httpd.server_address[1], plan, connections=1)
    finally:
        httpd.shutdown()
        httpd.server_close()
        t.join(timeout=10)
    # one record per request, in plan order, the client loop still running
    assert [r["ok"] for r in records] == [False, False, True]
    assert [r["status"] for r in records] == [200, 200, 200]
    assert records[0]["error"].startswith("KeyError")
    assert records[1]["error"].startswith("AttributeError")


def test_all_right_is_correct_and_no_ops_is_not():
    ledger = Ledger()
    assert ledger.result({})["correct"] is False
    ledger.record(True)
    assert ledger.result({})["correct"] is True


def test_check_kinds():
    assert loadgen.check({"kind": "suggest", "names": ["a", "ab"]}, 200, ["a", "ab"])
    assert not loadgen.check({"kind": "suggest", "names": ["a", "ab"]}, 200, ["ab", "a"])
    node = {"kind": "node", "node": "n:1", "names": ["x", "y"]}
    assert loadgen.check(node, 200, {"grebi:nodeId": "n:1", "grebi:name": ["y", "x"]})
    assert not loadgen.check(node, 200, {"grebi:nodeId": "n:1", "grebi:name": ["x"]})


def test_percentile_nearest_rank():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50 and percentile(vals, 90) == 90
    assert percentile([7.0], 90) == 7.0
