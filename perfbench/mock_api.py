"""Loopback mock of the Pendo metadata API, run as its own process.

    python3 perfbench/mock_api.py --max-conns 4

Prints its port on the first line of stdout, then serves until killed.

- ``POST /api/v1/metadata/{kind}/{group}/value`` takes a JSON array of
  ``{"id": ..., "values": {...}}`` records and answers like the real API:
  ``{total, updated, failed, errors: [{id, code}]}``. A deterministic
  ~0.5% of ids (``gen.is_rejected``) fail with ``parameter_invalid``.
- ``GET /_stats`` returns the counters since the last ``POST /_reset``:
  posts, records, bytes, rejected, replayed batches (a batch whose ids
  were all seen before), handler busy seconds, the window from the first
  POST's arrival to the last reply, and digests of the acknowledged and
  rejected id sets.

At most ``--max-conns`` requests are handled at once; further connections
wait in the listen backlog.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, HTTPServer
from socketserver import ThreadingMixIn

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from gen import id_digest, is_rejected  # noqa: E402


class Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.posts = self.records = self.bytes = self.replayed = 0
        self.busy_s = 0.0
        self.first_arrival = self.last_reply = None
        self.acked: set[str] = set()
        self.rejected: set[str] = set()

    def snapshot(self) -> dict:
        window = 0.0
        if self.first_arrival is not None:
            window = self.last_reply - self.first_arrival
        return {
            "posts": self.posts,
            "records": self.records,
            "bytes": self.bytes,
            "rejected": len(self.rejected),
            "replayed": self.replayed,
            "busy_s": self.busy_s,
            "window_s": window,
            "acked_digest": id_digest(self.acked),
            "rejected_digest": id_digest(self.rejected),
        }


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def _reply(self, code: int, obj: dict) -> None:
        body = json.dumps(obj).encode()
        self.send_response(code)
        self.send_header("content-type", "application/json")
        self.send_header("content-length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        if self.path == "/_stats":
            c = self.server.counters
            with c.lock:
                snap = c.snapshot()
            self._reply(200, snap)
        else:
            self._reply(404, {})

    def do_POST(self):  # noqa: N802
        t0 = time.monotonic()
        raw = self.rfile.read(int(self.headers.get("content-length", 0)))
        c = self.server.counters
        if self.path == "/_reset":
            with c.lock:
                c.reset()
            self._reply(200, {})
            return
        recs = json.loads(raw)
        ids = [r["id"] for r in recs]
        bad = [i for i in ids if is_rejected(i)]
        out = {
            "total": len(ids),
            "updated": len(ids) - len(bad),
            "failed": len(bad),
            "errors": [{"id": i, "code": "parameter_invalid"} for i in bad],
        }
        self._reply(200, out)
        t1 = time.monotonic()
        with c.lock:
            if c.first_arrival is None or t0 < c.first_arrival:
                c.first_arrival = t0
            c.last_reply = t1 if c.last_reply is None else max(c.last_reply, t1)
            if ids and all(i in c.acked or i in c.rejected for i in ids):
                c.replayed += 1
            c.posts += 1
            c.records += len(ids)
            c.bytes += len(raw)
            c.busy_s += t1 - t0
            bad_set = set(bad)
            c.rejected.update(bad_set)
            c.acked.update(i for i in ids if i not in bad_set)

    def log_message(self, *a):
        pass


class BoundedServer(ThreadingMixIn, HTTPServer):
    daemon_threads = True

    def __init__(self, addr, handler, max_conns: int) -> None:
        super().__init__(addr, handler)
        self.slots = threading.BoundedSemaphore(max_conns)
        self.counters = Counters()

    def process_request(self, request, client_address):
        self.slots.acquire()
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self.slots.release()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--max-conns", type=int, default=os.cpu_count() or 4)
    args = ap.parse_args()
    srv = BoundedServer(("127.0.0.1", 0), Handler, args.max_conns)
    print(srv.server_address[1], flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
