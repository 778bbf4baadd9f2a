"""Mock laji.fi warehouse push API, run as its own process.

    python3 perfbench/mock_api.py --max-connections 4 --fail-every 40

Prints ``port <n>`` on stdout once it listens on 127.0.0.1, and exits when
its stdin reaches end of file (the parent closed it or died). Serves:

* ``POST /v0/warehouse/push?access_token=…`` — parses the body as JSON and
  records its ``documentId``. The first attempt of every document whose id
  hashes into the ``1/fail-every`` share is answered 503, so the sink's retry
  path runs; later attempts succeed. A 2xx body echoes the request path
  (token included), as some error pages and proxies do, so the sink's token
  redaction is exercised.
* ``GET /_stats`` — JSON counters since the last reset: requests, TCP
  connections that carried a POST, handler busy seconds, 2xx and 503
  counts, bodies that were not JSON (answered 400), and every
  ``documentId`` answered 2xx. ``GET /_stats?reset=1`` returns
  the counters and clears them (including the first-attempt memory).

HTTP/1.1 with Content-Length on every response, so a keep-alive client can
reuse its connection; at most ``--max-connections`` connections are served at
once and the rest wait in the listen backlog.
"""

from __future__ import annotations

import argparse
import json
import sys
import threading
import time
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> None:
        self.requests = 0
        self.connections = 0
        self.busy_s = 0.0
        self.ok = 0
        self.unavailable = 0
        self.bad_json = 0
        self.document_ids: list[str] = []
        self.failed_once: set[str] = set()

    def snapshot(self) -> dict:
        return {
            "requests": self.requests,
            "connections": self.connections,
            "busy_s": self.busy_s,
            "ok": self.ok,
            "unavailable": self.unavailable,
            "bad_json": self.bad_json,
            "document_ids": list(self.document_ids),
        }


class Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 128

    def __init__(self, max_connections: int, fail_every: int) -> None:
        super().__init__(("127.0.0.1", 0), Handler)
        self.counters = Counters()
        self.fail_every = fail_every
        self.slots = threading.BoundedSemaphore(max_connections)

    def process_request(self, request, client_address):
        self.slots.acquire()  # blocks accepting until a connection slot frees
        super().process_request(request, client_address)

    def shutdown_request(self, request):
        super().shutdown_request(request)
        self.slots.release()


class Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server: Server

    def _reply(self, status: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802
        c = self.server.counters
        if not self.path.startswith("/_stats"):
            self._reply(404, {"error": "not found"})
            return
        with c.lock:
            stats = c.snapshot()
            if "reset=1" in self.path:
                c.reset()
        self._reply(200, stats)

    def do_POST(self):  # noqa: N802
        started = time.perf_counter()
        c = self.server.counters
        raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        try:
            doc_id = json.loads(raw)["documentId"]
        except (ValueError, KeyError, TypeError):
            doc_id = None
        with c.lock:
            c.requests += 1
            if not getattr(self, "counted", False):  # one handler per connection
                self.counted = True
                c.connections += 1
            if doc_id is None:
                c.bad_json += 1
                status = 400
            elif (
                zlib.crc32(doc_id.encode()) % self.server.fail_every == 0
                and doc_id not in c.failed_once
            ):
                c.failed_once.add(doc_id)
                c.unavailable += 1
                status = 503
            else:
                c.ok += 1
                c.document_ids.append(doc_id)
                status = 200
        if status == 200:
            self._reply(200, {"status": "ok", "documentId": doc_id, "path": self.path})
        else:
            self._reply(status, {"status": "error"})
        with c.lock:
            c.busy_s += time.perf_counter() - started

    def log_message(self, *args):
        pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--max-connections", type=int, required=True)
    ap.add_argument("--fail-every", type=int, default=40)
    args = ap.parse_args()
    server = Server(args.max_connections, args.fail_every)

    def stop_at_eof() -> None:
        sys.stdin.read()  # the parent closed our stdin, or died
        server.shutdown()

    threading.Thread(target=stop_at_eof, daemon=True).start()
    print(f"port {server.server_port}", flush=True)
    try:
        server.serve_forever(poll_interval=0.05)
    finally:
        server.server_close()


if __name__ == "__main__":
    main()
