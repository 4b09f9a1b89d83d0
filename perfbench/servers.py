"""Counting map and sink servers for the ETL workloads.

Both are in-process ``ThreadingHTTPServer``s on 127.0.0.1 that serve
or accept pre-generated bytes and do no parsing while a run is timed.

- The map server answers ``/api/v1/map/<share_id>/since/<n>`` with the
  corpus bytes for that map and counts GETs per map, bytes and
  service time.
- The sink server records every POST: bytes, service time and the
  ``Idempotency-Key``.  It answers 503 to the first POST it receives
  after each ``reset()``, so every run takes the library's
  bounded-retry path exactly once, and it acknowledges a repeated key
  without recording it again.
  Accepted bodies are kept raw and parsed only after the run.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _Quiet(BaseHTTPRequestHandler):
    def log_message(self, *args) -> None:
        pass


class _Server:
    def __init__(self, handler: type[BaseHTTPRequestHandler]) -> None:
        self.lock = threading.Lock()
        self._httpd = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self._httpd.daemon_threads = True
        self._httpd.owner = self  # handlers reach their server's state
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._httpd.server_port}"

    def close(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        self._thread.join(timeout=10)


class MapServer(_Server):
    def __init__(self, bodies: dict[str, bytes]) -> None:
        self.bodies = bodies
        self.reset()
        super().__init__(_MapHandler)

    def reset(self) -> None:
        self.gets: dict[str, int] = {}
        self.bytes = 0
        self.service_s: list[float] = []


class _MapHandler(_Quiet):
    def do_GET(self) -> None:
        t0 = time.perf_counter()
        srv: MapServer = self.server.owner
        parts = self.path.strip("/").split("/")
        body = srv.bodies.get(parts[3]) if len(parts) == 6 else None
        if body is None:
            self.send_error(404)
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)
        dt = time.perf_counter() - t0
        with srv.lock:
            srv.gets[parts[3]] = srv.gets.get(parts[3], 0) + 1
            srv.bytes += len(body)
            srv.service_s.append(dt)


class SinkServer(_Server):
    def __init__(self) -> None:
        self.reset()
        super().__init__(_SinkHandler)

    def reset(self) -> None:
        self.posts = 0
        self.bytes = 0
        self.busy_s = 0.0
        self.retries = 0  # 503s served
        self.dup_posts = 0
        self.accepted: dict[str, bytes] = {}

    def features(self) -> list[dict]:
        """Parse the accepted bodies (call outside the timed region)."""
        return [
            f for body in self.accepted.values() for f in json.loads(body)["features"]
        ]


class _SinkHandler(_Quiet):
    def do_POST(self) -> None:
        t0 = time.perf_counter()
        srv: SinkServer = self.server.owner
        body = self.rfile.read(int(self.headers.get("Content-Length", "0")))
        key = self.headers.get("Idempotency-Key") or hashlib.sha256(body).hexdigest()
        with srv.lock:
            srv.posts += 1
            srv.bytes += len(body)
            fail = srv.posts == 1
            if fail:
                srv.retries += 1
            elif key in srv.accepted:
                srv.dup_posts += 1
            else:
                srv.accepted[key] = body
        self.send_response(503 if fail else 200)
        self.send_header("Content-Length", "0")
        self.end_headers()
        dt = time.perf_counter() - t0
        with srv.lock:
            srv.busy_s += dt
