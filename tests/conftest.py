from __future__ import annotations

import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_json
from etl_caltopo_spark.session import build_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = build_spark(app_name="etl-caltopo-spark-tests", master="local[*]")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _refuse_constant(token: str):
    raise ValueError(f"{token} is not JSON (RFC 8259)")


def strict_loads(body: str):
    """``json.loads`` as an RFC 8259 parser reads: ``NaN`` and
    ``Infinity`` tokens are refused."""
    return json.loads(body, parse_constant=_refuse_constant)


@pytest.fixture(scope="module")
def fixture_server():
    """Serves the fixture envelope at /api/v1/map/<id>/since/<n>,
    echoing the requested since value into result.timestamp + 1000 so
    the stream reader has an advancing offset, and the map id into
    every feature's description, so no two maps post the same chunk.
    Counts requests.  A POST body that is not strict JSON is refused
    with a 400 (see :func:`strict_loads`)."""
    state = {"requests": []}
    envelope = fixture_envelope_json()

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            state["requests"].append(self.path)
            parts = self.path.strip("/").split("/")
            since = int(parts[-1])
            body = json.loads(envelope)
            body["result"]["timestamp"] = max(since, 0) + 1000
            for feature in body["result"]["state"]["features"]:
                feature["properties"]["description"] = parts[-3]
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):
            n = int(self.headers.get("Content-Length", "0"))
            try:
                payload = strict_loads(self.rfile.read(n).decode("utf-8"))
            except ValueError:
                self.send_response(400)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            # flaky mode: fail the next N POSTs with 503 (the retry
            # contract's crash model) — the body is consumed first,
            # like a real proxy timeout after upload
            if state.get("fail_next", 0) > 0:
                state["fail_next"] -= 1
                state.setdefault("failures", []).append(self.path)
                self.send_response(503)
                self.send_header("Content-Length", "4")
                self.end_headers()
                self.wfile.write(b"busy")
                return
            key = self.headers.get("Idempotency-Key")
            if key is not None and key in state.setdefault("seen_keys", set()):
                # duplicate delivery: acknowledge, do NOT re-record
                state.setdefault("dup_posts", []).append(key)
            else:
                if key is not None:
                    state["seen_keys"].add(key)
                state.setdefault("posts", []).append(payload)
            self.send_response(200)
            self.send_header("Content-Length", "2")
            self.end_headers()
            self.wfile.write(b"ok")

        def log_message(self, *a):  # quiet
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}", state
    srv.shutdown()
