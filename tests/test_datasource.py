"""Python DataSource API tests: the caltopo format in batch and
streaming mode against a local fixture HTTP server."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from etl_caltopo_spark.caltopo.datasource import register
from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_json
from etl_caltopo_spark.caltopo.pipeline import run_pipeline


@pytest.fixture(scope="module")
def fixture_server():
    """Serves the fixture envelope at /api/v1/map/<id>/since/<n>,
    echoing the requested since value into result.timestamp + 1000 so
    the stream reader has an advancing offset.  Counts requests."""
    state = {"requests": []}
    envelope = json.loads(fixture_envelope_json())

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            state["requests"].append(self.path)
            parts = self.path.strip("/").split("/")
            since = int(parts[-1])
            body = dict(envelope)
            body["result"] = dict(envelope["result"])
            body["result"]["timestamp"] = max(since, 0) + 1000
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):
            n = int(self.headers.get("Content-Length", "0"))
            payload = json.loads(self.rfile.read(n).decode("utf-8"))
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


def test_batch_read_one_partition_per_map(spark, fixture_server):
    url, state = fixture_server
    register(spark)
    df = (
        spark.read.format("caltopo")
        .option("shareIds", "MAP-A,MAP-B,MAP-C")
        .option("baseUrl", url)
        .load()
    )
    assert df.rdd.getNumPartitions() == 3  # fetch parallelism == map count
    rows = {r["share_id"]: r["body_json"] for r in df.collect()}
    assert set(rows) == {"MAP-A", "MAP-B", "MAP-C"}
    assert all(json.loads(b)["status"] == "ok" for b in rows.values())


def test_batch_read_feeds_pipeline(spark, fixture_server):
    url, _ = fixture_server
    register(spark)
    df = (
        spark.read.format("caltopo")
        .option("shareIds", "MAP-A")
        .option("baseUrl", url)
        .load()
    )
    out = run_pipeline(df)
    assert out.count() > 0


def test_stream_read_advances_since_offset(spark, fixture_server, tmp_path):
    url, state = fixture_server
    register(spark)
    state["requests"].clear()
    stream = (
        spark.readStream.format("caltopo")
        .option("shareIds", "MAP-S")
        .option("baseUrl", url)
        .load()
    )
    out_dir = str(tmp_path / "out")
    q = (
        stream.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert spark.read.parquet(out_dir).count() >= 1
    first_requests = [p for p in state["requests"] if "MAP-S" in p]
    assert first_requests and first_requests[0].endswith("/since/-500")

    # second run restarts from the CHECKPOINTED offset, not -500:
    # the server answered since=-500 with timestamp 1000
    stream2 = (
        spark.readStream.format("caltopo")
        .option("shareIds", "MAP-S")
        .option("baseUrl", url)
        .load()
    )
    q2 = (
        stream2.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    later = [p for p in state["requests"] if "MAP-S" in p]
    assert any(p.endswith("/since/1000") for p in later), later


def test_write_format_posts_feature_collections(spark, fixture_server):
    """df.write.format("caltopo") submits one FeatureCollection POST
    per non-empty partition from the EXECUTORS; the union of posted
    features equals the pipeline output exactly once."""
    url, state = fixture_server
    register(spark)
    from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_df

    out = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    expected = sorted(r["id"] for r in out.collect())
    state["posts"] = []
    state["seen_keys"] = set()
    (
        out.write.format("caltopo")
        .option("url", f"{url}/api/v1/layer/TEST/submit")
        .mode("append")
        .save()
    )
    posts = state["posts"]
    assert len(posts) > 1  # partition-parallel submits, not one driver POST
    posted = [f["id"] for fc in posts for f in fc["features"]]
    assert sorted(posted) == expected
    assert all(fc["type"] == "FeatureCollection" for fc in posts)


# --- HTTP sink redelivery contract (VERDICT r11 #3) -----------------


# the library's stdlib poster is used directly: it lives in the
# package, so executors can unpickle references to it (a poster
# defined in this test module would fail foreachPartition with
# ModuleNotFoundError: test_datasource is not on executor sys.path)
from etl_caltopo_spark.caltopo.sink import urllib_header_poster as _http_header_poster  # noqa: E402


def test_post_idempotent_retries_through_flaky_server(fixture_server):
    from etl_caltopo_spark.caltopo.sink import post_idempotent

    url, state = fixture_server
    state["posts"] = []
    state["seen_keys"] = set()
    state["fail_next"] = 2
    key = post_idempotent(
        _http_header_poster,
        f"{url}/api/v1/layer/FLAKY/submit",
        '{"type": "FeatureCollection", "features": [{"id": "r1"}]}',
        max_retries=4,
        backoff_s=0.001,
    )
    assert len(state["posts"]) == 1  # two 503s, then exactly one record
    assert key in state["seen_keys"]


def test_post_idempotent_retries_are_bounded(fixture_server):
    import urllib.error

    from etl_caltopo_spark.caltopo.sink import post_idempotent

    url, state = fixture_server
    state["fail_next"] = 10
    before = len(state.get("failures", []))
    with pytest.raises(urllib.error.HTTPError):
        post_idempotent(
            _http_header_poster,
            f"{url}/api/v1/layer/DOWN/submit",
            '{"type": "FeatureCollection", "features": [{"id": "r2"}]}',
            max_retries=2,
            backoff_s=0.001,
        )
    # initial attempt + exactly 2 bounded retries, then the error
    assert len(state["failures"]) - before == 3
    state["fail_next"] = 0


def test_double_delivery_collapses_on_idempotency_key(fixture_server):
    """The q_stream_foreachbatch_exactly_once mirror for the HTTP
    path: re-delivering the identical payload records ONCE through
    the keyed path, while a keyless blind POST duplicates — the
    negative that proves the key (not luck) carries the contract."""
    from etl_caltopo_spark.caltopo.sink import post_idempotent

    url, state = fixture_server
    state["posts"] = []
    state["seen_keys"] = set()
    body = '{"type": "FeatureCollection", "features": [{"id": "dup"}]}'
    k1 = post_idempotent(_http_header_poster, f"{url}/api/x", body, backoff_s=0.001)
    k2 = post_idempotent(_http_header_poster, f"{url}/api/x", body, backoff_s=0.001)
    assert k1 == k2
    assert len(state["posts"]) == 1
    assert state["dup_posts"] == [k1]

    # negative: the same redelivery WITHOUT a key double-submits
    _http_header_poster(f"{url}/api/x", body, {})
    _http_header_poster(f"{url}/api/x", body, {})
    assert len(state["posts"]) == 3


def test_submit_idempotent_partition_path_survives_redelivery(
    spark, fixture_server
):
    """Executor-side per-partition POSTs through a flaky server:
    retries recover each partition exactly once, and a full re-run
    (task-retry / job-redelivery model) adds nothing."""
    from etl_caltopo_spark.caltopo.sink import submit_idempotent

    url, state = fixture_server
    from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_df

    out = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    expected = sorted(r["id"] for r in out.collect())
    state["posts"] = []
    state["seen_keys"] = set()
    state["fail_next"] = 3  # sprinkle failures across partition posts
    n = submit_idempotent(
        out,
        f"{url}/api/v1/layer/IDEM/submit",
        _http_header_poster,
        driver_collect_max=0,  # force the executor path
        backoff_s=0.001,
    )
    assert n == len(expected)
    posted = sorted(f["id"] for fc in state["posts"] for f in fc["features"])
    assert posted == expected

    # redelivery: the same frame submits again — identical bodies,
    # identical keys, zero new records
    submit_idempotent(
        out,
        f"{url}/api/v1/layer/IDEM/submit",
        _http_header_poster,
        driver_collect_max=0,
        backoff_s=0.001,
    )
    posted2 = sorted(f["id"] for fc in state["posts"] for f in fc["features"])
    assert posted2 == expected


@pytest.mark.parametrize("driver_collect_max", [10_000, 0])
def test_submit_fetches_each_map_once(spark, fixture_server, driver_collect_max):
    """One submit of the pipeline over the caltopo source makes exactly
    one GET per map, on the driver-collect path and on the
    per-partition path alike: the count and the POSTs share one read."""
    from etl_caltopo_spark.caltopo.sink import submit_idempotent

    url, state = fixture_server
    register(spark)
    maps = ["MAP-A", "MAP-B", "MAP-C"]
    source = (
        spark.read.format("caltopo")
        .option("shareIds", ",".join(maps))
        .option("baseUrl", url)
        .load()
    )
    state["requests"].clear()
    n = submit_idempotent(
        run_pipeline(source),
        f"{url}/api/v1/layer/ONCE/submit",
        _http_header_poster,
        driver_collect_max=driver_collect_max,
        backoff_s=0.001,
    )
    assert n == 3 * 14
    gets = [p.strip("/").split("/")[-3] for p in state["requests"]]
    assert sorted(gets) == maps


def test_write_format_survives_503_and_redelivery(spark, fixture_server):
    """df.write.format("caltopo") posts through the idempotent path:
    two 503s are retried, every feature is recorded exactly once, and
    a second identical save() (a re-run job, a task re-attempt) records
    nothing new."""
    url, state = fixture_server
    register(spark)
    from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_df

    out = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    expected = sorted(r["id"] for r in out.collect())
    state["posts"] = []
    state["seen_keys"] = set()
    state["fail_next"] = 2

    def save() -> list:
        (
            out.write.format("caltopo")
            .option("url", f"{url}/api/v1/layer/WRITE/submit")
            .mode("append")
            .save()
        )
        return sorted(f["id"] for fc in state["posts"] for f in fc["features"])

    assert save() == expected
    assert state["fail_next"] == 0  # both 503s were served and retried
    assert save() == expected


def test_header_poster_times_out_on_a_silent_sink(monkeypatch):
    """A sink that accepts the connection and never answers makes the
    POST raise after ``HTTP_TIMEOUT_S`` instead of blocking forever, so
    post_idempotent's bounded retries can run."""
    import socket

    from etl_caltopo_spark.caltopo import source

    monkeypatch.setattr(source, "HTTP_TIMEOUT_S", 0.2)
    silent = socket.create_server(("127.0.0.1", 0))  # listens, never accepts
    url = f"http://127.0.0.1:{silent.getsockname()[1]}/submit"
    errors = []

    def call() -> None:
        try:
            _http_header_poster(url, "{}", {})
        except OSError as exc:
            errors.append(exc)

    t = threading.Thread(target=call, daemon=True)
    try:
        t.start()
        t.join(timeout=5)
        assert not t.is_alive()
    finally:
        silent.close()
    assert len(errors) == 1
