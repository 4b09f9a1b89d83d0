"""Python DataSource API tests: the caltopo format in batch and
streaming mode against a local fixture HTTP server."""

from __future__ import annotations

import json
import threading
from types import SimpleNamespace

import pytest

from etl_caltopo_spark.caltopo.datasource import register
from etl_caltopo_spark.caltopo.pipeline import run_pipeline
from etl_caltopo_spark.caltopo.sink import features_json


def test_batch_read_one_partition_per_map(spark, fixture_server):
    url, state = fixture_server
    register(spark)
    df = (
        spark.read.format("caltopo")
        .option("shareIds", "MAP-A,MAP-B,MAP-C")
        .option("baseUrl", url)
        .load()
    )
    # one partition per map, up to one per read slot
    assert df.rdd.getNumPartitions() == min(3, spark.sparkContext.defaultParallelism)
    rows = {r["share_id"]: r["body_json"] for r in df.collect()}
    assert set(rows) == {"MAP-A", "MAP-B", "MAP-C"}
    assert all(json.loads(b)["status"] == "ok" for b in rows.values())


def test_partitions_depend_only_on_share_ids_and_slots():
    """Contiguous, near-equal runs of the share ids in their given
    order, one per slot; one partition per map when no slot count is
    known."""
    from etl_caltopo_spark.caltopo.datasource import CalTopoBatchReader

    opts = {"shareids": "a,b,c,d,e"}

    def split(slots):
        return [p.value for p in CalTopoBatchReader(opts, slots).partitions()]

    assert split(2) == [["a", "b"], ["c", "d", "e"]]
    assert split(8) == split(None) == [["a"], ["b"], ["c"], ["d"], ["e"]]


def test_register_without_a_spark_context_reads_one_partition_per_map():
    """A session with no SparkContext (e.g. Spark Connect) gives no slot
    count, so the registered source keeps one partition per map."""
    registered = []

    class ContextlessSession:
        dataSource = SimpleNamespace(register=registered.append)

        @property
        def sparkContext(self):
            raise NotImplementedError("no SparkContext")

    register(ContextlessSession())
    (source,) = registered
    reader = source({"shareids": "a,b,c"}).reader(None)
    assert [p.value for p in reader.partitions()] == [["a"], ["b"], ["c"]]


def test_batch_read_packs_maps_into_read_slots(spark, fixture_server):
    """More maps than read slots: one partition per slot, each map one
    row from one GET, the same rows as the one-partition-per-map read,
    and every feature delivered exactly once by the submit and by the
    ``caltopo`` writer.  Both post one body per map, under the same
    keys, and the same as from the one-partition-per-map read: body
    keys do not depend on the slot count."""
    from etl_caltopo_spark.caltopo.datasource import CalTopoDataSource
    from etl_caltopo_spark.caltopo.sink import submit_idempotent

    url, state = fixture_server
    slots = spark.sparkContext.defaultParallelism
    maps = [f"PACK-{i:02d}" for i in range(2 * slots + 1)]

    def read():
        return (
            spark.read.format("caltopo")
            .option("shareIds", ",".join(maps))
            .option("baseUrl", url)
            .load()
        )

    def submit(frame, write=False):
        state["posts"] = []
        state["seen_keys"] = set()
        n = None
        if write:
            (
                features_json(run_pipeline(frame)).write.format("caltopo")
                .option("url", f"{url}/api/v1/layer/PACK/submit")
                .mode("append")
                .save()
            )
        else:
            n = submit_idempotent(
                run_pipeline(frame),
                f"{url}/api/v1/layer/PACK/submit",
                _http_header_poster,
                backoff_s=0.001,
            )
        posted = sorted(
            (f["id"], f["properties"]["remarks"])
            for fc in state["posts"]
            for f in fc["features"]
        )
        return n, posted, set(state["seen_keys"])

    spark.dataSource.register(CalTopoDataSource)  # no slot count: one per map
    try:
        per_map = read()
        assert per_map.rdd.getNumPartitions() == len(maps)
        per_map_rows = per_map.collect()
        _, _, per_map_keys = submit(per_map)
    finally:
        register(spark)
    assert len(per_map_keys) == len(maps)

    packed = read()
    assert packed.rdd.getNumPartitions() == slots
    state["requests"].clear()
    rows = packed.collect()
    assert [r["share_id"] for r in rows] == maps
    assert sorted(p.strip("/").split("/")[-3] for p in state["requests"]) == maps
    assert rows == per_map_rows

    expected = sorted((r["id"], r["remarks"]) for r in run_pipeline(packed).collect())
    assert len(expected) == 14 * len(maps)
    n, posted, keys = submit(packed)
    assert n == len(expected)
    assert posted == expected
    assert keys == per_map_keys
    _, written, written_keys = submit(packed, write=True)
    assert written == expected
    assert written_keys == keys


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
    """features_json(df).write.format("caltopo") posts one
    FeatureCollection per map and non-empty partition from the
    EXECUTORS; the union of posted features equals the pipeline output
    exactly once.  A frame without the ``feature`` column is refused
    before any task runs."""
    url, state = fixture_server
    register(spark)
    from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_df

    out = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    expected = sorted(r["id"] for r in out.collect())
    state["posts"] = []
    state["seen_keys"] = set()
    (
        features_json(out).write.format("caltopo")
        .option("url", f"{url}/api/v1/layer/TEST/submit")
        .mode("append")
        .save()
    )
    posts = state["posts"]
    assert len(posts) > 1  # partition-parallel submits, not one driver POST
    posted = [f["id"] for fc in posts for f in fc["features"]]
    assert sorted(posted) == expected
    assert all(fc["type"] == "FeatureCollection" for fc in posts)

    state["posts"] = []
    with pytest.raises(Exception, match="features_json"):
        (
            out.write.format("caltopo")
            .option("url", f"{url}/api/v1/layer/TEST/submit")
            .mode("append")
            .save()
        )
    assert state["posts"] == []


def test_write_recipe_posts_one_body_per_map_whatever_the_split(spark, fixture_server):
    """The documented writer recipe,
    ``features_json(df).repartition("share_id").write.format("caltopo")``,
    over a pipeline that an upstream ``repartition(4)`` split: each map
    is posted as one body, under the key ``submit_idempotent`` posts it
    with.  Without the hash repartition the same frame posts a map in
    several bodies."""
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
    out = run_pipeline(source).repartition(4)
    target = f"{url}/api/v1/layer/RECIPE/submit"

    def posted(send) -> tuple[list[set], set]:
        state["posts"] = []
        state["seen_keys"] = set()
        send()
        bodies = [{f["properties"]["remarks"] for f in fc["features"]} for fc in state["posts"]]
        return bodies, set(state["seen_keys"])

    def write(frame):
        return lambda: (
            frame.write.format("caltopo").option("url", target).mode("append").save()
        )

    _, submitted_keys = posted(
        lambda: submit_idempotent(out, target, _http_header_poster, backoff_s=0.001)
    )
    split_bodies, _ = posted(write(features_json(out)))
    assert len(split_bodies) > len(maps)

    bodies, keys = posted(write(features_json(out).repartition("share_id")))
    assert sorted(bodies, key=sorted) == [{m} for m in maps]
    assert keys == submitted_keys


# --- HTTP sink redelivery contract (VERDICT r11 #3) -----------------


# the library's stdlib poster is used directly: it is the poster the
# caltopo writer uses on executors
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
    """Per-map POSTs of a repartitioned frame through a flaky server:
    retries recover each map's body exactly once, and a full re-run
    (task-retry / job-redelivery model) adds nothing."""
    from etl_caltopo_spark.caltopo.sink import submit_idempotent

    url, state = fixture_server
    from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_df

    out = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    expected = sorted(r["id"] for r in out.collect())
    state["posts"] = []
    state["seen_keys"] = set()
    state["fail_next"] = 3  # three 503s before the body is accepted
    n = submit_idempotent(
        out,
        f"{url}/api/v1/layer/IDEM/submit",
        _http_header_poster,
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
        backoff_s=0.001,
    )
    posted2 = sorted(f["id"] for fc in state["posts"] for f in fc["features"])
    assert posted2 == expected


@pytest.mark.parametrize("path", ["submit", "write"])
def test_submit_fetches_each_map_once(spark, fixture_server, path):
    """One submit of the pipeline over the caltopo source makes exactly
    one GET per map, through ``submit_idempotent`` and through the
    ``caltopo`` writer alike."""
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
    state["posts"] = []
    state["seen_keys"] = set()
    if path == "write":
        (
            features_json(run_pipeline(source)).write.format("caltopo")
            .option("url", f"{url}/api/v1/layer/ONCE/submit")
            .mode("append")
            .save()
        )
    else:
        n = submit_idempotent(
            run_pipeline(source),
            f"{url}/api/v1/layer/ONCE/submit",
            _http_header_poster,
            backoff_s=0.001,
        )
        assert n == 3 * 14
    assert sum(len(fc["features"]) for fc in state["posts"]) == 3 * 14
    gets = [p.strip("/").split("/")[-3] for p in state["requests"]]
    assert sorted(gets) == maps


def test_write_format_survives_503_and_redelivery(spark, fixture_server):
    """The caltopo writer posts through the idempotent path:
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
            features_json(out).write.format("caltopo")
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
