"""Golden end-to-end test of the CalTopo pipeline over the F1-F10
quirk matrix (FIXTURES.md Family A; reference behaviors cited in
etl_caltopo_spark/caltopo/*)."""

from __future__ import annotations

import importlib.util
import json
import os
import sys
from collections.abc import Iterable

import pytest
from conftest import strict_loads

from etl_caltopo_spark.caltopo.fixtures import _feature, fixture_envelope_df
from etl_caltopo_spark.caltopo.pipeline import run_from_api, run_pipeline
from etl_caltopo_spark.caltopo.registry import schema
from etl_caltopo_spark.caltopo.sink import features_json, submit_idempotent
from etl_caltopo_spark.caltopo.source import map_state_url, validate_env
from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_json


def _row_to_feature(row) -> dict:
    """Reference serializer: one transformed row → its GeoJSON Feature
    dict, built in Python (the sink builds the same JSON in the JVM)."""
    props = {
        "callsign": row["callsign"],
        "remarks": row["remarks"],
        "archived": row["archived"],
        "metadata": dict(row["metadata"]) if row["metadata"] is not None else {},
    }
    for src, dst in [
        ("cot_type", "type"),
        ("marker_color", "marker-color"),
        ("marker_opacity", "marker-opacity"),
        ("fill", "fill"),
        ("fill_opacity", "fill-opacity"),
        ("stroke", "stroke"),
        ("stroke_opacity", "stroke-opacity"),
        ("stroke_width", "stroke-width"),
        ("icon", "icon"),
    ]:
        if row[src] is not None:
            props[dst] = row[src]
    if row["path"] is not None:
        props["path"] = row["path"]
    geometry = None
    if row["geometry_type"] is not None:
        geometry = {
            "type": row["geometry_type"],
            "coordinates": json.loads(row["geometry_json"]),
        }
    return {
        "id": row["id"],
        "type": "Feature",
        "properties": props,
        "geometry": geometry,
    }


def to_feature_collection(rows: Iterable) -> dict:
    """Reference serializer: rows → the FeatureCollection dict, features
    sorted by id."""
    return {
        "type": "FeatureCollection",
        "features": sorted(
            (_row_to_feature(r) for r in rows), key=lambda f: str(f["id"])
        ),
    }


def _submitted(df) -> list[str]:
    """The bodies ``submit_idempotent`` posts for ``df``, each checked
    to be strict JSON."""
    bodies = []

    def poster(url: str, body: str, headers: dict) -> None:
        strict_loads(body)
        bodies.append(body)

    submit_idempotent(df, "https://example.test/layer", poster)
    return bodies


@pytest.fixture(scope="module")
def result(spark):
    out = run_pipeline(fixture_envelope_df(spark))
    return {r["id"]: r.asDict() for r in out.collect()}


def test_folder_and_null_geometry_rows_consumed(result):
    # F2 (null geometry) dropped; folder row consumed, not emitted (Q5)
    assert "F2" not in result
    assert "folder-1" not in result
    # everything else survives
    assert set(result) == {
        "F1", "F3a", "F3b", "F3c", "F3d", "F4a", "F4b",
        "F5", "F6", "F7", "F8a", "F8b", "F9", "F10",
    }


def test_f1_plain_point(result):
    r = result["F1"]
    assert r["cot_type"] == "u-d-p"  # task.ts:129-130
    assert r["archived"] is True  # task.ts:128
    assert r["callsign"] == "plain point"  # task.ts:113
    assert r["remarks"] == ""  # null description → '' (task.ts:114)
    assert r["path"] is None
    assert json.loads(r["geometry_json"]) == [1.5, 2.5]


def test_f3_geometry_types_preserved(result):
    assert json.loads(result["F3b"]["geometry_json"]) == [[0.0, 0.0], [1.0, 1.0]]
    assert json.loads(result["F3c"]["geometry_json"]) == [
        [[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]
    ]
    assert json.loads(result["F3d"]["geometry_json"]) == [
        [[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]]
    ]


def test_f4_coordinate_truncation(result):
    # quirk Q4: positions keep AT MOST 3 elements (task.ts:124-126)
    assert json.loads(result["F4a"]["geometry_json"]) == [1.0, 2.0, 100.0]
    assert json.loads(result["F4b"]["geometry_json"]) == [
        [1.0, 2.0, 3.0], [6.0, 7.0, 8.0]
    ]


def test_f5_f6_folder_paths(result):
    assert result["F5"]["path"] == "/Team Alpha"  # task.ts:145-148
    assert result["F6"]["path"] is None  # dangling folderId (Q5)


def test_f7_marker_color_handling(result):
    r = result["F7"]
    assert r["marker_color"] == "#FF0000"  # '#' prefix (task.ts:133)
    assert r["marker_opacity"] == 1.0  # injected (task.ts:135)
    assert "marker-color" not in r["metadata"]  # deleted (task.ts:134)
    # style copies with casts (task.ts:116-120)
    assert r["fill"] == "#00FF00" and r["fill_opacity"] == 0.5
    assert r["stroke"] == "#0000FF" and r["stroke_opacity"] == 0.25
    assert r["stroke_width"] == 2.0


def test_f8_absent_equals_null(result):
    # quirk Q2/Q3 pin: explicit null and absent behave identically
    for fid in ("F8a", "F8b"):
        assert result[fid]["fill"] is None
        assert result[fid]["fill_opacity"] is None
        assert "fill" not in result[fid]["metadata"]


def test_f9_non_point_marker_color(result):
    r = result["F9"]
    assert r["marker_color"] is None  # Point-only branch (task.ts:129-137)
    assert r["marker_opacity"] is None
    assert r["metadata"]["marker-color"] == "00FF00"  # survives in metadata


def test_f10_empty_description(result):
    assert result["F10"]["remarks"] == ""


def test_metadata_passthrough(result):
    m = result["F1"]["metadata"]
    assert m["title"] == "plain point"
    assert m["class"] == "Marker"
    assert m["creator"] == "tester"
    assert m["updated"] == "1700000000000"


def test_sink_feature_collection(spark):
    [body] = _submitted(run_pipeline(fixture_envelope_df(spark)))
    fc = json.loads(body)
    assert fc["type"] == "FeatureCollection"
    by_id = {f["id"]: f for f in fc["features"]}
    f7 = by_id["F7"]
    assert f7["properties"]["marker-color"] == "#FF0000"
    assert f7["properties"]["type"] == "u-d-p"
    assert f7["geometry"]["coordinates"] == [7.0, 7.0]
    assert by_id["F5"]["properties"]["path"] == "/Team Alpha"


def _perfbench_corpus(maps: int, features_per_map: int):
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "perfbench",
        "envelopes.py",
    )
    spec = importlib.util.spec_from_file_location("perfbench_envelopes", path)
    envelopes = sys.modules.setdefault(spec.name, importlib.util.module_from_spec(spec))
    spec.loader.exec_module(envelopes)
    bodies = envelopes.generate(1, maps, features_per_map).bodies
    return [(sid, body.decode("utf-8")) for sid, body in sorted(bodies.items())]


@pytest.mark.parametrize(
    "corpus",
    [None, (8, 150), (4, 3000)],
    ids=["fixture", "perfbench-fanout", "perfbench-bulk"],
)
def test_sink_bodies_match_the_reference_serializer(spark, corpus):
    """Each map's posted body, parsed, equals the reference
    serializer's FeatureCollection of that map's rows: the same
    features in the same order, each with its keys and its properties'
    keys in the same order (the metadata map's key order is Spark's
    map order, which the reference never fixed)."""
    if corpus is None:
        envelopes = fixture_envelope_df(spark)
    else:
        envelopes = spark.createDataFrame(
            _perfbench_corpus(*corpus), "share_id string, body_json string"
        )
    out = run_pipeline(envelopes)
    by_map: dict = {}
    for row in out.collect():
        by_map.setdefault(row["share_id"], []).append(row)

    def canonical(fc: dict) -> str:
        return json.dumps(fc, sort_keys=True)

    def key_order(fc: dict) -> list:
        return [(list(f), list(f["properties"])) for f in fc["features"]]

    expected = sorted((to_feature_collection(rows) for rows in by_map.values()), key=canonical)
    posted = sorted((json.loads(body) for body in _submitted(out)), key=canonical)
    assert posted == expected
    assert [key_order(fc) for fc in posted] == [key_order(fc) for fc in expected]


def test_sink_nulls_non_finite_style_numbers(spark):
    """NaN and Infinity have no JSON text: a non-finite style number is
    left out of the body (absent ≡ null) rather than posted as a bare
    token an RFC 8259 parser refuses; the metadata keeps the source
    text."""
    body = _envelope([
        _feature(
            "nf", "Shape", "nf", _POINT,
            **{"fill-opacity": "NaN", "stroke-opacity": "-Infinity",
               "stroke-width": "Infinity"},
        )
    ])
    df = spark.createDataFrame([("S", body)], "share_id string, body_json string")
    out = run_pipeline(df)
    [row] = out.collect()
    assert row["fill_opacity"] != row["fill_opacity"]  # NaN reached the sink
    [posted] = _submitted(out)
    props = strict_loads(posted)["features"][0]["properties"]
    assert not {"fill-opacity", "stroke-opacity", "stroke-width"} & set(props)
    assert props["metadata"]["fill-opacity"] == "NaN"
    assert props["metadata"]["stroke-width"] == "Infinity"


def test_features_json_without_a_share_id_is_one_map(spark):
    """A frame with no ``share_id`` column posts one body."""
    out = run_pipeline(fixture_envelope_df(spark)).drop("share_id")
    assert features_json(out).columns == ["share_id", "id", "feature"]
    [body] = _submitted(out.repartition(3))
    assert len(json.loads(body)["features"]) == 14


def test_run_from_api_with_fake_fetcher(spark):
    urls = []

    def fake_fetcher(url: str) -> str:
        urls.append(url)
        return fixture_envelope_json()

    out = run_from_api(spark, {"ShareId": "ABC123"}, fetcher=fake_fetcher)
    assert out.count() == 14
    assert urls == ["https://caltopo.com/api/v1/map/ABC123/since/-500"]


def test_many_envelopes_fan_out(spark):
    """One layer per CalTopo map in the reference (CHANGELOG.md:63);
    here a single batch processes many maps as rows — the fan-out is
    data parallelism, not scheduling."""
    n = 200
    envelopes = spark.createDataFrame(
        [(f"share-{i}", fixture_envelope_json()) for i in range(n)],
        "share_id string, body_json string",
    ).repartition(8)
    out = run_pipeline(envelopes)
    assert out.count() == n * 14
    # folder paths resolve within every envelope
    f5 = out.filter(out["id"] == "F5").select("path").distinct().collect()
    assert [r["path"] for r in f5] == ["/Team Alpha"]


def _envelope(features: list[dict]) -> str:
    env = json.loads(fixture_envelope_json())
    env["result"]["state"]["features"] = features
    return json.dumps(env)


_POINT = {"type": "Point", "coordinates": [1.0, 1.0]}


def test_duplicate_folder_id_last_folder_wins(spark):
    """Two Folders with one id in one map: no error, each member
    emitted once, and the later Folder's title wins, as Map.set does
    (task.ts:90)."""
    body = _envelope([
        _feature("dup", "Folder", "First"),
        _feature("m1", "Marker", "member", _POINT, folder_id="dup"),
        _feature("dup", "Folder", "Second"),
    ])
    df = spark.createDataFrame([("S", body)], "share_id string, body_json string")
    rows = run_pipeline(df).select("id", "path").collect()
    assert [(r["id"], r["path"]) for r in rows] == [("m1", "/Second")]


def test_folder_ids_do_not_leak_across_maps(spark):
    """A folder id reused by another map of the same batch resolves
    only within its own map; a map without that Folder gets no path."""
    bodies = [
        ("A", _envelope([
            _feature("fold", "Folder", "Alpha"),
            _feature("a1", "Marker", "a", _POINT, folder_id="fold"),
        ])),
        ("B", _envelope([_feature("b1", "Marker", "b", _POINT, folder_id="fold")])),
        ("C", _envelope([
            _feature("c1", "Marker", "c", _POINT, folder_id="fold"),
            _feature("fold", "Folder", "Charlie"),
        ])),
    ]
    df = spark.createDataFrame(bodies, "share_id string, body_json string")
    paths = {r["id"]: r["path"] for r in run_pipeline(df).collect()}
    assert paths == {"a1": "/Alpha", "b1": None, "c1": "/Charlie"}


def test_env_validation():
    assert validate_env({"ShareId": "X"})["DEBUG"] is False
    with pytest.raises(ValueError):
        validate_env({})
    with pytest.raises(ValueError):
        validate_env({"ShareId": ""})
    with pytest.raises(ValueError):
        validate_env({"ShareId": "X", "DEBUG": "yes"})


def test_foreach_partition_post_sink(spark, fixture_server):
    """Executor-side batched POST (the ``caltopo`` writer): every
    surviving feature reaches the sink exactly once across
    partition-level requests."""
    from etl_caltopo_spark.caltopo.datasource import register

    url, state = fixture_server
    register(spark)
    state["posts"] = []
    state["seen_keys"] = set()
    df = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    (
        features_json(df).write.format("caltopo")
        .option("url", f"{url}/api/v1/layer/PART/submit")
        .mode("append")
        .save()
    )
    posted_ids = []
    for fc in state["posts"]:
        assert fc["type"] == "FeatureCollection"
        posted_ids += [feat["id"] for feat in fc["features"]]
    assert sorted(posted_ids) == sorted(
        r["id"] for r in run_pipeline(fixture_envelope_df(spark)).collect()
    )


def test_multimodal_decode_dispatch():
    """decode_image magic-sniffs and decodes PNG, PPM, and baseline
    JPEG for real; malformed streams of any format return None
    (dirty-row policy), never raise."""
    import numpy as np

    from etl_caltopo_spark.llm.jpeg import encode_jpeg
    from etl_caltopo_spark.llm.multimodal import decode_image, encode_png, encode_ppm

    img = np.arange(2 * 2 * 3, dtype=np.uint8).reshape(2, 2, 3)
    assert (decode_image(encode_png(img)) == img).all()
    assert (decode_image(encode_ppm(img)) == img).all()
    jpg = decode_image(encode_jpeg(img))
    assert jpg is not None and jpg.shape == img.shape
    assert decode_image(b"\xff\xd8\xff\xe0 jpeg-ish") is None  # malformed JPEG
    assert decode_image(b"\x89PNG") is None  # truncated PNG
    assert decode_image(b"RIFF no image") is None  # unknown format
    assert decode_image(None) is None


def test_schema_introspection():
    assert map_state_url("S", -500).endswith("/map/S/since/-500")
    assert schema("input").fieldNames() == ["ShareId", "DEBUG"]
    assert "marker-color" in schema("output").fieldNames()
    assert schema("unknown").fieldNames() == []

    import json as _json

    from etl_caltopo_spark.caltopo.registry import STAGE_SCHEMAS, schema_json

    assert set(STAGE_SCHEMAS) == {"env", "envelope", "feature", "output_properties"}
    parsed = _json.loads(schema_json("input"))
    assert [f["name"] for f in parsed["fields"]] == ["ShareId", "DEBUG"]

def test_submit_posts_one_body_per_map(spark):
    """submit_idempotent posts one FeatureCollection per map, however
    the maps' rows are spread over partitions, and returns the feature
    count; every feature is posted once."""
    envelopes = spark.createDataFrame(
        [(f"share-{i}", fixture_envelope_json()) for i in range(3)],
        "share_id string, body_json string",
    )
    df = run_pipeline(envelopes).repartition(4)
    expected = sorted(r["id"] for r in df.collect())
    bodies = []

    def poster(url: str, body: str, headers: dict) -> None:
        bodies.append(strict_loads(body))

    n = submit_idempotent(df, "https://example.test/layer", poster)
    assert n == len(expected) == 3 * 14
    assert len(bodies) == 3
    posted = [f["id"] for fc in bodies for f in fc["features"]]
    assert sorted(posted) == expected


def test_submit_releases_only_its_own_cache(spark):
    """submit_idempotent caches nothing: a frame it was given unpersisted
    stays unpersisted, and a frame the caller persisted stays
    persisted."""
    from pyspark import StorageLevel

    def poster(url: str, body: str, headers: dict) -> None:
        strict_loads(body)

    df = run_pipeline(fixture_envelope_df(spark))
    assert submit_idempotent(df, "https://example.test/layer", poster) == 14
    assert df.storageLevel == StorageLevel.NONE

    cached = run_pipeline(fixture_envelope_df(spark)).persist()
    assert submit_idempotent(cached, "https://example.test/layer", poster) == 14
    assert cached.storageLevel != StorageLevel.NONE
    cached.unpersist()


def test_submit_runs_one_spark_job(spark):
    """A submit is one Spark job: the Arrow collect, with no count pass
    before it."""
    sc = spark.sparkContext
    df = run_pipeline(fixture_envelope_df(spark))
    group = "caltopo-submit-one-job"
    sc.setJobGroup(group, "submit_idempotent")
    try:
        n = submit_idempotent(
            df, "https://example.test/layer", lambda url, body, headers: strict_loads(body)
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert n == 14
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


@pytest.mark.parametrize(
    "coords, posted",
    [
        ([[1, 2, 3, 4]], [[1, 2, 3]]),  # deeper than a Point's depth
        ([True, 1, 2, 3], [True, 1, 2]),  # a bool where a number belongs
        ([1, 2, 3, 4], [1, 2, 3]),  # integers keep their text
        (None, None),  # a geometry without coordinates
    ],
)
def test_sink_posts_coordinates_off_the_declared_depth(spark, coords, posted):
    """A Point whose coordinates do not parse at its depth is cut like
    any other tree and posted, as the reference's coordEach splice
    leaves it: it is neither nulled nor re-printed as doubles.  A Point
    without coordinates is posted with null coordinates."""
    body = _envelope([
        _feature("p", "Marker", "p", {"type": "Point", "coordinates": coords})
    ])
    df = spark.createDataFrame([("S", body)], "share_id string, body_json string")
    [posted_body] = _submitted(run_pipeline(df))
    [feature] = json.loads(posted_body)["features"]
    assert json.dumps(feature["geometry"]["coordinates"]) == json.dumps(posted)


def test_pipeline_build_is_a_few_gateway_round_trips(spark, monkeypatch):
    """Building the chain hands Spark a few SQL expression texts: each
    ``pyspark.sql.functions`` Column costs several py4j round trips,
    and the chain built from them made ~2,600 per build (~0.5-0.9 s of
    driver time on every submit); the SQL-text chain makes ~120.  Only
    this thread's commands count: py4j's finalizer thread sends the
    detaches of earlier, garbage-collected objects whenever it runs."""
    import threading

    from py4j.clientserver import ClientServerConnection

    source = fixture_envelope_df(spark)
    sent = []
    send = ClientServerConnection.send_command
    builder = threading.get_ident()

    def counting(self, command, *args, **kwargs):
        if threading.get_ident() == builder:
            sent.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    run_pipeline(source)
    monkeypatch.undo()
    # 0 would mean py4j sent through another client than the one counted
    assert 0 < len(sent) <= 300, len(sent)


def test_decode_quotes_the_body_column(spark):
    """The body column is named in SQL text, quoted as an identifier."""
    from etl_caltopo_spark.caltopo.decode import decode_envelope

    df = fixture_envelope_df(spark).withColumnRenamed("body_json", "body`json x")
    assert decode_envelope(df, body_col="body`json x").count() == 16
    with pytest.raises(Exception, match="envelope failed schema validation"):
        bad = spark.createDataFrame([("s", '{"status": 7}')], "share_id string, `a-b` string")
        decode_envelope(bad, body_col="a-b").collect()
