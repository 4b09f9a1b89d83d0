"""Golden end-to-end test of the CalTopo pipeline over the F1-F10
quirk matrix (FIXTURES.md Family A; reference behaviors cited in
etl_caltopo_spark/caltopo/*)."""

from __future__ import annotations

import json

import pytest

from etl_caltopo_spark.caltopo.fixtures import _feature, fixture_envelope_df
from etl_caltopo_spark.caltopo.pipeline import run_from_api, run_pipeline
from etl_caltopo_spark.caltopo.registry import schema
from etl_caltopo_spark.caltopo.sink import to_feature_collection
from etl_caltopo_spark.caltopo.source import map_state_url, validate_env
from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_json


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
    out = run_pipeline(fixture_envelope_df(spark))
    fc = to_feature_collection(out.collect())
    assert fc["type"] == "FeatureCollection"
    by_id = {f["id"]: f for f in fc["features"]}
    f7 = by_id["F7"]
    assert f7["properties"]["marker-color"] == "#FF0000"
    assert f7["properties"]["type"] == "u-d-p"
    assert f7["geometry"]["coordinates"] == [7.0, 7.0]
    assert by_id["F5"]["properties"]["path"] == "/Team Alpha"


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


def test_foreach_partition_post_sink(spark, tmp_path):
    """Executor-side batched POST: every surviving feature reaches the
    sink exactly once across partition-level requests."""
    import glob
    import json as _json
    import uuid

    from etl_caltopo_spark.caltopo.sink import submit_idempotent

    out_dir = tmp_path / "posts"
    out_dir.mkdir()

    def poster(url: str, body: str, headers: dict) -> None:
        # executor-side capture: one file per partition POST
        (out_dir / f"{uuid.uuid4().hex}.json").write_text(body)

    df = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    submit_idempotent(df, "https://example.test/layer", poster, driver_collect_max=0)
    posted_ids = []
    for f in glob.glob(str(out_dir / "*.json")):
        fc = _json.loads(open(f).read())
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

def test_submit_dispatches_on_size(spark, tmp_path):
    """submit_idempotent is the sink: one driver-side POST at reference
    scale, executor-side partition POSTs above the threshold — same
    feature multiset either way."""
    import glob
    import json as _json
    import uuid

    from etl_caltopo_spark.caltopo.sink import submit_idempotent

    df = run_pipeline(fixture_envelope_df(spark)).repartition(4)
    expected = sorted(r["id"] for r in df.collect())

    # small output → single driver POST
    driver_posts = []

    def driver_poster(url: str, body: str, headers: dict) -> None:
        driver_posts.append(body)

    n = submit_idempotent(df, "https://example.test/layer", driver_poster)
    assert n == len(expected)
    assert len(driver_posts) == 1
    fc = _json.loads(driver_posts[0])
    assert sorted(f["id"] for f in fc["features"]) == expected

    # above the threshold → per-partition executor POSTs
    out_dir = tmp_path / "posts"
    out_dir.mkdir()

    def part_poster(url: str, body: str, headers: dict) -> None:
        (out_dir / f"{uuid.uuid4().hex}.json").write_text(body)

    n = submit_idempotent(
        df, "https://example.test/layer", part_poster, driver_collect_max=5
    )
    assert n == len(expected)
    files = glob.glob(str(out_dir / "*.json"))
    assert len(files) > 1  # partition path, not one driver payload
    posted = []
    for f in files:
        posted += [feat["id"] for feat in _json.loads(open(f).read())["features"]]
    assert sorted(posted) == expected


def test_submit_releases_only_its_own_cache(spark):
    """submit_idempotent persists its input for the count and the POST,
    then unpersists it; a frame the caller persisted stays persisted."""
    from pyspark import StorageLevel

    from etl_caltopo_spark.caltopo.sink import submit_idempotent

    def poster(url: str, body: str, headers: dict) -> None:
        pass

    df = run_pipeline(fixture_envelope_df(spark))
    assert submit_idempotent(df, "https://example.test/layer", poster) == 14
    assert df.storageLevel == StorageLevel.NONE

    cached = run_pipeline(fixture_envelope_df(spark)).persist()
    assert submit_idempotent(cached, "https://example.test/layer", poster) == 14
    assert cached.storageLevel != StorageLevel.NONE
    cached.unpersist()
