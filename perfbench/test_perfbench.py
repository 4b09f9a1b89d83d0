"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import urllib.error
from urllib.request import Request, urlopen

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import envelopes  # noqa: E402
import run  # noqa: E402
from servers import SinkServer  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def test_envelopes_are_a_function_of_the_seed():
    a = envelopes.generate(7, 3, 200)
    b = envelopes.generate(7, 3, 200)
    c = envelopes.generate(8, 3, 200)
    assert a.bodies == b.bodies and a.expected == b.expected
    assert a.bodies != c.bodies


def test_envelopes_carry_every_quirk_family():
    corpus = envelopes.generate(3, 4, 500)
    feats = [
        f
        for body in corpus.bodies.values()
        for f in json.loads(body)["result"]["state"]["features"]
    ]
    props = [f["properties"] for f in feats]
    geoms = [f["geometry"] for f in feats if f["geometry"]]
    assert any(f["geometry"] is None and p["class"] != "Folder" for f, p in zip(feats, props))
    assert {4, 5} <= {len(g["coordinates"]) for g in geoms if g["type"] == "Point"}
    assert any(p.get("folderId") == envelopes.DANGLING_FOLDER for p in props)
    assert any("marker-color" in p and p["class"] == "Marker" for p in props)
    assert any("marker-color" in p and p["class"] == "Shape" for p in props)
    assert any("fill" in p and p["fill"] is None for p in props)
    assert any(p.get("description") == "" for p in props)
    assert any(g["type"] == "GeometryCollection" for g in geoms)
    assert corpus.folders > 0
    paths = {e.path for e in corpus.expected.values()}
    assert None in paths and len(paths) > 2


def _exact_delivery(corpus):
    return [
        {
            "id": fid,
            "geometry": {"type": exp.geometry_type, "coordinates": [[1.0, 2.0, 3.0]]},
            "properties": {"path": exp.path},
        }
        for fid, exp in corpus.expected.items()
    ]


def test_check_delivery_flags_each_kind_of_mismatch():
    corpus = envelopes.generate(5, 2, 100)
    good = _exact_delivery(corpus)
    assert envelopes.check_delivery(corpus, good, len(good)) == []
    assert len(envelopes.check_delivery(corpus, good[1:], len(good) - 1)) == 1
    assert len(envelopes.check_delivery(corpus, good + good[:1], len(good) + 1)) == 1
    assert len(envelopes.check_delivery(corpus, good, len(good) + 1)) == 1
    bad_pos = [dict(f) for f in good]
    bad_pos[0]["geometry"] = {"type": good[0]["geometry"]["type"], "coordinates": [[1, 2, 3, 4]]}
    assert len(envelopes.check_delivery(corpus, bad_pos, len(good))) == 1
    bad_path = [dict(f) for f in good]
    bad_path[0]["properties"] = {"path": "/elsewhere"}
    assert len(envelopes.check_delivery(corpus, bad_path, len(good))) == 1


def _post(url: str, body: bytes, key: str) -> int:
    req = Request(url, data=body, headers={"Idempotency-Key": key}, method="POST")
    try:
        with urlopen(req) as resp:
            return resp.status
    except urllib.error.HTTPError as exc:
        return exc.code


def test_sink_refuses_exactly_the_first_post_of_each_run():
    sink = SinkServer()
    try:
        for _ in range(2):
            sink.reset()
            codes = [_post(sink.url, b'{"features": []}', k) for k in "aab"]
            assert codes == [503, 200, 200]
            assert (sink.posts, sink.retries, sink.dup_posts) == (3, 1, 0)
            assert _post(sink.url, b"{}", "a") == 200 and sink.dup_posts == 1
            assert sorted(sink.accepted) == ["a", "b"]
    finally:
        sink.close()


def test_printed_metric_names_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOADS
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
