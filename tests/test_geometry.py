"""Geometry truncation: one regex rewrite for every geometry type,
and the Q4 invariant property-tested with hypothesis against a
coordEach walker."""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from etl_caltopo_spark.caltopo.decode import decode_envelope
from etl_caltopo_spark.caltopo.geometry import truncate_coordinates

position = st.lists(
    st.floats(allow_nan=False, allow_infinity=False, width=32), min_size=2, max_size=6
)


def _run(spark, rows):
    df = spark.createDataFrame(rows, "geometry_type string, geometry_json string")
    return truncate_coordinates(df).collect()


def walk(node):
    """The coordEach oracle: every innermost all-number list (bools
    count, as ``isinstance(True, int)``) keeps its first 3 elements;
    everything else is walked or kept as is."""
    if isinstance(node, list):
        if node and all(isinstance(x, (int, float)) for x in node):
            return node[:3]
        return [walk(x) for x in node]
    return node


def test_unknown_type_truncates_ragged_positions(spark):
    # GeometryCollection-ish ragged nesting has no typed schema
    ragged = [[1.0, 2.0, 3.0, 4.0], [[5.0, 6.0, 7.0, 8.0, 9.0]]]
    out = _run(spark, [("Weird", json.dumps(ragged))])
    assert json.loads(out[0]["geometry_json"]) == [[1.0, 2.0, 3.0], [[5.0, 6.0, 7.0]]]


def test_ragged_rewrite_reads_nonfinite_tokens_and_null_types(spark):
    """NaN/Infinity tokens count as numbers (json.loads reads them as
    floats), and a null geometry_type with coordinates is ragged."""
    rows = [("Weird", "[[NaN, Infinity, -Infinity, 1e5]]"), (None, "[[1, 2, 3, 4]]")]
    out = [json.dumps(json.loads(r["geometry_json"])) for r in _run(spark, rows)]
    assert out == ["[[NaN, Infinity, -Infinity]]", "[[1, 2, 3]]"]


def test_null_geometry_passes_through(spark):
    out = _run(spark, [("Point", None), (None, None)])
    assert all(r["geometry_json"] is None for r in out)


@settings(max_examples=10, deadline=None)
@given(st.lists(position, min_size=1, max_size=5))
def test_linestring_truncation_property(spark, positions):
    """∀ LineString: every output position is the <=3-element prefix
    of its input position (quirk Q4)."""
    out = _run(spark, [("LineString", json.dumps(positions))])
    got = json.loads(out[0]["geometry_json"])
    assert len(got) == len(positions)
    for inp, outp in zip(positions, got):
        assert len(outp) <= 3
        assert outp == [float(x) for x in inp[:3]]


@settings(max_examples=10, deadline=None)
@given(st.lists(st.lists(position, min_size=1, max_size=4), min_size=1, max_size=3))
def test_polygon_truncation_property(spark, rings):
    out = _run(spark, [("Polygon", json.dumps(rings))])
    got = json.loads(out[0]["geometry_json"])
    for ring_in, ring_out in zip(rings, got):
        for inp, outp in zip(ring_in, ring_out):
            assert outp == [float(x) for x in inp[:3]]


# ragged coordinate trees: mixed depths, empty lists, ints, bools,
# exponent floats, infinities, nulls, and strings that look like
# positions or carry escaped quotes
_leaf = st.one_of(
    st.integers(-(10**12), 10**12),
    st.floats(allow_nan=False, width=64),
    st.booleans(),
    st.none(),
    st.sampled_from(["[1,2,3,4]", 'a"b', '\\"[5,6,7,8]', "", "\\", '"]', "NaN"]),
)
_ragged = st.recursive(
    st.lists(_leaf, max_size=6), lambda inner: st.lists(inner, max_size=4), max_leaves=40
)


#: every geometry type the rewrite sees: the six standard ones,
#: GeometryCollection and a null type
_types = st.sampled_from(
    [
        "Point",
        "MultiPoint",
        "LineString",
        "MultiLineString",
        "Polygon",
        "MultiPolygon",
        "GeometryCollection",
        None,
    ]
)


def _envelope(geometry_type: str | None, coords_json: str) -> str:
    return (
        '{"status":"ok","timestamp":1,"result":{"timestamp":1,"state":'
        '{"type":"FeatureCollection","features":[{"id":"g","type":"Feature",'
        '"properties":{"class":"Shape","title":"t"},"geometry":'
        '{"type":' + json.dumps(geometry_type) + ',"coordinates":' + coords_json
        + "}}]}}}"
    )


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_types, _ragged), min_size=1, max_size=8), st.booleans())
def test_ragged_truncation_matches_walker(spark, trees, indent):
    """∀ geometry type and ragged coordinate tree, whether or not the
    tree conforms to the type's depth, as given (with or without
    whitespace) and after decode_envelope's raw-JSON capture: the
    output parses to the walker oracle applied to the input."""
    given_rows = [
        (gtype, json.dumps(t, indent=1 if indent else None)) for gtype, t in trees
    ]
    for (_, inp), row in zip(given_rows, _run(spark, given_rows)):
        assert json.loads(row["geometry_json"]) == walk(json.loads(inp))

    envelopes = spark.createDataFrame(
        [(f"m{i}", _envelope(*row)) for i, row in enumerate(given_rows)],
        "share_id string, body_json string",
    )
    decoded = decode_envelope(envelopes).select(
        "share_id", "geometry_type", "geometry_json"
    )
    raw = {r["share_id"]: r["geometry_json"] for r in decoded.collect()}
    for r in truncate_coordinates(decoded).collect():
        assert json.loads(r["geometry_json"]) == walk(json.loads(raw[r["share_id"]]))
