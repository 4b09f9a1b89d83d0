"""GeoJSON coordinate normalization (ref task.ts:123-126, quirk Q4).

The reference walks every coordinate position with turf's coordEach
and truncates it to at most 3 elements (lon, lat, alt) — dropping
CalTopo's 4th+ items (CHANGELOG.md:119-121).

Spark-first design, with no Python anywhere: GeoJSON nesting depth is
FIXED per geometry type (Point=1 … MultiPolygon=4), so the six
standard types compile to typed ``from_json`` + nested
``transform``/``slice`` — all codegen'd.  Unknown/ragged types
(GeometryCollection) have no fixed depth, so their raw JSON text is
cut with one ``regexp_replace`` (:func:`_ragged_pattern`), evaluated
only for those rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: JSON schema (DDL) of the coordinates array per geometry type
_DEPTH_SCHEMAS = {
    1: "array<double>",
    2: "array<array<double>>",
    3: "array<array<array<double>>>",
    4: "array<array<array<array<double>>>>",
}

GEOMETRY_DEPTH = {
    "Point": 1,
    "MultiPoint": 2,
    "LineString": 2,
    "MultiLineString": 3,
    "Polygon": 3,
    "MultiPolygon": 4,
}


def _truncate_typed(coords_json: Column, depth: int, keep: int) -> Column:
    """Parse at the fixed depth, slice every position to ``keep``
    elements, re-serialize."""
    parsed = F.from_json(coords_json, _DEPTH_SCHEMAS[depth])
    if depth == 1:
        out = F.slice(parsed, 1, keep)
    elif depth == 2:
        out = F.transform(parsed, lambda p: F.slice(p, 1, keep))
    elif depth == 3:
        out = F.transform(parsed, lambda ring: F.transform(ring, lambda p: F.slice(p, 1, keep)))
    else:
        out = F.transform(
            parsed,
            lambda poly: F.transform(
                poly, lambda ring: F.transform(ring, lambda p: F.slice(p, 1, keep))
            ),
        )
    return F.to_json(out)


#: one JSON value Python's ``isinstance(x, (int, float))`` accepts
#: after ``json.loads``: a number, a bool, or the NaN/Infinity tokens
#: Spark's JSON reader allows
_NUMBER = r"(?:-?(?:\d+(?:\.\d+)?(?:[eE][+-]?\d+)?|Infinity)|NaN|true|false)"


def _ragged_pattern(keep: int) -> str:
    """The coordEach cut on raw JSON text: matches a JSON string
    literal (group 1), or an innermost all-number array with more than
    ``keep`` elements — its ``[`` (group 2), first ``keep`` elements
    (group 3) and ``]`` (group 4).  Replaced by ``$1$2$3$4``, a string
    literal comes back unchanged (so ``"[1,2,3,4]"`` inside a string
    is never cut) and every such array keeps its first ``keep``
    elements, at any depth.  ``keep`` must be at least 1."""
    sep = r"\s*,\s*"
    head = sep.join([_NUMBER] * keep)
    string = r'"[^"\\]*+(?:\\.[^"\\]*+)*+"'
    # possessive loops (*+, ++) never backtrack, so Java matches them
    # iteratively: a long array or string cannot overflow its stack
    return rf"({string})|(\[)\s*({head})(?:{sep}{_NUMBER})++\s*(\])"


def truncate_coordinates(
    df: DataFrame,
    type_col: str = "geometry_type",
    json_col: str = "geometry_json",
    keep: int = 3,
) -> DataFrame:
    """Apply the <=``keep``-element position truncation across all
    geometry types; typed codegen paths for the standard six, the
    :func:`_ragged_pattern` rewrite otherwise (a null geometry_type
    with non-null coordinates included).  The CASE evaluates only the
    branch a row takes, so standard rows never run the regex."""
    t = F.col(type_col)
    j = F.col(json_col)
    expr = (
        F.when(j.isNull(), F.lit(None).cast("string"))
        .when(t == "Point", _truncate_typed(j, 1, keep))
        .when((t == "MultiPoint") | (t == "LineString"), _truncate_typed(j, 2, keep))
        .when((t == "MultiLineString") | (t == "Polygon"), _truncate_typed(j, 3, keep))
        .when(t == "MultiPolygon", _truncate_typed(j, 4, keep))
        .otherwise(F.regexp_replace(j, _ragged_pattern(keep), "$1$2$3$4"))
    )
    return df.withColumn(json_col, expr)
