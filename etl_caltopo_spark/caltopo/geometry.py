"""GeoJSON coordinate normalization (ref task.ts:123-126, quirk Q4).

The reference walks every coordinate position with turf's coordEach
and truncates it to at most ``KEEP`` = 3 elements (lon, lat, alt) —
dropping CalTopo's 4th+ items (CHANGELOG.md:119-121).

Spark-first design, with no Python anywhere: every geometry type, the
six standard ones, GeometryCollection and a null type alike, is cut
with one ``regexp_replace`` (:func:`_ragged_pattern`) on the raw
coordinates JSON, at any depth, as coordEach walks any tree.  No type
is parsed at its fixed depth (Point=1 … MultiPolygon=4): such a parse
yields null for coordinates off that depth, which the sink cannot
serialize, and re-prints integers as doubles, where the reference's
in-place ``splice`` keeps the source text.

The rest of the CalTopo chain is SQL expression text (see the decode
module); the rewrite stays one ``F.regexp_replace`` Column, a handful
of py4j round trips, so the pattern reaches the JVM as it is written
here, never through SQL string-literal escaping.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: elements a position keeps: lon, lat, alt
KEEP = 3

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


def truncate_coordinates(df: DataFrame) -> DataFrame:
    """Cut every position in ``geometry_json`` to its first ``KEEP``
    elements, whatever ``geometry_type`` says; a null stays null."""
    cut = F.regexp_replace("geometry_json", _ragged_pattern(KEEP), "$1$2$3$4")
    return df.withColumn("geometry_json", cut)
