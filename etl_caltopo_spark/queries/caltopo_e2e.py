"""The CalTopo domain pipeline graded END-TO-END as a query id
(VERDICT r5 #4): the reference's composed dataflow (task.ts:63-160) —
decode with the per-envelope folder lookup → folder split →
null-geometry drop → InputFeature projection with the folder path — run over the FIXTURES.md Family-A quirk
envelope (F1-F10) and hash-compared against a DuckDB replay of the
same envelope JSON.

This closes the gap where operators R3-R15 were each graded in
isolation (q_from_json, q_filter_class, …, q_broadcast_left_join) but
the reference's actual composition of them had only golden-file
pytest coverage.  One plan now exercises, with an oracle:

- R3 typed decode (from_json FAILFAST + envelope guard)  task.ts:71-88
- R4 explode features                                     task.ts:92
- R5 folder split (Folder rows consumed — quirk Q5)       task.ts:93-96
- R6 null-geometry drop (F2)                              task.ts:97-100
- R7 metadata map projection                              task.ts:107
- R8/R9 callsign / remarks-defaulting (F10 '' stays '')   task.ts:113-114
- R10 conditional style casts (F7/F8a/F8b — null ≡ absent) task.ts:116-121
- Q1 dead `ico` guard → icon stays null                   task.ts:121
- R11 coordinate truncation to ≤3 (F4a/F4b)               task.ts:123-126
- R12/R13 archived const + Point ⇒ 'u-d-p'                task.ts:128-130
- R14 '#'-prefix + opacity 1 + metadata key delete, Point
  only (F7 yes / F9 no)                                   task.ts:132-136
- R15 folder path from the envelope's own folder lookup;
  dangling → null path (F5 '/Team Alpha', F6 null)        task.ts:142-152

Gradeable shape: the map column is flattened to a sorted ``k=v``
join (both engines sort the same ASCII byte order) and the truncated
geometry is pinned through its first position (dims + x/y/z after
truncation — F4a's 4th element must be GONE, its 3rd kept).  Both
engines parse the identical embedded JSON literal, so every double is
bit-identical.

Scale note: the fixture envelope is deliberately tiny (the grade is
about compositional semantics), but the PLAN is the production one —
one scan of the source, the folder lookup computed per envelope below
the explode, no join and no exchange (tests/test_plans.py pins this) —
and runs unchanged over any number of envelope rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.fixtures import (
    fixture_envelope_df,
    fixture_envelope_json,
)
from etl_caltopo_spark.caltopo.pipeline import run_pipeline
from etl_caltopo_spark.queries.registry import query
from etl_caltopo_spark.session import apply_runtime_conf

#: metadata keys in source spelling → DuckDB value expression (string
#: already, or CAST for typed values) — must mirror
#: caltopo/transform.py:_METADATA_FIELDS plus its cast-to-string.
_META_SQL = [
    ("title", "title"),
    ("description", "description"),
    ("class", "cls"),
    ("creator", "creator"),
    ("updated", "CAST(updated AS VARCHAR)"),
    ("marker-symbol", "marker_symbol"),
    ("marker-rotation", "marker_rotation"),
    # R14: for Point rows with a marker color the key is DELETED from
    # the metadata copy — non-Point rows (F9) keep it.
    ("marker-color", "CASE WHEN gt = 'Point' THEN NULL ELSE marker_color_src END"),
    ("marker-size", "marker_size"),
    ("stroke", "stroke"),
    ("stroke-opacity", "CAST(stroke_opacity AS VARCHAR)"),
    ("stroke-width", "CAST(stroke_width AS VARCHAR)"),
    ("pattern", "pattern"),
    ("fill", "fill"),
    ("fill-opacity", "CAST(fill_opacity AS VARCHAR)"),
    ("folderId", "folder_id"),
    ("visible", "CAST(visible AS VARCHAR)"),
    ("labelVisible", "CAST(label_visible AS VARCHAR)"),
    ("icon", "icon"),
]

_META_ENTRIES = ",\n               ".join(
    f"CASE WHEN ({expr}) IS NOT NULL THEN '{key}=' || ({expr}) END"
    for key, expr in _META_SQL
)


def _oracle() -> str:
    body = fixture_envelope_json().replace("'", "''")
    return f"""
    WITH env AS (
        SELECT 'fixture-share' AS share_id, '{body}' AS body
    ), idx AS (
        SELECT e.share_id, e.body,
               unnest(range(CAST(json_array_length(e.body,
                   '$.result.state.features') AS BIGINT))) AS i
        FROM env e
    ), feats AS (
        SELECT share_id,
               json_extract(body,
                   '$.result.state.features[' || CAST(i AS VARCHAR) || ']') AS f
        FROM idx
    ), flat AS (
        SELECT share_id,
               json_extract_string(f, '$.id') AS id,
               json_extract_string(f, '$.properties.class') AS cls,
               json_extract_string(f, '$.properties.title') AS title,
               json_extract_string(f, '$.properties.description') AS description,
               json_extract_string(f, '$.properties.creator') AS creator,
               TRY_CAST(json_extract(f, '$.properties.updated') AS BIGINT) AS updated,
               json_extract_string(f, '$.properties."marker-symbol"') AS marker_symbol,
               json_extract_string(f, '$.properties."marker-rotation"') AS marker_rotation,
               json_extract_string(f, '$.properties."marker-color"') AS marker_color_src,
               json_extract_string(f, '$.properties."marker-size"') AS marker_size,
               json_extract_string(f, '$.properties.stroke') AS stroke,
               TRY_CAST(json_extract(f, '$.properties."stroke-opacity"') AS DOUBLE) AS stroke_opacity,
               TRY_CAST(json_extract(f, '$.properties."stroke-width"') AS DOUBLE) AS stroke_width,
               json_extract_string(f, '$.properties.pattern') AS pattern,
               json_extract_string(f, '$.properties.fill') AS fill,
               TRY_CAST(json_extract(f, '$.properties."fill-opacity"') AS DOUBLE) AS fill_opacity,
               json_extract_string(f, '$.properties.folderId') AS folder_id,
               TRY_CAST(json_extract(f, '$.properties.visible') AS BOOLEAN) AS visible,
               TRY_CAST(json_extract(f, '$.properties.labelVisible') AS BOOLEAN) AS label_visible,
               json_extract_string(f, '$.properties.icon') AS icon,
               json_extract_string(f, '$.geometry.type') AS gt,
               json_extract(f, '$.geometry.coordinates') AS coords
        FROM feats
    ), folders AS (
        SELECT share_id, id AS folder_key, title AS folder_title
        FROM flat WHERE cls = 'Folder'
    ), alive AS (
        SELECT * FROM flat WHERE cls <> 'Folder' AND gt IS NOT NULL
    ), shaped AS (
        SELECT a.share_id, a.id,
               a.title AS callsign,
               coalesce(a.description, '') AS remarks,
               TRUE AS archived,
               CASE WHEN a.gt = 'Point' THEN 'u-d-p' END AS cot_type,
               CASE WHEN a.gt = 'Point' AND a.marker_color_src IS NOT NULL
                    THEN '#' || a.marker_color_src END AS marker_color,
               CASE WHEN a.gt = 'Point' AND a.marker_color_src IS NOT NULL
                    THEN 1.0 END AS marker_opacity,
               a.fill, a.fill_opacity, a.stroke, a.stroke_opacity,
               a.stroke_width, a.icon,
               a.gt AS geometry_type,
               CASE WHEN a.gt = 'Point' THEN a.coords
                    WHEN a.gt IN ('LineString', 'MultiPoint')
                        THEN json_extract(a.coords, '$[0]')
                    WHEN a.gt IN ('Polygon', 'MultiLineString')
                        THEN json_extract(a.coords, '$[0][0]')
                    WHEN a.gt = 'MultiPolygon'
                        THEN json_extract(a.coords, '$[0][0][0]') END AS pos0,
               '/' || fo.folder_title AS path,
               list_sort(list_filter([{_META_ENTRIES}],
                         x -> x IS NOT NULL)) AS mlist
        FROM alive a
        LEFT JOIN folders fo
            ON a.folder_id = fo.folder_key AND a.share_id = fo.share_id
    )
    SELECT share_id, id, callsign, remarks, archived, cot_type,
           marker_color, marker_opacity, fill, fill_opacity, stroke,
           stroke_opacity, stroke_width, icon, geometry_type, path,
           CAST(least(json_array_length(pos0), 3) AS INT) AS pos_dims,
           TRY_CAST(json_extract(pos0, '$[0]') AS DOUBLE) AS pos0_x,
           TRY_CAST(json_extract(pos0, '$[1]') AS DOUBLE) AS pos0_y,
           CASE WHEN json_array_length(pos0) >= 3
                THEN TRY_CAST(json_extract(pos0, '$[2]') AS DOUBLE) END AS pos0_z,
           CAST(len(mlist) AS INT) AS n_metadata,
           array_to_string(mlist, '|') AS metadata_csv
    FROM shaped
    """


@query("q_caltopo_pipeline", oracle=_oracle())
def q_caltopo_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixture envelope through the full composed pipeline (module
    docstring has the operator-by-operator map).  The sf_dir argument
    is unused by design: the input is the deterministic F1-F10 quirk
    envelope, identical to the JSON literal embedded in the oracle."""
    apply_runtime_conf(spark)
    out = run_pipeline(fixture_envelope_df(spark))

    t = F.col("geometry_type")
    j = F.col("geometry_json")
    # first position of the TRUNCATED geometry: proves R11 ran (F4a's
    # 4th element gone, 3rd kept) without replaying full-JSON
    # serialization differences across engines
    pos0 = (
        F.when(t == "Point", F.from_json(j, "array<double>"))
        .when(
            t.isin("LineString", "MultiPoint"),
            F.get(F.from_json(j, "array<array<double>>"), 0),
        )
        .when(
            t.isin("Polygon", "MultiLineString"),
            F.get(F.get(F.from_json(j, "array<array<array<double>>>"), 0), 0),
        )
        .when(
            t == "MultiPolygon",
            F.get(
                F.get(
                    F.get(F.from_json(j, "array<array<array<array<double>>>>"), 0),
                    0,
                ),
                0,
            ),
        )
    )
    mlist = F.array_sort(
        F.transform(
            F.map_entries(F.col("metadata")),
            lambda e: F.concat(e.getField("key"), F.lit("="), e.getField("value")),
        )
    )
    return out.withColumn("_pos0", pos0).select(
        "share_id",
        "id",
        "callsign",
        "remarks",
        "archived",
        "cot_type",
        "marker_color",
        "marker_opacity",
        "fill",
        "fill_opacity",
        "stroke",
        "stroke_opacity",
        "stroke_width",
        "icon",
        "geometry_type",
        "path",
        # null-guarded: F.size(NULL) is -1 under non-ANSI defaults while
        # the oracle's json_array_length(NULL) is NULL — matters the day
        # the fixture envelope gains a geometry type outside the pos0
        # CASE (e.g. GeometryCollection via the walker fallback)
        F.when(F.col("_pos0").isNotNull(), F.size("_pos0"))
        .cast("int")
        .alias("pos_dims"),
        F.get("_pos0", 0).alias("pos0_x"),
        F.get("_pos0", 1).alias("pos0_y"),
        F.get("_pos0", 2).alias("pos0_z"),
        F.size(mlist).cast("int").alias("n_metadata"),
        F.concat_ws("|", mlist).alias("metadata_csv"),
    )
