"""The feature transform stage (ref task.ts:93-152).

Reference execution order, each step cited; null-semantics quirks
resolved per SURVEY §1.5 (uniform ``isNotNull``; absent ≡ null).

Each filter and projection is one ``filter``/``selectExpr`` over SQL
expression text, as in the decode module and for the same reason: a
Column built from ``pyspark.sql.functions`` costs several py4j round
trips per call, paid on every submit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.geometry import truncate_coordinates
from etl_caltopo_spark.caltopo.schemas import PROPERTY_COLUMNS
from etl_caltopo_spark.operators.joins import broadcast_lookup_join


def split_folders(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition-by-predicate (R5, task.ts:90,93-96): Folder rows
    become the dimension; all others continue.  Folder rows are
    CONSUMED — never emitted (quirk Q5).  A null class is neither.

    When the batch spans multiple maps (a ``share_id`` column is
    present), the folder dimension keeps the map scope: the reference
    runs one map per invocation (CHANGELOG.md:63), so folder ids are
    only meaningful within their own map.
    """
    scope = [c for c in ("share_id",) if c in features.columns]
    folders = features.filter("`class` = 'Folder'").selectExpr(
        *scope, "id AS folder_key", "title AS folder_title"
    )
    rest = features.filter("`class` != 'Folder'")
    return folders, rest


def drop_null_geometry(features: DataFrame) -> DataFrame:
    """R6 (task.ts:97-100): features without geometry are dropped
    (SARTopo 'Operational Periods', CHANGELOG.md:130-132)."""
    return features.filter("geometry_type IS NOT NULL")


#: R7: every non-null source property (task.ts:107 copies the whole
#: property bag), keyed by its source spelling, in declared order
_METADATA = "map_filter(map({}), (k, v) -> v IS NOT NULL)".format(
    ", ".join(f"'{key}', CAST({col} AS STRING)" for key, col in PROPERTY_COLUMNS.items())
)
#: R13/R14: a Point carrying a marker colour
_HAS_MARKER = "geometry_type = 'Point' AND marker_color IS NOT NULL"


def to_input_features(features: DataFrame) -> DataFrame:
    """R7-R14 (task.ts:102-140): project each surviving feature into
    the TAK InputFeature shape.

    - callsign = String(title)                      (R8,  task.ts:113)
    - remarks  = description else ''                (R9,  task.ts:114; Q2→isNotNull)
    - style copies when present, with casts         (R10, task.ts:116-121)
    - icon-if-present (dead `ico` guard dropped)    (Q1,  task.ts:121)
    - coordinate truncation to <=3                  (R11, task.ts:123-126)
    - archived = true                               (R12, task.ts:128)
    - Point => type 'u-d-p'                         (R13, task.ts:129-130)
    - Point + marker-color: '#'-prefix, opacity 1,
      key deleted from metadata                     (R14, task.ts:132-136)
    - all source properties under metadata          (R7,  task.ts:107)
    - path = '/' + the title decode looked up in the
      feature's own envelope; null when the folderId
      is null or dangling (quirk Q5)                (R15, task.ts:142-152)
    """
    truncated = truncate_coordinates(features)
    scope = [c for c in ("share_id",) if c in truncated.columns]
    return truncated.selectExpr(
        *scope,
        "id",
        "'Feature' AS type",
        "CAST(title AS STRING) AS callsign",
        "coalesce(CAST(description AS STRING), '') AS remarks",
        "true AS archived",
        "CASE WHEN geometry_type = 'Point' THEN 'u-d-p' END AS cot_type",
        f"CASE WHEN {_HAS_MARKER} THEN concat('#', marker_color) END AS marker_color",
        f"CASE WHEN {_HAS_MARKER} THEN 1.0D END AS marker_opacity",
        "CAST(fill AS STRING) AS fill",
        "CAST(fill_opacity AS DOUBLE) AS fill_opacity",
        "CAST(stroke AS STRING) AS stroke",
        "CAST(stroke_opacity AS DOUBLE) AS stroke_opacity",
        "CAST(stroke_width AS DOUBLE) AS stroke_width",
        "CAST(icon AS STRING) AS icon",
        # R14: marker-color removed from the metadata copy for Points
        f"CASE WHEN {_HAS_MARKER}"
        f" THEN map_filter({_METADATA}, (k, v) -> k != 'marker-color')"
        f" ELSE {_METADATA} END AS metadata",
        "folder_id",
        "geometry_type",
        "geometry_json",
        "concat('/', folder_title) AS path",
    )


def attach_folder_paths(features: DataFrame, folders: DataFrame) -> DataFrame:
    """R15 (task.ts:142-152) against a separately held folder
    dimension, e.g. a stream joined to a static one: broadcast left
    lookup join, replacing the path :func:`to_input_features` took
    from the envelope's own lookup; matched rows get
    path='/'+folder.title, dangling or null folder ids keep a null
    path (quirk Q5).  In multi-map batches the join key includes the
    map scope (share_id) so folder ids never leak across maps.
    ``run_pipeline`` does not need it."""
    cond = features["folder_id"] == folders["folder_key"]
    drop_cols = ["folder_key", "folder_title"]
    if "share_id" in features.columns and "share_id" in folders.columns:
        scoped = folders.withColumnRenamed("share_id", "_folder_share")
        cond = (features["folder_id"] == scoped["folder_key"]) & (
            features["share_id"] == scoped["_folder_share"]
        )
        folders = scoped
        drop_cols.append("_folder_share")
    joined = broadcast_lookup_join(features, folders, cond, "left")
    return joined.withColumn(
        "path", F.concat(F.lit("/"), F.col("folder_title"))
    ).drop(*drop_cols)
