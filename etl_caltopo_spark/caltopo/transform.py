"""The feature transform stage (ref task.ts:93-152).

Reference execution order, each step cited; null-semantics quirks
resolved per SURVEY §1.5 (uniform ``isNotNull``; absent ≡ null).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.geometry import truncate_coordinates
from etl_caltopo_spark.operators.joins import broadcast_lookup_join

#: properties carried into the metadata map (R7: everything under
#: properties.metadata — task.ts:107 copies the whole source property
#: bag; keys use the source spelling)
_METADATA_FIELDS = {
    "title": "title",
    "description": "description",
    "class": "class",
    "creator": "creator",
    "updated": "updated",
    "marker-symbol": "marker_symbol",
    "marker-rotation": "marker_rotation",
    "marker-color": "marker_color",
    "marker-size": "marker_size",
    "stroke": "stroke",
    "stroke-opacity": "stroke_opacity",
    "stroke-width": "stroke_width",
    "pattern": "pattern",
    "fill": "fill",
    "fill-opacity": "fill_opacity",
    "folderId": "folder_id",
    "visible": "visible",
    "labelVisible": "label_visible",
    "icon": "icon",
}


def split_folders(features: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Partition-by-predicate (R5, task.ts:90,93-96): Folder rows
    become the dimension; all others continue.  Folder rows are
    CONSUMED — never emitted (quirk Q5).

    When the batch spans multiple maps (a ``share_id`` column is
    present), the folder dimension keeps the map scope: the reference
    runs one map per invocation (CHANGELOG.md:63), so folder ids are
    only meaningful within their own map.
    """
    scope = [c for c in ("share_id",) if c in features.columns]
    folders = features.filter(F.col("class") == "Folder").select(
        *scope,
        F.col("id").alias("folder_key"),
        F.col("title").alias("folder_title"),
    )
    rest = features.filter(F.col("class") != "Folder")
    return folders, rest


def drop_null_geometry(features: DataFrame) -> DataFrame:
    """R6 (task.ts:97-100): features without geometry are dropped
    (SARTopo 'Operational Periods', CHANGELOG.md:130-132)."""
    return features.filter(F.col("geometry_type").isNotNull())


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
    is_point = F.col("geometry_type") == "Point"
    has_marker = is_point & F.col("marker_color").isNotNull()

    metadata_entries = []
    for key, col_name in _METADATA_FIELDS.items():
        metadata_entries += [F.lit(key), F.col(col_name).cast("string")]
    metadata = F.map_filter(
        F.create_map(*metadata_entries), lambda k, v: v.isNotNull()
    )
    # R14: marker-color removed from the metadata copy for Points
    metadata = F.when(
        has_marker, F.map_filter(metadata, lambda k, v: k != F.lit("marker-color"))
    ).otherwise(metadata)

    scope = [c for c in ("share_id",) if c in truncated.columns]
    return truncated.select(
        *scope,
        "id",
        F.lit("Feature").alias("type"),
        F.col("title").cast("string").alias("callsign"),
        F.coalesce(F.col("description").cast("string"), F.lit("")).alias("remarks"),
        F.lit(True).alias("archived"),
        F.when(is_point, F.lit("u-d-p")).alias("cot_type"),
        F.when(has_marker, F.concat(F.lit("#"), F.col("marker_color"))).alias(
            "marker_color"
        ),
        F.when(has_marker, F.lit(1.0)).alias("marker_opacity"),
        F.when(F.col("fill").isNotNull(), F.col("fill").cast("string")).alias("fill"),
        F.when(
            F.col("fill_opacity").isNotNull(), F.col("fill_opacity").cast("double")
        ).alias("fill_opacity"),
        F.when(F.col("stroke").isNotNull(), F.col("stroke").cast("string")).alias(
            "stroke"
        ),
        F.when(
            F.col("stroke_opacity").isNotNull(), F.col("stroke_opacity").cast("double")
        ).alias("stroke_opacity"),
        F.when(
            F.col("stroke_width").isNotNull(), F.col("stroke_width").cast("double")
        ).alias("stroke_width"),
        F.when(F.col("icon").isNotNull(), F.col("icon").cast("string")).alias("icon"),
        metadata.alias("metadata"),
        "folder_id",
        "geometry_type",
        "geometry_json",
        F.concat(F.lit("/"), F.col("folder_title")).alias("path"),
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
