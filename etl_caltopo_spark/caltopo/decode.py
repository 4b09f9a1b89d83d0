"""Typed decode of the CalTopo API envelope (ref task.ts:71-92).

``from_json`` against the declared envelope schema is the analog of
the reference's ``res.typed(schema)``: FAILFAST mode throws on
mismatch (task.ts throws), PERMISSIVE degrades to nulls.  The ragged
``geometry.coordinates`` subtree (Type.Any(), task.ts:81) is captured
as raw JSON text by declaring it StringType — Spark's JSON parser
re-serializes non-string tokens, so no information is lost and the
typed re-parse happens only in the geometry operators.

Then the nested-field drill + explode (task.ts:92): one row per
feature, properties flattened to the FIXTURES.md A.2 working schema,
plus ``folder_title``: the title of the feature's folder, looked up in
a folder map built from the same envelope (task.ts:90,142-152).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.schemas import ENVELOPE_SCHEMA


def decode_envelope(
    envelopes: DataFrame, body_col: str = "body_json", strict: bool = True
) -> DataFrame:
    """Envelope JSON strings → flat per-feature rows.

    Input: any DataFrame with a JSON string column (one envelope per
    row — the reference processes exactly one per invocation, the
    engine takes any number).
    Output: the flat ``caltopo_features`` working table.

    ``strict=True`` reproduces the reference's throw-on-mismatch
    (res.typed, task.ts:71): from_json's FAILFAST only rejects
    *malformed* JSON — well-formed JSON missing required envelope
    fields parses to nulls — so an ``assert_true`` guard raises at
    execution time when the envelope shape is wrong.  ``strict=False``
    is the PERMISSIVE mode: bad envelopes yield zero feature rows.
    """
    parsed = envelopes.withColumn(
        "_env",
        F.from_json(F.col(body_col), ENVELOPE_SCHEMA, {"mode": "FAILFAST"}),
    )
    if strict:
        valid = (
            F.col("_env").isNotNull()
            & F.col("_env.result.state.features").isNotNull()
            & (F.col("_env.result.state.type") == "FeatureCollection")
        )
        # the guard must run per input row BEFORE explode (a null
        # features array would otherwise emit zero rows and never
        # evaluate the assertion): assert_true returns null on
        # success, so isNull() is an always-true filter that throws on
        # invalid envelopes.
        parsed = parsed.filter(
            F.assert_true(
                valid,
                F.concat(F.lit("envelope failed schema validation: "), F.col(body_col)),
            ).isNull()
        )
    else:
        parsed = parsed.filter(F.col("_env.result.state.features").isNotNull())
    ts_col = F.col("_env.result.timestamp")
    # carry the envelope identity (map/share id) into its feature rows
    carry = [c for c in ("share_id",) if c in envelopes.columns]
    # the folder lookup gets its own projection so that it is computed
    # once per envelope BELOW the Generate: in the explode's select,
    # Spark would evaluate it above the Generate, carrying the whole
    # features array into every exploded row
    parsed = parsed.withColumn(
        "_folders", _folder_lookup(F.col("_env.result.state.features"))
    )
    feats = parsed.select(
        *carry,
        ts_col.alias("state_timestamp"),
        "_folders",
        F.explode("_env.result.state.features").alias("f"),
    )
    p = "f.properties"
    return feats.select(
        *carry,
        F.col("f.id").alias("id"),
        F.col(f"{p}.class").alias("class"),
        F.col(f"{p}.title").alias("title"),
        F.col(f"{p}.description").alias("description"),
        F.col(f"{p}.creator").alias("creator"),
        F.col(f"{p}.updated").alias("updated"),
        F.col(f"{p}.marker-symbol").alias("marker_symbol"),
        F.col(f"{p}.marker-rotation").alias("marker_rotation"),
        F.col(f"{p}.marker-color").alias("marker_color"),
        F.col(f"{p}.marker-size").alias("marker_size"),
        F.col(f"{p}.stroke").alias("stroke"),
        F.col(f"{p}.stroke-opacity").alias("stroke_opacity"),
        F.col(f"{p}.stroke-width").alias("stroke_width"),
        F.col(f"{p}.pattern").alias("pattern"),
        F.col(f"{p}.fill").alias("fill"),
        F.col(f"{p}.fill-opacity").alias("fill_opacity"),
        F.col(f"{p}.folderId").alias("folder_id"),
        F.col(f"{p}.visible").alias("visible"),
        F.col(f"{p}.labelVisible").alias("label_visible"),
        F.col(f"{p}.icon").alias("icon"),
        F.col("f.geometry.type").alias("geometry_type"),
        F.col("f.geometry.coordinates").alias("geometry_json"),
        F.col("_folders")[F.col(f"{p}.folderId")].alias("folder_title"),
        "state_timestamp",
    )


def _folder_lookup(features: Column) -> Column:
    """The envelope's folder id → title map (task.ts:90), built from
    its own ``features`` array, so folder ids never leak across maps.
    A repeated id keeps its LAST Folder, as JS ``Map.set`` does
    (``map_from_entries`` would raise on the duplicate key instead).
    Folders without an id match nothing."""
    folders = F.filter(
        features,
        lambda f: (f["properties"]["class"] == "Folder") & f["id"].isNotNull(),
    )
    return F.aggregate(
        folders,
        F.create_map().cast("map<string,string>"),
        lambda acc, f: F.map_concat(
            F.map_filter(acc, lambda k, _: k != f["id"]),
            F.create_map(f["id"], f["properties"]["title"]),
        ),
    )
