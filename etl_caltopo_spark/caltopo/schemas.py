"""Declared schemas for the CalTopo dataflow.

The reference declares these as TypeBox schemas enforced at runtime
(/root/reference/task.ts:8-41, 71-86).  Here they are StructTypes:
``from_json`` enforces them at decode time (FAILFAST = the reference's
throw-on-mismatch; PERMISSIVE = lenient mode).

Geometry is ``Type.Any()`` in the reference (task.ts:81) — Spark needs
fixed shapes, so geometry is carried as ``geometry_type`` (string) +
``geometry_json`` (raw coordinates JSON), cut as text by the geometry
operator and parsed by the sink (SURVEY §7.4).
"""

from __future__ import annotations

import re

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: job config — the reference's Env (task.ts:8-16): required ShareId,
#: DEBUG boolean defaulting false.
ENV_SCHEMA = StructType(
    [
        StructField("ShareId", StringType(), False),
        StructField("DEBUG", BooleanType(), True),
    ]
)

ENV_DEFAULTS = {"DEBUG": False}

#: per-feature properties — the reference's Output (task.ts:18-41).
#: Optional(Union(T, Null)) collapses to nullable (quirk Q3: absent ≡ null).
OUTPUT_PROPERTIES_SCHEMA = StructType(
    [
        StructField("title", StringType(), False),
        StructField("description", StringType(), True),
        StructField("class", StringType(), False),
        StructField("creator", StringType(), False),
        StructField("updated", LongType(), False),  # epoch millis (task.ts:23)
        StructField("marker-symbol", StringType(), True),
        StructField("marker-rotation", StringType(), True),
        StructField("marker-color", StringType(), True),  # hex WITHOUT '#'
        StructField("marker-size", StringType(), True),
        StructField("stroke", StringType(), True),
        StructField("stroke-opacity", DoubleType(), True),
        StructField("stroke-width", DoubleType(), True),
        StructField("pattern", StringType(), True),
        StructField("fill", StringType(), True),
        StructField("fill-opacity", DoubleType(), True),
        StructField("folderId", StringType(), True),
        StructField("visible", BooleanType(), True),
        StructField("labelVisible", BooleanType(), True),
        StructField("icon", StringType(), True),  # quirk Q1: icon-if-present
    ]
)

#: source property → its flat working column, in declared order (the
#: order of every body's ``metadata`` keys): ``marker-color`` →
#: ``marker_color``, ``folderId`` → ``folder_id``
PROPERTY_COLUMNS = {
    name: re.sub(r"(?<=[a-z])([A-Z])", r"_\1", name).replace("-", "_").lower()
    for name in OUTPUT_PROPERTIES_SCHEMA.fieldNames()
}

#: geometry carrier: type tag + raw coordinates JSON (Type.Any() analog)
GEOMETRY_SCHEMA = StructType(
    [
        StructField("type", StringType(), True),
        StructField("coordinates", StringType(), True),  # raw JSON
    ]
)

#: one feature as decoded from the API state (task.ts:77-82)
FEATURE_SCHEMA = StructType(
    [
        StructField("id", StringType(), False),
        StructField("type", StringType(), True),  # literal 'Feature' (task.ts:79)
        StructField("properties", OUTPUT_PROPERTIES_SCHEMA, False),
        StructField("geometry", GEOMETRY_SCHEMA, True),
    ]
)

#: the full API response envelope (task.ts:71-86)
ENVELOPE_SCHEMA = StructType(
    [
        StructField("status", StringType(), False),
        StructField("timestamp", LongType(), False),
        StructField(
            "result",
            StructType(
                [
                    StructField(
                        "state",
                        StructType(
                            [
                                StructField("type", StringType(), False),
                                StructField("features", ArrayType(FEATURE_SCHEMA), False),
                            ]
                        ),
                        False,
                    ),
                    StructField("timestamp", LongType(), False),
                ]
            ),
            False,
        ),
    ]
)
