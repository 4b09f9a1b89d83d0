"""Typed decode of the CalTopo API envelope (ref task.ts:71-92).

``from_json`` against the declared envelope schema is the analog of
the reference's ``res.typed(schema)``: FAILFAST mode throws on
mismatch (task.ts throws), PERMISSIVE degrades to nulls.  The ragged
``geometry.coordinates`` subtree (Type.Any(), task.ts:81) is captured
as raw JSON text by declaring it StringType — Spark's JSON parser
re-serializes non-string tokens, so no information is lost; the
geometry operator cuts that text without parsing it.

Then the nested-field drill + explode (task.ts:92): one row per
feature, properties flattened to the FIXTURES.md A.2 working schema,
plus ``folder_title``: the title of the feature's folder, looked up in
a folder map built from the same envelope (task.ts:90,142-152).

Each projection and filter after ``from_json`` is one
``selectExpr``/``filter`` over SQL expression text, parsed and
analysed in the JVM.  Built from ``pyspark.sql.functions`` Columns
instead, every ``F.col``/``F.lit``/lambda costs several py4j round
trips (PySpark's ``_with_origin`` call-site capture), and the chain
from decode to transform took ~2,600 of them, ~0.5-0.9 s per build,
on every submit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.schemas import ENVELOPE_SCHEMA, PROPERTY_COLUMNS

#: the envelope's folder id → title map (task.ts:90), built from its
#: own ``features`` array, so folder ids never leak across maps.  A
#: repeated id keeps its LAST Folder, as JS ``Map.set`` does
#: (``map_from_entries`` would raise on the duplicate key instead).
#: Folders without an id match nothing.
_FOLDER_LOOKUP = """aggregate(
    filter(_env.result.state.features,
           f -> f.properties.`class` = 'Folder' AND f.id IS NOT NULL),
    CAST(map() AS map<string,string>),
    (acc, f) -> map_concat(map_filter(acc, (k, v) -> k != f.id),
                           map(f.id, f.properties.title)))"""


def _quote(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


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
    body = _quote(body_col)
    parsed = envelopes.withColumn(
        "_env", F.from_json(F.col(body), ENVELOPE_SCHEMA, {"mode": "FAILFAST"})
    )
    if strict:
        # the guard must run per input row BEFORE explode (a null
        # features array would otherwise emit zero rows and never
        # evaluate the assertion): assert_true returns null on
        # success, so IS NULL is an always-true filter that throws on
        # invalid envelopes.
        parsed = parsed.filter(
            "assert_true(_env IS NOT NULL"
            " AND _env.result.state.features IS NOT NULL"
            " AND _env.result.state.type = 'FeatureCollection',"
            f" concat('envelope failed schema validation: ', {body}))"
            " IS NULL"
        )
    else:
        parsed = parsed.filter("_env.result.state.features IS NOT NULL")
    # carry the envelope identity (map/share id) into its feature rows
    carry = [c for c in ("share_id",) if c in envelopes.columns]
    # the folder lookup gets its own projection so that it is computed
    # once per envelope BELOW the Generate: in the explode's select,
    # Spark would evaluate it above the Generate, carrying the whole
    # features array into every exploded row
    feats = parsed.selectExpr("*", f"{_FOLDER_LOOKUP} AS _folders").selectExpr(
        *carry,
        "_env.result.timestamp AS state_timestamp",
        "_folders",
        "explode(_env.result.state.features) AS f",
    )
    return feats.selectExpr(
        *carry,
        "f.id AS id",
        # a property absent from the envelope is null (quirk Q3)
        *(
            f"f.properties.{_quote(prop)} AS {col}"
            for prop, col in PROPERTY_COLUMNS.items()
        ),
        "f.geometry.type AS geometry_type",
        "f.geometry.coordinates AS geometry_json",
        "_folders[f.properties.folderId] AS folder_title",
        "state_timestamp",
    )
