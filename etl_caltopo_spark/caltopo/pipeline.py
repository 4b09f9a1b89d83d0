"""End-to-end CalTopo pipeline composition (ref task.ts:63-160).

read (the ``caltopo`` source) → decode (with each envelope's folder
lookup) → split folders → drop null geometry → transform.  Everything
between read and sink is one lazy DataFrame chain over a single scan of
the source: the folder path comes from a lookup decode builds from each
envelope's own features (task.ts:90,142-152), so there is no join, no
exchange and no second read, and the chain runs unchanged on a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from etl_caltopo_spark.caltopo.datasource import register
from etl_caltopo_spark.caltopo.decode import decode_envelope
from etl_caltopo_spark.caltopo.source import BASE_URL, validate_env
from etl_caltopo_spark.caltopo.transform import (
    drop_null_geometry,
    split_folders,
    to_input_features,
)


def run_pipeline(envelopes: DataFrame) -> DataFrame:
    """Envelope JSON rows → transformed InputFeature rows."""
    _, rest = split_folders(decode_envelope(envelopes))
    return to_input_features(drop_null_geometry(rest))


def run_from_api(
    spark: SparkSession,
    env: dict,
    since: int = -500,
    base_url: str = BASE_URL,
) -> DataFrame:
    """The reference's control() flow (task.ts:63-160): validate env,
    read the map delta through the ``caltopo`` source, run the
    transform pipeline.  Submit the result with
    ``sink.submit_idempotent`` (one POST per map from the driver) or,
    beyond what the driver may collect,
    ``sink.features_json(df).repartition("share_id")
    .write.format("caltopo")``, which posts the same bodies."""
    cfg = validate_env(env)
    register(spark)
    envelopes = (
        spark.read.format("caltopo")
        .option("shareIds", cfg["ShareId"])
        .option("since", since)
        .option("baseUrl", base_url)
        .load()
    )
    return run_pipeline(envelopes)
