"""The CalTopo transform in streaming mode: envelope files arrive as
a stream; the identical decode → transform chain runs incrementally.
``run_pipeline`` resolves folder paths inside each envelope, so it runs
on a stream as it is; ``attach_folder_paths`` joins a stream to a
static folder dimension."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.decode import decode_envelope
from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_json
from etl_caltopo_spark.caltopo.pipeline import run_pipeline
from etl_caltopo_spark.caltopo.transform import (
    attach_folder_paths,
    drop_null_geometry,
    split_folders,
    to_input_features,
)


def test_streaming_envelope_pipeline(spark, tmp_path):
    src = tmp_path / "envelopes"
    src.mkdir()
    # two envelope arrivals (same fixture map twice, distinct share ids)
    for i in range(2):
        df = spark.createDataFrame(
            [(f"share-{i}", fixture_envelope_json())],
            "share_id string, body_json string",
        )
        df.coalesce(1).write.mode("append").parquet(str(src))

    # static folder dimension from the batch view of the same source
    batch_feats = decode_envelope(spark.read.parquet(str(src)))
    folders, _ = split_folders(batch_feats)

    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    feats = decode_envelope(stream)
    _, rest = split_folders(feats)
    shaped = to_input_features(drop_null_geometry(rest))
    out = attach_folder_paths(
        shaped, folders.dropDuplicates(["share_id", "folder_key"])
    )

    q = (
        out.writeStream.format("memory")
        .queryName("ct_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("ct_stream").collect()
    # 14 surviving features per envelope x 2 envelopes
    assert len(rows) == 28
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append(r)
    assert len(by_id["F5"]) == 2
    assert all(r["path"] == "/Team Alpha" for r in by_id["F5"])
    assert all(r["cot_type"] == "u-d-p" for r in by_id["F1"])
    assert json.loads(by_id["F4a"][0]["geometry_json"]) == [1.0, 2.0, 100.0]


def test_run_pipeline_on_a_stream(spark, tmp_path):
    """run_pipeline itself over readStream: no stream-stream join, so
    no watermark is needed, and each envelope's folders resolve."""
    src = tmp_path / "envelopes"
    src.mkdir()
    for i in range(2):
        spark.createDataFrame(
            [(f"share-{i}", fixture_envelope_json())],
            "share_id string, body_json string",
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    q = (
        run_pipeline(stream).writeStream.format("memory")
        .queryName("ct_stream_pipeline")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("ct_stream_pipeline").collect()
    assert len(rows) == 28
    f5 = [r for r in rows if r["id"] == "F5"]
    assert len(f5) == 2
    assert all(r["path"] == "/Team Alpha" for r in f5)
