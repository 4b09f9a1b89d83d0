"""CalTopo domain layer — the Spark re-expression of the reference's
entire dataflow (/root/reference/task.ts:63-160):

    read (the ``caltopo`` data source: datasource, source) → typed
    decode and per-envelope folder lookup (decode) → transform, folder
    path included (transform) → sink (sink)

plus the schema-introspection Capabilities API (registry) and the
FIXTURES.md F1-F10 quirk-matrix builder (fixtures).
"""

from etl_caltopo_spark.caltopo.decode import decode_envelope
from etl_caltopo_spark.caltopo.pipeline import run_pipeline
from etl_caltopo_spark.caltopo.transform import split_folders, to_input_features

__all__ = [
    "decode_envelope",
    "split_folders",
    "to_input_features",
    "run_pipeline",
]
