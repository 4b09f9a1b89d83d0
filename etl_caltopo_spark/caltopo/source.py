"""CalTopo HTTP source adapter (ref task.ts:64-70).

The reference builds ``/api/v1/map/{ShareId}/since/{-500}`` and GETs
it once per scheduled invocation.  Here:

- the fetch itself is driver-side and injectable (tests pass a fake
  fetcher; production passes urllib/requests) — one small envelope
  per map, exactly like the reference;
- incremental state generalizes the server-side ``since`` window:
  a high-watermark (max ``updated``) persisted between batch runs
  (SURVEY §4.2 — Spark batch is stateless, the watermark file is the
  offset store).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.schemas import ENV_DEFAULTS, ENV_SCHEMA

Fetcher = Callable[[str], str]

BASE_URL = "https://caltopo.com"

#: seconds an HTTP call waits for the server, for the map GETs and the
#: sink POSTs alike; read at call time
HTTP_TIMEOUT_S = 30.0


def validate_env(env: dict) -> dict:
    """R1 (task.ts:8-16,64): validate job config against the declared
    schema; apply defaults (DEBUG=false)."""
    merged = {**ENV_DEFAULTS, **env}
    for field in ENV_SCHEMA.fields:
        if not field.nullable and field.name not in merged:
            raise ValueError(f"missing required env field: {field.name}")
    share_id = merged["ShareId"]
    if not isinstance(share_id, str) or not share_id:
        raise ValueError("ShareId must be a non-empty string")
    if not isinstance(merged["DEBUG"], bool):
        raise ValueError("DEBUG must be a boolean")
    return merged


def map_state_url(share_id: str, since: int = -500, base_url: str = BASE_URL) -> str:
    """task.ts:68 — the delta-window URL."""
    return f"{base_url}/api/v1/map/{share_id}/since/{since}"


def default_fetcher(url: str) -> str:
    from urllib.request import urlopen

    with urlopen(url, timeout=HTTP_TIMEOUT_S) as resp:
        return resp.read().decode("utf-8")


def fetch_envelopes(
    spark: SparkSession,
    share_ids: list[str],
    since: int = -500,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """GET each map's state and wrap the raw bodies as a DataFrame
    (``share_id``, ``body_json``).  One row per map: the fan-out
    across thousands of maps is rows, not driver loops downstream."""
    fetcher = fetcher or default_fetcher
    rows = [(sid, fetcher(map_state_url(sid, since))) for sid in share_ids]
    return spark.createDataFrame(rows, "share_id string, body_json string")


def envelopes_from_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """Batch-file source: one envelope JSON per line (the archived /
    replayed form of the HTTP fetch).  Returns the same
    (share_id, body_json) shape as :func:`fetch_envelopes`, so the
    pipeline is source-agnostic."""
    lines = spark.read.text(path)
    return lines.select(
        F.get_json_object("value", "$.share_id").alias("share_id"),
        F.get_json_object("value", "$.body").alias("body_json"),
    )


def load_watermark(path: str) -> int:
    """Last processed ``updated`` epoch-millis (0 if none)."""
    if not os.path.exists(path):
        return 0
    with open(path) as f:
        return int(json.load(f)["high_watermark"])


def save_watermark(path: str, high_watermark: int) -> None:
    with open(path, "w") as f:
        json.dump({"high_watermark": int(high_watermark)}, f)
