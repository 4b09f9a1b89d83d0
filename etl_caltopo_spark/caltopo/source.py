"""CalTopo HTTP source adapter (ref task.ts:64-70).

The reference builds ``/api/v1/map/{ShareId}/since/{-500}`` and GETs
it once per scheduled invocation.  Here the ``caltopo`` data source
(``datasource``) is the one reader: its batch partitions and stream
micro-batches GET their maps through :func:`fetch_all`, one small
envelope per map, exactly like the reference.  The batch delta window
is the source's ``since`` option; a stream keeps its offset (the last
server timestamp per map) in its checkpoint.
"""

from __future__ import annotations

from etl_caltopo_spark.caltopo.schemas import ENV_DEFAULTS, ENV_SCHEMA

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


def fetch_all(urls: list[str]) -> list[str]:
    """GET every url in order and return the bodies; the first failed
    GET raises.  The one fetch loop of the batch source's partitions
    and the stream source's micro-batches."""
    from urllib.request import urlopen

    bodies = []
    for url in urls:
        with urlopen(url, timeout=HTTP_TIMEOUT_S) as resp:
            bodies.append(resp.read().decode("utf-8"))
    return bodies
