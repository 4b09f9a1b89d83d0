"""Sink (ref task.ts:154-159: POST the FeatureCollection to the
CloudTAK ETL API).

Every POST goes through :func:`post_rows`: the rows become one
canonical FeatureCollection (features sorted by id) sent through
:func:`post_idempotent`, so each body carries a content-derived
``Idempotency-Key`` and failed attempts retry a bounded number of
times.  :func:`submit_idempotent` is the entry point and dispatches on
output size: at reference scale (a map layer is O(10^2..10^4)
features) it mirrors the Lambda's single driver-side POST; beyond
``DRIVER_COLLECT_MAX`` features each partition POSTs its own chunk, so
nothing large is ever collected to the driver.  The ``caltopo`` write
format (``datasource.CalTopoWriter``) posts each partition the same
way.
"""

from __future__ import annotations

import hashlib
import json
import time
import urllib.error
from collections.abc import Callable, Iterable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from etl_caltopo_spark.caltopo import source

#: header-carrying poster: (url, body, headers) -> None; MUST raise on
#: a non-success response so the retry loop can see the failure
HeaderPoster = Callable[[str, str, dict], None]

#: the idempotency header the retry contract rides on (the HTTP
#: convention stripe/payment APIs standardized; any echo-once server
#: key works)
IDEMPOTENCY_HEADER = "Idempotency-Key"


def _row_to_feature(row) -> dict:
    props = {
        "callsign": row["callsign"],
        "remarks": row["remarks"],
        "archived": row["archived"],
        "metadata": dict(row["metadata"]) if row["metadata"] is not None else {},
    }
    for src, dst in [
        ("cot_type", "type"),
        ("marker_color", "marker-color"),
        ("marker_opacity", "marker-opacity"),
        ("fill", "fill"),
        ("fill_opacity", "fill-opacity"),
        ("stroke", "stroke"),
        ("stroke_opacity", "stroke-opacity"),
        ("stroke_width", "stroke-width"),
        ("icon", "icon"),
    ]:
        if row[src] is not None:
            props[dst] = row[src]
    if row["path"] is not None:
        props["path"] = row["path"]
    geometry = None
    if row["geometry_type"] is not None:
        geometry = {
            "type": row["geometry_type"],
            "coordinates": json.loads(row["geometry_json"]),
        }
    return {
        "id": row["id"],
        "type": "Feature",
        "properties": props,
        "geometry": geometry,
    }


def to_feature_collection(rows: Iterable) -> dict:
    """Transformed rows → the canonical GeoJSON FeatureCollection dict
    (the reference's submit payload shape, task.ts:154-157).  Features
    are sorted by id: a re-run that meets the same rows in another
    order (``collect()`` order, a Spark task re-attempt) serializes the
    byte-identical body and so carries the identical idempotency key."""
    return {
        "type": "FeatureCollection",
        "features": sorted(
            (_row_to_feature(r) for r in rows), key=lambda f: str(f["id"])
        ),
    }


def post_rows(rows: Iterable, url: str, poster: HeaderPoster, **retry) -> int:
    """POST ``rows`` as one canonical FeatureCollection through
    :func:`post_idempotent` (``retry`` is passed on to it).  Every sink
    path posts through here: the driver-side submit, the per-partition
    submit and the ``caltopo`` writer.  Returns the feature count."""
    fc = to_feature_collection(rows)
    post_idempotent(poster, url, json.dumps(fc), **retry)
    return len(fc["features"])


def urllib_header_poster(url: str, body: str, headers: dict) -> None:
    """Stdlib default :data:`HeaderPoster`: POSTs the body with the
    given headers and RAISES on any non-2xx response (urllib's
    HTTPError), which is exactly what :func:`post_idempotent`'s retry
    loop needs.  Importable on executors (lives in the package, not in
    a test module), so it works under ``foreachPartition``.  A sink
    that never answers raises after ``source.HTTP_TIMEOUT_S``, so the
    retries still run."""
    from urllib.request import Request, urlopen

    req = Request(
        url, data=body.encode("utf-8"), headers=headers, method="POST"
    )
    with urlopen(req, timeout=source.HTTP_TIMEOUT_S) as resp:
        resp.read()


def idempotency_key(body: str) -> str:
    """Content-derived idempotency key: sha256 of the exact payload
    bytes.  A RE-DELIVERED batch (foreachBatch replay, a retry after a
    response was lost, a Spark task re-attempt re-running the same
    partition) serializes the identical body and therefore carries the
    identical key — the server collapses it, exactly as the
    epoch-keyed parquet sink collapses a replayed epoch directory
    (streaming/ingest.epoch_overwrite_writer)."""
    return hashlib.sha256(body.encode("utf-8")).hexdigest()


def post_idempotent(
    poster: HeaderPoster,
    url: str,
    body: str,
    max_retries: int = 4,
    backoff_s: float = 0.05,
    sleep: Callable[[float], None] = time.sleep,
) -> str:
    """Bounded-retry POST carrying a content-derived
    ``Idempotency-Key`` — the HTTP-sink redelivery contract
    (VERDICT r11 #3), mirroring the epoch-keyed parquet sink's story:

    - the SAME key is sent on every attempt, so a retry after a
      lost/ambiguous response cannot double-submit on a server that
      honors the key (at-least-once POST + server-side key dedup =
      exactly-once effect);
    - retries are BOUNDED (``max_retries`` re-attempts with
      exponential backoff starting at ``backoff_s``), and the last
      error propagates — an unreachable endpoint fails the job loudly
      instead of retrying forever inside an executor.

    Returns the key so callers/tests can correlate submissions."""
    key = idempotency_key(body)
    headers = {IDEMPOTENCY_HEADER: key, "Content-Type": "application/json"}
    attempt = 0
    while True:
        try:
            poster(url, body, headers)
            return key
        except Exception as exc:
            # deterministic 4xx client errors (bad payload, auth,
            # too-large) fail identically on every retry — surface
            # them NOW instead of after the full backoff schedule
            # inside an executor; 408 (timeout) and 429 (throttle)
            # are the transient exceptions and stay retryable
            # (ADVICE r12).  The check is TYPE-narrowed to HTTPError
            # (ADVICE r13): a custom poster's library exception that
            # happens to carry an int `.code` in [400,500) must not be
            # misread as a deterministic client error and skip retries.
            if (
                isinstance(exc, urllib.error.HTTPError)
                and isinstance(exc.code, int)
                and 400 <= exc.code < 500
                and exc.code not in (408, 429)
            ):
                raise
            if attempt >= max_retries:
                raise
            sleep(backoff_s * (2**attempt))
            attempt += 1


DRIVER_COLLECT_MAX = 10_000


def submit_idempotent(
    df: DataFrame,
    url: str,
    poster: HeaderPoster,
    driver_collect_max: int = DRIVER_COLLECT_MAX,
    max_retries: int = 4,
    backoff_s: float = 0.05,
) -> int:
    """The sink (R16, task.ts:154-159).  The feature count decides the
    path: at-or-below ``driver_collect_max`` features, a single
    driver-side POST (reference-faithful — the Lambda also submits the
    whole collection at once); above it, each partition POSTs its own
    chunk so the payload never materializes on the driver.  Every POST
    goes through :func:`post_rows`.  The frame is persisted around the
    count, so the count and the POSTs read the source once: without
    the cache the POSTs would re-fetch and re-decode every map.  A
    frame the caller already persisted is left as it is.  Determinism
    of the feeding plan is the caller's contract: an upstream that
    changes partition membership between task attempts changes chunk
    contents, and so their keys.  Returns the feature count."""
    retry = {"max_retries": max_retries, "backoff_s": backoff_s}

    def post_partition(rows) -> None:
        rows = list(rows)
        if rows:
            post_rows(rows, url, poster, **retry)

    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.persist()
    try:
        n = df.count()
        if n <= driver_collect_max:
            post_rows(df.collect(), url, poster, **retry)
        else:
            df.foreachPartition(post_partition)
        return n
    finally:
        if owned:
            df.unpersist()
