"""Sinks (ref task.ts:154-159: POST the FeatureCollection to the
CloudTAK ETL API).

The default entry point is :func:`submit`, which dispatches on output
size: at reference scale (a map layer is O(10^2..10^4) features) it
mirrors the Lambda's single driver-side POST; beyond
``DRIVER_COLLECT_MAX`` features it switches to executor-side
per-partition POSTs (``foreach_partition_post``) so nothing large is
ever collected to the driver.  The parquet sink is the test/archive
path.
"""

from __future__ import annotations

import hashlib
import json
import time
import urllib.error
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

Poster = Callable[[str, str], None]

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


def to_feature_collection(df: DataFrame) -> dict:
    """Collect transformed rows into a GeoJSON FeatureCollection dict
    (the reference's submit payload shape, task.ts:154-157).  Only for
    reference-scale outputs — O(10^2..10^4) features per map."""
    return {
        "type": "FeatureCollection",
        "features": [_row_to_feature(r) for r in df.collect()],
    }


def post_feature_collection(df: DataFrame, url: str, poster: Poster) -> int:
    """Driver-side submit (R16).  Returns the feature count."""
    fc = to_feature_collection(df)
    poster(url, json.dumps(fc))
    return len(fc["features"])


def foreach_partition_post(df: DataFrame, url: str, poster: Poster) -> None:
    """Executor-side batched submit for large outputs: each partition
    POSTs its own FeatureCollection chunk — no driver collect."""

    def handle(rows) -> None:
        feats = [_row_to_feature(r) for r in rows]
        if feats:
            poster(url, json.dumps({"type": "FeatureCollection", "features": feats}))

    df.foreachPartition(handle)


def urllib_header_poster(url: str, body: str, headers: dict) -> None:
    """Stdlib default :data:`HeaderPoster`: POSTs the body with the
    given headers and RAISES on any non-2xx response (urllib's
    HTTPError), which is exactly what :func:`post_idempotent`'s retry
    loop needs.  Importable on executors (lives in the package, not in
    a test module), so it works under ``foreachPartition``."""
    from urllib.request import Request, urlopen

    req = Request(
        url, data=body.encode("utf-8"), headers=headers, method="POST"
    )
    with urlopen(req) as resp:
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


def foreach_partition_post_idempotent(
    df: DataFrame,
    url: str,
    poster: HeaderPoster,
    max_retries: int = 4,
    backoff_s: float = 0.05,
) -> None:
    """Executor-side batched submit with the redelivery contract: each
    partition POSTs its FeatureCollection chunk through
    :func:`post_idempotent`.  Features are CANONICALIZED (sorted by
    id) before serialization so a Spark task re-attempt — which
    re-runs the same partition but may iterate rows in a different
    order — still produces the byte-identical body and therefore the
    identical key: speculative execution and task retries cannot
    double-submit.  Residual (documented, not solved here): a
    non-deterministic UPSTREAM that changes partition MEMBERSHIP
    between attempts changes chunk contents — the same caveat every
    content-keyed sink carries; determinism of the feeding plan is
    the caller's contract (same rule as the rank operator's
    tiebreak-proxy clamp, HANDOFF r10 #2)."""

    def handle(rows) -> None:
        feats = sorted(
            (_row_to_feature(r) for r in rows), key=lambda f: str(f["id"])
        )
        if feats:
            body = json.dumps({"type": "FeatureCollection", "features": feats})
            post_idempotent(
                poster, url, body, max_retries=max_retries, backoff_s=backoff_s
            )

    df.foreachPartition(handle)


DRIVER_COLLECT_MAX = 10_000


def _dispatch_on_count(
    df: DataFrame,
    driver_collect_max: int,
    post_driver: Callable[[DataFrame], None],
    post_partitions: Callable[[DataFrame], None],
) -> int:
    """Count ``df``, then POST it from the driver (at most
    ``driver_collect_max`` features) or from the executors.  The frame
    is persisted around the count, so both the count and the POSTs
    read the source once: without the cache the POST would re-fetch
    and re-decode every map.  A frame the caller already persisted is
    left as it is.  Returns the feature count."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.persist()
    try:
        n = df.count()
        if n <= driver_collect_max:
            post_driver(df)
        else:
            post_partitions(df)
        return n
    finally:
        if owned:
            df.unpersist()


def submit(
    df: DataFrame,
    url: str,
    poster: Poster,
    driver_collect_max: int = DRIVER_COLLECT_MAX,
) -> int:
    """Default sink (R16, task.ts:154-159).  The feature count decides
    the path: at-or-below ``driver_collect_max`` features, a single
    driver-side POST (reference-faithful — the Lambda also submits the
    whole collection at once); above it, executor-side per-partition
    POSTs so the payload never materializes on the driver.  The source
    is read once for both the count and the POSTs.  Returns the
    feature count either way."""
    return _dispatch_on_count(
        df,
        driver_collect_max,
        lambda d: post_feature_collection(d, url, poster),
        lambda d: foreach_partition_post(d, url, poster),
    )


def submit_idempotent(
    df: DataFrame,
    url: str,
    poster: HeaderPoster,
    driver_collect_max: int = DRIVER_COLLECT_MAX,
    max_retries: int = 4,
    backoff_s: float = 0.05,
) -> int:
    """:func:`submit` with the redelivery contract on BOTH paths
    (VERDICT r11 #3): the driver-side single POST and the executor-side
    per-partition POSTs all go through :func:`post_idempotent` —
    content-keyed idempotency plus bounded exponential-backoff retries.
    Use this form against any real endpoint; plain :func:`submit`
    stays for fire-and-forget test posters."""

    def post_driver(d: DataFrame) -> None:
        fc = to_feature_collection(d)
        # canonicalize exactly like the partition path (ADVICE r12):
        # collect() order is not deterministic across re-runs, and a
        # reordered body would change the content-derived key — a
        # redelivered batch must serialize byte-identically on BOTH
        # dispatch paths for the contract to hold
        fc["features"].sort(key=lambda f: str(f["id"]))
        post_idempotent(
            poster, url, json.dumps(fc), max_retries=max_retries, backoff_s=backoff_s
        )

    return _dispatch_on_count(
        df,
        driver_collect_max,
        post_driver,
        lambda d: foreach_partition_post_idempotent(
            d, url, poster, max_retries=max_retries, backoff_s=backoff_s
        ),
    )
