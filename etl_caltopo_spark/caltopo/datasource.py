"""CalTopo as a first-class Spark data source (Python DataSource API,
Spark 4).

Generalizes the reference's single-map scheduled fetch
(`/root/reference/task.ts:46,64-70`) into the two Spark-native source
forms:

- **batch**: ``spark.read.format("caltopo").option("shareIds",
  "a,b,c")`` — the maps are packed into at most one InputPartition
  per read slot (``defaultParallelism``, captured by :func:`register`),
  the way Spark's file sources pack small files, so the HTTP fetches
  run on EXECUTORS in parallel and each task pays one Python crossing
  whatever its map count.  Inside a partition the GETs run one after
  another (``source.fetch_all``).  A CloudTAK deployment with
  thousands of layers becomes one scan instead of a driver-side loop;
  Spark's scheduler owns retry/locality/backpressure.  The trade-off
  of packing: a failed GET fails its task, and the re-attempt
  re-fetches every map of that partition, not just the failed one.
  The sink still posts one FeatureCollection per map
  (``sink.post_maps``), so packing changes neither a POST's size nor
  its idempotency key.
- **streaming**: ``spark.readStream.format("caltopo")`` — a
  SimpleDataSourceStreamReader whose offset is the envelope's server
  ``result.timestamp``; each micro-batch re-polls with the last
  timestamp as the ``since`` delta parameter, exactly the reference's
  incremental protocol (`task.ts:68` — ``/since/{-500}``) but with
  exactly-once offset tracking in the streaming checkpoint instead of
  a cron guess.

Both yield (share_id, body_json) rows, one per map and poll, so the
same chain (strict decode, folder lookup, transform, sinks) runs on
either.  The source is the package's one map reader:
``pipeline.run_from_api`` reads through it too.

The endpoint is configurable via ``baseUrl`` so tests point it at a
local fixture server; no option defaults to a live network call
without an explicit ShareId.
"""

from __future__ import annotations

import json
from collections.abc import Iterator
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from etl_caltopo_spark.caltopo.sink import post_maps, urllib_header_poster
from etl_caltopo_spark.caltopo.source import BASE_URL, fetch_all, map_state_url

SCHEMA = "share_id string, body_json string"


def _parse_options(options: dict) -> tuple[list[str], int, str]:
    # Spark lower-cases option keys
    share_ids = [s for s in options.get("shareids", "").split(",") if s]
    if not share_ids:
        raise ValueError("caltopo source requires option shareIds=<id>[,<id>...]")
    since = int(options.get("since", "-500"))
    base_url = options.get("baseurl", BASE_URL).rstrip("/")
    return share_ids, since, base_url


class CalTopoBatchReader(DataSourceReader):
    def __init__(self, options: dict, slots: int | None = None) -> None:
        self.share_ids, self.since, self.base_url = _parse_options(options)
        self.slots = slots

    def partitions(self) -> list[InputPartition]:
        """The share ids in ``min(#maps, slots)`` contiguous runs of
        near-equal length, one partition each (one per map when no slot
        count is known).  The split depends only on (shareIds, slots),
        so a re-attempted task re-reads the same maps and its sink
        chunk keeps its idempotency key.  A failed GET fails the whole
        partition: its re-attempt re-fetches every map in it."""
        n = len(self.share_ids)
        k = min(n, self.slots or n)
        return [
            InputPartition(self.share_ids[i * n // k : (i + 1) * n // k])
            for i in range(k)
        ]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        sids = partition.value
        urls = [map_state_url(sid, self.since, self.base_url) for sid in sids]
        yield from zip(sids, fetch_all(urls))


class CalTopoStreamReader(SimpleDataSourceStreamReader):
    """Offset = max server ``result.timestamp`` seen per map; the next
    micro-batch asks each map for changes strictly after it (the
    reference's ``since`` semantics, task.ts:68)."""

    def __init__(self, options: dict) -> None:
        self.share_ids, self.since, self.base_url = _parse_options(options)

    def initialOffset(self) -> dict:
        return {"since": {sid: self.since for sid in self.share_ids}}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        since = dict(start["since"])
        urls = [
            map_state_url(sid, int(since[sid]), self.base_url) for sid in self.share_ids
        ]
        rows = list(zip(self.share_ids, fetch_all(urls)))
        for sid, body in rows:
            try:
                ts = json.loads(body).get("result", {}).get("timestamp")
                if isinstance(ts, (int, float)):
                    since[sid] = int(ts)
            except (ValueError, AttributeError):
                pass  # malformed body: keep the old offset, re-poll
        return iter(rows), {"since": since}


@dataclass
class _Posted(WriterCommitMessage):
    #: features one partition posted (an Arrow writer's ``write`` must
    #: return a commit message; ``None`` fails the task)
    n_features: int


class CalTopoWriter(DataSourceArrowWriter):
    """Executor-side FeatureCollection POST as a native write format
    (R16, ``task.ts:154-159``): ``sink.features_json(df)
    .repartition("share_id").write.format("caltopo").option("url", ...)
    .mode("append").save()`` posts each partition's maps through
    ``sink.post_maps``, as ``sink.submit_idempotent`` does on the
    driver, so every body carries its idempotency key and retries a
    503.  The hash repartition holds each map whole in one partition
    (AQE coalescing only merges whole partitions), so each map posts
    the body, and key, the submit posts.  Without it, a map split over
    several partitions posts one body per partition, keyed by that
    split.  A failed partition retries alone, and its re-sent bodies
    collapse on their keys."""

    def __init__(self, options: dict, schema) -> None:
        self.url = options.get("url", "")
        if not self.url:
            raise ValueError("caltopo writer requires option url=<submit endpoint>")
        if "feature" not in schema.fieldNames():
            raise ValueError(
                "caltopo writer takes sink.features_json(df): the frame has no "
                f"'feature' column (columns: {', '.join(schema.fieldNames())})"
            )

    def write(self, iterator) -> _Posted:
        return _Posted(post_maps(iterator, self.url, urllib_header_poster))


class CalTopoDataSource(DataSource):
    #: read slots the batch reader packs maps into; None = one
    #: partition per map
    slots: int | None = None

    @classmethod
    def name(cls) -> str:
        return "caltopo"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> CalTopoBatchReader:
        return CalTopoBatchReader(self.options, self.slots)

    def simpleStreamReader(self, schema) -> CalTopoStreamReader:
        return CalTopoStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> CalTopoWriter:
        return CalTopoWriter(self.options, schema)


def register(spark) -> None:
    """Idempotent registration: after this, ``format("caltopo")``
    resolves in both read and readStream, and batch reads pack their
    maps into the session's ``defaultParallelism`` slots.  The slot
    count rides on a class built here, which is pickled by value: a
    class attribute set on :class:`CalTopoDataSource` itself would not
    reach the Python worker that plans the read."""
    try:
        n_slots = spark.sparkContext.defaultParallelism
    except Exception:  # e.g. Spark Connect: no SparkContext
        n_slots = None

    class CalTopoOnSlots(CalTopoDataSource):
        slots = n_slots

    spark.dataSource.register(CalTopoOnSlots)
