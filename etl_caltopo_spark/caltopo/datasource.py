"""CalTopo as a first-class Spark data source (Python DataSource API,
Spark 4).

Generalizes the reference's single-map scheduled fetch
(`/root/reference/task.ts:46,64-70`) into the two Spark-native source
forms:

- **batch**: ``spark.read.format("caltopo").option("shareIds",
  "a,b,c")`` — one InputPartition per map, so the HTTP fetches run on
  EXECUTORS in parallel.  A CloudTAK deployment with thousands of
  layers becomes one scan with thousands of partitions instead of a
  driver-side loop; Spark's scheduler owns retry/locality/backpressure.
- **streaming**: ``spark.readStream.format("caltopo")`` — a
  SimpleDataSourceStreamReader whose offset is the envelope's server
  ``result.timestamp``; each micro-batch re-polls with the last
  timestamp as the ``since`` delta parameter, exactly the reference's
  incremental protocol (`task.ts:68` — ``/since/{-500}``) but with
  exactly-once offset tracking in the streaming checkpoint instead of
  a cron guess.

Both yield the same (share_id, body_json) rows as
``source.fetch_envelopes``, so everything downstream (strict decode,
transform, folder lookup, sinks) is source-agnostic.

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
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from etl_caltopo_spark.caltopo.sink import post_rows, urllib_header_poster
from etl_caltopo_spark.caltopo.source import BASE_URL, default_fetcher, map_state_url

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
    def __init__(self, options: dict) -> None:
        self.share_ids, self.since, self.base_url = _parse_options(options)

    def partitions(self) -> list[InputPartition]:
        # one partition per map: fetch parallelism == map count, and a
        # failed map retries alone instead of failing the whole scan
        return [InputPartition(sid) for sid in self.share_ids]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        sid = partition.value
        yield (sid, default_fetcher(map_state_url(sid, self.since, self.base_url)))


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
        rows: list[tuple] = []
        for sid in self.share_ids:
            body = default_fetcher(map_state_url(sid, int(since[sid]), self.base_url))
            rows.append((sid, body))
            try:
                ts = json.loads(body).get("result", {}).get("timestamp")
                if isinstance(ts, (int, float)):
                    since[sid] = int(ts)
            except (ValueError, AttributeError):
                pass  # malformed body: keep the old offset, re-poll
        return iter(rows), {"since": since}


@dataclass
class _PostedChunk(WriterCommitMessage):
    n_features: int = 0


class CalTopoWriter(DataSourceWriter):
    """Executor-side FeatureCollection POST as a native write format
    (R16, ``task.ts:154-159``): ``df.write.format("caltopo")
    .option("url", ...).mode("append").save()`` posts each non-empty
    partition as one chunk through ``sink.post_rows``, the path
    ``sink.submit_idempotent`` takes above its collect threshold, so
    every chunk carries its idempotency key and retries a 503.  The
    write is wired into Spark's commit protocol (a failed partition
    retries alone, and its re-sent chunk collapses on the key;
    ``commit`` sees per-chunk feature counts).  Rows must carry the
    transformed InputFeature columns (the output of
    ``pipeline.run_pipeline``)."""

    def __init__(self, options: dict) -> None:
        self.url = options.get("url", "")
        if not self.url:
            raise ValueError("caltopo writer requires option url=<submit endpoint>")

    def write(self, iterator) -> _PostedChunk:
        rows = list(iterator)
        if not rows:
            return _PostedChunk()
        return _PostedChunk(n_features=post_rows(rows, self.url, urllib_header_poster))

    def commit(self, messages) -> None:
        # nothing to finalize server-side; counts surface for logging
        return None

    def abort(self, messages) -> None:  # pragma: no cover - best effort
        return None


class CalTopoDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "caltopo"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> CalTopoBatchReader:
        return CalTopoBatchReader(self.options)

    def simpleStreamReader(self, schema) -> CalTopoStreamReader:
        return CalTopoStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> CalTopoWriter:
        return CalTopoWriter(self.options)


def register(spark) -> None:
    """Idempotent registration: after this, ``format("caltopo")``
    resolves in both read and readStream."""
    spark.dataSource.register(CalTopoDataSource)
