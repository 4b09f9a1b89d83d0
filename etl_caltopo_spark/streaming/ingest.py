"""Structured Streaming ingestion helpers ([EXT], SURVEY §2.3).

The reference's incremental model — scheduled re-fetch of a
``since/-500`` delta window (task.ts:46,68) — maps to Spark's
``availableNow`` trigger: process everything new since the last
checkpoint, then stop.  These helpers wire file-source streams with
watermarks and stream-dedup so the batch operators in
``streaming.windows`` run unchanged on a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def stream_from_parquet_dir(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame:
    """File-source stream (schema must be declared for streams)."""
    return spark.readStream.schema(schema).parquet(path)


#: Feed bytes per state-store partition (optimization r15, VERDICT r14
#: #2/#4).  Provider init is serialized under the global
#: loadedProviders lock (the r14 diagnosis), so state width should
#: track the STATE VOLUME of the feed, not a constant: ~256 KiB of
#: written feed per partition reproduces the measured sf0.1 optimum
#: (~2 MB of feeds -> 8 partitions) and grows with the feed instead of
#: embedding the old `min(cores, 8)` cap.  Clusters can re-derive via
#: the env without touching code.
STATE_PARTITION_TARGET_BYTES = 256 * 1024


def derived_state_partitions(total_feed_bytes: int, ceiling: int) -> int:
    """State-store partition width for the availableNow protocol runs:
    one partition per STATE_PARTITION_TARGET_BYTES of written feed,
    at least 1, capped at the session's parallelism (beyond that the
    extra providers only serialize init; a cluster with genuinely
    larger state sets SPARK_GRAFT_STREAM_STATE_PARTITIONS)."""
    import os

    target = int(
        os.environ.get(
            "SPARK_GRAFT_STREAM_STATE_BYTES_PER_PARTITION",
            str(STATE_PARTITION_TARGET_BYTES),
        )
    )
    return max(1, min(ceiling, -(-int(total_feed_bytes) // max(1, target))))


def as_event_time(df: DataFrame, ts_col: str) -> tuple[DataFrame, bool]:
    """Watermark-boundary dtype adapter.

    Spark requires event-time columns to be TIMESTAMP (LTZ) —
    ``withWatermark`` on TIMESTAMP_NTZ raises
    EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE — while the engine's canonical
    ``ts`` dtype is NTZ (io.py, so batch oracles stay timezone-free).
    The session timezone is pinned UTC (session.py), so a plain cast is
    wall-clock-preserving in both directions.  Returns the adapted
    frame and whether the caller should cast back to NTZ afterwards.
    """
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp")), True
    return df, False


def with_watermark(df: DataFrame, ts_col: str, delay: str) -> DataFrame:
    """Late-data bound: rows later than ``delay`` behind the max seen
    event time are dropped from stateful operators.

    NTZ event-time columns are cast to TIMESTAMP first (see
    ``as_event_time``) and stay TIMESTAMP downstream — re-casting here
    would shed the event-time watermark designation; callers cast back
    after their stateful operator if NTZ output is wanted.
    """
    df, _ = as_event_time(df, ts_col)
    return df.withWatermark(ts_col, delay)


def stream_dedup(
    df: DataFrame, keys: list[str], ts_col: str, delay: str = "1 hour"
) -> DataFrame:
    """Exactly-once-per-key within the watermark horizon
    (dropDuplicates + watermark bounds the dedup state).  Batch
    outputs restore NTZ for the oracles; streaming outputs keep
    TIMESTAMP so the event-time watermark survives into downstream
    stateful operators."""
    df, was_ntz = as_event_time(df, ts_col)
    out = df.withWatermark(ts_col, delay).dropDuplicates([*keys, ts_col])
    if was_ntz and not out.isStreaming:
        out = out.withColumn(ts_col, F.col(ts_col).cast("timestamp_ntz"))
    return out


def stream_dedup_within_watermark(
    df: DataFrame, keys: list[str], ts_col: str, delay: str = "1 hour"
) -> DataFrame:
    """Stream dedup WITHOUT the event-time column in the key set:
    ``dropDuplicatesWithinWatermark`` guarantees records whose event
    times fall within ``delay`` of the first arrival are deduplicated,
    and evicts key state once the watermark passes — the operator to
    reach for when duplicates share a business key but not necessarily
    an identical timestamp (retries, at-least-once sources).  Late
    input older than the watermark is dropped before the operator.

    DOMAIN: event times at or after epoch 0 (1970-01-01 UTC).  Spark's
    watermark clock bottoms at epoch 0, so a pre-1970 event time is
    BORN LATE — dropped by the operator's lateness filter from the
    very first batch regardless of arrival order (temporal sweep
    r11).  The filter makes that contract explicit instead of a
    silent drop; the graded oracle mirrors it."""
    df, _ = as_event_time(df, ts_col)
    df = post_epoch_only(df, ts_col)
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def post_epoch_only(df: DataFrame, ts_col: str) -> DataFrame:
    """The watermark-domain filter (see
    :func:`stream_dedup_within_watermark`): keep only event times at
    or after epoch 0.  NTZ compare keeps the boundary
    timezone-independent; factored out so the domain contract is
    pinned by a batch test (the dedup operator itself only runs on
    streams)."""
    return df.where(
        F.col(ts_col).cast("timestamp_ntz")
        >= F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
    )


def run_available_now_to_memory(
    stream_df: DataFrame, query_name: str, checkpoint_dir: str, output_mode: str = "complete"
) -> None:
    """Drain everything available through the plan into an in-memory
    table (test harness for batch/stream equivalence), then stop."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def epoch_overwrite_writer(out_dir: str):
    """The at-least-once-safe foreachBatch write: each micro-batch is
    written keyed by epoch id, so a re-delivered batch overwrites its
    own epoch directory instead of duplicating rows.  The SINGLE
    definition of this idempotence pattern — both ``foreach_batch_
    parquet`` and ``run_two_phase``'s emit sink use it (r7 review:
    two byte-identical copies had already drifted apart once)."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}")

    return write


def foreach_batch_parquet(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """Exactly-once file sink via foreachBatch — see
    :func:`epoch_overwrite_writer` for the idempotence contract."""
    write = epoch_overwrite_writer(out_dir)
    return (
        stream_df.writeStream.foreachBatch(write)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_two_phase(
    spark: SparkSession,
    sources: dict[str, list[DataFrame]] | list[DataFrame],
    build,
    *,
    sink: str = "emit",
    output_mode: str | None = None,
    store_upsert=None,
    files_per_phase: int = 1,
    max_files_per_trigger: int | None = None,
    prefix: str = "two_phase_",
    replay_last_epoch: bool = False,
) -> DataFrame:
    """The shared two-phase availableNow protocol scaffold (VERDICT r6
    #2 — previously ~40 lines duplicated across nine graded bodies).

    Writes each source's per-phase input frames to a session-temp dir,
    then runs one availableNow streaming query per phase against the
    SAME checkpoint — phase 2 is a genuine restart that must resume
    from committed offsets and carried state.  Reads the sink back and
    detaches it from the temp dir with ``localCheckpoint(eager=True)``
    (executor-side materialization, nothing through the driver —
    VERDICT r5 #3; see the module docstring in
    queries/stream_windows.py for the durability trade).

    ``sources``: either a plain list of per-phase DataFrames (single
    source; ``build`` receives the stream DataFrame) or a dict
    ``name -> [phase0_df, phase1_df, ...]`` (``build`` receives a
    dict of stream DataFrames).  All sources must have the same phase
    count.

    ``sink``:
      - ``"emit"`` — foreachBatch parquet emission keyed by epoch id.
        Epoch-keyed OVERWRITE, not blind append: foreachBatch is
        at-least-once, and a replayed final batch after a crash before
        the commit-log write would otherwise duplicate rows in the
        graded emission multiset (code-review r6); epoch ids continue
        across the phase-2 checkpoint resume, so the directories stay
        unique.  The partition column ``epoch`` is dropped from the
        result.
      - ``"store"`` — foreachBatch calls ``store_upsert(batch_df,
        store_path)`` (the caller's merge logic: rollup-add, latest-
        wins, top-k union-relimit, register-max); the result is the
        final store.
      - ``"files"`` — Spark's native parquet FileStreamSink; the
        ``_spark_metadata`` commit log provides exactly-once file
        tracking and the result is the metadata-log view.

    ``files_per_phase``: 1 → ``coalesce(1)`` (one file = one
    deterministic micro-batch per phase); n>1 → ``repartition(n)``
    (combine with ``max_files_per_trigger`` for multiple micro-batches
    per phase).

    ``replay_last_epoch`` (r10, ``sink="emit"`` only): after the phase
    loop, RE-DELIVER the final epoch's batch to the foreachBatch
    writer — simulating the at-least-once redelivery a crash between
    the sink write and the commit-log append produces.  With the
    epoch-keyed overwrite the replay is a no-op and the graded result
    is exactly-once; a blind-append sink would double the final batch
    and fail the hash grade (q_stream_foreachbatch_exactly_once)."""
    import os
    import shutil
    import tempfile

    if not isinstance(sources, dict):
        sources = {"src": list(sources)}
        single = True
    else:
        single = False
    n_phases = len(next(iter(sources.values())))
    if any(len(v) != n_phases for v in sources.values()):
        # not an assert: -O would strip it and mismatched sources
        # would proceed to an IndexError / silent partial processing
        counts = {k: len(v) for k, v in sources.items()}
        raise ValueError(
            f"run_two_phase: sources disagree on phase count: {counts}"
        )
    tmp = tempfile.mkdtemp(prefix=prefix)
    # State-partition width for the protocol's streaming runs
    # (optimization r14, guide §7.3 diagnosis): every stateful
    # micro-batch stage was a uniform ~4.6 s of WALL time with ~0.1 s
    # of CPU — a driver thread dump showed all 32 tasks parked on a
    # Promise while one thread at a time initialized the stage's state
    # store providers under the global loadedProviders lock (SparkConf
    # reads + store directory setup, serialized).  Provider count =
    # state partitions x stores-per-operator (4 for a stream-stream
    # join), so the fix is sizing state partitions to the STATE VOLUME
    # of the feed — these availableNow protocol runs deliver one file
    # per phase — rather than inheriting the relational shuffle width
    # (measured sf0.1 interval join: 28 s at 32 partitions -> ~7 s at
    # 8).  The width is pinned for the checkpoint's lifetime by Spark,
    # applied around the phase loop only, and restored after.
    # Optimization r15 (VERDICT r14 #4): the width is DERIVED from the
    # bytes this call just wrote as its feed (derived_state_partitions,
    # ~256 KiB of feed per partition) instead of embedding a
    # `min(cores, 8)` constant sized to the test feeds; an explicit
    # SPARK_GRAFT_STREAM_STATE_PARTITIONS still wins outright.
    state_parts_override = int(
        os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "0")
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        live, schemas = {}, {}
        feed_bytes = 0
        for sname, dfs in sources.items():
            live[sname] = os.path.join(tmp, f"src_{sname}")
            os.makedirs(live[sname])
            for p, df in enumerate(dfs):
                shaped = (
                    df.coalesce(1)
                    if files_per_phase == 1
                    else df.repartition(files_per_phase)
                )
                bdir = os.path.join(tmp, f"b_{sname}_{p}")
                shaped.write.parquet(bdir)
                feed_bytes += sum(
                    e.stat().st_size for e in os.scandir(bdir) if e.is_file()
                )
            schemas[sname] = spark.read.parquet(
                os.path.join(tmp, f"b_{sname}_0")
            ).schema
        state_parts = state_parts_override or derived_state_partitions(
            feed_bytes, spark.sparkContext.defaultParallelism
        )

        if sink == "emit":
            result_path = os.path.join(tmp, "out")
            batch_fn = epoch_overwrite_writer(result_path)

        elif sink == "store":
            result_path = os.path.join(tmp, "store")

            def batch_fn(batch_df: DataFrame, _epoch_id: int) -> None:
                store_upsert(batch_df, result_path)

        elif sink == "files":
            result_path = os.path.join(tmp, "sink")
            batch_fn = None
        else:  # pragma: no cover - caller bug
            raise ValueError(f"unknown sink kind: {sink}")

        spark.conf.set("spark.sql.shuffle.partitions", str(state_parts))
        for p in range(n_phases):
            streams = {}
            for sname in sources:
                bdir = os.path.join(tmp, f"b_{sname}_{p}")
                for f in os.listdir(bdir):
                    if f.endswith(".parquet"):
                        shutil.copy(
                            os.path.join(bdir, f),
                            os.path.join(live[sname], f"{p}_{f}"),
                        )
                reader = spark.readStream.schema(schemas[sname])
                if max_files_per_trigger is not None:
                    reader = reader.option(
                        "maxFilesPerTrigger", max_files_per_trigger
                    )
                streams[sname] = reader.parquet(live[sname])
            plan = build(streams["src"] if single else streams)
            writer = plan.writeStream
            if sink == "files":
                writer = writer.format("parquet").option("path", result_path)
            else:
                writer = writer.foreachBatch(batch_fn)
            if output_mode is not None:
                writer = writer.outputMode(output_mode)
            q = (
                writer.option(
                    "checkpointLocation", os.path.join(tmp, "ckpt")
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        if replay_last_epoch:
            if sink != "emit":  # pragma: no cover - caller bug
                raise ValueError("replay_last_epoch requires sink='emit'")
            epochs = [
                int(d.split("=", 1)[1])
                for d in os.listdir(result_path)
                if d.startswith("epoch=")
            ]
            last = max(epochs)
            redelivered = spark.read.parquet(
                f"{result_path}/epoch={last}"
            ).localCheckpoint(eager=True)  # detach before the overwrite
            batch_fn(redelivered, last)

        result = spark.read.parquet(result_path)
        if sink == "emit":
            result = result.drop("epoch")
        return result.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(tmp, ignore_errors=True)
