"""Round-15 optimization pins: internal equivalences for the changes
that altered operator internals (round rule: an optimization that
changes an operator's internals gets a focused test).

1. fan_out's file-footprint split estimate == Spark's own
   df.rdd.getNumPartitions() on every test table x scale (io.py no
   longer pays a physical-planning pass per call).
   Small files under a non-default minPartitionNum pack into fewer
   splits than files, and fan_out follows the estimate there too.
2. fan_out's DECISION is unchanged: the one-row-group sf sources still
   repartition to defaultParallelism; an already-wide frame stays.
3. run_two_phase's feed-derived state-partition width: derived value
   pinned against the documented rows-per-partition rule and the env
   override still wins.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

import pytest

from etl_caltopo_spark.io import (
    TABLES,
    _estimated_scan_splits,
    _size_bytes,
    fan_out,
    load_table,
)

SF_DIRS = [
    os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"),
    "/root/testdata/sf0.001",
]


def test_size_bytes_parses_spark_conf_forms():
    assert _size_bytes("128MB") == 128 * 1024**2
    assert _size_bytes("134217728b") == 128 * 1024**2
    assert _size_bytes("4m") == 4 * 1024**2
    assert _size_bytes("1g") == 1024**3
    assert _size_bytes("512") == 512


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_fan_out_estimate_matches_spark_split_math(spark, sf_dir):
    """The whole point of the r15 fan_out rewrite: the file-footprint
    estimate must reproduce Spark's FilePartition packing exactly, so
    the repartition decision is bit-identical to the old
    df.rdd.getNumPartitions() probe on every real source."""
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        actual = df.rdd.getNumPartitions()
        sizes = [
            os.path.getsize(unquote(urlparse(f).path)) for f in df.inputFiles()
        ]
        est = _estimated_scan_splits(spark, sizes)
        assert est == actual, (name, sf_dir, est, actual)


@pytest.mark.parametrize("min_partitions", [None, "1", "2"])
def test_fan_out_estimate_matches_on_small_files(spark, tmp_path, min_partitions):
    """Many small files under a non-default minPartitionNum: twice as
    many files as cores can pack into fewer splits than cores, so
    fan_out must follow the packing estimate, not the file count."""
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "small")
    spark.range(0, 2 * target, 1, 2 * target).write.parquet(path)
    key = "spark.sql.files.minPartitionNum"
    if min_partitions is not None:
        spark.conf.set(key, min_partitions)
    try:
        df = spark.read.parquet(path)
        files = df.inputFiles()
        assert len(files) == 2 * target
        sizes = [os.path.getsize(unquote(urlparse(f).path)) for f in files]
        actual = df.rdd.getNumPartitions()
        assert _estimated_scan_splits(spark, sizes) == actual
        want = target if actual < target else actual
        assert fan_out(df).rdd.getNumPartitions() == want
        if min_partitions is not None:
            assert actual < target
    finally:
        spark.conf.unset(key)


def test_fan_out_decision_unchanged(spark):
    sf_dir = SF_DIRS[0]
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    target = spark.sparkContext.defaultParallelism
    # one-row-group source: must still fan out to core count
    narrow = load_table(spark, sf_dir, "documents").select("doc_id")
    assert fan_out(narrow).rdd.getNumPartitions() == target
    # an already-wide frame (no file leaves -> rdd fallback) stays
    wide = spark.range(0, 1000, 1, target * 2)
    assert fan_out(wide).rdd.getNumPartitions() == target * 2


def test_derived_state_partitions_rule():
    """run_two_phase's state width is now DERIVED from the written feed
    bytes (VERDICT r14 #4) — pin the rule: ceil(bytes / 256 KiB),
    floored at 1, capped at the parallelism ceiling, env-dialable."""
    from etl_caltopo_spark.streaming.ingest import (
        STATE_PARTITION_TARGET_BYTES,
        derived_state_partitions,
    )

    # ~2 MB of feed (the sf0.1 protocol-family ballpark) -> 8, the
    # r14-measured optimum the old `min(cores, 8)` constant encoded
    assert derived_state_partitions(8 * STATE_PARTITION_TARGET_BYTES, 32) == 8
    assert (
        derived_state_partitions(8 * STATE_PARTITION_TARGET_BYTES - 1, 32) == 8
    )
    assert (
        derived_state_partitions(8 * STATE_PARTITION_TARGET_BYTES + 1, 32) == 9
    )
    # grows with the feed instead of capping at 8; ceiling still caps
    assert derived_state_partitions(10**12, 32) == 32
    # tiny feeds floor at 1
    assert derived_state_partitions(0, 32) == 1
    assert derived_state_partitions(1, 32) == 1
    # the per-partition byte target is env-dialable for clusters
    os.environ["SPARK_GRAFT_STREAM_STATE_BYTES_PER_PARTITION"] = "1024"
    try:
        assert derived_state_partitions(4096, 32) == 4
    finally:
        del os.environ["SPARK_GRAFT_STREAM_STATE_BYTES_PER_PARTITION"]


def test_run_two_phase_no_longer_embeds_constant_8():
    """The dial must not embed the old constant: the only '8' in the
    width path is the derived rule's test above."""
    import inspect

    from etl_caltopo_spark.streaming import ingest

    src = inspect.getsource(ingest.run_two_phase)
    assert "min(spark.sparkContext.defaultParallelism, 8)" not in src
    assert "derived_state_partitions" in src


def test_fan_out_no_file_leaves_falls_back(spark):
    """In-memory frames (createDataFrame / checkpoints) have no input
    files; the rdd fallback must keep the old semantics."""
    df = spark.createDataFrame([(i,) for i in range(10)], "x long")
    target = spark.sparkContext.defaultParallelism
    orig = df.rdd.getNumPartitions()
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == (target if orig < target else orig)
    assert out.count() == 10


# ---------------------------------------------------------------------------
# 4. parquet footer ts-bounds (VERDICT r14 #7): the streaming-protocol
#    phase-split probe now reads exact min/max from footer statistics
#    instead of running an eager Spark aggregate — value-identity with
#    the aggregate is the whole contract.
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_parquet_ts_bounds_equals_spark_agg(spark, sf_dir):
    from pyspark.sql import functions as F

    from etl_caltopo_spark.io import parquet_ts_bounds

    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    got = parquet_ts_bounds(sf_dir, "events", "ts")
    assert got is not None, "test data must take the footer fast path"
    ev = load_table(spark, sf_dir, "events")
    row = ev.agg(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    assert got == (row["lo"], row["hi"])


def test_parquet_ts_bounds_spark_written_dir_and_all_null(spark, tmp_path):
    """Spark-written DIRECTORY layout (the replica generators' shape)
    and the all-NULL column: footer bounds must equal the aggregate,
    including the (None, None) empty contract."""
    from pyspark.sql import functions as F

    from etl_caltopo_spark.io import parquet_ts_bounds

    base = str(tmp_path)
    ev = load_table(spark, os.environ.get(
        "SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"), "events")
    ev.limit(500).repartition(3).write.parquet(f"{base}/events.parquet")
    got = parquet_ts_bounds(base, "events", "ts")
    row = (
        spark.read.parquet(f"{base}/events.parquet")
        .agg(F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .first()
    )
    assert got == (row["lo"], row["hi"])

    nulls = str(tmp_path / "nulls")
    os.makedirs(nulls)
    ev.limit(10).withColumn(
        "ts", F.lit(None).cast("timestamp_ntz")
    ).write.parquet(f"{nulls}/events.parquet")
    assert parquet_ts_bounds(nulls, "events", "ts") == (None, None)


def test_parquet_ts_bounds_refuses_unprovable():
    from etl_caltopo_spark.io import parquet_ts_bounds

    # missing path / missing column -> fallback signal, never a guess
    assert parquet_ts_bounds("/nonexistent", "events", "ts") is None
    assert parquet_ts_bounds(
        os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"),
        "events",
        "no_such_col",
    ) is None
    # non-timestamp column -> refused (only µs NTZ is footer-equal to
    # what load_table's ts adaptation yields)
    assert parquet_ts_bounds(
        os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01"),
        "events",
        "event_id",
    ) is None


def test_parquet_ts_bounds_refuses_undecodable_stats(tmp_path):
    """A µs NTZ value past datetime's range makes pyarrow's stats
    decoding raise OverflowError: the bounds fall back (None) instead
    of failing the query."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_caltopo_spark.io import parquet_ts_bounds

    os.makedirs(tmp_path / "events.parquet")
    far = pa.array([2**62], type=pa.timestamp("us"))  # ~year 148,000
    pq.write_table(pa.table({"ts": far}), tmp_path / "events.parquet" / "part-0.parquet")
    assert parquet_ts_bounds(str(tmp_path), "events", "ts") is None


def test_parquet_ts_bounds_refuses_nested_layout(tmp_path):
    """A table directory with any subdirectory (e.g. partition
    directories) is not a flat layout the footer glob can prove: it
    falls back, even though the top-level part file alone would give
    bounds."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_caltopo_spark.io import parquet_ts_bounds

    table = tmp_path / "events.parquet"
    os.makedirs(table)
    ts = pa.array([datetime.datetime(2024, 1, 1)], type=pa.timestamp("us"))
    pq.write_table(pa.table({"ts": ts}), table / "part-0.parquet")
    assert parquet_ts_bounds(str(tmp_path), "events", "ts") is not None
    os.makedirs(table / "day=2")
    assert parquet_ts_bounds(str(tmp_path), "events", "ts") is None


# ---------------------------------------------------------------------------
# 5. column-wise sequential norm fold (guide §4.2): the per-block
#    pandas helpers replaced their O(n·d) per-row Python norm loop
#    with a column-wise fold — same IEEE operation order per row, so
#    the result must be BIT-identical on any input.
# ---------------------------------------------------------------------------


def test_columnwise_seq_norm_bit_identical():
    import math

    import numpy as np

    rng = np.random.default_rng(0xC0FFEE)
    cases = [
        rng.normal(size=(257, 64)),
        rng.normal(size=(3, 7)) * 1e150,   # magnitude stress
        rng.normal(size=(5, 16)) * 1e-300,  # denormal territory
        np.zeros((4, 8)),
    ]
    for V in cases:
        n = len(V)
        # reference: the exact per-row loop the r15 change replaced
        ref = [0.0] * n
        for i in range(n):
            t = 0.0
            for x in V[i].tolist():
                t += x * x
            ref[i] = math.sqrt(t)
        acc = np.zeros(n)
        for k in range(V.shape[1]):
            acc = acc + V[:, k] * V[:, k]
        got = np.sqrt(acc)
        assert all(
            math.isclose(a, b, rel_tol=0.0, abs_tol=0.0) or (a == b)
            for a, b in zip(ref, got.tolist())
        ), "column-wise fold diverged from the per-row sequential loop"
        # strict bitwise check
        assert np.array_equal(
            np.asarray(ref, dtype=np.float64).view(np.int64),
            got.astype(np.float64).view(np.int64),
        )


# ---------------------------------------------------------------------------
# 6. exact_knn_candidates r15 rework: cos_sim scored inside the GEMM
#    pass (column-wise sequential fold == the codegen cosine_rounded),
#    transient-byte-bounded blocks.  Pins: (a) block size cannot change
#    any output value; (b) the numpy fround mirror is bit-equal to the
#    fround expression on every input class.
# ---------------------------------------------------------------------------


def test_exact_knn_block_size_output_invariant(spark):
    from etl_caltopo_spark.io import load_table
    from etl_caltopo_spark.llm import similarity
    from pyspark.sql import functions as F

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    pts = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") >= 8)
        .select("vec_id", "label", "embedding")
        .limit(300)
    )
    rows_small = sorted(
        map(tuple, similarity.exact_knn_candidates(pts, k=5, block_rows=17).collect())
    )
    rows_big = sorted(
        map(tuple, similarity.exact_knn_candidates(pts, k=5, block_rows=512).collect())
    )
    assert rows_small == rows_big and rows_small


def test_numpy_fround_mirror_bit_equal(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from etl_caltopo_spark.functions.numeric import fround

    # the numpy mirror used inside exact_knn_candidates.gen
    def _fround6(x):
        scaled = x * 1e6
        big = np.abs(scaled) >= 9.223372036854776e18
        fl = np.floor(scaled) + 0.0  # NaN stays NaN; -0.0 -> +0.0
        return np.where(big, scaled, fl) / 1e6

    vals = [
        0.0, -0.0, 1.0, -1.0, 0.9999995, -0.9999995, 0.1234564999,
        1e-7, -1e-7, 0.3, -0.3, 1.0000001, float("inf"), float("-inf"),
        float("nan"), 9.3e12, -9.3e12, 2.0**63, 5e-324,
    ]
    got = _fround6(np.array(vals, dtype=np.float64))
    ref_rows = (
        spark.createDataFrame([(v,) for v in vals], "x double")
        .select(fround(F.col("x"), 6).alias("r"))
        .collect()
    )
    ref = np.array([r["r"] for r in ref_rows], dtype=np.float64)
    assert np.array_equal(got.view(np.int64), ref.view(np.int64)), (
        list(got),
        list(ref),
    )
