"""Focused pins for the round-14 OPTIMIZATION internals.

Each optimization wave restructured an operator's internals while
claiming bit-identical results (OPTIMIZATION_r14.md); the oracle sweep
grades the end-to-end outputs, and these tests pin the specific
internal equivalences so a future refactor that breaks one fails HERE
with a named reason instead of as a bare hash mismatch:

- the batch-vectorized SimHash bit vote (§8) vs a per-row reference,
- the bound_once cosine/sqdist forms (§1/§12) vs their naive composed
  expressions, on real embeddings AND the edge-shape matrix,
- q_graph_2hop's fused dedup + direct-edge-exclusion aggregate (§2)
  vs the naive distinct + left-anti formulation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_caltopo_spark.functions.numeric import fround
from etl_caltopo_spark.io import load_table
from etl_caltopo_spark.llm import similarity
from etl_caltopo_spark.llm import dedup as _dedup

#: the raw batch function under the pandas_udf wrapper (calling the
#: wrapper itself needs an active SparkContext)
_simhash_from_hashes = _dedup._simhash_from_hashes.func


# ---------------------------------------------------------------------------
# §8: the np.add.reduceat SimHash vote
# ---------------------------------------------------------------------------


def _simhash_reference(hash_arrays):
    """The pre-r14 per-row formulation: explicit (n_hashes, 64) bit
    matrix + 64-step vote per document."""
    out = []
    for h in hash_arrays:
        if h is None or len(h) == 0:
            out.append(0)
            continue
        a = np.asarray(h, dtype=np.uint64)
        sim = np.uint64(0)
        for j in range(64):
            ones = int(((a >> np.uint64(j)) & np.uint64(1)).sum())
            if 2 * ones - len(a) >= 0:
                sim |= np.uint64(1) << np.uint64(j)
        out.append(int(sim.astype(np.int64)))
    return out


def test_simhash_vote_matches_per_row_reference():
    rng = np.random.default_rng(0xC0FFEE)
    batches = []
    # random batches of ragged rows
    for _ in range(20):
        rows = []
        for _r in range(rng.integers(1, 40)):
            n = int(rng.integers(0, 30))
            # int64 numpy arrays, the shape Arrow hands the UDF in
            # production (negative Python ints -> uint64 is deprecated
            # in numpy; the wrapping view-cast of an int64 ARRAY is not)
            rows.append(rng.integers(-(2**63), 2**63 - 1, size=n, dtype=np.int64))
        batches.append(rows)
    # edge batch: None row, empty row, single element, sign-bit values,
    # exact tie (2 ones of 4 -> vote 0 -> bit SET per the >= 0 rule)
    batches.append(
        [
            None,
            np.array([], dtype=np.int64),
            np.array([42], dtype=np.int64),
            np.array([-1, -1, -1], dtype=np.int64),
            np.array([2**63 - 1, -(2**63)], dtype=np.int64),
            np.array([-(2**63)] * 5, dtype=np.int64),
            np.array([3, 3, 0, 0], dtype=np.int64),
        ]
    )
    # all-empty batch (the nz.any() early return)
    batches.append([None, np.array([], dtype=np.int64), None])
    for rows in batches:
        got = _simhash_from_hashes(pd.Series(rows, dtype=object)).tolist()
        want = _simhash_reference(rows)
        assert got == want
    # zero-length batch
    assert _simhash_from_hashes(pd.Series([], dtype=object)).tolist() == []


# ---------------------------------------------------------------------------
# §1/§12: bound_once fold binding is bit-identical to the composed forms
# ---------------------------------------------------------------------------


def _edge_vectors(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, [float("nan")] * 64),
            (3, [float("inf")] * 64),
            (4, [1.0] * 63),
            (5, [1.0] * 65),
            (6, []),
            (7, [0.0] * 64),
            (8, [-0.0] * 64),
            (9, [1.0] * 31 + [None] + [1.0] * 32),
            (10, [0.25] * 64),
        ],
        "vec_id long, v array<double>",
    )


def _pairs(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    pts = emb.unionByName(_edge_vectors(spark).withColumn("vec_id", F.col("vec_id") + 100000))
    a = pts.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = pts.select(F.col("vec_id").alias("ib"), F.col("v").alias("vb"))
    return a.join(F.broadcast(b), F.col("ia") % 8 == F.col("ib") % 8)


def test_bound_once_cosine_and_sqdist_bit_identical(spark, sf_dir):
    pairs = _pairs(spark, sf_dir)
    va, vb = F.col("va"), F.col("vb")
    # naive composed forms: every fold referenced as many times as the
    # expression mentions it (the pre-binding shape)
    naive_cos = fround(similarity.cosine(va, vb), 6)
    naive_sq = fround(
        similarity.dot(va, va)
        - 2 * similarity.dot(va, vb)
        + similarity.dot(vb, vb),
        6,
    )
    naive_sq_pre = fround(
        F.col("aa") - 2 * similarity.dot(va, vb) + F.col("bb"), 6
    )
    prenormed = pairs.withColumn("aa", similarity.dot(va, va)).withColumn(
        "bb", similarity.dot(vb, vb)
    )
    bad = (
        pairs.select(
            "ia",
            "ib",
            similarity.cosine_rounded(va, vb, 6).alias("c_bound"),
            naive_cos.alias("c_naive"),
            similarity.sqdist_rounded(va, vb, 6).alias("s_bound"),
            naive_sq.alias("s_naive"),
        )
        .where(
            "(c_bound IS DISTINCT FROM c_naive)"
            " OR (s_bound IS DISTINCT FROM s_naive)"
        )
        .count()
    )
    assert bad == 0
    bad_pre = (
        prenormed.select(
            similarity.sqdist_rounded_prenormed(
                F.col("aa"), va, vb, F.col("bb"), 6
            ).alias("p_bound"),
            naive_sq_pre.alias("p_naive"),
        )
        .where("p_bound IS DISTINCT FROM p_naive")
        .count()
    )
    assert bad_pre == 0


# ---------------------------------------------------------------------------
# §2: q_graph_2hop's fused max(flag) aggregate == distinct + left-anti
# ---------------------------------------------------------------------------


def test_graph_2hop_fused_agg_matches_naive(spark, sf_dir):
    from etl_caltopo_spark.queries.extended12 import _HOP_CAP, q_graph_2hop

    fused = {
        (r["part"], r["n_2hop"])
        for r in q_graph_2hop(spark, sf_dir).collect()
    }
    # naive reference: the pre-r14 pipeline shape
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
        .localCheckpoint()
    )
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    mid_ok = deg.filter(F.col("d") <= _HOP_CAP).select("src")
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("m"))
    e2 = e.select(F.col("src").alias("m"), F.col("dst").alias("c"))
    paths = (
        e1.join(mid_ok.withColumnRenamed("src", "m"), "m")
        .join(e2, "m")
        .filter(F.col("a") < F.col("c"))
        .select("a", "c")
        .distinct()
    )
    direct = e.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("c")
    )
    indirect = paths.join(direct, ["a", "c"], "left_anti")
    naive = {
        (r["part"], r["n_2hop"])
        for r in indirect.select(
            F.explode(F.array("a", "c")).alias("part")
        )
        .groupBy("part")
        .agg(F.count("*").cast("bigint").alias("n_2hop"))
        .collect()
    }
    assert fused == naive and len(fused) > 0


def test_graph_2hop_releases_its_degree_cache(spark, sf_dir):
    """The degree table is cached for the width probe and the main job;
    it is released before the query returns, so no cached plan stays
    behind in the session."""
    from etl_caltopo_spark.queries.extended12 import q_graph_2hop

    spark.catalog.clearCache()
    assert q_graph_2hop(spark, sf_dir).count() > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
