"""Physical-plan assertions (SURVEY §4.2: rely on Catalyst, verify it
delivered).  These are the scale guarantees — a regression here means
a 100 TB run shuffles or row-loops where it shouldn't."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_caltopo_spark.caltopo.fixtures import fixture_envelope_df
from etl_caltopo_spark.caltopo.pipeline import run_pipeline
from etl_caltopo_spark.io import load_table
from etl_caltopo_spark.queries import REGISTRY


@pytest.fixture(autouse=True, scope="module")
def _lazy_plans():
    """Audit FULL plans, build ZERO jobs (r7 review): without this,
    every localCheckpoint / pin_frame / eager cut probe collapses its
    upstream to `Scan ExistingRDD` — the registry-wide window and
    row-Python guards would silently stop seeing anything above a
    pin, and each guarded build would execute real Spark jobs.  Same
    escape hatch tools/dump_plans.py uses."""
    old = os.environ.get("SPARK_GRAFT_LAZY_PLANS")
    os.environ["SPARK_GRAFT_LAZY_PLANS"] = "1"
    yield
    if old is None:
        os.environ.pop("SPARK_GRAFT_LAZY_PLANS", None)
    else:
        os.environ["SPARK_GRAFT_LAZY_PLANS"] = old


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = plan_of(REGISTRY["q_join_multiway"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    # the fact side never shuffles before aggregation
    assert "SortMergeJoin" not in plan


def _walk(plan):
    """Pre-order walk over a JVM physical plan tree."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _walk(kids.apply(i))


def test_pipeline_scans_source_once(spark):
    """run_pipeline reads its source once: no self-join, no exchange of
    any kind.  The per-envelope folder lookup is computed BELOW the
    Generate, so the exploded rows never carry the features array."""
    plan = run_pipeline(fixture_envelope_df(spark))._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    names = [p.nodeName() for p in _walk(plan)]
    assert sum(n.startswith("Scan") for n in names) == 1, names
    assert not [n for n in names if "Join" in n or "Exchange" in n or "Cartesian" in n]
    (generate,) = [p for p in _walk(plan) if p.nodeName() == "Generate"]
    below = {p.simpleString(1000) for p in _walk(generate.children().apply(0))}
    above = {p.simpleString(1000) for p in _walk(plan)} - below
    assert any(" AS _folders" in s for s in below)
    assert not any("aggregate(" in s for s in above)


def test_filter_pushdown_reaches_parquet(spark, sf_dir):
    plan = plan_of(REGISTRY["q_filter_class"].fn(spark, sf_dir))
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]" in plan


def test_column_pruning_reaches_parquet(spark, sf_dir):
    plan = plan_of(REGISTRY["q_cast_rename"].fn(spark, sf_dir))
    # only the three needed customer columns are read
    assert "ReadSchema: struct<c_custkey:bigint,c_name:string,c_nationkey:int>" in plan


def test_topk_uses_heap_not_global_sort(spark, sf_dir):
    plan = plan_of(REGISTRY["q_topk"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_no_row_python_in_declared_queries(spark, sf_dir):
    """Python evaluation appears in exactly one declared query (the
    simhash pandas UDF), and only Arrow-batched — never
    row-at-a-time."""
    arrow_ok = {"q_dedup_simhash"}
    for name, spec in REGISTRY.items():
        plan = plan_of(spec.fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, f"{name} uses row-at-a-time Python"
        if name not in arrow_ok:
            assert "ArrowEvalPython" not in plan, f"{name} unexpectedly uses a UDF"


# Global (unpartitioned) window sorts pull the whole frame into ONE
# task.  These ids run one intentionally, over a frame bounded by a
# VALUE GRID (distinct days/months/scores/bins/prices/vocab), not by
# the row count — the documented q_auc discipline (HANDOFF watch
# item).  Everything else must either partition its windows or use
# operators/rank.py (whose internal offsets window is recognized by
# its _rank_bucket key and ≤buckets-row frame).
BOUNDED_GRID_GLOBAL_WINDOW_OK = {
    # (r8: q_auc / q_pr_auc moved OFF this list to operators/rank.py —
    # the r7 cardinality probe measured their distinct-score frames
    # growing ~n^0.64 with the table (952 -> 17,792 rows across
    # sf0.001 -> 0.1), i.e. NOT a bounded grid; q_lift_deciles keeps
    # only its genuinely bounded 10-row decile window)
    "q_lift_deciles": "10-row decile frame (score-grid pass moved to rank.py)",
    "q_spearman": "distinct-value rank grids (documented discipline)",
    "q_ks_test": "pooled distinct-value grid",
    "q_mann_whitney": "pooled distinct-value grid",
    # (review wave r7: q_gini_vocab and q_vocab_growth moved to
    # operators/rank.py — their vocab/bucket frames grow with the
    # corpus; q_zipf_slope's window now orders only the 1000-row
    # TakeOrderedAndProject survivor frame)
    "q_zipf_slope": "limit-bounded 1000-row top-k frame",
    "q_quantile_sketch_portable": "fixed bin grid",
    "q_cusum_changepoint": "per-day grid (calendar-bounded)",
    "q_mom_growth": "per-month grid (calendar-bounded)",
    "q_interpolate_linear": "per-day grid (calendar-bounded)",
    "q_skyline": "distinct price-cents grid",
    "q_skyline_sweep": "distinct price-cents grid",
}

# Streaming ids whose query fn EXECUTES the two-phase availableNow
# protocol at call time (streaming queries cannot be lazily planned —
# run_two_phase writes temp parquet, starts a stream, and blocks on
# awaitTermination, so plan_of() here would run real jobs, not dump a
# plan).  ONLY these are exempt from the global-window guard (r8,
# VERDICT r7 #4 — was a blanket q_stream_* prefix skip).  The three
# batch-expressible streaming twins (q_stream_tumbling / _sliding /
# _session) are graded like every other id, and q_stream_enrich's
# internal bounded event-type window is graded directly via
# event_type_rank_dim below.
STREAM_PROTOCOL_SKIP = {
    "q_stream_watermark_late",   # run_two_phase, late-data protocol
    "q_stream_dedup",            # run_two_phase, dropDuplicates state
    "q_stream_stateful_totals",  # run_two_phase, applyInPandasWithState
    "q_stream_incr_rollup",      # run_two_phase, checkpoint restart
    "q_stream_cdc_apply",        # run_two_phase, foreachBatch merge
    "q_stream_interval_join",    # run_two_phase, two-source stream join
    "q_stream_topk",             # run_two_phase, per-epoch top-k
    "q_stream_enrich",           # run_two_phase, broadcast dim enrich
    "q_stream_hll",              # run_two_phase, mergeable sketch
    "q_stream_foreachbatch_exactly_once",  # run_two_phase, epoch replay
    "q_llm_curation_stream",     # run_two_phase staging; the composed
                                 # curation PLAN is graded via its
                                 # batch twin q_llm_curation_pipeline
}


def test_no_global_window_sort_outside_bounded_grids(spark, sf_dir):
    """Registry-wide scale guard (VERDICT r6 #1): no query may run an
    unpartitioned Window sort over a data-proportional frame.  A
    formatted-plan Window node prints [exprs], [partition], [order];
    a global window omits the partition group — detect that, exempt
    the rank operator's internal ≤buckets-row offsets window (its
    order key is _rank_bucket), and require every other occurrence to
    be an allowlisted bounded-value-grid id."""
    import re

    assert STREAM_PROTOCOL_SKIP <= set(REGISTRY), "stale skip entry"
    offenders = {}
    for name, spec in REGISTRY.items():
        if name in STREAM_PROTOCOL_SKIP:
            continue
        plan = plan_of(spec.fn(spark, sf_dir))
        for block in plan.split("\n\n"):
            first = block.split("\n")[0].strip()
            if not re.match(r"^\(\d+\) Window$", first):
                continue
            m = re.search(r"Arguments: (.*)$", block, re.M | re.S)
            groups = m.group(1).split("], [")
            last = groups[-1]
            is_global = len(groups) == 2 and (" ASC" in last or " DESC" in last)
            if is_global and "_rank_bucket" not in last:
                if name not in BOUNDED_GRID_GLOBAL_WINDOW_OK:
                    offenders.setdefault(name, last[:70])
    assert not offenders, f"unbounded global window sorts: {offenders}"


def test_stream_enrich_dim_window_sits_over_distinct_aggregate(spark, sf_dir):
    """q_stream_enrich's only unpartitioned window (the event-type
    rank dim) must order the DISTINCT-event_type aggregate — a
    value-domain-bounded grid — never the event log.  The enclosing
    query id is protocol-skipped, so the factored dim is graded
    here directly (r8, VERDICT r7 #4)."""
    from etl_caltopo_spark.queries.stream_windows import event_type_rank_dim

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts"
    )
    plan = plan_of(event_type_rank_dim(ev))
    # the window's input is the distinct aggregate, one column wide
    assert "Window" in plan and "HashAggregate" in plan
    w_block = next(
        b for b in plan.split("\n\n") if b.split("\n")[0].strip().endswith("Window")
    )
    assert "Input [1]: [event_type" in w_block, w_block[:200]


def test_whole_stage_codegen_covers_transform(spark, sf_dir):
    # simple mode marks codegen stages with '*(n)'
    df = REGISTRY["q_conditional_cast"].fn(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
    assert "*(1)" in plan


def test_caltopo_pipeline_has_no_python(spark):
    """The caltopo transform runs in the JVM end to end: every
    geometry type is cut by one regex rewrite, so the plan has no
    Python evaluation node."""
    plan = plan_of(run_pipeline(fixture_envelope_df(spark)))
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan


@pytest.mark.parametrize("join_name", ["q_join_range"])
def test_small_side_broadcast_nested_loop(spark, sf_dir, join_name):
    plan = plan_of(REGISTRY[join_name].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize("qid", ["q_join_asof", "q_join_asof_nearest"])
def test_asof_join_single_shuffle(spark, sf_dir, qid):
    """The as-of joins shuffle once on the partition key (union +
    window) — no range-join pair explosion, no extra exchanges; the
    nearest variant computes both directional candidates over the
    SAME exchange + sort."""
    plan = plan_of(REGISTRY[qid].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan and "NestedLoop" not in plan
    # exactly one exchange: hashpartitioning on the as-of key
    n_exchange = plan.count("Arguments: hashpartitioning")
    assert n_exchange == 1, f"expected 1 shuffle, saw {n_exchange}"


def test_scan_prunes_with_limit(spark, sf_dir):
    df = load_table(spark, sf_dir, "lineitem").select("l_orderkey").filter(
        F.col("l_orderkey") == 1
    )
    plan = plan_of(df)
    assert "PushedFilters" in plan and "EqualTo(l_orderkey,1)" in plan


def test_fuzzy_join_is_hash_join_on_block_key(spark, sf_dir):
    """The levenshtein filter must ride on the p_brand equi-join —
    never degrade to a nested-loop cartesian product."""
    plan = plan_of(REGISTRY["q_fuzzy_join"].fn(spark, sf_dir))
    assert "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "levenshtein" in plan  # post-join condition, not a separate pass


def test_fuzzy_join_broadcasts_only_name_pairs(spark, sf_dir):
    """Broadcast policy: exactly one explicit broadcast hint — the
    thresholded name_pairs survivors.  The part-sized sides (distinct
    names, the part table) must never carry a static hint (broadcast
    OOM at 100x scale); AQE promoting them at small SF is fine and
    does not show as a ResolvedHint."""
    df = REGISTRY["q_fuzzy_join"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """The shuffle-join pruning lever at 100 TB: when the selective
    dimension side is too big to broadcast (forced here by disabling
    broadcast joins), Catalyst injects a runtime bloom filter built
    from the dimension keys into the fact side's scan — rows that
    cannot join are dropped before the exchange."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    saved = {}
    for k, v in confs.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        li = load_table(spark, sf_dir, "lineitem")
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = plan_of(j)
        assert "bloom_filter_agg" in plan  # built from the selective side
        assert "partial_bloom_filter_agg" in plan  # map-side partials
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_range_join_banded_is_equi_join(spark, sf_dir):
    """The banded interval-overlap join must bind on (custkey,
    bucket) as a hash join — the whole point over the theta join's
    nested loop (q_join_range stays the BNL reference shape)."""
    plan = plan_of(REGISTRY["q_range_join_banded"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_bm25_single_scan_heap_topk(spark, sf_dir):
    """BM25: one documents scan feeding both the per-doc stage and the
    global stats would need two scans — assert at most two scans, a
    broadcast of the 1-row stats, and heap top-k (no global sort)."""
    plan = plan_of(REGISTRY["q_bm25"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Location: InMemoryFileIndex") <= 2
    assert "Python" not in plan


@pytest.mark.parametrize("qid", ["q_skyline", "q_skyline_sweep"])
def test_skyline_sweep_no_nested_loop(spark, sf_dir, qid):
    """Both graded skyline ids run the sweep — equi-join +
    aggregation shaped, never the O(n²) BNL anti-join (that plan is
    the test-only skyline_nested_loop baseline)."""
    plan = plan_of(REGISTRY[qid].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_centroid_assign_broadcasts_and_group_limits(spark, sf_dir):
    """Centroids broadcast (tiny build side); the per-point argmax
    becomes a WindowGroupLimit (map-side top-1) before the shuffle."""
    plan = plan_of(REGISTRY["q_centroid_assign"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_dedup_latest_group_limits_before_shuffle(spark, sf_dir):
    plan = plan_of(REGISTRY["q_dedup_latest"].fn(spark, sf_dir))
    assert "WindowGroupLimit" in plan


def n_exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_ewma_single_shuffle_no_python(spark, sf_dir):
    """EWMA = collect-sort-fold per key: exactly one exchange, the
    fold stays in codegen'd higher-order builtins (no Python eval)."""
    plan = plan_of(REGISTRY["q_ewma"].fn(spark, sf_dir))
    assert n_exchanges(plan) == 1
    assert "partial_collect_list" in plan  # map-side partial agg
    assert "Python" not in plan


def test_ohlc_is_one_aggregate_no_window(spark, sf_dir):
    """Ordered open/close picks ride min_by/max_by inside one hash
    aggregate — never a per-group Window sort over the event log."""
    plan = plan_of(REGISTRY["q_ohlc"].fn(spark, sf_dir))
    assert "Window" not in plan
    assert n_exchanges(plan) == 1
    assert "partial_min_by" in plan


def test_market_basket_broadcasts_dims(spark, sf_dir):
    """Item counts + the scalar order count join back as broadcasts;
    the pair self-join is an equi-join on the order key, never a
    cartesian pass."""
    plan = plan_of(REGISTRY["q_market_basket"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_topk_queries_never_global_sort(spark, sf_dir):
    """Vocab/merge-candidate top-k must be TakeOrderedAndProject (heap
    per partition + driver merge), not a full sort."""
    for qid in ("q_oov_rate", "q_bpe_pairs"):
        plan = plan_of(REGISTRY[qid].fn(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, qid


def test_hhi_broadcasts_all_dims_single_fact_shuffle(spark, sf_dir):
    """lineitem joins part/supplier/nation as broadcasts; the only
    fact-table exchange is the (nation, brand) partial aggregation."""
    plan = plan_of(REGISTRY["q_hhi"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_geo_haversine_heap_topk_trig_in_codegen(spark, sf_dir):
    """Top-20 distances: heap top-k (no global sort), and the trig
    expression stays JVM-side (no Python eval in the plan)."""
    plan = plan_of(REGISTRY["q_geo_haversine"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Python" not in plan


def test_readability_is_pure_map_stage(spark, sf_dir):
    """Per-doc regex scoring: zero exchanges, narrow ReadSchema
    (doc_id + text only)."""
    plan = plan_of(REGISTRY["q_readability"].fn(spark, sf_dir))
    assert n_exchanges(plan) == 0
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_corr_matrix_single_aggregate(spark, sf_dir):
    """All six Pearson coefficients in one scan + one partial-agg
    shuffle — never six scans of the fact table."""
    plan = plan_of(REGISTRY["q_corr_matrix"].fn(spark, sf_dir))
    assert n_exchanges(plan) == 1
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_graph_degree_equi_join_not_cartesian(spark, sf_dir):
    """The pair self-join must bind on l_orderkey (equi-join); the
    a<b orientation is a post-join filter, not a nested loop."""
    plan = plan_of(REGISTRY["q_graph_degree"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ttest_single_pass_narrow_scan(spark, sf_dir):
    """Welch t-test: ONE conditional-agg pass — one scan, one
    exchange, ReadSchema pruned to flag + price."""
    plan = plan_of(REGISTRY["q_ttest_welch"].fn(spark, sf_dir))
    assert n_exchanges(plan) == 1
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "ReadSchema: struct<l_extendedprice:double,l_returnflag:string>" in plan


def test_chi_square_broadcasts_dims(spark, sf_dir):
    """Contingency build joins nation/region as broadcasts; the fact
    table is scanned once and never sort-merge joined."""
    plan = plan_of(REGISTRY["q_chi_square"].fn(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "ReadSchema: struct<c_nationkey:int,c_mktsegment:string>" in plan


def test_cardinality_profile_one_scan_expand(spark, sf_dir):
    """Three exact DISTINCT aggregates resolve to a single scan with
    Expand — never one scan per profiled column."""
    plan = plan_of(REGISTRY["q_cardinality_profile"].fn(spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Expand" in plan


def test_table_fingerprint_single_scan_no_topk(spark, sf_dir):
    """Row-hash checksum reduces on executors: one scan, no
    TakeOrdered/collect-like node, hashing stays JVM-side."""
    plan = plan_of(REGISTRY["q_table_fingerprint"].fn(spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1
    assert "Python" not in plan


def test_kmeans_update_broadcasts_centroids(spark, sf_dir):
    """M-step: centroid side is broadcast (nested-loop over the
    8-row build side, never a shuffled join of the points)."""
    plan = plan_of(REGISTRY["q_kmeans_update"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_knn_classify_no_nested_loop(spark, sf_dir):
    """Exact k-NN must not be the pair-explosion plan: candidates
    come from the blocked-GEMM mapInPandas stage, re-scored by the
    codegen cosine — no BroadcastNestedLoopJoin, no cartesian."""
    plan = plan_of(REGISTRY["q_knn_classify"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan


def test_knn_ivf_pair_join_is_equi_not_broadcast_fact(spark, sf_dir):
    """The IVF kNN candidate stage must join on the cell id (hash
    join), never broadcast the embeddings table or degrade to a
    cartesian pass.  The only nested loop allowed is the 8-row
    centers build side of the probe assignment."""
    import re

    plan = plan_of(REGISTRY["q_knn_classify_ivf"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # formatted plans print each node twice (tree line + detail header);
    # count the detail headers
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1


def test_minmax_scale_single_shuffle(spark, sf_dir):
    """Per-group scaling: one exchange on the group key, narrow
    three-column scan."""
    plan = plan_of(REGISTRY["q_minmax_scale"].fn(spark, sf_dir))
    assert n_exchanges(plan) == 1
    assert (
        "ReadSchema: struct<c_custkey:bigint,c_acctbal:double,c_mktsegment:string>"
        in plan
    )


def test_train_test_split_pure_map_plus_agg(spark, sf_dir):
    """Hash split: deterministic key arithmetic in the map stage, one
    2-group aggregate; text column never read."""
    plan = plan_of(REGISTRY["q_train_test_split"].fn(spark, sf_dir))
    assert n_exchanges(plan) == 1
    assert "ReadSchema: struct<doc_id:bigint,n_chars:bigint>" in plan


def test_lm_score_broadcasts_vocab_scalar(spark, sf_dir):
    import re

    plan = plan_of(REGISTRY["q_lm_score"].fn(spark, sf_dir))
    # the V scalar joins via BroadcastNestedLoopJoin (single-row build
    # side) — and that must be the ONLY nested-loop in the plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_global_shuffle_has_no_global_sort(spark, sf_dir):
    plan = plan_of(REGISTRY["q_global_shuffle"].fn(spark, sf_dir))
    # shard-keyed window, never a rangepartitioning (global sort) exchange
    assert "rangepartitioning" not in plan.lower()


def test_pq_encode_broadcasts_codebook(spark, sf_dir):
    plan = plan_of(REGISTRY["q_pq_encode"].fn(spark, sf_dir))
    assert "BroadcastExchange" in plan
    # argmin is a partial-aggregating min, not a per-key window sort
    assert "Window" not in plan


def test_semdedup_collapses_exact_duplicates_first(spark, sf_dir):
    df = REGISTRY["q_semdedup"].fn(spark, sf_dir)
    plan = plan_of(df)
    # the min-id representative collapse is a hash aggregate keyed on
    # the embedding itself; no BNL beyond the centroid broadcasts
    assert "HashAggregate" in plan
