"""Round-5 continuation waves: the statistics a 100-TB corpus
pipeline runs between ingestion and training, each hash-graded
against a DuckDB replay —

- distribution tests (KS, Mann-Whitney) and drift metrics (PSI) on
  bounded distinct-value grids;
- feature selection (token-class mutual information) and classifier
  reports (macro-F1);
- sequential-pattern support and time-series diagnostics (ACF, CUSUM
  changepoint) on the day grid;
- data-layout keys (Morton/Z-order, geohash) and join rewrites
  (bloom semi-join reduction) graded for exactness;
- mergeable sketches (global + grouped histogram quantiles, HLL
  register merge) and a disjoint-bins DP histogram release;
- ranking/probability eval (MRR, NDCG@10, PR-AUC, log loss, decile
  lift/gains);
- privacy audits (k-anonymity, l-diversity);
- friend-of-friend graph reach with a hub cap; G.711 compressed-audio
  decode under the multimodal contract.

Reference scope note: the reference engine (task.ts:63-160) stops at
single-map feature ETL; these extend the analytics surface the brief
mandates (corpus drift detection, feature selection, storage layout,
model/privacy evaluation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from etl_caltopo_spark.functions.numeric import (
    bucket_long,
    fround,
    sql_bucket_long,
)
from etl_caltopo_spark.io import load_table
from etl_caltopo_spark.queries.registry import query
from etl_caltopo_spark.session import apply_runtime_conf


@query(
    "q_ks_test",
    oracle="""
    WITH base AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x,
               CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS is_a
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
              AND l_quantity IS NOT NULL
              AND abs(l_quantity) < 9.223372036854776e18
    ), grid AS (
        SELECT x, CAST(sum(is_a) AS BIGINT) AS ca,
               CAST(sum(1 - is_a) AS BIGINT) AS cb
        FROM base GROUP BY x
    ), cum AS (
        SELECT x,
               CAST(sum(ca) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_a,
               CAST(sum(cb) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_b
        FROM grid
    ), tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb
        FROM grid
    )
    SELECT na AS n_a, nb AS n_b,
           floor(CAST(max(abs(nb * cum_a - na * cum_b)) AS DOUBLE)
                 / (CAST(na AS DOUBLE) * nb) * 1000000) / 1000000 AS ks_d
    FROM cum, tot GROUP BY na, nb
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the returned
    ('A') and refused ('R') quantity distributions — the
    distribution-shift test a pipeline runs before trusting that two
    data splits are exchangeable (train/validation skew, drift between
    ingestion batches).

    Exactness via the integer numerator: D = max|F_A(x) − F_B(x)| is
    computed as max|n_b·cumA(x) − n_a·cumB(x)| / (n_a·n_b) — every
    term an exact int64 (bound: n_a·n_b < 2⁶³ → safe to ~3e9 rows per
    side; beyond, divide first at 1e-15 relative error), so both
    engines floor the identical double.

    Scale shape: ONE partial-agg shuffle to the bounded quantity grid
    (50 distinct values), then the cumulative pass runs over the GRID,
    not the rows — the q_auc bounded-domain argument.  The expected
    single-partition WindowExec over ≤50 rows is the documented
    design."""
    apply_runtime_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    # NULL quantities are missing observations, dropped on both
    # sides (r8 NULL-injection policy, see q_auc)
    # NaN/±inf/huge excluded with the NULLs: the exact-cents cast
    # raises in both engines off the int64 grid (extremes r11 wave 2)
    base = li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").isNotNull()
        & (F.abs("l_quantity") < F.lit(9.223372036854776e18))
    ).select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("is_a"),
    )
    grid = base.groupBy("x").agg(
        F.sum("is_a").cast("bigint").alias("ca"),
        F.sum(1 - F.col("is_a")).cast("bigint").alias("cb"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "x",
        F.sum("ca").over(w).cast("bigint").alias("cum_a"),
        F.sum("cb").over(w).cast("bigint").alias("cum_b"),
    )
    tot = grid.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    return j.groupBy("na", "nb").agg(
        fround(
            F.max(
                F.abs(
                    F.col("nb") * F.col("cum_a") - F.col("na") * F.col("cum_b")
                )
            ).cast("double")
            / (F.col("na").cast("double") * F.col("nb")),
            6,
        ).alias("ks_d")
    ).select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"), "ks_d"
    )


@query(
    "q_mann_whitney",
    oracle="""
    WITH base AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x,
               CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS is_a
        FROM lineitem WHERE l_returnflag IN ('A', 'R')
              AND l_quantity IS NOT NULL
              AND abs(l_quantity) < 9.223372036854776e18
    ), grid AS (
        SELECT x, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(is_a) AS BIGINT) AS ca
        FROM base GROUP BY x
    ), ranked AS (
        SELECT x, c, ca,
               2 * coalesce(sum(c) OVER (ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + c + 1 AS rx2
        FROM grid
    ), s AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n1,
               CAST(sum(c - ca) AS BIGINT) AS n2,
               CAST(sum(ca * rx2) AS BIGINT) AS sa2
        FROM ranked
    )
    SELECT n1, n2,
           (CAST(sa2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2 AS u1,
           CAST(n1 AS DOUBLE) * n2
               - (CAST(sa2 AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1)) / 2
               AS u2
    FROM s
    """,
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U statistics (tie-aware, via midranks) comparing
    quantity between return flags 'A' and 'R' — the nonparametric
    two-sample location test, sibling of q_ks_test (KS is sensitive to
    any CDF gap; U to stochastic dominance).

    Midranks come from cumulative counts over the DISTINCT-value grid
    (the q_spearman machinery): rx2 = doubled midrank is always an
    integer, so R₁ and U₁ derive from exact int64 sums — U₁ =
    (Σca·rx2 − n₁(n₁+1))/2 is a half-integer, exactly representable
    as a double in both engines (sum bound 2n² < 2⁶³ → safe to ~2e9
    rows).  No per-row ranking pass anywhere: one partial-agg shuffle
    to the 50-value grid, grid-sized window, scalar algebra."""
    apply_runtime_conf(spark)
    li = load_table(spark, sf_dir, "lineitem")
    # NULL quantities are missing observations, dropped on both
    # sides (r8 NULL-injection policy, see q_auc)
    # NaN/±inf/huge excluded with the NULLs: the exact-cents cast
    # raises in both engines off the int64 grid (extremes r11 wave 2)
    base = li.filter(
        F.col("l_returnflag").isin("A", "R")
        & F.col("l_quantity").isNotNull()
        & (F.abs("l_quantity") < F.lit(9.223372036854776e18))
    ).select(
        F.round("l_quantity").cast("bigint").alias("x"),
        F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("is_a"),
    )
    grid = base.groupBy("x").agg(
        F.count("*").cast("bigint").alias("c"),
        F.sum("is_a").cast("bigint").alias("ca"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = grid.select(
        "x",
        "c",
        "ca",
        (
            2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
        ).alias("rx2"),
    )
    s = ranked.agg(
        F.sum("ca").cast("bigint").alias("n1"),
        F.sum(F.col("c") - F.col("ca")).cast("bigint").alias("n2"),
        F.sum(F.col("ca") * F.col("rx2")).cast("bigint").alias("sa2"),
    )
    u1 = (
        F.col("sa2").cast("double")
        - F.col("n1").cast("double") * (F.col("n1") + 1)
    ) / 2
    return s.select(
        "n1",
        "n2",
        u1.alias("u1"),
        (F.col("n1").cast("double") * F.col("n2") - u1).alias("u2"),
    )


@query(
    "q_psi_drift",
    oracle="""
    WITH b AS (
        SELECT n_chars // 50 AS bucket,
               CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
        FROM documents
    ), grid AS (
        SELECT bucket, CAST(sum(is_ref) AS BIGINT) AS c0,
               CAST(sum(1 - is_ref) AS BIGINT) AS c1
        FROM b GROUP BY bucket
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(c0) AS BIGINT) AS t0,
               CAST(sum(c1) AS BIGINT) AS t1
        FROM grid
    )
    SELECT t0 AS n_ref, t1 AS n_cur, nb AS n_buckets,
           floor(sum(
               (CAST(c0 + 1 AS DOUBLE) / (t0 + nb)
                - CAST(c1 + 1 AS DOUBLE) / (t1 + nb))
               * (ln((c0 + 1) * (t1 + nb)) - ln((c1 + 1) * (t0 + nb)))
           ) * 1000000) / 1000000 AS psi
    FROM grid, tot GROUP BY t0, t1, nb
    """,
)
def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the even-id (reference) and
    odd-id (current) halves of the corpus over document-length buckets
    — THE model-monitoring drift metric (PSI < 0.1 stable, > 0.25
    drifted), run between a training snapshot and fresh ingestion
    before retraining.

    Add-one (Laplace) smoothing on every bucket keeps PSI defined when
    a bucket is empty on one side — the standard production guard,
    applied identically in both engines.  Every ln argument is an
    exact integer product ((c+1)·(T+B) < 2⁵³ → safe to ~9e7 docs per
    side at this bucket grid; beyond, pre-divide at 1-ulp cost), and
    the weights are ratios of identical integers — one 6-dp floor
    after the bucket-grid sum.

    Scale shape: one partial-agg shuffle to the bounded length-bucket
    grid; the PSI itself is grid-sized scalar algebra.  The split key
    (doc_id parity) is derived, not random — replayable."""
    apply_runtime_conf(spark)
    docs = load_table(spark, sf_dir, "documents")
    b = docs.select(
        F.expr("n_chars div 50").alias("bucket"),
        F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0).alias("is_ref"),
    )
    grid = b.groupBy("bucket").agg(
        F.sum("is_ref").cast("bigint").alias("c0"),
        F.sum(1 - F.col("is_ref")).cast("bigint").alias("c1"),
    )
    tot = grid.agg(
        F.count("*").cast("bigint").alias("nb"),
        F.sum("c0").cast("bigint").alias("t0"),
        F.sum("c1").cast("bigint").alias("t1"),
    )
    j = grid.crossJoin(F.broadcast(tot))
    term = (
        (F.col("c0") + 1).cast("double") / (F.col("t0") + F.col("nb"))
        - (F.col("c1") + 1).cast("double") / (F.col("t1") + F.col("nb"))
    ) * (
        F.log((F.col("c0") + 1) * (F.col("t1") + F.col("nb")))
        - F.log((F.col("c1") + 1) * (F.col("t0") + F.col("nb")))
    )
    return j.groupBy("t0", "t1", "nb").agg(
        fround(F.sum(term), 6).alias("psi")
    ).select(
        F.col("t0").alias("n_ref"),
        F.col("t1").alias("n_cur"),
        F.col("nb").alias("n_buckets"),
        "psi",
    )


def _mi_tokens_cte() -> str:
    return r"""
    tok AS (
        SELECT DISTINCT doc_id, lang,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
    ), dtok AS (
        SELECT DISTINCT doc_id, lang, w FROM tok WHERE w <> ''
    )"""


@query(
    "q_mutual_info",
    oracle=f"""
    WITH {_mi_tokens_cte()}, cells AS (
        SELECT w, lang, CAST(count(*) AS BIGINT) AS n_tc
        FROM dtok GROUP BY w, lang
    ), tokens AS (
        SELECT w, CAST(sum(n_tc) AS BIGINT) AS n_t FROM cells GROUP BY w
    ), langs AS (
        SELECT lang, CAST(count(*) AS BIGINT) AS nc
        FROM documents GROUP BY lang
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n FROM documents
    ), grid AS (
        SELECT t.w, t.n_t, l.lang, l.nc, coalesce(c.n_tc, 0) AS n_tc, n.n
        FROM tokens t CROSS JOIN langs l
        LEFT JOIN cells c ON c.w = t.w AND c.lang IS NOT DISTINCT FROM l.lang
        CROSS JOIN n
    ), terms AS (
        SELECT w, n_t,
               CASE WHEN n_tc > 0
                    THEN CAST(n_tc AS DOUBLE) / n
                         * (ln(n * n_tc) - ln(n_t * nc))
                    ELSE 0 END
               + CASE WHEN nc - n_tc > 0 AND n - n_t > 0
                      THEN CAST(nc - n_tc AS DOUBLE) / n
                           * (ln(n * (nc - n_tc)) - ln((n - n_t) * nc))
                      ELSE 0 END AS term
        FROM grid
    )
    SELECT w AS token, CAST(any_value(n_t) AS BIGINT) AS n_docs,
           floor(sum(term) * 1000000) / 1000000 AS mi
    FROM terms GROUP BY w
    ORDER BY mi DESC, token LIMIT 20
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 tokens by mutual information with the document language
    — the feature-selection primitive (which tokens most identify a
    class) behind supervised quality filters and classifier-based
    corpus routing.  Doc-level BINARY presence, with both the present
    and absent cells of each (token, lang) contingency contributing —
    the full I(T;C), not just the positive-PMI half q_word_cooccur
    grades.

    Exactness: every ln argument is an exact integer product
    (N·n_tc ≤ N² < 2⁵³ → safe to ~9.4e7 docs; beyond, pre-divide),
    weights are integer ratios, zero cells short-circuit to 0 via the
    same CASE in both engines; 6-dp floor then (mi DESC, token) makes
    the top-20 cut deterministic cross-engine.

    Scale shape: distinct (doc, lang, token) explode → ONE partial-agg
    shuffle to (token, lang) cells; the grid is vocabulary × |langs|
    (Heaps-sublinear × 5), langs broadcast; no per-row second pass."""
    apply_runtime_conf(spark)
    from etl_caltopo_spark.llm import text

    docs = load_table(spark, sf_dir, "documents")
    dtok = (
        docs.select(
            "doc_id", "lang", F.explode(text.tokens(F.col("text"))).alias("w")
        )
        .filter(F.col("w") != "")
        .distinct()
    )
    cells = dtok.groupBy("w", "lang").agg(
        F.count("*").cast("bigint").alias("n_tc")
    )
    tokens = cells.groupBy("w").agg(F.sum("n_tc").cast("bigint").alias("n_t"))
    langs = docs.groupBy("lang").agg(F.count("*").cast("bigint").alias("nc"))
    # corpus document count as an in-DAG broadcast scalar derived from
    # the lang aggregate already in the plan (advisor r6: the old
    # docs.count() was a second full scan via a driver action) — every
    # doc has exactly one lang row, so sum(nc) == |docs|
    n_total = langs.agg(F.sum("nc").cast("bigint").alias("n_all"))
    # null-safe lang equality (code-review r6): a NULL-lang document
    # group would otherwise never match its cells (NULL != NULL in
    # both engines), silently dropping present-cell mass IDENTICALLY
    # in Spark and the oracle — a shared-misconception class that
    # hash-parity cannot catch.  Latent on current data (no NULL
    # langs), enforced anyway.
    cells_r = cells.select(
        F.col("w").alias("cw"), F.col("lang").alias("clang"), "n_tc"
    )
    grid = (
        tokens.crossJoin(F.broadcast(langs))
        .crossJoin(F.broadcast(n_total))
        .join(
            cells_r,
            (F.col("w") == F.col("cw"))
            & F.col("lang").eqNullSafe(F.col("clang")),
            "left",
        )
        .select(
            "w",
            "n_t",
            "lang",
            "nc",
            "n_all",
            F.coalesce(F.col("n_tc"), F.lit(0)).alias("n_tc"),
        )
    )
    n = F.col("n_all")
    present = F.when(
        F.col("n_tc") > 0,
        F.col("n_tc").cast("double")
        / n
        * (F.log(n * F.col("n_tc")) - F.log(F.col("n_t") * F.col("nc"))),
    ).otherwise(F.lit(0.0))
    absent = F.when(
        ((F.col("nc") - F.col("n_tc")) > 0) & ((n - F.col("n_t")) > 0),
        (F.col("nc") - F.col("n_tc")).cast("double")
        / n
        * (
            F.log(n * (F.col("nc") - F.col("n_tc")))
            - F.log((n - F.col("n_t")) * F.col("nc"))
        ),
    ).otherwise(F.lit(0.0))
    terms = grid.select("w", "n_t", (present + absent).alias("term"))
    out = terms.groupBy("w").agg(
        F.any_value("n_t").cast("bigint").alias("n_docs"),
        fround(F.sum("term"), 6).alias("mi"),
    )
    return (
        out.select(F.col("w").alias("token"), "n_docs", "mi")
        .orderBy(F.col("mi").desc(), "token")
        .limit(20)
    )


@query(
    "q_seq_support",
    oracle="""
    WITH firsts AS (
        SELECT user_id, event_type, min(ts) AS ft
        FROM events GROUP BY user_id, event_type
    ), nu AS (
        SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS n,
           floor(CAST(count(*) AS DOUBLE) / any_value(nu.n_users)
                 * 1000000) / 1000000 AS support
    FROM firsts a
    JOIN firsts b ON a.user_id = b.user_id
        AND a.event_type <> b.event_type AND a.ft < b.ft
    CROSS JOIN nu
    GROUP BY a.event_type, b.event_type
    """,
)
def q_seq_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-pattern support: for each ordered pair of event
    types (a, b), the number and fraction of users whose FIRST a
    precedes their FIRST b — the 2-sequence support of classic
    sequence mining (GSP/PrefixSpan level 2), the funnel-discovery
    complement of q_event_transitions (which only sees ADJACENT
    pairs; this sees "a ever before b").

    Tie policy: equal first-occurrence timestamps count for neither
    direction (strict <) — deterministic in both engines.

    Scale shape: one user-keyed partial-agg shuffle to first
    occurrences (≤ |event types| rows per user), then a self-join
    CO-LOCATED on user_id whose fan-out is bounded by |types|² = 25
    per user, then a partial-agg to the 20-row support matrix.  The
    corpus-size scalar is a count, not a collect."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("ft"))
    # NULL-excluding distinct (nullkeys sweep r12): SQL's
    # count(DISTINCT user_id) IGNORES NULL, but DataFrame
    # .distinct().count() keeps the NULL row as a "user" — the support
    # denominator diverged by one the moment a NULL key existed.  (The
    # pair join itself already agrees: a NULL user matches no equi-join
    # in either engine, and NULL event types fail the <> filter's
    # three-valued logic identically.)
    n_users = (
        ev.where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    a = firsts.select(
        "user_id", F.col("event_type").alias("type_a"), F.col("ft").alias("fa")
    )
    b = firsts.select(
        "user_id", F.col("event_type").alias("type_b"), F.col("ft").alias("fb")
    )
    pairs = a.join(b, "user_id").filter(
        (F.col("type_a") != F.col("type_b")) & (F.col("fa") < F.col("fb"))
    )
    return pairs.groupBy("type_a", "type_b").agg(
        F.count("*").cast("bigint").alias("n"),
        fround(F.count("*").cast("double") / F.lit(n_users), 6).alias(
            "support"
        ),
    )


#: Morton interleave width — 16 bits per dimension, zkey < 2^32
_Z_BITS = 16


def _zkey_spark(x: str, y: str):
    """Σ_i ((x div 2^i) % 2)·4^i + ((y div 2^i) % 2)·2·4^i — bit
    interleave via div/mod arithmetic (no engine bit-op dialect)."""
    total = F.lit(0).cast("long")
    for i in range(_Z_BITS):
        total = (
            total
            + (F.col(x).cast("long") / (1 << i)).cast("long") % 2 * (4**i)
            + (F.col(y).cast("long") / (1 << i)).cast("long") % 2 * (2 * 4**i)
        )
    return total


def _zkey_sql(x: str, y: str) -> str:
    parts = []
    for i in range(_Z_BITS):
        parts.append(f"(({x} // {1 << i}) % 2) * {4 ** i}")
        parts.append(f"(({y} // {1 << i}) % 2) * {2 * 4 ** i}")
    return " + ".join(parts)


@query(
    "q_zorder_key",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey,
               CAST(o_custkey % 65536 AS BIGINT) AS x,
               CAST(datediff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) % 65536 AS BIGINT)
                   AS y
        FROM orders
    )
    SELECT o_orderkey, x, y,
           CAST({_zkey_sql('x', 'y')} AS BIGINT) AS zkey,
           CAST(({_zkey_sql('x', 'y')}) // {1 << 24} AS BIGINT) AS z_bucket
    FROM base
    """,
)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day) —
    the multi-dimensional data-layout primitive: writing files sorted
    by zkey gives parquet row-group min/max locality on BOTH dims at
    once, so point/range predicates on either column prune row groups
    (the technique behind Delta/Iceberg Z-ORDER OPTIMIZE).  z_bucket
    (top 8 bits) is the coarse partition a writer would range-split
    on.

    The 16-bit interleave is pure div/mod integer arithmetic — no
    engine-specific bit operators — so both engines derive identical
    keys; zkey < 2³² fits long.  Map-only: zero shuffles, zero joins;
    at 100 TB the only cost is the final range-partitioned sort the
    writer does anyway (repartitionByRange(zkey) + sortWithinPartitions
    — see DEPLOY.md)."""
    apply_runtime_conf(spark)
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 65536).cast("bigint").alias("x"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) % 65536
        ).cast("bigint").alias("y"),
    )
    zkey = _zkey_spark("x", "y")
    return base.select(
        "o_orderkey",
        "x",
        "y",
        zkey.cast("bigint").alias("zkey"),
        (zkey / (1 << 24)).cast("bigint").alias("z_bucket"),
    )


#: equi-width histogram sketch resolution
_QS_BINS = 128


@query(
    "q_quantile_sketch_portable",
    oracle=f"""
    WITH stats AS (
        SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM lineitem
    ), binned AS (
        SELECT CASE WHEN stats.hi = stats.lo THEN 0
                    ELSE least(CAST(floor((l_extendedprice - stats.lo)
                         / ((stats.hi - stats.lo) / {_QS_BINS})) AS BIGINT),
                         {_QS_BINS - 1}) END AS bin
        FROM lineitem, stats
    ), hist AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS c FROM binned GROUP BY bin
    ), cum AS (
        SELECT bin, CAST(sum(c) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM hist
    )
    SELECT stats.n,
           floor((stats.lo + (min(CASE WHEN cum >= ceil(0.5 * stats.n)
                                  THEN bin END) + 1)
                  * ((stats.hi - stats.lo) / {_QS_BINS})) * 1000000)
               / 1000000 AS p50_est,
           floor((stats.lo + (min(CASE WHEN cum >= ceil(0.9 * stats.n)
                                  THEN bin END) + 1)
                  * ((stats.hi - stats.lo) / {_QS_BINS})) * 1000000)
               / 1000000 AS p90_est,
           floor((stats.lo + (min(CASE WHEN cum >= ceil(0.99 * stats.n)
                                  THEN bin END) + 1)
                  * ((stats.hi - stats.lo) / {_QS_BINS})) * 1000000)
               / 1000000 AS p99_est,
           floor(((stats.hi - stats.lo) / {_QS_BINS}) * 1000000) / 1000000
               AS max_err
    FROM cum, stats GROUP BY stats.n, stats.lo, stats.hi
    """,
)
def q_quantile_sketch_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable equi-width histogram quantile sketch — p50/p90/p99 of
    extended price estimated from a {_QS_BINS}-bin histogram, with the
    guaranteed error bound (≤ one bin width) published alongside.  The
    mergeable-sketch pattern behind approx_percentile, reduced to a
    form BOTH engines replay bit-identically: (x−lo)/w, floor, clamp
    are the same IEEE-754 ops everywhere — hash-graded, unlike
    engine-specific KLL/GK sketches (q_percentile_approx's DuckDB
    twin grades Spark against exact quantiles instead).

    Scale shape: one min/max/count agg (broadcast scalar), one
    partial-agg shuffle to the {_QS_BINS}-row histogram — each
    executor's partial histogram is {_QS_BINS} longs, the map-side
    combine a trillion-row corpus needs.  The cumulative pass runs
    over the bin grid only.  Estimates take the UPPER edge of the
    first bin whose cumulative count reaches ⌈q·n⌉, so the true
    quantile is always ≤ the estimate and within one bin width."""
    apply_runtime_conf(spark)
    li = load_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    stats = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("*").cast("bigint").alias("n"),
    )
    wexpr = (F.col("hi") - F.col("lo")) / _QS_BINS
    # degenerate hi == lo (constant column): every row is bin 0 and the
    # estimate collapses to lo with zero error — guarded explicitly
    # because ANSI mode raises on the 0-width division
    bin_expr = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / wexpr).cast(
                "bigint"
            ),
            F.lit(_QS_BINS - 1),
        )
    )
    binned = li.crossJoin(F.broadcast(stats)).select(
        bin_expr.alias("bin"),
        "lo",
        "hi",
        "n",
    )
    hist = binned.groupBy("bin", "lo", "hi", "n").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin", "lo", "hi", "n", F.sum("c").over(w).cast("bigint").alias("cum")
    )

    def est(q: float):
        b = F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin"))
        )
        return fround(F.col("lo") + (b + 1) * wexpr, 6)

    return cum.groupBy("n", "lo", "hi").agg(
        est(0.5).alias("p50_est"),
        est(0.9).alias("p90_est"),
        est(0.99).alias("p99_est"),
    ).select(
        "n",
        "p50_est",
        "p90_est",
        "p99_est",
        fround(wexpr, 6).alias("max_err"),
    )


@query(
    "q_dp_histogram",
    oracle=f"""
    WITH g AS (
        SELECT {sql_bucket_long("value", 10.0)} AS bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ), noised AS (
        SELECT bucket, n,
               (CAST((((bucket % 2147483647) + 2147483647) % 2147483647)
                     * 2654435761 % 4294967296 AS DOUBLE) + 0.5)
                   / 4294967296.0 - 0.5 AS v
        FROM g
    )
    SELECT bucket, n,
           floor((n + CASE WHEN v >= 0 THEN -ln(1 - 2 * v)
                           ELSE ln(1 + 2 * v) END) * 10000) / 10000
               AS noisy_count
    FROM noised
    """,
)
def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy-shaped HISTOGRAM release: value-bucket
    counts plus Laplace(1/ε) noise (ε = 1) — the disjoint-bins sibling
    of q_dp_count (parallel composition: one release covers every
    bucket at the same ε because buckets partition the rows).

    HONESTY NOTE (same as q_dp_count): the uniform draw is a
    deterministic multiplicative hash of the INTEGER bucket id so both
    engines replay the identical release and the oracle hash-grades
    the mechanism; production draws fresh randomness.  The mod
    normalizes to non-negative in both engines before the multiply
    (Spark and DuckDB both keep the dividend's sign).

    Scale shape: one partial-agg shuffle to the bounded bucket grid;
    noise is a scalar expression per bucket.  ROW-COMPLETE like
    q_histogram: off-int64-grid values (NaN/±inf/huge — extremes
    sweep r11) share the NULL bucket, whose noisy count degrades to
    NULL in both engines (the noise draw needs an integer bucket)."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    g = ev.groupBy(
        bucket_long(F.col("value"), 10.0).alias("bucket")
    ).agg(F.count("*").cast("bigint").alias("n"))
    nonneg = ((F.col("bucket") % 2147483647) + 2147483647) % 2147483647
    draw = (
        ((nonneg * 2654435761) % 4294967296).cast("double") + 0.5
    ) / 4294967296.0
    v = draw - 0.5
    z = F.when(v >= 0, -1.0 * F.log(1 - 2 * v)).otherwise(
        F.log(1 + 2 * v)
    )
    return g.select(
        "bucket", "n", fround(F.col("n") + z, 4).alias("noisy_count")
    )


#: hot-hub cap for the 2-hop middle node (same df-cap policy as
#: q_dedup_containment / q_winnowing_overlap)
_HOP_CAP = 128


#: ordered-pair budget for the EXACT Σdeg² path-materializing 2-hop
#: form (probed with one cheap per-order aggregate, an upper bound on
#: |E| before dedup).  ~2.4M at sf0.1, ~24M at the 10× probe — the
#: default keeps the documented exact baselines runnable and refuses
#: past ~sf2, where only the sketch is sane (VERDICT r6 #5; mirrors
#: similarity.knn_candidate_pairs' collect bound).
_EXACT_2HOP_MAX_PAIRS = 50_000_000


def _ordered_pair_bound(spark: SparkSession, sf_dir: str) -> int:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    row = (
        li.groupBy("l_orderkey")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(F.col("n") * (F.col("n") - 1)).alias("p"))
        .first()
    )
    return int(row["p"] or 0)


def two_hop_reach(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_exact_pairs: int = _EXACT_2HOP_MAX_PAIRS,
) -> DataFrame:
    """Size-dispatched 2-hop reach: the exact path-materializing form
    below the ordered-pair budget, the O(64·|E|) HyperANF sketch
    above it — the automatic router VERDICT r6 #5 asked for, mirroring
    the kNN pattern (exact-GEMM below the collect bound, IVF above).
    Output schemas differ (exact counts vs register estimates); the
    caller picks the dispatcher precisely when it accepts either."""
    import os

    # plan-observability escape hatch, mirrored from q_graph_2hop's
    # inner guard: a plan dump must run ZERO jobs, and the plan being
    # audited through the dispatcher is the exact form (r7 review —
    # without this, lazy mode ran the probe AND dumped the sketch)
    if os.environ.get("SPARK_GRAFT_LAZY_PLANS") == "1":
        return q_graph_2hop(
            spark, sf_dir, max_exact_pairs=max_exact_pairs, pair_bound=0
        )
    bound = _ordered_pair_bound(spark, sf_dir)
    if bound <= max_exact_pairs:
        # pass the probe result down — the guard inside q_graph_2hop
        # would otherwise re-run the identical lineitem aggregate
        return q_graph_2hop(
            spark, sf_dir, max_exact_pairs=max_exact_pairs, pair_bound=bound
        )
    return q_graph_2hop_sketch(spark, sf_dir)



@query(
    "q_graph_2hop",
    oracle=f"""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), deg AS (
        SELECT src, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY src
    ), mid_ok AS (
        SELECT src FROM deg WHERE d <= {_HOP_CAP}
    ), paths AS (
        SELECT DISTINCT e1.src AS a, e2.dst AS c
        FROM e e1
        JOIN mid_ok m ON e1.dst = m.src
        JOIN e e2 ON e1.dst = e2.src
        WHERE e1.src <> e2.dst
    ), indirect AS (
        SELECT p.a, p.c FROM paths p
        LEFT JOIN e ON e.src = p.a AND e.dst = p.c
        WHERE e.src IS NULL
    )
    SELECT a AS part, CAST(count(*) AS BIGINT) AS n_2hop
    FROM indirect GROUP BY a
    """,
)
def q_graph_2hop(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_exact_pairs: int = _EXACT_2HOP_MAX_PAIRS,
    pair_bound: int | None = None,
) -> DataFrame:
    """Two-hop neighborhood size per part in the co-purchase graph —
    distinct parts reachable in exactly two hops but NOT directly
    connected (the friend-of-friend candidate pool behind
    recommendation and link prediction).

    The scale guard is the MIDDLE-node degree cap (≤ {_HOP_CAP}): path
    fan-out through node b costs deg(b)², so hubs are excluded from
    the middle position — the same bounded-fan-out policy as
    q_dedup_containment's stop-shingle cap, and the reason this stays
    O(Σ capped-deg²) instead of quadratic in the hub degree.  The
    direct-edge exclusion is a left-anti join on the deduped pair set.

    REFUSAL GUARD (VERDICT r6 #5): even capped, the exact form
    materializes path rows and is the documented small-scale baseline
    (198 s at the 10× probe); past ``max_exact_pairs`` ordered
    co-purchase pairs it raises and points at the sketch —
    :func:`two_hop_reach` is the size-dispatched entry that routes
    automatically.

    Shapes: order-co-located pair generation (the q_graph_degree
    shuffle), degree partial-agg, two equi-joins on the shared part
    key, distinct, anti-join, final partial-agg — every join
    key-partitioned, nothing collected."""
    apply_runtime_conf(spark)
    import os

    # the refusal probe is itself an eager Spark job; under the plan-
    # observability escape hatch (tools/dump_plans.py) skip it entirely
    # — a plan dump must run zero jobs.  The dispatcher passes its own
    # probe result down so dispatch costs one lineitem aggregate, not
    # two (r7 review findings #2/#3).
    if os.environ.get("SPARK_GRAFT_LAZY_PLANS") == "1":
        bound = 0
    elif pair_bound is not None:
        bound = pair_bound
    else:
        bound = _ordered_pair_bound(spark, sf_dir)
    if bound > max_exact_pairs:
        raise ValueError(
            f"q_graph_2hop: ordered co-purchase pair bound {bound} exceeds "
            f"max_exact_pairs={max_exact_pairs}; use q_graph_2hop_sketch "
            "(O(64*|E|) HyperANF estimate) or two_hop_reach (size-"
            "dispatched) at this scale"
        )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    a = li.alias("a")
    b = li.alias("b")
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .distinct()
    )
    # the edge list feeds FOUR consumers (both path sides, the degree
    # cap, the direct-edge anti-join); without materialization Catalyst
    # re-runs the pair-gen + distinct for each.  Same plan-observability
    # escape hatch as llm/dedup.py: dump_plans sets the env var to keep
    # the pair-generation plan reviewable.
    if os.environ.get("SPARK_GRAFT_LAZY_PLANS") != "1":
        e = e.localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    # The degree table feeds TWO consumers: the eager width probe
    # below and the lazy mid_ok cap filter inside the main job —
    # without materialization the groupBy exchange+aggregate runs
    # twice (optimization r15, VERDICT r14 #7: batch the probes).
    # persist (not localCheckpoint — no extra eager action): the
    # probe's own action fills the cache (one narrow (long, long) row
    # per distinct part — orders of magnitude below e) and the main
    # job reads it instead of re-running the exchange.  Measured
    # sf0.1: wall flat (the pair exchange dominates); the saved work
    # is the second |E|-row exchange+aggregate, which grows with the
    # graph.  AQE splits the cached probe into 2 more (sub-second)
    # driver jobs — the trade is fewer executed stages in the main
    # job.  Skipped under LAZY_PLANS with the probe itself.
    if os.environ.get("SPARK_GRAFT_LAZY_PLANS") != "1":
        deg = deg.persist()
    mid_ok = deg.filter(F.col("d") <= _HOP_CAP).select("src")
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("m"))
    e2 = e.select(F.col("src").alias("m"), F.col("dst").alias("c"))
    # the co-purchase graph is symmetric, so the 2-hop pair set is too:
    # keep only a < c through the dedup (halving its shuffle volume)
    # and mirror at the end
    paths = (
        e1.join(mid_ok.withColumnRenamed("src", "m"), "m")
        .join(e2, "m")
        .filter(F.col("a") < F.col("c"))
        .select("a", "c")
    )
    # Dedup + direct-edge exclusion fused into ONE complete-mode
    # aggregate (optimization r14, guide §2.3/§2.4).  The old
    # `.distinct()` + left-anti pipeline paid a map-side partial
    # aggregate over the path rows (measured sf0.1: 73.7M rows in,
    # 60M out — only 1.23x duplication, so the partial pass built
    # multi-million-entry hash maps, spilled 383 MB, and burned 573 s
    # of stage CPU to drop 19% of rows) and then a second shuffle +
    # sort of the 60M survivors for the anti-join.  Instead: union
    # the path rows with the direct edges carrying a flag, repartition
    # on the pair key (keyed, no fixed N — AQE sizes the exchange at
    # any scale), and run ONE complete-mode hash aggregate whose
    # max(flag) both dedups and marks direct pairs; the filter drops
    # them.  Same rows out, one exchange + one aggregate instead of
    # two exchanges + two aggregates + a sort-merge anti-join
    # (measured: 36.5 s -> 18.2 s warm on the tail at sf0.1; the
    # partial-agg variant of the same fusion read 58 s, so skipping
    # the near-no-op partial pass is the win, not the fusion alone).
    direct = e.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("c")
    )
    u = paths.withColumn("_direct", F.lit(0)).unionByName(
        direct.withColumn("_direct", F.lit(1))
    )
    # Scale-adaptive width for the pair exchange: AQE only coalesces
    # DOWN from spark.sql.shuffle.partitions, but the complete-mode
    # aggregate below needs per-task hash maps bounded in KEYS (a
    # 32-way split of 60M pairs spilled 532 MB into the sort-based
    # fallback).  The exact path-row count is one cheap scalar over
    # the degree table: sum over capped middles of d² (halved by the
    # a < c filter), so derive the width from it — ~1M keys/task keeps
    # every map under ~64 MB at any scale (SPARK_GRAFT_AGG_ROWS_PER_TASK
    # overrides for clusters with different task memory).
    if os.environ.get("SPARK_GRAFT_LAZY_PLANS") == "1":
        n_parts = spark.sparkContext.defaultParallelism
    else:
        path_est = (
            deg.filter(F.col("d") <= _HOP_CAP)
            .agg(F.sum(F.col("d") * F.col("d")).alias("p2"))
            .first()["p2"]
            or 0
        ) // 2
        rows_per_task = int(
            os.environ.get("SPARK_GRAFT_AGG_ROWS_PER_TASK", "1000000")
        )
        n_parts = max(
            spark.sparkContext.defaultParallelism,
            min(32768, -(-int(path_est) // rows_per_task)),
        )
    indirect = (
        u.repartition(n_parts, "a", "c")
        .groupBy("a", "c")
        .agg(F.max("_direct").alias("_mf"))
        .filter(F.col("_mf") == 0)
        .select("a", "c")
    )
    # the mirror is an explode, NOT a self-union: a union would make
    # `indirect` a two-consumer subtree and run the 60M-key aggregate
    # TWICE (measured: 1350 MB shuffle read against the exchange's
    # 675 MB write, 457 s stage CPU for two passes); explode(array(a,c))
    # emits both endpoints in the aggregate's single pass, and the
    # per-part count collapses map-side before its (tiny) exchange.
    out = (
        indirect.select(F.explode(F.array("a", "c")).alias("part"))
        .groupBy("part")
        .agg(F.count("*").cast("bigint").alias("n_2hop"))
    )
    if os.environ.get("SPARK_GRAFT_LAZY_PLANS") == "1":
        return out
    # materialize the (one row per part) result so the degree cache can
    # be released before returning, as llm/dedup.py does: a cache left
    # behind stays pinned for the rest of the session.  localCheckpoint
    # blocks go with the returned frame (ContextCleaner).
    out = out.localCheckpoint(eager=True)
    deg.unpersist()
    return out


@query(
    "q_graph_2hop_sketch",
    # headline ADDITION (optimization r15): after two rounds of
    # off-headline optimization the 20 original headliners no longer
    # cover the engine's hot paths — this id is the registry's graph
    # scale path (multi-second, genuinely parallel hot stage), so the
    # driver's bench and its low-core scaling probe can finally see it.
    headline=True,
    oracle="""
    WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM li a JOIN li b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ), h AS (
        SELECT src,
               ((((dst % 2147483648) * 1000003) % 2147483648)
                * 2654435761) % 4294967296 AS hv
        FROM e
    ), r AS (
        SELECT src, hv >> 26 AS bucket, hv & 67108863 AS w FROM h
    ), regs1 AS (
        SELECT src, bucket,
               max(CASE WHEN w = 0 THEN 27
                        ELSE 26 - CAST(floor(log2(w)) AS INT) END) AS mx
        FROM r GROUP BY src, bucket
    ), merged AS (
        SELECT a, bucket, max(mx) AS mx FROM (
            SELECT e.src AS a, r1.bucket, r1.mx
            FROM e JOIN regs1 r1 ON e.dst = r1.src
            UNION ALL
            SELECT src AS a, bucket, mx FROM regs1
        ) GROUP BY a, bucket
    ), agg AS (
        SELECT a, sum(pow(2.0, -mx)) AS s, count(*) AS nz
        FROM merged GROUP BY a
    )
    SELECT a AS part, CAST(nz AS BIGINT) AS n_buckets,
           floor(CASE WHEN (0.709 * 4096 / (s + 64 - nz)) <= 160 AND nz < 64
                      THEN 64 * ln(64.0 / (64 - nz))
                      ELSE 0.709 * 4096 / (s + 64 - nz) END * 10000) / 10000
               AS est_reach2
    FROM agg
    """,
)
def q_graph_2hop_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part 2-hop reach ESTIMATE via mergeable HLL registers — the
    graded SCALE path for q_graph_2hop (VERDICT r5 #1), one HyperANF
    iteration: sketch each node's 1-hop neighborhood into m = 64 portable
    registers (α₆₄ = 0.709, σ = 1.04/√64 ≈ 13 %), then merge each node's own registers with its
    neighbors' by register-wise max.  The merged sketch estimates
    |ball_2(a)| = distinct nodes within ≤2 hops (direct neighbors
    included; the start node itself re-enters through any back-path
    a→m→a of the symmetric co-purchase graph, so for deg ≥ 1 the ball
    contains a — documented estimator semantics, not subtracted, since
    register sketches don't support deletion).

    Why this is the 100-TB plan and the exact id isn't: the exact form
    materializes Σ deg(mid)² distinct path rows (198 s at the 10×
    probe even under the ≤128 mid-degree cap); here each edge carries
    at most 64 register rows into ONE equi-join — total work
    O(64·|E|), NO degree cap needed, hubs cost deg(hub)·64 not
    deg(hub)².  Exactly the register-merge mechanism
    q_hll_merge_portable proves DuckDB replays bit-identically
    (associative/commutative/idempotent max ⇒ order-free), and the
    same estimate discipline as q_hll_portable: Σ2^−mx is a sum of
    dyadic rationals (exact in double in any order — and the harmonic
    denominator adds (m − nz) so EMPTY registers contribute 2⁰ = 1
    each, the standard-HLL term that keeps sparse balls in the
    linear-counting range), ln only of exact integer ratios, 4-dp
    floor.  Measured quality: 5 % median / 11.5 % max relative error
    vs the exact ball sizes at sf0.01 (m = 16 was 44 % — too few
    registers for ~2000-node balls); dense + sparse pins in
    tests/test_round5_wave2.py.

    Scale shapes: order-co-located pair gen (shared with q_graph_2hop),
    one (src, bucket) partial agg, one equi-join on dst (register rows
    ≤ 64 per edge), one (a, bucket) partial agg, one per-node rollup —
    every stage key-partitioned, nothing collected, no distinct-path
    materialization."""
    apply_runtime_conf(spark)
    # dedup to (order, part) BEFORE the self-join (r14, same bound as
    # q_market_basket): repeat lines never change the DISTINCT pair set
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .dropDuplicates(["l_orderkey", "l_partkey"])
    )
    a = li.alias("a")
    b = li.alias("b")
    # NO distinct on the pair stream (r14): every downstream consumer
    # is an idempotent register MAX (duplicate (src, dst) rows update
    # the same register to the same value) and nz counts present
    # buckets, so deduplicating the pairs costs two full shuffled
    # aggregates over |pairs| rows per consumer and changes NOTHING —
    # the oracle's DISTINCT e is replayed exactly by idempotence.
    # Pair-gen itself stays a broadcast probe (the deduped (order,
    # part) side broadcasts), so each of e's two consumers (register
    # derivation + frontier join) re-runs only a map-side join.
    e = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") != F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
    )
    # id pre-reduced mod 2^31 before the Knuth multiply — identical hv,
    # no int64 overflow at snowflake-scale ids (bigids r14, #35)
    hv = (
        (((F.col("dst") % 2147483648) * 1000003) % 2147483648)
        * 2654435761
        % 4294967296
    )
    rank = F.when(F.col("w") == 0, F.lit(27)).otherwise(
        26 - F.floor(F.log2("w")).cast("int")
    )
    # mx is materialized ONCE per pair row in the projection (r14):
    # referenced inside each of the 64 conditional maxes it would be
    # re-evaluated (floor+log2) 64x per row — measured as the round's
    # hottest stage (126 s CPU for the pivot partial agg).
    r = e.select(
        "src",
        F.shiftright(hv, 26).alias("bucket"),
        hv.bitwiseAND(F.lit(67108863)).alias("w"),
    ).select("src", "bucket", rank.alias("mx"))
    # Registers PACKED as 64 columns via conditional max (r14): the
    # row-per-register shape emitted 64·|E| (a, bucket, mx) rows into
    # the merge aggregate (~150M rows at sf0.1, the round's single
    # most expensive stage); one row per node/edge with 64 narrow int
    # columns carries identical register values (max over an absent
    # bucket is NULL = empty register), the merge becomes |E| rows
    # through vectorized per-column maxes, and the estimator's Σ2^−mx
    # is a fixed-order sum of ≤64 dyadic rationals — exact in double
    # in ANY order, so bits cannot move.
    packed = r.groupBy("src").agg(
        *[
            F.max(F.when(F.col("bucket") == k, F.col("mx"))).alias(f"m{k}")
            for k in range(64)
        ]
    )
    reg_cols = [f"m{k}" for k in range(64)]
    # HyperANF merge step: each node folds in its neighbors' 1-hop
    # registers (one packed row per edge — the whole reason this
    # scales).  shuffle_hash on the register side (guide §3.1, the
    # q_triangle_count recipe): the planner's sort-merge choice SORTED
    # the whole pair stream; the build side is one shuffle-partition
    # slice of the |nodes|-row register table (shrinks with shuffle
    # width at scale — safe where a forced broadcast of the register
    # table would OOM at real node counts), the probe is the pair
    # stream, no sort.
    neighbor_regs = e.join(
        packed.withColumnRenamed("src", "dst").hint("shuffle_hash"), "dst"
    ).select(F.col("src").alias("a"), *reg_cols)
    own_regs = packed.select(F.col("src").alias("a"), *reg_cols)
    merged = (
        neighbor_regs.unionByName(own_regs)
        .groupBy("a")
        .agg(*[F.max(c).alias(c) for c in reg_cols])
    )
    agg = merged.select(
        "a",
        sum(
            F.coalesce(F.pow(F.lit(2.0), -F.col(c)), F.lit(0.0))
            for c in reg_cols
        ).alias("s"),
        sum(
            F.col(c).isNotNull().cast("long") for c in reg_cols
        ).alias("nz"),
    )
    # the harmonic denominator MUST count empty registers at 2^0 = 1
    # each (s is aggregated only over present buckets): without the
    # (m - nz) term a sparse ball (nz << 64) blows raw past the
    # linear-counting gate and overestimates by orders of magnitude
    raw = 0.709 * 4096 / (F.col("s") + 64 - F.col("nz"))
    est = F.when(
        (raw <= 160) & (F.col("nz") < 64),
        64 * F.log(64.0 / (64 - F.col("nz"))),
    ).otherwise(raw)
    return agg.select(
        F.col("a").alias("part"),
        F.col("nz").cast("bigint").alias("n_buckets"),
        fround(est, 4).alias("est_reach2"),
    )


@query(
    "q_mrr",
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rnk
        FROM events
    ), per_user AS (
        SELECT user_id, min(CASE WHEN rel = 1 THEN rnk END) AS first_rel
        FROM ranked GROUP BY user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(first_rel) AS BIGINT) AS n_hit,
           floor(sum(coalesce(1.0 / first_rel, 0.0)) / count(*)
                 * 1000000) / 1000000 AS mrr
    FROM per_user
    """,
)
def q_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of the first 'purchase' in each user's
    value-ranked event list — the ranking-eval metric (search,
    recommendation, retrieval-augmented pipelines) that complements
    q_auc (threshold-free classification) and q_ann_recall_eval
    (set-level recall): MRR grades POSITION of the first hit.

    Determinism: the ranking ties on value break by event_id (a total
    order), so both engines rank identically; 1/rank terms are exact
    integer reciprocals, and the user-level sum's order drift is
    absorbed by the single 6-dp floor on the mean.

    Scale shape: one user-partitioned window (rank), one user-keyed
    partial agg, one scalar rollup — never a global sort."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id"
    )
    ranked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
        F.row_number().over(w).alias("rnk"),
    )
    per_user = ranked.groupBy("user_id").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rnk"))).alias("first_rel")
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.count("first_rel").cast("bigint").alias("n_hit"),
        fround(
            F.sum(F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)))
            / F.count("*"),
            6,
        ).alias("mrr"),
    )


@query(
    "q_ndcg",
    oracle="""
    WITH ranked AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY value DESC, event_id) AS rnk
        FROM events
    ), dcg AS (
        SELECT user_id, sum(rel / log2(rnk + 1)) AS dcg
        FROM ranked WHERE rnk <= 10 GROUP BY user_id
    ), nrel AS (
        SELECT user_id, CAST(least(sum(rel), 10) AS BIGINT) AS k
        FROM ranked GROUP BY user_id
    ), per_user AS (
        SELECT n.user_id,
               CASE WHEN n.k = 0 THEN 0.0
                    ELSE coalesce(d.dcg, 0.0)
                         / list_sum(list_transform(
                               range(1, CAST(n.k + 1 AS INT)),
                               i -> 1.0 / log2(i + 1)))
               END AS ndcg
        FROM nrel n LEFT JOIN dcg d USING (user_id)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           floor(sum(ndcg) / count(*) * 1000000) / 1000000 AS mean_ndcg
    FROM per_user
    """,
)
def q_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean NDCG@10 over each user's value-ranked event list with
    'purchase' as the relevant class — the graded-position ranking
    metric (how well do the top-10 slots concentrate the relevant
    items), normalized per user by the ideal DCG of the SAME item set
    so users with different relevant counts compare fairly.

    Cross-engine exactness: ranks tie-break on event_id; every
    1/log2(i+1) term is the same libm double of a small integer in
    both engines; the ideal-DCG fold runs in ascending-i order on both
    sides (sequential higher-order fold), and the one 6-dp floor on
    the mean absorbs user-level summation drift.

    Scale shape: one user-partitioned window, two user-keyed partial
    aggs joined on the user key, one scalar rollup."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), "event_id"
    )
    ranked = ev.select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("rel"),
        F.row_number().over(w).alias("rnk"),
    )
    dcg = (
        ranked.filter(F.col("rnk") <= 10)
        .groupBy("user_id")
        .agg(F.sum(F.col("rel") / F.log2(F.col("rnk") + 1)).alias("dcg"))
    )
    nrel = ranked.groupBy("user_id").agg(
        F.least(F.sum("rel"), F.lit(10)).cast("bigint").alias("k")
    )
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.col("k").cast("int")),
        F.lit(0.0),
        lambda acc, i: acc + 1.0 / F.log2(i + 1),
    )
    per_user = nrel.join(dcg, "user_id", "left").select(
        F.when(F.col("k") == 0, F.lit(0.0))
        .otherwise(F.coalesce(F.col("dcg"), F.lit(0.0)) / idcg)
        .alias("ndcg")
    )
    return per_user.agg(
        F.count("*").cast("bigint").alias("n_users"),
        fround(F.sum("ndcg") / F.count("*"), 6).alias("mean_ndcg"),
    )


@query(
    "q_hll_merge_portable",
    oracle="""
    WITH h AS (
        SELECT event_type,
               ((((user_id % 2147483648) * 1000003) % 2147483648)
                * 2654435761) % 4294967296 AS hv
        FROM events
    ), r AS (
        SELECT event_type, hv >> 28 AS bucket, hv & 268435455 AS w FROM h
    ), regs_t AS (
        SELECT event_type, bucket,
               max(CASE WHEN w = 0 THEN 29
                        ELSE 28 - CAST(floor(log2(w)) AS INT) END) AS mx
        FROM r GROUP BY event_type, bucket
    ), all_scopes AS (
        SELECT event_type AS scope, bucket, mx FROM regs_t
        UNION ALL
        SELECT '__merged__' AS scope, bucket, max(mx) AS mx
        FROM regs_t GROUP BY bucket
    ), agg AS (
        SELECT scope, sum(pow(2.0, -mx)) AS s, count(*) AS nz
        FROM all_scopes GROUP BY scope
    )
    SELECT scope, CAST(nz AS BIGINT) AS n_buckets,
           floor(CASE WHEN (0.673 * 256 / (s + 16 - nz)) <= 40 AND nz < 16
                      THEN 16 * ln(16.0 / (16 - nz))
                      ELSE 0.673 * 256 / (s + 16 - nz) END * 10000) / 10000 AS estimate
    FROM agg
    """,
)
def q_hll_merge_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed HLL MERGEABILITY, hash-graded: per-event-type
    partial sketches (16 registers over the portable multiplicative
    hash of user_id) merge by register-wise max into a combined
    sketch whose estimate is computed ONLY from the partials — the
    exact operation a 1000-executor cluster performs when every
    executor sketches its partition and the driver merges registers.
    Because max is associative/commutative/idempotent and every event
    carries a type, the merged registers PROVABLY equal the global
    sketch's (pinned in tests); the graded output carries both the
    five per-type estimates and the merged one.

    No distinct anywhere: duplicates are absorbed by max() — the HLL
    property that makes the sketch one partial-agg shuffle at any
    scale.  Dyadic-rational register sums are exact in double
    regardless of order (the q_hll_portable argument); ln only of
    exact integer ratios; 4-dp floor."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    # id pre-reduced mod 2^31 before the Knuth multiply — identical hv,
    # no int64 overflow at snowflake-scale ids (bigids r14, #35)
    hv = (
        (((F.col("user_id") % 2147483648) * 1000003) % 2147483648)
        * 2654435761
        % 4294967296
    )
    r = ev.select(
        "event_type",
        F.shiftright(hv, 28).alias("bucket"),
        hv.bitwiseAND(F.lit(268435455)).alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(29)).otherwise(
        28 - F.floor(F.log2("w")).cast("int")
    )
    regs_t = r.groupBy("event_type", "bucket").agg(F.max(rank).alias("mx"))
    merged = regs_t.groupBy("bucket").agg(F.max("mx").alias("mx")).select(
        F.lit("__merged__").alias("scope"), "bucket", "mx"
    )
    scopes = regs_t.select(
        F.col("event_type").alias("scope"), "bucket", "mx"
    ).unionByName(merged)
    agg = scopes.groupBy("scope").agg(
        F.sum(F.pow(F.lit(2.0), -F.col("mx"))).alias("s"),
        F.count("*").alias("nz"),
    )
    # empty registers contribute 2^0 = 1 to the harmonic sum (s only
    # aggregates present buckets; saturated event data has nz = 16 so
    # the term is 0 there, but the estimator is now sparse-correct)
    raw = 0.673 * 256 / (F.col("s") + 16 - F.col("nz"))
    est = F.when(
        (raw <= 40) & (F.col("nz") < 16),
        16 * F.log(16.0 / (16 - F.col("nz"))),
    ).otherwise(raw)
    return agg.select(
        "scope",
        F.col("nz").cast("bigint").alias("n_buckets"),
        fround(est, 4).alias("estimate"),
    )


@query(
    "q_quantile_sketch_grouped",
    oracle=f"""
    WITH stats AS (
        SELECT l_returnflag AS flag, min(l_extendedprice) AS lo,
               max(l_extendedprice) AS hi, CAST(count(*) AS BIGINT) AS n
        FROM lineitem GROUP BY l_returnflag
    ), binned AS (
        SELECT s.flag, s.lo, s.hi, s.n,
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE least(CAST(floor((l.l_extendedprice - s.lo)
                         / ((s.hi - s.lo) / {_QS_BINS})) AS BIGINT),
                         {_QS_BINS - 1}) END AS bin
        FROM lineitem l JOIN stats s ON l.l_returnflag = s.flag
    ), hist AS (
        SELECT flag, lo, hi, n, bin, CAST(count(*) AS BIGINT) AS c
        FROM binned GROUP BY flag, lo, hi, n, bin
    ), cum AS (
        SELECT flag, lo, hi, n, bin,
               CAST(sum(c) OVER (PARTITION BY flag ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum
        FROM hist
    )
    SELECT flag, n,
           floor((lo + (min(CASE WHEN cum >= ceil(0.5 * n) THEN bin END) + 1)
                  * ((hi - lo) / {_QS_BINS})) * 1000000) / 1000000 AS p50_est,
           floor((lo + (min(CASE WHEN cum >= ceil(0.9 * n) THEN bin END) + 1)
                  * ((hi - lo) / {_QS_BINS})) * 1000000) / 1000000 AS p90_est,
           floor((lo + (min(CASE WHEN cum >= ceil(0.99 * n) THEN bin END) + 1)
                  * ((hi - lo) / {_QS_BINS})) * 1000000) / 1000000 AS p99_est,
           floor(((hi - lo) / {_QS_BINS}) * 1000000) / 1000000 AS max_err
    FROM cum GROUP BY flag, n, lo, hi
    """,
)
def q_quantile_sketch_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group histogram quantile sketch — p50/p90/p99 of extended
    price PER RETURN FLAG, each group carrying its own {_QS_BINS}-bin
    equi-width sketch over its own [min, max] — the realistic
    production shape (per-domain latency percentiles, per-source
    length profiles) of q_quantile_sketch_portable.

    Scale shape: one group-keyed min/max/count agg (3 rows, broadcast
    back), one partial-agg shuffle to the (group, bin) grid, and the
    cumulative pass runs per group over {_QS_BINS} bins (PARTITIONed
    window — no single-task stage, unlike the global sibling).  Same
    IEEE-identical binning, upper-edge estimates, and published
    one-bin error bound."""
    apply_runtime_conf(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"), "l_extendedprice"
    )
    stats = li.groupBy("flag").agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("*").cast("bigint").alias("n"),
    )
    wexpr = (F.col("hi") - F.col("lo")) / _QS_BINS
    # same degenerate-range guard as the global sibling: a group whose
    # values are all equal maps to bin 0 (ANSI raises on the 0-width
    # division otherwise)
    bin_expr = F.when(F.col("hi") == F.col("lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("l_extendedprice") - F.col("lo")) / wexpr).cast(
                "bigint"
            ),
            F.lit(_QS_BINS - 1),
        )
    )
    binned = li.join(F.broadcast(stats), "flag").select(
        "flag",
        "lo",
        "hi",
        "n",
        bin_expr.alias("bin"),
    )
    hist = binned.groupBy("flag", "lo", "hi", "n", "bin").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w = (
        Window.partitionBy("flag")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = hist.select(
        "flag", "lo", "hi", "n", "bin",
        F.sum("c").over(w).cast("bigint").alias("cum"),
    )

    def est(q: float):
        b = F.min(
            F.when(F.col("cum") >= F.ceil(F.lit(q) * F.col("n")), F.col("bin"))
        )
        return fround(F.col("lo") + (b + 1) * wexpr, 6)

    return cum.groupBy("flag", "n", "lo", "hi").agg(
        est(0.5).alias("p50_est"),
        est(0.9).alias("p90_est"),
        est(0.99).alias("p99_est"),
    ).select(
        "flag",
        "n",
        "p50_est",
        "p90_est",
        "p99_est",
        fround(wexpr, 6).alias("max_err"),
    )


#: bloom-prefilter parameters: 4 universal hashes into an m-bit space
_BLOOM_A = (131, 1031, 8101, 65537)
_BLOOM_B = (7, 911, 5021, 30011)
_BLOOM_M = 4096


@query(
    "q_join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o.o_orderpriority
    """,
)
def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join reduction graded for EXACTNESS: before joining
    the fact to a selective dim subset, the fact is prefiltered
    through a 4-hash/4096-bit Bloom filter built from the dim's join
    keys — expressed as FOUR successive BROADCAST LEFT-SEMI joins
    against the distinct bit-position table (the Spark-native bloom
    AND: every probe is map-side, the fact never shuffles, no driver
    collect anywhere).  False positives survive the prefilter and are
    removed by the real join; false negatives cannot exist (every dim
    key set its own bits), so the aggregate must EQUAL the plain-join
    oracle — result equality IS the proof of the rewrite, the
    q_join_skew_salted grading pattern.

    When it pays at 100 TB: the main join is a SHUFFLE join (dim too
    big to broadcast) but the dim's KEY SET still fits a few KB of
    bloom bits — the prefilter then drops the non-matching fact
    majority before the exchange (this is what AQE's runtime bloom
    filters automate; the manual form also works for stream-static
    joins and pre-AQE engines).  With a broadcast-able dim like this
    test bed the prefilter is pure overhead — documented, same honesty
    policy as the salted join."""
    apply_runtime_conf(spark)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    dim = orders.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    )

    def pos(col, i):
        # key pre-reduced mod the Mersenne prime before the multiply:
        # (A*k + B) % p == (A*(k % p) + B) % p — identical bit
        # positions, no int64 overflow at snowflake-scale ids (bigids
        # r14, #35; intermediate ≤ 65537 * 2^31 ≈ 1.4e14)
        return (
            (
                F.lit(_BLOOM_A[i]) * (col.cast("long") % 2147483647)
                + F.lit(_BLOOM_B[i])
            )
            % 2147483647
        ) % _BLOOM_M

    bits = None
    for i in range(len(_BLOOM_A)):
        p = dim.select(pos(F.col("o_orderkey"), i).alias("pos"))
        bits = p if bits is None else bits.unionByName(p)
    bits = bits.distinct()
    probed = li
    for i in range(len(_BLOOM_A)):
        probed = probed.join(
            F.broadcast(bits),
            pos(F.col("l_orderkey"), i) == F.col("pos"),
            "left_semi",
        )
    joined = probed.join(
        F.broadcast(dim), F.col("l_orderkey") == F.col("o_orderkey")
    )
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
        ).alias("revenue"),
    )


def _f1_pred_sql() -> str:
    """The lang-ID CASE generated from the SAME LANG_MARKERS constant
    the Spark side uses (never hand-copy the markers — a divergent
    list only surfaces on text that happens to contain one)."""
    from etl_caltopo_spark.llm import text as _text

    branches = []
    for lang, markers in _text.LANG_MARKERS:
        cond = " OR ".join(
            f"(' ' || lower(text) || ' ') LIKE '% {m} %'" for m in markers
        )
        branches.append(f"WHEN ({cond}) THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'en' END"


@query(
    "q_f1_macro",
    oracle=f"""
    WITH pred AS (
        SELECT lang, {_f1_pred_sql()} AS pred_lang
        FROM documents
    ), classes AS (
        SELECT DISTINCT lang AS c FROM documents
    ), per_class AS (
        SELECT c,
               CAST(coalesce(sum(CASE WHEN lang = c AND pred_lang = c
                                      THEN 1 END), 0) AS BIGINT) AS tp,
               CAST(coalesce(sum(CASE WHEN lang <> c AND pred_lang = c
                                      THEN 1 END), 0) AS BIGINT) AS fp,
               CAST(coalesce(sum(CASE WHEN lang = c AND pred_lang <> c
                                      THEN 1 END), 0) AS BIGINT) AS fn
        FROM classes, pred GROUP BY c
    ), scored AS (
        SELECT c, tp, fp, fn,
               CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                    ELSE floor(2.0 * tp / (2 * tp + fp + fn) * 1000000)
                         / 1000000 END AS f1
        FROM per_class
    )
    SELECT c AS lang_class, tp, fp, fn, f1 FROM scored
    UNION ALL
    SELECT '__macro__', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
           CAST(sum(fn) AS BIGINT),
           floor(sum(f1) / count(*) * 1000000) / 1000000
    FROM scored
    """,
)
def q_f1_macro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision-free F1 + macro-F1 of the marker-word
    language-ID heuristic against the true lang label — the
    multi-class classifier report card (the q_confusion_matrix
    companion that rolls the matrix up the way a model eval does:
    per-class F1 from exact tp/fp/fn integers, macro = unweighted
    class mean so rare classes count equally).  The '__macro__' row
    carries the micro tp/fp/fn totals beside the macro F1.

    Exactness: predictions are the same codegen CASE in both engines
    (LIKE on padded lowercase text — the q_lang_id oracle pattern);
    counts are exact int64; per-class F1 is a ratio of identical
    integers floored at 6 dp; the macro mean floors the 5-term sum.

    Scale shape: one (lang, pred) partial-agg shuffle to the 25-cell
    matrix would suffice; the classes x pred cross product is
    |classes|-bounded and broadcast.  Nothing row-level survives the
    first aggregation."""
    apply_runtime_conf(spark)
    from etl_caltopo_spark.llm import text

    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        "lang", text.lang_id(F.col("text")).alias("pred_lang")
    )
    classes = docs.select(F.col("lang").alias("c")).distinct()
    cells = pred.crossJoin(F.broadcast(classes))
    per_class = cells.groupBy("c").agg(
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang") == F.col("c"))
                    & (F.col("pred_lang") == F.col("c")),
                    1,
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("tp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang") != F.col("c"))
                    & (F.col("pred_lang") == F.col("c")),
                    1,
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("fp"),
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("lang") == F.col("c"))
                    & (F.col("pred_lang") != F.col("c")),
                    1,
                )
            ),
            F.lit(0),
        ).cast("bigint").alias("fn"),
    )
    f1 = F.when(2 * F.col("tp") + F.col("fp") + F.col("fn") == 0, F.lit(0.0)).otherwise(
        fround(
            2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
            6,
        )
    )
    scored = per_class.select("c", "tp", "fp", "fn", f1.alias("f1"))
    macro = scored.agg(
        F.lit("__macro__").alias("c"),
        F.sum("tp").cast("bigint").alias("tp"),
        F.sum("fp").cast("bigint").alias("fp"),
        F.sum("fn").cast("bigint").alias("fn"),
        fround(F.sum("f1") / F.count("*"), 6).alias("f1"),
    ).select("c", "tp", "fp", "fn", "f1")
    return scored.unionByName(macro).select(
        F.col("c").alias("lang_class"), "tp", "fp", "fn", "f1"
    )


def _daily_series_sql() -> str:
    """Day-grid event-count series CTEs (missing days filled with 0)."""
    return """
    d AS (
        SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ), span AS (
        SELECT min(day) AS d0, max(day) AS d1 FROM d
    ), grid AS (
        SELECT CAST(g AS BIGINT) AS day
        FROM span, UNNEST(range(span.d0, span.d1 + 1)) AS u(g)
    ), series AS (
        SELECT grid.day, coalesce(d.c, 0) AS c
        FROM grid LEFT JOIN d USING (day)
    )"""


def _daily_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).alias("day")
    ).agg(F.count("*").cast("bigint").alias("c"))
    span = d.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    return grid.join(d, "day", "left").select(
        F.col("day").cast("bigint").alias("day"),
        F.coalesce(F.col("c"), F.lit(0)).alias("c"),
    )


@query(
    "q_autocorr",
    oracle=f"""
    WITH {_daily_series_sql()}, lags AS (
        SELECT CAST(k AS BIGINT) AS lag FROM UNNEST(range(1, 8)) AS u(k)
    ), pairs AS (
        SELECT l.lag, a.c AS x, b.c AS y
        FROM series a
        JOIN lags l ON TRUE
        JOIN series b ON b.day = a.day + l.lag
    ), s AS (
        SELECT lag, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT lag, n AS n_pairs,
           CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) = 0
                  OR (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) = 0
                THEN 0.0
                ELSE floor((CAST(n AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                     / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                            * (CAST(n AS DOUBLE) * syy
                               - CAST(sy AS DOUBLE) * sy))
                     * 1000000) / 1000000 END AS acf
    FROM s
    """,
)
def q_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..7 autocorrelation of the daily event-count series — the
    ACF diagnostic behind seasonality detection and forecasting-model
    selection (a weekly cycle shows as a lag-7 spike).  Missing days
    fill with zero so the series is genuinely equi-spaced.

    Exactness: the series lives on the bounded DAY grid, so every
    Pearson term is an exact int64 sum over grid rows (bound:
    T·c_max² < 2⁶³ — at 4e7 events/day that holds to ~15k days;
    beyond, move partials to DECIMAL); the quotient runs on doubles
    cast from identical integers, 6-dp floor, degenerate
    zero-variance series short-circuit to 0.

    Scale shape: ONE partial-agg shuffle to the day grid; the lag
    self-join, grid fill, and correlation algebra all run on the
    grid (thousands of rows at any corpus size) — the q_auc
    bounded-domain argument applied to time."""
    apply_runtime_conf(spark)
    series = _daily_series(spark, sf_dir)
    lags = spark.range(1, 8).select(F.col("id").cast("bigint").alias("lag"))
    a = series.select(F.col("day").alias("da"), F.col("c").alias("x"))
    b = series.select(F.col("day").alias("db"), F.col("c").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
    )
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    acf = F.when((vx == 0) | (vy == 0), F.lit(0.0)).otherwise(
        fround(
            (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(vx * vy),
            6,
        )
    )
    return s.select("lag", F.col("n").alias("n_pairs"), acf.alias("acf"))


@query(
    "q_cusum_changepoint",
    oracle=f"""
    WITH {_daily_series_sql()}, idx AS (
        SELECT day, c,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS k,
               CAST(sum(c) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ck
        FROM series
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS t, CAST(sum(c) AS BIGINT) AS n
        FROM series
    ), scored AS (
        SELECT day, k, t, n,
               CAST(t * ck - k * n AS BIGINT) AS s_num
        FROM idx, tot
    )
    SELECT CAST(any_value(t) AS BIGINT) AS t_days,
           CAST(any_value(n) AS BIGINT) AS n_events,
           CAST(min(CASE WHEN abs(s_num) = m THEN day END) AS BIGINT)
               AS peak_day,
           CAST(m AS BIGINT) AS cusum_peak_num,
           floor(CAST(m AS DOUBLE) / (any_value(t) * any_value(n))
                 * 1000000) / 1000000 AS cusum_stat
    FROM scored, (SELECT max(abs(s_num)) AS m FROM scored) mm
    GROUP BY m
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily event-count series:
    the day k maximizing |Σ_{{i≤k}}(c_i − mean)| marks the most likely
    level shift (ingestion-rate regime change, pipeline monitoring).
    The deviation sum is held INTEGER by scaling through the series
    length — S_k = T·C_k − k·N — so the argmax, the peak numerator,
    and the tie rule (earliest day) are exact int64 arithmetic in both
    engines; only the final normalized statistic S/(T·N) touches a
    double, floored at 6 dp.

    Scale shape: one partial-agg shuffle to the day grid; the
    cumulative pass and argmax run over the grid only (the expected
    grid-sized single-partition window, documented)."""
    apply_runtime_conf(spark)
    series = _daily_series(spark, sf_dir)
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    idx = series.select(
        "day",
        "c",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("k"),
        F.sum("c").over(w).cast("bigint").alias("ck"),
    )
    tot = series.agg(
        F.count("*").cast("bigint").alias("t"),
        F.sum("c").cast("bigint").alias("n"),
    )
    scored = idx.crossJoin(F.broadcast(tot)).select(
        "day",
        "k",
        "t",
        "n",
        (F.col("t") * F.col("ck") - F.col("k") * F.col("n"))
        .cast("bigint")
        .alias("s_num"),
    )
    mm = scored.agg(F.max(F.abs(F.col("s_num"))).alias("m"))
    j = scored.crossJoin(F.broadcast(mm))
    return j.groupBy("m").agg(
        F.any_value("t").cast("bigint").alias("t_days"),
        F.any_value("n").cast("bigint").alias("n_events"),
        F.min(F.when(F.abs(F.col("s_num")) == F.col("m"), F.col("day")))
        .cast("bigint")
        .alias("peak_day"),
        F.any_value("m").cast("bigint").alias("cusum_peak_num"),
        fround(
            F.col("m").cast("double")
            / (F.any_value("t") * F.any_value("n")),
            6,
        ).alias("cusum_stat"),
    ).drop("m")


@query(
    "q_k_anonymity",
    oracle=f"""
    SELECT c_nationkey AS nation, c_mktsegment AS segment,
           {sql_bucket_long("c_acctbal", 2000.0)} AS bal_bucket,
           CAST(count(*) AS BIGINT) AS group_size,
           count(*) < 5 AS k_violation
    FROM customer
    GROUP BY c_nationkey, c_mktsegment,
             {sql_bucket_long("c_acctbal", 2000.0)}
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier combination
    (nation, market segment, balance bucket): any equivalence class
    smaller than k = 5 re-identifies its members when the table is
    released — the privacy check a pipeline runs BEFORE publishing
    per-group statistics (and the reason q_dp_count/q_dp_histogram
    exist for the groups that fail it).  Every class is emitted with
    its size and violation flag so the release decision is auditable,
    not just a pass/fail scalar.

    Scale shape: ONE partial-agg shuffle to the quasi-identifier
    grid — the audit costs the same as the groupBy it guards.

    The audit must stay ROW-COMPLETE (a dropped customer would
    under-count an equivalence class), so an off-int64-grid balance
    (NaN/±inf/huge) maps to the NULL bucket — the same class NULL
    balances already form — instead of being excluded (extremes
    sweep r11: the raw bucket cast saturates in Spark and raises in
    DuckDB out there)."""
    apply_runtime_conf(spark)
    cust = load_table(spark, sf_dir, "customer")
    bal_bucket = bucket_long(F.col("c_acctbal"), 2000.0)
    return cust.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        bal_bucket.alias("bal_bucket"),
    ).agg(
        F.count("*").cast("bigint").alias("group_size"),
        (F.count("*") < 5).alias("k_violation"),
    )


@query(
    "q_l_diversity",
    oracle=f"""
    SELECT c.c_nationkey AS nation, c.c_mktsegment AS segment,
           {sql_bucket_long("c.c_acctbal", 2000.0)} AS bal_bucket,
           CAST(count(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
           CAST(count(DISTINCT o.o_orderpriority) AS BIGINT) AS n_sensitive,
           count(DISTINCT o.o_orderpriority) < 3 AS l_violation
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey, c.c_mktsegment,
             {sql_bucket_long("c.c_acctbal", 2000.0)}
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: within each equivalence class of the SAME
    quasi-identifier combination q_k_anonymity audits for release —
    (nation, segment, balance bucket) — the SENSITIVE attribute
    (order priority) must take at least l = 3 distinct values.
    l-diversity is defined per released equivalence class, so the
    partition MUST match the k-anonymity classes: auditing a coarser
    grid (the original (nation, segment) form — code-review r6)
    overstates diversity, since a passing coarse class can be made of
    sub-classes that each carry a single sensitive value, leaking it
    to anyone who can place a customer in its bucketed class.
    Emitted per class with customer and sensitive-value counts plus
    the flag.

    Scale shape: one equi-join on the customer key (broadcast-eligible
    dim side) and one partial-agg shuffle to the quasi grid; the
    distinct counts are per-group, never global.

    Same row-complete bucket rule as q_k_anonymity: the partition
    must match the k-anonymity classes, so an off-int64-grid balance
    maps to the NULL bucket rather than dropping the customer."""
    apply_runtime_conf(spark)
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    j = cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
    bal_bucket = bucket_long(F.col("c_acctbal"), 2000.0)
    return j.groupBy(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        bal_bucket.alias("bal_bucket"),
    ).agg(
        F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_sensitive"),
        (F.countDistinct("o_orderpriority") < 3).alias("l_violation"),
    )


#: geohash base32 alphabet (no a/i/l/o) and precision
_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_BITS = 20  # per axis -> 40 bits -> 8 chars


def _gh_interleave_terms(lon_q: str, lat_q: str):
    """Σ lon_bit_j·2^(39−2j) + lat_bit_j·2^(38−2j): geohash bit order
    (MSB first, longitude on even positions)."""
    total = F.lit(0).cast("long")
    for j in range(_GH_BITS):
        total = (
            total
            + (F.col(lon_q) / (1 << (_GH_BITS - 1 - j))).cast("long")
            % 2
            * (1 << (39 - 2 * j))
            + (F.col(lat_q) / (1 << (_GH_BITS - 1 - j))).cast("long")
            % 2
            * (1 << (38 - 2 * j))
        )
    return total


def _gh_interleave_sql(lon_q: str, lat_q: str) -> str:
    parts = []
    for j in range(_GH_BITS):
        parts.append(
            f"(({lon_q} // {1 << (_GH_BITS - 1 - j)}) % 2) * {1 << (39 - 2 * j)}"
        )
        parts.append(
            f"(({lat_q} // {1 << (_GH_BITS - 1 - j)}) % 2) * {1 << (38 - 2 * j)}"
        )
    return " + ".join(parts)


@query(
    "q_geohash",
    oracle=f"""
    WITH pts AS (
        SELECT c_custkey,
               CAST(((c_custkey % 18000) * 37) % 18000 - 9000 AS BIGINT)
                   AS lat_c,
               CAST(((c_custkey % 36000) * 91) % 36000 - 18000 AS BIGINT)
                   AS lon_c
        FROM customer
    ), q AS (
        SELECT c_custkey, lat_c, lon_c,
               (lat_c + 9000) * {1 << _GH_BITS} // 18000 AS lat_q,
               (lon_c + 18000) * {1 << _GH_BITS} // 36000 AS lon_q
        FROM pts
    ), g AS (
        SELECT c_custkey, lat_c, lon_c,
               {_gh_interleave_sql('lon_q', 'lat_q')} AS gh
        FROM q
    )
    SELECT c_custkey, lat_c, lon_c,
           concat(
               {", ".join(f"'{_GH_ALPHABET}'[CAST((gh // {1 << (35 - 5 * t)}) % 32 + 1 AS INT)]" for t in range(8))}
           ) AS geohash
    FROM g
    """,
)
def q_geohash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard 8-character base32 geohash of each customer's derived
    point — THE interoperable spatial bucketing key (prefix-truncation
    gives coarser cells, shared prefixes mean nearby points), the
    sibling of q_spatial_cell_join's ad-hoc cells and q_zorder_key's
    Morton layout but in the encoding every geo system speaks.

    Exactness: quantization runs ENTIRELY in integers —
    (lat_c + 9000)·2²⁰ div 18000 — no doubles anywhere, so both
    engines derive identical 40-bit codes; the bit interleave is the
    div/mod generator (longitude on even positions per the spec) and
    characters index the shared base32 alphabet.

    Scale shape: map-only, zero shuffles; at 100 TB this is the
    column you repartitionByRange + sort on to get spatially
    clustered files (the DEPLOY.md Z-order recipe with a standard
    key)."""
    apply_runtime_conf(spark)
    cust = load_table(spark, sf_dir, "customer")
    pts = cust.select(
        "c_custkey",
        # key pre-reduced mod the grid before the multiply — identical
        # values, no int64 overflow at snowflake-scale ids (bigids
        # sweep r14; HANDOFF knowledge #35)
        (((F.col("c_custkey") % 18000) * 37) % 18000 - 9000)
        .cast("bigint")
        .alias("lat_c"),
        (((F.col("c_custkey") % 36000) * 91) % 36000 - 18000)
        .cast("bigint")
        .alias("lon_c"),
    )
    q = pts.select(
        "c_custkey",
        "lat_c",
        "lon_c",
        F.expr(f"(lat_c + 9000) * {1 << _GH_BITS} div 18000").alias("lat_q"),
        F.expr(f"(lon_c + 18000) * {1 << _GH_BITS} div 36000").alias("lon_q"),
    )
    g = q.select(
        "c_custkey",
        "lat_c",
        "lon_c",
        _gh_interleave_terms("lon_q", "lat_q").alias("gh"),
    )
    # element_at on the split alphabet (substring with a column start
    # is not portable across builds)
    alpha = F.split(F.lit("/".join(_GH_ALPHABET)), "/")
    chars = [
        F.element_at(
            alpha,
            ((F.col("gh") / (1 << (35 - 5 * t))).cast("long") % 32 + 1).cast(
                "int"
            ),
        )
        for t in range(8)
    ]
    return g.select(
        "c_custkey", "lat_c", "lon_c", F.concat(*chars).alias("geohash")
    )


@query(
    "q_audio_g711",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS asset_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS law,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(600 + (doc_id % 7) * 50 AS BIGINT) AS n_samples,
           CAST(CAST((600 + (doc_id % 7) * 50) / 8.0 AS REAL) AS DOUBLE)
               AS duration_ms
    FROM documents
    """,
)
def q_audio_g711(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 telephony-audio decode over REAL µ-law/A-law WAV
    payloads (wFormatTag 7/6, alternating per document):
    deterministic waveforms are companded to 8-bit log-PCM (2:1 vs
    PCM16), carried as opaque binary assets, and expanded back inside
    one Arrow-batched mapInPandas.  The oracle checks the structural
    closed form — law, sample count (via the fact chunk), duration —
    while both compand/expand directions are pinned BIT-EXACT against
    stdlib audioop over the full 16-bit input domain in
    tests/test_llm_ops.py (the codec is lossy, so content has no
    cross-engine closed form — the q_audio_adpcm policy).

    Scale shape: generate → decode is map-only, no shuffle; fan_out
    spreads the codec work across cores."""
    apply_runtime_conf(spark)
    from collections.abc import Iterator

    import pandas as pd
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etl_caltopo_spark.io import fan_out
    from etl_caltopo_spark.llm import multimodal

    docs = fan_out(load_table(spark, sf_dir, "documents").select("doc_id"))
    gen_schema = StructType(
        [
            StructField("asset_id", LongType(), False),
            StructField("law", StringType(), True),
            StructField("payload", BinaryType(), True),
        ]
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            laws, payloads = [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = 600 + (d % 7) * 50
                t = np.arange(n)
                sig = (
                    6000 * np.sin(t / (11.0 + d % 5))
                    + 900 * np.sin(t / 3.0 + d)
                ).astype(np.int16)
                law = "ulaw" if d % 2 == 0 else "alaw"
                laws.append(law)
                payloads.append(multimodal.encode_g711_wav(sig, 8000, law))
            yield pd.DataFrame(
                {"asset_id": pdf["doc_id"], "law": laws, "payload": payloads}
            )

    raw = docs.mapInPandas(gen, schema=gen_schema)
    assets = multimodal.as_binary_assets(
        raw, "asset_id", F.col("payload"), "audio"
    )
    decoded = multimodal.decode_audio(assets)
    # law is a pure function of the asset id (the generator's d % 2
    # dispatch) — computed directly instead of a join-back to `raw`,
    # which exploded k^2-fold under duplicate asset ids (clones sweep
    # r13: a join-back by a non-unique id multiplies rows) and cost a
    # shuffle the map-only plan never needed.
    return decoded.select(
        "asset_id",
        F.when(F.col("asset_id") % 2 == 0, F.lit("ulaw"))
        .otherwise(F.lit("alaw"))
        .alias("law"),
        "sample_rate",
        "n_samples",
        F.col("duration_ms").cast("double").alias("duration_ms"),
    )


@query(
    "q_pr_auc",
    oracle="""
    WITH scored AS (
        SELECT value AS score,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ), grid AS (
        SELECT score, CAST(sum(y) AS BIGINT) AS ps,
               CAST(count(*) - sum(y) AS BIGINT) AS ns
        FROM scored GROUP BY score
    ), cum AS (
        SELECT score, ps,
               CAST(sum(ps) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ctp,
               CAST(sum(ps + ns) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cn
        FROM grid
    ), tot AS (
        SELECT CAST(sum(ps) AS BIGINT) AS p,
               CAST(sum(ns) AS BIGINT) AS n
        FROM grid
    )
    SELECT tot.p AS n_pos, tot.n AS n_neg,
           floor(sum(CAST(ps AS DOUBLE) * ctp / cn) / tot.p * 1000000)
               / 1000000 AS pr_auc
    FROM cum, tot GROUP BY tot.p, tot.n
    """,
)
def q_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Area under the precision-recall curve (average precision, the
    step-wise AP of scikit-learn) for click-vs-rest on the event
    score — the imbalanced-class companion of q_auc (ROC-AUC flatters
    rare-positive problems; AP does not).

    The lag-free identity: descending the distinct-score thresholds,
    recall rises by EXACTLY ps_i/P at grid row i, so
    AP = Σ (ps_i/P)·(ctp_i/cn_i) — no window lag, every term a ratio
    of exact int64 cumulative counts, one 6-dp floor on the sum.

    Scale shape: one partial-agg shuffle to the distinct-score grid,
    then the descending cumulative pass through the distributed rank
    operator (operators/rank.py global_running_sums — r8: the r7
    cardinality probe measured the distinct-score frame growing
    ~n^0.64 with the table, so the previous single-task window was a
    real scale path), a scalar rollup."""
    apply_runtime_conf(spark)
    from etl_caltopo_spark.operators.rank import global_running_sums, pin_frame

    ev = load_table(spark, sf_dir, "events")
    # NULL scores are missing observations, dropped on both sides
    # (r8 NULL-injection policy, see q_auc)
    scored = ev.where(F.col("value").isNotNull()).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y"),
    )
    grid = pin_frame(
        scored.groupBy("score").agg(
            F.sum("y").cast("bigint").alias("ps"),
            (F.count("*") - F.sum("y")).cast("bigint").alias("ns"),
        )
    )
    # distinct scores: unique primary, exact int64 running sums
    cum = global_running_sums(
        grid.withColumn("nt", F.col("ps") + F.col("ns")),
        "score",
        [F.col("score").desc()],
        {"ctp": "ps", "cn": "nt"},
        ascending=False,
    ).select("ps", F.col("ctp").cast("bigint").alias("ctp"),
             F.col("cn").cast("bigint").alias("cn"))
    tot = grid.agg(
        F.sum("ps").cast("bigint").alias("p"),
        F.sum("ns").cast("bigint").alias("n"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    # NULL pr_auc for a zero-positive slice (p = 0): ANSI Spark would
    # raise DIVIDE_BY_ZERO on the bigint denominator where DuckDB
    # yields NULL (the q_auc r6 guard, applied here in r8 after the
    # degenerate single-class probe crashed this id)
    return j.groupBy("p", "n").agg(
        fround(
            F.when(
                F.col("p") > 0,
                F.sum(F.col("ps").cast("double") * F.col("ctp") / F.col("cn"))
                / F.col("p"),
            ),
            6,
        ).alias("pr_auc")
    ).select(F.col("p").alias("n_pos"), F.col("n").alias("n_neg"), "pr_auc")


@query(
    "q_log_loss",
    oracle="""
    WITH scored AS (
        SELECT least(greatest((value + 1) / 1024.0, 1.0 / 1024),
                     1023.0 / 1024) AS p,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS n_pos,
           floor(-sum(CASE WHEN y = 1 THEN ln(p) ELSE ln(1 - p) END)
                 / count(*) * 10000) / 10000 AS log_loss
    FROM scored
    """,
)
def q_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary cross-entropy (log loss) of the calibrated event score
    ((value + 1)/1024, clamped to the open unit interval with exact
    dyadic bounds — value = 0 and any future range growth stay
    finite) against the click label — the proper scoring rule that
    q_calibration_bins complements: calibration bins show WHERE
    probabilities are off, log loss penalizes BY HOW MUCH.

    Cross-engine exactness: value sits on a 2-dp grid, so
    (value + 1)/1024 is the identical IEEE double in both engines
    (the clamp bounds 1/1024 and 1023/1024 are exactly representable),
    ln of identical doubles is the identical libm double, and the
    4-dp floor on the mean absorbs summation-order drift (the
    q_word_entropy ln-sum policy).

    Scale shape: one map-side expression + one scalar aggregate —
    nothing but a partial-agg reduction at any size."""
    apply_runtime_conf(spark)
    ev = load_table(spark, sf_dir, "events")
    scored = ev.select(
        F.least(
            F.greatest((F.col("value") + 1) / 1024.0, F.lit(1.0 / 1024)),
            F.lit(1023.0 / 1024),
        ).alias("p"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y"),
    )
    term = F.when(F.col("y") == 1, F.log("p")).otherwise(F.log(1 - F.col("p")))
    return scored.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        fround(-F.sum(term) / F.count("*"), 4).alias("log_loss"),
    )


@query(
    "q_lift_deciles",
    oracle="""
    WITH scored AS (
        SELECT value AS score,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS y
        FROM events WHERE value IS NOT NULL
    ), grid AS (
        SELECT score, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(y) AS BIGINT) AS ps
        FROM scored GROUP BY score
    ), cum AS (
        SELECT score, ng, ps,
               CAST(sum(ng) OVER (ORDER BY score DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_n
        FROM grid
    ), tot AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(sum(ps) AS BIGINT) AS p
        FROM grid
    ), bucketed AS (
        SELECT (cum_n - ng) * 10 // tot.n AS decile, ng, ps, tot.n, tot.p
        FROM cum, tot
    ), per AS (
        SELECT decile, CAST(sum(ng) AS BIGINT) AS n_rows,
               CAST(sum(ps) AS BIGINT) AS n_pos,
               any_value(n) AS n, any_value(p) AS p
        FROM bucketed GROUP BY decile
    )
    SELECT decile, n_rows, n_pos,
           floor(CAST(n_pos AS DOUBLE) / n_rows * 1000000) / 1000000
               AS response_rate,
           floor(CAST(n_pos AS DOUBLE) * n / (CAST(n_rows AS DOUBLE) * p)
                 * 1000000) / 1000000 AS lift,
           floor(CAST(sum(n_pos) OVER (ORDER BY decile
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS DOUBLE) / p * 1000000) / 1000000 AS cum_gain
    FROM per
    """,
)
def q_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gains table for click-vs-rest on the
    event score — the campaign-targeting report (how much better than
    random is each scored decile, what fraction of all positives the
    top-k deciles capture) completing the ranking-eval family
    (q_auc/q_pr_auc/q_mrr/q_ndcg).

    Tie discipline: deciles are assigned on the DISTINCT-score grid by
    each tie group's STARTING rank — whole tied-score groups land in
    one decile, so the split is deterministic in both engines (ntile
    would split ties arbitrarily and never hash-match); with heavy
    ties deciles are intentionally uneven, carrying their true sizes.

    Scale shape: one partial-agg shuffle to the score grid, then the
    grid-sized cumulative pass through the distributed rank operator
    (operators/rank.py global_running_sum — r8: the grid grows
    ~n^0.64 with the table per the r7 cardinality probe, so the
    previous single-task window was a real scale path), ≤10-row
    decile rollup + window (THAT one is a genuinely bounded frame)."""
    apply_runtime_conf(spark)
    from etl_caltopo_spark.operators.rank import global_running_sum, pin_frame

    ev = load_table(spark, sf_dir, "events")
    # NULL scores are missing observations, dropped on both sides
    # (r8 NULL-injection policy, see q_auc)
    scored = ev.where(F.col("value").isNotNull()).select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("y"),
    )
    grid = pin_frame(
        scored.groupBy("score").agg(
            F.count("*").cast("bigint").alias("ng"),
            F.sum("y").cast("bigint").alias("ps"),
        )
    )
    cum = global_running_sum(
        grid, "score", [F.col("score").desc()], "ng",
        out_col="cum_n", ascending=False,
    ).select("ng", "ps", F.col("cum_n").cast("bigint").alias("cum_n"))
    tot = grid.agg(
        F.sum("ng").cast("bigint").alias("n"),
        F.sum("ps").cast("bigint").alias("p"),
    )
    bucketed = cum.crossJoin(F.broadcast(tot)).select(
        F.expr("(cum_n - ng) * 10 div n").alias("decile"),
        "ng",
        "ps",
        "n",
        "p",
    )
    per = bucketed.groupBy("decile").agg(
        F.sum("ng").cast("bigint").alias("n_rows"),
        F.sum("ps").cast("bigint").alias("n_pos"),
        F.any_value("n").alias("n"),
        F.any_value("p").alias("p"),
    )
    wd = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per.select(
        "decile",
        "n_rows",
        "n_pos",
        fround(F.col("n_pos").cast("double") / F.col("n_rows"), 6).alias(
            "response_rate"
        ),
        # NULL lift/cum_gain for a zero-positive slice (p = 0): the
        # oracle's division by p yields NULL in DuckDB where the
        # Spark double division gives IEEE NaN (and an unguarded
        # bigint denominator would ANSI-crash) — the q_auc r6 guard,
        # applied here in r8 after the degenerate single-class probe
        fround(
            F.when(
                F.col("p") > 0,
                F.col("n_pos").cast("double")
                * F.col("n")
                / (F.col("n_rows").cast("double") * F.col("p")),
            ),
            6,
        ).alias("lift"),
        fround(
            F.when(
                F.col("p") > 0,
                F.sum("n_pos").over(wd).cast("double") / F.col("p"),
            ),
            6,
        ).alias("cum_gain"),
    )
