"""Mergeable distinct-count sketches (r5e) — the cardinality side of the
sketch family started by text.cms_heavy_hitters (frequency) and the
approx_count_distinct HLL twin in aggregates.py:

- kmv_distinct_users: K-minimum-value style distinct-user estimate per
  event type from K INDEPENDENT hash minima.  Each minimum is a plain
  ``min()`` aggregate, so the sketch state is K int64s per group, it
  combines map-side, and two sketches union by taking elementwise
  ``least()`` — the properties that let 1000 executors each fold their
  partition and ship 256 bytes per group to the reducer, where HLL needs
  custom registers and exact COUNT(DISTINCT) needs a full key shuffle.
- kmv_user_overlap: audience-overlap estimate between two event types
  via the sketch-union identity |A∩B| = |A| + |B| − |A∪B|, where the
  union sketch is ``least()`` of the two sides' minima — computed
  WITHOUT ever shuffling user ids.

Unlike Spark's approx_count_distinct (whose HLL is an opaque binary
accumulator the driver records rows-only — see
product_purchase_counts_approx), every number here is determinstically
derived from md5, so the DuckDB oracle REPLAYS the sketch bit-for-bit
and the estimate is hash-checked, with the exact count and the signed
error beside it (the cms_heavy_hitters discipline).

Estimator: with n distinct users, each independent 52-bit minimum m_j
is ≈ M/(n+1) in expectation (M = 2^52), so Σ m_j ≈ K·M/(n+1) and
n̂ = (K·M) DIV Σ m_j − 1.  Relative error ~ 1/√K ≈ 12% at K=64 —
accuracy is asserted on a 1,000-key planted corpus in
tests/test_sketches.py, while the driver row proves replay parity.

min() is insensitive to duplicate rows, so the mins need NO distinct
pre-aggregation — the only exact-distinct work is the n_exact twin
column kept for the error readout.

Reference parity anchor: the reference's aggregation scripts
(reference/data_warehouse/aggregate_query_data.py) compute exact
COUNT(DISTINCT ...) only; this is the beyond-reference scale path for
the same questions at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.registry import load_table

#: number of independent hash minima. 64 → sketch state 512 bytes/group,
#: ~12% expected relative error (measured on planted corpora: −1.6% at
#: n=1000, −11% at n=200; K=32's draw at n=1000 was +46%, outside the
#: useful band). At deploy time K trades accuracy (∝ 1/√K) against
#: per-row hash cost and state (∝ K).
KMV_K = 64

#: hash space: 13 hex nibbles of md5 → uniform in [0, 2^52).  52 bits
#: keeps K·M = 2^57 far inside int64 for the estimator arithmetic.
KMV_M = 1 << 52

#: the two audiences whose overlap kmv_user_overlap estimates.
OVERLAP_A = "view"
OVERLAP_B = "purchase"


def _h(j: int, engine: str) -> str:
    """Independent 52-bit hash j of user_id — identical derivation text
    on both engines."""
    if engine == "spark":
        return (
            f"CAST(conv(substr(md5('kmv:{j}:' || CAST(user_id AS STRING)),"
            f" 1, 13), 16, 10) AS BIGINT)"
        )
    return (
        f"('0x' || substr(md5('kmv:{j}:' || CAST(user_id AS VARCHAR)),"
        f" 1, 13))::BIGINT"
    )


def _est(sum_mins: str) -> str:
    """n̂ = (K·M) DIV Σm − 1; greatest() guards the measure-zero case of
    a zero minimum (truncating DIV on both engines — verified BIGINT `//`
    truncates in DuckDB, matching Spark's DIV)."""
    return (
        f"CAST({KMV_K * KMV_M} AS BIGINT)"
        f" DIV greatest({sum_mins}, CAST(1 AS BIGINT)) - 1"
    )


def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimate from K independent hash
    minima, with the exact count and signed error in basis points.

    Plan: ONE aggregation on event_type.  The K mins partial-aggregate
    map-side (min is commutative/idempotent, duplicate rows are free);
    only the n_exact twin column costs a distinct expansion — at 100 TB
    you drop that column and the query never shuffles user ids at all.
    """
    events = load_table(spark, sf_dir, "events")
    # malformed rows are excluded on BOTH engines: a NULL event_type is
    # not a group, and a NULL user_id is not a distinct user. Without
    # this, a group holding only NULL users has every minimum NULL, the
    # greatest() guard turns Σm into 1, est blows up to K·M ≈ 2^57 and
    # the err_bp multiply overflows int64 under ANSI (found by the
    # dirty-input parity sweep).
    events = events.where(
        F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
    )
    mins = [
        F.min(F.expr(_h(j, "spark"))).alias(f"m{j}") for j in range(KMV_K)
    ]
    sum_mins = " + ".join(f"m{j}" for j in range(KMV_K))
    agg = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"), *mins
    )
    return agg.select(
        "event_type",
        "n_exact",
        F.expr(_est(sum_mins)).alias("est_distinct"),
    ).select(
        "event_type",
        "n_exact",
        "est_distinct",
        F.expr("((est_distinct - n_exact) * 10000) DIV n_exact").alias("err_bp"),
    )


def kmv_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide distinct-user estimate from the CLASSICAL bottom-k KMV
    order statistic — n̂ = (B−1)·M / h_B with h_B the B-th smallest
    distinct hash — hash-locked beside the exact distinct count and the
    signed error in basis points (the quantile_sketch_check discipline:
    estimate + exact twin + error, all deterministic).

    Complements kmv_distinct_users (K independent minima, one per
    aggregate) with the single-hash bottom-k form that real systems
    persist (ThetaSketch/KMV): the sketch is the B smallest hashes, it
    merges by union+truncate, and the estimator is exact integer
    arithmetic both engines replay bit-for-bit.

    Plan: one scan → distinct on the 8-byte hash (map-side partial), a
    TakeOrderedAndProject for the bottom-B (per-partition top-k, no full
    sort), and a broadcast of the 1-row sketch against the 1-row exact
    twin. At 100 TB the exact branch is the one you drop; the sketch
    path never shuffles user ids, only distinct 52-bit hashes."""
    B = KMV_K
    events = load_table(spark, sf_dir, "events")
    h = _h(0, "spark")
    # NULL user_id hashes to NULL; Spark's ascending sort puts NULLs
    # FIRST while DuckDB's puts them LAST, so an unfiltered NULL would
    # silently occupy a bottom-B slot on one engine only (count(*) sees
    # it, max(h) ignores it) and skew the estimate. Drop it explicitly
    # on BOTH engines — a NULL key is not a distinct user.
    bottom = (
        events.select(F.expr(h).alias("h"))
        .where(F.col("h").isNotNull())
        .distinct()
        .orderBy("h")
        .limit(B)
    )
    sketch = bottom.agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("bk"),
        F.expr("CAST(max(h) AS BIGINT)").alias("hb"),
    )
    exact = events.agg(F.countDistinct("user_id").alias("n_exact"))
    est = (
        f"CASE WHEN bk < {B} THEN n_exact"
        f" ELSE CAST({KMV_M} AS BIGINT) * (bk - 1)"
        f" DIV greatest(hb, CAST(1 AS BIGINT)) END"
    )
    return (
        sketch.crossJoin(F.broadcast(exact))
        .select(
            "n_exact",
            F.expr(est).alias("est_distinct"),
        )
        .select(
            "n_exact",
            "est_distinct",
            F.expr(
                "((est_distinct - n_exact) * 10000)"
                " DIV greatest(n_exact, CAST(1 AS BIGINT))"
            ).alias("err_bp"),
        )
    )


def kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between OVERLAP_A and OVERLAP_B event types:
    exact distinct users of each side and of the intersection, beside
    the sketch estimates — the union sketch is elementwise least() of
    the two sides' minima, so |A∩B| comes out of inclusion-exclusion
    with NO user-id shuffle on the sketch path.

    Plan: one conditional-min aggregation to a single sketch row (2K
    mins over one scan, each hash computed once per row and reused by
    both sides' CASE arms), plus an exact-flags twin (per-user bool
    aggregation → 1-row count) broadcast-crossJoined for the readout.
    At 100 TB the exact branch is the one you drop."""
    events = load_table(spark, sf_dir, "events")
    both = events.where(F.col("event_type").isin(OVERLAP_A, OVERLAP_B))
    mins = []
    for j in range(KMV_K):
        h = _h(j, "spark")
        mins.append(
            F.min(
                F.expr(f"CASE WHEN event_type = '{OVERLAP_A}' THEN {h} END")
            ).alias(f"a{j}")
        )
        mins.append(
            F.min(
                F.expr(f"CASE WHEN event_type = '{OVERLAP_B}' THEN {h} END")
            ).alias(f"b{j}")
        )
    sketch = both.agg(*mins)
    sum_a = " + ".join(f"a{j}" for j in range(KMV_K))
    sum_b = " + ".join(f"b{j}" for j in range(KMV_K))
    sum_u = " + ".join(f"least(a{j}, b{j})" for j in range(KMV_K))
    ests = sketch.select(
        F.expr(_est(sum_a)).alias("est_a"),
        F.expr(_est(sum_b)).alias("est_b"),
        F.expr(_est(sum_u)).alias("est_union"),
    )
    flags = (
        both.groupBy("user_id")
        .agg(
            F.max(
                F.expr(f"CASE WHEN event_type = '{OVERLAP_A}' THEN 1 ELSE 0 END")
            ).alias("fa"),
            F.max(
                F.expr(f"CASE WHEN event_type = '{OVERLAP_B}' THEN 1 ELSE 0 END")
            ).alias("fb"),
        )
        .agg(
            F.expr("CAST(sum(fa) AS BIGINT)").alias("n_a"),
            F.expr("CAST(sum(fb) AS BIGINT)").alias("n_b"),
            F.expr("CAST(sum(fa * fb) AS BIGINT)").alias("n_both"),
        )
    )
    return flags.crossJoin(F.broadcast(ests)).select(
        "n_a",
        "n_b",
        "n_both",
        "est_a",
        "est_b",
        "est_union",
        F.expr("est_a + est_b - est_union").alias("est_both"),
    )


# --------------------------------------------------------------------------
# Poisson bootstrap
# --------------------------------------------------------------------------

#: bootstrap replicas. 32 → the 2nd/31st sorted means bracket a ~94% CI;
#: raise B for tighter quantiles (cost: 2B aggregate columns, all
#: map-side).
BOOT_B = 32

#: Poisson(1) CDF thresholds in micro-units: round(Σ_{i≤k} e⁻¹/i! · 10⁶)
#: for k = 0..8 (mass beyond 9 is < 10⁻⁶) — literals on both engines, so
#: the resample weights are pure integer case-splits of an md5 uniform.
_POIS_CDF = (367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990, 999999)


def _pois_w(b: int, engine: str) -> str:
    """Poisson(1) weight of one row in replica b, derived from
    md5('bs:b:' || orderkey) — the ONLINE bootstrap trick (Poisson
    counts approximate multinomial resampling without knowing n), which
    is what makes the bootstrap map-side computable on a cluster."""
    if engine == "spark":
        u = (
            f"pmod(CAST(conv(substr(md5('bs:{b}:' || CAST(o_orderkey AS STRING)),"
            f" 1, 6), 16, 10) AS BIGINT), 1000000)"
        )
    else:
        u = (
            f"(('0x' || substr(md5('bs:{b}:' || CAST(o_orderkey AS VARCHAR)),"
            f" 1, 6))::BIGINT % 1000000)"
        )
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE {len(_POIS_CDF)} END)"


def bootstrap_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for mean order value: B
    deterministic resample replicas, each weighting every order by a
    Poisson(1) count derived from md5 — the distributed bootstrap
    (Chamandy et al., Google 2012): no replica materializes a resample,
    the whole thing is ONE map-side-combinable aggregation of 2B+2
    BIGINT sums, and the CI falls out of the sorted replica means on a
    single row.

    Exactness: weights and weighted sums are pure integers; each
    replica mean is one double division; array_sort of 32 doubles is
    IEEE order on both engines, so even the CI bounds hash.  BIGINT
    headroom: Σw·cents ≤ 9·cents·n ≈ 10^13 at sf0.1 — promote to
    DECIMAL(38,0)/HUGEINT near 10^17."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    aggs = [
        F.count("*").alias("n_orders"),
        F.sum("cents").alias("total_cents"),
    ]
    for b in range(BOOT_B):
        w = _pois_w(b, "spark")
        aggs.append(F.sum(F.expr(f"{w} * cents")).alias(f"swx{b}"))
        aggs.append(F.sum(F.expr(w)).alias(f"sw{b}"))
    one = base.agg(*aggs)
    means = ", ".join(
        f"CAST(swx{b} AS DOUBLE) / CAST(nullif(sw{b}, 0) AS DOUBLE)"
        for b in range(BOOT_B)
    )
    return one.select(
        "n_orders",
        F.expr("CAST(total_cents AS DOUBLE) / CAST(n_orders AS DOUBLE)").alias(
            "mean_cents"
        ),
        F.expr(f"element_at(array_sort(array({means})), 2)").alias("boot_lo_cents"),
        F.expr(
            f"element_at(array_sort(array({means})), {BOOT_B - 1})"
        ).alias("boot_hi_cents"),
    )


#: bottom-k quantile sketch: sample size per group (rank error ~ 1/√k).
QSK_K = 128
QSK_GROUP = "o_orderpriority"


def quantile_sketch_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable QUANTILE sketch with its exact twin beside it — the
    rank-statistics member of the sketch family (KMV = cardinality,
    CMS = frequency, this = quantiles): per group keep the QSK_K rows
    with the smallest md5(o_orderkey) coins (a uniform sample that is a
    MIN-K MONOID — partitions fold bottom-k locally and merge by
    re-taking bottom-k), then read
    p50/p90 off the sample as disc percentiles and emit the exact
    percentiles and basis-point errors beside them (the approx-_check
    discipline: accuracy is hash-checked, not asserted in prose).

    Determinism: the sample is hash-defined (no rand()), the in-sample
    percentile is value-at-position ceil(p·n) under a total (cents, h)
    order — both engines replay the SAME sample and the SAME pick, so
    even the estimates hash-match.

    Scale: the sketch alone needs only per-partition bottom-k + a
    K·|groups| merge (no corpus sort); the full-frame rank windows here
    exist for the EXACT twin the check requires — at 100 TB you ship the
    sketch and drop the twin."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    # a NULL order total is not a measurement: Spark ranks NULL cents
    # FIRST and DuckDB LAST, so an unfiltered NULL shifts every in-sample
    # and exact percentile pick on one engine only (dirty-input parity
    # sweep) - excluded identically on BOTH engines
    base = orders.where(F.col("o_totalprice").isNotNull()).select(
        F.col(QSK_GROUP).alias("grp"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        F.expr("md5('qsk:' || CAST(o_orderkey AS STRING))").alias("h"),
        "o_orderkey",
    )
    ws = Window.partitionBy("grp").orderBy("h", "o_orderkey")
    sample = base.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= QSK_K
    )
    wv_s = Window.partitionBy("grp").orderBy("cents", "h")
    samp = sample.withColumn("vr", F.row_number().over(wv_s))
    ns = sample.groupBy("grp").agg(F.count("*").alias("n_sample"))
    est = (
        samp.join(ns, "grp")
        .groupBy("grp", "n_sample")
        .agg(
            F.expr(
                "max(CASE WHEN vr <= (n_sample + 1) DIV 2 THEN cents END)"
            ).alias("p50_est"),
            F.expr(
                "max(CASE WHEN vr <= (9 * n_sample + 9) DIV 10 THEN cents END)"
            ).alias("p90_est"),
        )
    )
    wv_f = Window.partitionBy("grp").orderBy("cents", "o_orderkey")
    nf = base.groupBy("grp").agg(F.count("*").alias("n"))
    exact = (
        base.withColumn("vr", F.row_number().over(wv_f))
        .join(nf, "grp")
        .groupBy("grp", "n")
        .agg(
            F.expr(
                "max(CASE WHEN vr <= (n + 1) DIV 2 THEN cents END)"
            ).alias("p50_exact"),
            F.expr(
                "max(CASE WHEN vr <= (9 * n + 9) DIV 10 THEN cents END)"
            ).alias("p90_exact"),
        )
    )
    return (
        est.join(exact, "grp")
        .select(
            "grp",
            "n",
            "n_sample",
            "p50_est",
            "p50_exact",
            F.expr("abs(p50_est - p50_exact) * 10000 DIV p50_exact").alias(
                "p50_err_bp"
            ),
            "p90_est",
            "p90_exact",
            F.expr("abs(p90_est - p90_exact) * 10000 DIV p90_exact").alias(
                "p90_err_bp"
            ),
        )
    )


QUERIES = {
    "kmv_distinct_users": kmv_distinct_users,
    "kmv_distinct_check": kmv_distinct_check,
    "kmv_user_overlap": kmv_user_overlap,
    "bootstrap_revenue_ci": bootstrap_revenue_ci,
    "quantile_sketch_check": quantile_sketch_check,
}


def _distinct_oracle() -> str:
    mins = ",\n                   ".join(
        f"min({_h(j, 'duck')}) AS m{j}" for j in range(KMV_K)
    )
    sum_mins = " + ".join(f"m{j}" for j in range(KMV_K))
    return f"""
        WITH s AS (
            SELECT event_type,
                   count(DISTINCT user_id) AS n_exact,
                   {mins}
            FROM events
            WHERE event_type IS NOT NULL AND user_id IS NOT NULL
            GROUP BY event_type
        ),
        e AS (
            SELECT event_type, n_exact,
                   CAST({_est(sum_mins).replace(' DIV ', ' // ')} AS BIGINT)
                       AS est_distinct
            FROM s
        )
        SELECT event_type, n_exact, est_distinct,
               CAST(((est_distinct - n_exact) * 10000) // n_exact AS BIGINT)
                   AS err_bp
        FROM e
    """


def _distinct_check_oracle() -> str:
    B = KMV_K
    return f"""
        WITH dh AS (SELECT DISTINCT {_h(0, 'duck')} AS h FROM events
                    WHERE user_id IS NOT NULL),
        b AS (SELECT h FROM dh ORDER BY h LIMIT {B}),
        s AS (SELECT CAST(count(*) AS BIGINT) AS bk,
                     CAST(max(h) AS BIGINT) AS hb FROM b),
        x AS (SELECT count(DISTINCT user_id) AS n_exact FROM events),
        e AS (
            SELECT n_exact,
                   CAST(CASE WHEN bk < {B} THEN n_exact
                        ELSE CAST({KMV_M} AS BIGINT) * (bk - 1)
                             // greatest(hb, CAST(1 AS BIGINT)) END
                        AS BIGINT) AS est_distinct
            FROM s CROSS JOIN x
        )
        SELECT n_exact, est_distinct,
               CAST(((est_distinct - n_exact) * 10000)
                    // greatest(n_exact, CAST(1 AS BIGINT)) AS BIGINT)
                   AS err_bp
        FROM e
    """


def _overlap_oracle() -> str:
    mins = []
    for j in range(KMV_K):
        h = _h(j, "duck")
        mins.append(
            f"min(CASE WHEN event_type = '{OVERLAP_A}' THEN {h} END) AS a{j}"
        )
        mins.append(
            f"min(CASE WHEN event_type = '{OVERLAP_B}' THEN {h} END) AS b{j}"
        )
    sum_a = " + ".join(f"a{j}" for j in range(KMV_K))
    sum_b = " + ".join(f"b{j}" for j in range(KMV_K))
    sum_u = " + ".join(f"least(a{j}, b{j})" for j in range(KMV_K))
    d = lambda s: _est(s).replace(" DIV ", " // ")  # noqa: E731
    mins_sql = ",\n                   ".join(mins)
    return f"""
        WITH filtered AS (
            SELECT * FROM events
            WHERE event_type IN ('{OVERLAP_A}', '{OVERLAP_B}')
        ),
        sk AS (
            SELECT {mins_sql}
            FROM filtered
        ),
        e AS (
            SELECT CAST({d(sum_a)} AS BIGINT) AS est_a,
                   CAST({d(sum_b)} AS BIGINT) AS est_b,
                   CAST({d(sum_u)} AS BIGINT) AS est_union
            FROM sk
        ),
        fl AS (
            SELECT user_id,
                   max(CASE WHEN event_type = '{OVERLAP_A}' THEN 1 ELSE 0 END)
                       AS fa,
                   max(CASE WHEN event_type = '{OVERLAP_B}' THEN 1 ELSE 0 END)
                       AS fb
            FROM filtered GROUP BY user_id
        ),
        ex AS (
            SELECT CAST(sum(fa) AS BIGINT) AS n_a,
                   CAST(sum(fb) AS BIGINT) AS n_b,
                   CAST(sum(fa * fb) AS BIGINT) AS n_both
            FROM fl
        )
        SELECT n_a, n_b, n_both, est_a, est_b, est_union,
               est_a + est_b - est_union AS est_both
        FROM ex CROSS JOIN e
    """


def _bootstrap_oracle() -> str:
    aggs = ",\n                   ".join(
        f"CAST(sum({_pois_w(b, 'duck')} * cents) AS BIGINT) AS swx{b},\n"
        f"                   CAST(sum({_pois_w(b, 'duck')}) AS BIGINT) AS sw{b}"
        for b in range(BOOT_B)
    )
    means = ", ".join(
        f"CAST(swx{b} AS DOUBLE) / CAST(nullif(sw{b}, 0) AS DOUBLE)"
        for b in range(BOOT_B)
    )
    return f"""
        WITH base AS (
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents
            FROM orders
        ),
        one AS (
            SELECT count(*) AS n_orders,
                   CAST(sum(cents) AS BIGINT) AS total_cents,
                   {aggs}
            FROM base
        )
        SELECT n_orders,
               CAST(total_cents AS DOUBLE) / CAST(n_orders AS DOUBLE)
                   AS mean_cents,
               list_sort([{means}])[2] AS boot_lo_cents,
               list_sort([{means}])[{BOOT_B - 1}] AS boot_hi_cents
        FROM one
    """


def _qsk_oracle() -> str:
    return f"""
        WITH base AS (
            SELECT {QSK_GROUP} AS grp,
                   CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                   md5('qsk:' || CAST(o_orderkey AS VARCHAR)) AS h,
                   o_orderkey
            FROM orders WHERE o_totalprice IS NOT NULL
        ),
        sample AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY grp ORDER BY h, o_orderkey) AS rn
                FROM base
            ) WHERE rn <= {QSK_K}
        ),
        samp AS (
            SELECT *, row_number() OVER (
                PARTITION BY grp ORDER BY cents, h) AS vr,
                count(*) OVER (PARTITION BY grp) AS n_sample
            FROM sample
        ),
        est AS (
            SELECT grp, n_sample,
                   max(CASE WHEN vr <= (n_sample + 1) // 2 THEN cents END)
                       AS p50_est,
                   max(CASE WHEN vr <= (9 * n_sample + 9) // 10 THEN cents END)
                       AS p90_est
            FROM samp GROUP BY 1, 2
        ),
        full_r AS (
            SELECT *, row_number() OVER (
                PARTITION BY grp ORDER BY cents, o_orderkey) AS vr,
                count(*) OVER (PARTITION BY grp) AS n
            FROM base
        ),
        exact AS (
            SELECT grp, n,
                   max(CASE WHEN vr <= (n + 1) // 2 THEN cents END)
                       AS p50_exact,
                   max(CASE WHEN vr <= (9 * n + 9) // 10 THEN cents END)
                       AS p90_exact
            FROM full_r GROUP BY 1, 2
        )
        SELECT grp, n, n_sample,
               p50_est, p50_exact,
               CAST(abs(p50_est - p50_exact) * 10000 // p50_exact AS BIGINT)
                   AS p50_err_bp,
               p90_est, p90_exact,
               CAST(abs(p90_est - p90_exact) * 10000 // p90_exact AS BIGINT)
                   AS p90_err_bp
        FROM est JOIN exact USING (grp)
    """


ORACLE = {
    "kmv_distinct_users": _distinct_oracle(),
    "kmv_distinct_check": _distinct_check_oracle(),
    "kmv_user_overlap": _overlap_oracle(),
    "bootstrap_revenue_ci": _bootstrap_oracle(),
    "quantile_sketch_check": _qsk_oracle(),
}
