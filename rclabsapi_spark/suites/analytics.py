"""Event-log / customer analytics suite: path mining, RFM segmentation,
robust anomaly detection, cross-tab pivot, per-group heavy hitters, and
incremental-aggregate maintenance — the OLAP layer a monitoring store
(job_monitoring_models.cpp's A-series rollups) grows once dashboards ask
"what happens next / who matters / what's abnormal" instead of plain
counts. Implementations in operators/analytics.py; all single-fact-scan,
UDF-free plans.

"now" is frozen per domain (registry.py): orders → 2002-01-01.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from rclabsapi_spark.layout import spread_by

from rclabsapi_spark.catalog import load_table
from rclabsapi_spark.operators.analytics import (
    chi_square_independence,
    equidepth_histogram,
    heavy_hitters,
    mean_shift_changepoint,
    psi_drift,
    seasonal_naive_backtest,
    mad_anomalies,
    merge_partial_aggs,
    path_trigrams,
    rfm_scores,
    transition_matrix,
)
from pyspark.sql.window import Window

from rclabsapi_spark.functions.scalars import sql_grid_sum, round_half_up, sql_round_half_up
from rclabsapi_spark.registry import query

# ---------------------------------------------------------------------------
# Markov path analysis over the event log
# ---------------------------------------------------------------------------

_SEQ_WINDOW = "OVER (PARTITION BY user_id ORDER BY ts, event_id)"

_TRANSITIONS_ORACLE = f"""
WITH seq AS (
    SELECT event_type AS from_type,
           LEAD(event_type) {_SEQ_WINDOW} AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, COUNT(*)::BIGINT AS n
    FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       n::DOUBLE / (SUM(n) OVER (PARTITION BY from_type))::DOUBLE AS p
FROM counts
"""


@query("path_transitions", _TRANSITIONS_ORACLE, bench=True)
def q_transitions(spark, sf_dir):
    """First-order Markov transition matrix between consecutive events
    per user (ts, event_id ordering). One fact shuffle; p divides exact
    integer counts — no rounding needed. operators/analytics.py."""
    ev = load_table(spark, sf_dir, "events")
    return transition_matrix(ev)


_TRIGRAMS_ORACLE = f"""
WITH seq AS (
    SELECT event_type AS t1,
           LEAD(event_type, 1) {_SEQ_WINDOW} AS t2,
           LEAD(event_type, 2) {_SEQ_WINDOW} AS t3
    FROM events
)
SELECT t1, t2, t3, COUNT(*)::BIGINT AS n
FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n DESC, t1, t2, t3
LIMIT 10
"""


@query("path_top_trigrams", _TRIGRAMS_ORACLE, bench=True)
def q_trigrams(spark, sf_dir):
    """Top-10 three-step user journeys: two stacked leads over one
    per-user window sort, TakeOrdered top-k with lexicographic
    tie-break. operators/analytics.py."""
    ev = load_table(spark, sf_dir, "events")
    return path_trigrams(ev, k=10)


# ---------------------------------------------------------------------------
# RFM customer segmentation over orders
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey,
           datediff('day', MAX(o_orderdate)::DATE, DATE '2002-01-01')::BIGINT
               AS recency_days,
           COUNT(*)::BIGINT AS frequency,
           SUM(CAST(FLOOR(o_totalprice * 1000000.0 + 0.5) AS HUGEINT))::DOUBLE
               / 1000000.0 AS monetary
    FROM orders GROUP BY 1
)
SELECT o_custkey, recency_days, frequency, monetary,
       NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS r_score,
       NTILE(4) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
       NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
FROM per_cust
"""


@query("rfm_segments", _RFM_ORACLE, bench=True)
def q_rfm(spark, sf_dir):
    """Per-customer RFM quartile scores against the frozen orders "now".
    ntile orders carry the customer key as tie-break and rank the
    6-decimal-rounded monetary sum, so the quartile boundaries are
    deterministic in both engines; the quartiles themselves run as
    percentile-threshold two-phase ranks (operators/rank.py — no
    single-partition sort). operators/analytics.py."""
    orders = load_table(spark, sf_dir, "orders")
    return rfm_scores(orders, now="2002-01-01")


# ---------------------------------------------------------------------------
# Robust daily-volume anomaly detection (median/MAD)
# ---------------------------------------------------------------------------

_MAD_ORACLE = """
WITH daily AS (
    SELECT event_type, date_trunc('day', ts)::TIMESTAMP AS day,
           COUNT(*)::DOUBLE AS n
    FROM events GROUP BY 1, 2
),
med AS (SELECT event_type, MEDIAN(n) AS med FROM daily GROUP BY 1),
j AS (SELECT d.*, m.med FROM daily d JOIN med m USING (event_type)),
mad AS (
    SELECT event_type, MEDIAN(ABS(n - med)) AS mad FROM j GROUP BY 1
)
SELECT j.event_type, j.day, j.n, j.med, mad.mad,
       ABS(j.n - j.med) > 3.0 * mad.mad AS is_anomaly
FROM j JOIN mad USING (event_type)
"""


@query("anomaly_mad_daily", _MAD_ORACLE, bench=True)
def q_mad(spark, sf_dir):
    """Median/MAD outlier flags over per-type daily volumes — the
    tuning-free robust version of ST6's absolute thresholds
    (system_metrics.hpp:43-54). The fact aggregates once; both median
    passes and joins run on the tiny (type, day) relation with broadcast
    joins. Exact integer-midpoint medians keep cross-engine parity.
    operators/analytics.py."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return mad_anomalies(
        daily, group_cols=("event_type",), value_col="n"
    ).select("event_type", "day", "n", "med", "mad", "is_anomaly")


# ---------------------------------------------------------------------------
# Cross-tab pivot: order counts status × priority
# ---------------------------------------------------------------------------

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PIVOT_ALIASES = ["p_urgent", "p_high", "p_medium", "p_not_specified", "p_low"]

_PIVOT_ORACLE = """
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')::BIGINT AS p_urgent,
       COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH')::BIGINT AS p_high,
       COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM')::BIGINT AS p_medium,
       COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED')::BIGINT
           AS p_not_specified,
       COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW')::BIGINT AS p_low
FROM orders GROUP BY 1
"""


@query("pivot_status_priority", _PIVOT_ORACLE, bench=True)
def q_pivot(spark, sf_dir):
    """Order counts cross-tabbed status × priority. The pivot values are
    explicit, so Spark skips the extra distinct-values pass and compiles
    to one conditional aggregate (same plan as the FILTER oracle) —
    a single reduction to |statuses| rows."""
    orders = load_table(spark, sf_dir, "orders")
    pv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renamed = pv.select(
        "o_orderstatus",
        *[
            F.coalesce(F.col(f"`{val}`"), F.lit(0)).alias(alias)
            for val, alias in zip(_PRIORITIES, _PIVOT_ALIASES)
        ],
    )
    return renamed


# ---------------------------------------------------------------------------
# Per-group heavy hitters
# ---------------------------------------------------------------------------

_HH_ORACLE = """
WITH counts AS (
    SELECT user_id, event_type, COUNT(*)::BIGINT AS n
    FROM events GROUP BY 1, 2
)
SELECT user_id, event_type, n, rank FROM (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY n DESC, event_type) AS rank
    FROM counts
) WHERE rank <= 2
"""


@query("hh_top_events_per_user", _HH_ORACLE, bench=True)
def q_heavy_hitters(spark, sf_dir):
    """Each user's top-2 event types by count. ONE shuffle: the explicit
    user_id repartition serves both the (user, type) aggregate and the
    ranking window (hashpartitioning(user_id) satisfies the aggregate's
    clustering). operators/analytics.py."""
    ev = load_table(spark, sf_dir, "events")
    return heavy_hitters(ev, group_col="user_id", item_col="event_type", k=2)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (mergeable partial state)
# ---------------------------------------------------------------------------

_INC_ORACLE = f"""
SELECT event_type, date_trunc('day', ts)::TIMESTAMP AS day,
       COUNT(*)::BIGINT AS n,
       {sql_grid_sum('value', 6)} AS sum_v,
       MIN(value) AS min_v,
       MAX(value) AS max_v,
       FLOOR((SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE
              / (COUNT(*) * 1000000000.0)) * 1000000.0 + 0.5)
           / 1000000.0 AS avg_v
FROM events GROUP BY 1, 2
"""


@query("inc_agg_daily_merge", _INC_ORACLE, bench=True)
def q_inc_agg(spark, sf_dir):
    """Incremental rollup maintenance: per-(type, day) state computed as
    mergeable partials over an 80/20 base/delta split of the fact (the
    absorb-a-new-partition path at 100 TB), then merged — the oracle
    recomputes the aggregate directly, proving merge(partials) ≡ full.
    operators/analytics.py."""
    ev = load_table(spark, sf_dir, "events")
    part = F.when(F.col("event_id") % 10 < 8, F.lit("base")).otherwise(
        F.lit("delta")
    )
    return merge_partial_aggs(
        ev.withColumn("day", F.date_trunc("day", F.col("ts"))),
        part_col=part,
        group_cols=("event_type", "day"),
        value_col="value",
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest (forecast skill baseline)
# ---------------------------------------------------------------------------

_DAILY_SQL = """
    SELECT event_type,
           date_diff('day', DATE '2024-01-01',
                     date_trunc('day', ts)::DATE)::BIGINT AS day_idx,
           COUNT(*)::DOUBLE AS n
    FROM events GROUP BY 1, 2
"""

_SNAIVE_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
j AS (
    SELECT c.event_type, c.n AS actual, p.n AS forecast
    FROM daily c
    JOIN daily p
      ON c.event_type = p.event_type AND c.day_idx = p.day_idx + 7
)
SELECT event_type, COUNT(*)::BIGINT AS n_eval,
       {sql_round_half_up('AVG(ABS(actual - forecast))')} AS mae,
       {sql_round_half_up(
           "SUM(CAST(FLOOR((CASE WHEN ABS(actual) + ABS(forecast) > 0 "
           "THEN 2.0 * ABS(actual - forecast) / (ABS(actual) + ABS(forecast)) "
           "ELSE 0.0 END) * 1000000000.0 + 0.5) AS HUGEINT))::DOUBLE "
           "/ (COUNT(*) * 1000000000.0)")} AS smape
FROM j GROUP BY 1
"""


@query("forecast_seasonal_naive", _SNAIVE_ORACLE, bench=True)
def q_seasonal_naive(spark, sf_dir):
    """Forecast-skill floor for the reference's baseline-comparison
    indicator (A14, job_monitoring_models.cpp:226-258): seasonal-naive
    ŷ_t = y_{t−7d} backtested over per-type daily volumes, reporting MAE
    and SMAPE. The week-shift is an equi-join on the aggregated series
    (calendar-gap safe, unlike a row lag), broadcast-sized after the one
    fact reduction. operators/analytics.py::seasonal_naive_backtest."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),
        )
        .cast("long")
        .alias("day_idx"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return seasonal_naive_backtest(
        daily,
        group_cols=("event_type",),
        idx_col="day_idx",
        value_col="n",
        season=7,
    )


# ---------------------------------------------------------------------------
# Distribution drift: PSI between two halves of the event stream
# ---------------------------------------------------------------------------

_PSI_ORACLE = f"""
WITH bounds AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
binned AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END
               AS period,
           CAST(LEAST(GREATEST(
               FLOOR((value - lo) / ((hi - lo) / 10.0)), 0), 9) AS BIGINT)
               AS bin
    FROM events, bounds
),
counts AS (
    SELECT event_type, bin,
           COUNT(*) FILTER (WHERE period = 'ref')::BIGINT AS n_ref,
           COUNT(*) FILTER (WHERE period = 'cur')::BIGINT AS n_cur
    FROM binned GROUP BY 1, 2
),
shares AS (
    SELECT event_type, bin, n_ref, n_cur,
           n_ref::DOUBLE / SUM(n_ref) OVER (PARTITION BY event_type) AS p,
           n_cur::DOUBLE / SUM(n_cur) OVER (PARTITION BY event_type) AS q
    FROM counts
)
SELECT event_type,
       SUM(n_ref)::BIGINT AS n_ref,
       SUM(n_cur)::BIGINT AS n_cur,
       {sql_grid_sum('(GREATEST(q, 1e-6) - GREATEST(p, 1e-6))'
                     ' * LN(GREATEST(q, 1e-6) / GREATEST(p, 1e-6))', 6)} AS psi
FROM shares GROUP BY 1
"""


@query("drift_psi_value", _PSI_ORACLE, bench=True)
def q_psi_drift(spark, sf_dir):
    """Population Stability Index of the value distribution, first half
    of January vs second, per event type — "did the metric's shape
    move", the distributional upgrade of the reference's baseline
    deviation alerts (A14/ST6). Equal-width deciles over the global
    range; ε-floored shares; ordered 10-term fold.
    operators/analytics.py::psi_drift."""
    ev = load_table(spark, sf_dir, "events")
    period = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), "ref"
    ).otherwise("cur")
    return psi_drift(
        ev,
        group_cols=("event_type",),
        value_col="value",
        period_col=period,
        n_bins=10,
    )


# ---------------------------------------------------------------------------
# CUSUM mean-shift changepoint over daily volumes
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = f"""
WITH daily AS ({_DAILY_SQL}),
stats AS (
    SELECT event_type, day_idx AS pos, n AS x,
           SUM(n) OVER (PARTITION BY event_type ORDER BY day_idx
                        ROWS UNBOUNDED PRECEDING) AS cum,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day_idx) AS k,
           SUM(n) OVER (PARTITION BY event_type) AS total,
           COUNT(*) OVER (PARTITION BY event_type) AS n_days
    FROM daily
),
scored AS (
    SELECT *, ABS(cum - k * (total / n_days)) AS score
    FROM stats WHERE k < n_days
),
picked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                 ORDER BY score DESC, pos) AS rn
    FROM scored
)
SELECT event_type, pos AS changepoint_at,
       {sql_round_half_up('score')} AS cusum_score,
       {sql_round_half_up('cum / k')} AS mean_before,
       {sql_round_half_up('(total - cum) / (n_days - k)')} AS mean_after
FROM picked WHERE rn = 1
"""


@query("changepoint_mean_shift", _CUSUM_ORACLE, bench=True)
def q_changepoint(spark, sf_dir):
    """Single most-likely level shift per event type via the CUSUM
    statistic argmax_k |Σ_{i≤k}(x_i − x̄)| over daily volumes — "when
    did this metric change", the follow-up to anomaly_mad_daily's "which
    day is abnormal". All prefix sums run in day order on both engines,
    so scores are bit-identical and the desc-score/asc-day argmax is
    deterministic. operators/analytics.py::mean_shift_changepoint."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),
        )
        .cast("long")
        .alias("day_idx"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return mean_shift_changepoint(
        daily,
        group_cols=("event_type",),
        order_col="day_idx",
        value_col="n",
    )


# ---------------------------------------------------------------------------
# Equi-depth histogram of order values
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT bucket, COUNT(*)::BIGINT AS n, MIN(v) AS lo, MAX(v) AS hi
FROM (
    SELECT o_totalprice AS v,
           NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
    FROM orders
) GROUP BY 1
"""


@query("a_histogram_equidepth", _HISTOGRAM_ORACLE, bench=True)
def q_histogram_equidepth(spark, sf_dir):
    """Equal-frequency 10-bucket histogram of o_totalprice — the
    skew-adaptive complement of drift_psi_value's equal-width bins (what
    optimizer statistics and feature binners use). ntile carries the
    order key as tie-break so bucket boundaries are deterministic.
    operators/analytics.py::equidepth_histogram."""
    orders = load_table(spark, sf_dir, "orders")
    return equidepth_histogram(
        orders, value_col="o_totalprice", key_col="o_orderkey", n_buckets=10
    )


# ---------------------------------------------------------------------------
# χ² independence: order status vs priority
# ---------------------------------------------------------------------------

_CHI2_ORACLE = f"""
WITH obs AS (
    SELECT o_orderstatus AS r, o_orderpriority AS c, COUNT(*)::BIGINT AS o
    FROM orders GROUP BY 1, 2
),
cells AS (
    SELECT r, c, o,
           (SUM(o) OVER (PARTITION BY r))::DOUBLE
           * (SUM(o) OVER (PARTITION BY c))::DOUBLE
           / (SUM(o) OVER ())::DOUBLE AS e
    FROM obs
)
SELECT {sql_grid_sum('(o::DOUBLE - e) * (o::DOUBLE - e) / e', 6)} AS chi2,
       ((COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1))::BIGINT AS dof,
       SUM(o)::BIGINT AS n_rows
FROM cells
"""


@query("stat_chi2_status_priority", _CHI2_ORACLE)
def q_chi2(spark, sf_dir):
    """Pearson χ² statistic for independence of order status and
    priority — "are these dimensions related", the statistical upgrade
    of pivot_status_priority's raw cross-tab. One fact aggregate to the
    contingency table; margins are windows over the |r·c| relation.
    operators/analytics.py::chi_square_independence."""
    orders = load_table(spark, sf_dir, "orders")
    return chi_square_independence(
        orders, row_col="o_orderstatus", col_col="o_orderpriority"
    )


# ---------------------------------------------------------------------------
# Correlation matrix over lineitem measures
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
SELECT ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
       ROUND(corr(l_quantity, l_discount), 6) AS corr_qty_discount,
       ROUND(corr(l_extendedprice, l_discount), 6) AS corr_price_discount,
       COUNT(*)::BIGINT AS n_rows
FROM lineitem
"""


@query("stat_corr_lineitem", _CORR_ORACLE)
def q_corr(spark, sf_dir):
    """Pairwise Pearson correlations among the lineitem measures in ONE
    single-scan aggregate (each corr is a mergeable co-moment fold —
    map-side partials merge exactly like sum/count, so one pass covers
    all pairs at any scale). Extends the reference's derived indicators
    (A11, job_monitoring_models.cpp:160-209) from ratios to
    relationships."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias(
            "corr_qty_price"
        ),
        F.round(F.corr("l_quantity", "l_discount"), 6).alias(
            "corr_qty_discount"
        ),
        F.round(F.corr("l_extendedprice", "l_discount"), 6).alias(
            "corr_price_discount"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample drift statistic
# ---------------------------------------------------------------------------

_KS_ORACLE = """
WITH tagged AS (
    SELECT event_type, value,
           CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS is_ref
    FROM events
),
per_value AS (
    SELECT event_type, value,
           SUM(is_ref)::BIGINT AS n1,
           SUM(1 - is_ref)::BIGINT AS n2
    FROM tagged GROUP BY 1, 2
),
cdf AS (
    SELECT event_type,
           SUM(n1) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING)::DOUBLE
               / (SUM(n1) OVER (PARTITION BY event_type))::DOUBLE AS f1,
           SUM(n2) OVER (PARTITION BY event_type ORDER BY value
                         ROWS UNBOUNDED PRECEDING)::DOUBLE
               / (SUM(n2) OVER (PARTITION BY event_type))::DOUBLE AS f2,
           SUM(n1) OVER (PARTITION BY event_type) AS n_ref,
           SUM(n2) OVER (PARTITION BY event_type) AS n_cur
    FROM per_value
)
SELECT event_type, MAX(n_ref)::BIGINT AS n_ref, MAX(n_cur)::BIGINT AS n_cur,
       FLOOR(MAX(ABS(f1 - f2)) * 1000000.0 + 0.5) / 1000000.0 AS ks_d
FROM cdf GROUP BY 1
"""


@query("stat_ks_value_drift", _KS_ORACLE, bench=True)
def q_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov–Smirnov D per event type (first half of
    January vs second): the binning-free drift statistic — PSI asks
    "how far apart are the histograms", KS asks "how far apart are the
    CDFs" with no bin choice to tune (the distributional upgrade of the
    reference's baseline deviation alerts, A14/ST6,
    job_monitoring_models.cpp:226-258). One (type, value) aggregate, two
    prefix-sum windows over the same type clustering; every arithmetic
    step divides exact counts, so D is bit-identical cross-engine."""
    ev = load_table(spark, sf_dir, "events")
    is_ref = F.when(
        F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1
    ).otherwise(0)
    per_value = (
        ev.select("event_type", "value", is_ref.alias("is_ref"))
        .transform(lambda d: spread_by(d, "event_type"))
        .groupBy("event_type", "value")
        .agg(
            F.sum("is_ref").alias("n1"),
            F.sum(1 - F.col("is_ref")).alias("n2"),
        )
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cdf = per_value.select(
        "event_type",
        (
            F.sum("n1").over(w_run).cast("double")
            / F.sum("n1").over(w_all).cast("double")
        ).alias("f1"),
        (
            F.sum("n2").over(w_run).cast("double")
            / F.sum("n2").over(w_all).cast("double")
        ).alias("f2"),
        F.sum("n1").over(w_all).alias("n_ref"),
        F.sum("n2").over(w_all).alias("n_cur"),
    )
    return cdf.groupBy("event_type").agg(
        F.max("n_ref").cast("long").alias("n_ref"),
        F.max("n_cur").cast("long").alias("n_cur"),
        round_half_up(F.max(F.abs(F.col("f1") - F.col("f2")))).alias("ks_d"),
    )


# ---------------------------------------------------------------------------
# Shuffle-skew report for a prospective partitioning key
# ---------------------------------------------------------------------------

_SKEW_ORACLE = f"""
WITH counts AS (
    SELECT user_id AS k, COUNT(*) AS c FROM events GROUP BY 1
),
ranked AS (
    SELECT c, ROW_NUMBER() OVER (ORDER BY c, k) AS i FROM counts
),
tot AS (
    SELECT SUM(c)::BIGINT AS total, COUNT(*)::BIGINT AS n_keys,
           MAX(c)::BIGINT AS max_c
    FROM counts
),
topk AS (
    SELECT SUM(c)::BIGINT AS top_c
    FROM (SELECT c, k FROM counts ORDER BY c DESC, k LIMIT 10)
),
sic AS (SELECT SUM(i * c)::BIGINT AS s FROM ranked)
SELECT n_keys, total AS n_rows,
       {sql_round_half_up("max_c::DOUBLE / total::DOUBLE", 6)}
           AS top1_share,
       {sql_round_half_up("top_c::DOUBLE / total::DOUBLE", 6)}
           AS top10_share,
       {sql_round_half_up(
           "2.0 * s::DOUBLE / (n_keys * total)::DOUBLE"
           " - (n_keys + 1)::DOUBLE / n_keys::DOUBLE", 6)} AS gini
FROM tot, topk, sic
"""


@query("dq_skew_report", _SKEW_ORACLE)
def q_skew_report(spark, sf_dir):
    """Shuffle-skew diagnostics for user_id as a partitioning key: key
    cardinality, heaviest-key share, top-10 combined share, and the
    Gini coefficient of the key distribution — the pre-flight numbers
    that decide between plain hash join, salting, and AQE skew hints.
    ONE key aggregate; share/Gini math runs on the per-key count
    relation. operators/analytics.py::skew_report."""
    from rclabsapi_spark.operators.analytics import skew_report

    ev = load_table(spark, sf_dir, "events")
    return skew_report(ev, key_col="user_id", top_k=10)
