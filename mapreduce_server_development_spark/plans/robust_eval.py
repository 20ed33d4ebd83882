"""Robust-statistics & evaluation wave: RANSAC trend, histogram-based
outlier scores, split-conformal forecast intervals, a deterministic
randomization test, Fisher's exact test, rank-1 implicit ALS, an
interpolated Kneser–Ney bigram LM, 3-round AdaBoost over decision
stumps, and grid quantile regression. (The same wave adds
``q_betweenness`` to graph_analytics.py and ``q_nb_crossval`` to
corpus_stats.py, next to their families.)

No reference counterpart (the reference engine's surface is the
executable map/reduce plane over text lines, SURVEY.md §1.2); every
operator here is public-knowledge statistics / ML:

- **RANSAC** (Fischler & Bolles 1981): fit a line by consensus —
  candidate models from point pairs, keep the one with the most
  inliers, refit on its inlier set. The high-breakdown companion to
  ``q_theil_sen`` (median-of-slopes) and ``q_ols_regression``.
- **HBOS** (Goldstein & Dengel 2012): histogram-based outlier score,
  the score is the sum of per-feature negative log bin densities —
  the density-based sibling of ``q_iqr_outliers`` / ``q_mad_outliers``
  / ``q_mahalanobis_outliers``.
- **Split-conformal prediction** (Vovk et al. 2005; Lei et al. 2018):
  distribution-free forecast intervals — the (1-alpha) quantile of
  calibration residuals is the interval half-width, with finite-sample
  coverage >= 1-alpha by exchangeability. Audited here against the
  lag-14 seasonal-naive forecaster with an out-of-sample holdout.
- **Randomization test** (Fisher 1935; Dwass 1957 Monte-Carlo form):
  re-draw group labels under the null and compare the observed mean
  difference against the replicate distribution. Deterministic
  counter-mode md5 replicates — the ``q_bootstrap_ci`` discipline.
- **Fisher's exact test** (Fisher 1934): exact hypergeometric tail of
  a 2x2 table, via integer-quantized log-factorials (exact table for
  k<=20, Stirling series beyond — error < 1e-12 nats at k>=21).
- **Rank-1 ALS** (Hu, Koren & Volinsky 2008 shape, observed-entry
  least squares): alternating closed-form factor updates on the
  customer x part purchase-count matrix — the matrix-factorization
  recommender next to the neighborhood model ``q_item_cf``.
- **Interpolated Kneser–Ney** (Kneser & Ney 1995; Chen & Goodman
  1999): absolute discounting with the continuation-count unigram —
  the stronger LM next to ``q_backoff_lm_score``, sharing its 80/20
  hash split so scores are directly comparable.

Float posture (the module discipline, same as timeseries.py /
corpus_stats.py): every data-scale aggregate is an exact integer sum
(cents, counts, e6/e8-quantized logs); the only float ops are single
correctly-rounded divisions/logs applied to exact integers, identical
expression text in both engines, then ``round(., 6)``.

Scale posture: every query aggregates the raw relation to a bounded
one first (calendar days/months, 30 histogram bins, 99 replicate
rows, one 2x2 table, factor vectors keyed by customer/part) with one
partial-agg'd shuffle; candidate fan-outs are bounded by construction
(anchor-pair grid, replicate grid, enumeration range) and stated per
query. No single-partition data-scale window anywhere: global order
statistics ride ``global_row_number`` (two-phase scan) or
limit-bounded ``TakeOrderedAndProject`` rank filters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.prefix import global_row_number
from ..session import materialize, one_row
from ..sources.tables import load_table
from .registry import query

#: Cents conversion shared with the forecasting family.
_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

# ---------------------------------------------------------------------------
# q_ransac_trend — RANSAC consensus line fit on monthly revenue
# ---------------------------------------------------------------------------

#: Anchor months drawn by hash rank; all anchor pairs are candidate
#: models: 16 anchors -> 120 candidates, a calendar-bounded grid.
_RS_ANCHORS = 16

#: Inlier tolerance = floor(mean monthly revenue / 10) cents — scale-free
#: (tracks the series level) and exactly integer in both engines.
_RS_TOL_DIV = 10

_RS_MONTHLY = """
    SELECT (year(CAST(o_orderdate AS DATE)) - 1992) * 12
           + month(CAST(o_orderdate AS DATE)) - 1 AS m,
           CAST(SUM({cents}) AS BIGINT) AS y
    FROM orders GROUP BY 1
"""


@query(
    "q_ransac_trend",
    oracle=f"""
    WITH monthly AS ({_RS_MONTHLY.format(cents=_CENTS)}),
    tol AS (
        SELECT CAST(SUM(y) // (COUNT(*) * {_RS_TOL_DIV}) AS BIGINT) AS tol,
               CAST(COUNT(*) AS BIGINT) AS n_months
        FROM monthly
    ),
    anchors AS (
        SELECT m, y FROM monthly
        ORDER BY md5('rs:' || CAST(m AS VARCHAR)) LIMIT {_RS_ANCHORS}
    ),
    cand AS (
        SELECT a.m AS mi, a.y AS yi, b.m AS mj, b.y AS yj
        FROM anchors a JOIN anchors b ON a.m < b.m
    ),
    votes AS (
        SELECT c.mi, c.mj,
               CAST(COUNT(*) FILTER (WHERE
                   abs(CAST(p.y - c.yi AS HUGEINT) * (c.mj - c.mi)
                       - CAST(c.yj - c.yi AS HUGEINT) * (p.m - c.mi))
                   <= CAST(t.tol AS HUGEINT) * (c.mj - c.mi)) AS BIGINT)
                   AS n_inliers
        FROM cand c CROSS JOIN tol t JOIN monthly p ON TRUE
        GROUP BY c.mi, c.mj
    ),
    best AS (
        SELECT v.mi, v.mj, v.n_inliers, c.yi, c.yj
        FROM votes v JOIN cand c ON c.mi = v.mi AND c.mj = v.mj
        ORDER BY v.n_inliers DESC, v.mi, v.mj LIMIT 1
    ),
    inl AS (
        SELECT p.m, p.y FROM monthly p CROSS JOIN best b CROSS JOIN tol t
        WHERE abs(CAST(p.y - b.yi AS HUGEINT) * (b.mj - b.mi)
                  - CAST(b.yj - b.yi AS HUGEINT) * (p.m - b.mi))
              <= CAST(t.tol AS HUGEINT) * (b.mj - b.mi)
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(m) AS HUGEINT) AS sm,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(m AS HUGEINT) * y) AS HUGEINT) AS smy,
               CAST(SUM(CAST(m AS HUGEINT) * m) AS HUGEINT) AS smm
        FROM inl
    )
    SELECT t.n_months,
           b.mi AS best_mi, b.mj AS best_mj,
           b.n_inliers,
           round(CAST(b.n_inliers AS DOUBLE) / t.n_months, 6) AS inlier_frac,
           round(CAST(f.n * f.smy - f.sm * f.sy AS DOUBLE)
                 / CAST(f.n * f.smm - f.sm * f.sm AS DOUBLE) / 100.0, 6)
               AS slope_dollars,
           round(CAST(f.sy * f.smm - f.sm * f.smy AS DOUBLE)
                 / CAST(f.n * f.smm - f.sm * f.sm AS DOUBLE) / 100.0, 6)
               AS intercept_dollars
    FROM best b CROSS JOIN tol t CROSS JOIN fit f
    """,
)
def q_ransac_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANSAC consensus line fit (Fischler & Bolles 1981) on the
    monthly revenue series, made fully deterministic: the "random"
    sample is the 16 hash-rank-lowest months (md5 order), every anchor
    pair is a candidate line, the consensus vote counts months whose
    EXACT integer cross-product residual ``|(y-yi)(mj-mi) -
    (yj-yi)(m-mi)|`` is within ``tol*(mj-mi)`` (tolerance = mean/10 in
    cents — scale-free), and the winner (max inliers, then smallest
    anchor pair) is refit by exact-sum closed-form OLS on its inliers.

    Exactness: the residual test multiplies int64 cents by month
    deltas inside DECIMAL(38,0)/HUGEINT (y*84 months passes 2^63 near
    100 TB); slope and intercept are each ONE float division of exact
    integer determinants, then round(., 6) — identical in both
    engines. No float enters any comparison.

    Scale: one orders aggregate to ~84 calendar-bounded months; the
    vote join is |candidates| x |months| = 120 x 84 ~ 10^4 rows
    regardless of data scale; anchor and winner selection are
    limit-bounded TakeOrderedAndProject sorts, never a global window.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (
            (F.year(F.col("o_orderdate").cast("date")) - 1992) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        ).alias("m")
    ).agg(F.sum(F.expr(_CENTS)).cast("long").alias("y"))
    tol = monthly.agg(
        F.expr(f"CAST(SUM(y) DIV (COUNT(*) * {_RS_TOL_DIV}) AS BIGINT)").alias(
            "tol"
        ),
        F.count("*").cast("long").alias("n_months"),
    )
    anchors = (
        monthly.orderBy(F.md5(F.concat(F.lit("rs:"), F.col("m").cast("string"))))
        .limit(_RS_ANCHORS)
        .select("m", "y")
    )
    cand = (
        anchors.alias("a")
        .join(anchors.alias("b"), F.col("a.m") < F.col("b.m"))
        .select(
            F.col("a.m").alias("mi"),
            F.col("a.y").alias("yi"),
            F.col("b.m").alias("mj"),
            F.col("b.y").alias("yj"),
        )
    )
    resid_ok = F.expr(
        "abs(CAST(y - yi AS DECIMAL(38,0)) * (mj - mi)"
        " - CAST(yj - yi AS DECIMAL(38,0)) * (m - mi))"
        " <= CAST(tol AS DECIMAL(38,0)) * (mj - mi)"
    )
    votes = (
        monthly.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(tol))
        .groupBy("mi", "mj")
        .agg(F.sum(F.when(resid_ok, 1).otherwise(0)).cast("long").alias("n_inliers"))
    )
    best = (
        votes.join(cand, ["mi", "mj"])
        .orderBy(F.col("n_inliers").desc(), "mi", "mj")
        .limit(1)
    )
    inl = (
        monthly.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(tol))
        .filter(resid_ok)
        .select("m", "y")
    )
    fit = inl.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("m").cast("decimal(38,0)").alias("sm"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * y")).alias("smy"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * m")).alias("smm"),
    )
    return (
        F.broadcast(best)
        .crossJoin(F.broadcast(tol))
        .crossJoin(F.broadcast(fit))
        .selectExpr(
            "n_months",
            "mi AS best_mi",
            "mj AS best_mj",
            "n_inliers",
            "round(CAST(n_inliers AS DOUBLE) / n_months, 6) AS inlier_frac",
            "round(CAST(n * smy - sm * sy AS DOUBLE)"
            " / CAST(n * smm - sm * sm AS DOUBLE) / 100.0, 6) AS slope_dollars",
            "round(CAST(sy * smm - sm * smy AS DOUBLE)"
            " / CAST(n * smm - sm * sm AS DOUBLE) / 100.0, 6)"
            " AS intercept_dollars",
        )
    )


# ---------------------------------------------------------------------------
# q_hbos_outliers — histogram-based outlier score over lineitem features
# ---------------------------------------------------------------------------

#: Equal-width bins per feature; the score table is |features| x bins
#: = 30 rows regardless of data scale.
_HB_BINS = 10

#: Top-N scored rows returned (limit-bounded global rank).
_HB_TOPN = 20

_HB_FEATS = """
    SELECT l_orderkey AS okey, l_linenumber AS lineno,
           CAST(round(l_quantity) AS BIGINT) AS qty,
           CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
           CAST(round(l_discount * 100) AS BIGINT) AS disc_h
    FROM lineitem
"""


def _hbos_oracle() -> str:
    bin_of = {
        f: f"CAST((({f} - mn_{f}) * {_HB_BINS}) // (mx_{f} - mn_{f} + 1) AS INT)"
        for f in ("qty", "price_c", "disc_h")
    }
    return f"""
    WITH feats AS ({_HB_FEATS}),
    rng AS (
        SELECT MIN(qty) AS mn_qty, MAX(qty) AS mx_qty,
               MIN(price_c) AS mn_price_c, MAX(price_c) AS mx_price_c,
               MIN(disc_h) AS mn_disc_h, MAX(disc_h) AS mx_disc_h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM feats
    ),
    binned AS (
        SELECT f.okey, f.lineno, f.qty, f.price_c, f.disc_h,
               {bin_of['qty']} AS b_qty,
               {bin_of['price_c']} AS b_price,
               {bin_of['disc_h']} AS b_disc
        FROM feats f CROSS JOIN rng
    ),
    sq AS (SELECT b_qty AS b, CAST(round(ln(CAST(r.n AS DOUBLE) / COUNT(*))
                   * 1000000) AS BIGINT) AS s
           FROM binned CROSS JOIN rng r GROUP BY b_qty, r.n),
    sp AS (SELECT b_price AS b, CAST(round(ln(CAST(r.n AS DOUBLE) / COUNT(*))
                   * 1000000) AS BIGINT) AS s
           FROM binned CROSS JOIN rng r GROUP BY b_price, r.n),
    sd AS (SELECT b_disc AS b, CAST(round(ln(CAST(r.n AS DOUBLE) / COUNT(*))
                   * 1000000) AS BIGINT) AS s
           FROM binned CROSS JOIN rng r GROUP BY b_disc, r.n),
    scored AS (
        SELECT x.okey, x.lineno, x.qty, x.price_c, x.disc_h,
               sq.s + sp.s + sd.s AS hbos_e6
        FROM binned x
        JOIN sq ON sq.b = x.b_qty
        JOIN sp ON sp.b = x.b_price
        JOIN sd ON sd.b = x.b_disc
    ),
    topn AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY hbos_e6 DESC, okey, lineno) AS rk
        FROM scored
    )
    SELECT okey AS l_orderkey, lineno AS l_linenumber,
           qty AS quantity,
           round(price_c / 100.0, 2) AS price,
           round(disc_h / 100.0, 2) AS discount,
           CAST(hbos_e6 AS BIGINT) AS hbos_e6,
           round(hbos_e6 / 1000000.0, 6) AS hbos
    FROM topn WHERE rk <= {_HB_TOPN}
    ORDER BY hbos_e6 DESC, l_orderkey, l_linenumber
    """


@query("q_hbos_outliers", oracle=_hbos_oracle())
def q_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012) over
    three lineitem features (quantity, price cents, discount
    hundredths): 10 equal-width bins per feature from the exact
    integer min/max, per-bin score ``-ln(density)`` quantized to e6
    micro-nats, per-row score = the exact integer sum of its three bin
    scores; the 20 most outlying rows are returned.

    Exactness: binning is pure integer arithmetic ``((v-mn)*10) DIV
    (mx-mn+1)`` (never a float cut); each bin's single ``ln`` of a
    ratio of exact integers is quantized to e6 BEFORE any sum, so row
    scores and the final ranking are exact-integer in both engines.

    Scale: one pass for min/max (6 scalars, broadcast), one
    partial-agg'd pass per feature for the 10-row bin tables
    (broadcast), and one scan that joins each row to its three bin
    scores map-side — no data-scale shuffle at all; the top-20 is a
    limit-bounded TakeOrderedAndProject, never a global window sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    feats = li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("lineno"),
        F.round("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_h"),
    )
    rng = feats.agg(
        F.min("qty").alias("mn_qty"),
        F.max("qty").alias("mx_qty"),
        F.min("price_c").alias("mn_price_c"),
        F.max("price_c").alias("mx_price_c"),
        F.min("disc_h").alias("mn_disc_h"),
        F.max("disc_h").alias("mx_disc_h"),
        F.count("*").cast("long").alias("n"),
    )
    bin_of = {
        f: F.expr(
            f"CAST((({f} - mn_{f}) * {_HB_BINS}) DIV (mx_{f} - mn_{f} + 1) AS INT)"
        )
        for f in ("qty", "price_c", "disc_h")
    }
    binned = feats.crossJoin(F.broadcast(rng)).select(
        "okey",
        "lineno",
        "qty",
        "price_c",
        "disc_h",
        bin_of["qty"].alias("b_qty"),
        bin_of["price_c"].alias("b_price"),
        bin_of["disc_h"].alias("b_disc"),
        F.col("n"),
    )
    score = F.expr(
        "CAST(round(ln(CAST(first(n) AS DOUBLE) / COUNT(*)) * 1000000) AS BIGINT)"
    ).alias("s")

    def bin_scores(col: str, out: str) -> DataFrame:
        return binned.groupBy(F.col(col).alias(out)).agg(score)

    sq = bin_scores("b_qty", "bq")
    sp = bin_scores("b_price", "bp")
    sd = bin_scores("b_disc", "bd")
    scored = (
        binned.join(F.broadcast(sq.withColumnRenamed("s", "s_q")), F.col("b_qty") == F.col("bq"))
        .join(F.broadcast(sp.withColumnRenamed("s", "s_p")), F.col("b_price") == F.col("bp"))
        .join(F.broadcast(sd.withColumnRenamed("s", "s_d")), F.col("b_disc") == F.col("bd"))
        .select(
            "okey",
            "lineno",
            "qty",
            "price_c",
            "disc_h",
            (F.col("s_q") + F.col("s_p") + F.col("s_d")).alias("hbos_e6"),
        )
    )
    return (
        scored.orderBy(F.col("hbos_e6").desc(), "okey", "lineno")
        .limit(_HB_TOPN)
        .selectExpr(
            "okey AS l_orderkey",
            "lineno AS l_linenumber",
            "qty AS quantity",
            "round(CAST(price_c AS DOUBLE) / 100, 2) AS price",
            "round(CAST(disc_h AS DOUBLE) / 100, 2) AS discount",
            "CAST(hbos_e6 AS BIGINT) AS hbos_e6",
            "round(CAST(hbos_e6 AS DOUBLE) / 1000000, 6) AS hbos",
        )
        .orderBy(F.col("hbos_e6").desc(), "l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# q_conformal_forecast — split-conformal intervals for the lag-14 naive
# ---------------------------------------------------------------------------

#: Holdout horizon (days) and the forecaster's seasonal lag: identical,
#: so every holdout forecast input is a pre-holdout actual.
_CF_H = 14

#: Miscoverage levels alpha, as integer percents (exact rank math).
_CF_ALPHAS = (20, 10, 5)


def _conformal_oracle() -> str:
    alphas = ", ".join(f"({a})" for a in _CF_ALPHAS)
    return f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({_CENTS}) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ),
    resid AS (
        SELECT a.day, abs(a.rev_c - f.rev_c) AS r
        FROM daily a
        JOIN daily f ON f.day = a.day - INTERVAL {_CF_H} DAY
        CROSS JOIN (SELECT MAX(day) AS max_day FROM daily) m
        WHERE a.day <= CAST(m.max_day - INTERVAL {_CF_H} DAY AS DATE)
    ),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM resid),
    ranked AS (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, day) AS rn FROM resid
    ),
    alphas(alpha_pct) AS (VALUES {alphas}),
    qs AS (
        SELECT a.alpha_pct, nc.n_cal,
               ((100 - a.alpha_pct) * (nc.n_cal + 1) + 99) // 100 AS q_idx
        FROM alphas a CROSS JOIN nc
    ),
    qhat AS (
        SELECT q.alpha_pct, q.n_cal, r.r AS q_hat_c
        FROM qs q JOIN ranked r ON r.rn = q.q_idx
    ),
    hold AS (
        SELECT a.day, a.rev_c AS actual_c, f.rev_c AS forecast_c
        FROM daily a
        JOIN daily f ON f.day = a.day - INTERVAL {_CF_H} DAY
        CROSS JOIN (SELECT MAX(day) AS max_day FROM daily) m
        WHERE a.day > CAST(m.max_day - INTERVAL {_CF_H} DAY AS DATE)
    )
    SELECT q.alpha_pct, q.n_cal,
           round(q.q_hat_c / 100.0, 2) AS q_hat_dollars,
           CAST(COUNT(*) AS BIGINT) AS n_holdout,
           CAST(COUNT(*) FILTER (WHERE abs(h.actual_c - h.forecast_c)
                                       <= q.q_hat_c) AS BIGINT) AS n_covered,
           round(CAST(COUNT(*) FILTER (WHERE abs(h.actual_c - h.forecast_c)
                                             <= q.q_hat_c) AS DOUBLE)
                 / COUNT(*), 6) AS coverage
    FROM qhat q CROSS JOIN hold h
    GROUP BY q.alpha_pct, q.n_cal, q.q_hat_c
    ORDER BY alpha_pct DESC
    """


@query("q_conformal_forecast", oracle=_conformal_oracle())
def q_conformal_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al. 2005; Lei et
    al. 2018) for the lag-14 seasonal-naive daily-revenue forecaster:
    the calibration set is every pre-holdout day's absolute residual
    ``|y_t - y_(t-14)|``; for each alpha the interval half-width
    ``q_hat`` is the ceil((1-alpha)(n_cal+1))-th smallest calibration
    residual (the finite-sample-valid conformal rank, exact integer
    ceiling division); the last 14 days are the out-of-sample holdout
    whose empirical coverage is reported per alpha. Forecast inputs
    for the holdout are all pre-holdout actuals (lag = horizon), so
    the audit is genuinely out-of-sample.

    Exactness: residuals are integer cents; the conformal rank is
    exact integer math ``((100-a)(n+1)+99) DIV 100``; q_hat is an
    exact order statistic picked by rank equality, never an
    interpolating percentile; coverage is one float division.

    Scale: one orders aggregate to calendar days; residual ranking
    rides ``global_row_number`` (two-phase scan — no single-task
    global sort even though the series is calendar-bounded); the
    coverage join is |alphas| x |holdout| = 3 x 14 broadcast rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.expr(_CENTS)).cast("long").alias("rev_c")
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    a = daily.select(F.col("day").alias("a_day"), F.col("rev_c").alias("actual_c"))
    f_ = daily.select(F.col("day").alias("f_day"), F.col("rev_c").alias("forecast_c"))
    paired = a.join(
        f_, F.col("f_day") == F.date_sub(F.col("a_day"), _CF_H)
    ).crossJoin(F.broadcast(mx))
    resid = paired.filter(
        F.col("a_day") <= F.date_sub(F.col("max_day"), _CF_H)
    ).select(
        "a_day", F.abs(F.col("actual_c") - F.col("forecast_c")).alias("r")
    )
    nc = resid.agg(F.count("*").cast("long").alias("n_cal"))
    ranked = global_row_number(resid, ["r", "a_day"], out_col="rn")
    alphas = spark.createDataFrame(
        [(a_,) for a_ in _CF_ALPHAS], "alpha_pct int"
    )
    qs = (
        F.broadcast(alphas)
        .crossJoin(F.broadcast(nc))
        .selectExpr(
            "alpha_pct",
            "n_cal",
            "((100 - alpha_pct) * (n_cal + 1) + 99) DIV 100 AS q_idx",
        )
    )
    qhat = qs.join(ranked, F.col("rn") == F.col("q_idx")).select(
        "alpha_pct", "n_cal", F.col("r").alias("q_hat_c")
    )
    hold = paired.filter(
        F.col("a_day") > F.date_sub(F.col("max_day"), _CF_H)
    ).select("actual_c", "forecast_c")
    covered = F.sum(
        F.when(
            F.abs(F.col("actual_c") - F.col("forecast_c")) <= F.col("q_hat_c"), 1
        ).otherwise(0)
    ).cast("long")
    return (
        hold.crossJoin(F.broadcast(qhat))
        .groupBy("alpha_pct", "n_cal", "q_hat_c")
        .agg(
            F.count("*").cast("long").alias("n_holdout"),
            covered.alias("n_covered"),
        )
        .selectExpr(
            "alpha_pct",
            "n_cal",
            "round(CAST(q_hat_c AS DOUBLE) / 100, 2) AS q_hat_dollars",
            "n_holdout",
            "n_covered",
            "round(CAST(n_covered AS DOUBLE) / n_holdout, 6) AS coverage",
        )
        .orderBy(F.col("alpha_pct").desc())
    )


# ---------------------------------------------------------------------------
# q_permutation_test — deterministic randomization test for a mean difference
# ---------------------------------------------------------------------------

#: Monte-Carlo replicates; p-value granularity is 1/(B+1) = 0.01.
_PM_REPS = 99

#: Reps per md5: 4 hex chars (16 bits) each -> 8 slots per hash, so a
#: row hashes ceil(99/8) = 13 times total (counter-mode, the
#: q_bootstrap_ci discipline).
_PM_SLOTS = 8
_PM_BLOCKS = (_PM_REPS + _PM_SLOTS - 1) // _PM_SLOTS

#: The two compared groups (mean order value by priority).
_PM_A = "1-URGENT"
_PM_B = "5-LOW"


def _pm_oracle() -> str:
    h = "md5('pm:' || CAST(blk AS VARCHAR) || ':' || CAST(k AS VARCHAR))"

    def nib(d: str) -> str:
        return f"(strpos('0123456789abcdef', substr(h, {d}, 1)) - 1)"

    u16 = (
        f"({nib('slot * 4 + 1')} * 4096 + {nib('slot * 4 + 2')} * 256"
        f" + {nib('slot * 4 + 3')} * 16 + {nib('slot * 4 + 4')})"
    )
    return f"""
    WITH o AS (
        SELECT o_orderkey AS k, {_CENTS} AS cents,
               (o_orderpriority = '{_PM_A}') AS is_a
        FROM orders
        WHERE o_orderpriority IN ('{_PM_A}', '{_PM_B}')
    ),
    counts AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE is_a) AS BIGINT) AS n_a,
               CAST(SUM(cents) FILTER (WHERE is_a) AS BIGINT) AS s_a,
               CAST(SUM(cents) FILTER (WHERE NOT is_a) AS BIGINT) AS s_b
        FROM o
    ),
    obs AS (
        SELECT n_a, n - n_a AS n_b,
               CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / (n - n_a)
                   AS diff_obs
        FROM counts
    ),
    blocks AS (SELECT unnest(range(0, {_PM_BLOCKS})) AS blk),
    slots AS (SELECT unnest(range(0, {_PM_SLOTS})) AS slot),
    hashed AS (SELECT k, cents, blk, {h} AS h FROM o, blocks),
    fan AS (
        SELECT blk * {_PM_SLOTS} + slot AS rep, cents,
               {u16} AS u
        FROM hashed, slots
        WHERE blk * {_PM_SLOTS} + slot < {_PM_REPS}
    ),
    per_rep AS (
        SELECT rep,
               CAST(SUM(cents) FILTER (WHERE u * c.n < c.n_a * 65536)
                    AS BIGINT) AS sa,
               CAST(COUNT(*) FILTER (WHERE u * c.n < c.n_a * 65536)
                    AS BIGINT) AS na,
               CAST(SUM(cents) FILTER (WHERE u * c.n >= c.n_a * 65536)
                    AS BIGINT) AS sb,
               CAST(COUNT(*) FILTER (WHERE u * c.n >= c.n_a * 65536)
                    AS BIGINT) AS nb
        FROM fan CROSS JOIN counts c
        GROUP BY rep
    ),
    extreme AS (
        SELECT CAST(COUNT(*) FILTER (WHERE
                   abs(CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
                   >= abs(ob.diff_obs)) AS BIGINT) AS n_extreme
        FROM per_rep CROSS JOIN obs ob
    )
    SELECT ob.n_a, ob.n_b,
           round(ob.diff_obs / 100.0, 4) AS diff_obs_dollars,
           CAST({_PM_REPS} AS BIGINT) AS n_reps,
           e.n_extreme,
           round((1.0 + e.n_extreme) / (1 + {_PM_REPS}), 6) AS p_value
    FROM obs ob CROSS JOIN extreme e
    """


@query("q_permutation_test", oracle=_pm_oracle())
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Monte-Carlo randomization test (Fisher 1935;
    Dwass 1957) for the mean-order-value difference between URGENT and
    LOW priority orders: 99 null replicates re-draw each order's group
    independently with the observed group share, via counter-mode md5
    (16 hash bits per replicate, 8 replicates per digest — the
    q_bootstrap_ci hashing discipline), and the p-value is the
    add-one-smoothed share of replicates whose |mean difference|
    reaches the observed one.

    Unconditional draw (group SIZES vary binomially per replicate
    rather than being fixed margins) — the standard Monte-Carlo
    approximation whose null includes the margin randomness; the
    assignment test ``u * N < n_a * 65536`` is exact integer
    arithmetic, so replicate membership is bit-identical cross-engine.
    Replicate means are single float divisions of exact integer sums,
    so the >= comparison agrees cross-engine too.

    Scale: the fan-out is n x 99 weighted rows partial-aggregated to
    99 replicate rows before any shuffle (map-side combine); hashing
    is counter-mode (13 digests per row, not 99); no window, no
    collect, no data-scale state.
    """
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(
        F.col("o_orderpriority").isin(_PM_A, _PM_B)
    ).select(
        F.col("o_orderkey").alias("k"),
        F.expr(_CENTS).alias("cents"),
        (F.col("o_orderpriority") == _PM_A).alias("is_a"),
    )
    counts = o.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("is_a"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_a"),
        F.sum(F.when(~F.col("is_a"), F.col("cents")).otherwise(0))
        .cast("long")
        .alias("s_b"),
    )
    obs = counts.selectExpr(
        "n_a",
        "n - n_a AS n_b",
        "CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / (n - n_a)"
        " AS diff_obs",
    )
    h = F.md5(
        F.concat(
            F.lit("pm:"),
            F.col("blk").cast("string"),
            F.lit(":"),
            F.col("k").cast("string"),
        )
    )
    fan = (
        o.select(
            "k",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_PM_BLOCKS - 1))).alias("blk"),
        )
        .select("cents", "blk", h.alias("h"))
        .select(
            "cents",
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(_PM_SLOTS - 1))).alias("slot"),
            "h",
        )
        .filter(F.col("blk") * _PM_SLOTS + F.col("slot") < _PM_REPS)
        .select(
            (F.col("blk") * _PM_SLOTS + F.col("slot")).alias("rep"),
            "cents",
            F.conv(F.expr("substring(h, slot * 4 + 1, 4)"), 16, 10)
            .cast("long")
            .alias("u"),
        )
    )
    pa = F.col("u") * F.col("n") < F.col("n_a") * 65536
    per_rep = (
        fan.crossJoin(F.broadcast(counts))
        .groupBy("rep")
        .agg(
            F.sum(F.when(pa, F.col("cents")).otherwise(0)).cast("long").alias("sa"),
            F.sum(F.when(pa, 1).otherwise(0)).cast("long").alias("na"),
            F.sum(F.when(~pa, F.col("cents")).otherwise(0)).cast("long").alias("sb"),
            F.sum(F.when(~pa, 1).otherwise(0)).cast("long").alias("nb"),
        )
    )
    extreme = (
        per_rep.crossJoin(F.broadcast(obs))
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        F.col("sa").cast("double") / F.col("na")
                        - F.col("sb").cast("double") / F.col("nb")
                    )
                    >= F.abs(F.col("diff_obs")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_extreme")
        )
    )
    return (
        obs.crossJoin(F.broadcast(extreme))
        .selectExpr(
            "n_a",
            "n_b",
            "round(diff_obs / 100.0, 4) AS diff_obs_dollars",
            f"CAST({_PM_REPS} AS BIGINT) AS n_reps",
            "n_extreme",
            f"round((1 + CAST(n_extreme AS DOUBLE)) / (1 + {_PM_REPS}), 6)"
            " AS p_value",
        )
    )


# ---------------------------------------------------------------------------
# q_fisher_exact — exact hypergeometric test of a 2x2 table
# ---------------------------------------------------------------------------

#: ln(k!) in e8 nats for k = 2..20 (exact lgamma, precomputed); k <= 1
#: is 0 by definition; Stirling's series covers k >= 21 with error
#: < 1e-12 nats (verified against lgamma in tests).
_LF_SMALL = (
    (2, 69314718), (3, 179175947), (4, 317805383), (5, 478749174),
    (6, 657925121), (7, 852516136), (8, 1060460290), (9, 1280182748),
    (10, 1510441257), (11, 1750230785), (12, 1998721450), (13, 2255216385),
    (14, 2519122118), (15, 2789927138), (16, 3067186011), (17, 3350507345),
    (18, 3639544521), (19, 3933988419), (20, 4233561646),
)

#: 0.5 * ln(2*pi), enough digits that both engines parse the same double.
_LN_SQRT_2PI = "0.91893853320467274178032973640562"

#: Inclusion slack in e8 nat units (1e-6 nats): tables whose log
#: probability is within the slack of the observed one are counted in
#: BOTH engines, absorbing sub-1e-7-nat cross-engine ln() ulp drift.
_FE_SLACK = 100

#: Enumeration spread: the support [lo, hi] is strided over this many
#: buckets so no single task generates the whole range at large SF.
_FE_BUCKETS = 1024

_FE_A = "l_returnflag = 'R'"
_FE_B = "l_quantity >= 25"


def _lf_e8(x: str, big: str) -> str:
    """Shared SQL text: ln(x!) quantized to e8 nats as ``big``
    (DECIMAL(38,0) Spark-side, HUGEINT DuckDB-side). Exact lookup for
    x <= 20, Stirling series with three correction terms beyond."""
    small = " ".join(f"WHEN {x} = {k} THEN {v}" for k, v in _LF_SMALL)
    d = f"CAST({x} AS DOUBLE)"
    stirl = (
        f"round((({d} + 0.5) * ln({d}) - {d} + {_LN_SQRT_2PI}"
        f" + 1 / (12 * {d}) - 1 / (360 * {d} * {d} * {d})"
        f" + 1 / (1260 * {d} * {d} * {d} * {d} * {d})) * 100000000)"
    )
    return f"CAST(CASE WHEN {x} <= 1 THEN 0 {small} ELSE {stirl} END AS {big})"


def _fe_logp(k: str, big: str) -> str:
    """log P(hypergeometric = k) in e8 nats, minus the table-constant
    part (which cancels in the inclusion comparison)."""
    parts = [
        _lf_e8(k, big),
        _lf_e8(f"(r1 - {k})", big),
        _lf_e8(f"(c1 - {k})", big),
        _lf_e8(f"(n - r1 - c1 + {k})", big),
    ]
    return "(0 - " + " - ".join(parts) + ")"


def _fe_oracle() -> str:
    big = "HUGEINT"
    return f"""
    WITH cells AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE {_FE_A}) AS BIGINT) AS r1,
               CAST(COUNT(*) FILTER (WHERE {_FE_B}) AS BIGINT) AS c1,
               CAST(COUNT(*) FILTER (WHERE ({_FE_A}) AND ({_FE_B}))
                    AS BIGINT) AS a_obs
        FROM lineitem
    ),
    bounds AS (
        SELECT *,
               greatest(CAST(0 AS BIGINT), r1 + c1 - n) AS lo,
               least(r1, c1) AS hi,
               {_lf_e8('r1', big)} + {_lf_e8('(n - r1)', big)}
               + {_lf_e8('c1', big)} + {_lf_e8('(n - c1)', big)}
               - {_lf_e8('n', big)} AS const_e8,
               {_fe_logp('a_obs', big)} AS rel_obs_e8
        FROM cells
    ),
    enum AS (
        SELECT b.*, unnest(range(b.lo, b.hi + 1)) AS k FROM bounds b
    ),
    terms AS (
        SELECT n, r1, c1, a_obs, lo, hi,
               CAST(round(exp(CAST(const_e8 + {_fe_logp('k', big)} AS DOUBLE)
                              / 100000000) * 1000000000000000) AS BIGINT)
                   AS term_e15
        FROM enum
        WHERE {_fe_logp('k', big)} <= rel_obs_e8 + {_FE_SLACK}
    )
    SELECT n, r1, c1, a_obs,
           round(CAST(r1 AS DOUBLE) * c1 / n, 4) AS expected_a,
           CAST(hi - lo + 1 AS BIGINT) AS n_support,
           round(CAST(SUM(term_e15) AS DOUBLE) / 1000000000000000, 6)
               AS p_two_sided
    FROM terms
    GROUP BY n, r1, c1, a_obs, lo, hi
    """


@query("q_fisher_exact", oracle=_fe_oracle())
def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test (Fisher 1934) of independence between
    return flag R and bulk quantity (l_quantity >= 25) on the
    lineitem 2x2 table:
    two-sided p = the sum of hypergeometric probabilities of every
    table (same margins) no more likely than the observed one.

    Exactness posture: log-factorials are e8-quantized integers —
    exact lgamma lookup for k <= 20, Stirling with three corrections
    beyond (error < 1e-12 nats at k >= 21, pinned by a lgamma replay
    test) — so the inclusion comparison is integer arithmetic with a
    1e-6-nat slack absorbing ln() ulp drift between engines; the
    per-table probability is one exp() of the exact-integer log,
    quantized to e15 BEFORE the exact integer sum (the
    corpus_stats.py ln-quantization discipline).

    Scale: one scan aggregates the table to 4 scalars; the
    enumeration relation is the hypergeometric support [lo, hi],
    generated as 1024 (_FE_BUCKETS) strided sequences so no single task
    materializes the range (support grows with the smaller margin —
    each row is a handful of closed-form float ops, a distributed
    scan, not a quadratic anywhere).
    """
    big = "DECIMAL(38,0)"
    li = load_table(spark, sf_dir, "lineitem")
    cells = li.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.expr(_FE_A), 1).otherwise(0)).cast("long").alias("r1"),
        F.sum(F.when(F.expr(_FE_B), 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.expr(f"({_FE_A}) AND ({_FE_B})"), 1).otherwise(0))
        .cast("long")
        .alias("a_obs"),
    )
    bounds = cells.selectExpr(
        "*",
        "greatest(CAST(0 AS BIGINT), r1 + c1 - n) AS lo",
        "least(r1, c1) AS hi",
        f"{_lf_e8('r1', big)} + {_lf_e8('(n - r1)', big)}"
        f" + {_lf_e8('c1', big)} + {_lf_e8('(n - c1)', big)}"
        f" - {_lf_e8('n', big)} AS const_e8",
        f"{_fe_logp('a_obs', big)} AS rel_obs_e8",
    )
    grid = bounds.sparkSession.range(0, _FE_BUCKETS).select(
        F.col("id").alias("b")
    )
    enum = (
        grid.crossJoin(F.broadcast(bounds))
        .select(
            "*",
            F.explode(
                F.when(
                    F.col("lo") + F.col("b") <= F.col("hi"),
                    F.expr(f"sequence(lo + b, hi, CAST({_FE_BUCKETS} AS BIGINT))"),
                ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
            ).alias("k"),
        )
    )
    terms = enum.filter(
        F.expr(f"{_fe_logp('k', big)} <= rel_obs_e8 + {_FE_SLACK}")
    ).selectExpr(
        "n",
        "r1",
        "c1",
        "a_obs",
        "lo",
        "hi",
        f"CAST(round(exp(CAST(const_e8 + {_fe_logp('k', big)} AS DOUBLE)"
        f" / 100000000) * 1000000000000000) AS BIGINT) AS term_e15",
    )
    return (
        terms.groupBy("n", "r1", "c1", "a_obs", "lo", "hi")
        .agg(F.sum("term_e15").cast("long").alias("s"))
        .selectExpr(
            "n",
            "r1",
            "c1",
            "a_obs",
            "round(CAST(r1 AS DOUBLE) * c1 / n, 4) AS expected_a",
            "CAST(hi - lo + 1 AS BIGINT) AS n_support",
            "round(CAST(s AS DOUBLE) / 1000000000000000, 6) AS p_two_sided",
        )
    )


# ---------------------------------------------------------------------------
# q_als_rank1 — rank-1 alternating least squares recommender
# ---------------------------------------------------------------------------

#: Customer panel whose recommendations are read out (hash-rank draw).
_ALS_PANEL = 5

#: Recommendations returned per panel customer.
_ALS_TOPK = 3

#: Fixed-point scale for the factors (e6 units).
_ALS_E6 = 1_000_000

_ALS_RATINGS = """
    SELECT o.o_custkey AS cust, l.l_partkey AS part,
           CAST(COUNT(*) AS BIGINT) AS r
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY 1, 2
"""


def _als_oracle() -> str:
    e6 = _ALS_E6
    return f"""
    WITH ratings AS ({_ALS_RATINGS}),
    u1 AS (
        SELECT cust,
               CAST(CAST(SUM(r) AS HUGEINT) * {e6} // COUNT(*) AS BIGINT)
                   AS u_e6
        FROM ratings GROUP BY cust
    ),
    v1 AS (
        SELECT part,
               CAST(SUM(CAST(r AS HUGEINT) * u.u_e6) * {e6} * {e6}
                    // SUM(CAST(u.u_e6 AS HUGEINT) * u.u_e6) AS BIGINT)
                   AS v_e6
        FROM ratings t JOIN u1 u USING (cust)
        GROUP BY part
    ),
    u2 AS (
        SELECT cust,
               CAST(SUM(CAST(r AS HUGEINT) * v.v_e6) * {e6} * {e6}
                    // SUM(CAST(v.v_e6 AS HUGEINT) * v.v_e6) AS BIGINT)
                   AS u_e6
        FROM ratings t JOIN v1 v USING (part)
        GROUP BY cust
    ),
    panel AS (
        SELECT cust FROM u2
        ORDER BY md5('als:' || CAST(cust AS VARCHAR)) LIMIT {_ALS_PANEL}
    ),
    scored AS (
        SELECT p.cust, v.part,
               CAST(CAST(u.u_e6 AS HUGEINT) * v.v_e6 // {e6} AS BIGINT)
                   AS score_e6
        FROM panel p
        JOIN u2 u USING (cust)
        CROSS JOIN v1 v
        WHERE NOT EXISTS (SELECT 1 FROM ratings t
                          WHERE t.cust = p.cust AND t.part = v.part)
    ),
    ranked AS (
        SELECT cust, part, score_e6,
               ROW_NUMBER() OVER (PARTITION BY cust
                                  ORDER BY score_e6 DESC, part) AS rec_rank
        FROM scored
    )
    SELECT cust AS cust_key, rec_rank, part AS part_key, score_e6,
           round(CAST(score_e6 AS DOUBLE) / {e6}, 6) AS score
    FROM ranked WHERE rec_rank <= {_ALS_TOPK}
    ORDER BY cust_key, rec_rank
    """


@query("q_als_rank1", oracle=_als_oracle())
def q_als_rank1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 alternating least squares on the customer x part
    purchase-count matrix (the observed-entry least-squares shape of
    Hu, Koren & Volinsky 2008): with v fixed, each customer's factor
    has the closed form u_c = sum(r*v)/sum(v^2) over that customer's
    observed parts, and symmetrically for v — three alternations
    (u <- 1-init v, v <- u, u <- v) in e6 fixed point. The readout is
    the top-3 unowned parts for a 5-customer hash-rank panel, scored
    u*v — the matrix-factorization recommender next to the
    neighborhood model ``q_item_cf`` (whose coverage/novelty panel
    ``q_rec_coverage`` audits the same surface).

    Exactness: every update is an exact integer floor division of
    DECIMAL(38,0)/HUGEINT products (numerators reach r*u_e6*1e12 ~
    1e24 at 100 TB — past int64, inside DECIMAL(38,0)); no float
    enters any factor, only the final display division.

    Scale: ratings is one key-partitioned lineitem-orders join and
    group-by; each alternation is one join (on cust or part) plus one
    partial-agg'd group-by — never a cross of the factor spaces; the
    scoring cross is |panel| x |parts| with the 5-row panel broadcast,
    and the ownership exclusion is a left-anti join on the panel's own
    ratings. Per-customer top-k is a partitioned window.
    """
    e6 = _ALS_E6
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), F.col("o_custkey").alias("cust")
    )
    ratings = (
        li.join(orders, "okey")
        .groupBy("cust", "part")
        .agg(F.count("*").cast("long").alias("r"))
    )
    u1 = ratings.groupBy("cust").agg(
        F.expr(
            f"CAST(CAST(SUM(r) AS DECIMAL(38,0)) * {e6} DIV COUNT(*) AS BIGINT)"
        ).alias("u_e6")
    )
    v1 = (
        ratings.join(u1, "cust")
        .groupBy("part")
        .agg(
            F.expr(
                f"CAST(SUM(CAST(r AS DECIMAL(38,0)) * u_e6) * {e6} * {e6}"
                f" DIV SUM(CAST(u_e6 AS DECIMAL(38,0)) * u_e6) AS BIGINT)"
            ).alias("v_e6")
        )
    )
    u2 = (
        ratings.join(v1, "part")
        .groupBy("cust")
        .agg(
            F.expr(
                f"CAST(SUM(CAST(r AS DECIMAL(38,0)) * v_e6) * {e6} * {e6}"
                f" DIV SUM(CAST(v_e6 AS DECIMAL(38,0)) * v_e6) AS BIGINT)"
            ).alias("u_e6")
        )
    )
    panel = (
        u2.orderBy(F.md5(F.concat(F.lit("als:"), F.col("cust").cast("string"))))
        .limit(_ALS_PANEL)
        .select("cust", "u_e6")
    )
    scored = (
        v1.crossJoin(F.broadcast(panel))
        .join(ratings.select("cust", "part"), ["cust", "part"], "left_anti")
        .selectExpr(
            "cust",
            "part",
            f"CAST(CAST(u_e6 AS DECIMAL(38,0)) * v_e6 DIV {e6} AS BIGINT)"
            " AS score_e6",
        )
    )
    w = Window.partitionBy("cust").orderBy(F.col("score_e6").desc(), "part")
    return (
        scored.withColumn("rec_rank", F.row_number().over(w))
        .filter(F.col("rec_rank") <= _ALS_TOPK)
        .selectExpr(
            "cust AS cust_key",
            "rec_rank",
            "part AS part_key",
            "score_e6",
            f"round(CAST(score_e6 AS DOUBLE) / {e6}, 6) AS score",
        )
        .orderBy("cust_key", "rec_rank")
    )


# ---------------------------------------------------------------------------
# q_kneser_ney — interpolated Kneser-Ney bigram LM scoring
# ---------------------------------------------------------------------------

#: Absolute discount d = 3/4 (the Chen & Goodman fixed-discount
#: baseline), kept rational so probabilities stay exact integers.
_KN_D_NUM, _KN_D_DEN = 3, 4


def _kn_oracle() -> str:
    from .sampling import _bucket_sql

    is_old = f"({_bucket_sql('inc', 'doc_id')} % 10 < 8)"
    return f"""
    WITH tokd AS (
        SELECT doc_id AS doc, {is_old} AS is_old,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents
    ),
    train_bi AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12 FROM (
            SELECT string_split(bg, ' ')[1] AS w1,
                   string_split(bg, ' ')[2] AS w2
            FROM (
                SELECT unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i + 1]))
                           AS bg
                FROM tokd WHERE is_old
            )
        ) GROUP BY w1, w2
    ),
    lefts AS (
        SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
               CAST(COUNT(*) AS BIGINT) AS n1f
        FROM train_bi GROUP BY w1
    ),
    rights AS (
        SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b
        FROM train_bi GROUP BY w2
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM train_bi),
    docbi AS (
        SELECT doc,
               string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2
        FROM (
            SELECT doc,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM tokd
        )
    ),
    scored AS (
        SELECT d.doc,
               CAST(round(ln(
                   CAST(CASE WHEN l.c1 IS NOT NULL THEN greatest(
                            greatest({_KN_D_DEN} * COALESCE(b.c12, 0)
                                     - {_KN_D_NUM}, 0) * n.t
                            + {_KN_D_NUM} * l.n1f * COALESCE(r.n1b, 0), 1)
                        ELSE 2 * greatest(COALESCE(r.n1b, 0), 1) END AS DOUBLE)
                   / CAST(CASE WHEN l.c1 IS NOT NULL
                               THEN {_KN_D_DEN} * l.c1 * n.t
                               ELSE {_KN_D_DEN} * n.t END AS DOUBLE))
                   * 10000) AS BIGINT) AS lp
        FROM docbi d
        LEFT JOIN train_bi b ON b.w1 = d.w1 AND b.w2 = d.w2
        LEFT JOIN lefts l ON l.w1 = d.w1
        LEFT JOIN rights r ON r.w2 = d.w2
        CROSS JOIN tt n
    ),
    per_doc AS (
        SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(lp) AS BIGINT) AS score_tenk
        FROM scored GROUP BY doc
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           COALESCE(p.score_tenk, 0) AS score_tenk,
           CAST(FLOOR(CAST(p.score_tenk AS DOUBLE) * 100
                      / NULLIF(p.n_bigrams, 0)) AS BIGINT) AS avg_lp_e6
    FROM documents d LEFT JOIN per_doc p ON p.doc = d.doc_id
    ORDER BY d.doc_id
    """


@query("q_kneser_ney", oracle=_kn_oracle())
def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (Kneser & Ney 1995;
    Chen & Goodman 1999) with fixed discount d = 3/4: P(w2|w1) =
    (max(c12 - d, 0) + d * N1+(w1,.) * Pcont(w2)) / c1, where the
    continuation unigram Pcont(w2) = N1+(.,w2) / |bigram types| —
    trained on the same 80% hash split as ``q_backoff_lm_score`` so
    the two LMs' document scores are directly comparable. Out-of-model
    branches: an unseen-w1 bigram scores Pcont(w2)/2 (floored at
    1/(2T)); a seen-w1 bigram floors at 1/(4*c1*T) so no log is ever
    of zero.

    Exactness: with d = 3/4 every probability is the exact rational
    (max(4*c12-3,0)*T + 3*N1f*N1b) / (4*c1*T) of integer counts; the
    single float step per bigram is round(ln(num/den)*1e4) -> BIGINT
    (the corpus_stats.py quantization discipline) before the exact
    per-doc integer sum.

    Scale: count tables are vocabulary-scale, partial-aggregated;
    scoring is three key-partitioned left joins plus a 1-row broadcast
    total; the per-doc sum shuffles on doc. No UDF anywhere.
    """
    from ..functions.text import tokens_col, word_shingles
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    tokd = spread.select(
        F.col("doc_id").alias("doc"),
        ((hash_bucket("inc", F.col("doc_id")) % 10) < 8).alias("is_old"),
        tokens_col(F.lower(F.col("text"))).alias("toks"),
    )
    bi = tokd.select(
        "doc",
        "is_old",
        F.explode(word_shingles(F.col("toks"), 2)).alias("bg"),
    ).select(
        "doc",
        "is_old",
        F.split("bg", " ")[0].alias("w1"),
        F.split("bg", " ")[1].alias("w2"),
    )
    train_bi = (
        bi.filter("is_old").groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    )
    lefts = train_bi.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count("*").cast("long").alias("n1f"),
    )
    rights = train_bi.groupBy("w2").agg(F.count("*").cast("long").alias("n1b"))
    tt = train_bi.agg(F.count("*").cast("long").alias("t"))
    lp = F.expr(
        f"""CAST(round(ln(
            CAST(CASE WHEN c1 IS NOT NULL THEN greatest(
                     greatest({_KN_D_DEN} * COALESCE(c12, 0)
                              - {_KN_D_NUM}, 0) * t
                     + {_KN_D_NUM} * n1f * COALESCE(n1b, 0), 1)
                 ELSE 2 * greatest(COALESCE(n1b, 0), 1) END AS DOUBLE)
            / CAST(CASE WHEN c1 IS NOT NULL
                        THEN {_KN_D_DEN} * c1 * t
                        ELSE {_KN_D_DEN} * t END AS DOUBLE))
            * 10000) AS BIGINT)"""
    ).alias("lp")
    per_doc = (
        bi.join(train_bi, ["w1", "w2"], "left")
        .join(lefts, "w1", "left")
        .join(rights, "w2", "left")
        .crossJoin(F.broadcast(tt))
        .select("doc", lp)
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp").cast("long").alias("score_tenk"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, docs.doc_id == per_doc.doc, "left")
        .selectExpr(
            "doc_id",
            "COALESCE(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams",
            "COALESCE(score_tenk, CAST(0 AS BIGINT)) AS score_tenk",
            "CAST(FLOOR(CAST(score_tenk AS DOUBLE) * 100"
            " / NULLIF(n_bigrams, 0)) AS BIGINT) AS avg_lp_e6",
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_adaboost_stumps — 3-round AdaBoost over decision stumps
# ---------------------------------------------------------------------------

#: Boosting rounds; row weights after round t take exactly 2^t values
#: (one per correctness bit-pattern), which is what makes distributed
#: AdaBoost exactly aggregable.
_AB_ROUNDS = 3

#: Candidate stumps: 3 features x 9 decile-style bin thresholds x 2
#: polarities = 54, evaluated by one bounded fan-out join per round.
_AB_THRS = tuple(range(1, 10))

_AB_FEATS = ("qty", "price_c", "disc_h")

_AB_FINAL = (
    "CAST(round AS BIGINT) AS round",
    "feature",
    "CAST(thr_bin AS BIGINT) AS thr_bin",
    "CAST(polarity AS BIGINT) AS polarity",
    "round(CAST(err_w AS DOUBLE) / w_total, 6) AS err_rate",
    "CAST(alpha_e9 AS BIGINT) AS alpha_e9",
    "round(CAST(n_correct AS DOUBLE) / n_rows, 6) AS train_accuracy",
)

#: Stump prediction on a binned row: polarity * sign(bin >= thr).
_AB_PRED = "(pol * (CASE WHEN {b} >= thr THEN 1 ELSE -1 END))"

#: alpha = 0.5 * ln((W - err)/err) in e9 units, with err clamped to
#: [1, W-1] e9-units so a perfect stump cannot log 0 or infinity.
_AB_ALPHA = (
    "CAST(round(0.5 * ln((CAST(w_total AS DOUBLE) / 1000000000 - ec) / ec)"
    " * 1000000000) AS BIGINT)"
)


def _ab_bin(f: str) -> str:
    return f"CAST((({f} - mn_{f}) * 10) {{div}} (mx_{f} - mn_{f} + 1) AS INT)"


def _ab_oracle() -> str:
    div = "//"
    b = {f: _ab_bin(f).format(div=div) for f in _AB_FEATS}
    bin_case = ("CASE fid WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END")
    pred = _AB_PRED.format(b=bin_case)
    thrs = ", ".join(f"({t})" for t in _AB_THRS)
    parts = [f"""
    WITH feats AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(round(l_discount * 100) AS BIGINT) AS disc_h,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y
        FROM lineitem
    ),
    rng AS (
        SELECT MIN(qty) AS mn_qty, MAX(qty) AS mx_qty,
               MIN(price_c) AS mn_price_c, MAX(price_c) AS mx_price_c,
               MIN(disc_h) AS mn_disc_h, MAX(disc_h) AS mx_disc_h
        FROM feats
    ),
    rows_b AS (
        SELECT {b['qty']} AS b0, {b['price_c']} AS b1, {b['disc_h']} AS b2, y
        FROM feats CROSS JOIN rng
    ),
    cand AS (
        SELECT fid, thr, pol
        FROM (SELECT unnest(range(0, 3)) AS fid),
             (SELECT unnest([{", ".join(str(t) for t in _AB_THRS)}]) AS thr),
             (SELECT unnest([1, -1]) AS pol)
    )"""]
    bits_so_far: list[str] = []
    for t in range(1, _AB_ROUNDS + 1):
        bit_cols = ", ".join(bits_so_far)
        bit_sel = (bit_cols + ", ") if bits_so_far else ""
        bit_grp = ("," + bit_cols) if bits_so_far else ""
        # Rows annotated with the correctness bits of rounds < t.
        ann = "rows_b"
        for u in range(1, t):
            ann = f"""(
        SELECT r.*, (({pred.replace('thr', f's{u}.thr').replace('pol', f's{u}.pol').replace('fid', f's{u}.fid')}) = r.y) AS bit{u}
        FROM {ann} r CROSS JOIN stump{u} s{u}
    )"""
        if t == 1:
            pw = "SELECT CAST(1000000000 AS HUGEINT) AS w"
            w_expr = "pw.w"
            pw_join = "CROSS JOIN pw1 pw"
        else:
            w_expr = "pw.w"
            conds = " AND ".join(f"pw.bit{u} = g.bit{u}" for u in range(1, t))
            pw_join = f"JOIN pw{t} pw ON {conds}"
        parts.append(f""",
    grp{t} AS (
        SELECT c.fid, c.thr, c.pol, {bit_sel}
               ({pred.replace('fid', 'c.fid').replace('thr', 'c.thr').replace('pol', 'c.pol')} <> y) AS mis,
               CAST(COUNT(*) AS HUGEINT) AS cnt
        FROM {ann} r CROSS JOIN cand c
        GROUP BY c.fid, c.thr, c.pol{bit_grp}, mis
    )""")
        if t == 1:
            parts.append(""",
    pw1 AS (SELECT CAST(1000000000 AS HUGEINT) AS w)""")
        g_alias_bits = "g." + ", g.".join(bits_so_far) if bits_so_far else ""
        parts.append(f""",
    err{t} AS (
        SELECT g.fid, g.thr, g.pol,
               SUM(CASE WHEN g.mis THEN {w_expr} * g.cnt ELSE 0 END) AS err_w,
               SUM({w_expr} * g.cnt) AS w_total
        FROM grp{t} g {pw_join}
        GROUP BY g.fid, g.thr, g.pol
    ),
    stump{t} AS (
        SELECT fid, thr, pol, err_w, w_total,
               {_AB_ALPHA.replace('ec', f'LEAST(GREATEST(CAST(err_w AS DOUBLE) / 1000000000, 1), CAST(w_total AS DOUBLE) / 1000000000 - 1)')} AS alpha_e9
        FROM err{t} ORDER BY err_w, fid, thr, pol LIMIT 1
    )""")
        if t < _AB_ROUNDS:
            combos = []
            for mask in range(2 ** t):
                bits = [(mask >> u) & 1 for u in range(t)]
                signed = " + ".join(
                    f"({'-' if bits[u - 1] else ''}s{u}.alpha_e9)"
                    for u in range(1, t + 1)
                )
                combos.append(
                    "SELECT "
                    + ", ".join(
                        f"CAST({bits[u - 1]} AS BOOLEAN) AS bit{u}"
                        for u in range(1, t + 1)
                    )
                    + f", CAST(round(exp(({signed}) / 1000000000.0)"
                    f" * 1000000000) AS HUGEINT) AS w FROM "
                    + ", ".join(f"stump{u} s{u}" for u in range(1, t + 1))
                )
            parts.append(f""",
    pw{t + 1} AS ({" UNION ALL ".join(combos)})""")
        bits_so_far.append(f"bit{t}")
    # Ensemble training accuracy from the 2^ROUNDS pattern counts.
    ann = "rows_b"
    for u in range(1, _AB_ROUNDS + 1):
        ann = f"""(
        SELECT r.*, (({_AB_PRED.format(b='CASE s{u}.fid WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END'.format(u=u)).replace('thr', f's{u}.thr').replace('pol', f's{u}.pol')}) = r.y) AS bit{u}
        FROM {ann} r CROSS JOIN stump{u} s{u}
    )"""
    margin = " + ".join(
        f"(CASE WHEN p.bit{u} THEN 1 ELSE -1 END) * s{u}.alpha_e9"
        for u in range(1, _AB_ROUNDS + 1)
    )
    stump_from = ", ".join(f"stump{u} s{u}" for u in range(1, _AB_ROUNDS + 1))
    bitcols = ", ".join(f"bit{u}" for u in range(1, _AB_ROUNDS + 1))
    feat_case = "CASE fid WHEN 0 THEN 'qty' WHEN 1 THEN 'price_c' ELSE 'disc_h' END"
    rounds_sel = " UNION ALL ".join(
        f"SELECT {u} AS round, {feat_case} AS feature, thr AS thr_bin,"
        f" pol AS polarity, err_w, w_total, alpha_e9 FROM stump{u}"
        for u in range(1, _AB_ROUNDS + 1)
    )
    parts.append(f""",
    pats AS (
        SELECT {bitcols}, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {ann} GROUP BY {bitcols}
    ),
    final AS (
        SELECT CAST(SUM(CASE WHEN ({margin}) > 0 THEN p.cnt ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(SUM(p.cnt) AS BIGINT) AS n_rows
        FROM pats p, {stump_from}
    ),
    rounds AS ({rounds_sel})
    SELECT {", ".join(_AB_FINAL)}
    FROM rounds CROSS JOIN final ORDER BY round""")
    return "".join(parts)


@query("q_adaboost_stumps", oracle=_ab_oracle())
def q_adaboost_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round discrete AdaBoost (Freund & Schapire 1997) over
    decision stumps on three lineitem features, predicting the return
    flag. The distributed-exactness insight: after round t every row's
    weight is exp(-y * sum alpha_tau h_tau(x)) — a function of ONLY
    its t-bit correctness pattern, so the weighted error of all 54
    candidate stumps aggregates EXACTLY from (candidate, bit-pattern,
    mispredict) counts joined against a 2^t-row pattern-weight table.
    No per-row weight state, no driver loop over rows — three bounded
    fan-out aggregations (row x 54 candidates, map-side combined).

    Exactness: stump selection minimizes an exact integer weighted
    error (pattern weights e9-quantized after ONE exp of an exact
    integer alpha sum — round-before-sum); alpha = 0.5*ln((W-e)/e) of
    exact integer sums, clamped to [1, W-1] weight units so a perfect
    stump cannot log 0; ensemble accuracy is recovered exactly from
    the 2^3 pattern counts and the integer alphas.

    Scale: 5 scans of the relation (min/max, three round fan-outs,
    the final pattern pass), each partial-aggregated to at most
    54 * 2^t * 2 cells; the joined panels (candidates, pattern
    weights) are broadcast-sized by construction. Each round's
    winning stump lives on the driver (``session.one_row``) and
    enters the next fan-out, the pattern weights and the readout as
    typed literals.
    """
    li = load_table(spark, sf_dir, "lineitem")
    feats = li.selectExpr(
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c",
        "CAST(round(l_discount * 100) AS BIGINT) AS disc_h",
        "CASE WHEN l_returnflag = 'R' THEN 1 ELSE -1 END AS y",
    )
    rng = feats.agg(
        *[
            f
            for c in _AB_FEATS
            for f in (
                F.min(c).alias(f"mn_{c}"),
                F.max(c).alias(f"mx_{c}"),
            )
        ]
    )
    b = {f: _ab_bin(f).format(div="DIV") for f in _AB_FEATS}
    rows_b = materialize(
        feats.crossJoin(F.broadcast(rng))
        .selectExpr(
            f"{b['qty']} AS b0",
            f"{b['price_c']} AS b1",
            f"{b['disc_h']} AS b2",
            "y",
        )
        # Spread before checkpointing: the checkpoint pins partitioning,
        # and every round's 54x candidate fan-out inherits it (a
        # single-file fixture scan would pin it at ~3 tasks).
        .repartition(spark.sparkContext.defaultParallelism)
    )
    cand = spark.createDataFrame(
        [(fid, thr, pol) for fid in range(3) for thr in _AB_THRS for pol in (1, -1)],
        "fid int, thr int, pol int",
    )
    bin_case = "CASE fid WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END"
    pred = _AB_PRED.format(b=bin_case)

    def stump_pred(u: int) -> str:
        return (
            _AB_PRED.format(b=f"CASE s{u}fid WHEN 0 THEN b0 WHEN 1 THEN b1 ELSE b2 END")
            .replace("thr", f"s{u}thr")
            .replace("pol", f"s{u}pol")
        )

    def choose(err: DataFrame) -> dict[str, Column]:
        alpha = _AB_ALPHA.replace(
            "ec",
            "LEAST(GREATEST(CAST(err_w AS DOUBLE) / 1000000000, 1),"
            " CAST(w_total AS DOUBLE) / 1000000000 - 1)",
        )
        return one_row(
            err.orderBy("err_w", "fid", "thr", "pol")
            .limit(1)
            .selectExpr("fid", "thr", "pol", "err_w", "w_total", f"{alpha} AS alpha_e9")
        )

    ann = rows_b
    stumps: list[dict[str, Column]] = []
    for t in range(1, _AB_ROUNDS + 1):
        bits = [f"bit{u}" for u in range(1, t)]
        grp = (
            ann.crossJoin(F.broadcast(cand))
            .selectExpr("fid", "thr", "pol", *bits, f"({pred} <> y) AS mis")
            .groupBy("fid", "thr", "pol", *bits, "mis")
            .agg(F.count("*").cast("decimal(38,0)").alias("cnt"))
        )
        if t == 1:
            weighted = grp.withColumn(
                "w", F.lit(1000000000).cast("decimal(38,0)")
            )
        else:
            pw = stumps_pw  # noqa: F821 - bound at the end of the prior loop
            weighted = grp.join(F.broadcast(pw), bits)
        err = weighted.groupBy("fid", "thr", "pol").agg(
            F.sum(
                F.when(F.col("mis"), F.col("w") * F.col("cnt")).otherwise(
                    F.lit(0).cast("decimal(38,0)")
                )
            ).alias("err_w"),
            F.sum(F.col("w") * F.col("cnt")).alias("w_total"),
        )
        stump = choose(err)
        stumps.append(stump)
        alphas = {f"a{u}": st["alpha_e9"] for u, st in enumerate(stumps, 1)}
        # Annotate rows with this round's correctness bit for the
        # next fan-out (and the final pattern pass).
        ann = ann.withColumns(
            {f"s{t}{c}": stump[c] for c in ("fid", "thr", "pol")}
        ).selectExpr(
            "b0", "b1", "b2", "y", *bits,
            f"(({stump_pred(t)}) = y) AS bit{t}",
        )
        if t < _AB_ROUNDS:
            grid_rows = [
                tuple(bool((mask >> u) & 1) for u in range(t))
                for mask in range(2**t)
            ]
            grid = spark.createDataFrame(
                grid_rows, ", ".join(f"bit{u + 1} boolean" for u in range(t))
            )
            signed = " + ".join(
                f"(CASE WHEN bit{u} THEN -a{u} ELSE a{u} END)"
                for u in range(1, t + 1)
            )
            stumps_pw = grid.withColumns(alphas).selectExpr(
                *[f"bit{u + 1}" for u in range(t)],
                f"CAST(round(exp(({signed}) / 1000000000.0)"
                " * 1000000000) AS DECIMAL(38,0)) AS w",
            )
    bitcols = [f"bit{u}" for u in range(1, _AB_ROUNDS + 1)]
    pats = ann.groupBy(*bitcols).agg(F.count("*").cast("long").alias("cnt"))
    margin = " + ".join(
        f"(CASE WHEN bit{u} THEN 1 ELSE -1 END) * a{u}"
        for u in range(1, _AB_ROUNDS + 1)
    )
    final = pats.withColumns(alphas).agg(
        F.sum(F.expr(f"CASE WHEN ({margin}) > 0 THEN cnt ELSE 0 END"))
        .cast("long")
        .alias("n_correct"),
        F.sum("cnt").cast("long").alias("n_rows"),
    )
    feat_case = (
        "CASE fid WHEN 0 THEN 'qty' WHEN 1 THEN 'price_c' ELSE 'disc_h' END"
    )
    rounds = None
    for u, st in enumerate(stumps, 1):
        r = spark.range(1).withColumns(st).selectExpr(
            f"{u} AS round",
            f"{feat_case} AS feature",
            "thr AS thr_bin",
            "pol AS polarity",
            "err_w",
            "w_total",
            "alpha_e9",
        )
        rounds = r if rounds is None else rounds.union(r)
    return (
        rounds.crossJoin(F.broadcast(final))
        .selectExpr(*_AB_FINAL)
        .orderBy("round")
    )


# ---------------------------------------------------------------------------
# q_quantile_reg — grid quantile regression of the monthly revenue trend
# ---------------------------------------------------------------------------

#: Slope grid: the OLS slope scaled by 80..120% in steps of 2 — a
#: 21-candidate calendar-bounded search space centered on the
#: least-squares solution.
_QR_GRID = tuple(range(80, 121, 2))

#: Quantiles fit, as integer percents.
_QR_TAUS = (25, 50, 75)

_QR_FINAL = (
    "CAST(tau AS BIGINT) AS tau_pct",
    "round(CAST(slope_c AS DOUBLE) / 100, 6) AS slope_dollars",
    "round(CAST(icept_c AS DOUBLE) / 100, 2) AS intercept_dollars",
    "round(CAST(avg_loss_c100 AS DOUBLE) / 10000, 4) AS avg_pinball_dollars",
)


def _qr_oracle() -> str:
    grid = ", ".join(f"({j})" for j in _QR_GRID)
    taus = ", ".join(f"({t})" for t in _QR_TAUS)
    return f"""
    WITH monthly AS ({_RS_MONTHLY.format(cents=_CENTS)}),
    fit AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(m) AS HUGEINT) AS sm,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(m AS HUGEINT) * y) AS HUGEINT) AS smy,
               CAST(SUM(CAST(m AS HUGEINT) * m) AS HUGEINT) AS smm
        FROM monthly
    ),
    s0 AS (
        SELECT CAST(FLOOR(CAST(n * smy - sm * sy AS DOUBLE)
                          / CAST(n * smm - sm * sm AS DOUBLE)) AS BIGINT) AS s0_c,
               CAST(n AS BIGINT) AS n
        FROM fit
    ),
    slopes AS (
        SELECT CAST(FLOOR(CAST(s0_c AS DOUBLE) * j / 100) AS BIGINT) AS slope_c, n
        FROM s0 CROSS JOIN (SELECT unnest([{", ".join(str(j) for j in _QR_GRID)}]) AS j)
    ),
    resid AS (
        SELECT s.slope_c, s.n, p.m, p.y - s.slope_c * p.m AS r
        FROM slopes s CROSS JOIN monthly p
    ),
    ranked AS (
        SELECT slope_c, n, m, r,
               ROW_NUMBER() OVER (PARTITION BY slope_c ORDER BY r, m) AS rn
        FROM resid
    ),
    taus(tau) AS (VALUES {taus}),
    icept AS (
        SELECT t.tau, k.slope_c, k.r AS icept_c
        FROM taus t JOIN ranked k ON k.rn = (t.tau * k.n + 99) // 100
    ),
    loss AS (
        SELECT i.tau, i.slope_c, i.icept_c,
               SUM(CASE WHEN x.r > i.icept_c
                        THEN CAST(i.tau AS HUGEINT) * (x.r - i.icept_c)
                        ELSE CAST(i.tau - 100 AS HUGEINT) * (x.r - i.icept_c)
                   END) AS l100,
               MAX(x.n) AS n
        FROM icept i JOIN resid x ON x.slope_c = i.slope_c
        GROUP BY 1, 2, 3
    ),
    best AS (
        SELECT tau, slope_c, icept_c,
               CAST(l100 // n AS BIGINT) AS avg_loss_c100,
               ROW_NUMBER() OVER (PARTITION BY tau
                                  ORDER BY l100, slope_c) AS rk
        FROM loss
    )
    SELECT {", ".join(_QR_FINAL)} FROM best WHERE rk = 1 ORDER BY tau_pct
    """


@query("q_quantile_reg", oracle=_qr_oracle())
def q_quantile_reg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid quantile regression (Koenker & Bassett 1978 pinball loss)
    of the monthly revenue trend at tau = 25/50/75%: candidate slopes
    are the OLS slope scaled 80-120%; for each slope the optimal
    intercept at quantile tau is EXACTLY the tau-quantile of the
    residuals (the subgradient condition), picked as an exact order
    statistic; the winner minimizes the exact integer pinball loss.
    The median fit (tau=50) is the L1 trend line — the robust
    companion to q_ransac_trend (consensus) and q_theil_sen
    (median-of-slopes), and the quartile fits bound the trend's
    spread.

    Exactness: residuals are exact int64 cents (slope grid and OLS
    center floored from shared doubles of exact integer sums —
    FLOOR(double) agrees cross-engine on identical doubles regardless
    of sign, unlike integer DIV vs //); the pinball loss is an exact
    HUGEINT/DECIMAL(38,0) sum in tau-percent units; the reported
    average is an exact floor division.

    Scale: one orders aggregate to ~84 calendar months; everything
    after runs on |grid| x |months| ~ 1.8k rows (windows partitioned
    by slope candidate, never single-partition over data).
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (
            (F.year(F.col("o_orderdate").cast("date")) - 1992) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        ).alias("m")
    ).agg(F.sum(F.expr(_CENTS)).cast("long").alias("y"))
    fit = monthly.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("m").cast("decimal(38,0)").alias("sm"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * y")).alias("smy"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * m")).alias("smm"),
    )
    s0 = fit.selectExpr(
        "CAST(FLOOR(CAST(n * smy - sm * sy AS DOUBLE)"
        " / CAST(n * smm - sm * sm AS DOUBLE)) AS BIGINT) AS s0_c",
        "CAST(n AS BIGINT) AS n",
    )
    jgrid = spark.createDataFrame([(j,) for j in _QR_GRID], "j int")
    slopes = (
        F.broadcast(s0)
        .crossJoin(F.broadcast(jgrid))
        .selectExpr(
            "CAST(FLOOR(CAST(s0_c AS DOUBLE) * j / 100) AS BIGINT) AS slope_c",
            "n",
        )
    )
    resid = monthly.crossJoin(F.broadcast(slopes)).select(
        "slope_c", "n", "m", (F.col("y") - F.col("slope_c") * F.col("m")).alias("r")
    )
    w = Window.partitionBy("slope_c").orderBy("r", "m")
    ranked = resid.withColumn("rn", F.row_number().over(w))
    taus = spark.createDataFrame([(t,) for t in _QR_TAUS], "tau int")
    icept = (
        F.broadcast(taus)
        .join(ranked, F.expr("rn = (tau * n + 99) DIV 100"))
        .select("tau", "slope_c", F.col("r").alias("icept_c"))
    )
    loss = (
        resid.join(F.broadcast(icept), "slope_c")
        .groupBy("tau", "slope_c", "icept_c")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN r > icept_c"
                    " THEN CAST(tau AS DECIMAL(38,0)) * (r - icept_c)"
                    " ELSE CAST(tau - 100 AS DECIMAL(38,0)) * (r - icept_c) END"
                )
            ).alias("l100"),
            F.max("n").alias("n"),
        )
    )
    wb = Window.partitionBy("tau").orderBy("l100", "slope_c")
    best = loss.selectExpr(
        "tau", "slope_c", "icept_c", "CAST(l100 DIV n AS BIGINT) AS avg_loss_c100", "l100"
    ).withColumn("rk", F.row_number().over(wb))
    return (
        best.filter("rk = 1").selectExpr(*_QR_FINAL).orderBy("tau_pct")
    )


# ---------------------------------------------------------------------------
# q_cluster_bootstrap — customer-clustered bootstrap CI for the mean
# ---------------------------------------------------------------------------

#: Replicates (order statistics 2 and 49 of 50 = the 95% interval).
_CB_REPS = 50


@query(
    "q_cluster_bootstrap",
    oracle=f"""
    WITH cl AS (
        SELECT o_custkey AS cust,
               CAST(SUM({_CENTS}) AS BIGINT) AS s_c,
               CAST(COUNT(*) AS BIGINT) AS n_c
        FROM orders GROUP BY 1
    ),
    blocks AS (SELECT unnest(range(0, {(_CB_REPS + 31) // 32})) AS blk),
    js AS (SELECT unnest(range(0, 32)) AS j),
    hashed AS (
        SELECT s_c, n_c, blk, md5('cb:' || blk || ':' || cust) AS h
        FROM cl, blocks
    ),
    w AS (
        SELECT blk * 32 + j AS rep, s_c, n_c,
               CASE WHEN d < 6 THEN 0 WHEN d < 12 THEN 1
                    WHEN d < 15 THEN 2 ELSE 3 END AS wt
        FROM (SELECT s_c, n_c, blk, j,
                     strpos('0123456789abcdef',
                            substr(h, CAST(j + 1 AS INT), 1)) - 1 AS d
              FROM hashed, js WHERE blk * 32 + j < {_CB_REPS})
    ),
    per_rep AS (
        SELECT rep, SUM(wt * s_c) AS s, SUM(wt * n_c) AS n FROM w GROUP BY rep
    ),
    means AS (SELECT rep,
                     CAST(CAST(s AS HUGEINT) * 100 // n AS BIGINT)
                         AS mean_c2 FROM per_rep),
    ranked AS (SELECT mean_c2, ROW_NUMBER() OVER (ORDER BY mean_c2) AS rk
               FROM means)
    SELECT
        CAST({_CB_REPS} AS BIGINT) AS n_reps,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM cl) AS n_clusters,
        (SELECT round(CAST(SUM(s_c) AS DOUBLE) / SUM(n_c) / 100, 2) FROM cl)
            AS mean_est,
        (SELECT round(mean_c2 / 10000.0, 2) FROM ranked WHERE rk = 2) AS ci_lo,
        (SELECT round(mean_c2 / 10000.0, 2) FROM ranked WHERE rk = {_CB_REPS - 1})
            AS ci_hi
    """,
)
def q_cluster_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-CLUSTERED bootstrap 95% CI for the mean order value
    (Field & Welsh 2007; the survey-sampling rule: resample CLUSTERS,
    not rows, when observations within a customer are correlated).
    Same deterministic Poisson-bootstrap machinery as q_bootstrap_ci —
    counter-mode md5, quantized-Poisson(1) weights {0,1,2,3} with
    probabilities {6,6,3,1}/16 — but the weight attaches to a
    customer's ENTIRE order set (pre-aggregated to one (sum, count)
    row per customer), so within-customer correlation widens the
    interval the row-level bootstrap understates.

    Exactness: per-replicate means are exact integer floor divisions
    (hundredths of a cent); CI endpoints are exact order statistics
    (ranks 2 and 49 of 50); the rank filter compiles to
    TakeOrderedAndProject (no single-partition window).

    Scale: one orders aggregate to the customer relation, then the
    replicate fan-out runs on CLUSTER-level rows (|customers|, far
    below row scale) with map-side partial aggregation to 50 rows.
    """
    n_blocks = (_CB_REPS + 31) // 32
    orders = load_table(spark, sf_dir, "orders")
    cl = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.sum(F.expr(_CENTS)).cast("long").alias("s_c"),
        F.count("*").cast("long").alias("n_c"),
    )
    h = F.md5(
        F.concat(
            F.lit("cb:"),
            F.col("blk").cast("string"),
            F.lit(":"),
            F.col("cust").cast("string"),
        )
    )
    d = F.conv(F.expr("substring(h, j + 1, 1)"), 16, 10).cast("int").alias("d")
    wt = (
        F.when(F.col("d") < 6, 0)
        .when(F.col("d") < 12, 1)
        .when(F.col("d") < 15, 2)
        .otherwise(3)
    )
    per_rep = (
        cl.select(
            "cust",
            "s_c",
            "n_c",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
        )
        .select("s_c", "n_c", "blk", h.alias("h"))
        .select(
            "s_c",
            "n_c",
            "blk",
            F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"),
            "h",
        )
        .filter(F.col("blk") * 32 + F.col("j") < _CB_REPS)
        .select((F.col("blk") * 32 + F.col("j")).alias("rep"), "s_c", "n_c", d)
        .select("rep", "s_c", "n_c", wt.alias("wt"))
        .groupBy("rep")
        .agg(
            F.sum(F.col("wt") * F.col("s_c")).alias("s"),
            F.sum(F.col("wt") * F.col("n_c")).alias("n"),
        )
    )
    means = per_rep.selectExpr(
        "CAST(CAST(s AS DECIMAL(38,0)) * 100 DIV n AS BIGINT) AS mean_c2"
    )
    lo = (
        means.orderBy("mean_c2")
        .limit(2)
        .agg(F.max("mean_c2").alias("v"))
        .selectExpr("round(CAST(v AS DOUBLE) / 10000, 2) AS ci_lo")
    )
    hi = (
        means.orderBy(F.col("mean_c2").desc())
        .limit(2)
        .agg(F.min("mean_c2").alias("v"))
        .selectExpr("round(CAST(v AS DOUBLE) / 10000, 2) AS ci_hi")
    )
    est = cl.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.expr(
            "round(CAST(SUM(s_c) AS DOUBLE) / SUM(n_c) / 100, 2)"
        ).alias("mean_est"),
    )
    return (
        est.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .selectExpr(
            f"CAST({_CB_REPS} AS BIGINT) AS n_reps",
            "n_clusters",
            "mean_est",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# q_aqp_audit — approximate-query-processing error audit (sample + CLT)
# ---------------------------------------------------------------------------

#: Sample rate: hash bucket < 100 of 1000 = a reproducible 10% sample
#: (the q_hash_sample convention, distinct salt).
_AQP_BUCKETS = 100

#: z for the 95% CLT interval.
_AQP_Z = "1.959964"


def _aqp_oracle() -> str:
    from .sampling import _bucket_sql

    in_sample = f"({_bucket_sql('aqp', 'o_orderkey')} < {_AQP_BUCKETS})"
    return f"""
    WITH o AS (
        SELECT {_CENTS} AS c, {in_sample} AS in_s FROM orders
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (WHERE in_s) AS BIGINT) AS m,
               CAST(SUM(c) AS BIGINT) AS true_sum_c,
               CAST(SUM(c) FILTER (WHERE in_s) AS BIGINT) AS samp_sum_c,
               CAST(SUM(CAST(c AS HUGEINT) * c) FILTER (WHERE in_s)
                    AS HUGEINT) AS samp_sumsq
        FROM o
    ),
    est AS (
        SELECT n, m, true_sum_c,
               CAST(n AS DOUBLE) / m * samp_sum_c AS est_sum_c,
               CAST(n AS DOUBLE) / m
               * sqrt((CAST(samp_sumsq AS DOUBLE)
                       - CAST(samp_sum_c AS DOUBLE) * samp_sum_c / m)
                      / (m - 1) * m * (1 - CAST(m AS DOUBLE) / n))
                   AS se_sum_c
        FROM s
    )
    SELECT n AS n_rows, m AS n_sampled,
           round(CAST(true_sum_c AS DOUBLE) / 100, 2) AS true_sum,
           round(est_sum_c / 100.0, 2) AS est_sum,
           round((est_sum_c - true_sum_c) / CAST(true_sum_c AS DOUBLE), 6)
               AS rel_err,
           round(est_sum_c / 100.0 - {_AQP_Z} * se_sum_c / 100.0, 2)
               AS ci_lo,
           round(est_sum_c / 100.0 + {_AQP_Z} * se_sum_c / 100.0, 2)
               AS ci_hi,
           (abs(est_sum_c - true_sum_c) <= {_AQP_Z} * se_sum_c) AS ci_covers
    FROM est
    """


@query("q_aqp_audit", oracle=_aqp_oracle())
def q_aqp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-query-processing audit (the BlinkDB/sampling-
    estimator contract, Agarwal et al. 2013): estimate total revenue
    from the reproducible 10% hash sample with the Horvitz-Thompson
    scale-up n/m * sample_sum, attach the finite-population-corrected
    95% CLT interval, and AUDIT it against the exact full-data total —
    the relative error and whether the interval covers the truth.
    This is the validation run that decides whether dashboards may
    serve off the sample at 100 TB (where the full scan is the cost).

    Exactness: all sums are exact integers (cents; sum of squares in
    DECIMAL(38,0)/HUGEINT); the estimator, standard error, and
    coverage test are shared float expression texts over those exact
    sums, so the boolean and the rounded outputs agree cross-engine.

    Scale: ONE scan computes both the truth and the sample moments
    (conditional aggregation on the hash predicate — membership is a
    pure projection, the q_hash_sample property); output is one row.
    """
    from .sampling import hash_bucket

    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        F.expr(_CENTS).alias("c"),
        (hash_bucket("aqp", F.col("o_orderkey")) < _AQP_BUCKETS).alias("in_s"),
    )
    s = o.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("in_s"), 1).otherwise(0)).cast("long").alias("m"),
        F.sum("c").cast("long").alias("true_sum_c"),
        F.sum(F.when(F.col("in_s"), F.col("c")).otherwise(0))
        .cast("long")
        .alias("samp_sum_c"),
        F.sum(
            F.when(F.col("in_s"), F.expr("CAST(c AS DECIMAL(38,0)) * c"))
        ).alias("samp_sumsq"),
    )
    est = s.selectExpr(
        "n",
        "m",
        "true_sum_c",
        "CAST(n AS DOUBLE) / m * samp_sum_c AS est_sum_c",
        "CAST(n AS DOUBLE) / m"
        " * sqrt((CAST(samp_sumsq AS DOUBLE)"
        " - CAST(samp_sum_c AS DOUBLE) * samp_sum_c / m)"
        " / (m - 1) * m * (1 - CAST(m AS DOUBLE) / n)) AS se_sum_c",
    )
    return est.selectExpr(
        "n AS n_rows",
        "m AS n_sampled",
        "round(CAST(true_sum_c AS DOUBLE) / 100, 2) AS true_sum",
        "round(est_sum_c / 100.0, 2) AS est_sum",
        "round((est_sum_c - true_sum_c) / CAST(true_sum_c AS DOUBLE), 6)"
        " AS rel_err",
        f"round(est_sum_c / 100.0 - {_AQP_Z} * se_sum_c / 100.0, 2) AS ci_lo",
        f"round(est_sum_c / 100.0 + {_AQP_Z} * se_sum_c / 100.0, 2) AS ci_hi",
        f"(abs(est_sum_c - true_sum_c) <= {_AQP_Z} * se_sum_c) AS ci_covers",
    )


# ---------------------------------------------------------------------------
# q_neyman_allocation — optimal stratified-sampling design table
# ---------------------------------------------------------------------------

#: Total sampling budget allocated across strata.
_NA_BUDGET = 1000


@query(
    "q_neyman_allocation",
    oracle=f"""
    WITH st AS (
        SELECT o_orderpriority AS stratum,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               CAST(SUM({_CENTS}) AS BIGINT) AS s1,
               CAST(SUM(CAST({_CENTS} AS HUGEINT) * {_CENTS}) AS HUGEINT)
                   AS s2
        FROM orders GROUP BY 1
    ),
    sd AS (
        SELECT stratum, n_h,
               sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_h)
                    / (n_h - 1)) AS sd_c
        FROM st
    ),
    tot AS (
        SELECT SUM(n_h) AS n, SUM(n_h * sd_c) AS w_total FROM sd
    )
    SELECT s.stratum,
           s.n_h,
           round(s.sd_c / 100, 2) AS sd_dollars,
           CAST(round({_NA_BUDGET} * CAST(s.n_h AS DOUBLE) / t.n) AS BIGINT)
               AS proportional_n,
           CAST(round({_NA_BUDGET} * s.n_h * s.sd_c / t.w_total) AS BIGINT)
               AS neyman_n,
           round(s.n_h * s.sd_c / t.w_total, 6) AS neyman_share
    FROM sd s CROSS JOIN tot t
    ORDER BY s.stratum
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified sampling design (Neyman 1934): given
    a fixed budget of 1000 (_NA_BUDGET) sampled orders, allocate to each
    priority stratum proportionally to N_h * sigma_h — the allocation
    minimizing the stratified estimator's variance — next to the
    naive proportional allocation for comparison. This is the design
    table that turns q_stratified_sample from "proportional by
    default" into a variance-optimal plan.

    Exactness: per-stratum moments are exact integer sums (cents,
    DECIMAL(38,0)/HUGEINT sum of squares); sigma, the shares, and the
    rounded allocations are shared float texts over those sums.

    Scale: one partial-agg'd scan to |strata| rows; the totals panel
    is a 1-row broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    st = orders.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        F.count("*").cast("long").alias("n_h"),
        F.sum(F.expr(_CENTS)).cast("long").alias("s1"),
        F.sum(F.expr(f"CAST({_CENTS} AS DECIMAL(38,0)) * {_CENTS}")).alias(
            "s2"
        ),
    )
    sd = st.selectExpr(
        "stratum",
        "n_h",
        "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n_h)"
        " / (n_h - 1)) AS sd_c",
    )
    tot = sd.agg(
        F.sum("n_h").alias("n"),
        F.sum(F.col("n_h") * F.col("sd_c")).alias("w_total"),
    )
    return (
        sd.crossJoin(F.broadcast(tot))
        .selectExpr(
            "stratum",
            "n_h",
            "round(sd_c / 100, 2) AS sd_dollars",
            f"CAST(round({_NA_BUDGET} * CAST(n_h AS DOUBLE) / n) AS BIGINT)"
            " AS proportional_n",
            f"CAST(round({_NA_BUDGET} * n_h * sd_c / w_total) AS BIGINT)"
            " AS neyman_n",
            "round(n_h * sd_c / w_total, 6) AS neyman_share",
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# q_rbo — rank-biased overlap between the exact and unnormalized tiers
# ---------------------------------------------------------------------------

#: Query panel size (hash-rank draw) and ranking depth.
_RBO_QN = 5
_RBO_D = 10

#: Per-item RBO weight w(m) = sum_{d=m..10} 0.9^(d-1)/d in e12 units
#: (an item whose ranks are (ra, rb) first counts toward agreement at
#: depth max(ra, rb) and at every deeper truncation) — precomputed so
#: the per-query RBO is an exact integer sum; RBO = 0.1 * sum / 1e12.
_RBO_W = (
    2354163994257, 1354163994257, 904163994257, 634163994257,
    451913994257, 320693994257, 222278994257, 146358851400,
    86571738900, 38742048900,
)


def _rbo_w_case(m: str) -> str:
    branches = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_RBO_W)
    )
    return f"(CASE {m} {branches} END)"


def _rbo_oracle() -> str:
    return f"""
    WITH v AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    n AS (
        SELECT vid, vv,
               sqrt(list_sum(list_transform(vv, x -> x * x))) AS nrm
        FROM v
    ),
    q AS (
        SELECT vid AS qid, vv AS qv, nrm AS qn FROM n
        ORDER BY md5('rbo:' || CAST(vid AS VARCHAR)), vid LIMIT {_RBO_QN}
    ),
    scored AS (
        SELECT q.qid, n.vid,
               round(list_dot_product(q.qv, n.vv) / (q.qn * n.nrm), 4)
                   AS cosv,
               round(list_dot_product(q.qv, n.vv), 4) AS dotv
        FROM q JOIN n ON n.vid <> q.qid
    ),
    ra AS (
        SELECT qid, vid, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY cosv DESC, vid) AS r
        FROM scored
    ),
    rb AS (
        SELECT qid, vid, ROW_NUMBER() OVER (
            PARTITION BY qid ORDER BY dotv DESC, vid) AS r
        FROM scored
    ),
    inter AS (
        SELECT a.qid, GREATEST(a.r, b.r) AS m
        FROM ra a JOIN rb b ON b.qid = a.qid AND b.vid = a.vid
        WHERE a.r <= {_RBO_D} AND b.r <= {_RBO_D}
    ),
    per_q AS (
        SELECT q.qid,
               CAST(COALESCE(SUM({_rbo_w_case('i.m')}), 0) AS BIGINT) AS s_e12
        FROM q LEFT JOIN inter i ON i.qid = q.qid
        GROUP BY q.qid
    )
    SELECT qid AS query_vid,
           round(0.1 * s_e12 / 1000000000000.0, 6) AS rbo
    FROM per_q ORDER BY qid
    """


@query("q_rbo", oracle=_rbo_oracle())
def q_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber, Moffat & Zobel 2010; p = 0.9,
    truncated at depth 10) between two retrieval tiers for a 5-query
    hash panel: the exact-cosine ranking vs the UNNORMALIZED
    dot-product ranking (the cheap scorer a serving stack is tempted
    to use). RBO is the top-weighted list-similarity the plain
    recall@k audits (q_ann_recall, q_sq8_ann) cannot express — it
    rewards agreeing at rank 1 far more than agreeing at rank 10, so
    it is the right metric for "would users notice the cheap scorer".

    Exactness: both scores are 4-decimal-rounded with vid tie-breaks
    (the similarity-family discipline); each intersecting item
    contributes a PRECOMPUTED e12-integer weight w(max(ra, rb)) =
    sum_(d>=max) 0.9^(d-1)/d, so the per-query RBO is an exact
    integer sum with one shared final division.

    Scale: the query side is a broadcast 5-row (_RBO_QN) panel (the
    sanctioned bounded fan-out of q_cosine_topk); rankings are
    windows partitioned by query id; the intersection join is over
    two depth-10 lists per query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    spread = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    n = spread.select(
        F.col("vec_id").alias("vid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vv"),
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("vv"), lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ),
    )
    q = (
        n.orderBy(F.md5(F.concat(F.lit("rbo:"), F.col("vid").cast("string"))), "vid")
        .limit(_RBO_QN)
        .select(
            F.col("vid").alias("qid"),
            F.col("vv").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("vv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    scored = materialize(
        n.crossJoin(F.broadcast(q))
        .filter(F.col("vid") != F.col("qid"))
        .select(
            "qid",
            "vid",
            F.round(dot / (F.col("qn") * F.col("nrm")), 4).alias("cosv"),
            F.round(dot, 4).alias("dotv"),
        )
    )
    wa = Window.partitionBy("qid").orderBy(F.col("cosv").desc(), "vid")
    wb = Window.partitionBy("qid").orderBy(F.col("dotv").desc(), "vid")
    ra = scored.withColumn("r", F.row_number().over(wa)).filter(
        F.col("r") <= _RBO_D
    ).select("qid", "vid", F.col("r").alias("ra"))
    rb = scored.withColumn("r", F.row_number().over(wb)).filter(
        F.col("r") <= _RBO_D
    ).select("qid", "vid", F.col("r").alias("rb"))
    inter = ra.join(rb, ["qid", "vid"]).selectExpr(
        "qid", f"{_rbo_w_case('GREATEST(ra, rb)')} AS w"
    )
    per_q = (
        q.select("qid")
        .join(inter, "qid", "left")
        .groupBy("qid")
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("s_e12"))
    )
    return per_q.selectExpr(
        "qid AS query_vid",
        "round(0.1 * s_e12 / 1000000000000.0, 6) AS rbo",
    ).orderBy("query_vid")


# ---------------------------------------------------------------------------
# q_cooks_distance — influence diagnostics for the monthly revenue OLS
# ---------------------------------------------------------------------------

#: Most influential months reported.
_CD_TOPN = 5

#: Residual-square quantization (cents^2 * 1e4) before the s^2 sum.
_CD_E4 = 10_000


def _cd_oracle() -> str:
    return f"""
    WITH monthly AS ({_RS_MONTHLY.format(cents=_CENTS)}),
    fit AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(m) AS HUGEINT) AS sm,
               CAST(SUM(y) AS HUGEINT) AS sy,
               CAST(SUM(CAST(m AS HUGEINT) * y) AS HUGEINT) AS smy,
               CAST(SUM(CAST(m AS HUGEINT) * m) AS HUGEINT) AS smm
        FROM monthly
    ),
    par AS (
        SELECT n, sm,
               n * smm - sm * sm AS den,
               n * smy - sm * sy AS slope_num,
               sy * smm - sm * smy AS icept_num
        FROM fit
    ),
    pt AS (
        SELECT p.m, p.y, r.n, r.den,
               CAST(p.y AS HUGEINT) * r.den
                   - (r.icept_num + r.slope_num * p.m) AS e_den,
               r.n * p.m - r.sm AS devm
        FROM monthly p CROSS JOIN par r
    ),
    ss AS (
        SELECT SUM(CAST(round(
                   (CAST(e_den AS DOUBLE) / den)
                   * (CAST(e_den AS DOUBLE) / den) * {_CD_E4})
               AS HUGEINT)) AS s2_e4,
               MAX(n) AS n
        FROM pt
    ),
    d AS (
        SELECT pt.m,
               CAST(pt.e_den AS DOUBLE) / pt.den AS e_c,
               1.0 / pt.n + CAST(pt.devm AS DOUBLE) * pt.devm
                   / (CAST(pt.n AS DOUBLE) * pt.den) AS h,
               CAST(ss.s2_e4 AS DOUBLE) / {_CD_E4} / (pt.n - 2) AS s2
        FROM pt CROSS JOIN ss
    ),
    cook AS (
        SELECT m, e_c, h,
               e_c * e_c * h / (2 * s2 * (1 - h) * (1 - h)) AS cd
        FROM d
    ),
    top AS (
        SELECT * FROM cook
        ORDER BY round(cd, 6) DESC, m LIMIT {_CD_TOPN}
    )
    SELECT CAST(m AS BIGINT) AS month_idx,
           round(e_c / 100, 2) AS residual_dollars,
           round(h, 6) AS leverage,
           round(cd, 6) AS cooks_d
    FROM top ORDER BY cooks_d DESC, month_idx
    """


@query("q_cooks_distance", oracle=_cd_oracle())
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance influence diagnostics (Cook 1977) for the
    monthly-revenue OLS trend: per month the residual, the leverage
    h_i = 1/n + (m_i - mbar)^2 / Sxx (closed form for simple
    regression), and D_i = e_i^2 h_i / (2 s^2 (1 - h_i)^2); the 5
    most influential months are reported — the regression-diagnostics
    companion to q_ols_regression that names WHICH observations drive
    the fit (robust alternatives: q_theil_sen, q_ransac_trend,
    q_quantile_reg).

    Exactness: residuals stay exact integers SCALED BY the
    determinant den = n*smm - sm^2 (e_i * den is an exact
    DECIMAL(38,0) expression, so no float enters before the shared
    division text); leverages are exact-integer rationals divided
    once; s^2 sums e4-quantized residual squares exactly. The top-5
    sort key is the ROUNDED D (shared text), so ranking agrees
    cross-engine even at float ulps.

    Scale: one orders aggregate to ~84 months; everything after is
    calendar-bounded with 1-row broadcast panels.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        (
            (F.year(F.col("o_orderdate").cast("date")) - 1992) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        ).alias("m")
    ).agg(F.sum(F.expr(_CENTS)).cast("long").alias("y"))
    fit = monthly.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("m").cast("decimal(38,0)").alias("sm"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * y")).alias("smy"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * m")).alias("smm"),
    )
    par = fit.selectExpr(
        "n",
        "sm",
        "n * smm - sm * sm AS den",
        "n * smy - sm * sy AS slope_num",
        "sy * smm - sm * smy AS icept_num",
    )
    pt = monthly.crossJoin(F.broadcast(par)).selectExpr(
        "m",
        "n",
        "den",
        "CAST(y AS DECIMAL(38,0)) * den"
        " - (icept_num + slope_num * m) AS e_den",
        "n * m - sm AS devm",
    )
    ss = pt.agg(
        F.sum(
            F.expr(
                f"CAST(round((CAST(e_den AS DOUBLE) / den)"
                f" * (CAST(e_den AS DOUBLE) / den) * {_CD_E4})"
                " AS DECIMAL(38,0))"
            )
        ).alias("s2_e4"),
        F.max("n").alias("n2"),
    )
    d = pt.crossJoin(F.broadcast(ss)).selectExpr(
        "m",
        "CAST(e_den AS DOUBLE) / den AS e_c",
        "1.0 / n + CAST(devm AS DOUBLE) * devm"
        " / (CAST(n AS DOUBLE) * den) AS h",
        f"CAST(s2_e4 AS DOUBLE) / {_CD_E4} / (n - 2) AS s2",
    )
    cook = d.selectExpr(
        "m", "e_c", "h", "e_c * e_c * h / (2 * s2 * (1 - h) * (1 - h)) AS cd"
    )
    return (
        cook.orderBy(F.round(F.col("cd"), 6).desc(), "m")
        .limit(_CD_TOPN)
        .selectExpr(
            "CAST(m AS BIGINT) AS month_idx",
            "round(e_c / 100, 2) AS residual_dollars",
            "round(h, 6) AS leverage",
            "round(cd, 6) AS cooks_d",
        )
        .orderBy(F.col("cooks_d").desc(), "month_idx")
    )


# ---------------------------------------------------------------------------
# q_watermark_lateness — event-lateness audit for the watermark choice
# ---------------------------------------------------------------------------

#: Candidate watermark delays (seconds) whose drop rates are reported.
_WL_DELAYS = (60, 300, 900)

#: Simulated transport-jitter span (seconds) — the deterministic
#: arrival model (the fixture itself arrives in perfect time order).
_WL_JITTER_S = 600

#: Lateness histogram bucket upper bounds (seconds; last is open).
_WL_BUCKETS = (0, 60, 300, 900)


def _wl_oracle() -> str:
    bucket = (
        "CASE WHEN late_s <= 0 THEN 0"
        + "".join(
            f" WHEN late_s <= {b} THEN {b}" for b in _WL_BUCKETS[1:]
        )
        + " ELSE 999999 END"
    )
    drops = ", ".join(
        f"CAST(COUNT(*) FILTER (WHERE late_s > {d}) AS BIGINT)"
        f" AS dropped_{d}s" for d in _WL_DELAYS
    )
    rates = ", ".join(
        f"round(CAST(t.dropped_{d}s AS DOUBLE) / t.n_total, 6)"
        f" AS drop_rate_{d}s" for d in _WL_DELAYS
    )
    dcols = ", ".join(f"t.dropped_{d}s" for d in _WL_DELAYS)
    from .sampling import _bucket_sql

    jitter = f"({_bucket_sql('arr', 'event_id', _WL_JITTER_S)})"
    return f"""
    WITH ev AS (
        SELECT event_id, epoch_us(ts) AS us,
               epoch_us(ts) + {jitter} * 1000000 AS arr_us
        FROM events
    ),
    run AS (
        SELECT event_id,
               (MAX(us) OVER (ORDER BY arr_us, event_id
                              ROWS UNBOUNDED PRECEDING) - us)
               // 1000000 AS late_s
        FROM ev
    ),
    b AS (SELECT {bucket} AS bucket_s, late_s FROM run),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total, {drops} FROM b
    ),
    per_bucket AS (
        SELECT bucket_s, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM b GROUP BY bucket_s
    )
    SELECT CAST(p.bucket_s AS BIGINT) AS bucket_s,
           p.n_events,
           {dcols},
           {rates}
    FROM per_bucket p CROSS JOIN tot t ORDER BY bucket_s
    """


@query("q_watermark_lateness", oracle=_wl_oracle())
def q_watermark_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-lateness audit — the measurement behind a watermark-delay
    choice. The fixture's events arrive in perfect event-time order
    (event_id == time order, zero inversions), so arrival is modeled
    with a DETERMINISTIC transport-jitter: arrival = event-time +
    md5-hash jitter in [0, 600s) (documented synthetic arrival model,
    reproducible in both engines). In arrival order, each event's
    lateness is (max event-time seen so far) - (its event-time); the
    histogram
    of lateness plus the exact drop count/rate at candidate watermark
    delays {60s, 5min, 15min} is the table that says what
    `withWatermark` would discard. (The drop columns repeat per
    histogram row — they are whole-stream scalars joined onto the
    bucket panel.)

    Exactness: event times are exact integer microseconds
    (unix_micros / epoch_us on the canonical timestamp); the running
    maximum is an exact integer prefix statistic; all buckets, drops
    and rates are integer arithmetic plus one shared division text.

    Scale: the prefix maximum runs as the two-phase
    ``global_running_min`` scan on negated times (per-partition
    scalars to the driver, never a single-task window — this is a
    DATA-SCALE prefix, unlike the calendar-bounded CUSUM); everything
    after is one partial-agg'd pass to a 5-bucket panel.
    """
    from ..functions.prefix import global_row_number, global_running_min
    from .sampling import hash_bucket

    events = load_table(spark, sf_dir, "events")
    ev = events.select(
        "event_id", F.unix_micros(F.col("ts")).alias("us")
    ).withColumn(
        "arr_us",
        F.col("us")
        + hash_bucket("arr", F.col("event_id"), _WL_JITTER_S) * 1000000,
    ).withColumn("neg_us", -F.col("us"))
    ev = global_row_number(ev, ["arr_us", "event_id"], out_col="arr_rn")
    run = global_running_min(ev, "arr_rn", "neg_us", out_col="neg_max")
    late = run.selectExpr("(-neg_max - us) DIV 1000000 AS late_s")
    bucket = (
        "CASE WHEN late_s <= 0 THEN 0"
        + "".join(f" WHEN late_s <= {b} THEN {b}" for b in _WL_BUCKETS[1:])
        + " ELSE 999999 END"
    )
    tot = late.agg(
        F.count("*").cast("long").alias("n_total"),
        *[
            F.sum(F.when(F.col("late_s") > d, 1).otherwise(0))
            .cast("long")
            .alias(f"dropped_{d}s")
            for d in _WL_DELAYS
        ],
    )
    b = late.selectExpr(f"{bucket} AS bucket_s")
    per_bucket = b.groupBy("bucket_s").agg(
        F.count("*").cast("long").alias("n_events")
    )
    rates = [
        f"round(CAST(dropped_{d}s AS DOUBLE) / n_total, 6)"
        f" AS drop_rate_{d}s"
        for d in _WL_DELAYS
    ]
    return (
        per_bucket.crossJoin(F.broadcast(tot))
        .selectExpr(
            "CAST(bucket_s AS BIGINT) AS bucket_s",
            "n_events",
            *[f"dropped_{d}s" for d in _WL_DELAYS],
            *rates,
        )
        .orderBy("bucket_s")
    )


# ---------------------------------------------------------------------------
# q_wasserstein_distance — exact 1-D earth-mover distance between two
# empirical price distributions (distributed order statistics)
# ---------------------------------------------------------------------------

_W1_FINAL = (
    "CAST(n_a AS BIGINT) AS n_a",
    "CAST(n_b AS BIGINT) AS n_b",
    "CAST(n_support AS BIGINT) AS n_support",
    # COALESCE: a single distinct support value leaves no adjacent-gap
    # terms (v_next NULL everywhere) -> the distance is exactly 0
    "round(CAST(COALESCE(num, 0) AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)"
    " / 100, 4) AS w1_dollars",
    "round(CAST(sum_a AS DOUBLE) / n_a / 100, 4) AS mean_a_dollars",
    "round(CAST(sum_b AS DOUBLE) / n_b / 100, 4) AS mean_b_dollars",
)

_W1_ORACLE = f"""
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
               l_returnflag AS fl
        FROM lineitem WHERE l_returnflag IN ('R', 'N')
    ),
    sup AS (
        SELECT v,
               CAST(SUM(CASE WHEN fl = 'R' THEN 1 ELSE 0 END) AS BIGINT)
                   AS na,
               CAST(SUM(CASE WHEN fl = 'N' THEN 1 ELSE 0 END) AS BIGINT)
                   AS nb
        FROM v GROUP BY v
    ),
    cum AS (
        SELECT v, na, nb,
               SUM(na) OVER w AS cuma, SUM(nb) OVER w AS cumb,
               LEAD(v) OVER (ORDER BY v) AS v_next
        FROM sup WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
    ),
    tots AS (
        SELECT SUM(na) AS n_a, SUM(nb) AS n_b,
               CAST(COUNT(*) AS BIGINT) AS n_support,
               SUM(v * na) AS sum_a, SUM(v * nb) AS sum_b
        FROM sup
    ),
    w1 AS (
        SELECT SUM(CAST(abs(c.cuma * t.n_b - c.cumb * t.n_a)
                        AS DECIMAL(38,0)) * (c.v_next - c.v)) AS num
        FROM cum c CROSS JOIN tots t WHERE c.v_next IS NOT NULL
    )
    SELECT {", ".join(_W1_FINAL)} FROM w1 CROSS JOIN tots
    """


@query("q_wasserstein_distance", oracle=_W1_ORACLE)
def q_wasserstein_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the
    extended-price distributions of RETURNED ('R') and kept ('N')
    line items — the distribution-shift metric ML monitoring uses
    when PSI/KL's binning hides tail movement (W1 integrates the full
    CDF gap and reads in DOLLARS: the average price movement needed
    to turn one distribution into the other).

    Exactness: W1 = integral |F_A - F_B| dt over the integer-cent
    support = sum over adjacent distinct values of
    |cumA*n_B - cumB*n_A| * gap / (n_A*n_B) — an exact DECIMAL(38,0)
    integer sum with ONE shared final division text.

    Scale: the support relation (distinct cent values with per-group
    counts) is one hash aggregate; cumulative counts ride TWO
    two-phase ``global_running_sum`` scans and the adjacent-value
    gaps come from a ``global_row_number`` self-join on rank+1 — no
    single-task global window anywhere (the engine's distributed
    order-statistics discipline); the readout is one scalar
    aggregate.
    """
    from ..functions.prefix import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    v = li.filter(F.col("l_returnflag").isin("R", "N")).select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("v"),
        F.col("l_returnflag").alias("fl"),
    )
    sup = v.groupBy("v").agg(
        F.sum(F.when(F.col("fl") == "R", 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("fl") == "N", 1).otherwise(0))
        .cast("long")
        .alias("nb"),
    )
    ranked = global_row_number(sup, ["v"], out_col="rn")
    cum = global_running_sum(
        global_running_sum(ranked, "v", "na", out_col="cuma"),
        "v",
        "nb",
        out_col="cumb",
    )
    nxt = ranked.select(
        (F.col("rn") - 1).alias("rn"), F.col("v").alias("v_next")
    )
    tots = sup.agg(
        F.sum("na").alias("n_a"),
        F.sum("nb").alias("n_b"),
        F.count("*").cast("long").alias("n_support"),
        F.sum(F.col("v") * F.col("na")).alias("sum_a"),
        F.sum(F.col("v") * F.col("nb")).alias("sum_b"),
    )
    terms = (
        cum.join(nxt, "rn")
        .crossJoin(F.broadcast(tots))
        .select(
            (
                F.abs(
                    F.col("cuma").cast("decimal(38,0)") * F.col("n_b")
                    - F.col("cumb").cast("decimal(38,0)") * F.col("n_a")
                )
                * (F.col("v_next") - F.col("v"))
            ).alias("term")
        )
    )
    num = terms.agg(F.sum("term").alias("num"))
    return num.crossJoin(F.broadcast(tots)).selectExpr(*_W1_FINAL)
