"""Time-series depth queries over the daily/monthly order-revenue
series: autocorrelation (ACF) and the Theil–Sen robust trend estimator.

No reference counterpart (the reference engine's data model is text
lines, SURVEY.md §1.2); both are public-knowledge statistics:

- **Sample autocorrelation** (Box & Jenkins 1970): r_k =
  Σ (x_t − x̄)(x_{t+k} − x̄) / Σ (x_t − x̄)². Computed here at
  CALENDAR lags — a (t, t+k) pair contributes only when both days
  exist — which on a gappy series is the well-defined analogue of
  the textbook regular-series formula (and identical to it on the
  dense TPC-H date range).
- **Theil–Sen estimator** (Theil 1950; Sen 1968): the median of the
  pairwise slopes (y_j − y_i)/(m_j − m_i) over all i < j — the
  classic robust alternative to OLS (breakdown point ~29%), paired
  with the Mann–Kendall-style up/down pair counts.

Float posture (the module's cross-engine discipline):

- ACF never subtracts a float mean: the deviation is scaled by n,
  ``dev_t = n·x_t − S`` (x in integer cents, S = Σx), so numerator
  and denominator are EXACT integer sums — DECIMAL(38,0) Spark-side,
  HUGEINT DuckDB-side (dev² ~ 10²⁴ overflows int64). The single
  float op is the final correctly-rounded quotient, identical in
  both engines, then round(·, 6).
- Theil–Sen slopes are one IEEE division of two exact int64
  differences — bit-identical cross-engine; the median picks order
  statistics by global rank (avg of the two middles when n is even),
  never an interpolating percentile.

Scale posture (the 100 TB story): both queries aggregate the raw
relation down to a CALENDAR-bounded series first — |days| (~2.5k) or
|months| (~84) rows regardless of data scale — with one partial-agg'd
shuffle; everything after runs on that bounded relation. The lag
product is a day-keyed equi-join (broadcast-able series side), never
a window; the pairwise-slope fan-out is |months|² ≤ ~10⁴ rows
(documented bound — the calendar, not the data, is the driver), and
the median rank comes from ``functions/prefix.py global_row_number``
(two-phase scan), NOT a single-task global-sort window, so the plan
stays legal under the engine-wide SinglePartition-WindowExec sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.prefix import global_row_number
from ..session import materialize
from ..sources.tables import load_table
from .registry import query

#: Cents conversion shared with the forecasting family (stats_ml.py).
_CENTS = "CAST(round(o_totalprice * 100) AS BIGINT)"

#: ACF lags: a dense week plus the fortnight/month/quarter/year marks.
_ACF_LAGS = [1, 2, 3, 4, 5, 6, 7, 14, 30, 90, 365]


def _acf_oracle() -> str:
    lags = ", ".join(f"({k})" for k in _ACF_LAGS)
    return f"""
    WITH daily AS (
        SELECT datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                   AS t,
               CAST(SUM({_CENTS}) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    st AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS n, CAST(SUM(x) AS HUGEINT) AS s
        FROM daily
    ),
    dev AS (
        SELECT d.t, st.n * CAST(d.x AS HUGEINT) - st.s AS dv
        FROM daily d CROSS JOIN st
    ),
    den AS (SELECT SUM(dv * dv) AS den FROM dev),
    lags(k) AS (VALUES {lags}),
    num AS (
        SELECT l.k,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               SUM(a.dv * b.dv) AS num
        FROM dev a
        CROSS JOIN lags l
        JOIN dev b ON b.t = a.t + l.k
        GROUP BY l.k
    )
    SELECT CAST(n.k AS INTEGER) AS lag, n.n_pairs,
           round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6) AS acf
    FROM num n CROSS JOIN den d
    ORDER BY lag
    """


@query("q_acf", oracle=_acf_oracle())
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of daily order revenue at lags 1–7, 14,
    30, 90, 365 — the standard seasonality/persistence diagnostic
    behind every forecasting pipeline (and the natural audit next to
    ``q_holt_forecast``'s smoothing choice).

    Exactness: revenue is summed in integer cents; deviations use the
    n-scaled trick ``dev_t = n·x_t − S`` so numerator Σ dev_t·dev_{t+k}
    and denominator Σ dev² are exact integer sums (DECIMAL(38,0) —
    dev² ~ 10²⁴ would overflow int64); one final correctly-rounded
    double quotient, then round(·, 6). Both engines see identical
    bits.

    Scale: one partial-agg'd shuffle collapses orders to the
    |days|-bounded series (~2.5k rows, fixed by the calendar, NOT by
    data scale); the lag pairing is a day-index equi-join of that
    bounded relation against its lag-shifted self (broadcast-able),
    never a window or a sort.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = materialize(
        orders.groupBy(
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')"
            ).alias("t")
        )
        .agg(F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("x"))
    )
    st = daily.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(x) AS DECIMAL(38,0))").alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(st)).select(
        "t", F.expr("n * CAST(x AS DECIMAL(38,0)) - s").alias("dv")
    )
    den = dev.agg(F.expr("SUM(dv * dv)").alias("den"))
    lags = spark.createDataFrame([(k,) for k in _ACF_LAGS], "k int")
    shifted = dev.crossJoin(F.broadcast(lags)).select(
        "k", (F.col("t") + F.col("k")).alias("t2"), F.col("dv").alias("dva")
    )
    num = (
        shifted.join(
            dev.select(F.col("t").alias("t2"), F.col("dv").alias("dvb")), "t2"
        )
        .groupBy("k")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.expr("SUM(dva * dvb)").alias("num"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("k").cast("int").alias("lag"),
            "n_pairs",
            F.round(
                F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"), 6
            ).alias("acf"),
        )
        .orderBy("lag")
    )


def _theil_sen_oracle() -> str:
    return f"""
    WITH monthly AS (
        SELECT CAST(year(CAST(o_orderdate AS DATE)) * 12
                    + month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
               CAST(SUM({_CENTS}) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT a.m AS mi, b.m AS mj,
               CAST(b.y - a.y AS DOUBLE) / CAST(b.m - a.m AS DOUBLE) AS slope
        FROM monthly a JOIN monthly b ON a.m < b.m
    ),
    ranked AS (
        SELECT slope,
               ROW_NUMBER() OVER (ORDER BY slope, mi, mj) AS rn,
               COUNT(*) OVER () AS n
        FROM pairs
    ),
    med AS (
        SELECT AVG(slope) AS med FROM ranked
        WHERE rn IN ((n + 1) // 2, (n + 2) // 2)
    ),
    cnt AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN slope > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_up,
               CAST(SUM(CASE WHEN slope < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_down
        FROM pairs
    ),
    nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly)
    SELECT round(m.med, 6) AS slope_cents_per_month,
           nm.n_months, c.n_pairs, c.n_up, c.n_down
    FROM med m CROSS JOIN cnt c CROSS JOIN nm
    """


@query("q_theil_sen", oracle=_theil_sen_oracle())
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of monthly order revenue: the median of
    all pairwise slopes (cents/month), with the Mann–Kendall-style
    up/down pair counts as the accompanying trend-direction test.

    Exactness: each slope is ONE IEEE division of two exact int64
    differences — bit-identical cross-engine; the median is the
    average of the two middle order statistics (equal when n is odd),
    located by rank, never an interpolating percentile.

    Scale: orders collapse to the |months|-bounded series (~84 rows —
    the calendar bounds it, not the data) in one partial-agg'd
    shuffle; the pairwise fan-out is |months|²/2 ≈ 3.5k rows via a
    broadcast range self-join (never data-scale, never a
    CartesianProduct of a big relation). The median rank uses
    ``global_row_number`` (two-phase distributed scan), keeping the
    plan free of single-partition WindowExec; ties on slope are
    broken by (mi, mj) so both engines pick identical middles.
    """
    orders = load_table(spark, sf_dir, "orders")
    monthly = materialize(
        orders.groupBy(
            F.expr(
                "CAST(year(CAST(o_orderdate AS DATE)) * 12"
                " + month(CAST(o_orderdate AS DATE)) AS BIGINT)"
            ).alias("m")
        )
        .agg(F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("y"))
    )
    a = monthly.select(F.col("m").alias("mi"), F.col("y").alias("yi"))
    b = monthly.select(F.col("m").alias("mj"), F.col("y").alias("yj"))
    pairs = materialize(
        a.join(F.broadcast(b), F.col("mi") < F.col("mj"))
        .select(
            "mi",
            "mj",
            F.expr(
                "CAST(yj - yi AS DOUBLE) / CAST(mj - mi AS DOUBLE)"
            ).alias("slope"),
        )
    )
    ranked = global_row_number(pairs, ["slope", "mi", "mj"], out_col="rn")
    cnt = pairs.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("slope") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_up"),
        F.sum(F.when(F.col("slope") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_down"),
    )
    med = (
        ranked.crossJoin(F.broadcast(cnt.select("n_pairs")))
        .filter(
            F.expr("rn IN ((n_pairs + 1) DIV 2, (n_pairs + 2) DIV 2)")
        )
        .agg(F.avg("slope").alias("med"))
    )
    nm = monthly.agg(F.count("*").cast("long").alias("n_months"))
    return (
        med.crossJoin(F.broadcast(cnt))
        .crossJoin(F.broadcast(nm))
        .select(
            F.round("med", 6).alias("slope_cents_per_month"),
            "n_months",
            "n_pairs",
            "n_up",
            "n_down",
        )
    )


# ---------------------------------------------------------------------------
# q_rolling_corr — trailing-30-day revenue/quantity correlation
# ---------------------------------------------------------------------------

_ROLL_DAYS = 30


def _rolling_corr_oracle() -> str:
    from .stats_ml import _corr_formula

    return f"""
    WITH daily AS (
        SELECT datediff('day', DATE '1992-01-01', CAST(l_shipdate AS DATE))
                   AS t,
               CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS x,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS y
        FROM lineitem GROUP BY 1, 2
    ),
    win AS (
        SELECT a.t, a.day,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(b.x AS HUGEINT)) AS DOUBLE) AS s_x,
               CAST(SUM(CAST(b.y AS HUGEINT)) AS DOUBLE) AS s_y,
               CAST(SUM(CAST(b.x AS HUGEINT) * b.x) AS DOUBLE) AS s_x_x,
               CAST(SUM(CAST(b.y AS HUGEINT) * b.y) AS DOUBLE) AS s_y_y,
               CAST(SUM(CAST(b.x AS HUGEINT) * b.y) AS DOUBLE) AS s_x_y
        FROM daily a
        JOIN daily b ON b.t BETWEEN a.t - {_ROLL_DAYS - 1} AND a.t
        GROUP BY 1, 2
    )
    SELECT day, {_corr_formula("x", "y")} AS corr_30d
    FROM win WHERE n = {_ROLL_DAYS}
    ORDER BY day
    """


@query("q_rolling_corr", oracle=_rolling_corr_oracle())
def q_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-day Pearson correlation between daily shipped
    revenue and daily shipped quantity — the rolling co-movement
    diagnostic behind price-mix monitoring, emitted only for complete
    windows (exactly 30 observed days).

    Windowed analytics WITHOUT a window operator: the trailing frame
    is a bounded range join (contributing day within [t−29, t]) over
    the calendar-bounded daily series, grouped per anchor day — so
    there is no single-task WindowExec and no per-key sort anywhere.

    Exactness: the six sufficient statistics (n, Σx, Σy, Σx², Σy²,
    Σxy) are exact integer sums — DECIMAL(38,0)/HUGEINT, since daily
    cents² passes int64 well below the 100 TB posture — and the final
    Pearson text is the module-shared ``_corr_formula`` (identical
    float ops in both engines, NULLIF-guarded, −0 normalized).

    Scale: one partial-agg'd shuffle collapses lineitem to the
    |days|-bounded series (~2.5k rows — the calendar bounds it, not
    the data); the 30-wide range join fans out ≤ 30·|days| rows via a
    broadcast of the bounded series. The heavy table is touched
    exactly once.
    """
    from .stats_ml import _corr_formula

    li = load_table(spark, sf_dir, "lineitem")
    daily = materialize(
        li.groupBy(
            F.expr(
                "datediff(CAST(l_shipdate AS DATE), DATE '1992-01-01')"
            ).alias("t"),
            F.expr("CAST(l_shipdate AS DATE)").alias("day"),
        )
        .agg(
            F.expr(
                "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))"
                " AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)"
            ).alias("y"),
        )
    )
    b = daily.select(
        F.col("t").alias("u"),
        F.expr("CAST(x AS DECIMAL(38,0))").alias("bx"),
        F.expr("CAST(y AS DECIMAL(38,0))").alias("by"),
    )
    win = (
        daily.join(
            F.broadcast(b),
            (F.col("u") >= F.col("t") - (_ROLL_DAYS - 1))
            & (F.col("u") <= F.col("t")),
        )
        .groupBy("t", "day")
        .agg(
            F.expr("CAST(COUNT(*) AS DOUBLE)").alias("n"),
            F.expr("CAST(SUM(bx) AS DOUBLE)").alias("s_x"),
            F.expr("CAST(SUM(by) AS DOUBLE)").alias("s_y"),
            F.expr("CAST(SUM(bx * bx) AS DOUBLE)").alias("s_x_x"),
            F.expr("CAST(SUM(by * by) AS DOUBLE)").alias("s_y_y"),
            F.expr("CAST(SUM(bx * by) AS DOUBLE)").alias("s_x_y"),
        )
    )
    return (
        win.filter(F.col("n") == _ROLL_DAYS)
        .select("day", F.expr(_corr_formula("x", "y")).alias("corr_30d"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q_cumulative_users — exact cumulative distinct users per day
# ---------------------------------------------------------------------------


@query(
    "q_cumulative_users",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        FROM events GROUP BY user_id
    ),
    per_day AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users
        FROM first_seen GROUP BY day
    )
    SELECT a.day, a.new_users,
           CAST(SUM(b.new_users) AS BIGINT) AS cum_users
    FROM per_day a JOIN per_day b ON b.day <= a.day
    GROUP BY a.day, a.new_users
    ORDER BY a.day
    """,
)
def q_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cumulative distinct users per day — the growth curve
    every product dashboard opens with, computed WITHOUT a
    count-distinct-over-window (which would re-deduplicate the entire
    user history once per day).

    The classic exact trick: distinct-ness is resolved ONCE by
    reducing each user to their first-seen day (one partial-agg'd
    shuffle on user_id — min combines map-side), after which the
    cumulative count is a plain SUM over the per-day new-user series.
    The running total is a trailing range join over the
    calendar-bounded relation (|days|² ≤ ~6M pairs driven by the
    calendar, not the data) — the same windowless idiom as
    q_rolling_corr, so no single-task WindowExec exists anywhere.

    Scale: the events table is touched once and collapses to |users|
    then |days| rows; everything downstream is calendar-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    per_day = materialize(
        ev.groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("long").alias("new_users"))
    )
    b = per_day.select(
        F.col("day").alias("bday"), F.col("new_users").alias("bnew")
    )
    return (
        per_day.join(F.broadcast(b), F.col("bday") <= F.col("day"))
        .groupBy("day", "new_users")
        .agg(F.sum("bnew").cast("long").alias("cum_users"))
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q_seasonality — day-of-week seasonal index of order revenue
# ---------------------------------------------------------------------------

#: Monday anchor for engine-neutral day-of-week arithmetic (Spark's
#: dayofweek() is 1=Sunday..7, DuckDB's dayofweek() is 0=Sunday..6 —
#: a modular datediff against a known Monday sidesteps both).
_MONDAY = "1992-01-06"

#: Seasonal index: mean daily revenue on this weekday over the grand
#: mean daily revenue, from four exact integers (engine-shared text).
_SEASONAL_FINAL = (
    "cast(dow as bigint) as dow",
    "cast(n_days as bigint) as n_days",
    "cast(rev_c as decimal(38,0)) as rev_c",
    "round((cast(rev_c as double) / cast(n_days as double))"
    " / (cast(tot_c as double) / cast(tot_days as double)), 6)"
    " as seasonal_index",
)


@query(
    "q_seasonality",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ((datediff('day', DATE '{_MONDAY}', CAST(o_orderdate AS DATE))
                 % 7) + 7) % 7 AS dow,
               CAST(SUM({_CENTS}) AS HUGEINT) AS rev_c
        FROM orders GROUP BY 1, 2
    ),
    by_dow AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(rev_c) AS HUGEINT) AS rev_c
        FROM daily GROUP BY dow
    ),
    tot AS (
        SELECT CAST(SUM(n_days) AS BIGINT) AS tot_days,
               CAST(SUM(rev_c) AS HUGEINT) AS tot_c
        FROM by_dow
    )
    SELECT {", ".join(_SEASONAL_FINAL)}
    FROM by_dow, tot ORDER BY dow
    """,
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal index of order revenue — mean daily
    revenue per weekday relative to the grand mean daily revenue, the
    multiplicative seasonal factors a ratio-to-average decomposition
    assigns (and the sanity gate before any weekday-aware forecast).

    Day-of-week is computed arithmetically (datediff against a fixed
    Monday, double-mod to stay non-negative) because the two engines'
    dayofweek() builtins disagree on both origin and range; every sum
    is exact integer cents (DECIMAL(38,0)/HUGEINT), and the one float
    expression — the index ratio — is a shared formula text rounded
    to 6 places.

    Scale: orders collapses to |days| with one partial-agg'd shuffle,
    then to 7 rows; the grand total joins back as a broadcast scalar.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.expr("CAST(o_orderdate AS DATE)").alias("day"),
            F.expr(
                f"((datediff(CAST(o_orderdate AS DATE),"
                f" DATE '{_MONDAY}') % 7) + 7) % 7"
            ).alias("dow"),
        )
        .agg(F.expr(f"CAST(SUM({_CENTS}) AS DECIMAL(38,0))").alias("rev_c"))
    )
    by_dow = daily.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("CAST(SUM(rev_c) AS DECIMAL(38,0))").alias("rev_c"),
    )
    tot = by_dow.agg(
        F.expr("CAST(SUM(n_days) AS BIGINT)").alias("tot_days"),
        F.expr("CAST(SUM(rev_c) AS DECIMAL(38,0))").alias("tot_c"),
    )
    return (
        by_dow.crossJoin(F.broadcast(tot))
        .selectExpr(*_SEASONAL_FINAL)
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# q_seasonal_anomaly — deseasonalized daily-revenue outlier days
# ---------------------------------------------------------------------------

#: z-score of the deseasonalized ratio from exact integer sums
#: (n·Σx² − S² variance form — no float mean is ever subtracted).
_SANOM_Z = (
    "round((CAST(ratio_e6 AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " / sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)"
    " - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6)"
)


@query(
    "q_seasonal_anomaly",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               ((datediff('day', DATE '{_MONDAY}', CAST(o_orderdate AS DATE))
                 % 7) + 7) % 7 AS dow,
               CAST(SUM({_CENTS}) AS HUGEINT) AS rev_c
        FROM orders GROUP BY 1, 2
    ),
    by_dow AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(rev_c) AS HUGEINT) AS dow_sum
        FROM daily GROUP BY dow
    ),
    ratios AS (
        SELECT d.day,
               CAST(1000000 * d.rev_c * b.n_days // b.dow_sum AS BIGINT)
                   AS ratio_e6
        FROM daily d JOIN by_dow b ON b.dow = d.dow
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(ratio_e6) AS HUGEINT) AS s1,
               CAST(SUM(CAST(ratio_e6 AS HUGEINT) * ratio_e6) AS HUGEINT)
                   AS s2
        FROM ratios
    )
    SELECT day, ratio_e6, {_SANOM_Z} AS z
    FROM ratios, s
    WHERE abs({_SANOM_Z}) >= 2.0
    ORDER BY day
    """,
)
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue anomalies AFTER removing weekday seasonality: each
    day's revenue is expressed as an e6 ratio to its own weekday's mean
    (the q_seasonality decomposition), and days whose deseasonalized
    ratio sits >= 2 sigma from the all-days mean are flagged — the
    alert that fires on real demand shocks instead of every weekend.

    The ratio is exact integer arithmetic (1e6·rev·n_days DIV dow_sum);
    the z-score uses the n·Σx²−S² variance form over exact integer sums
    (never subtracting a float mean row-by-row), with one shared
    formula text rounded to 6 BEFORE the threshold compare — the same
    round-before-threshold discipline as q_mahalanobis_outliers.

    Scale: orders collapses to the calendar-bounded daily series with
    one partial-agg'd shuffle; weekday means (7 rows) and the moment
    sums (1 row) broadcast back; no window, no data-scale state.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = materialize(
        orders.groupBy(
            F.expr("CAST(o_orderdate AS DATE)").alias("day"),
            F.expr(
                f"((datediff(CAST(o_orderdate AS DATE),"
                f" DATE '{_MONDAY}') % 7) + 7) % 7"
            ).alias("dow"),
        )
        .agg(F.expr(f"CAST(SUM({_CENTS}) AS DECIMAL(38,0))").alias("rev_c"))
    )
    by_dow = daily.groupBy("dow").agg(
        F.count("*").cast("long").alias("n_days"),
        F.expr("CAST(SUM(rev_c) AS DECIMAL(38,0))").alias("dow_sum"),
    )
    ratios = daily.join(F.broadcast(by_dow), "dow").selectExpr(
        "day",
        "CAST(1000000 * rev_c * n_days DIV dow_sum AS BIGINT) AS ratio_e6",
    )
    s = ratios.agg(
        F.count("*").cast("long").alias("n"),
        F.expr("CAST(SUM(ratio_e6) AS DECIMAL(38,0))").alias("s1"),
        F.expr(
            "CAST(SUM(CAST(ratio_e6 AS DECIMAL(38,0)) * ratio_e6)"
            " AS DECIMAL(38,0))"
        ).alias("s2"),
    )
    return (
        ratios.crossJoin(F.broadcast(s))
        .selectExpr("day", "ratio_e6", f"{_SANOM_Z} AS z")
        .filter("abs(z) >= 2.0")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q_ewma — exponentially weighted revenue average, literal weight table
# ---------------------------------------------------------------------------

_EWMA_ALPHA = 0.2
_EWMA_DEPTH = 30  # truncation depth: (1-a)^30 ~ 1e-3 of the mass

#: Fixed-point weight table w_k = round(alpha * (1-alpha)^k * 1e9),
#: computed ONCE in Python and inlined as identical literals in both
#: engines (the JL-sign-matrix discipline) — no cross-engine pow().
_EWMA_W = [
    round(_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** k * 1_000_000_000)
    for k in range(_EWMA_DEPTH)
]


def _ewma_oracle() -> str:
    wvals = ", ".join(f"({k}, {w})" for k, w in enumerate(_EWMA_W))
    return f"""
    WITH daily AS (
        SELECT datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                   AS t,
               CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({_CENTS}) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1, 2
    ),
    w(k, wgt) AS (VALUES {wvals}),
    conv AS (
        SELECT a.t, a.day,
               CAST(SUM(CAST(b.rev_c AS HUGEINT) * w.wgt) AS HUGEINT)
                   AS num,
               CAST(SUM(w.wgt) AS BIGINT) AS den
        FROM daily a
        JOIN daily b ON b.t BETWEEN a.t - {_EWMA_DEPTH - 1} AND a.t
        JOIN w ON w.k = a.t - b.t
        GROUP BY 1, 2
    )
    SELECT day,
           round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0, 4)
               AS ewma_revenue
    FROM conv
    WHERE den = {sum(_EWMA_W)}
    ORDER BY day
    """


@query("q_ewma", oracle=_ewma_oracle())
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue
    (α = 0.2, depth-30 truncated kernel): the smoothing every ops
    dashboard runs, reformulated from its sequential recurrence into
    a WEIGHTED CONVOLUTION so it distributes.

    The recurrence s_t = αx_t + (1−α)s_{t−1} is inherently serial; its
    closed form s_t = Σ_k α(1−α)^k x_{t−k} is not. The kernel is
    truncated at 30 days (residual mass ~10⁻³, renormalized by the
    exact weight sum) and the weights are FIXED-POINT LITERALS
    (round(α(1−α)^k·1e9), computed once in Python, inlined into both
    engines — the JL-sign-matrix discipline), so no cross-engine
    pow()/float accumulation exists: the convolution is an exact
    integer dot product, divided once at the end (shared text).
    Emitted only where the full kernel fits (den check).

    Scale: same shape as q_rolling_corr — one partial-agg'd shuffle
    to the calendar-bounded daily series, then a ≤30-wide broadcast
    range join; no WindowExec, no sequential state.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = materialize(
        orders.groupBy(
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')"
            ).alias("t"),
            F.expr("CAST(o_orderdate AS DATE)").alias("day"),
        )
        .agg(F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("rev_c"))
    )
    w = F.array(*[F.lit(x) for x in _EWMA_W])
    b = daily.select(
        F.col("t").alias("u"), F.col("rev_c").alias("brev")
    )
    conv = (
        daily.join(
            F.broadcast(b),
            (F.col("u") >= F.col("t") - (_EWMA_DEPTH - 1))
            & (F.col("u") <= F.col("t")),
        )
        .withColumn("wgt", F.element_at(w, F.col("t") - F.col("u") + 1))
        .groupBy("t", "day")
        .agg(
            F.sum(F.expr("CAST(brev AS DECIMAL(38,0)) * wgt")).alias("num"),
            F.sum("wgt").cast("long").alias("den"),
        )
    )
    return (
        conv.filter(F.col("den") == sum(_EWMA_W))
        .selectExpr(
            "day",
            "round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100.0, 4)"
            " AS ewma_revenue",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q_ohlc — hourly OHLC candles over the event value stream
# ---------------------------------------------------------------------------


@query(
    "q_ohlc",
    oracle="""
    WITH v AS (
        SELECT date_trunc('hour', ts) AS hour, epoch_us(ts) AS tus,
               event_id, CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    )
    SELECT strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(CAST((MIN(struct_pack(t := tus, i := event_id, c := c))).c
                      AS DOUBLE) / 100.0, 2) AS open,
           round(CAST(MAX(c) AS DOUBLE) / 100.0, 2) AS high,
           round(CAST(MIN(c) AS DOUBLE) / 100.0, 2) AS low,
           round(CAST((MAX(struct_pack(t := tus, i := event_id, c := c))).c
                      AS DOUBLE) / 100.0, 2) AS close
    FROM v GROUP BY 1 ORDER BY 1
    """,
)
def q_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) candles over the event value
    stream — the time-series compaction every monitoring / market
    dashboard renders; 'open' and 'close' are the first/last values BY
    EVENT TIME within the hour, not by arrival order.

    First/last ride min/max over a (time, event_id, value) struct —
    an ordinary partial-aggregable min/max (struct comparison is
    lexicographic; the unique event_id tiebreak means the value field
    never decides), NOT a window — so the whole candle is one
    map-side-combined aggregate. Values are fixed-pointed to integer
    cents before any min/max so engine float handling never matters.

    Scale: one shuffle on the hour key with partial aggregation; at
    100 TB the per-task state is one candle per open hour.
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
        F.unix_micros("ts").alias("tus"),
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    return (
        v.groupBy("hour")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min(F.struct("tus", "event_id", "c")).alias("o"),
            F.max("c").alias("hi"),
            F.min("c").alias("lo"),
            F.max(F.struct("tus", "event_id", "c")).alias("cl"),
        )
        .selectExpr(
            "hour",
            "n_events",
            "round(CAST(o.c AS DOUBLE) / 100.0, 2) AS open",
            "round(CAST(hi AS DOUBLE) / 100.0, 2) AS high",
            "round(CAST(lo AS DOUBLE) / 100.0, 2) AS low",
            "round(CAST(cl.c AS DOUBLE) / 100.0, 2) AS close",
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# q_peak_days — local-maximum revenue days with prominence threshold
# ---------------------------------------------------------------------------

_PEAK_PCT = 120  # day must exceed both neighbors AND 120% of the mean


@query(
    "q_peak_days",
    oracle=f"""
    WITH daily AS (
        SELECT datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE))
                   AS t,
               CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({_CENTS}) AS BIGINT) AS rev_c
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT CAST(SUM(rev_c) AS HUGEINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM daily
    )
    SELECT a.day, a.rev_c,
           CAST(100 * CAST(a.rev_c AS HUGEINT) * m.n // m.tot AS BIGINT)
               AS pct_of_mean
    FROM daily a
    JOIN daily l ON l.t = a.t - 1
    JOIN daily r ON r.t = a.t + 1
    CROSS JOIN m
    WHERE a.rev_c > l.rev_c AND a.rev_c > r.rev_c
      AND 100 * CAST(a.rev_c AS HUGEINT) * m.n > {_PEAK_PCT} * m.tot
    ORDER BY a.day
    """,
)
def q_peak_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue peak days: strict local maxima of the daily series
    (above BOTH calendar neighbors) that also clear a prominence
    floor of {_PEAK_PCT}% of the all-days mean — the spike-detection
    readout behind promo post-mortems, without flagging every minor
    wiggle.

    Neighbor comparison is a day-keyed self-join on t±1 (the
    windowless idiom of this module — on a gappy calendar a missing
    neighbor correctly disqualifies the day, where lag() would
    silently compare across the gap); the prominence test is exact
    integer arithmetic (100·rev·n > pct·total — no float mean), and
    pct_of_mean is integer-DIV'd for the output.

    Scale: one partial-agg'd shuffle to the calendar-bounded daily
    series; two broadcast-able self-joins; one scalar broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = materialize(
        orders.groupBy(
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')"
            ).alias("t"),
            F.expr("CAST(o_orderdate AS DATE)").alias("day"),
        )
        .agg(F.expr(f"CAST(SUM({_CENTS}) AS BIGINT)").alias("rev_c"))
    )
    m = daily.agg(
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("tot"),
        F.count("*").cast("long").alias("n"),
    )
    left = daily.select((F.col("t") + 1).alias("t"), F.col("rev_c").alias("lrev"))
    right = daily.select((F.col("t") - 1).alias("t"), F.col("rev_c").alias("rrev"))
    return (
        daily.join(F.broadcast(left), "t")
        .join(F.broadcast(right), "t")
        .crossJoin(F.broadcast(m))
        .filter(
            (F.col("rev_c") > F.col("lrev"))
            & (F.col("rev_c") > F.col("rrev"))
            & F.expr(
                f"100 * CAST(rev_c AS DECIMAL(38,0)) * n > {_PEAK_PCT} * tot"
            )
        )
        .selectExpr(
            "day",
            "rev_c",
            "CAST(100 * CAST(rev_c AS DECIMAL(38,0)) * n DIV tot AS BIGINT)"
            " AS pct_of_mean",
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q_granger — lag-1 Granger causality: do purchases predict errors?
# ---------------------------------------------------------------------------

#: Centered moments from the exact integer sums (one shared text; the
#: hourly counts are exact, so every input to the doubles is exact).
_GR_A11 = "(CAST(sll AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(n AS DOUBLE))"
_GR_A12 = "(CAST(slx AS DOUBLE) - CAST(sl AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_GR_A22 = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_GR_B1 = "(CAST(syl AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sl AS DOUBLE) / CAST(n AS DOUBLE))"
_GR_B2 = "(CAST(syx AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
_GR_CYY = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
_GR_DET = f"({_GR_A11} * {_GR_A22} - {_GR_A12} * {_GR_A12})"
_GR_BYL = f"(({_GR_B1} * {_GR_A22} - {_GR_B2} * {_GR_A12}) / NULLIF({_GR_DET}, 0.0))"
_GR_BXL = f"(({_GR_A11} * {_GR_B2} - {_GR_A12} * {_GR_B1}) / NULLIF({_GR_DET}, 0.0))"
_GR_SSEU = f"({_GR_CYY} - {_GR_BYL} * {_GR_B1} - {_GR_BXL} * {_GR_B2})"
_GR_SSER = f"({_GR_CYY} - {_GR_B1} * {_GR_B1} / NULLIF({_GR_A11}, 0.0))"

_GR_FINAL = (
    "CAST(n AS BIGINT) AS n_hour_pairs",
    f"round({_GR_BXL}, 6) + 0.0 AS granger_coef",
    f"round(({_GR_SSER} - {_GR_SSEU}) * (CAST(n AS DOUBLE) - 3.0)"
    f" / NULLIF({_GR_SSEU}, 0.0), 6) + 0.0 AS f_stat",
    f"round(1.0 - {_GR_SSEU} / NULLIF({_GR_CYY}, 0.0), 6) + 0.0"
    " AS r2_unrestricted",
)


@query(
    "q_granger",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT b.y AS y, a.y AS yl, a.x AS xl
        FROM hourly a JOIN hourly b ON b.hr = a.hr + INTERVAL 1 HOUR
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               SUM(yl) AS sl, SUM(xl) AS sx, SUM(y) AS sy,
               SUM(CAST(yl AS HUGEINT) * yl) AS sll,
               SUM(CAST(xl AS HUGEINT) * xl) AS sxx,
               SUM(CAST(yl AS HUGEINT) * xl) AS slx,
               SUM(CAST(y AS HUGEINT) * yl) AS syl,
               SUM(CAST(y AS HUGEINT) * xl) AS syx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM lagged
    )
    SELECT {", ".join(_GR_FINAL)} FROM s
    """,
)
def q_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 Granger causality test on the hourly grid: does last
    hour's purchase volume predict this hour's error count beyond
    what last hour's errors already predict? F compares the
    restricted AR(1) against the model with the lagged exogenous
    regressor (both closed-form via centered 2×2 normal equations);
    granger_coef is the exogenous coefficient — the ops-analytics
    staple for "is load driving failures".

    Consecutive-hour pairs come from a calendar-keyed self equi-join
    (hr = hr+1h) over the HOURLY AGGREGATE (calendar-bounded, ~720
    rows/month); hours with no events at all drop out of both
    engines' grids identically (observed-hours convention, as in
    q_burstiness). All ten moment sums are exact integers; every
    double flows through one shared Cramer's-rule text.

    Scale: one events-scale hash aggregate to the hourly grid;
    everything after is calendar-bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(F.date_trunc("hour", "ts").alias("hr"), "event_type")
        .groupBy("hr")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    a = hourly.selectExpr("hr", "y AS yl", "x AS xl")
    b = hourly.selectExpr(
        "hr - interval 1 hour AS hr_prev", "y"
    )
    lagged = a.join(b, a.hr == b.hr_prev).select("y", "yl", "xl")
    d = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    s = lagged.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("yl").alias("sl"),
        F.sum("xl").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(d("yl") * F.col("yl")).alias("sll"),
        F.sum(d("xl") * F.col("xl")).alias("sxx"),
        F.sum(d("yl") * F.col("xl")).alias("slx"),
        F.sum(d("y") * F.col("yl")).alias("syl"),
        F.sum(d("y") * F.col("xl")).alias("syx"),
        F.sum(d("y") * F.col("y")).alias("syy"),
    )
    return s.selectExpr(*_GR_FINAL)


# ---------------------------------------------------------------------------
# q_crosscorr — lagged cross-correlation (purchases ↔ errors)
# ---------------------------------------------------------------------------

_CC_MAXLAG = 3

_CC_CORR = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / NULLIF(sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 0.0), 6) + 0.0"
)

_CC_FINAL = (
    "CAST(lag AS BIGINT) AS lag_hours",
    "CAST(n AS BIGINT) AS n_pairs",
    f"{_CC_CORR} AS ccf",
)


@query(
    "q_crosscorr",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(-{_CC_MAXLAG}, {_CC_MAXLAG + 1})) AS lag),
    pairs AS (
        SELECT l.lag, a.x, b.y
        FROM lags l
        JOIN hourly a ON 1 = 1
        JOIN hourly b ON b.hr = a.hr + l.lag * INTERVAL 1 HOUR
    ),
    s AS (
        SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS HUGEINT) * y) AS sxy,
               SUM(CAST(x AS HUGEINT) * x) AS sxx,
               SUM(CAST(y AS HUGEINT) * y) AS syy
        FROM pairs GROUP BY lag
    )
    SELECT {", ".join(_CC_FINAL)} FROM s ORDER BY lag_hours
    """,
)
def q_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between hourly purchase and error
    volumes at lags −3..+3 hours — the lead/lag diagnostic that
    q_granger's single-lag F-test summarizes (a peak at positive lag
    means purchases LEAD errors; the full CCF shows the response
    shape). Complements q_acf (self) with the cross-series view.

    Each lag's Pearson runs on exact integer moment sums of
    calendar-joined hour pairs (hr = hr + k·1h over the observed-hours
    grid, the q_granger convention); the 7-lag fan-out is a broadcast
    literal join over the bounded hourly aggregate.

    Scale: one events-scale hash aggregate to the hourly grid;
    everything after is calendar × 7 bounded.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = materialize(
        ev.select(F.date_trunc("hour", "ts").alias("hr"), "event_type")
        .groupBy("hr")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    lags = spark.range(-_CC_MAXLAG, _CC_MAXLAG + 1).selectExpr(
        "CAST(id AS INT) AS lag"
    )
    a = hourly.selectExpr("hr", "x")
    b = hourly.selectExpr("hr AS hrb", "y")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("hrb")
            == F.col("hr") + F.col("lag") * F.expr("interval 1 hour"),
        )
        .select("lag", "x", "y")
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("y")).alias("sxy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
    )
    return s.selectExpr(*_CC_FINAL).orderBy("lag_hours")


# ---------------------------------------------------------------------------
# q_seasonal_strength — variance explained by hour-of-day seasonality
# ---------------------------------------------------------------------------

#: Strength = 1 − SSW/SST over hour-of-day groups of the hourly count
#: series (the eta-squared of "hour of day" as a factor) — Hyndman's
#: seasonal-strength readout specialized to the observed grid.
_SS_SST = (
    "(CAST(qq AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
)
_SS_SSB = (
    "(CAST(bt AS DOUBLE) - CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)"
    " / CAST(n AS DOUBLE))"
)
_SS_FINAL = (
    "CAST(n AS BIGINT) AS n_hours",
    f"round({_SS_SSB} / NULLIF({_SS_SST}, 0.0), 6) + 0.0"
    " AS seasonal_strength",
    # Guard n > 24: below that the n-24 dof is non-positive and DuckDB
    # raises on sqrt(negative) where Spark would return NaN — the one
    # place the engines would diverge instead of agreeing.
    f"CASE WHEN n > 24 THEN"
    f" round(sqrt(greatest(({_SS_SST} - {_SS_SSB}), 0.0)"
    " / (CAST(n AS DOUBLE) - 24.0)), 4) + 0.0"
    " ELSE NULL END AS residual_sd",
)

#: Per-hour-of-day between-groups term, rounded before the 24-row sum
#: (the q_anova_oneway discipline).
_SS_TERM = (
    "CAST(round(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)"
    " / CAST(n_g AS DOUBLE)) AS BIGINT)"
)


@query(
    "q_seasonal_strength",
    oracle=f"""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM events GROUP BY 1
    ),
    grouped AS (
        SELECT CAST(EXTRACT(hour FROM hr) AS BIGINT) AS hod,
               CAST(COUNT(*) AS BIGINT) AS n_g,
               SUM(c) AS s_g, SUM(CAST(c AS HUGEINT) * c) AS q_g
        FROM hourly GROUP BY 1
    ),
    s AS (
        SELECT SUM(n_g) AS n, SUM(s_g) AS ss, SUM(q_g) AS qq,
               SUM({_SS_TERM}) AS bt
        FROM grouped
    )
    SELECT {", ".join(_SS_FINAL)} FROM s
    """,
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal strength of event volume: the fraction of
    hourly-count variance the 24-hour cycle explains (η² of
    hour-of-day as a factor — ~0 means no diurnal pattern, →1 means
    the clock IS the forecast), plus the residual standard deviation
    a forecaster would carry after deseasonalizing. The one-number
    companion to q_seasonality's per-slot index table.

    Determinism: hourly counts and group moments are exact integers;
    the one cross-group float term is rounded before the 24-row sum
    (q_anova_oneway discipline); readouts are one shared text.

    Scale: events → calendar-bounded hourly grid → 24-row hour-of-day
    rollup → one row.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(F.date_trunc("hour", "ts").alias("hr"))
        .groupBy("hr")
        .agg(F.count("*").cast("long").alias("c"))
    )
    grouped = (
        hourly.selectExpr("CAST(hour(hr) AS BIGINT) AS hod", "c")
        .groupBy("hod")
        .agg(
            F.count("*").cast("long").alias("n_g"),
            F.sum("c").cast("decimal(38,0)").alias("s_g"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
                "q_g"
            ),
        )
    )
    s = grouped.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").alias("ss"),
        F.sum("q_g").alias("qq"),
        F.sum(F.expr(_SS_TERM)).alias("bt"),
    )
    return s.selectExpr(*_SS_FINAL)


# ---------------------------------------------------------------------------
# q_forecast_backtest — rolling-origin seasonal-naive backtesting
# ---------------------------------------------------------------------------

#: Number of rolling origins; each scores the 7 days after its cutoff
#: with the day-minus-7 seasonal-naive forecast (every forecast input
#: is <= the cutoff, so each window is a valid out-of-sample test).
_FB_ORIGINS = 4

_FB_FINAL = (
    "cutoff",
    "CAST(n_days AS BIGINT) AS n_days",
    "round(CAST(sum_ape_micro AS DOUBLE) / CAST(n_days AS DOUBLE)"
    " / 10000.0, 6) AS mape_pct",
    "round(CAST(sum_err_c AS DOUBLE) / CAST(sum_actual_c AS DOUBLE)"
    " * 100.0, 6) + 0.0 AS bias_pct",
)


@query(
    "q_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(day) AS max_day FROM daily),
    grid AS (SELECT unnest(range(1, {_FB_ORIGINS} + 1)) AS i),
    cutoffs AS (
        SELECT CAST(max_day - INTERVAL (7 * i) DAY AS DATE) AS cutoff
        FROM mx CROSS JOIN grid
    ),
    scored AS (
        SELECT c.cutoff,
               a.rev_c AS actual_c,
               f.rev_c AS forecast_c,
               CAST(round(abs(CAST(a.rev_c - f.rev_c AS DOUBLE))
                    / CAST(a.rev_c AS DOUBLE) * 1000000) AS BIGINT)
                   AS ape_micro
        FROM cutoffs c
        JOIN daily a ON a.day > c.cutoff
              AND a.day <= CAST(c.cutoff + INTERVAL 7 DAY AS DATE)
        JOIN daily f ON f.day = a.day - INTERVAL 7 DAY
    ),
    s AS (
        SELECT cutoff,
               CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(ape_micro) AS BIGINT) AS sum_ape_micro,
               CAST(SUM(forecast_c - actual_c) AS BIGINT) AS sum_err_c,
               CAST(SUM(actual_c) AS BIGINT) AS sum_actual_c
        FROM scored GROUP BY cutoff
    )
    SELECT {", ".join(_FB_FINAL)} FROM s ORDER BY cutoff
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster
    (q_forecast_eval's model, validated the way a forecasting team
    actually validates): four cutoffs stepping back a week at a time;
    each scores ONLY the 7 days after its cutoff, and every forecast
    input (day minus 7) is on or before the cutoff, so each window is
    genuinely out-of-sample. Per-cutoff MAPE and signed bias reveal
    error drift across origins — the stability signal a single
    train/test split hides.

    Exactness: integer-cent revenue, micro-rounded per-day APEs,
    shared closed-form headline texts (the q_forecast_eval
    discipline); the cutoff grid is derived from MAX(day), so both
    engines see identical windows.

    Scale: one orders aggregate to days; the scoring join multiplies
    the tiny daily relation by the bounded origin grid; output is
    |origins| rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("rev_c")
    )
    mx = daily.agg(F.max("day").alias("max_day"))
    grid = spark.range(1, _FB_ORIGINS + 1).select(
        F.col("id").cast("int").alias("i")
    )
    cutoffs = (
        mx.crossJoin(F.broadcast(grid))
        .select(F.date_sub(F.col("max_day"), 7 * F.col("i")).alias("cutoff"))
    )
    a = daily.select(F.col("day").alias("a_day"), F.col("rev_c").alias("actual_c"))
    f_ = daily.select(F.col("day").alias("f_day"), F.col("rev_c").alias("forecast_c"))
    scored = (
        F.broadcast(cutoffs)
        .join(
            a,
            (F.col("a_day") > F.col("cutoff"))
            & (F.col("a_day") <= F.date_add(F.col("cutoff"), 7)),
        )
        .join(f_, F.col("f_day") == F.date_sub(F.col("a_day"), 7))
        .select(
            "cutoff",
            "actual_c",
            "forecast_c",
            F.expr(
                "CAST(round(abs(CAST(actual_c - forecast_c AS DOUBLE))"
                " / CAST(actual_c AS DOUBLE) * 1000000) AS BIGINT)"
            ).alias("ape_micro"),
        )
    )
    s = scored.groupBy("cutoff").agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("ape_micro").cast("long").alias("sum_ape_micro"),
        F.sum(F.col("forecast_c") - F.col("actual_c"))
        .cast("long")
        .alias("sum_err_c"),
        F.sum("actual_c").cast("long").alias("sum_actual_c"),
    )
    return s.selectExpr(*_FB_FINAL).orderBy("cutoff")


# ---------------------------------------------------------------------------
# q_cusum — two-sided CUSUM control chart over daily revenue
# ---------------------------------------------------------------------------

#: In-control baseline: the first 365 days of the series (derived
#: from MIN(day) — the fixture's date range varies by SF).
_CS_BASE_DAYS = 365

#: Allowance K = sigma/2 and decision interval H = 5*sigma (the
#: textbook tabular-CUSUM tuning, Montgomery SPC), both floored to
#: integer cents from the baseline sigma.
_CS_K_DIV = 2
_CS_H_MULT = 5

_CS_FINAL = (
    "CAST(n_days AS BIGINT) AS n_days",
    "CAST(n_base AS BIGINT) AS n_base",
    "round(CAST(mu0_c AS DOUBLE) / 100, 2) AS mu0_dollars",
    "round(CAST(sigma_c AS DOUBLE) / 100, 2) AS sigma_dollars",
    "CAST(n_alarm_hi AS BIGINT) AS n_alarm_hi",
    "CAST(n_alarm_lo AS BIGINT) AS n_alarm_lo",
    "CAST(first_alarm_hi AS DATE) AS first_alarm_hi",
    "CAST(first_alarm_lo AS DATE) AS first_alarm_lo",
    "round(CAST(max_s_hi AS DOUBLE) / 100, 2) AS max_s_hi_dollars",
    "round(CAST(max_s_lo AS DOUBLE) / 100, 2) AS max_s_lo_dollars",
)


@query(
    "q_cusum",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM({_CENTS}) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    mnd AS (SELECT MIN(day) AS min_day FROM daily),
    base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_base,
               CAST(SUM(x) // COUNT(*) AS BIGINT) AS mu0_c,
               CAST(FLOOR(sqrt(
                   (CAST(COUNT(*) AS DOUBLE) * SUM(CAST(x AS HUGEINT) * x)
                    - CAST(SUM(x) AS DOUBLE) * SUM(x))
                   / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1))
               )) AS BIGINT) AS sigma_c
        FROM daily, mnd
        WHERE day < CAST(min_day + INTERVAL {_CS_BASE_DAYS} DAY AS DATE)
    ),
    par AS (
        SELECT n_base, mu0_c, sigma_c,
               sigma_c // {_CS_K_DIV} AS k_c,
               sigma_c * {_CS_H_MULT} AS h_c
        FROM base
    ),
    pre AS (
        SELECT d.day, p.*,
               SUM(d.x - p.mu0_c - p.k_c)
                   OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS pu,
               SUM(p.mu0_c - p.k_c - d.x)
                   OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS pl
        FROM daily d CROSS JOIN par p
    ),
    s AS (
        SELECT *,
               pu - LEAST(CAST(0 AS BIGINT),
                          MIN(pu) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
                   AS s_hi,
               pl - LEAST(CAST(0 AS BIGINT),
                          MIN(pl) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING))
                   AS s_lo
        FROM pre
    )
    SELECT {", ".join(_CS_FINAL)} FROM (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               MAX(n_base) AS n_base, MAX(mu0_c) AS mu0_c,
               MAX(sigma_c) AS sigma_c,
               CAST(COUNT(*) FILTER (WHERE s_hi > h_c) AS BIGINT) AS n_alarm_hi,
               CAST(COUNT(*) FILTER (WHERE s_lo > h_c) AS BIGINT) AS n_alarm_lo,
               MIN(day) FILTER (WHERE s_hi > h_c) AS first_alarm_hi,
               MIN(day) FILTER (WHERE s_lo > h_c) AS first_alarm_lo,
               MAX(s_hi) AS max_s_hi, MAX(s_lo) AS max_s_lo
        FROM s
    )
    """,
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM control chart (Page 1954; Montgomery's
    SPC tuning K = sigma/2, H = 5*sigma) over daily revenue, with the
    first calendar year as the in-control baseline: S+_t = max(0,
    S+_(t-1) + x_t - mu0 - K) and the symmetric S-, the ONLINE
    monitoring statistic next to the retrospective q_changepoint.

    The distributed form: the sequential max(0, ...) recurrence
    rewrites exactly as S_t = P_t - min(0, min_(tau<=t) P_tau) where
    P is the running sum of the drift-adjusted deltas — two prefix
    passes (``global_running_sum`` + the new ``global_running_min``,
    both two-phase scans), no sequential state, no single-task window.

    Exactness: deltas and prefix sums are exact integer cents; mu0 is
    an exact floor division and sigma/K/H are floored to integer cents
    from one shared double sqrt, so every comparison (alarm test, max)
    is integer arithmetic.

    Scale: one orders aggregate to calendar days; both prefix passes
    run on the bounded daily relation with driver traffic of one
    scalar per partition.
    """
    from ..functions.prefix import global_running_min, global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.expr(_CENTS)).cast("long").alias("x")
    )
    mnd = daily.agg(F.min("day").alias("min_day"))
    base = daily.crossJoin(F.broadcast(mnd)).filter(
        F.col("day") < F.date_add(F.col("min_day"), _CS_BASE_DAYS)
    ).agg(
        F.count("*").cast("long").alias("n_base"),
        F.expr("CAST(SUM(x) DIV COUNT(*) AS BIGINT)").alias("mu0_c"),
        F.expr(
            "CAST(FLOOR(sqrt("
            "(CAST(COUNT(*) AS DOUBLE) * SUM(CAST(x AS DECIMAL(38,0)) * x)"
            " - CAST(SUM(x) AS DOUBLE) * SUM(x))"
            " / (CAST(COUNT(*) AS DOUBLE) * (COUNT(*) - 1))"
            ")) AS BIGINT)"
        ).alias("sigma_c"),
    )
    par = base.selectExpr(
        "n_base",
        "mu0_c",
        "sigma_c",
        f"sigma_c DIV {_CS_K_DIV} AS k_c",
        f"sigma_c * {_CS_H_MULT} AS h_c",
    )
    pre = daily.crossJoin(F.broadcast(par)).select(
        "day",
        "n_base",
        "mu0_c",
        "sigma_c",
        "h_c",
        (F.col("x") - F.col("mu0_c") - F.col("k_c")).alias("du"),
        (F.col("mu0_c") - F.col("k_c") - F.col("x")).alias("dl"),
    )
    pre = global_running_sum(pre, "day", "du", out_col="pu")
    pre = global_running_sum(pre, "day", "dl", out_col="pl")
    pre = global_running_min(pre, "day", "pu", out_col="pu_min")
    pre = global_running_min(pre, "day", "pl", out_col="pl_min")
    s = pre.selectExpr(
        "day",
        "n_base",
        "mu0_c",
        "sigma_c",
        "h_c",
        "pu - LEAST(CAST(0 AS BIGINT), pu_min) AS s_hi",
        "pl - LEAST(CAST(0 AS BIGINT), pl_min) AS s_lo",
    )
    agg = s.agg(
        F.count("*").cast("long").alias("n_days"),
        F.max("n_base").alias("n_base"),
        F.max("mu0_c").alias("mu0_c"),
        F.max("sigma_c").alias("sigma_c"),
        F.sum(F.when(F.col("s_hi") > F.col("h_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_alarm_hi"),
        F.sum(F.when(F.col("s_lo") > F.col("h_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_alarm_lo"),
        F.min(F.when(F.col("s_hi") > F.col("h_c"), F.col("day"))).alias(
            "first_alarm_hi"
        ),
        F.min(F.when(F.col("s_lo") > F.col("h_c"), F.col("day"))).alias(
            "first_alarm_lo"
        ),
        F.max("s_hi").alias("max_s_hi"),
        F.max("s_lo").alias("max_s_lo"),
    )
    return agg.selectExpr(*_CS_FINAL)


# ---------------------------------------------------------------------------
# q_price_index — Laspeyres / Paasche / Fisher monthly price indices
# ---------------------------------------------------------------------------

#: Base period: the first 365 days of shipments (derived from
#: MIN(l_shipdate) — the fixture's date range varies by SF).
_PI_BASE_DAYS = 365

_PI_FINAL = (
    "CAST(m AS BIGINT) AS month_idx",
    "CAST(n_parts AS BIGINT) AS n_parts",
    "round(CAST(l_num AS DOUBLE) / l_den, 6) AS laspeyres",
    "round(CAST(p_num AS DOUBLE) / p_den, 6) AS paasche",
    "round(sqrt((CAST(l_num AS DOUBLE) / l_den)"
    " * (CAST(p_num AS DOUBLE) / p_den)), 6) AS fisher",
)

_PI_EXT_C = "CAST(round(l_extendedprice * 100) AS BIGINT)"
_PI_QTY = "CAST(round(l_quantity) AS BIGINT)"


@query(
    "q_price_index",
    oracle=f"""
    WITH mnd AS (
        SELECT MIN(CAST(l_shipdate AS DATE)) AS min_day FROM lineitem
    ),
    base AS (
        SELECT l_partkey AS part,
               CAST(SUM({_PI_QTY}) AS BIGINT) AS qb,
               CAST(SUM({_PI_EXT_C}) // SUM({_PI_QTY}) AS BIGINT) AS ub
        FROM lineitem, mnd
        WHERE CAST(l_shipdate AS DATE)
              < CAST(min_day + INTERVAL {_PI_BASE_DAYS} DAY AS DATE)
        GROUP BY 1
    ),
    cur AS (
        SELECT (year(CAST(l_shipdate AS DATE)) - 1992) * 12
               + month(CAST(l_shipdate AS DATE)) - 1 AS m,
               l_partkey AS part,
               CAST(SUM({_PI_QTY}) AS BIGINT) AS qt,
               CAST(SUM({_PI_EXT_C}) // SUM({_PI_QTY}) AS BIGINT) AS ut
        FROM lineitem GROUP BY 1, 2
    ),
    matched AS (
        SELECT c.m, c.part, b.qb, b.ub, c.qt, c.ut
        FROM cur c JOIN base b ON b.part = c.part
    ),
    idx AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS n_parts,
               SUM(CAST(qb AS HUGEINT) * ut) AS l_num,
               SUM(CAST(qb AS HUGEINT) * ub) AS l_den,
               SUM(CAST(qt AS HUGEINT) * ut) AS p_num,
               SUM(CAST(qt AS HUGEINT) * ub) AS p_den
        FROM matched GROUP BY m
    )
    SELECT {", ".join(_PI_FINAL)} FROM idx ORDER BY m
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly Laspeyres, Paasche, and Fisher price indices over the
    part catalog (the CPI construction, Fisher 1922): base-period
    (first 365 shipment days) quantities and unit prices per part; each month's index
    compares that month's unit prices against base prices, weighted
    by base-year quantities (Laspeyres), current-month quantities
    (Paasche), and their geometric mean (Fisher's ideal index). Only
    parts present in BOTH the base year and the month enter that
    month's basket (the matched-sample convention), with the matched
    part count reported.

    Exactness: unit prices are exact integer floor divisions of cent
    sums by quantity sums (all positive); the four index sums are
    exact DECIMAL(38,0)/HUGEINT products; each index is one float
    division (Fisher one sqrt of their product), identical text in
    both engines.

    Scale: two (part[, month])-keyed partial-agg'd passes over
    lineitem; the index join shuffles on part (the base relation is
    part-catalog-scale, co-partitioned); output is calendar-bounded.
    """
    li = load_table(spark, sf_dir, "lineitem")
    mnd = li.agg(F.min(F.col("l_shipdate").cast("date")).alias("min_day"))
    base = (
        li.crossJoin(F.broadcast(mnd))
        .filter(
            F.col("l_shipdate").cast("date")
            < F.date_add(F.col("min_day"), _PI_BASE_DAYS)
        )
        .groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(F.expr(_PI_QTY)).cast("long").alias("sq"),
            F.sum(F.expr(_PI_EXT_C)).cast("long").alias("se"),
        )
        .selectExpr("part", "sq AS qb", "CAST(se DIV sq AS BIGINT) AS ub")
    )
    cur = (
        li.groupBy(
            (
                (F.year(F.col("l_shipdate").cast("date")) - 1992) * 12
                + F.month(F.col("l_shipdate").cast("date"))
                - 1
            ).alias("m"),
            F.col("l_partkey").alias("part"),
        )
        .agg(
            F.sum(F.expr(_PI_QTY)).cast("long").alias("sq"),
            F.sum(F.expr(_PI_EXT_C)).cast("long").alias("se"),
        )
        .selectExpr("m", "part", "sq AS qt", "CAST(se DIV sq AS BIGINT) AS ut")
    )
    matched = cur.join(base, "part")
    idx = matched.groupBy("m").agg(
        F.count("*").cast("long").alias("n_parts"),
        F.sum(F.expr("CAST(qb AS DECIMAL(38,0)) * ut")).alias("l_num"),
        F.sum(F.expr("CAST(qb AS DECIMAL(38,0)) * ub")).alias("l_den"),
        F.sum(F.expr("CAST(qt AS DECIMAL(38,0)) * ut")).alias("p_num"),
        F.sum(F.expr("CAST(qt AS DECIMAL(38,0)) * ub")).alias("p_den"),
    )
    return idx.selectExpr(*_PI_FINAL).orderBy("month_idx")
