"""Statistical / ML-adjacent analytics over the star schema.

The reference engine's additive surface stops at relational operators;
a training-data platform also needs the statistics that gate and audit
a corpus: feature correlation, independence tests, regression fits,
forecast accuracy, frozen-model scoring, experiment analysis. Each
query here follows the house cross-engine-exact pattern:

- all aggregation happens on exact integers (scaled cents / counts)
  summed as DECIMAL(38,0) Spark-side and HUGEINT DuckDB-side;
- every floating-point formula is a SINGLE shared SQL text evaluated
  by both engines over those exact sums (identical IEEE expression
  tree -> identical doubles), rounded before output;
- per-group float terms are rounded to fixed-point micro-units and
  summed as integers, never summed as doubles (distributed double
  summation order is nondeterministic).

Scale: every query is one or two fact-table aggregates whose output is
feature-pair / cell / single-row sized — the reduce side is tiny at any
SF, and the shared formulas run on that tiny relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import materialize, one_row
from ..sources.tables import load_table
from .registry import query

# ---------------------------------------------------------------------------
# q_feature_corr — Pearson correlation matrix from exact sums
# ---------------------------------------------------------------------------

#: Feature name -> exact-integer SQL expression (shared text; Spark and
#: DuckDB both truncate on CAST(double AS BIGINT) and round half away
#: from zero on positive round()).
_CORR_FEATS = {
    "disc_c": "cast(round(l_discount * 100) as bigint)",
    "price_c": "cast(round(l_extendedprice * 100) as bigint)",
    "qty": "cast(l_quantity as bigint)",
    "tax_c": "cast(round(l_tax * 100) as bigint)",
}

_CORR_PAIRS = [
    ("disc_c", "price_c"),
    ("disc_c", "qty"),
    ("disc_c", "tax_c"),
    ("price_c", "qty"),
    ("price_c", "tax_c"),
    ("qty", "tax_c"),
]


def _corr_formula(a: str, b: str) -> str:
    """Shared corr text over the exact-sum columns (all already DOUBLE).
    NULLIF guards the degenerate constant-feature case (both engines
    yield NULL instead of Spark-NaN-vs-DuckDB-inf); + 0.0 normalizes
    negative zero, which the engines FORMAT differently ('0' vs '-0')
    when a correlation rounds to -0.000000."""
    return (
        f"round((n * s_{a}_{b} - s_{a} * s_{b}) / "
        f"NULLIF(sqrt((n * s_{a}_{a} - s_{a} * s_{a}) * "
        f"(n * s_{b}_{b} - s_{b} * s_{b})), 0.0), 6) + 0.0"
    )


def _corr_oracle() -> str:
    feats = ", ".join(f"{e} AS {k}" for k, e in _CORR_FEATS.items())
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for a in _CORR_FEATS:
        sums.append(f"CAST(SUM({a}) AS DOUBLE) AS s_{a}")
        sums.append(f"CAST(SUM({a} * {a}) AS DOUBLE) AS s_{a}_{a}")
    for a, b in _CORR_PAIRS:
        sums.append(f"CAST(SUM({a} * {b}) AS DOUBLE) AS s_{a}_{b}")
    rows = "\n    UNION ALL ".join(
        f"SELECT '{a}' AS feat_a, '{b}' AS feat_b, "
        f"{_corr_formula(a, b)} AS corr FROM s"
        for a, b in _CORR_PAIRS
    )
    return f"""
    WITH b AS (SELECT {feats} FROM lineitem),
    s AS (SELECT {", ".join(sums)} FROM b)
    SELECT * FROM ({rows}) ORDER BY feat_a, feat_b
    """


@query("q_feature_corr", oracle=_corr_oracle())
def q_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric features.

    One fact-table pass computes N plus the 4 sums, 4 sums-of-squares
    and 6 cross-sums as exact integers (per-row products stay under
    2^63; the running sums are DECIMAL(38,0) / HUGEINT so nothing
    overflows at any SF); corr is then a shared closed-form expression
    over those sums, so both engines evaluate the identical IEEE
    expression tree. Never calls the engines' native corr(), whose
    distributed double accumulation is order-dependent.

    Scale: a single partial-aggregable scan; the matrix math runs on
    one row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        *[F.expr(e).alias(k) for k, e in _CORR_FEATS.items()]
    )
    aggs = [F.count("*").cast("double").alias("n")]
    for a in _CORR_FEATS:
        aggs.append(
            F.sum(F.col(a).cast("decimal(38,0)")).cast("double").alias(f"s_{a}")
        )
        aggs.append(
            F.sum((F.col(a) * F.col(a)).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s_{a}_{a}")
        )
    for a, b in _CORR_PAIRS:
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s_{a}_{b}")
        )
    sums = base.agg(*aggs)
    pair_structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("feat_a"),
                F.lit(b).alias("feat_b"),
                F.expr(_corr_formula(a, b)).alias("corr"),
            )
            for a, b in _CORR_PAIRS
        ]
    )
    return (
        sums.select(F.explode(pair_structs).alias("p"))
        .select("p.feat_a", "p.feat_b", "p.corr")
        .orderBy("feat_a", "feat_b")
    )


# ---------------------------------------------------------------------------
# q_chi_square — lang x source independence test
# ---------------------------------------------------------------------------

#: Per-cell chi-square term in micro-units. `ev` (expected count) is
#: spelled out so both engines build the same expression tree; the
#: micro-rounding makes the subsequent SUM an exact integer reduce.
_CHI_TERM = (
    "cast(round((cast(o as double) - cast(rt as double) * cast(ct as double)"
    " / cast(g as double)) * (cast(o as double) - cast(rt as double) *"
    " cast(ct as double) / cast(g as double)) / (cast(rt as double) *"
    " cast(ct as double) / cast(g as double)) * 1000000) as bigint)"
)

_CHI_FINAL = (
    "round(cast(chi2_micro as double) / 1000000.0, 6) as chi2",
    "cast((n_langs - 1) * (n_sources - 1) as bigint) as dof",
    "round(sqrt((cast(chi2_micro as double) / 1000000.0) / "
    "(cast(g as double) * cast(least(n_langs - 1, n_sources - 1) as double))"
    "), 6) as cramers_v",
)


@query(
    "q_chi_square",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS o
        FROM documents GROUP BY lang, source
    ),
    rtot AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS rt FROM cells GROUP BY lang),
    ctot AS (SELECT source, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY source),
    gtot AS (SELECT CAST(SUM(o) AS BIGINT) AS g FROM cells),
    -- Full r x c grid: a cell with NO observed documents still
    -- contributes its expected count to chi-square (textbook
    -- convention; caught by test_chi_square_matches_brute_force).
    grid AS (
        SELECT rtot.lang, ctot.source, rtot.rt, ctot.ct,
               COALESCE(cells.o, 0) AS o
        FROM rtot CROSS JOIN ctot
        LEFT JOIN cells USING (lang, source)
    ),
    terms AS (
        SELECT {_CHI_TERM} AS term_micro
        FROM grid CROSS JOIN gtot
    ),
    sums AS (
        SELECT CAST(SUM(term_micro) AS BIGINT) AS chi2_micro,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM rtot) AS n_langs,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM ctot) AS n_sources,
               (SELECT g FROM gtot) AS g
        FROM terms
    )
    SELECT {", ".join(_CHI_FINAL)} FROM sums
    """,
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between document language and
    source (is the corpus's language mix uniform across sources?),
    plus Cramer's V effect size.

    Observed / expected counts are exact integers; each cell's term is
    rounded to micro-units BEFORE the sum so the reduce is integer-
    exact, then chi2 / V come from one shared closed-form text.

    Scale: one documents aggregate to lang x source cells (tiny), two
    broadcast margin joins, one-row output.
    """
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count("*").cast("long").alias("o")
    )
    rtot = cells.groupBy("lang").agg(F.sum("o").cast("long").alias("rt"))
    ctot = cells.groupBy("source").agg(F.sum("o").cast("long").alias("ct"))
    gtot = cells.agg(F.sum("o").cast("long").alias("g"))
    # Full r x c grid: zero-observed cells still contribute their
    # expected count (textbook convention; see the oracle note).
    grid = (
        rtot.crossJoin(F.broadcast(ctot))
        .join(cells, ["lang", "source"], "left")
        .select("lang", "source", "rt", "ct", F.coalesce("o", F.lit(0)).alias("o"))
    )
    terms = grid.crossJoin(F.broadcast(gtot)).select(
        F.expr(_CHI_TERM).alias("term_micro"),
        "g",
    )
    sums = terms.agg(
        F.sum("term_micro").cast("long").alias("chi2_micro"),
        F.max("g").alias("g"),
    ).crossJoin(
        F.broadcast(
            cells.agg(
                F.countDistinct("lang").cast("long").alias("n_langs"),
                F.countDistinct("source").cast("long").alias("n_sources"),
            )
        )
    )
    return sums.selectExpr(*_CHI_FINAL)


# ---------------------------------------------------------------------------
# q_ols_regression — closed-form 2-feature least squares (Cramer's rule)
# ---------------------------------------------------------------------------


def _det3(r1: tuple[str, str, str], r2: tuple[str, str, str], r3: tuple[str, str, str]) -> str:
    """Shared 3x3 determinant text (cofactor expansion, fixed order)."""
    a, b, c = r1
    d, e, f_ = r2
    g, h, i = r3
    return (
        f"({a} * ({e} * {i} - {f_} * {h}) - {b} * ({d} * {i} - {f_} * {g})"
        f" + {c} * ({d} * {h} - {e} * {g}))"
    )


# Normal-equation matrix for y ~ b0 + b1*x1 + b2*x2 over exact sums.
_M = (("n", "sx1", "sx2"), ("sx1", "sx11", "sx12"), ("sx2", "sx12", "sx22"))
_RHS = ("sy", "sx1y", "sx2y")
_DET = _det3(*_M)
_DET_B0 = _det3((_RHS[0], "sx1", "sx2"), (_RHS[1], "sx11", "sx12"), (_RHS[2], "sx12", "sx22"))
_DET_B1 = _det3(("n", _RHS[0], "sx2"), ("sx1", _RHS[1], "sx12"), ("sx2", _RHS[2], "sx22"))
_DET_B2 = _det3(("n", "sx1", _RHS[0]), ("sx1", "sx11", _RHS[1]), ("sx2", "sx12", _RHS[2]))

#: Unrounded coefficients (shared sub-expressions, inlined verbatim so
#: both engines see one expression tree).
_B0 = f"({_DET_B0} / {_DET})"
_B1 = f"({_DET_B1} / {_DET})"
_B2 = f"({_DET_B2} / {_DET})"

#: R^2 from sums only: SSE = syy - b0*sy - b1*sx1y - b2*sx2y,
#: SST = syy - sy*sy/n (uses the UNROUNDED coefficients). A constant
#: response (SST = 0) is perfectly fit by its intercept — define R^2
#: as 1 there rather than divide by zero (Spark runs ANSI mode).
_R2 = (
    f"(case when syy - sy * sy / n = 0.0 then 1.0"
    f" else 1.0 - (syy - {_B0} * sy - {_B1} * sx1y - {_B2} * sx2y)"
    f" / (syy - sy * sy / n) end)"
)

_OLS_FINAL = (
    "cast(n as bigint) as n_rows",
    f"round({_B0}, 6) as b0",
    f"round({_B1}, 6) as b1",
    f"round({_B2}, 6) as b2",
    f"round({_R2}, 6) as r2",
)


@query(
    "q_ols_regression",
    oracle=f"""
    WITH b AS (
        SELECT CAST(l_quantity AS BIGINT) AS x1,
               CAST(round(l_discount * 100) AS BIGINT) AS x2,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x1) AS DOUBLE) AS sx1,
               CAST(SUM(x2) AS DOUBLE) AS sx2,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x1 * x1) AS DOUBLE) AS sx11,
               CAST(SUM(x2 * x2) AS DOUBLE) AS sx22,
               CAST(SUM(x1 * x2) AS DOUBLE) AS sx12,
               CAST(SUM(x1 * y) AS DOUBLE) AS sx1y,
               CAST(SUM(x2 * y) AS DOUBLE) AS sx2y,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM b
    )
    SELECT {", ".join(_OLS_FINAL)} FROM s
    """,
)
def q_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form ordinary least squares: fit
    extended-price-cents ~ quantity + discount-cents over lineitem by
    solving the 3x3 normal equations with Cramer's rule.

    The training "loop" is one partial-aggregable scan producing ten
    exact sums; the solve is a shared determinant formula on a single
    row — the distributed-ML shape where the data pass is pure
    aggregation and the model fit costs nothing. R^2 comes from the
    same sums (no second residual pass).

    Scale: one scan, one row out, regardless of SF.
    """
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr("cast(l_quantity as bigint)").alias("x1"),
        F.expr("cast(round(l_discount * 100) as bigint)").alias("x2"),
        F.expr("cast(round(l_extendedprice * 100) as bigint)").alias("y"),
    )

    def dsum(e):  # exact integer sum surfaced as double
        return F.sum(e.cast("decimal(38,0)")).cast("double")

    s = b.agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("x1")).alias("sx1"),
        dsum(F.col("x2")).alias("sx2"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x1") * F.col("x1")).alias("sx11"),
        dsum(F.col("x2") * F.col("x2")).alias("sx22"),
        dsum(F.col("x1") * F.col("x2")).alias("sx12"),
        dsum(F.col("x1") * F.col("y")).alias("sx1y"),
        dsum(F.col("x2") * F.col("y")).alias("sx2y"),
        dsum(F.col("y") * F.col("y")).alias("syy"),
    )
    return s.selectExpr(*_OLS_FINAL)


# ---------------------------------------------------------------------------
# q_forecast_eval — seasonal-naive forecast + MAPE / bias scoring
# ---------------------------------------------------------------------------

_MAPE_FINAL = (
    "cast(n_days as bigint) as n_days",
    "round(cast(sum_ape_micro as double) / cast(n_days as double)"
    " / 10000.0, 6) as mape_pct",
    # + 0.0: a bias rounding to -0.000000 formats as '-0' in DuckDB
    # but '0' in Spark.
    "round(cast(sum_err_c as double) / cast(sum_actual_c as double)"
    " * 100.0, 6) + 0.0 as bias_pct",
)


@query(
    "q_forecast_eval",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    ),
    scored AS (
        SELECT a.day,
               a.rev_c AS actual_c,
               f.rev_c AS forecast_c,
               CAST(round(abs(CAST(a.rev_c - f.rev_c AS DOUBLE))
                    / CAST(a.rev_c AS DOUBLE) * 1000000) AS BIGINT) AS ape_micro
        FROM daily a JOIN daily f ON f.day = a.day - INTERVAL 7 DAY
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(ape_micro) AS BIGINT) AS sum_ape_micro,
               CAST(SUM(forecast_c - actual_c) AS BIGINT) AS sum_err_c,
               CAST(SUM(actual_c) AS BIGINT) AS sum_actual_c
        FROM scored
    )
    SELECT {", ".join(_MAPE_FINAL)} FROM s
    """,
)
def q_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each day's order
    revenue with the value seven days earlier, score with MAPE and
    signed bias — the baseline every demand-forecast model must beat.

    Daily revenue is exact integer cents; each day's absolute
    percentage error is micro-rounded before the integer sum, and the
    two headline metrics are shared closed-form texts. The 7-day lag is
    a self-join on day arithmetic (not lag(7) over row position, which
    would silently mis-forecast across missing days).

    Scale: one orders aggregate to days, a day-keyed self-join of the
    tiny daily relation, one row out.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("rev_c")
    )
    f_ = daily.select(
        F.expr("day + interval 7 day").cast("date").alias("day"),
        F.col("rev_c").alias("forecast_c"),
    )
    scored = (
        daily.withColumnRenamed("rev_c", "actual_c")
        .join(f_, "day")
        .select(
            F.expr(
                "cast(round(abs(cast(actual_c - forecast_c as double))"
                " / cast(actual_c as double) * 1000000) as bigint)"
            ).alias("ape_micro"),
            "actual_c",
            "forecast_c",
        )
    )
    s = scored.agg(
        F.count("*").cast("long").alias("n_days"),
        F.sum("ape_micro").cast("long").alias("sum_ape_micro"),
        F.sum(F.col("forecast_c") - F.col("actual_c"))
        .cast("long")
        .alias("sum_err_c"),
        F.sum("actual_c").cast("long").alias("sum_actual_c"),
    )
    return s.selectExpr(*_MAPE_FINAL)


# ---------------------------------------------------------------------------
# q_quality_classifier — frozen-weight linear document scorer
# ---------------------------------------------------------------------------

_STOPWORDS = "'the','and','of','to','in','is','for','on','with','as'"

#: Integer score per doc: frozen weights x integer features, length-
#: normalized to milli-units. Deterministic end to end — the "model" is
#: a distilled linear classifier shipped as constants, the Spark job is
#: pure inference.
_QC_SCORE = (
    "cast(round((40.0 * n_ws + 25.0 * n_alpha - 30.0 * n_num + 10.0 * n_stop)"
    " * 1000.0 / cast(n_chars as double)) as bigint)"
)


@query(
    "q_quality_classifier",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id, source, n_chars,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS BIGINT) AS n_ws,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
                   AS n_alpha,
               CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT)
                   AS n_num,
               CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> list_contains([{_STOPWORDS}], x)))
                    AS BIGINT) AS n_stop
        FROM documents
    ),
    scored AS (
        SELECT source,
               {_QC_SCORE} AS score_milli
        FROM feats
    ),
    labeled AS (
        SELECT source,
               CASE WHEN score_milli >= 9000 THEN 'high'
                    WHEN score_milli >= 7000 THEN 'medium'
                    ELSE 'low' END AS quality_class,
               score_milli
        FROM scored
    )
    SELECT source, quality_class,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(score_milli) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE),
                 4) AS avg_score_milli
    FROM labeled
    GROUP BY source, quality_class
    ORDER BY source, quality_class
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: score every document with a
    frozen linear classifier (integer features x constant weights,
    length-normalized), bucket into high/medium/low, roll up per
    source — the fastText-style distilled-classifier gate of a
    pretraining pipeline, reduced to its Spark-native inference shape.

    Features (whitespace tokens, alpha runs, digit runs, stopword
    hits) are exact integers from JVM string functions; the score is
    milli-rounded so classes and averages are integer-exact in both
    engines. Weights live in one shared constant expression.

    Scale: document-linear scoring with zero Python, one tiny rollup.
    """
    docs = load_table(spark, sf_dir, "documents")
    low = F.lower(F.col("text"))
    toks = F.filter(F.split(low, " "), lambda x: x != "")
    feats = docs.select(
        "source",
        "n_chars",
        F.size(toks).cast("long").alias("n_ws"),
        F.regexp_count(low, F.lit("[a-z]+")).cast("long").alias("n_alpha"),
        F.regexp_count(low, F.lit("[0-9]+")).cast("long").alias("n_num"),
        F.size(
            F.filter(
                toks,
                lambda x: x.isin(*[w.strip("'") for w in _STOPWORDS.split(",")]),
            )
        )
        .cast("long")
        .alias("n_stop"),
    )
    scored = feats.select("source", F.expr(_QC_SCORE).alias("score_milli"))
    labeled = scored.select(
        "source",
        F.when(F.col("score_milli") >= 9000, "high")
        .when(F.col("score_milli") >= 7000, "medium")
        .otherwise("low")
        .alias("quality_class"),
        "score_milli",
    )
    return (
        labeled.groupBy("source", "quality_class")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.round(
                F.sum("score_milli").cast("double")
                / F.count("*").cast("double"),
                4,
            ).alias("avg_score_milli"),
        )
        .orderBy("source", "quality_class")
    )


# ---------------------------------------------------------------------------
# q_ab_test — two-proportion z-test on a deterministic user split
# ---------------------------------------------------------------------------

_AB_FINAL = (
    "cast(n_a as bigint) as n_a",
    "cast(n_b as bigint) as n_b",
    "round(cast(c_a as double) / cast(n_a as double) * 100.0, 6) as conv_a_pct",
    "round(cast(c_b as double) / cast(n_b as double) * 100.0, 6) as conv_b_pct",
    "round((cast(c_a as double) / cast(n_a as double)"
    " - cast(c_b as double) / cast(n_b as double))"
    " / NULLIF(sqrt((cast(c_a + c_b as double) / cast(n_a + n_b as double))"
    " * (1.0 - cast(c_a + c_b as double) / cast(n_a + n_b as double))"
    " * (1.0 / cast(n_a as double) + 1.0 / cast(n_b as double))), 0.0), 6) + 0.0"
    " as z_score",
)


@query(
    "q_ab_test",
    oracle=f"""
    WITH fe AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
    per_user AS (
        SELECT e.user_id,
               e.user_id % 2 AS variant,
               MAX(CASE WHEN e.event_type = 'purchase'
                        AND e.ts <= fe.t0 + INTERVAL 24 HOUR
                        THEN 1 ELSE 0 END) AS converted
        FROM events e JOIN fe ON fe.user_id = e.user_id
        GROUP BY e.user_id
    ),
    s AS (
        SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                    AS BIGINT) AS c_a,
               CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                    AS BIGINT) AS c_b
        FROM per_user
    )
    SELECT {", ".join(_AB_FINAL)} FROM s
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: split users deterministically by
    user_id parity, compare 24-hour purchase-activation rates (did the
    user buy within a day of their first event?) — the experiment
    readout every event pipeline ends in. Counts are exact integers;
    the pooled-variance z statistic is one shared closed-form text.

    Scale: two per-user aggregates joined on the (small) user key, one
    four-counter rollup, one row out.
    """
    ev = load_table(spark, sf_dir, "events")
    fe = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    per_user = (
        ev.join(fe, "user_id")
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") <= F.col("t0") + F.expr("interval 24 hour")),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select((F.col("user_id") % 2).alias("variant"), "converted")
    )
    s = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    return s.selectExpr(*_AB_FINAL)


# ---------------------------------------------------------------------------
# q_logreg_gd — distributed logistic regression by gradient descent
# ---------------------------------------------------------------------------

_LR_ITERS = 5


def _logreg_oracle() -> str:
    """Unrolled-CTE gradient descent (same shape as the pagerank
    oracle): one CTE pair (gradient, weight update) per iteration."""
    steps = ",".join(
        f"""
    g{t} AS (
      SELECT SUM(p - y) / ANY_VALUE(n) AS g0,
             SUM((p - y) * x1) / ANY_VALUE(n) AS g1,
             SUM((p - y) * x2) / ANY_VALUE(n) AS g2,
             SUM((p - y) * x3) / ANY_VALUE(n) AS g3
      FROM (SELECT 1/(1+exp(-(w0 + w1*x1 + w2*x2 + w3*x3))) AS p,
                   y, x1, x2, x3, n
            FROM d, w{t}, cnt)
    ),
    w{t + 1} AS (SELECT w0 - 1.0*g0 AS w0, w1 - 1.0*g1 AS w1,
                        w2 - 1.0*g2 AS w2, w3 - 1.0*g3 AS w3 FROM w{t}, g{t})
        """
        for t in range(_LR_ITERS)
    )
    return f"""
    WITH d AS (
      SELECT CAST(embedding[1] AS DOUBLE) AS x1,
             CAST(embedding[2] AS DOUBLE) AS x2,
             CAST(embedding[3] AS DOUBLE) AS x3,
             CAST(CASE WHEN label % 2 = 0 THEN 0 ELSE 1 END AS DOUBLE) AS y
      FROM embeddings
    ),
    cnt AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM d),
    w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3),
    {steps},
    wr AS (SELECT round(w0, 4) AS w0, round(w1, 4) AS w1,
                  round(w2, 4) AS w2, round(w3, 4) AS w3 FROM w{_LR_ITERS}),
    acc AS (
      SELECT SUM(CASE WHEN (CASE WHEN 1/(1+exp(-(w0 + w1*x1 + w2*x2 + w3*x3)))
                                 >= 0.5 THEN 1.0 ELSE 0.0 END) = y
                      THEN 1 ELSE 0 END) AS n_right,
             COUNT(*) AS n_rows
      FROM d, wr
    )
    SELECT round(w0, 4) + 0.0 AS bias, round(w1, 4) + 0.0 AS c1,
           round(w2, 4) + 0.0 AS c2, round(w3, 4) + 0.0 AS c3,
           CAST(n_right AS BIGINT) AS n_correct,
           CAST(n_rows AS BIGINT) AS n_rows
    FROM w{_LR_ITERS}, acc
    """


@query("q_logreg_gd", oracle=_logreg_oracle())
def q_logreg_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression: 5 synchronous full-batch
    gradient-descent steps on 3 embedding features, predicting label
    parity. The MLlib-style iterative pattern: the weight vector
    lives on the driver (``session.one_row``) and ships into each step
    as four typed literals; each step is one map-side-combined
    aggregate over the checkpointed feature relation, the weight
    update runs in that same job, and only the four new weights come
    back to the driver.

    Float posture (deviation from this module's integer-sum rule,
    deliberate): the gradient sums O(1)-magnitude doubles whose
    distributed summation-order error is ~n*2^-53 per step — ten
    orders below the 1e-4 output rounding even after compounding
    through 5 steps, which the cross-engine oracle match asserts.
    Integer-scaling a sigmoid is not possible without changing the
    model, so GD is the one place double sums are the honest design.

    100 TB: per step, one scan of the cached feature relation + a
    4-double reduce — exactly MLlib's LogisticRegressionWithSGD cost
    shape; the weights shipped with each step are O(features), never
    O(rows).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    d = materialize(emb.select(
        F.col("embedding")[0].cast("double").alias("x1"),
        F.col("embedding")[1].cast("double").alias("x2"),
        F.col("embedding")[2].cast("double").alias("x3"),
        F.when(F.col("label") % 2 == 0, 0.0).otherwise(1.0).alias("y"),
    ))
    n = one_row(d.agg(F.count("*").cast("double").alias("n")))["n"]
    w = {c: F.lit(0.0) for c in ("w0", "w1", "w2", "w3")}
    z = (
        F.col("w0")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
        + F.col("w3") * F.col("x3")
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    resid = p - F.col("y")
    for _ in range(_LR_ITERS):
        w = one_row(
            d.withColumns(w)
            .agg(
                (F.sum(resid) / n).alias("g0"),
                (F.sum(resid * F.col("x1")) / n).alias("g1"),
                (F.sum(resid * F.col("x2")) / n).alias("g2"),
                (F.sum(resid * F.col("x3")) / n).alias("g3"),
            )
            .select(
                (w["w0"] - 1.0 * F.col("g0")).alias("w0"),
                (w["w1"] - 1.0 * F.col("g1")).alias("w1"),
                (w["w2"] - 1.0 * F.col("g2")).alias("w2"),
                (w["w3"] - 1.0 * F.col("g3")).alias("w3"),
            )
        )
    # Accuracy pass runs on the SAME 1e-4-rounded weights that the query
    # outputs: the unrounded weights are distributed double sums whose
    # last-ulp value can drift with partitioning, and a sigmoid landing
    # within ~1e-11 of 0.5 would then flip the exact-integer n_correct.
    # Rounding first makes n_correct a function of the protected outputs.
    wr = {c: F.round(v, 4) for c, v in w.items()}
    acc = d.withColumns(wr).agg(
        F.sum(
            F.when(
                F.when(p >= 0.5, 1.0).otherwise(0.0) == F.col("y"), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_correct"),
        F.count("*").cast("long").alias("n_rows"),
    )
    return acc.select(
        (wr["w0"] + 0.0).alias("bias"),
        (wr["w1"] + 0.0).alias("c1"),
        (wr["w2"] + 0.0).alias("c2"),
        (wr["w3"] + 0.0).alias("c3"),
        "n_correct",
        "n_rows",
    )


# ---------------------------------------------------------------------------
# q_ks_test — two-sample Kolmogorov–Smirnov (continuous distributions)
# ---------------------------------------------------------------------------

#: Shared final-formula text (evaluated by BOTH engines over the exact
#: integer inputs n1, n2, dn — identical IEEE expression trees).
_KS_FINAL = [
    "CAST(n1 AS BIGINT) AS n1",
    "CAST(n2 AS BIGINT) AS n2",
    "round(CAST(dn AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6)"
    " + 0.0 AS d_stat",
    "round(1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))), 6) + 0.0 AS crit_05",
    "CAST(dn AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))"
    " > 1.358 * sqrt(CAST(n1 + n2 AS DOUBLE)"
    " / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) AS reject_05",
]


@query(
    "q_ks_test",
    oracle=f"""
    WITH f AS (
        SELECT CAST(value AS DECIMAL(16,4)) AS v, event_type AS t
        FROM events WHERE event_type IN ('click', 'view')
    ),
    h AS (
        SELECT v,
               SUM(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS c1,
               SUM(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS c2
        FROM f GROUP BY v
    ),
    n AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM h),
    c AS (
        SELECT SUM(c1) OVER (ORDER BY v) AS cum1,
               SUM(c2) OVER (ORDER BY v) AS cum2
        FROM h
    ),
    d AS (
        SELECT MAX(abs(CAST(cum1 AS DECIMAL(38,0)) * (SELECT n2 FROM n)
                       - CAST(cum2 AS DECIMAL(38,0)) * (SELECT n1 FROM n))) AS dn
        FROM c
    )
    SELECT {", ".join(_KS_FINAL)}
    FROM n, d
    """,
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: does the `value`
    distribution of click events differ from view events? The
    continuous complement of q_chi_square (categorical independence).

    Exactness: D = max|F1 − F2| is computed as the INTEGER
    max|cum1·n2 − cum2·n1| — exact rational arithmetic until one final
    shared-text division; the α=0.05 asymptotic decision evaluates the
    identical IEEE expression in both engines.

    Scale: the ECDFs ride the two-phase distributed prefix sum
    (``functions/prefix.py``) — a bare ``SUM() OVER (ORDER BY v)``
    with no PARTITION BY would collapse the whole value domain into
    one task, the single-task scan this engine bans; here every heavy
    step is range-partitioned and the driver only sees one scalar per
    partition.
    """
    from ..functions.prefix import global_running_sum

    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .select(
            F.col("value").cast("decimal(16,4)").alias("v"),
            F.col("event_type").alias("t"),
        )
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("t") == "click", 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("t") == "view", 1).otherwise(0)).alias("c2"),
        )
    )
    c = global_running_sum(h, "v", "c1", "cum1")
    c = global_running_sum(c, "v", "c2", "cum2")
    n = h.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    d = (
        c.crossJoin(F.broadcast(n))
        .agg(
            # DECIMAL products: cum*n is count-squared-scale and passes
            # 2^63 long before 100 TB does (ANSI long mult would throw).
            F.max(
                F.abs(
                    F.col("cum1").cast("decimal(38,0)") * F.col("n2")
                    - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
                )
            ).alias("dn")
        )
    )
    return n.crossJoin(F.broadcast(d)).selectExpr(*_KS_FINAL)


# ---------------------------------------------------------------------------
# q_bootstrap_ci — deterministic Poisson bootstrap for the mean
# ---------------------------------------------------------------------------

_BS_REPS = 50


@query(
    "q_bootstrap_ci",
    oracle=f"""
    WITH o AS (
        SELECT o_orderkey AS k,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    blocks AS (SELECT unnest(range(0, {(_BS_REPS + 31) // 32})) AS blk),
    js AS (SELECT unnest(range(0, 32)) AS j),
    hashed AS (
        SELECT cents, blk, md5('bs:' || blk || ':' || k) AS h FROM o, blocks
    ),
    w AS (
        SELECT blk * 32 + j AS rep, cents,
               CASE WHEN d < 6 THEN 0 WHEN d < 12 THEN 1
                    WHEN d < 15 THEN 2 ELSE 3 END AS wt
        FROM (SELECT cents, blk, j,
                     strpos('0123456789abcdef',
                            substr(h, CAST(j + 1 AS INT), 1)) - 1 AS d
              FROM hashed, js WHERE blk * 32 + j < {_BS_REPS})
    ),
    per_rep AS (SELECT rep, SUM(wt * cents) AS s, SUM(wt) AS n FROM w GROUP BY rep),
    means AS (SELECT rep,
                     CAST(CAST(s AS DECIMAL(38,0)) * 100 // n AS BIGINT)
                         AS mean_c2 FROM per_rep),
    ranked AS (SELECT mean_c2, ROW_NUMBER() OVER (ORDER BY mean_c2) AS rk FROM means)
    SELECT
        CAST({_BS_REPS} AS BIGINT) AS n_reps,
        (SELECT round(CAST(SUM(cents) AS DOUBLE) / COUNT(*) / 100, 2) FROM o)
            AS mean_est,
        (SELECT round(mean_c2 / 10000.0, 2) FROM ranked WHERE rk = 2) AS ci_lo,
        (SELECT round(mean_c2 / 10000.0, 2) FROM ranked WHERE rk = {_BS_REPS - 1})
            AS ci_hi
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for the mean order value,
    with a DETERMINISTIC Poisson bootstrap: each (rep, order) draws a
    quantized-Poisson(1) weight {0,1,2,3} with probabilities
    {6,6,3,1}/16 from one md5 nibble — the resample that never needs
    an RNG, so any engine reproduces the exact interval.

    Scale shape: the Poisson bootstrap is THE distributed bootstrap
    (no resample materialization): one scan fans each row out to
    n_reps weighted copies that partial-aggregate immediately, so the
    shuffle carries n_reps rows per map task total. Hashing is
    counter-mode: ONE md5 per (order, 32-rep block) feeds 32 nibbles,
    not one md5 per (order, rep) — the hash was the measured hot spot,
    and the block form runs 2.1x faster solo at sf0.1 (5.1s -> 2.4s,
    BENCH_AB.json). Rep means stay in exact integer arithmetic
    (hundredths of a cent, floor-div) and the order statistics run on
    the n_reps-row relation — the only window in the plan is over 50
    rows. CI endpoints are percentile_disc-style exact order
    statistics (ranks 2 and 49 of 50).
    """
    n_blocks = (_BS_REPS + 31) // 32
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    h = F.md5(
        F.concat(
            F.lit("bs:"),
            F.col("blk").cast("string"),
            F.lit(":"),
            F.col("k").cast("string"),
        )
    )
    # r12 note: a pivoted 64-column per-block aggregate (no 32-way row
    # explode) was tried and REVERTED — CollapseProject inlines the h
    # projection into every aggregate expression, so the md5 ran 64x
    # per row (plan text 9k -> 151k chars) and the solo median read
    # 4.51 s vs 1.93 s for this explode form. The explode keeps ONE
    # md5 per (order, block) row with the decode fanned out as rows,
    # which codegen handles well.
    d = F.conv(F.expr("substring(h, j + 1, 1)"), 16, 10).cast("int").alias("d")
    wt = (
        F.when(F.col("d") < 6, 0)
        .when(F.col("d") < 12, 1)
        .when(F.col("d") < 15, 2)
        .otherwise(3)
    )
    per_rep = (
        o.select(
            "k",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
        )
        .select("cents", "blk", h.alias("h"))
        .select(
            "cents", "blk", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("j"), "h"
        )
        .filter(F.col("blk") * 32 + F.col("j") < _BS_REPS)
        .select((F.col("blk") * 32 + F.col("j")).alias("rep"), "cents", d)
        .select("rep", "cents", wt.alias("wt"))
        .groupBy("rep")
        .agg(
            F.sum(F.col("wt") * F.col("cents")).alias("s"),
            F.sum("wt").alias("n"),
        )
    )
    means = per_rep.select(
        # DECIMAL product before the floor-div: s*100 is cents x weight
        # scale and would overflow an ANSI long multiply at large SF.
        F.expr(
            "CAST(FLOOR(CAST(s AS DECIMAL(38,0)) * 100 / n) AS BIGINT)"
        ).alias("mean_c2")
    )
    ranked = means.withColumn(
        "rk", F.row_number().over(Window.orderBy("mean_c2"))
    )
    lo = ranked.filter(F.col("rk") == 2).select(
        F.round(F.col("mean_c2") / 10000.0, 2).alias("ci_lo")
    )
    hi = ranked.filter(F.col("rk") == _BS_REPS - 1).select(
        F.round(F.col("mean_c2") / 10000.0, 2).alias("ci_hi")
    )
    est = o.agg(
        F.round(F.sum("cents").cast("double") / F.count("*") / 100, 2).alias(
            "mean_est"
        )
    )
    return (
        est.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.lit(_BS_REPS).cast("long").alias("n_reps"),
            "mean_est",
            "ci_lo",
            "ci_hi",
        )
    )


# ---------------------------------------------------------------------------
# q_weighted_median — exact weighted median on the distributed prefix sum
# ---------------------------------------------------------------------------


@query(
    "q_weighted_median",
    oracle="""
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_quantity) AS BIGINT) AS w
        FROM lineitem
    ),
    g AS (SELECT cents, SUM(w) AS w FROM v GROUP BY cents),
    c AS (SELECT cents, SUM(w) OVER (ORDER BY cents) AS cum FROM g),
    t AS (SELECT SUM(w) AS tot FROM g)
    SELECT CAST((SELECT tot FROM t) AS BIGINT) AS total_weight,
           round((SELECT MIN(cents) FROM c
                  WHERE 2 * cum >= (SELECT tot FROM t)) / 100.0, 2)
               AS weighted_median
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantity-weighted median of extended price — the order
    statistic Spark has no built-in for (percentile() is unweighted).

    Definition: smallest value whose cumulative weight reaches half
    the total (all arithmetic in exact integer cents/units). The
    cumulative weights ride the two-phase distributed prefix sum over
    the value-grouped relation — same discipline as q_ks_test: no
    single-task global window, the driver sees one scalar per
    partition, and the answer is bit-identical at any partitioning.
    """
    from ..functions.prefix import global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    g = (
        li.select(
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            F.round(F.col("l_quantity")).cast("long").alias("w"),
        )
        .groupBy("cents")
        .agg(F.sum("w").alias("w"))
    )
    c = global_running_sum(g, "cents", "w", "cum")
    t = g.agg(F.sum("w").cast("long").alias("tot"))
    med = (
        c.crossJoin(F.broadcast(t))
        .filter(2 * F.col("cum") >= F.col("tot"))
        .agg(F.min("cents").alias("mc"))
    )
    return t.crossJoin(F.broadcast(med)).select(
        F.col("tot").alias("total_weight"),
        F.round(F.col("mc") / 100.0, 2).alias("weighted_median"),
    )


# ---------------------------------------------------------------------------
# q_gini — revenue-concentration Gini coefficient on distributed ranks
# ---------------------------------------------------------------------------

_GINI_FINAL = [
    "n AS n_customers",
    "round(CAST(tot AS DOUBLE) / 100.0, 2) AS total_revenue",
    "round(2.0 * CAST(wsum AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))"
    " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini",
]


@query(
    "q_gini",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rk
        FROM rev
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot,
               CAST(SUM(rk * cents) AS BIGINT) AS wsum
        FROM ranked
    )
    SELECT {", ".join(_GINI_FINAL)} FROM s
    """,
)
def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of per-customer revenue — the concentration
    readout (0 = equal spend, →1 = one whale) a marketplace watches.

    Needs every customer's GLOBAL rank by revenue: ranks come from the
    two-phase distributed prefix sum (running count over the
    range-partitioned revenue order), never a single-task global
    window. Tie order between equal revenues is arbitrary AND
    harmless — Σ rank·x is invariant under permuting ranks among equal
    x — so the distributed tie-break matches the oracle's
    deterministic one exactly. All sums are exact integers; the final
    formula is one shared text.
    """
    from ..functions.prefix import global_running_sum

    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
    )
    ranked = global_running_sum(
        rev.select("o_custkey", "cents", F.lit(1).alias("one")),
        "cents",
        "one",
        "rk",
    )
    s = ranked.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tot"),
        F.sum(F.col("rk") * F.col("cents")).cast("long").alias("wsum"),
    )
    return s.selectExpr(*_GINI_FINAL)


# ---------------------------------------------------------------------------
# q_benford — first-digit distribution vs Benford's law
# ---------------------------------------------------------------------------


@query(
    "q_benford",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INTEGER) AS dig
        FROM lineitem WHERE l_extendedprice > 0
    ),
    o AS (SELECT dig, CAST(COUNT(*) AS BIGINT) AS obs FROM d GROUP BY dig),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    e AS (
        SELECT dig, obs,
               CAST(n.n AS DOUBLE) * (ln(1.0 + 1.0 / dig) / ln(10.0)) AS exp_n
        FROM o, n
    )
    SELECT CAST(dig AS INTEGER) AS digit, obs,
           round(exp_n, 2) AS expected,
           CAST(round((obs - exp_n) * (obs - exp_n) / exp_n * 1000000)
                AS BIGINT) AS chi_term_micro
    FROM e ORDER BY digit
    """,
)
def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of extended prices — the
    classic synthetic-data / fraud alarm (TPC-H's uniform price
    generator flunks it spectacularly, which is exactly what the
    audit should report on synthetic data).

    First digits come from exact integer cents; expected counts and
    each chi-square term are one shared ln-based formula over those
    exact integers, micro-rounded per digit so the output is integer-
    stable. One partial-aggregated scan to 9 rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    d = li.filter("l_extendedprice > 0").select(
        F.expr(
            "CAST(substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)"
            " AS STRING), 1, 1) AS INT)"
        ).alias("dig")
    )
    o = d.groupBy("dig").agg(F.count("*").cast("long").alias("obs"))
    n = o.agg(F.sum("obs").cast("long").alias("n"))
    return (
        o.crossJoin(F.broadcast(n))
        .selectExpr(
            "CAST(dig AS INT) AS digit",
            "obs",
            "CAST(n AS DOUBLE) * (ln(1.0 + 1.0 / dig) / ln(10.0)) AS exp_n",
        )
        .selectExpr(
            "digit",
            "obs",
            "round(exp_n, 2) AS expected",
            "CAST(round((obs - exp_n) * (obs - exp_n) / exp_n * 1000000)"
            " AS BIGINT) AS chi_term_micro",
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# q_changepoint — CUSUM mean-shift detection per event type
# ---------------------------------------------------------------------------


@query(
    "q_changepoint",
    oracle="""
    WITH v AS (
        SELECT event_type, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    c AS (
        SELECT event_type, event_id,
               ROW_NUMBER() OVER w AS k,
               SUM(cents) OVER w AS cum
        FROM v WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    t AS (
        SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(cents) AS HUGEINT) AS tot
        FROM v GROUP BY event_type
    ),
    d AS (
        SELECT c.event_type, c.event_id, c.k,
               abs(CAST(t.n AS HUGEINT) * CAST(c.cum AS HUGEINT)
                   - CAST(c.k AS HUGEINT) * t.tot) AS dev,
               t.n, t.tot
        FROM c JOIN t USING (event_type)
    ),
    r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                     ORDER BY dev DESC, event_id) AS rk
        FROM d
    )
    SELECT event_type, event_id AS cp_event_id,
           CAST(k AS BIGINT) AS cp_position,
           round(CAST(dev AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)), 6)
               AS max_rel_dev
    FROM r WHERE rk = 1 ORDER BY event_type
    """,
)
def q_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection: for each event type, the point
    where the cumulative value series deviates most from its overall
    linear trend — the offline mean-shift detector behind monitoring
    alerts.

    The deviation statistic n·cum_k − k·total is EXACT integer
    arithmetic (DECIMAL(38,0) / HUGEINT products — a cents×count
    product overflows int64 at large SF), so the argmax row (ties →
    smallest event_id) is deterministic cross-engine; only the final
    normalized readout divides as shared-text doubles.

    Scale: NO window partitioned by the ~|event_type|-value key (that
    caps parallelism at key cardinality — the q_value_anomaly defect
    class): positions and running sums come from the two two-phase
    global scans (functions/prefix.py) over the (type, ts, id) total
    order, per-type values recovered by broadcast prefix offsets, and
    the per-type argmax is a partial-agg'd struct MAX. Parallelism
    follows partitions, not |event_type|.
    """
    from ..functions.prefix import global_row_number, global_running_sum

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        "ts",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    # Per-type position and running sum WITHOUT a window partitioned by
    # the ~|event_type|-value key (which caps parallelism at the key
    # cardinality — the q_value_anomaly defect class): one global
    # two-phase row_number over (type, ts, id) — types contiguous in
    # that total order — one global two-phase running sum of cents over
    # it, then per-type (position, cumulative) fall out by subtracting
    # the broadcast per-type prefix offsets.
    g = global_row_number(v, ["event_type", "ts", "event_id"], "grn")
    gc = global_running_sum(g, "grn", "cents", "gcum")
    t = v.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("tot"),
    )
    t2 = t.selectExpr(
        "event_type AS et2", "n AS n2", "tot AS tot2"
    )
    offs = (
        t.join(F.broadcast(t2), F.col("et2") < F.col("event_type"), "left")
        .groupBy("event_type", "n", "tot")
        .agg(
            F.coalesce(F.sum("n2"), F.lit(0).cast("decimal(38,0)"))
            .alias("k_off"),
            F.coalesce(F.sum("tot2"), F.lit(0).cast("decimal(38,0)"))
            .alias("c_off"),
        )
    )
    d = gc.join(F.broadcast(offs), "event_type").select(
        "event_type",
        "event_id",
        (F.col("grn").cast("decimal(38,0)") - F.col("k_off")).alias("k"),
        F.abs(
            F.col("n")
            * (F.col("gcum").cast("decimal(38,0)") - F.col("c_off"))
            - (F.col("grn").cast("decimal(38,0)") - F.col("k_off"))
            * F.col("tot")
        ).alias("dev"),
        "n",
        "tot",
    )
    # Per-type argmax (ties -> smallest event_id) as a partial-agg'd
    # struct MAX — no per-type sort at all.
    best = d.groupBy("event_type", "n", "tot").agg(
        F.max(
            F.struct(
                F.col("dev").alias("dev"),
                (-F.col("event_id")).cast("long").alias("negid"),
                F.col("k").alias("k"),
            )
        ).alias("b")
    )
    return best.selectExpr(
        "event_type",
        "-b.negid AS cp_event_id",
        "CAST(b.k AS BIGINT) AS cp_position",
        "round(CAST(b.dev AS DOUBLE)"
        " / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE)), 6) AS max_rel_dev",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q_kaplan_meier — survival curve of time-to-first-purchase
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000


@query(
    "q_kaplan_meier",
    oracle=f"""
    WITH RECURSIVE pu AS (
        SELECT user_id, MIN(ts) AS birth,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS death
        FROM events GROUP BY user_id
    ),
    mx AS (SELECT MAX(ts) AS mxts FROM events),
    durs AS (
        SELECT CAST((epoch_us(COALESCE(death, mxts)) - epoch_us(birth))
                    // {_DAY_US} AS INTEGER) AS day,
               CASE WHEN death IS NULL THEN 0 ELSE 1 END AS observed
        FROM pu CROSS JOIN mx
    ),
    day_tbl AS (
        SELECT day, CAST(SUM(observed) AS BIGINT) AS deaths,
               CAST(SUM(1 - observed) AS BIGINT) AS cens,
               ROW_NUMBER() OVER (ORDER BY day) AS rn
        FROM durs GROUP BY day
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pu),
    rec AS (
        SELECT CAST(0 AS BIGINT) AS rn, n.n AS risk, CAST(1.0 AS DOUBLE) AS s,
               CAST(NULL AS INTEGER) AS day, CAST(NULL AS BIGINT) AS at_risk,
               CAST(NULL AS BIGINT) AS deaths, CAST(NULL AS DOUBLE) AS surv
        FROM n
        UNION ALL
        SELECT d.rn, r.risk - d.deaths - d.cens,
               CASE WHEN d.deaths > 0
                    THEN (r.s * (r.risk - d.deaths)) / r.risk ELSE r.s END,
               d.day, r.risk, d.deaths,
               CASE WHEN d.deaths > 0
                    THEN (r.s * (r.risk - d.deaths)) / r.risk
                    ELSE CAST(NULL AS DOUBLE) END
        FROM rec r JOIN day_tbl d ON d.rn = r.rn + 1
    )
    SELECT day, at_risk, deaths, round(surv, 6) AS survival
    FROM rec WHERE deaths > 0 ORDER BY day
    """,
)
def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival estimate (Kaplan & Meier 1958) of
    time-to-first-purchase per user: birth = the user's first event,
    death = first 'purchase', right-censored at the corpus max
    timestamp. One row per death day: (day, at_risk n_i, deaths d_i,
    survival S = Π (n_i - d_i)/n_i), the standard product-limit table
    behind retention and churn curves.

    Cross-engine exactness: the survival product is a SEQUENTIAL
    recurrence, not an associative aggregate — both engines run the
    identical recurrence ``s' = (s * (risk - deaths)) / risk`` over
    the identical day-ordered rows (Spark: ``aggregate()`` lambda over
    a sorted array; DuckDB: recursive CTE), so every multiply/divide
    is the same correctly-rounded IEEE op in the same order →
    identical doubles, rounded to 6dp only at output.

    Scale: per-user birth/death and per-day death/censor counts are
    partial-agg'd fact-scale shuffles; the fold then runs over the
    DAY table, which is observation-window-bounded (≤ a few hundred
    rows at ANY data scale — the fixture spans ~30 days), the same
    bounded-collect discipline as the packed-Bloom words. No window,
    no percentile buffer, no driver loop.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min("ts").alias("birth"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("death"),
    )
    mx = ev.agg(F.max("ts").alias("mxts"))
    durs = per_user.crossJoin(F.broadcast(mx)).selectExpr(
        f"CAST((unix_micros(COALESCE(death, mxts)) - unix_micros(birth))"
        f" DIV {_DAY_US} AS INT) AS day",
        "CAST(CASE WHEN death IS NULL THEN 0 ELSE 1 END AS BIGINT) AS observed",
    )
    day_tbl = durs.groupBy("day").agg(
        F.sum("observed").cast("long").alias("deaths"),
        F.sum(F.expr("1 - observed")).cast("long").alias("cens"),
    )
    one = day_tbl.agg(
        F.sort_array(
            F.collect_list(F.struct("day", "deaths", "cens"))
        ).alias("ds"),
        F.sum(F.expr("deaths + cens")).cast("long").alias("n"),
    )
    out_t = "ARRAY<STRUCT<day: INT, at_risk: BIGINT, deaths: BIGINT, surv: DOUBLE>>"
    fold = (
        "aggregate(ds,"
        " named_struct('risk', n, 's', CAST(1.0 AS DOUBLE),"
        f" 'out', CAST(array() AS {out_t})),"
        " (acc, x) -> named_struct("
        "   'risk', acc.risk - x.deaths - x.cens,"
        "   's', CASE WHEN x.deaths > 0"
        "        THEN (acc.s * (acc.risk - x.deaths)) / acc.risk ELSE acc.s END,"
        "   'out', CASE WHEN x.deaths > 0 THEN concat(acc.out, array(named_struct("
        "       'day', x.day, 'at_risk', acc.risk, 'deaths', x.deaths,"
        "       'surv', (acc.s * (acc.risk - x.deaths)) / acc.risk)))"
        "     ELSE acc.out END),"
        " acc -> acc.out)"
    )
    return (
        one.selectExpr(f"inline({fold})")
        .selectExpr(
            "day", "at_risk", "deaths", "round(surv, 6) AS survival"
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# q_mutual_info — MI between event type and hour-of-day
# ---------------------------------------------------------------------------

_MI_CELL = (
    "CAST(round(ln((CAST(n_xy AS DOUBLE) * n) / (CAST(n_x AS DOUBLE) * n_y))"
    " * 1000000) AS BIGINT)"
)
_MI_MARG = "CAST(round(ln(CAST({c} AS DOUBLE) / n) * 1000000) AS BIGINT)"


@query(
    "q_mutual_info",
    oracle=f"""
    WITH b AS (
        SELECT event_type AS x, CAST(hour(ts) AS INTEGER) AS y FROM events
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM b),
    jx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS n_x FROM b GROUP BY x),
    jy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n_y FROM b GROUP BY y),
    jxy AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_xy FROM b GROUP BY x, y),
    mi AS (
        SELECT CAST(SUM(n_xy * {_MI_CELL}) AS BIGINT) // MAX(n.n) AS mi_e6
        FROM jxy JOIN jx USING (x) JOIN jy USING (y) CROSS JOIN n
    ),
    hx AS (
        SELECT -(CAST(SUM(n_x * {_MI_MARG.format(c="n_x")}) AS BIGINT) // MAX(n.n))
               AS h_type_e6
        FROM jx CROSS JOIN n
    ),
    hy AS (
        SELECT -(CAST(SUM(n_y * {_MI_MARG.format(c="n_y")}) AS BIGINT) // MAX(n.n))
               AS h_hour_e6
        FROM jy CROSS JOIN n
    )
    SELECT mi.mi_e6, hx.h_type_e6, hy.h_hour_e6,
           CAST(2000000 * mi.mi_e6 // (hx.h_type_e6 + hy.h_hour_e6) AS BIGINT)
               AS nmi_e6
    FROM mi CROSS JOIN hx CROSS JOIN hy
    """,
)
def q_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; hour-of-day) in nats plus both
    marginal entropies and the symmetric normalized MI
    2·MI/(H(x)+H(y)) — the dependence audit between a categorical
    label and a derived feature (feature-selection primitive).

    Cross-engine exactness: the house per-cell-round discipline
    (`q_unigram_logprob` pattern) — each cell's log term is rounded to
    e6 micro-nats FIRST, then weighted by exact integer counts and
    floor-divided by N, so the only float op per cell is one ln on
    identical doubles; sums never run in floating point.

    Scale: three partial-agg'd fact aggregates (cells, two marginals);
    the join runs over the |types|×|hours| cell table (bounded ~120
    rows at any SF). Single-row output.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.selectExpr(
        "event_type AS x", "CAST(hour(ts) AS INT) AS y"
    )
    n = b.agg(F.count("*").cast("long").alias("n"))
    jx = b.groupBy("x").agg(F.count("*").cast("long").alias("n_x"))
    jy = b.groupBy("y").agg(F.count("*").cast("long").alias("n_y"))
    jxy = b.groupBy("x", "y").agg(F.count("*").cast("long").alias("n_xy"))
    cells = (
        jxy.join(jx, "x").join(jy, "y").crossJoin(F.broadcast(n))
    )
    # True integer DIV after the exact-integer sums (both engines
    # truncate toward zero — verified parity incl. negatives).
    mi = cells.agg(
        F.sum(F.expr(f"n_xy * {_MI_CELL}")).cast("long").alias("s"),
        F.max("n").alias("nn"),
    ).selectExpr("CAST(s DIV nn AS BIGINT) AS mi_e6")
    hx = (
        jx.crossJoin(F.broadcast(n))
        .agg(
            F.sum(F.expr("n_x * " + _MI_MARG.format(c="n_x")))
            .cast("long")
            .alias("s"),
            F.max("n").alias("nn"),
        )
        .selectExpr("CAST(-(s DIV nn) AS BIGINT) AS h_type_e6")
    )
    hy = (
        jy.crossJoin(F.broadcast(n))
        .agg(
            F.sum(F.expr("n_y * " + _MI_MARG.format(c="n_y")))
            .cast("long")
            .alias("s"),
            F.max("n").alias("nn"),
        )
        .selectExpr("CAST(-(s DIV nn) AS BIGINT) AS h_hour_e6")
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .selectExpr(
            "mi_e6",
            "h_type_e6",
            "h_hour_e6",
            "CAST(2000000 * mi_e6 DIV (h_type_e6 + h_hour_e6) AS BIGINT)"
            " AS nmi_e6",
        )
    )


# ---------------------------------------------------------------------------
# q_holt_forecast — Holt double exponential smoothing + 14-step holdout
# ---------------------------------------------------------------------------

_HOLT_H = 14  # holdout horizon (observed-day steps)


def _holt_step(y: str, l: str, b: str) -> tuple[str, str]:
    """Shared recurrence texts (identical op tree in both engines):
    level' = α·y + (1-α)·(level + trend); trend' = β·(level'-level)
    + (1-β)·trend, α=0.5 β=0.3 as explicit DOUBLE literals."""
    nl = f"(CAST(0.5 AS DOUBLE) * {y} + CAST(0.5 AS DOUBLE) * ({l} + {b}))"
    nb = (
        f"(CAST(0.3 AS DOUBLE) * ({nl} - {l})"
        f" + CAST(0.7 AS DOUBLE) * {b})"
    )
    return nl, nb


def _holt_oracle() -> str:
    nl, nb = _holt_step("CAST(d.rev_c AS DOUBLE)", "r.l", "r.b")
    return f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS rev_c
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT day, rev_c, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) - {_HOLT_H} AS t_train FROM seq),
    rec AS (
        SELECT CAST(1 AS BIGINT) AS t,
               CAST(d1.rev_c AS DOUBLE) AS l,
               CAST(d2.rev_c AS DOUBLE) - CAST(d1.rev_c AS DOUBLE) AS b
        FROM seq d1 JOIN seq d2 ON d1.rn = 1 AND d2.rn = 2
        UNION ALL
        SELECT r.t + 1, {nl}, {nb}
        FROM rec r
        JOIN seq d ON d.rn = r.t + 1
        WHERE r.t + 1 <= (SELECT t_train FROM tt)
    ),
    fin AS (SELECT l, b FROM rec JOIN tt ON rec.t = tt.t_train),
    test AS (
        SELECT s.rn - tt.t_train AS h, s.day, s.rev_c AS actual_c
        FROM seq s CROSS JOIN tt
        WHERE s.rn > tt.t_train
    )
    SELECT CAST(t.h AS INTEGER) AS h, t.day, t.actual_c,
           CAST(round(f.l + CAST(t.h AS DOUBLE) * f.b) AS BIGINT)
               AS forecast_c,
           CAST(round(abs(CAST(t.actual_c AS DOUBLE)
                          - (f.l + CAST(t.h AS DOUBLE) * f.b))
                      / CAST(t.actual_c AS DOUBLE) * 1000000) AS BIGINT)
               AS ape_micro
    FROM test t CROSS JOIN fin f
    ORDER BY h
    """


@query("q_holt_forecast", oracle=_holt_oracle())
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (Holt 1957) of daily order
    revenue with a 14-step holdout: level/trend fit on all observed
    days but the last 14, then h-step-ahead forecasts
    ŷ = level + h·trend scored with per-step micro-APE — the
    trend-aware upgrade to q_forecast_eval's seasonal-naive baseline.
    Steps are OBSERVED-day positions (sparse calendars forecast the
    next observed day, not a phantom calendar day).

    Cross-engine exactness: the smoothing recurrence is sequential
    state, run as the identical expression text in both engines
    (:func:`_holt_step`; Spark folds a sorted bounded array, DuckDB
    runs the recursive CTE) — the q_kaplan_meier discipline, so the
    level/trend doubles match bit-for-bit; init l₁=y₁, b₁=y₂−y₁.

    Scale: daily revenue is a partial-agg'd fact aggregate; the fold
    then runs over the DATE-DOMAIN-bounded day table (~2.4k rows for
    the TPC-H calendar at ANY SF) collected into one bounded sorted
    array — never a fact-scale window or driver loop.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
        .cast("long")
        .alias("rev_c")
    )
    one = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "rev_c"))).alias("a")
    )
    nl, nb = _holt_step("CAST(x.rev_c AS DOUBLE)", "acc.l", "acc.b")
    fold = (
        f"aggregate(slice(a, 2, size(a) - {_HOLT_H} - 1),"
        " named_struct("
        "   'l', CAST(element_at(a, 1).rev_c AS DOUBLE),"
        "   'b', CAST(element_at(a, 2).rev_c AS DOUBLE)"
        "        - CAST(element_at(a, 1).rev_c AS DOUBLE)),"
        f" (acc, x) -> named_struct('l', {nl}, 'b', {nb}),"
        " acc -> acc)"
    )
    fitted = one.selectExpr(
        f"slice(a, size(a) - {_HOLT_H} + 1, {_HOLT_H}) AS test",
        f"{fold} AS st",
    )
    return (
        fitted.selectExpr("st.l AS l", "st.b AS b", "posexplode(test) AS (p, x)")
        .selectExpr(
            "CAST(p + 1 AS INT) AS h",
            "x.day AS day",
            "x.rev_c AS actual_c",
            "CAST(round(l + CAST(p + 1 AS DOUBLE) * b) AS BIGINT)"
            " AS forecast_c",
            "CAST(round(abs(CAST(x.rev_c AS DOUBLE)"
            " - (l + CAST(p + 1 AS DOUBLE) * b))"
            " / CAST(x.rev_c AS DOUBLE) * 1000000) AS BIGINT) AS ape_micro",
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# q_pareto_share — revenue share of the top 1% / 5% / 10% of customers
# ---------------------------------------------------------------------------

_PARETO_PCTS = (1, 5, 10)

_PARETO_FINAL = [
    "CAST(n AS BIGINT) AS n_customers",
    "round(CAST(tot AS DOUBLE) / 100.0, 2) AS total_revenue",
] + [
    f"round(CAST(top{p} AS DOUBLE) / CAST(tot AS DOUBLE), 6)"
    f" AS share_top{p}pct"
    for p in _PARETO_PCTS
]


@query(
    "q_pareto_share",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rk,
               COUNT(*) OVER () AS n
        FROM rev
    ),
    s AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               CAST(SUM(cents) AS BIGINT) AS tot,
               {", ".join(
                   f"CAST(SUM(CASE WHEN rk <= (({p} * n) + 99) // 100"
                   f" THEN cents ELSE 0 END) AS BIGINT) AS top{p}"
                   for p in _PARETO_PCTS
               )}
        FROM ranked
    )
    SELECT {", ".join(_PARETO_FINAL)} FROM s
    """,
)
def q_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration as top-share ratios — the fraction of
    total revenue held by the top 1% / 5% / 10% of customers (the
    'whale curve' readout that complements q_gini's single scalar).

    Needs each customer's global revenue rank DESCENDING: ranks come
    from the two-phase distributed prefix scan
    (`functions/prefix.py global_row_number` with a desc sort
    expression and the custkey tie-break), never a single-task global
    window. Top-k membership is rank <= ceil(p·n/100) in exact
    integer arithmetic; the three shares are conditional integer sums
    over one pass of the ranked relation, divided once at the end
    (shared formula text, round 6).

    Scale: orders collapses to |customers| with one partial-agg'd
    shuffle; the rank scan is two distributed phases with one scalar
    per partition on the driver; the conditional-sum agg is one more
    partial-agg'd pass. Nothing holds a data-scale buffer.
    """
    from ..functions.prefix import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    ranked = global_row_number(
        rev, [F.col("cents").desc(), F.col("o_custkey")], "rk"
    )
    nrow = rev.agg(F.count("*").cast("long").alias("n"))
    s = (
        ranked.crossJoin(F.broadcast(nrow))
        .agg(
            F.max("n").cast("long").alias("n"),
            F.sum("cents").cast("long").alias("tot"),
            *[
                F.sum(
                    F.expr(
                        f"CASE WHEN rk <= (({p} * n) + 99) DIV 100"
                        f" THEN cents ELSE 0 END"
                    )
                )
                .cast("long")
                .alias(f"top{p}")
                for p in _PARETO_PCTS
            ],
        )
    )
    return s.selectExpr(*_PARETO_FINAL)


# ---------------------------------------------------------------------------
# q_trimmed_mean — 5%-symmetric trimmed + winsorized means by rank
# ---------------------------------------------------------------------------

_TRIM_PCT = 5  # per-tail trim, in percent

_TRIM_FINAL = [
    "CAST(n AS BIGINT) AS n",
    "CAST(k AS BIGINT) AS k_trim",
    "round(CAST(mid_sum AS DOUBLE) / CAST(n - 2 * k AS DOUBLE) / 100.0, 6)"
    " AS trimmed_mean",
    "round((CAST(mid_sum AS DOUBLE) + CAST(k AS DOUBLE) * CAST(v_lo AS DOUBLE)"
    " + CAST(k AS DOUBLE) * CAST(v_hi AS DOUBLE))"
    " / CAST(n AS DOUBLE) / 100.0, 6) AS winsorized_mean",
]


@query(
    "q_trimmed_mean",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderkey
        FROM orders
    ),
    ranked AS (
        SELECT cents,
               ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rk,
               COUNT(*) OVER () AS n
        FROM c
    ),
    s AS (
        SELECT CAST(MAX(n) AS BIGINT) AS n,
               ({_TRIM_PCT} * CAST(MAX(n) AS BIGINT)) // 100 AS k,
               CAST(SUM(CASE WHEN rk > ({_TRIM_PCT} * n) // 100
                              AND rk <= n - ({_TRIM_PCT} * n) // 100
                             THEN cents ELSE 0 END) AS BIGINT) AS mid_sum,
               CAST(MAX(CASE WHEN rk = ({_TRIM_PCT} * n) // 100 + 1
                             THEN cents END) AS BIGINT) AS v_lo,
               CAST(MAX(CASE WHEN rk = n - ({_TRIM_PCT} * n) // 100
                             THEN cents END) AS BIGINT) AS v_hi
        FROM ranked
    )
    SELECT {", ".join(_TRIM_FINAL)} FROM s
    """,
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-per-tail trimmed mean and winsorized mean of order totals —
    the robust location estimators between the median (50% trim) and
    the mean (0% trim); the winsorized variant clamps the tails to the
    boundary order statistics instead of dropping them, so its output
    also certifies the two cut values.

    Tail membership is exact integer rank arithmetic (k = ⌊5n/100⌋,
    keep k < rank <= n−k) over ranks from the two-phase distributed
    prefix scan (`functions/prefix.py`) with the orderkey tie-break —
    never a single-task global sort. The middle-mass sum, the two
    boundary values and n are the complete sufficient statistics; the
    two means are shared formula texts, round 6.

    Scale: one scan to project, two distributed rank phases, one
    conditional-sum pass; one row out at any SF.
    """
    from ..functions.prefix import global_row_number

    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
        "o_orderkey",
    )
    ranked = global_row_number(c, ["cents", "o_orderkey"], "rk")
    nrow = c.agg(F.count("*").cast("long").alias("n"))
    s = (
        ranked.crossJoin(F.broadcast(nrow))
        .agg(
            F.max("n").cast("long").alias("n"),
            F.expr(f"({_TRIM_PCT} * CAST(MAX(n) AS BIGINT)) DIV 100").alias(
                "k"
            ),
            F.sum(
                F.expr(
                    f"CASE WHEN rk > ({_TRIM_PCT} * n) DIV 100"
                    f" AND rk <= n - ({_TRIM_PCT} * n) DIV 100"
                    f" THEN cents ELSE 0 END"
                )
            )
            .cast("long")
            .alias("mid_sum"),
            F.max(
                F.expr(
                    f"CASE WHEN rk = ({_TRIM_PCT} * n) DIV 100 + 1"
                    f" THEN cents END"
                )
            )
            .cast("long")
            .alias("v_lo"),
            F.max(
                F.expr(
                    f"CASE WHEN rk = n - ({_TRIM_PCT} * n) DIV 100"
                    f" THEN cents END"
                )
            )
            .cast("long")
            .alias("v_hi"),
        )
    )
    return s.selectExpr(*_TRIM_FINAL)


# ---------------------------------------------------------------------------
# q_wilson_returns — Wilson lower-bound ranking of supplier return rates
# ---------------------------------------------------------------------------

_WILSON_Z2 = "3.8416"  # z^2 for z = 1.96 (95%), exact literal both engines
_WILSON_TOP = 20

#: Wilson score interval lower bound from exact integers (k returns of
#: n lineitems) — one shared float expression, round 6 BEFORE ranking
#: so the order key is the rounded value (no ulp-order flips).
_WILSON_LB = (
    f"round((p_hat + {_WILSON_Z2} / (2.0 * nn)"
    f" - 1.96 * sqrt((p_hat * (1.0 - p_hat) + {_WILSON_Z2} / (4.0 * nn))"
    f" / nn)) / (1.0 + {_WILSON_Z2} / nn), 6)"
)
_WILSON_PREP = (
    "CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p_hat",
    "CAST(n AS DOUBLE) AS nn",
)


@query(
    "q_wilson_returns",
    oracle=f"""
    WITH counts AS (
        SELECT l_suppkey,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS k
        FROM lineitem GROUP BY l_suppkey
    ),
    prepped AS (
        SELECT l_suppkey, n, k, {", ".join(_WILSON_PREP)} FROM counts
        WHERE n >= 20
    )
    SELECT CAST(l_suppkey AS BIGINT) AS suppkey, n, k,
           round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
           {_WILSON_LB} AS wilson_lb
    FROM prepped
    ORDER BY {_WILSON_LB} DESC, l_suppkey
    LIMIT {_WILSON_TOP}
    """,
)
def q_wilson_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers ranked by the Wilson score LOWER BOUND of their
    return rate (z = 1.96) — the 'how not to sort by average' fix: a
    supplier with 3 returns of 4 shipments must not outrank one with
    200 of 300, and the Wilson bound encodes exactly that shrinkage.
    Suppliers with fewer than 20 lineitems are excluded (the bound is
    meaningless below minimal support).

    The sufficient statistics are exact integers (n, k per supplier —
    one partial-agg'd shuffle); the bound is ONE shared float formula
    with the z² literal inlined identically in both engines, and it
    is rounded to 6 places BEFORE becoming the sort key, so the
    ranking can never differ cross-engine on a last-ulp. The top-20
    selection compiles to TakeOrderedAndProject (per-partition heaps,
    no global sort).

    Scale: lineitem collapses to |suppliers| rows in one map-side-
    combined pass; everything after is supplier-bounded.
    """
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("k"),
    )
    prepped = counts.filter(F.col("n") >= 20).selectExpr(
        "l_suppkey", "n", "k", *_WILSON_PREP
    )
    return (
        prepped.selectExpr(
            "CAST(l_suppkey AS BIGINT) AS suppkey",
            "n",
            "k",
            "round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat",
            f"{_WILSON_LB} AS wilson_lb",
        )
        .orderBy(F.col("wilson_lb").desc(), "suppkey")
        .limit(_WILSON_TOP)
    )


# ---------------------------------------------------------------------------
# q_psi — population stability index between two order-date eras
# ---------------------------------------------------------------------------

_PSI_SPLIT = "1995-06-01"

#: Laplace-smoothed shares and the per-bin PSI contribution, rounded
#: to integer NANO-units per bin BEFORE the global sum — float
#: addition is non-associative, so the distributed total is only
#: deterministic if every summand is an integer (the q_mutual_info
#: per-cell discipline). pa/pb texts are inlined verbatim on both
#: engines.
_PSI_PA = "((CAST(n_a AS DOUBLE) + 1.0) / (CAST(t_a AS DOUBLE) + CAST(nb AS DOUBLE)))"
_PSI_PB = "((CAST(n_b AS DOUBLE) + 1.0) / (CAST(t_b AS DOUBLE) + CAST(nb AS DOUBLE)))"
_PSI_CELL = (
    f"CAST(round(({_PSI_PA} - {_PSI_PB}) * ln({_PSI_PA} / {_PSI_PB})"
    f" * 1000000000) AS BIGINT)"
)


@query(
    "q_psi",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c,
               CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_PSI_SPLIT}'
                    THEN 0 ELSE 1 END AS era
        FROM orders
    ),
    binned AS (
        SELECT era,
               CASE WHEN c < 8 THEN c
                    ELSE length(bin(c)) * 8
                         + ((c >> (length(bin(c)) - 4)) & 7) END AS bin_id
        FROM c
    ),
    bins AS (
        SELECT bin_id,
               CAST(SUM(CASE WHEN era = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(SUM(CASE WHEN era = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b
        FROM binned GROUP BY bin_id
    ),
    tot AS (
        SELECT CAST(SUM(n_a) AS BIGINT) AS t_a,
               CAST(SUM(n_b) AS BIGINT) AS t_b,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM bins
    ),
    cells AS (
        SELECT {_PSI_CELL} AS contrib_nano FROM bins, tot
    )
    SELECT t.nb AS n_bins, t.t_a, t.t_b,
           round(CAST(SUM(c.contrib_nano) AS DOUBLE) / 1000000000.0, 6)
               AS psi
    FROM cells c, tot t
    GROUP BY t.nb, t.t_a, t.t_b
    """,
)
def q_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the order-value distribution
    between the pre- and post-1995-06 eras — the standard production
    drift gate (PSI < 0.1 stable, 0.1–0.25 moderate, > 0.25 the model
    needs retraining) a feature pipeline evaluates before reusing a
    trained model on a new data era.

    Binning is the same integer bit-arithmetic log histogram as
    q_quantile_sketch (no libm in bin membership); shares are
    Laplace-smoothed ratios of exact integer counts so an empty bin
    on one side never produces ln(0); and each bin's contribution is
    rounded to integer nano-units BEFORE the global sum — float
    addition is non-associative, so only an integer total is
    partitioning-independent (the q_mutual_info per-cell discipline).

    Scale: one scan bins both eras (map-side combine, ≤ ~500 bins);
    everything downstream is bin-bounded; one row out.
    """
    orders = load_table(spark, sf_dir, "orders")
    c = orders.selectExpr(
        "CAST(round(o_totalprice * 100) AS BIGINT) AS c",
        f"CASE WHEN CAST(o_orderdate AS DATE) < DATE '{_PSI_SPLIT}'"
        f" THEN 0 ELSE 1 END AS era",
    )
    bins = materialize(
        c.selectExpr(
            "era",
            "CASE WHEN c < 8 THEN c ELSE length(bin(c)) * 8"
            " + (shiftright(c, length(bin(c)) - 4) & 7) END AS bin_id",
        )
        .groupBy("bin_id")
        .agg(
            F.sum(F.expr("CASE WHEN era = 0 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_a"),
            F.sum(F.expr("CASE WHEN era = 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_b"),
        )
    )
    tot = bins.agg(
        F.sum("n_a").cast("long").alias("t_a"),
        F.sum("n_b").cast("long").alias("t_b"),
        F.count("*").cast("long").alias("nb"),
    )
    cells = bins.crossJoin(F.broadcast(tot)).selectExpr(
        "t_a", "t_b", "nb", f"{_PSI_CELL} AS contrib_nano"
    )
    return (
        cells.groupBy("nb", "t_a", "t_b")
        .agg(F.sum("contrib_nano").cast("long").alias("s"))
        .selectExpr(
            "nb AS n_bins",
            "t_a",
            "t_b",
            "round(CAST(s AS DOUBLE) / 1000000000.0, 6) AS psi",
        )
    )


# ---------------------------------------------------------------------------
# q_iv_woe — weight of evidence / information value of discount vs returns
# ---------------------------------------------------------------------------

#: WOE and IV contribution per bucket from exact integers, each
#: fixed-pointed to e6 BEFORE any cross-engine comparison; Laplace
#: +1 smoothing keeps ln() off zero.
_WOE = (
    "ln(((CAST(n_bad AS DOUBLE) + 1.0) / (CAST(t_bad AS DOUBLE)"
    " + CAST(nb AS DOUBLE)))"
    " / ((CAST(n_good AS DOUBLE) + 1.0) / (CAST(t_good AS DOUBLE)"
    " + CAST(nb AS DOUBLE))))"
)
_IV_CELL = (
    f"(((CAST(n_bad AS DOUBLE) + 1.0) / (CAST(t_bad AS DOUBLE)"
    f" + CAST(nb AS DOUBLE)))"
    f" - ((CAST(n_good AS DOUBLE) + 1.0) / (CAST(t_good AS DOUBLE)"
    f" + CAST(nb AS DOUBLE)))) * {_WOE}"
)


@query(
    "q_iv_woe",
    oracle=f"""
    WITH b AS (
        SELECT CAST(round(l_discount * 100) AS BIGINT) AS bucket,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad
        FROM lineitem
    ),
    bins AS (
        SELECT bucket,
               CAST(SUM(1 - bad) AS BIGINT) AS n_good,
               CAST(SUM(bad) AS BIGINT) AS n_bad
        FROM b GROUP BY bucket
    ),
    tot AS (
        SELECT CAST(SUM(n_good) AS BIGINT) AS t_good,
               CAST(SUM(n_bad) AS BIGINT) AS t_bad,
               CAST(COUNT(*) AS BIGINT) AS nb
        FROM bins
    )
    SELECT bucket, n_good, n_bad,
           CAST(round({_WOE} * 1000000) AS BIGINT) AS woe_e6,
           CAST(round({_IV_CELL} * 1000000000) AS BIGINT) AS iv_nano
    FROM bins, tot
    ORDER BY bucket
    """,
)
def q_iv_woe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence and information-value contribution of the
    discount bucket as a predictor of returns — the credit-scoring
    feature screen (IV < 0.02 useless, > 0.3 strong) run before any
    model training; WOE per bucket is also the canonical monotone
    encoding for scorecard models.

    Buckets are the 11 exact integer discount levels; good/bad counts
    are one partial-agg'd shuffle; WOE and the IV contribution are
    shared ln-formula texts over Laplace-smoothed exact-integer
    shares, fixed-pointed (e6 / nano) before compare so no float sum
    ever crosses engines.

    Scale: lineitem collapses to |buckets| rows in one map-side-
    combined pass; the totals join back as a broadcast scalar.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bins = materialize(
        li.selectExpr(
            "CAST(round(l_discount * 100) AS BIGINT) AS bucket",
            "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS bad",
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.expr("1 - bad")).cast("long").alias("n_good"),
            F.sum("bad").cast("long").alias("n_bad"),
        )
    )
    tot = bins.agg(
        F.sum("n_good").cast("long").alias("t_good"),
        F.sum("n_bad").cast("long").alias("t_bad"),
        F.count("*").cast("long").alias("nb"),
    )
    return (
        bins.crossJoin(F.broadcast(tot))
        .selectExpr(
            "bucket",
            "n_good",
            "n_bad",
            f"CAST(round({_WOE} * 1000000) AS BIGINT) AS woe_e6",
            f"CAST(round({_IV_CELL} * 1000000000) AS BIGINT) AS iv_nano",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q_group_trend — per-nation monthly revenue OLS slope (grouped models)
# ---------------------------------------------------------------------------

#: Per-group slope/intercept from the five exact integer sums — the
#: grouped-closed-form-fit shape: thousands of models, one aggregate.
_GT_SLOPE = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)


@query(
    "q_group_trend",
    oracle=f"""
    WITH monthly AS (
        SELECT n.n_name,
               datediff('month', DATE '1992-01-01',
                        CAST(o.o_orderdate AS DATE)) AS m,
               CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_c
        FROM orders o
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        GROUP BY 1, 2
    ),
    s AS (
        SELECT n_name,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(m) AS BIGINT) AS sx,
               CAST(SUM(rev_c) AS HUGEINT) AS sy,
               CAST(SUM(m * m) AS BIGINT) AS sxx,
               CAST(SUM(CAST(m AS HUGEINT) * rev_c) AS HUGEINT) AS sxy
        FROM monthly GROUP BY n_name
    )
    SELECT n_name AS nation, n AS n_months,
           round({_GT_SLOPE} / 100.0, 4) AS slope_per_month,
           round((CAST(sy AS DOUBLE) - {_GT_SLOPE} * CAST(sx AS DOUBLE))
                 / CAST(n AS DOUBLE) / 100.0, 4) AS intercept
    FROM s ORDER BY nation
    """,
)
def q_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation revenue trend: an OLS line (slope $/month and
    intercept) fitted to each nation's monthly revenue series — the
    GROUPED-model shape where a 100 TB engine fits thousands of tiny
    closed-form models in ONE aggregate pass, instead of looping a
    fitting library over groups.

    Each group's five sufficient statistics (n, Σm, Σy, Σm², Σmy)
    are exact integer sums (month index is a small int; revenue is
    cents in DECIMAL(38,0)/HUGEINT), and slope/intercept are shared
    closed-form texts evaluated per group row — the q_ols_regression
    discipline, vectorized across groups.

    Scale: orders joins the broadcast customer→nation dims, collapses
    to (nation, month) with one partial-agg'd shuffle, then to
    |nations| rows; the fit costs nothing.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    monthly = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders["o_custkey"] == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            "n_name",
            F.expr(
                "datediff(month, DATE '1992-01-01',"
                " CAST(o_orderdate AS DATE))"
            ).alias("m"),
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("rev_c")
        )
    )
    s = monthly.groupBy("n_name").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("m").cast("long").alias("sx"),
        F.sum(F.col("rev_c").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("m * m")).cast("long").alias("sxx"),
        F.sum(F.expr("CAST(m AS DECIMAL(38,0)) * rev_c")).alias("sxy"),
    )
    return s.selectExpr(
        "n_name AS nation",
        "n AS n_months",
        f"round({_GT_SLOPE} / 100.0, 4) AS slope_per_month",
        f"round((CAST(sy AS DOUBLE) - {_GT_SLOPE} * CAST(sx AS DOUBLE))"
        f" / CAST(n AS DOUBLE) / 100.0, 4) AS intercept",
    ).orderBy("nation")


# ---------------------------------------------------------------------------
# q_group_gini — per-nation Gini of supplier revenue (grouped ranks)
# ---------------------------------------------------------------------------

_GG_FINAL = [
    "nation",
    "CAST(n AS BIGINT) AS n_suppliers",
    "round(CAST(tot AS DOUBLE) / 100.0, 2) AS total_revenue",
    "round(2.0 * CAST(wsum AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(tot AS DOUBLE))"
    " - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 6) AS gini",
]


@query(
    "q_group_gini",
    oracle=f"""
    WITH rev AS (
        SELECT n.n_name AS nation, l.l_suppkey,
               CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT nation, cents,
               ROW_NUMBER() OVER (PARTITION BY nation
                                  ORDER BY cents, l_suppkey) AS rk
        FROM rev
    ),
    s AS (
        SELECT nation,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(cents) AS HUGEINT) AS tot,
               CAST(SUM(CAST(rk AS HUGEINT) * cents) AS HUGEINT) AS wsum
        FROM ranked GROUP BY nation
    )
    SELECT {", ".join(_GG_FINAL)} FROM s ORDER BY nation
    """,
)
def q_group_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of supplier revenue concentration —
    the grouped version of q_gini: which procurement markets are
    dominated by a few suppliers and which are flat.

    Ranks are per-GROUP (window PARTITIONED BY nation — parallelism
    follows the group key, never one task; the global-rank prefix-scan
    machinery is unnecessary when a natural partition key exists).
    Within-group tie order is arbitrary and harmless (Σ rk·x is
    invariant under permuting ranks among equal x — the q_gini
    argument, per group); all sums are exact integers and the Gini is
    one shared formula text.

    Scale: lineitem collapses to (nation, supplier) with one
    partial-agg'd shuffle through broadcast dims; the window sorts
    |suppliers-per-nation| rows per task.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            li["l_suppkey"] == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "l_suppkey")
        .agg(
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("nation").orderBy("cents", "l_suppkey")
    ranked = rev.withColumn("rk", F.row_number().over(w))
    s = ranked.groupBy("nation").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("tot"),
        F.sum(F.expr("CAST(rk AS DECIMAL(38,0)) * cents")).alias("wsum"),
    )
    return s.selectExpr(*_GG_FINAL).orderBy("nation")


# ---------------------------------------------------------------------------
# q_abc_analysis — ABC classification of parts by cumulative revenue
# ---------------------------------------------------------------------------

#: Class boundaries in percent of cumulative revenue share.
_ABC_A, _ABC_B = 80, 95


@query(
    "q_abc_analysis",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    ),
    ranked AS (
        SELECT cents,
               SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum,
               SUM(cents) OVER () AS tot
        FROM rev
    ),
    classed AS (
        SELECT CASE WHEN 100 * CAST(cum AS HUGEINT)
                         <= {_ABC_A} * CAST(tot AS HUGEINT) THEN 'A'
                    WHEN 100 * CAST(cum AS HUGEINT)
                         <= {_ABC_B} * CAST(tot AS HUGEINT) THEN 'B'
                    ELSE 'C' END AS abc_class,
               cents
        FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(CAST(cents AS HUGEINT)) AS DOUBLE) / 100.0, 2)
               AS revenue
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts whose cumulative share of
    revenue (descending) stays within 80% are class A, within 95%
    class B, the tail class C — the Pareto workhorse of assortment
    and warehouse-slotting decisions, reported as counts and revenue
    per class.

    The cumulative share needs a GLOBAL running sum in descending
    revenue order: it rides the two-phase distributed prefix sum
    (`functions/prefix.py global_running_sum` over the desc-rank
    order key), never a single-task global-sort window; class
    membership is exact integer arithmetic (100·cum <= pct·tot).

    Scale: lineitem collapses to |parts| with one partial-agg'd
    shuffle; the prefix scan is two distributed phases; the class
    rollup is 3 rows.
    """
    from ..functions.prefix import global_row_number, global_running_sum

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("cents")
    )
    # Unique ascending order key encoding (desc cents, asc partkey):
    # the prefix machinery cumulates over one ordered column.
    ranked = global_row_number(
        rev, [F.col("cents").desc(), F.col("l_partkey")], "rk"
    )
    cum = global_running_sum(ranked, "rk", "cents", "cum")
    tot = rev.agg(F.sum(F.col("cents").cast("decimal(38,0)")).alias("tot"))
    classed = cum.crossJoin(F.broadcast(tot)).selectExpr(
        f"CASE WHEN 100 * CAST(cum AS DECIMAL(38,0))"
        f" <= {_ABC_A} * tot THEN 'A'"
        f" WHEN 100 * CAST(cum AS DECIMAL(38,0))"
        f" <= {_ABC_B} * tot THEN 'B'"
        f" ELSE 'C' END AS abc_class",
        "cents",
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.expr(
                "round(CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DOUBLE)"
                " / 100.0, 2)"
            ).alias("revenue"),
        )
        .orderBy("abc_class")
    )


# ---------------------------------------------------------------------------
# q_group_corr — per-brand discount/quantity correlation (grouped stats)
# ---------------------------------------------------------------------------


@query(
    "q_group_corr",
    oracle=f"""
    WITH b AS (
        SELECT p.p_brand,
               CAST(round(l.l_discount * 100) AS BIGINT) AS x,
               CAST(l.l_quantity AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    s AS (
        SELECT p_brand,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS s_x,
               CAST(SUM(y) AS DOUBLE) AS s_y,
               CAST(SUM(x * x) AS DOUBLE) AS s_x_x,
               CAST(SUM(y * y) AS DOUBLE) AS s_y_y,
               CAST(SUM(x * y) AS DOUBLE) AS s_x_y
        FROM b GROUP BY p_brand
    )
    SELECT p_brand AS brand, CAST(n AS BIGINT) AS n_lines,
           {{corr}} AS corr_discount_qty
    FROM s ORDER BY brand
    """.replace("{corr}", _corr_formula("x", "y")),
)
def q_group_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand Pearson correlation between discount and quantity —
    the grouped-sufficient-statistics shape again (thousands of
    correlations from ONE aggregate pass), answering 'for which
    brands does discounting actually move volume?'.

    Six exact integer sums per brand (map-side combined through the
    broadcast part join), then the module-shared ``_corr_formula``
    text per group row — identical float ops cross-engine, NULLIF-
    guarded for constant columns.

    Scale: one broadcast dim join, one partial-agg'd shuffle to
    |brands| rows; the formula costs nothing.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    b = li.join(
        F.broadcast(part.select("p_partkey", "p_brand")),
        li["l_partkey"] == F.col("p_partkey"),
    ).select(
        "p_brand",
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("x"),
        F.expr("CAST(l_quantity AS BIGINT)").alias("y"),
    )

    def dsum(e):
        return F.sum(e.cast("decimal(38,0)")).cast("double")

    s = b.groupBy("p_brand").agg(
        F.count("*").cast("double").alias("n"),
        dsum(F.col("x")).alias("s_x"),
        dsum(F.col("y")).alias("s_y"),
        dsum(F.col("x") * F.col("x")).alias("s_x_x"),
        dsum(F.col("y") * F.col("y")).alias("s_y_y"),
        dsum(F.col("x") * F.col("y")).alias("s_x_y"),
    )
    return s.selectExpr(
        "p_brand AS brand",
        "CAST(n AS BIGINT) AS n_lines",
        f"{_corr_formula('x', 'y')} AS corr_discount_qty",
    ).orderBy("brand")


# ---------------------------------------------------------------------------
# q_partial_corr — partial correlation qty ~ price, controlling discount
# ---------------------------------------------------------------------------

#: Raw pairwise correlations from the same exact-sum columns as
#: q_feature_corr, UNROUNDED (rounding belongs at the output, not
#: inside the composition).
def _rawcorr(a: str, b: str) -> str:
    return (
        f"((n * s_{a}_{b} - s_{a} * s_{b}) / "
        f"NULLIF(sqrt((n * s_{a}_{a} - s_{a} * s_{a}) * "
        f"(n * s_{b}_{b} - s_{b} * s_{b})), 0.0))"
    )


_PC_RXY = _rawcorr("qty", "price_c")
_PC_RXZ = _rawcorr("qty", "disc_c")
_PC_RYZ = _rawcorr("price_c", "disc_c")
_PC_FINAL = (
    "CAST(n AS BIGINT) AS n_rows",
    f"round({_PC_RXY}, 6) + 0.0 AS corr_raw",
    f"round(({_PC_RXY} - {_PC_RXZ} * {_PC_RYZ})"
    f" / NULLIF(sqrt((1.0 - {_PC_RXZ} * {_PC_RXZ})"
    f" * (1.0 - {_PC_RYZ} * {_PC_RYZ})), 0.0), 6) + 0.0"
    " AS corr_partial",
)


def _partial_corr_oracle() -> str:
    feats = ", ".join(f"{e} AS {k}" for k, e in _CORR_FEATS.items())
    sums = ["CAST(COUNT(*) AS DOUBLE) AS n"]
    for a in ("qty", "price_c", "disc_c"):
        sums.append(f"CAST(SUM({a}) AS DOUBLE) AS s_{a}")
        sums.append(f"CAST(SUM({a} * {a}) AS DOUBLE) AS s_{a}_{a}")
    for a, b in (
        ("qty", "price_c"),
        ("qty", "disc_c"),
        ("price_c", "disc_c"),
    ):
        sums.append(f"CAST(SUM({a} * {b}) AS DOUBLE) AS s_{a}_{b}")
    return f"""
    WITH b AS (SELECT {feats} FROM lineitem),
    s AS (SELECT {", ".join(sums)} FROM b)
    SELECT {", ".join(_PC_FINAL)} FROM s
    """


@query("q_partial_corr", oracle=_partial_corr_oracle())
def q_partial_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity and extended price CONTROLLING
    for discount — the confounder-adjusted association the raw
    q_feature_corr matrix cannot show (discount correlates with both,
    so the marginal qty↔price correlation conflates the discount
    pathway). Reports raw and partial side by side; a large gap is
    the Simpson's-paradox warning that grouped analyses (q_group_corr)
    should be consulted.

    Same exactness posture as q_feature_corr: one fact-scale scan to
    exact DECIMAL(38,0)/HUGEINT moment sums, then the first-order
    partial-correlation identity (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²))
    as one shared text over those sums. One row out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        *[
            F.expr(_CORR_FEATS[k]).alias(k)
            for k in ("qty", "price_c", "disc_c")
        ]
    )
    aggs = [F.count("*").cast("double").alias("n")]
    for a in ("qty", "price_c", "disc_c"):
        aggs.append(
            F.sum(F.col(a).cast("decimal(38,0)")).cast("double").alias(f"s_{a}")
        )
        aggs.append(
            F.sum((F.col(a) * F.col(a)).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s_{a}_{a}")
        )
    for a, b in (
        ("qty", "price_c"),
        ("qty", "disc_c"),
        ("price_c", "disc_c"),
    ):
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast("decimal(38,0)"))
            .cast("double")
            .alias(f"s_{a}_{b}")
        )
    s = base.agg(*aggs)
    return s.selectExpr(*_PC_FINAL)


# ---------------------------------------------------------------------------
# q_simpson_flip — Simpson's-paradox detector: group vs pooled corr
# ---------------------------------------------------------------------------

#: Correlation text over prefixed sum columns (g_* per group, p_* pooled).
def _sf_corr(p: str) -> str:
    return (
        f"(({p}n * {p}sxy - {p}sx * {p}sy) / "
        f"NULLIF(sqrt(({p}n * {p}sxx - {p}sx * {p}sx) * "
        f"({p}n * {p}syy - {p}sy * {p}sy)), 0.0))"
    )


_SF_FINAL = (
    "l_returnflag AS stratum",
    "CAST(g_n AS BIGINT) AS n_rows",
    f"round({_sf_corr('g_')}, 6) + 0.0 AS corr_group",
    f"round({_sf_corr('p_')}, 6) + 0.0 AS corr_pooled",
    f"CAST(CASE WHEN {_sf_corr('g_')} * {_sf_corr('p_')} < 0"
    " THEN 1 ELSE 0 END AS BIGINT) AS sign_flipped",
)

_SF_X = "cast(round(l_discount * 100) as bigint)"
_SF_Y = "cast(l_quantity as bigint)"


@query(
    "q_simpson_flip",
    oracle=f"""
    WITH b AS (
        SELECT l_returnflag, {_SF_X} AS x, {_SF_Y} AS y FROM lineitem
    ),
    g AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS DOUBLE) AS g_n,
               CAST(SUM(x) AS DOUBLE) AS g_sx,
               CAST(SUM(y) AS DOUBLE) AS g_sy,
               CAST(SUM(x * y) AS DOUBLE) AS g_sxy,
               CAST(SUM(x * x) AS DOUBLE) AS g_sxx,
               CAST(SUM(y * y) AS DOUBLE) AS g_syy
        FROM b GROUP BY l_returnflag
    ),
    p AS (
        SELECT CAST(SUM(g_n) AS DOUBLE) AS p_n,
               CAST(SUM(g_sx) AS DOUBLE) AS p_sx,
               CAST(SUM(g_sy) AS DOUBLE) AS p_sy,
               CAST(SUM(g_sxy) AS DOUBLE) AS p_sxy,
               CAST(SUM(g_sxx) AS DOUBLE) AS p_sxx,
               CAST(SUM(g_syy) AS DOUBLE) AS p_syy
        FROM g
    )
    SELECT {", ".join(_SF_FINAL)} FROM g CROSS JOIN p
    ORDER BY stratum
    """,
)
def q_simpson_flip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen: per-returnflag discount↔quantity
    correlation next to the pooled correlation, with a sign-flip flag
    — the one-line detector for "the aggregate trend reverses inside
    every stratum", which decides whether q_feature_corr's pooled
    matrix can be trusted or q_group_corr's stratified view is the
    truthful one.

    Exactness: the same sufficient-statistics discipline as
    q_feature_corr (exact integer moment sums per group; the pooled
    sums are the exact integer totals of the group sums — wait-free
    reuse, not a second scan), with group and pooled correlations
    composed in one shared text. Doubles only after the sums.

    Scale: ONE fact-scan hash aggregate to |returnflag| rows; the
    pooled row is a sum over those rows; readout is a broadcast
    cross of 3 × 1.
    """
    li = load_table(spark, sf_dir, "lineitem")
    b = li.selectExpr("l_returnflag", f"{_SF_X} AS x", f"{_SF_Y} AS y")
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    g = b.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("g_n"),
        F.sum(xd).cast("double").alias("g_sx"),
        F.sum(yd).cast("double").alias("g_sy"),
        F.sum(xd * F.col("y")).cast("double").alias("g_sxy"),
        F.sum(xd * F.col("x")).cast("double").alias("g_sxx"),
        F.sum(yd * F.col("y")).cast("double").alias("g_syy"),
    )
    p = g.agg(
        F.sum("g_n").alias("p_n"),
        F.sum("g_sx").alias("p_sx"),
        F.sum("g_sy").alias("p_sy"),
        F.sum("g_sxy").alias("p_sxy"),
        F.sum("g_sxx").alias("p_sxx"),
        F.sum("g_syy").alias("p_syy"),
    )
    return (
        g.crossJoin(F.broadcast(p)).selectExpr(*_SF_FINAL).orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# q_gmm_em — 2-component Gaussian mixture EM on the value histogram
# ---------------------------------------------------------------------------

_GMM_ITERS = 3
#: Fixed deterministic initialization (cents / cents²).
_GMM_INIT = (
    "SELECT CAST(2000.0 AS DOUBLE) AS mu1, CAST(30000.0 AS DOUBLE) AS mu2,"
    " CAST(100000000.0 AS DOUBLE) AS v1, CAST(100000000.0 AS DOUBLE) AS v2,"
    " CAST(0.5 AS DOUBLE) AS pi"
)

#: E-step responsibility of component 1 for histogram value c — ONE
#: shared text. The underflow guard (both densities 0 far in the
#: tails) assigns by distance, deterministically.
_GMM_D1 = "(exp(-(cc - mu1) * (cc - mu1) / (2.0 * v1)) / sqrt(v1))"
_GMM_D2 = "(exp(-(cc - mu2) * (cc - mu2) / (2.0 * v2)) / sqrt(v2))"
_GMM_R = (
    f"CASE WHEN pi * {_GMM_D1} + (1.0 - pi) * {_GMM_D2} > 0.0"
    f" THEN pi * {_GMM_D1} / (pi * {_GMM_D1} + (1.0 - pi) * {_GMM_D2})"
    " WHEN abs(cc - mu1) <= abs(cc - mu2) THEN 1.0 ELSE 0.0 END"
).replace("cc", "CAST(c AS DOUBLE)")

#: M-step updates from the weighted sums (n1,s1,q1) and the fixed
#: totals (nn,ss,qq). Variance floored at 100 cents² so a component
#: can never collapse to a spike (guards exp() underflow next round).
_GMM_UPD = (
    "n1 / nn AS pi",
    "s1 / n1 AS mu1",
    "greatest(q1 / n1 - (s1 / n1) * (s1 / n1), 100.0) AS v1",
    "(ss - s1) / (nn - n1) AS mu2",
    "greatest((qq - q1) / (nn - n1)"
    " - ((ss - s1) / (nn - n1)) * ((ss - s1) / (nn - n1)), 100.0) AS v2",
)

_GMM_FINAL = (
    "round(pi, 6) + 0.0 AS weight_1",
    "round(mu1 / 100.0, 4) + 0.0 AS mean_1",
    "round(mu2 / 100.0, 4) + 0.0 AS mean_2",
    "round(sqrt(v1) / 100.0, 4) + 0.0 AS sigma_1",
    "round(sqrt(v2) / 100.0, 4) + 0.0 AS sigma_2",
)


def _gmm_oracle() -> str:
    parts = [
        f"""
    WITH h AS (
        SELECT {_CENTS_SM} AS c, CAST(COUNT(*) AS BIGINT) AS m
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(m) AS DOUBLE) AS nn,
               CAST(SUM(CAST(m AS HUGEINT) * c) AS DOUBLE) AS ss,
               CAST(SUM(CAST(m AS HUGEINT) * c * c) AS DOUBLE) AS qq
        FROM h
    ),
    p0 AS ({_GMM_INIT})"""
    ]
    for k in range(1, _GMM_ITERS + 1):
        parts.append(f""",
    cells{k} AS (
        SELECT c, m, {_GMM_R} AS r FROM h CROSS JOIN p{k - 1}
    ),
    sums{k} AS (
        SELECT SUM(CAST(m AS DOUBLE) * r) AS n1,
               SUM(CAST(m AS DOUBLE) * r * CAST(c AS DOUBLE)) AS s1,
               SUM(CAST(m AS DOUBLE) * r * CAST(c AS DOUBLE)
                   * CAST(c AS DOUBLE)) AS q1
        FROM cells{k}
    ),
    p{k} AS (
        SELECT {", ".join(_GMM_UPD)} FROM sums{k} CROSS JOIN tot
    )""")
    parts.append(f"""
    SELECT {", ".join(_GMM_FINAL)} FROM p{_GMM_ITERS}
    """)
    return "".join(parts)


#: Cents text local to this query (mirrors hypothesis_tests._CENTS).
_CENTS_SM = "CAST(round(value * 100) AS BIGINT)"


@query("q_gmm_em", oracle=_gmm_oracle())
def q_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian-mixture EM over purchase values: 3
    synchronous EM iterations from a fixed deterministic init — the
    classic "is this price distribution a mix of two populations"
    readout (budget vs premium carts), and the mixture-model member
    of the iterative family (logreg GD, k-means IVF, DBSCAN, PCA
    power, BPE).

    The E-step never touches row-scale data: values collapse ONCE to
    the cents-domain histogram, so each iteration is one aggregate
    over domain-bounded cells with responsibilities from one shared
    text (underflow-guarded; variances floored so no component
    collapses). Float posture follows q_logreg_gd's documented
    exception: the weighted sums are double sums over ≤|domain| cells
    whose summation-order error (~cells·2⁻⁵³ relative) sits ten
    orders below the 1e-4 output rounding even compounded through 3
    iterations — asserted by the cross-engine oracle match.

    Scale: one fact-scan histogram build (map-side combined), then 3
    × one cell aggregate. The totals and the five parameters live on
    the driver (``session.one_row``): each step reads them as typed
    literals, runs its M-step update in the same job as its sums, and
    returns only the new parameters.
    """
    ev = load_table(spark, sf_dir, "events")
    h = materialize(
        ev.filter(F.col("event_type") == "purchase")
        .selectExpr(f"{_CENTS_SM} AS c")
        .groupBy("c")
        .agg(F.count("*").cast("long").alias("m"))
    )
    tot = one_row(h.agg(
        F.sum("m").cast("double").alias("nn"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("c"))
        .cast("double")
        .alias("ss"),
        F.sum(
            F.col("m").cast("decimal(38,0)") * F.col("c") * F.col("c")
        )
        .cast("double")
        .alias("qq"),
    ))
    params = one_row(spark.sql(_GMM_INIT))
    for _ in range(_GMM_ITERS):
        cells = h.withColumns(params).selectExpr("c", "m", f"{_GMM_R} AS r")
        sums = cells.agg(
            F.expr("SUM(CAST(m AS DOUBLE) * r)").alias("n1"),
            F.expr("SUM(CAST(m AS DOUBLE) * r * CAST(c AS DOUBLE))").alias(
                "s1"
            ),
            F.expr(
                "SUM(CAST(m AS DOUBLE) * r * CAST(c AS DOUBLE)"
                " * CAST(c AS DOUBLE))"
            ).alias("q1"),
        )
        params = one_row(sums.withColumns(tot).selectExpr(*_GMM_UPD))
    return spark.range(1).withColumns(params).selectExpr(*_GMM_FINAL)
