"""Extended relational surface: TPC-H-style multi-join analytics, range
(interval) joins, scalar subqueries, time-range window frames, GROUPING
SETS, and unpivot.

These widen SURVEY.md §2.3's additive categories beyond the first wave in
``relational.py``. Same cross-engine parity rules apply (see
``relational.py`` module docstring): decimal-exact money arithmetic,
deterministic tiebreaks, ``CAST(SUM(int) AS BIGINT)`` in oracles to dodge
DuckDB's HUGEINT, and gaps compared at microsecond precision.

Scale posture (100 TB): every join here either broadcasts a bounded dim
(nation/supplier/part at fixed or sub-fact scale) or shuffles on its join
key; the interval join is the bucketed equi-join form (never a theta
join); window frames partition by a high-cardinality key (user_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.graph import bfs_levels, count_triangles, degrees, sym_edges
from ..session import materialize
from ..sources.tables import load_table
from .graph_common import capped_po, copurchase_edges, po_sql
from .registry import query

from .money import DEC, _dec, _rev  # noqa: F401 - shared money idiom


# ---------------------------------------------------------------------------
# TPC-H-style multi-join analytics
# ---------------------------------------------------------------------------


@query(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,4))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
               AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE year(l_shipdate) IN (1996, 1997)
    GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: shipping volume between nation pairs per year.

    Six-table join. supplier/nation are bounded -> broadcast; the
    lineitem<->orders<->customer chain shuffles on its keys. The year
    filter pushes into the parquet scan; nation is joined twice under
    different aliases (supplier side and customer side).
    """
    # year(col) IN (...) is not a pushable predicate; the equivalent
    # range reaches the parquet scan (row-group pruning at scale).
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@query(
    "q12_priority_by_status",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style: join + conditional aggregation on the joined side.

    The CASE runs on the orders column after a key join on orderkey —
    unlike q_case_agg this exercises conditional aggregation *across* a
    join boundary. Both filters push into the lineitem scan.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q14_promo_revenue",
    oracle="""
    SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(16,4))
                         * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))
                    ELSE CAST(0 AS DECIMAL(16,4)) END) AS DOUBLE)
           / CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,4))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
               AS promo_revenue_pct
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-02-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style: promo revenue share for one ship month.

    part is a bounded dimension (sub-fact scale) -> broadcast; the
    month filter pushes into the lineitem scan so the join sees ~1/72
    of the fact table. Both sums are decimal-exact; the final divide is
    the only double op, identical in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    zero = F.lit(0).cast(DEC)
    promo = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(zero)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(_rev()).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    oracle="""
    SELECT c_name, o.o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(16,4))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN customer ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o.o_orderkey
    GROUP BY c_name, o.o_orderkey, o_orderdate, o_totalprice
    HAVING SUM(CAST(l_quantity AS DECIMAL(16,4))) > 300
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: large-volume orders (agg -> HAVING -> join).

    Aggregates lineitem by orderkey FIRST (partial agg shrinks the
    shuffle to one row per order), filters on the decimal-exact sum,
    then joins the surviving keys to orders and customer — at 100 TB
    the HAVING keeps the join input tiny, so join order matters and is
    made explicit here rather than left to the optimizer.
    """
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 300)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            F.col("qty_dec").cast("double").alias("total_qty"),
        )
    )


@query(
    "q19_disjunctive_join",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,4))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 25)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 40)
       OR (p_type = 'PROMO' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_disjunctive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style: disjunctive mixed-table predicate over a join.

    The OR spans both tables, so it cannot be pushed below the join —
    the plan is an equi-join on partkey with the disjunction as a
    post-join filter (Catalyst additionally pushes derivable per-table
    bounds). part broadcasts.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 25)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & F.col("l_quantity").between(10, 40)
        )
        | (
            (F.col("p_type") == "PROMO")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(20, 50)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Range (interval) join — bucketed equi-join form
# ---------------------------------------------------------------------------

_RANGE_US = 6 * 3600 * 1_000_000  # 6-hour window, microseconds


@query(
    "q_range_join",
    oracle=f"""
    SELECT c.event_id AS click_id, COUNT(*) AS n_purchases
    FROM events c
    JOIN events p ON p.user_id = c.user_id
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
      AND epoch_us(p.ts) >  epoch_us(c.ts)
      AND epoch_us(p.ts) <= epoch_us(c.ts) + {_RANGE_US}
    GROUP BY c.event_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 6h after each click, per click.

    Scale-safe form: instead of a theta join (quadratic per user), both
    sides are bucketed into window-sized time bins and equi-joined on
    (user_id, bin). A purchase in (t, t+W] lands in the click's bin or
    the next one, so the click side duplicates into exactly two bucket
    keys — bounded 2x fan-out — and the exact range predicate filters
    the equi-join output. Never compares events in distant buckets.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", us.alias("c_us"))
        .withColumn(
            "bin",
            F.explode(
                F.array(
                    (F.col("c_us") / _RANGE_US).cast("long"),
                    (F.col("c_us") / _RANGE_US).cast("long") + 1,
                )
            ),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        us.alias("p_us"),
        (us / _RANGE_US).cast("long").alias("p_bin"),
    )
    return (
        clicks.join(
            purchases,
            (clicks.user_id == purchases.p_user) & (clicks.bin == purchases.p_bin),
        )
        .filter(
            (F.col("p_us") > F.col("c_us"))
            & (F.col("p_us") <= F.col("c_us") + _RANGE_US)
        )
        .groupBy(F.col("event_id").alias("click_id"))
        .agg(F.count("*").alias("n_purchases"))
    )


# ---------------------------------------------------------------------------
# Scalar subquery
# ---------------------------------------------------------------------------


@query(
    "q_scalar_subquery",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS n_above_avg
    FROM orders
    WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS DOUBLE)
                                 / COUNT(*)
                          FROM orders)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (uncorrelated) subquery: orders above the global mean price.

    The single-row aggregate is broadcast into the filter (a 1-row
    crossJoin is Spark's scalar-subquery shape in the DataFrame API) —
    two passes over orders, no driver round-trip, no collect. The mean
    is a decimal-exact sum divided as double so both engines compare
    against bit-identical thresholds.
    """
    orders = load_table(spark, sf_dir, "orders")
    mean = orders.agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count("*")).alias("avg_price")
    )
    return (
        orders.crossJoin(F.broadcast(mean))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_above_avg"))
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Time-range window frame (RANGE BETWEEN over event time)
# ---------------------------------------------------------------------------


@query(
    "q_window_range_frame",
    oracle="""
    SELECT event_id,
           COUNT(*) OVER w AS n_last_hour,
           MAX(value) OVER w AS max_last_hour
    FROM (SELECT event_id, user_id, value, epoch_us(ts) AS us FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: per-user trailing-1h count and max.

    RANGE frame keyed on microsecond event time (never second-truncated
    ``cast("long")`` — see the sessionize precision rule). COUNT and
    MAX are exact cross-engine; no floating accumulation enters the
    hash. Partitioned by user_id, a high-cardinality key, so the
    window sort shards evenly at scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", F.unix_micros(F.col("ts")).alias("us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.max("value").over(w).alias("max_last_hour"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS + grouping() marker
# ---------------------------------------------------------------------------


@query(
    "q_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           CAST(SUM(CAST(l_quantity AS DECIMAL(16,4))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (a set rollup/cube can't express) +
    grouping() null-vs-subtotal disambiguation markers."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status,
               CAST(SUM(CAST(l_quantity AS DECIMAL(16,4))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# Unpivot (wide -> long)
# ---------------------------------------------------------------------------


@query(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'size' AS metric, CAST(p_size AS DOUBLE) AS metric_value
    FROM part
    UNION ALL
    SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS metric_value
    FROM part
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide->long) via ``stack`` — the inverse of q_pivot.

    stack() is a generator expression evaluated inside codegen: one
    scan, two output rows per input row, no shuffle at all.
    """
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE),"
            " 'retailprice', p_retailprice) AS (metric, metric_value)"
        ),
    )


# ---------------------------------------------------------------------------
# TPC-H-style batch 2: subquery-heavy patterns
# ---------------------------------------------------------------------------


@query(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style: EXISTS with a cross-table predicate.

    The correlated EXISTS becomes a left-semi join whose condition
    carries the extra l_shipdate > o_orderdate comparison — Catalyst
    plans the equi-part as the join key and the inequality as a join
    filter. The date range pushes into the orders scan.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > orders.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,4))
                    * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders   o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation   n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style: top-20 customers by returned-item revenue.

    returnflag filter pushes into the lineitem scan; nation broadcasts;
    the orderBy+limit plans as TakeOrderedAndProject (per-partition
    heaps — no global sort of the 1-row-per-customer aggregate).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q11_important_parts",
    oracle="""
    WITH pv AS (
        SELECT l_partkey,
               SUM(CAST(l_extendedprice AS DECIMAL(16,4))) AS value_dec
        FROM lineitem GROUP BY l_partkey
    ),
    total AS (SELECT SUM(value_dec) AS total_dec FROM pv)
    SELECT l_partkey AS partkey,
           CAST(value_dec AS DOUBLE) AS part_value
    FROM pv CROSS JOIN total
    WHERE CAST(value_dec AS DOUBLE) > 0.0008 * CAST(total_dec AS DOUBLE)
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style: parts whose value exceeds a fraction of the
    global total (aggregate HAVING against a scalar subquery).

    Both the per-part values and the grand total come from ONE
    aggregation (the total re-aggregates the 1-row-per-part relation,
    not the fact table); the scalar total is broadcast. Decimal sums
    keep both engines' thresholds bit-identical.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(_dec("l_extendedprice")).alias("value_dec")
    )
    total = pv.agg(F.sum("value_dec").alias("total_dec"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(
            F.col("value_dec").cast("double")
            > F.lit(0.0008) * F.col("total_dec").cast("double")
        )
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("value_dec").cast("double").alias("part_value"),
        )
    )


@query(
    "q13_order_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                           AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-style: customer order-count distribution.

    Two chained aggregations: a left outer join (the join filter lives
    in the ON clause, so customers with only urgent orders count as 0)
    -> count per customer -> count per count. The second agg's input is
    one row per customer — trivially small at any scale.
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy(cust.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    WITH pa AS (
        SELECT l_partkey AS pk,
               CAST(SUM(CAST(l_quantity AS DECIMAL(16,4))) AS DOUBLE) / COUNT(*) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(16,4))) AS DOUBLE) / 7.0
               AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pa   ON pa.pk = l.l_partkey
    WHERE p.p_type = 'SMALL'
      AND l.l_quantity < 0.5 * pa.avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17-style: correlated scalar subquery (per-part average
    quantity) decorrelated into an aggregate + self-join.

    The per-part aggregate shrinks lineitem to one row per part before
    the join back — the decorrelated plan Catalyst itself produces for
    the subquery form. Decimal sum / count keeps the 0.5*avg threshold
    bit-identical across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "SMALL")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(_dec("l_quantity")).cast("double") / F.count("*")).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.lit(0.5) * F.col("avg_qty"))
        .agg(
            (F.sum(_dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "q22_idle_customers",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(16,4))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(16,4))) AS DOUBLE)
                              / COUNT(*)
                       FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-style: rich-but-dormant customers (above-average
    balance, no orders since 2000) via scalar-subquery threshold +
    anti-join, grouped by market segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec("c_acctbal")).cast("double") / F.count("*")).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


@query(
    "q15_top_supplier",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(16,4))
                   * (CAST(1 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4))))
                   AS total_dec
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(total_dec AS DOUBLE) AS total_revenue
    FROM supplier
    JOIN rev ON s_suppkey = supplier_no
    WHERE total_dec = (SELECT MAX(total_dec) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15-style: top supplier by quarterly revenue.

    The revenue CTE is consumed twice (per-supplier rows AND the global
    max) — the decimal-exact max comparison returns ALL argmax rows on
    a tie, exactly as the reference SQL does. The 1-row max broadcasts;
    the supplier dim broadcasts onto the aggregated (small) side.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(_rev()).alias("total_dec")
    )
    mx = rev.agg(F.max("total_dec").alias("max_dec"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_dec") == F.col("max_dec"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Event funnel (ordered step matching per user)
# ---------------------------------------------------------------------------


@query(
    "q_event_funnel",
    oracle="""
    WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events),
    s1 AS (SELECT user_id, MIN(ts_us) AS t1 FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts_us) AS t2 FROM ev e
           JOIN s1 ON s1.user_id = e.user_id AND e.ts_us > s1.t1
           WHERE e.event_type = 'click' GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts_us) AS t3 FROM ev e
           JOIN s2 ON s2.user_id = e.user_id AND e.ts_us > s2.t2
           WHERE e.event_type = 'purchase' GROUP BY e.user_id)
    SELECT 1 AS step, 'view' AS step_name,
           (SELECT COUNT(*) FROM s1) AS n_users
    UNION ALL
    SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
    UNION ALL
    SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion funnel view -> click -> purchase: how many users
    completed each prefix of the step sequence IN ORDER (each step
    strictly after the user's first qualifying instant of the previous
    one).

    Each stage is a per-user aggregate joined to the previous stage's
    one-row-per-user relation — the relation shrinks monotonically, so
    stage k's join input is bounded by stage k-1's survivors. All
    timestamps compared as unix micros on both engines (the events
    parquet is nanos; Spark truncates to micros at load, so the oracle
    must compare at micros too). Step counts are driver-bounded (3
    rows).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts_us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts_us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts_us").alias("t3"))
    )

    def _count(df: DataFrame, step: int, name: str) -> DataFrame:
        return df.agg(
            F.lit(step).alias("step"),
            F.lit(name).alias("step_name"),
            F.count("*").alias("n_users"),
        )

    return (
        _count(s1, 1, "view")
        .unionAll(_count(s2, 2, "click"))
        .unionAll(_count(s3, 3, "purchase"))
    )


@query(
    "q_events_gapfill",
    oracle="""
    WITH RECURSIVE bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    hours(h) AS (
        SELECT lo FROM bounds
        UNION ALL
        SELECT h + INTERVAL 1 HOUR FROM hours, bounds WHERE h < hi
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT date_trunc('hour', ts) AS h, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    filled AS (
        SELECT s.h, s.event_type,
               COALESCE(hr.n, 0) AS n_events,
               CASE WHEN hr.n IS NULL THEN 1 ELSE 0 END AS gap
        FROM (SELECT h, event_type FROM hours, types) s
        LEFT JOIN hourly hr ON hr.h = s.h AND hr.event_type = s.event_type
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(gap AS INTEGER) AS gap,
           CAST(COALESCE(
               last_value(CASE WHEN gap = 0 THEN n_events END IGNORE NULLS)
                   OVER (PARTITION BY event_type ORDER BY h
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               0) AS BIGINT) AS locf_events
    FROM filled
    """,
)
def q_events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill (hypertable-style densified rollup): hourly
    event counts per type over a DENSE hour spine — missing buckets
    appear with n_events = 0, flagged ``gap = 1``, plus a
    last-observation-carried-forward column (``locf_events``) so
    downstream charting/feature code never special-cases holes.

    Spark plan: the spine is ``sequence(min_hour, max_hour, 1 hour)``
    exploded from a single aggregated row, cross-joined (broadcast
    nested loop over a bounded side) with the distinct event types,
    then left-joined to the hourly aggregate. LOCF is
    ``last(value, ignorenulls=True)`` over an explicit ROWS frame.

    Scale: the spine is |hours| x |types| — a function of the TIME
    RANGE and type cardinality, not the row count, so it stays tiny at
    100 TB; the only data-sized operation is the hourly pre-aggregation
    (one shuffle, map-side combine). The LOCF window partitions by
    event_type over the spine, not the raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("h"), "event_type"
    ).agg(F.count("*").alias("n"))
    spine_h = (
        ev.agg(
            F.date_trunc("hour", F.min("ts")).alias("lo"),
            F.date_trunc("hour", F.max("ts")).alias("hi"),
        )
        .select(
            F.explode(
                F.sequence("lo", "hi", F.expr("interval 1 hour"))
            ).alias("h")
        )
    )
    spine = ev.select("event_type").distinct().crossJoin(F.broadcast(spine_h))
    filled = spine.join(hourly, ["h", "event_type"], "left").select(
        "h",
        "event_type",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        F.when(F.col("n").isNull(), 1).otherwise(0).alias("gap"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    locf = F.last(
        F.when(F.col("gap") == 0, F.col("n_events")), ignorenulls=True
    ).over(w)
    return filled.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n_events",
        "gap",
        F.coalesce(locf, F.lit(0)).cast("long").alias("locf_events"),
    )


@query(
    "q_value_histogram",
    oracle="""
    WITH b AS (
        SELECT event_type,
               CAST(FLOOR(CAST(value AS DECIMAL(16,4)) / 25) AS INTEGER) AS bucket,
               CAST(value AS DECIMAL(16,4)) AS v
        FROM events
    )
    SELECT event_type, bucket,
           bucket * 25 AS lo,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(v) AS DOUBLE) AS total_value
    FROM b GROUP BY 1, 2
    """,
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values (width 25) per event type.

    Bucketing is done in DECIMAL arithmetic — ``floor(dec(16,4) / 25)``
    is mathematically exact in both engines, so bucket edges can never
    flip on float noise (the repo-wide decimal-money idiom applied to
    binning). One shuffle on the bounded (type x bucket) key with
    map-side combine; output is |types| x |buckets| rows regardless of
    event count — the distributed-histogram shape that works at 100 TB.
    """
    ev = load_table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(16,4)")
    return (
        ev.select(
            "event_type",
            F.floor(vdec / 25).cast("int").alias("bucket"),
            vdec.alias("v"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("v").cast("double").alias("total_value"),
        )
        .select(
            "event_type",
            "bucket",
            (F.col("bucket") * 25).alias("lo"),
            "n_events",
            "total_value",
        )
    )


@query(
    "q_window_ntile",
    oracle="""
    WITH per_user AS (
        SELECT event_type, user_id,
               SUM(CAST(value AS DECIMAL(16,4))) AS total_value
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, user_id,
           CAST(total_value AS DOUBLE) AS total_value,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
           round(PERCENT_RANK() OVER w, 6) AS pct_rank,
           round(CUME_DIST() OVER w, 6) AS cume
    FROM per_user
    WINDOW w AS (PARTITION BY event_type
                 ORDER BY total_value DESC, user_id)
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank windows: per event type, rank users by total
    spend and attach quartile (NTILE), PERCENT_RANK and CUME_DIST.

    The ORDER BY carries a user_id tiebreak so the total order — and
    therefore every positional function — is deterministic across
    engines; the decimal pre-aggregate keeps the sort key exact, and
    the two ratio outputs are rounded at 6 decimals on both sides.
    One shuffle for the (type, user) aggregate, one for the per-type
    window; partitions are per-type — bounded skew at scale since the
    window input is user-cardinality, not event-cardinality.
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast("decimal(16,4)")).alias("tv")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("tv").desc(), F.col("user_id")
    )
    return per_user.select(
        "event_type",
        "user_id",
        F.col("tv").cast("double").alias("total_value"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


@query(
    "q_cdc_merge",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus,
               CAST(o_totalprice AS DECIMAL(16,4)) AS price
        FROM orders WHERE o_orderkey % 3 <> 0
    ),
    changes AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'D' ELSE 'U' END AS op,
               o_orderstatus,
               CAST(CAST(o_totalprice AS DECIMAL(16,4)) * CAST(1.1 AS DECIMAL(4,2))
                    AS DECIMAL(16,4)) AS price
        FROM orders WHERE o_orderkey % 2 = 0
    ),
    merged AS (
        SELECT COALESCE(c.o_orderkey, b.o_orderkey) AS o_orderkey,
               COALESCE(c.o_orderstatus, b.o_orderstatus) AS o_orderstatus,
               COALESCE(c.price, b.price) AS price,
               CASE WHEN c.o_orderkey IS NULL THEN 'kept'
                    WHEN b.o_orderkey IS NULL THEN 'inserted'
                    ELSE 'updated' END AS change
        FROM base b FULL OUTER JOIN changes c ON c.o_orderkey = b.o_orderkey
        WHERE c.op IS NULL OR c.op <> 'D'
    )
    SELECT o_orderkey, o_orderstatus,
           CAST(price AS DOUBLE) AS price, change
    FROM merged
    """,
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (MERGE INTO semantics as a batch plan): apply a
    changeset of upserts and deletes onto a base snapshot via ONE
    full-outer join on the key — unmatched base rows are kept,
    matched 'U' rows take the change's values, 'D' rows are dropped,
    and change-only keys are inserts. The changeset here is derived
    deterministically from the fixture (even keys are upserts with a
    10% price bump in exact DECIMAL arithmetic; every 10th key is a
    delete) so both engines construct identical inputs.

    Scale: one shuffle on the merge key for each side (or zero with
    bucketed base + changes, see sources/bucketed.py); the WHERE
    prunes deletes before the project. This is the standard
    incremental-snapshot maintenance pattern (no row-wise driver loop,
    no per-key lookups).
    """
    orders = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(16,4)")
    base = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", price.alias("price")
    )
    changes = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("c_orderkey"),
        F.when(F.col("o_orderkey") % 10 == 0, "D").otherwise("U").alias("op"),
        F.col("o_orderstatus").alias("c_status"),
        (price * F.lit(1.1).cast("decimal(4,2)"))
        .cast("decimal(16,4)")
        .alias("c_price"),
    )
    merged = base.join(
        changes, base.o_orderkey == changes.c_orderkey, "full_outer"
    ).filter(F.col("op").isNull() | (F.col("op") != "D"))
    return merged.select(
        F.coalesce("c_orderkey", "o_orderkey").alias("o_orderkey"),
        F.coalesce("c_status", "o_orderstatus").alias("o_orderstatus"),
        F.coalesce("c_price", "price").cast("double").alias("price"),
        F.when(F.col("c_orderkey").isNull(), "kept")
        .when(F.col("o_orderkey").isNull(), "inserted")
        .otherwise("updated")
        .alias("change"),
    )


@query(
    "q_retention_cohorts",
    oracle="""
    WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id),
    a AS (
        SELECT e.user_id,
               strftime(date_trunc('week', f.first_ts), '%Y-%m-%d') AS cohort_week,
               CAST(datediff('day',
                             CAST(date_trunc('week', f.first_ts) AS DATE),
                             CAST(e.ts AS DATE)) // 7 AS BIGINT) AS week_n
        FROM events e JOIN f USING (user_id)
    )
    SELECT cohort_week, week_n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
    FROM a
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of their
    FIRST event; n_active = distinct users from that cohort active in
    week_n (weeks since cohort start, day-exact integer arithmetic).

    Plan: one user-keyed agg for first-event timestamps, a user-keyed
    join back to the fact stream (co-partitioned — both sides shuffle
    on user_id once), then a (cohort, week) distinct-count. The cohort
    key space is tiny (weeks x weeks), so the final agg never skews;
    the distinct-count shuffle carries (cohort, week, user) triples —
    already deduplicated map-side by the partial aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = F.date_trunc("week", F.col("first_ts"))
    act = ev.join(firsts, "user_id").select(
        "user_id",
        F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
        F.floor(
            F.datediff(F.to_date("ts"), F.to_date(cohort)) / 7
        ).cast("long").alias("week_n"),
    )
    return (
        act.groupBy("cohort_week", "week_n")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
        .orderBy("cohort_week", "week_n")
    )


@query(
    "q_scd2_history",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    ),
    versioned AS (
        SELECT user_id, event_type,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(LEAD(ts) OVER w2, '%Y-%m-%d %H:%M:%S') AS valid_to,
               CAST(ROW_NUMBER() OVER w2 AS BIGINT) AS version_n
        FROM changes
        WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, version_n, event_type, valid_from, valid_to,
           CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM versioned
    ORDER BY user_id, version_n
    """,
)
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history: each run of identical
    event_type per user becomes one version row with
    [valid_from, valid_to) validity and an is_current flag on the open
    version — the standard warehouse history-table build, derived from
    an event stream in two window passes (change-point detection via
    lag, interval close via lead).

    Both windows partition on user_id — the natural event-data key, so
    one shuffle total; change rows are a small fraction of events, so
    the second window runs on the collapsed relation. Complements
    q_cdc_merge (which maintains the CURRENT snapshot; this maintains
    full history). Second-resolution string timestamps keep the oracle
    comparison exact.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
        .select("user_id", "event_type", "ts", "event_id")
    )
    # Same (ts, event_id) tiebreak as w: two change rows can share a
    # user's timestamp, and an ambiguous order would make version_n /
    # valid_to nondeterministic across runs and engines.
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    fmt = "yyyy-MM-dd HH:mm:ss"
    versioned = changes.select(
        "user_id",
        F.row_number().over(w2).cast("long").alias("version_n"),
        "event_type",
        F.date_format("ts", fmt).alias("valid_from"),
        F.date_format(F.lead("ts").over(w2), fmt).alias("valid_to"),
    )
    return versioned.select(
        "user_id",
        "version_n",
        "event_type",
        "valid_from",
        "valid_to",
        F.col("valid_to").isNull().cast("long").alias("is_current"),
    ).orderBy("user_id", "version_n")


@query(
    "q_mv_incremental",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(16,4))) AS DOUBLE)
               AS total_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_mv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view refresh: the standing aggregate
    over the OLD partition range merges with the partial aggregate of
    the NEW batch by combining mergeable states (counts add, decimal
    sums add) — union of two partial-state relations + one re-agg,
    never a rescan of the base data. The oracle is the full recompute,
    proving merged == recomputed.

    This is the maintenance loop every large rollup table runs at
    100 TB: the expensive input is only the delta; the standing state
    is one row per group. COUNT merges as SUM of partial counts; AVG
    and friends decompose the same way (sum, count); sketches
    (hll_union_agg) extend it to distinct counts.
    """
    orders = load_table(spark, sf_dir, "orders")
    cutoff = "1996-01-01"
    dec = F.col("o_totalprice").cast("decimal(16,4)")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count("*").alias("pn"),
            F.sum(dec).alias("ps"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))     # standing MV
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))   # new batch
    return (
        base.unionAll(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("pn").cast("long").alias("n_orders"),
            F.sum("ps").cast("double").alias("total_price"),
        )
        .orderBy("o_orderpriority")
    )


#: Timed-funnel step window + readout — defined BEFORE the
#: streaming_queries import below: the streaming funnel twin imports
#: these at its decoration time, which happens DURING that import
#: (mid-initialization of this module), so they must already exist.
_TF_WINDOW_MIN = 60

_TF_FINAL = (
    "CAST(n_users AS BIGINT) AS n_users",
    "CAST(n_view AS BIGINT) AS reached_view",
    "CAST(n_click AS BIGINT) AS reached_click",
    "CAST(n_purchase AS BIGINT) AS reached_purchase",
    "round(100.0 * CAST(n_click AS DOUBLE)"
    " / NULLIF(CAST(n_view AS DOUBLE), 0.0), 4) + 0.0 AS view_to_click_pct",
    "round(100.0 * CAST(n_purchase AS DOUBLE)"
    " / NULLIF(CAST(n_click AS DOUBLE), 0.0), 4) + 0.0"
    " AS click_to_purchase_pct",
)


from .streaming_queries import SESSION_ID_CTES  # noqa: E402 — shared oracle CTE


@query(
    "q_concurrent_sessions",
    oracle=f"""
    WITH {SESSION_ID_CTES},
    sessions AS (
        SELECT user_id, session_id,
               date_trunc('hour', MIN(ts)) AS h_start,
               date_trunc('hour', MAX(ts) + INTERVAL 30 MINUTE) AS h_end
        FROM numbered GROUP BY user_id, session_id
    ),
    spans AS (
        SELECT unnest(generate_series(h_start, h_end, INTERVAL 1 HOUR)) AS h
        FROM sessions
    )
    SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_active_sessions
    FROM spans
    GROUP BY h
    ORDER BY hour
    """,
)
def q_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap aggregation: per hour, how many sessions were
    ACTIVE (span overlaps the hour) — capacity-planning's concurrency
    curve, a different beast from event counts (q_events_hourly counts
    points; this counts SPANS, so an idle-but-open session still
    occupies capacity).

    Sessions are the same 30-minute-gap session_window relation as
    q_session_window (window end = last event + gap). Each session
    explodes into the hours it touches — bounded fan-out (sessions are
    minutes-to-hours long) — then one hash agg on the hour. The same
    shape handles any interval fact table (meetings, rentals, locks)
    at 100 TB: explode-by-span-unit beats a spine interval-join when
    spans are short relative to the spine.
    """
    ev = load_table(spark, sf_dir, "events")
    sessions = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(
        F.date_trunc("hour", F.min("ts")).alias("h_start"),
        F.date_trunc("hour", F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias(
            "h_end"
        ),
    )
    spans = sessions.select(
        F.explode(
            F.sequence("h_start", "h_end", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    return (
        spans.groupBy("h")
        .agg(F.count("*").cast("long").alias("n_active_sessions"))
        .select(
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "n_active_sessions",
        )
        .orderBy("hour")
    )


@query(
    "q_event_cooccurrence",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events),
    singles AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COUNT(*) AS BIGINT) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.n_both,
           round(CAST(p.n_both AS DOUBLE) / u.n, 4) AS support,
           round(CAST(p.n_both AS DOUBLE) / sa.n_t, 4) AS confidence_a_to_b,
           round(CAST(p.n_both AS DOUBLE) * u.n / (sa.n_t * sb.n_t), 4) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.type_a
    JOIN singles sb ON sb.event_type = p.type_b
    CROSS JOIN n_users u
    ORDER BY type_a, type_b
    """,
)
def q_event_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association analysis over user behavior: for every event-type
    pair, how many users did BOTH, with support / confidence / lift —
    the market-basket triple on the (user, event_type) basket relation.

    Plan: distinct (user, type) — one shuffle keyed by user — then a
    user-keyed self-join whose fan-out is bounded by the TYPE
    cardinality squared per user (tiny), then a pair-keyed agg over a
    key space of |types|^2. The ratios are single divisions of exact
    integers. This is the engine-friendly form of frequent-itemset
    mining at k=2; higher k composes the same distinct-basket relation.
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(F.countDistinct("user_id").cast("long").alias("n"))
    singles = ut.groupBy("event_type").agg(F.count("*").cast("long").alias("n_t"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("long").alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n_t").alias("na"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n_t").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(F.col("n_both").cast("double") / F.col("n"), 4).alias("support"),
            F.round(F.col("n_both").cast("double") / F.col("na"), 4).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_both").cast("double") * F.col("n")
                / (F.col("na") * F.col("nb")),
                4,
            ).alias("lift"),
        )
        .orderBy("type_a", "type_b")
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    outs AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out
             FROM trans GROUP BY 1)
    SELECT t.from_type, t.to_type, t.n,
           round(CAST(t.n AS DOUBLE) / o.n_out, 4) AS p_transition
    FROM trans t JOIN outs o USING (from_type)
    ORDER BY from_type, to_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior transition matrix: counts and probabilities
    of consecutive (from -> to) event types within each user's
    timeline — the Markov-chain view of user journeys (sequence mining
    at order 1; funnels are the special case of one fixed path).

    Plan: one lead window partitioned on user_id (the natural event
    key, one shuffle) and two tiny aggs over the |types|^2 key space.
    Deterministic (ts, event_id) ordering matches every other
    event-sequence query in the repo.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").cast("long").alias("n"))
    )
    outs = trans.groupBy("from_type").agg(F.sum("n").cast("long").alias("n_out"))
    return (
        trans.join(F.broadcast(outs), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n").cast("double") / F.col("n_out"), 4).alias(
                "p_transition"
            ),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    "q_user_journeys",
    oracle="""
    WITH r AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ),
    j AS (
        SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS journey
        FROM r WHERE rn <= 5 GROUP BY user_id
    )
    SELECT journey, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM j
    GROUP BY journey
    ORDER BY n_users DESC, journey
    LIMIT 20
    """,
)
def q_user_journeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 five-step user-journey prefixes: each user's first five
    event types in time order become a path string, counted across
    users — the product-analytics path view (funnels check ONE path;
    this surfaces which paths exist).

    Plan: rank window on user_id (one shuffle on the natural event
    key), per-user ordered assembly via ``array_sort(collect_list(
    struct(rn, type)))`` — sorting five structs per user, never a
    second window — then a journey-keyed agg over a tiny key space and
    TakeOrderedAndProject for the cut. Deterministic (ts, event_id)
    ordering throughout.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    journeys = (
        ev.select(
            "user_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 5)
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s.event_type,
                ),
                ">",
            ).alias("journey")
        )
    )
    return (
        journeys.groupBy("journey")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "journey")
        .limit(20)
    )


@query(
    "q_dq_checks",
    oracle="""
    SELECT 'lineitem_orphans' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey))
                AS BIGINT) AS n_violations
    UNION ALL
    SELECT 'orders_orphans',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'orders_nonpositive_price',
           CAST((SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0) AS BIGINT)
    UNION ALL
    SELECT 'orders_null_keys',
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey IS NULL OR o_custkey IS NULL) AS BIGINT)
    UNION ALL
    SELECT 'orders_dup_pk',
           CAST((SELECT COALESCE(SUM(c - 1), 0) FROM
                 (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey)
                 WHERE c > 1) AS BIGINT)
    UNION ALL
    SELECT 'lineitem_qty_range',
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
    ORDER BY check_name
    """,
)
def q_dq_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint sweep: referential integrity
    (lineitem→orders, orders→customer as broadcast-friendly
    anti-joins), domain ranges, null keys, and primary-key duplicate
    counts — reported as one (check_name, n_violations) summary, the
    shape a warehouse DQ monitor emits per load.

    Plan: each check is an independent aggregate; the anti-joins
    shuffle on their natural keys, the rest are scan+filter counts.
    All checks report 0 on the driver fixture — the point is the
    harness (a violated constraint shows up as a nonzero row), and the
    oracle cross-checks the zero is real, not a silently-empty join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").cast("long").alias("n_violations")).select(
            F.lit(name).alias("check_name"), "n_violations"
        )

    dup_pk = (
        orders.groupBy("o_orderkey")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") > 1)
        .agg(F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("long").alias("n_violations"))
        .select(F.lit("orders_dup_pk").alias("check_name"), "n_violations")
    )
    checks = [
        one("lineitem_orphans", li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")),
        one("orders_orphans", orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti")),
        one("orders_nonpositive_price", orders.filter(F.col("o_totalprice") <= 0)),
        one(
            "orders_null_keys",
            orders.filter(F.col("o_orderkey").isNull() | F.col("o_custkey").isNull()),
        ),
        dup_pk,
        one(
            "lineitem_qty_range",
            li.filter((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.orderBy("check_name")


def _zorder_oracle() -> str:
    from ..sources.zorder import morton_zvalue_sql

    minute = "CAST(floor(epoch(ts) / 60) AS BIGINT) - 28401120"
    z = morton_zvalue_sql("user_id", f"({minute})", 16)
    return f"""
    WITH z AS (
        SELECT user_id, ({minute}) AS m, {z} AS zval FROM events
    )
    SELECT zval >> 18 AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           CAST(MIN(m) AS BIGINT) AS min_minute,
           CAST(MAX(m) AS BIGINT) AS max_minute
    FROM z
    GROUP BY zbucket
    ORDER BY zbucket
    """


@query("q_zorder_locality", oracle=_zorder_oracle())
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering profile of the events table:
    interleave user_id with minutes-since-2024-01-01 and aggregate per
    z-range bucket. The per-bucket min/max of BOTH dimensions is the
    locality evidence: after `sources/zorder.py:write_zordered` lays a
    100 TB table out in z ranges, these are exactly the parquet
    row-group stats a scan prunes with, so predicates on either
    dimension (user or time) skip most files. Pure bit-op expression
    (shift/AND), one hash aggregate — no Python, one shuffle.
    """
    from ..sources.zorder import morton_zvalue

    ev = load_table(spark, sf_dir, "events")
    minute = (F.expr("unix_timestamp(ts) div 60") - F.lit(28401120)).alias("m")
    z = ev.select(
        F.col("user_id"),
        minute,
    ).withColumn("zval", morton_zvalue(F.col("user_id"), F.col("m"), 16))
    return (
        z.groupBy(F.shiftright(F.col("zval"), 18).alias("zbucket"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.min("user_id").cast("long").alias("min_user"),
            F.max("user_id").cast("long").alias("max_user"),
            F.min("m").cast("long").alias("min_minute"),
            F.max("m").cast("long").alias("max_minute"),
        )
        .orderBy("zbucket")
    )


@query(
    "q_value_anomaly",
    oracle="""
    WITH v AS (
        SELECT event_id, event_type, ts,
               CAST(value AS DECIMAL(16,4)) AS vdec
        FROM events
    ),
    stats AS (
        SELECT event_id, event_type, vdec,
               COUNT(vdec) OVER w AS n,
               SUM(vdec) OVER w AS s1,
               SUM(vdec * vdec) OVER w AS s2
        FROM v
        WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                     ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    ),
    scored AS (
        SELECT event_id, event_type,
               CAST(vdec AS DOUBLE) AS value,
               round((CAST(vdec AS DOUBLE) - CAST(s1 AS DOUBLE) / n)
                     / sqrt((CAST(s2 AS DOUBLE)
                             - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n),
                     4) AS z
        FROM stats
        WHERE n >= 30
          AND sqrt((CAST(s2 AS DOUBLE)
                    - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / n) > 0.000001
    )
    SELECT event_id, event_type, value, z
    FROM scored
    WHERE abs(z) > 3
    ORDER BY event_type, event_id
    """,
)
def q_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: events whose value sits more
    than 3 sigma from the mean of the 100 preceding same-type events —
    the standard streaming-adjacent monitoring rule, expressed as one
    per-type window pass.

    Cross-engine float discipline: the rolling sums run on
    DECIMAL(16,4) (exact — a double SUM over a window is
    order-sensitive only across engines, but decimal is exact in
    both), and mean/std/z are derived from those exact sums with
    identically-associated double arithmetic, rounded before compare.

    Scale: a window partitioned by event_type alone caps parallelism
    at the key cardinality (~10) — each task would sort N/10 of all
    events no matter how large the cluster. Instead the per-type row
    sequence is chunked: a distributed row_number per (event_type)
    (two-phase scan, ``functions/prefix.py``) assigns each event its
    position, rows are grouped into fixed-size chunks, and each
    chunk's partition also receives a copy of the PREVIOUS chunk's
    last 100 rows (the frame depth) so every trailing-100 frame is
    complete inside its own partition — the standard chunked-window
    overlap carry. Parallelism is now O(rows / chunk), the window
    state per task is one chunk + 100 rows, and the decimal sums make
    the chunked association bit-identical to the monolithic window.

    Chunk size was MEASURED, not guessed (r6 verdict ask #4): at 10x
    rows (1M events) on local[32], n=3 each, chunk_rows 1000 / 4000 /
    16000 give min wall-clocks 10.80 / 10.78 / 11.54s — statistically
    tied (BENCH_AB.json `value_anomaly_chunk_ab`); the carry fraction
    (frame/chunk_rows) and task count both stop mattering once chunks
    are >= 10x the frame depth. Default is 4000: equal wall-clock with
    4x fewer tasks and a 4x smaller carry copy than the old 1000.
    On a real cluster pick chunk_rows so rows/chunk_rows ~ 2-3x total
    cores (the usual task-granularity rule); correctness is unaffected
    at any chunk_rows >= 100 (the carry always covers the frame).
    """
    from ..functions.chunked import chunked_trailing_window
    from ..functions.prefix import global_row_number

    ev = load_table(spark, sf_dir, "events")
    vdec = F.col("value").cast("decimal(16,4)")
    base = ev.select("event_id", "event_type", "ts", vdec.alias("vdec"))
    # Global row_number over (event_type, ts, event_id); subtracting the
    # per-type minimum (a |event_type|-row broadcast) yields the 1-based
    # per-type sequence position without any per-type global sort.
    g = global_row_number(base, ["event_type", "ts", "event_id"], "grn")
    t0 = g.groupBy("event_type").agg(F.min("grn").alias("t0"))
    seq = (
        g.join(F.broadcast(t0), "event_type")
        .withColumn("rn", F.col("grn") - F.col("t0") + 1)
        .select("event_id", "event_type", "vdec", "rn")
    )
    stats = chunked_trailing_window(
        seq,
        "event_type",
        "rn",
        frame=100,
        chunk_rows=4000,
        aggs=lambda w: [
            F.count("vdec").over(w).alias("n"),
            F.sum("vdec").over(w).alias("s1"),
            F.sum(F.col("vdec") * F.col("vdec")).over(w).alias("s2"),
        ],
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double") / F.col("n")
    ) / F.col("n")
    std = F.sqrt(var)
    z = F.round((F.col("vdec").cast("double") - mean) / std, 4)
    return (
        stats.filter((F.col("n") >= 30) & (std > 0.000001))
        .select(
            "event_id",
            "event_type",
            F.col("vdec").cast("double").alias("value"),
            z.alias("z"),
        )
        .filter(F.abs(F.col("z")) > 3)
        .orderBy("event_type", "event_id")
    )


@query(
    "q_skew_profile",
    oracle="""
    WITH pk AS (
        SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY o_custkey
    ),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS n_rows,
               CAST(MAX(c) AS BIGINT) AS max_c,
               CAST(MIN(c) AS BIGINT) AS min_c
        FROM pk
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, k) AS rk FROM pk
    ),
    top AS (
        SELECT CAST(SUM(c) AS BIGINT) AS top10_rows FROM ranked WHERE rk <= 10
    )
    SELECT s.n_keys, s.n_rows, s.max_c, s.min_c, t.top10_rows,
           round(CAST(s.max_c AS DOUBLE) * s.n_keys / s.n_rows, 4)
               AS max_skew_ratio,
           round(CAST(t.top10_rows AS DOUBLE) / s.n_rows, 4) AS top10_share
    FROM stats s CROSS JOIN top t
    """,
)
def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis for orders.o_custkey: max/min per-key
    rows, the top-10-key row share, and the max-to-mean ratio — the
    numbers that decide whether a join needs salting (functions/
    skew.py) or AQE skew splitting before it runs at 100 TB. One
    key-count aggregate (map-side combinable) + tiny rollups.
    """
    orders = load_table(spark, sf_dir, "orders")
    pk = orders.groupBy(F.col("o_custkey").alias("k")).agg(F.count("*").alias("c"))
    stats = pk.agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.max("c").cast("long").alias("max_c"),
        F.min("c").cast("long").alias("min_c"),
    )
    top = (
        pk.orderBy(F.col("c").desc(), F.col("k"))
        .limit(10)
        .agg(F.sum("c").cast("long").alias("top10_rows"))
    )
    return stats.crossJoin(top).select(
        "n_keys",
        "n_rows",
        "max_c",
        "min_c",
        "top10_rows",
        F.round(F.col("max_c").cast("double") * F.col("n_keys") / F.col("n_rows"), 4)
        .alias("max_skew_ratio"),
        F.round(F.col("top10_rows").cast("double") / F.col("n_rows"), 4)
        .alias("top10_share"),
    )


@query(
    "q_join_cardinality_estimate",
    oracle="""
    WITH co AS (SELECT o_custkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
    cc AS (SELECT c_custkey AS k, COUNT(*) AS c FROM customer GROUP BY 1),
    est AS (
        SELECT CAST(SUM(co.c * cc.c) AS BIGINT) AS est_rows
        FROM co JOIN cc USING (k)
    ),
    actual AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT e.est_rows, a.actual_rows,
           CAST(e.est_rows - a.actual_rows AS BIGINT) AS est_error
    FROM est e CROSS JOIN actual a
    """,
)
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from per-key histograms: |A join B| =
    sum over shared keys of c_A(k) * c_B(k), computed on the two
    vocabulary-scale count relations instead of materializing the
    join — what a cost-based planner does before picking a strategy,
    exposed as a query so a pipeline can budget a join at 100 TB
    first. The actual join count runs alongside as the audit column
    (exact equality here, since the histogram method is exact for
    equi-joins; for a sketched planner the count tables would be
    count-min approximations).
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    co = orders.groupBy(F.col("o_custkey").alias("k")).agg(F.count("*").alias("c_o"))
    cc = customer.groupBy(F.col("c_custkey").alias("k")).agg(
        F.count("*").alias("c_c")
    )
    est = (
        co.join(cc, "k")
        .agg(F.sum(F.col("c_o") * F.col("c_c")).cast("long").alias("est_rows"))
    )
    actual = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .agg(F.count("*").cast("long").alias("actual_rows"))
    )
    return est.crossJoin(actual).select(
        "est_rows",
        "actual_rows",
        (F.col("est_rows") - F.col("actual_rows")).cast("long").alias("est_error"),
    )


@query(
    "q_bounce_rate",
    oracle=f"""
    WITH {SESSION_ID_CTES},
    sessions AS (
        SELECT user_id, session_id, COUNT(*) AS n_events,
               strftime(date_trunc('day', MIN(ts)), '%Y-%m-%d') AS day
        FROM numbered
        GROUP BY user_id, session_id
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 4) AS bounce_rate
    FROM sessions
    GROUP BY day
    ORDER BY day
    """,
)
def q_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions (30-min inactivity gap)
    containing exactly one event — the standard engagement metric,
    built on the same gap-based sessionization as q_events_sessionize
    (one per-user window pass + two hash aggregates; sessions never
    leave their user partition until the tiny daily rollup).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev = F.lag(F.col("ts")).over(w)
    new_session = F.when(
        prev.isNull()
        | ((F.unix_micros(F.col("ts")) - F.unix_micros(prev)) >= 1800000000),
        1,
    ).otherwise(0)
    sessions = (
        ev.select("user_id", "ts", "event_id")
        .withColumn("new_session", new_session)
        .withColumn("session_id", F.sum("new_session").over(run))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.date_trunc("day", F.min("ts")), "yyyy-MM-dd").alias(
                "day"
            ),
        )
    )
    return (
        sessions.groupBy("day")
        .agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_bounces"),
        )
        .select(
            "day",
            "n_sessions",
            "n_bounces",
            F.round(
                F.col("n_bounces").cast("double") / F.col("n_sessions"), 4
            ).alias("bounce_rate"),
        )
        .orderBy("day")
    )


@query(
    "q_rfm_segments",
    oracle="""
    WITH mx AS (SELECT MAX(ts) AS corpus_max FROM events),
    per_user AS (
        SELECT user_id,
               date_diff('day', MAX(ts), (SELECT corpus_max FROM mx))
                   AS recency_days,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS frequency,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                             THEN CAST(value AS DECIMAL(16,4)) END)
                    AS DECIMAL(20,4)) AS monetary
        FROM events
        GROUP BY user_id
    ),
    scored AS (
        SELECT user_id,
               ntile(4) OVER (ORDER BY recency_days ASC, user_id) AS r,
               ntile(4) OVER (ORDER BY frequency DESC, user_id) AS f,
               ntile(4) OVER (ORDER BY monetary DESC NULLS LAST, user_id) AS m
        FROM per_user
    )
    SELECT CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM scored
    GROUP BY r, f, m
    ORDER BY r, f, m
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation: quartile
    each dimension with deterministic user_id tie-breaks, count users
    per (r, f, m) cell — the classic growth-analytics rollup. Monetary
    sums run on DECIMAL so quartile boundaries cannot drift between
    engines; NULL monetary (never purchased) sorts last in both.

    Scale: ``ntile(4) OVER (ORDER BY ...)`` compiles to a single-task
    global sort — three of them here, over the whole per-user relation,
    which is the textbook driver-adjacent bottleneck at 100 TB. Instead
    each dimension's global rank rides the two-phase distributed
    row_number (``functions/prefix.py``: range-partition + bounded
    per-partition counts), and the quartile is the closed-form function
    of (rank, N) that ntile defines: the first N%4 buckets take
    ceil(N/4) rows, the rest floor(N/4). Identical output to the
    oracle's ntile, no single-partition window anywhere in the plan
    (asserted in test_plan_shapes.py).
    """
    from ..functions.prefix import global_row_number
    ev = load_table(spark, sf_dir, "events")
    corpus_max = ev.agg(F.max("ts").alias("corpus_max"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("frequency"),
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    F.col("value").cast("decimal(16,4)"),
                )
            )
            .cast("decimal(20,4)")
            .alias("monetary"),
        )
        .crossJoin(F.broadcast(corpus_max))
        .select(
            "user_id",
            F.datediff(F.col("corpus_max"), F.col("last_ts")).alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    d = global_row_number(
        per_user, [F.col("recency_days").asc(), F.col("user_id")], "rk_r"
    )
    d = global_row_number(d, [F.col("frequency").desc(), F.col("user_id")], "rk_f")
    d = global_row_number(
        d, [F.col("monetary").desc_nulls_last(), F.col("user_id")], "rk_m"
    )
    cnt = d.agg(F.count("*").cast("long").alias("n_all"))

    def ntile4(rk: str) -> str:
        # ntile(4) closed form on the 1-based rank: buckets 1..(N%4)
        # hold N DIV 4 + 1 rows, the rest N DIV 4 (greatest() guards
        # the unreachable else-branch when N < 4).
        base, rem = "(n_all DIV 4)", "(n_all % 4)"
        return (
            f"CASE WHEN {rk} <= {rem} * ({base} + 1)"
            f" THEN ({rk} - 1) DIV ({base} + 1) + 1"
            f" ELSE {rem} + ({rk} - {rem} * ({base} + 1) - 1)"
            f" DIV greatest({base}, 1) + 1 END"
        )

    scored = d.crossJoin(F.broadcast(cnt)).selectExpr(
        f"{ntile4('rk_r')} AS r",
        f"{ntile4('rk_f')} AS f",
        f"{ntile4('rk_m')} AS m",
    )
    return (
        scored.groupBy("r", "f", "m")
        .agg(F.count("*").cast("long").alias("n_users"))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("f").cast("long").alias("f"),
            F.col("m").cast("long").alias("m"),
            "n_users",
        )
        .orderBy("r", "f", "m")
    )


from ..functions.order_stats import (  # noqa: E402 - shared formula texts
    P50_P90,
    interp_text,
    k_index_text,
    pick_aggs,
    pick_sql,
)

#: Shared final projection (identical IEEE trees in both engines):
#: microseconds -> hours via the 3.6e9 divisor.
_CONVLAG_FINAL = [
    "CAST(COALESCE(n, 0) AS BIGINT) AS n_converted",
    f"{interp_text('50', '0.5', '3600000000.0')} AS p50_hours",
    f"{interp_text('90', '0.9', '3600000000.0')} AS p90_hours",
]

#: Shared order-statistic indices: k = floor((n-1)*q) + 1, 1-based.
_CONVLAG_KS = ["n"] + [k_index_text(q, tag) for tag, q in P50_P90]


@query(
    "q_conversion_lag",
    oracle=f"""
    WITH s AS (
        SELECT user_id, MIN(ts) AS signup_ts FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS first_purchase
        FROM events e JOIN s ON s.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts
        GROUP BY e.user_id
    ),
    lags AS (
        SELECT p.user_id,
               epoch_us(p.first_purchase) - epoch_us(s.signup_ts) AS lag_us
        FROM p JOIN s ON s.user_id = p.user_id
    ),
    r AS (
        SELECT lag_us, ROW_NUMBER() OVER (ORDER BY lag_us, user_id) AS rk
        FROM lags
    ),
    ks AS (
        SELECT {", ".join(_CONVLAG_KS)}
        FROM (SELECT COUNT(*) AS n FROM lags)
    ),
    pick AS (
        SELECT ANY_VALUE(n) AS n, {pick_sql("lag_us")}
        FROM r, ks
    )
    SELECT {", ".join(_CONVLAG_FINAL)} FROM pick
    """,
)
def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-to-first-purchase conversion lag: exact p50/p90 hours
    over converting users — the activation-speed metric. Lags are
    exact integer microseconds (epoch diffs); both engines rebuild the
    interpolated percentile from the SAME two order statistics with
    the SAME formula text, so the doubles agree before rounding.

    Scale: Spark's exact ``percentile()`` is an ImperativeAggregate
    that buffers every value in one final aggregation buffer — a
    users-scale array on one executor at 100×. Here the k-th and
    (k+1)-th order statistics come off the two-phase distributed
    row_number (``functions/prefix.py``) + a broadcast of the two
    bounded indices: every heavy step is partitioned, the driver only
    ever sees per-partition counts (same discipline as
    q_weighted_median / q_ks_test).
    """
    from ..functions.prefix import global_row_number

    ev = load_table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    lags = p.join(s, "user_id").select(
        "user_id",
        (F.unix_micros("first_purchase") - F.unix_micros("signup_ts")).alias(
            "lag_us"
        ),
    )
    r = global_row_number(lags, ["lag_us", "user_id"], "rk")
    # Count off the checkpointed rank relation — counting `lags` would
    # re-execute the events scan + both per-user aggregates + join.
    ks = r.agg(F.count("*").alias("n")).selectExpr(*_CONVLAG_KS)
    pick = r.crossJoin(F.broadcast(ks)).agg(
        F.first("n").alias("n"), *pick_aggs("lag_us")
    )
    return pick.selectExpr(*_CONVLAG_FINAL)


@query(
    "q_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type, value,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS touch
        FROM events
    )
    SELECT COALESCE(touch, 'direct') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           round(CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                 / 100.0, 2) AS revenue
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: credit each purchase to the
    user's most recent PRIOR non-purchase event type (purchases with
    no prior touch are 'direct'), roll revenue up per touch channel —
    the marketing-attribution readout over the event stream.

    One window per user (ordered by ts with event_id tiebreak, frame
    ending at the previous row) finds the touch; revenue sums run on
    exact cents. Scale: a single user-partitioned window over the fact
    table plus a channel-sized rollup — no self-join of events to
    events.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_type", "value", touch.alias("touch"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch", F.lit("direct")).alias("touch_type"))
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.round(
                F.sum(F.expr("cast(round(value * 100) as bigint)")).cast(
                    "double"
                )
                / 100.0,
                2,
            ).alias("revenue"),
        )
        .orderBy("touch_type")
    )


@query(
    "q_copurchase_bfs",
    oracle=f"""
    WITH RECURSIVE {po_sql()},
    e AS (
        SELECT a.l_partkey AS src, b.l_partkey AS dst
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        GROUP BY 1, 2
    ),
    seed AS (SELECT MIN(l_partkey) AS part FROM po),
    reach(part, hop) AS (
        SELECT part, 0 FROM seed
        UNION
        SELECT e.dst, reach.hop + 1
        FROM reach JOIN e ON e.src = reach.part
        WHERE reach.hop < 3
    ),
    best AS (SELECT part, MIN(hop) AS hop FROM reach GROUP BY part)
    SELECT CAST(hop AS BIGINT) AS hop,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(part) AS BIGINT) AS checksum
    FROM best GROUP BY hop ORDER BY hop
    """,
)
def q_copurchase_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop-bounded BFS over the part co-purchase graph: parts are
    connected when some order contains both; starting from the minimum
    partkey, count parts first reached at hop 0..3 (with an exact
    partkey checksum per frontier) — the graph-traversal primitive
    behind related-item and recommendation candidate generation.

    Spark side runs textbook distributed BFS: an equi-join frontier
    expansion per hop plus an anti-join against the visited set —
    never a transitive closure materialization. The oracle is a
    DuckDB recursive CTE over the identical edge relation taking
    MIN(hop) per node; BFS's first-discovery hop equals that minimum,
    so the two formulations agree exactly.

    Scale: edges come from an order-keyed self-join with the shared
    whale-basket cap (graph_common.ORDER_BASKET_CAP bounds per-order
    fan-out at C(256,2) regardless of skew), each hop is two
    key-partitioned joins (``functions/graph.bfs_levels``, which
    checkpoints every hop), and the hop bound caps the iteration.
    """
    seeds = capped_po(spark, sf_dir).agg(F.min("l_partkey").alias("seed"))
    levels = bfs_levels(sym_edges(copurchase_edges(spark, sf_dir)), seeds, 3)
    visited = levels[0].select(F.col("v").alias("part"), F.lit(0).alias("hop"))
    for hop in range(1, 4):
        visited = visited.union(levels[hop].select("v", F.lit(hop)))
    out = (
        visited.groupBy("hop")
        .agg(
            F.count("*").cast("long").alias("n_parts"),
            F.sum("part").cast("long").alias("checksum"),
        )
        .select(F.col("hop").cast("long").alias("hop"), "n_parts", "checksum")
        .orderBy("hop")
    )
    return out


@query(
    "q_attribution_position",
    oracle="""
    WITH base AS (
        SELECT user_id, event_type, event_id, ts,
               CAST(round(value * 100) AS BIGINT) AS cents,
               COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS jid
        FROM events
    ),
    purch AS (
        SELECT user_id, jid, cents FROM base WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT user_id, jid, event_type, ts, event_id,
               ROW_NUMBER() OVER (PARTITION BY user_id, jid
                                  ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id, jid) AS k
        FROM base WHERE event_type <> 'purchase'
    ),
    cred AS (
        SELECT t.user_id, t.jid, t.event_type, t.rn, t.k, p.cents,
               CASE WHEN t.k = 1 THEN p.cents
                    WHEN t.k = 2 THEN p.cents * 500000 // 1000000
                    WHEN t.rn = 1 OR t.rn = t.k
                         THEN p.cents * 400000 // 1000000
                    ELSE p.cents * (200000 // (t.k - 2)) // 1000000 END
                   AS base_credit
        FROM touch t JOIN purch p ON p.user_id = t.user_id AND p.jid = t.jid
    ),
    adj AS (
        SELECT event_type,
               CASE WHEN rn = k
                    THEN cents - (SUM(base_credit) OVER (PARTITION BY user_id, jid)
                                  - base_credit)
                    ELSE base_credit END AS credit
        FROM cred
    ),
    chan AS (
        SELECT event_type AS touch_type, SUM(credit) AS cr,
               COUNT(*) AS n_touches
        FROM adj GROUP BY 1
    ),
    direct AS (
        SELECT 'direct' AS touch_type, SUM(p.cents) AS cr,
               COUNT(*) AS n_touches
        FROM purch p LEFT JOIN (SELECT DISTINCT user_id, jid FROM touch) t
          ON t.user_id = p.user_id AND t.jid = p.jid
        WHERE t.user_id IS NULL
    )
    SELECT touch_type, CAST(n_touches AS BIGINT) AS n_touches,
           round(CAST(cr AS DOUBLE) / 100.0, 2) AS credited_revenue
    FROM (SELECT * FROM chan UNION ALL SELECT * FROM direct WHERE n_touches > 0)
    ORDER BY touch_type
    """,
)
def q_attribution_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution — the
    40/20/40 counterpart of last-touch ``q_attribution``: each
    purchase's revenue splits across every touch in its journey
    (the events since the user's previous purchase), 40% to first and
    last touch, 20% spread over the middles; 1-touch journeys take
    100%, 2-touch journeys 50/50, no-touch purchases are 'direct'.

    Credit conservation is EXACT: shares are integer ppm floors and
    the last touch absorbs the rounding remainder, so credited cents
    sum to purchase cents bit-for-bit (the oracle proves it).

    Scale: journeys come from one user-partitioned running count (no
    events-to-events theta join); touch ranking and the remainder
    adjustment are windows over (user, journey) — frames the size of
    one journey — and the credit join is an equi-join on
    (user, journey). Channel rollup is map-side combined.
    """
    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = ev.select(
        "user_id",
        "event_type",
        "event_id",
        "ts",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                w_prev
            ),
            F.lit(0),
        ).alias("jid"),
    )
    purch = base.filter("event_type = 'purchase'").select(
        "user_id", "jid", "cents"
    )
    w_j = Window.partitionBy("user_id", "jid").orderBy("ts", "event_id")
    w_jf = Window.partitionBy("user_id", "jid")
    touch = base.filter("event_type <> 'purchase'").select(
        "user_id",
        "jid",
        "event_type",
        F.row_number().over(w_j).alias("rn"),
        F.count("*").over(w_jf).alias("k"),
    )
    cred = touch.join(purch, ["user_id", "jid"]).select(
        "user_id",
        "jid",
        "event_type",
        "rn",
        "k",
        "cents",
        F.expr(
            """CASE WHEN k = 1 THEN cents
                    WHEN k = 2 THEN cents * 500000 DIV 1000000
                    WHEN rn = 1 OR rn = k THEN cents * 400000 DIV 1000000
                    ELSE cents * (200000 DIV (k - 2)) DIV 1000000 END"""
        ).alias("base_credit"),
    )
    adj = cred.select(
        "event_type",
        F.when(
            F.col("rn") == F.col("k"),
            F.col("cents")
            - (F.sum("base_credit").over(w_jf) - F.col("base_credit")),
        )
        .otherwise(F.col("base_credit"))
        .alias("credit"),
    )
    chan = adj.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.sum("credit").alias("cr"), F.count("*").alias("n_touches")
    )
    direct = (
        purch.join(
            touch.select("user_id", "jid").distinct(),
            ["user_id", "jid"],
            "leftanti",
        )
        .agg(F.sum("cents").alias("cr"), F.count("*").alias("n_touches"))
        .select(F.lit("direct").alias("touch_type"), "cr", "n_touches")
        .filter(F.col("n_touches") > 0)
    )
    return (
        chan.unionByName(direct)
        .select(
            "touch_type",
            F.col("n_touches").cast("long").alias("n_touches"),
            F.round(F.col("cr").cast("double") / 100.0, 2).alias(
                "credited_revenue"
            ),
        )
        .orderBy("touch_type")
    )


@query(
    "q_skyline",
    oracle="""
    WITH f AS (
        SELECT p_partkey, p_size,
               CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
        FROM part
    )
    SELECT a.p_partkey, CAST(a.p_size AS INTEGER) AS p_size,
           round(a.price_c / 100.0, 2) AS retail_price
    FROM f a
    WHERE NOT EXISTS (
        SELECT 1 FROM f b
        WHERE b.p_size <= a.p_size AND b.price_c <= a.price_c
          AND (b.p_size < a.p_size OR b.price_c < a.price_c)
    )
    ORDER BY p_size, a.p_partkey
    """,
)
def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto frontier) of parts minimizing (size, price) —
    the classic preference operator, WITHOUT the naive O(n²)
    dominance self-join the oracle uses.

    Plan: the skyline of a 2-D minimize/minimize set only ever
    contains per-size price minima, so one map-side-combined
    aggregate collapses n parts to |distinct sizes| rows (bounded by
    the DIMENSION's cardinality — 50 here, never data-scale); a
    running strict-min sweep over that tiny relation keeps the sizes
    whose minimum beats every smaller size, and an equi-join back
    recovers the skyline rows (ties on the frontier all qualify,
    matching NOT-EXISTS dominance exactly). At 100 TB: one aggregate +
    one broadcast join; the window runs on ≤|sizes| rows.
    """
    f = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        F.expr("CAST(round(p_retailprice * 100) AS BIGINT)").alias("price_c"),
    )
    per_size = f.groupBy("p_size").agg(F.min("price_c").alias("minp"))
    w = (
        Window.orderBy("p_size")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier = (
        per_size.withColumn("rm", F.min("minp").over(w))
        .filter(F.col("rm").isNull() | (F.col("minp") < F.col("rm")))
        .select("p_size", F.col("minp").alias("price_c"))
    )
    return (
        f.join(F.broadcast(frontier), ["p_size", "price_c"])
        .select(
            "p_partkey",
            F.col("p_size").cast("int").alias("p_size"),
            F.round(F.col("price_c") / 100.0, 2).alias("retail_price"),
        )
        .orderBy("p_size", "p_partkey")
    )


# ---------------------------------------------------------------------------
# q_signup_retention — signup-cohort weekly retention matrix
# ---------------------------------------------------------------------------


@query(
    "q_signup_retention",
    oracle="""
    WITH s AS (
        SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_date
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    cohorts AS (
        SELECT user_id,
               cohort_date - CAST(date_diff('day', DATE '2024-01-01',
                   cohort_date) % 7 AS INTEGER) AS cohort_week
        FROM s
    ),
    active AS (
        SELECT DISTINCT c.cohort_week, e.user_id,
               date_diff('day', c.cohort_week, CAST(e.ts AS DATE)) // 7
                   AS week_n
        FROM events e JOIN cohorts c ON c.user_id = e.user_id
        WHERE CAST(e.ts AS DATE) >= c.cohort_week
    ),
    sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_size
        FROM cohorts GROUP BY cohort_week
    )
    SELECT a.cohort_week,
           CAST(a.week_n AS BIGINT) AS week_n,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           ANY_VALUE(z.cohort_size) AS cohort_size,
           CAST(10000 * COUNT(*) // ANY_VALUE(z.cohort_size) AS BIGINT)
               AS retention_e4
    FROM active a JOIN sizes z ON z.cohort_week = a.cohort_week
    GROUP BY a.cohort_week, a.week_n
    ORDER BY a.cohort_week, a.week_n
    """,
)
def q_signup_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-cohort retention matrix: users grouped by signup week
    (weeks anchored at 2024-01-01 so both engines bucket identically
    regardless of locale week-start), counted as active in week N if
    any event falls N weeks after their cohort week began. Retention
    is an exact e4 integer ratio (floor-div) — no float drift.
    Complements q_retention_cohorts (first-event cohorts, raw active
    counts): this one keys on the signup EVENT and reports each cell
    as a share of its cohort's size.

    Scale: one user-level aggregate (signups), one user-keyed
    equi-join events->cohorts (shuffle on user_id, partial-agg'd
    distinct), and a final (cohort, week) rollup over a bounded
    matrix — every heavy step shuffles on a high-cardinality key and
    map-side combines; nothing is broadcast except the |cohorts|-row
    size table inside the final join.
    """
    ev = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-01").cast("date")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").cast("date").alias("cohort_date"))
    )
    cohorts = s.select(
        "user_id",
        F.date_sub(
            F.col("cohort_date"),
            (F.datediff(F.col("cohort_date"), anchor) % 7).cast("int"),
        ).alias("cohort_week"),
    )
    active = (
        ev.join(cohorts, "user_id")
        .withColumn("d", F.col("ts").cast("date"))
        .filter(F.col("d") >= F.col("cohort_week"))
        .select(
            "cohort_week",
            "user_id",
            F.expr("datediff(d, cohort_week) DIV 7").alias("week_n"),
        )
        .distinct()
    )
    sizes = cohorts.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return (
        active.groupBy("cohort_week", "week_n")
        .agg(F.count("*").cast("long").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            F.col("week_n").cast("long").alias("week_n"),
            "n_active",
            "cohort_size",
            F.expr("CAST(10000 * n_active DIV cohort_size AS BIGINT)").alias(
                "retention_e4"
            ),
        )
        .orderBy("cohort_week", "week_n")
    )


# ---------------------------------------------------------------------------
# q_mad_outliers — median-absolute-deviation robust outliers
# ---------------------------------------------------------------------------


@query(
    "q_mad_outliers",
    oracle="""
    WITH b AS (
        SELECT event_id, CAST(round(value * 10000) AS BIGINT) AS v FROM events
    ),
    g AS (SELECT v, COUNT(*) AS w FROM b GROUP BY v),
    c AS (SELECT v, SUM(w) OVER (ORDER BY v) AS cum FROM g),
    t AS (SELECT COUNT(*) AS tot FROM b),
    med AS (SELECT MIN(v) AS med FROM c, t WHERE 2 * cum >= tot),
    d AS (SELECT event_id, v, abs(v - med) AS dev FROM b, med),
    gd AS (SELECT dev, COUNT(*) AS w FROM d GROUP BY dev),
    cd AS (SELECT dev, SUM(w) OVER (ORDER BY dev) AS cum FROM gd),
    mad AS (SELECT MIN(dev) AS mad FROM cd, t WHERE 2 * cum >= tot)
    SELECT event_id, round(v / 10000.0, 4) AS value,
           CAST(dev AS BIGINT) AS deviation_e4
    FROM d, mad WHERE dev > 3 * mad ORDER BY event_id
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers by median absolute deviation: flag events whose
    value sits more than 3 MADs from the corpus median — the
    breakdown-resistant alternative to z-scores (q_value_anomaly),
    immune to the outliers it hunts. Median and MAD are the LOWER
    order statistic (smallest value whose cumulative count reaches
    half the total), all in exact e4 fixed-point integers, so the
    flag set is bit-deterministic in both engines.

    Scale: two passes of the q_weighted_median discipline — value
    histogram (one shuffle on the value key), distributed prefix-sum
    ECDF (``functions/prefix.py``, driver sees one scalar per
    partition), broadcast the scalar median, repeat on deviations,
    broadcast the scalar MAD, one zero-shuffle scoring scan. Spark's
    single-buffer percentile()/median() never appears.
    """
    from ..functions.prefix import global_running_sum

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id", F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v")
    )
    tot = b.agg(F.count("*").alias("tot"))

    def lower_median(vals: DataFrame, col: str) -> DataFrame:
        g = vals.groupBy(col).agg(F.count("*").alias("w"))
        c = global_running_sum(g, col, "w", "cum")
        return (
            c.crossJoin(F.broadcast(tot))
            .filter(2 * F.col("cum") >= F.col("tot"))
            .agg(F.min(col).alias(f"med_{col}"))
        )

    med = lower_median(b, "v")
    d = b.crossJoin(F.broadcast(med)).select(
        "event_id", "v", F.abs(F.col("v") - F.col("med_v")).alias("dev")
    )
    mad = lower_median(d, "dev")
    return (
        d.crossJoin(F.broadcast(mad))
        .filter(F.col("dev") > 3 * F.col("med_dev"))
        .select(
            "event_id",
            F.round(F.col("v") / 10000.0, 4).alias("value"),
            F.col("dev").cast("long").alias("deviation_e4"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q_group_percentiles — exact per-group percentiles, buffer-free
# ---------------------------------------------------------------------------


#: Shared texts from functions/order_stats.py — same machinery as
#: q_conversion_lag, e4 fixed-point divisor.
_GP_KS = ["event_type", "n"] + [k_index_text(q, tag) for tag, q in P50_P90]

_GP_FINAL = [
    "event_type",
    "CAST(n AS BIGINT) AS n_events",
    f"{interp_text('50', '0.5', '10000.0')} AS p50",
    f"{interp_text('90', '0.9', '10000.0')} AS p90",
]


@query(
    "q_group_percentiles",
    oracle=f"""
    WITH b AS (
        SELECT event_id, event_type, CAST(round(value * 10000) AS BIGINT) AS v
        FROM events
    ),
    r AS (
        SELECT event_type, v,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY v, event_id) AS rk
        FROM b
    ),
    ks AS (
        SELECT {", ".join(_GP_KS)}
        FROM (SELECT event_type, COUNT(*) AS n FROM b GROUP BY event_type)
    ),
    pick AS (
        SELECT r.event_type, ANY_VALUE(ks.n) AS n, MAX(CASE WHEN rk = k50 THEN v END) AS lo50, MAX(CASE WHEN rk = k50 + 1 THEN v END) AS hi50, MAX(CASE WHEN rk = k90 THEN v END) AS lo90, MAX(CASE WHEN rk = k90 + 1 THEN v END) AS hi90
        FROM r JOIN ks ON ks.event_type = r.event_type
        GROUP BY r.event_type
    )
    SELECT {", ".join(_GP_FINAL)} FROM pick ORDER BY event_type
    """,
)
def q_group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p50/p90 of event value per event_type — the
    grouped upgrade of q_conversion_lag's scalar order statistics and
    the scale-safe answer to ``percentile(v, q) GROUP BY type``
    (Spark's exact percentile buffers every group member in one
    aggregation buffer; a hot group at 100 TB is a driver-sized
    array). Values ride e4 fixed-point integers; both engines share
    the interpolation formula text, so the doubles agree before
    rounding.

    Scale: per-group ranks come from ONE global distributed row_number
    over (event_type, v, event_id) (``functions/prefix.py`` — range
    partition + bounded counts) minus the per-type minimum rank, a
    |event_type|-row broadcast. The order-statistic pick is a plain
    partial-agg'd groupBy; no per-group sort task, no group-sized
    buffer anywhere. Parallelism follows rows, not group count.
    """
    from ..functions.prefix import global_row_number

    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_id",
        "event_type",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v"),
    )
    g = global_row_number(b, ["event_type", "v", "event_id"], "grn")
    # One pass off the checkpointed rank relation yields BOTH broadcast
    # tables (per-type min rank and count) — aggregating `b` again
    # would re-execute the events scan.
    ks = (
        g.groupBy("event_type")
        .agg(F.min("grn").alias("t0"), F.count("*").alias("n"))
        .selectExpr("t0", *_GP_KS)
    )
    r = (
        g.join(F.broadcast(ks), "event_type")
        .withColumn("rk", F.col("grn") - F.col("t0") + 1)
    )
    pick = r.groupBy("event_type").agg(
        F.first("n").alias("n"), *pick_aggs("v")
    )
    return pick.selectExpr(*_GP_FINAL).orderBy("event_type")


# ---------------------------------------------------------------------------
# q_triangle_count — degree-oriented triangle counting on co-purchases
# ---------------------------------------------------------------------------


@query(
    "q_triangle_count",
    oracle=f"""
    WITH {po_sql()},
    e AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    sym AS (SELECT a AS x FROM e UNION ALL SELECT b FROM e),
    deg AS (SELECT x, COUNT(*) AS d FROM sym GROUP BY x),
    tri AS (
        SELECT COUNT(*) AS t
        FROM e e1
        JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
        JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS wedges
        FROM deg
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM e)
    SELECT s.n_nodes, m.n_edges,
           CAST(tri.t AS BIGINT) AS n_triangles,
           CAST(CASE WHEN s.wedges > 0
                     THEN 1000000 * 3 * tri.t // s.wedges ELSE 0 END
                AS BIGINT) AS transitivity_e6
    FROM s, m, tri
    """,
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global transitivity of the part co-purchase
    graph (parts linked when some order contains both) — the
    clustering-structure primitive behind community detection and
    recommendation quality metrics.

    Scale: the naive triangle join is cubic-ish in hot vertices. The
    engine is ``functions/graph.py count_triangles`` — textbook DEGREE
    ORIENTATION: every edge oriented from its (degree, id)-smaller
    endpoint to the larger, so each vertex's OUT-degree is O(sqrt(m))
    and the wedge self-join — the quadratic step — is bounded per
    vertex regardless of how hot the raw degree is; each triangle has
    exactly one source vertex with two out-edges and is counted once
    by one equi-join against the oriented edge list. The (degree, id)
    order is compared column-wise, never packed into one integer (a
    packed key overflows int64 once a hub's degree reaches 2^23 at
    40-bit ids). Everything is equi-joins on vertex keys plus
    partial-agg'd counts; transitivity = 3*triangles / wedges stays in
    exact integers (e6 floor-div).
    """
    e = copurchase_edges(spark, sf_dir)
    tri = count_triangles(e)
    s = degrees(e).agg(
        F.count("*").cast("long").alias("n_nodes"),
        F.sum(F.expr("d * (d - 1) DIV 2")).cast("long").alias("wedges"),
    )
    m = e.agg(F.count("*").cast("long").alias("n_edges"))
    return (
        s.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(tri))
        .selectExpr(
            "n_nodes",
            "n_edges",
            "CAST(t AS BIGINT) AS n_triangles",
            "CAST(CASE WHEN wedges > 0"
            " THEN 1000000 * 3 * t DIV wedges ELSE 0 END AS BIGINT)"
            " AS transitivity_e6",
        )
    )


# ---------------------------------------------------------------------------
# q_kcore — iterative k-core peeling on the support-2 co-purchase graph
# ---------------------------------------------------------------------------

_KCORE_K = 3
_KCORE_ORACLE_ROUNDS = 30  # = the Spark loop's bound, 3x the 11 rounds seen at sf0.01


def _kcore_oracle() -> str:
    """Unrolled peeling (the logreg/pagerank unrolled-CTE pattern):
    each round keeps nodes with current degree >= k and the edges
    between them. The unroll depth must reach the fixpoint at oracle
    SF — 11 rounds at sf0.01, 1 at sf0.001; 20 gives margin (extra
    rounds are no-ops at the fixpoint)."""
    # MATERIALIZED is load-bearing: inlined CTEs would re-expand each
    # e{r} reference recursively (~4^rounds scans of the parquet file).
    steps = []
    for r in range(_KCORE_ORACLE_ROUNDS):
        steps.append(
            f"""
    k{r} AS MATERIALIZED (
        SELECT x FROM (
            SELECT x, COUNT(*) AS d
            FROM (SELECT a AS x FROM e{r} UNION ALL SELECT b AS x FROM e{r})
            GROUP BY x
        ) WHERE d >= {_KCORE_K}
    ),
    e{r + 1} AS MATERIALIZED (
        SELECT e.a, e.b FROM e{r} e
        JOIN k{r} ka ON ka.x = e.a
        JOIN k{r} kb ON kb.x = e.b
    )"""
        )
    last = f"e{_KCORE_ORACLE_ROUNDS}"
    return f"""
    WITH {po_sql()},
    e0 AS MATERIALIZED (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    {",".join(steps)},
    core_nodes AS (
        SELECT DISTINCT x FROM
        (SELECT a AS x FROM {last} UNION ALL SELECT b AS x FROM {last})
    )
    SELECT CAST((SELECT COUNT(*) FROM core_nodes) AS BIGINT) AS n_core_nodes,
           CAST((SELECT COUNT(*) FROM {last}) AS BIGINT) AS n_core_edges,
           CAST(COALESCE((SELECT SUM(x) FROM core_nodes), 0) AS BIGINT)
               AS checksum
    """


@query("q_kcore", oracle=_kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the support-2 co-purchase graph (parts co-bought in
    >= 2 orders): the maximal subgraph where every part keeps >= 3
    such neighbors — the classic density filter that separates a
    connected backbone from tendrils before community detection.

    Spark side runs honest iterative peeling to the FIXPOINT: each
    round is one degree aggregate + two semi-joins, edges
    localCheckpoint()ed per round (the connected-components lineage
    discipline) with a driver-side scalar edge count as the
    convergence probe. Rounds are data-dependent (11 at sf0.01) but
    each costs two key-partitioned shuffles — the same per-round shape
    as connected_components_star; degeneracy-ordered peeling would
    collapse rounds further if ever needed. The oracle unrolls 20
    rounds of the identical peel as CTEs; the fixpoint makes the extra
    rounds no-ops, so both engines agree exactly.
    """
    e = copurchase_edges(spark, sf_dir, 2)
    n_edges = e.count()
    converged = False
    for _ in range(_KCORE_ORACLE_ROUNDS):
        keep = degrees(e).filter(F.col("d") >= _KCORE_K).select("x")
        e = materialize(
            e.join(keep.select(F.col("x").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("x").alias("b")), "b", "left_semi")
            .select("a", "b")
        )
        n_now = e.count()
        if n_now == n_edges:
            converged = True
            break
        n_edges = n_now
    if not converged:
        # A silent non-fixpoint result would be a SUPERSET of the
        # 3-core (and the oracle, sharing the same bound, would agree
        # with the wrong answer) — fail loudly instead.
        raise RuntimeError(
            f"k-core peeling did not converge in {_KCORE_ORACLE_ROUNDS} rounds"
        )
    core_nodes = (
        e.select(F.col("a").alias("x"))
        .unionAll(e.select(F.col("b").alias("x")))
        .distinct()
    )
    stats = core_nodes.agg(
        F.count("*").cast("long").alias("n_core_nodes"),
        F.coalesce(F.sum("x"), F.lit(0)).cast("long").alias("checksum"),
    )
    m = e.agg(F.count("*").cast("long").alias("n_core_edges"))
    return stats.crossJoin(F.broadcast(m)).select(
        "n_core_nodes", "n_core_edges", "checksum"
    )


# ---------------------------------------------------------------------------
# q_assortativity — degree assortativity of the co-purchase graph
# ---------------------------------------------------------------------------

#: Shared formula: Pearson correlation of the degree pairs at the two
#: ends of every edge (both directions, the standard symmetrized form),
#: from exact integer sufficient statistics — one text, both engines.
_ASSORT_FINAL = [
    "CAST(m AS BIGINT) AS n_edge_ends",
    "round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)"
    " AS assortativity",
]


@query(
    "q_assortativity",
    oracle=f"""
    WITH {po_sql()},
    e AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    sym AS (SELECT a AS x FROM e UNION ALL SELECT b FROM e),
    deg AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY x),
    ends AS (
        SELECT da.d AS dx, db.d AS dy
        FROM e JOIN deg da ON da.x = e.a JOIN deg db ON db.x = e.b
        UNION ALL
        SELECT db.d, da.d
        FROM e JOIN deg da ON da.x = e.a JOIN deg db ON db.x = e.b
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
               CAST(SUM(dx * dx) AS BIGINT) AS sxx,
               CAST(SUM(dx * dy) AS BIGINT) AS sxy,
               CAST(SUM(dy * dy) AS BIGINT) AS syy
        FROM ends
    )
    SELECT {", ".join(_ASSORT_FINAL)} FROM s
    """,
)
def q_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the part co-purchase graph: the Pearson
    correlation of the degrees at the two ends of every edge
    (symmetrized) — positive means hubs buy with hubs, negative means
    hub-and-spoke structure; the one-number summary behind mixing
    analysis (Newman, "Assortative mixing in networks", public
    knowledge).

    Exactness: degrees are integers, so the five sufficient statistics
    are exact int64 sums (degrees <= ~10^4 here keep dx*dy sums far
    from overflow at any realistic graph); the correlation is ONE
    shared formula text over those integers — identical doubles in
    both engines, rounded before compare. Scale: degree aggregate, two
    broadcast-or-shuffle equi-joins to attach end degrees, one
    map-side-combined sum pass — no quadratic step anywhere (whale
    baskets capped by graph_common.ORDER_BASKET_CAP).
    """
    e = copurchase_edges(spark, sf_dir)
    deg = degrees(e)
    joined = e.join(
        deg.select(F.col("x").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("x").alias("b"), F.col("d").alias("db")), "b")
    ends = joined.select(
        F.col("da").alias("dx"), F.col("db").alias("dy")
    ).unionAll(joined.select(F.col("db").alias("dx"), F.col("da").alias("dy")))
    s = ends.agg(
        F.count("*").cast("long").alias("m"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    return s.selectExpr(*_ASSORT_FINAL)


# ---------------------------------------------------------------------------
# q_iqr_outliers — Tukey-fence outliers on distributed order statistics
# ---------------------------------------------------------------------------

from ..functions.order_stats import interp_raw_text  # noqa: E402

_IQR_TAGS = (("25", "0.25"), ("75", "0.75"))
_IQR_Q1 = interp_raw_text("25", "0.25")
_IQR_Q3 = interp_raw_text("75", "0.75")
#: Shared texts: quartiles for display (rounded, dollars) and the raw
#: cent-domain fences the outlier comparison uses — identical IEEE
#: trees in both engines, so the fence comparisons agree bit-for-bit.
_IQR_EXPRS = [
    "CAST(n AS BIGINT) AS n_values",
    f"round(({_IQR_Q1}) / 10000.0, 4) AS q1",
    f"round(({_IQR_Q3}) / 10000.0, 4) AS q3",
    f"round((({_IQR_Q3}) - ({_IQR_Q1})) / 10000.0, 4) AS iqr",
    f"({_IQR_Q1}) - 1.5 * (({_IQR_Q3}) - ({_IQR_Q1})) AS lo_fence_c",
    f"({_IQR_Q3}) + 1.5 * (({_IQR_Q3}) - ({_IQR_Q1})) AS hi_fence_c",
]
_IQR_KS = ["n"] + [k_index_text(q, tag) for tag, q in _IQR_TAGS]


@query(
    "q_iqr_outliers",
    oracle=f"""
    WITH c AS (
        SELECT event_id,
               CAST(round(value * 10000) AS BIGINT) AS v4
        FROM events WHERE value IS NOT NULL
    ),
    r AS (
        SELECT v4, ROW_NUMBER() OVER (ORDER BY v4, event_id) AS rk
        FROM c
    ),
    ks AS (
        SELECT {", ".join(_IQR_KS)}
        FROM (SELECT COUNT(*) AS n FROM c)
    ),
    pick AS (
        SELECT ANY_VALUE(n) AS n, {pick_sql("v4", _IQR_TAGS)}
        FROM r, ks
    ),
    f AS (SELECT {", ".join(_IQR_EXPRS)} FROM pick)
    SELECT n_values, q1, q3, iqr,
           CAST((SELECT COUNT(*) FROM c
                 WHERE v4 < (SELECT lo_fence_c FROM f)) AS BIGINT)
               AS n_low_outliers,
           CAST((SELECT COUNT(*) FROM c
                 WHERE v4 > (SELECT hi_fence_c FROM f)) AS BIGINT)
               AS n_high_outliers
    FROM f
    """,
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier audit of event values: exact interpolated
    Q1/Q3 off the distributed row_number, fences at 1.5 IQR, and the
    counts outside them — the box-plot rule every data-quality
    dashboard starts with. (Runs on events.value, whose generated
    tail actually crosses the fences — ~463 high outliers at sf0.01 —
    so the comparison path is fixture-exercised, not vacuous.)

    Scale: the quartiles are two order statistics picked from the
    two-phase distributed rank (no percentile() buffer, no global
    sort); the fences are a 1-row broadcast and the outlier counts are
    one partial-agg'd scan. Fence comparisons run on doubles built by
    ONE shared expression text, so the counted sets agree bit-for-bit.
    """
    from ..functions.prefix import global_row_number

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    ).select(
        "event_id",
        F.expr("CAST(round(value * 10000) AS BIGINT)").alias("v4"),
    )
    r = global_row_number(ev, ["v4", "event_id"], "rk")
    ks = r.agg(F.count("*").alias("n")).selectExpr(*_IQR_KS)
    pick = r.crossJoin(F.broadcast(ks)).agg(
        F.first("n").alias("n"), *pick_aggs("v4", _IQR_TAGS)
    )
    f = pick.selectExpr(*_IQR_EXPRS)
    counts = (
        r.crossJoin(F.broadcast(f))
        .agg(
            F.sum(F.when(F.col("v4") < F.col("lo_fence_c"), 1).otherwise(0))
            .cast("long")
            .alias("n_low_outliers"),
            F.sum(F.when(F.col("v4") > F.col("hi_fence_c"), 1).otherwise(0))
            .cast("long")
            .alias("n_high_outliers"),
        )
    )
    return f.crossJoin(F.broadcast(counts)).select(
        "n_values", "q1", "q3", "iqr", "n_low_outliers", "n_high_outliers"
    )


# ---------------------------------------------------------------------------
# q_median_ci — exact nonparametric 95% CI for the median
# ---------------------------------------------------------------------------

#: Shared order-statistic bounds: the binomial-normal 95% interval
#: ranks floor((n - z*sqrt(n))/2) and ceil(1 + (n + z*sqrt(n))/2)
#: with z = 1.959964 — the standard distribution-free median CI.
_MCI_KS = [
    "n",
    "greatest(CAST(1 AS BIGINT),"
    " CAST(floor((CAST(n AS DOUBLE) - 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2)"
    " AS BIGINT)) AS k_lo",
    "least(CAST(n AS BIGINT),"
    " CAST(ceil(1 + (CAST(n AS DOUBLE) + 1.959964 * sqrt(CAST(n AS DOUBLE))) / 2)"
    " AS BIGINT)) AS k_hi",
    k_index_text("0.5", "50"),
]

_MCI_FINAL = [
    "CAST(n AS BIGINT) AS n_orders",
    f"{interp_text('50', '0.5', '100.0', 2)} AS median",
    "round(CAST(v_lo AS DOUBLE) / 100.0, 2) AS ci_lo",
    "round(CAST(v_hi AS DOUBLE) / 100.0, 2) AS ci_hi",
]


@query(
    "q_median_ci",
    oracle=f"""
    WITH c AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    r AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents, o_orderkey) AS rk
        FROM c
    ),
    ks AS (
        SELECT {", ".join(_MCI_KS)}
        FROM (SELECT COUNT(*) AS n FROM c)
    ),
    pick AS (
        SELECT ANY_VALUE(n) AS n,
               MAX(CASE WHEN rk = k_lo THEN cents END) AS v_lo,
               MAX(CASE WHEN rk = k_hi THEN cents END) AS v_hi,
               {pick_sql("cents", (("50", "0.5"),))}
        FROM r, ks
    )
    SELECT {", ".join(_MCI_FINAL)} FROM pick
    """,
)
def q_median_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free 95% confidence interval for the median order
    value: the binomial order-statistic interval (ranks n/2 -+
    z*sqrt(n)/2, z = 1.959964) — the robust uncertainty statement a
    mean-based CI (q_bootstrap_ci) cannot make under heavy tails.

    Scale: one distributed rank pass; the three order statistics
    (median + the two CI bounds) are MAX(CASE) picks against broadcast
    rank indices computed from n by ONE shared text — no sort, no
    buffer, no resampling.
    """
    from ..functions.prefix import global_row_number

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("cents"),
    )
    r = global_row_number(o, ["cents", "o_orderkey"], "rk")
    ks = r.agg(F.count("*").alias("n")).selectExpr(*_MCI_KS)
    pick = r.crossJoin(F.broadcast(ks)).agg(
        F.first("n").alias("n"),
        F.max(F.when(F.col("rk") == F.col("k_lo"), F.col("cents"))).alias(
            "v_lo"
        ),
        F.max(F.when(F.col("rk") == F.col("k_hi"), F.col("cents"))).alias(
            "v_hi"
        ),
        *pick_aggs("cents", (("50", "0.5"),)),
    )
    return pick.selectExpr(*_MCI_FINAL)


# ---------------------------------------------------------------------------
# q_attribution_markov — Markov-chain attribution with removal effects
# ---------------------------------------------------------------------------

_MKV_ROUNDS = 25
_MKV_SCALE = 1_000_000
#: Non-conversion channels of the events schema (TESTDATA.md); fixed so
#: the removal-scenario set is deterministic on both engines.
_MKV_CHANNELS = ("click", "error", "signup", "view")


def _markov_oracle() -> str:
    """Unrolled integer-e6 value iteration, one CTE chain per scenario
    (full + one per removed channel). trans/tot are MATERIALIZED so
    DuckDB scans events once, not once per round (the q_hits lesson)."""
    scen = [("f", None)] + [(f"r{i}", ch) for i, ch in enumerate(_MKV_CHANNELS)]
    chains = []
    for tag, removed in scen:
        rem_case = (
            f"WHEN tr.dst = '{removed}' THEN CAST(0 AS HUGEINT)"
            if removed
            else ""
        )
        prev = f"p_{tag}_0"
        chains.append(
            f"p_{tag}_0 AS MATERIALIZED (SELECT DISTINCT src AS state,"
            f" CAST(0 AS BIGINT) AS p FROM trans)"
        )
        for k in range(1, _MKV_ROUNDS + 1):
            chains.append(f"""p_{tag}_{k} AS MATERIALIZED (
        SELECT t.src AS state,
               CAST(COALESCE(SUM(CASE
                   WHEN tr.dst = 'CONV'
                       THEN CAST(tr.cnt AS HUGEINT) * {_MKV_SCALE}
                   WHEN tr.dst = 'NULL' THEN CAST(0 AS HUGEINT)
                   {rem_case}
                   ELSE CAST(tr.cnt AS HUGEINT) * COALESCE(p.p, 0)
               END), 0) // t.tot AS BIGINT) AS p
        FROM tot t
        JOIN trans tr ON tr.src = t.src
        LEFT JOIN {prev} p ON p.state = tr.dst
        GROUP BY t.src, t.tot
    )""")
            prev = f"p_{tag}_{k}"
    chain_sql = ",\n    ".join(chains)
    k = _MKV_ROUNDS
    rem_rows = " UNION ALL ".join(
        f"SELECT '{ch}' AS channel,"
        f" (SELECT p FROM p_r{i}_{k} WHERE state = 'START') AS p_rem"
        for i, ch in enumerate(_MKV_CHANNELS)
    )
    return f"""
    WITH ordered AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' THEN 'CONV'
                    ELSE event_type END AS st,
               LAG(CASE WHEN event_type = 'purchase' THEN 'CONV'
                        ELSE event_type END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev,
               LEAD(event_id)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS nxt
        FROM events
    ),
    steps AS (
        SELECT CASE WHEN prev IS NULL OR prev = 'CONV' THEN 'START'
                    ELSE prev END AS src,
               st AS dst
        FROM ordered
        UNION ALL
        SELECT st AS src, 'NULL' AS dst
        FROM ordered WHERE nxt IS NULL AND st <> 'CONV'
    ),
    trans AS MATERIALIZED (
        SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM steps GROUP BY 1, 2
    ),
    tot AS MATERIALIZED (
        SELECT src, CAST(SUM(cnt) AS HUGEINT) AS tot FROM trans GROUP BY src
    ),
    {chain_sql},
    fullp AS (SELECT p AS p_full FROM p_f_{k} WHERE state = 'START'),
    rem AS ({rem_rows}),
    outq AS (
        SELECT r.channel, f.p_full, r.p_rem,
               CASE WHEN f.p_full = 0 THEN 0
                    ELSE {_MKV_SCALE}
                         - (r.p_rem * {_MKV_SCALE}) // f.p_full END
                   AS removal_e6
        FROM rem r CROSS JOIN fullp f
    ),
    tot_r AS (SELECT CAST(SUM(removal_e6) AS BIGINT) AS s FROM outq)
    SELECT channel,
           CAST(p_full AS BIGINT) AS p_conv_full_e6,
           CAST(p_rem AS BIGINT) AS p_conv_removed_e6,
           CAST(removal_e6 AS BIGINT) AS removal_e6,
           CASE WHEN t.s = 0 THEN 0.0
                ELSE round(CAST(removal_e6 AS DOUBLE)
                           / CAST(t.s AS DOUBLE), 6) END AS share
    FROM outq, tot_r t
    ORDER BY channel
    """


@query("q_attribution_markov", oracle=_markov_oracle())
def q_attribution_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain multi-touch attribution with removal effects
    (Anderl et al. 2016) — the data-driven alternative to the
    last-touch / position-based heuristics already in this family.
    Journeys are first-order chains over {START, click, error,
    signup, view} absorbing into CONV (purchase) or NULL (history
    ends unconverted; a journey restarts at START after each
    conversion). A channel's credit is its REMOVAL EFFECT: the
    relative drop in absorption probability P(START→CONV) when every
    transition into that channel is redirected to NULL, normalized
    across channels.

    Cross-engine exactness: absorption probabilities come from a
    25-round value iteration in TRUNCATED integER micro-units
    (p_{k+1}(s) = Σ_t cnt(s,t)·p_k(t) DIV tot(s), CONV contributing
    the e6 unit) — the same fixed-point discipline as q_pagerank /
    q_hits, so both engines produce bit-identical integers; the only
    float is the final share ratio (shared formula, round 6,
    zero-sum guarded).

    Scale: the DISTRIBUTED work is the transition count — per-user
    windows (partitioned by user_id, never single-task) collapsing
    the event log to a transition matrix bounded by the CHANNEL
    VOCABULARY (≤ (|types|+2)² rows, a schema bound, not a data
    bound). That bounded relation is collected (the ≤64-row
    packed-Bloom precedent) and the 5 scenario solves are O(1)
    driver arithmetic on exact Python ints — identical ops to the
    oracle's unrolled HUGEINT CTE chain. cnt·p products stay under
    2^63 up to ~10^12 transitions per cell; beyond that the driver
    math is already arbitrary-precision and only the oracle would
    widen types.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    st = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.lit("CONV"))
        .otherwise(F.col("event_type"))
        .alias("st"),
    )
    ordered = st.select(
        "st",
        F.lag("st").over(w).alias("prev"),
        F.lead("event_id").over(w).alias("nxt"),
    )
    steps = (
        ordered.select(
            F.when(
                F.col("prev").isNull() | (F.col("prev") == "CONV"),
                F.lit("START"),
            )
            .otherwise(F.col("prev"))
            .alias("src"),
            F.col("st").alias("dst"),
        )
        .unionAll(
            ordered.filter(F.col("nxt").isNull() & (F.col("st") != "CONV"))
            .select(F.col("st").alias("src"), F.lit("NULL").alias("dst"))
        )
    )
    trans_rows = (
        steps.groupBy("src", "dst").agg(F.count("*").cast("long").alias("cnt"))
    ).collect()  # bounded by the channel vocabulary, never data-scale
    cnt = {(r["src"], r["dst"]): r["cnt"] for r in trans_rows}
    tots: dict[str, int] = {}
    for (src, _), c in cnt.items():
        tots[src] = tots.get(src, 0) + c
    states = sorted(tots)

    def absorb(removed: str | None) -> int:
        p = {s: 0 for s in states}
        for _ in range(_MKV_ROUNDS):
            nxt = {}
            for s in states:
                acc = 0
                for (src, dst), c in cnt.items():
                    if src != s:
                        continue
                    if dst == "CONV":
                        acc += c * _MKV_SCALE
                    elif dst == "NULL" or dst == removed:
                        pass
                    else:
                        acc += c * p.get(dst, 0)
                nxt[s] = acc // tots[s]
            p = nxt
        return p.get("START", 0)

    p_full = absorb(None)
    rows = []
    for ch in _MKV_CHANNELS:
        p_rem = absorb(ch)
        removal = (
            0
            if p_full == 0
            else _MKV_SCALE - (p_rem * _MKV_SCALE) // p_full
        )
        rows.append((ch, p_full, p_rem, removal))
    df = spark.createDataFrame(
        rows,
        "channel string, p_conv_full_e6 long, p_conv_removed_e6 long,"
        " removal_e6 long",
    )
    tot_r = df.agg(F.sum("removal_e6").cast("long").alias("s"))
    return (
        df.crossJoin(F.broadcast(tot_r))
        .selectExpr(
            "channel",
            "p_conv_full_e6",
            "p_conv_removed_e6",
            "removal_e6",
            "CASE WHEN s = 0 THEN 0.0 ELSE round(CAST(removal_e6 AS DOUBLE)"
            " / CAST(s AS DOUBLE), 6) END AS share",
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q_new_vs_returning — purchase revenue split by user tenure per day
# ---------------------------------------------------------------------------


@query(
    "q_new_vs_returning",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY user_id
    ),
    p AS (
        SELECT CAST(e.ts AS DATE) AS day,
               CASE WHEN CAST(e.ts AS DATE) = f.first_day
                    THEN 'new' ELSE 'returning' END AS cohort,
               CAST(round(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN first_seen f ON f.user_id = e.user_id
        WHERE e.event_type = 'purchase'
    )
    SELECT day, cohort,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           round(CAST(SUM(cents) AS DOUBLE) / 100.0, 2) AS revenue
    FROM p GROUP BY day, cohort
    ORDER BY day, cohort
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase count and revenue split into NEW (user's
    first-seen day) vs RETURNING cohorts — the acquisition-vs-
    retention revenue mix every growth dashboard leads with.

    Tenure is resolved by the same first-seen reduction as
    q_cumulative_users (one partial-agg'd shuffle on user_id), then
    joined back to the purchase stream on the user key — at 100 TB
    both sides shuffle on user_id once and the classifier is a date
    equality, no window and no per-user state. Revenue is exact
    integer cents until the final shared /100 rounding.
    """
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .selectExpr(
            "CAST(ts AS DATE) AS day",
            "CASE WHEN CAST(ts AS DATE) = first_day"
            " THEN 'new' ELSE 'returning' END AS cohort",
            "CAST(round(value * 100) AS BIGINT) AS cents",
        )
    )
    return (
        p.groupBy("day", "cohort")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.expr("round(CAST(SUM(cents) AS DOUBLE) / 100.0, 2)").alias(
                "revenue"
            ),
        )
        .orderBy("day", "cohort")
    )


# ---------------------------------------------------------------------------
# q_churn_rate — week-over-week user churn / retention / resurrection
# ---------------------------------------------------------------------------


@query(
    "q_churn_rate",
    oracle="""
    WITH mu AS (
        SELECT DISTINCT date_trunc('week', ts) AS week, user_id
        FROM events
    ),
    cur AS (SELECT week AS m, user_id AS u_cur FROM mu),
    prv AS (SELECT week + INTERVAL 1 WEEK AS m, user_id AS u_prv FROM mu),
    j AS (
        SELECT COALESCE(cur.m, prv.m) AS week, u_cur, u_prv
        FROM cur FULL JOIN prv
          ON prv.u_prv = cur.u_cur AND prv.m = cur.m
    ),
    bounds AS (SELECT MIN(week) AS m0, MAX(week) AS m1 FROM mu)
    SELECT strftime(week, '%Y-%m-%d') AS week,
           CAST(SUM(CASE WHEN u_cur IS NOT NULL AND u_prv IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS retained,
           CAST(SUM(CASE WHEN u_cur IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS churned,
           CAST(SUM(CASE WHEN u_prv IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS gained,
           round(CAST(SUM(CASE WHEN u_cur IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE)
                 / CAST(SUM(CASE WHEN u_cur IS NULL THEN 1 ELSE 0 END)
                        + SUM(CASE WHEN u_cur IS NOT NULL
                                    AND u_prv IS NOT NULL
                                   THEN 1 ELSE 0 END) AS DOUBLE), 6)
               AS churn_rate
    FROM j, bounds
    WHERE week > m0 AND week <= m1
    GROUP BY week ORDER BY week
    """,
)
def q_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week user flows: retained (active both weeks),
    churned (active previous week, silent this week) and gained
    (new or resurrected this week), with the churn rate — the
    engagement ledger behind every retention review.

    Set membership is resolved ONCE by reducing events to the
    distinct (week, user) relation (one partial-agg'd shuffle);
    the week-over-week comparison is a user-keyed FULL OUTER join
    between consecutive weeks' slices — at 100 TB both sides
    shuffle on the user key once and the flow classes are NULL-side
    checks, never a window or a per-user state machine.
    """
    ev = load_table(spark, sf_dir, "events")
    mu = materialize(
        ev.select(F.date_trunc("week", "ts").alias("week"), "user_id").distinct()
    )
    cur = mu.select(F.col("week").alias("m"), F.col("user_id").alias("u_cur"))
    prv = mu.select(
        F.expr("week + INTERVAL 1 WEEK").alias("m"),
        F.col("user_id").alias("u_prv"),
    )
    joined = cur.join(
        prv,
        (F.col("u_cur") == F.col("u_prv")) & (cur["m"] == prv["m"]),
        "full",
    ).select(
        F.coalesce(cur["m"], prv["m"]).alias("week"),
        "u_cur",
        "u_prv",
    )
    bounds = mu.agg(
        F.min("week").alias("m0"), F.max("week").alias("m1")
    )
    flows = (
        joined.crossJoin(F.broadcast(bounds))
        # no prev slice exists for month 1; the shifted prv side also
        # fabricates a phantom month PAST the data end — bound to real
        # months on both ends.
        .filter((F.col("week") > F.col("m0")) & (F.col("week") <= F.col("m1")))
        .groupBy("week")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN u_cur IS NOT NULL AND u_prv IS NOT NULL"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("long")
            .alias("retained"),
            F.sum(F.expr("CASE WHEN u_cur IS NULL THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("churned"),
            F.sum(F.expr("CASE WHEN u_prv IS NULL THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("gained"),
        )
    )
    return flows.selectExpr(
        "date_format(week, 'yyyy-MM-dd') AS week",
        "retained",
        "churned",
        "gained",
        "round(CAST(churned AS DOUBLE)"
        " / CAST(churned + retained AS DOUBLE), 6) AS churn_rate",
    ).orderBy("week")


# ---------------------------------------------------------------------------
# q_stickiness — DAU/MAU engagement ratio per month
# ---------------------------------------------------------------------------


@query(
    "q_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day,
               date_trunc('month', ts) AS month, user_id
        FROM events
    ),
    dau AS (
        SELECT month, day, CAST(COUNT(*) AS BIGINT) AS dau
        FROM du GROUP BY month, day
    ),
    mau AS (
        SELECT month, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
        FROM du GROUP BY month
    ),
    agg AS (
        SELECT month, CAST(SUM(dau) AS BIGINT) AS dau_sum,
               CAST(COUNT(*) AS BIGINT) AS n_days
        FROM dau GROUP BY month
    )
    SELECT strftime(a.month, '%Y-%m') AS month, a.n_days, m.mau,
           round(CAST(a.dau_sum AS DOUBLE) / CAST(a.n_days AS DOUBLE), 2)
               AS avg_dau,
           round(CAST(a.dau_sum AS DOUBLE) / CAST(a.n_days AS DOUBLE)
                 / CAST(m.mau AS DOUBLE), 6) AS stickiness
    FROM agg a JOIN mau m ON m.month = a.month
    ORDER BY month
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — mean daily active users over
    monthly active users, the engagement ratio (a 0.5 means the
    average user shows up every other day) product teams track beside
    the growth curve.

    Distinct-ness resolves once into the (day, month, user) relation
    (one partial-agg'd shuffle); DAU, MAU and the day count are
    partial-agg'd aggregates of that relation, and the two ratios are
    shared float texts. No window, no per-user state.
    """
    ev = load_table(spark, sf_dir, "events")
    du = materialize(ev.select(
        F.col("ts").cast("date").alias("day"),
        F.date_trunc("month", "ts").alias("month"),
        "user_id",
    ).distinct())
    dau = du.groupBy("month", "day").agg(
        F.count("*").cast("long").alias("dau")
    )
    mau = du.groupBy("month").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    agg = dau.groupBy("month").agg(
        F.sum("dau").cast("long").alias("dau_sum"),
        F.count("*").cast("long").alias("n_days"),
    )
    return (
        agg.join(mau, "month")
        .selectExpr(
            "date_format(month, 'yyyy-MM') AS month",
            "n_days",
            "mau",
            "round(CAST(dau_sum AS DOUBLE) / CAST(n_days AS DOUBLE), 2)"
            " AS avg_dau",
            "round(CAST(dau_sum AS DOUBLE) / CAST(n_days AS DOUBLE)"
            " / CAST(mau AS DOUBLE), 6) AS stickiness",
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# q_top_paths — most common 3-step user journeys
# ---------------------------------------------------------------------------

_TP_TOP = 20


@query(
    "q_top_paths",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type, 1) OVER w AS e2,
               LEAD(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT event_type || ' > ' || e2 || ' > ' || e3 AS path,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY 1
    )
    SELECT path, n FROM paths
    ORDER BY n DESC, path LIMIT {_TP_TOP}
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {_TP_TOP} most common 3-step event paths across all user
    journeys (sliding trigram over each user's time-ordered stream) —
    the sequence-mining readout behind funnel design: which actual
    paths dominate, rather than which predefined funnel converts.

    Trigrams ride two LEADs over a per-user window (hash-partitioned
    on user_id — parallelism follows users); path counts partial-agg;
    the top-{_TP_TOP} with the (count desc, path) determinism
    tie-break compiles to TakeOrderedAndProject.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            F.concat_ws(" > ", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(_TP_TOP)
    )


# ---------------------------------------------------------------------------
# q_engagement_gaps — distribution of users' longest silent gap
# ---------------------------------------------------------------------------


@query(
    "q_engagement_gaps",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS gap_us
        FROM events
    ),
    per_user AS (
        SELECT user_id, CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
        FROM gaps WHERE gap_us IS NOT NULL GROUP BY user_id
    ),
    binned AS (
        SELECT CAST(max_gap_us // 86400000000 AS BIGINT) AS gap_days
        FROM per_user
    )
    SELECT gap_days, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM binned GROUP BY gap_days ORDER BY gap_days
    """,
)
def q_engagement_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of each user's LONGEST silent gap (max time
    between consecutive events, bucketed to whole days) — the
    churn-risk geometry behind re-engagement campaigns: how long do
    users who come back actually stay away?

    Per-user gaps ride a LAG window partitioned by user_id
    (parallelism follows users); the max and the day bucketing are
    exact integer microsecond arithmetic; the histogram is one
    partial-agg'd aggregate bounded by the observation span in days.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap_us"
        ),
    )
    per_user = (
        gaps.filter(F.col("gap_us").isNotNull())
        .groupBy("user_id")
        .agg(F.max("gap_us").cast("long").alias("max_gap_us"))
    )
    return (
        per_user.selectExpr(
            "CAST(max_gap_us DIV 86400000000 AS BIGINT) AS gap_days"
        )
        .groupBy("gap_days")
        .agg(F.count("*").cast("long").alias("n_users"))
        .orderBy("gap_days")
    )


# ---------------------------------------------------------------------------
# q_single_source_risk — parts with a single qualified supplier
# ---------------------------------------------------------------------------


@query(
    "q_single_source_risk",
    oracle="""
    WITH stats AS (
        SELECT l_partkey,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
               CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_single_source,
           round(CAST(SUM(cents) AS DOUBLE) / 100.0, 2)
               AS revenue_at_risk
    FROM stats WHERE n_suppliers = 1
    """,
)
def q_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply risk: how many parts ship from exactly
    ONE observed supplier, and the revenue riding on them — the
    procurement-resilience number a supply-chain review opens with
    (derived from shipment history; the fixture schema carries no
    partsupp catalog).

    One partial-agg'd shuffle on the part key computing the distinct
    supplier count and the revenue together (the distinct-count
    partial-aggregates per scan task); one row out.
    """
    li = load_table(spark, sf_dir, "lineitem")
    stats = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .cast("long")
        .alias("cents"),
    )
    return stats.filter(F.col("n_suppliers") == 1).agg(
        F.count("*").cast("long").alias("n_single_source"),
        F.expr("round(CAST(SUM(cents) AS DOUBLE) / 100.0, 2)").alias(
            "revenue_at_risk"
        ),
    )


# ---------------------------------------------------------------------------
# q_cohort_ltv — cumulative revenue per signup cohort (LTV curves)
# ---------------------------------------------------------------------------

_LTV_FINAL = (
    "cohort_week",
    "week_n",
    "CAST(n_users AS BIGINT) AS n_users",
    "round(CAST(rev AS DOUBLE) / 100.0, 2) + 0.0 AS week_revenue",
    "round(CAST(cum AS DOUBLE) / 100.0, 2) + 0.0 AS cum_revenue",
    "round(CAST(cum AS DOUBLE) / CAST(n_users AS DOUBLE) / 100.0, 6)"
    " + 0.0 AS ltv_per_user",
)


@query(
    "q_cohort_ltv",
    oracle=f"""
    WITH f AS (SELECT user_id, MIN(ts) AS first_ts
               FROM events GROUP BY user_id),
    p AS (
        SELECT strftime(date_trunc('week', f.first_ts), '%Y-%m-%d')
                   AS cohort_week,
               CAST(datediff('day',
                             CAST(date_trunc('week', f.first_ts) AS DATE),
                             CAST(e.ts AS DATE)) // 7 AS BIGINT) AS week_n,
               CAST(round(e.value * 100) AS BIGINT) AS cents
        FROM events e JOIN f USING (user_id)
        WHERE e.event_type = 'purchase'
    ),
    sz AS (
        SELECT strftime(date_trunc('week', first_ts), '%Y-%m-%d')
                   AS cohort_week,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM f GROUP BY 1
    ),
    cells AS (
        SELECT cohort_week, week_n, SUM(cents) AS rev
        FROM p GROUP BY cohort_week, week_n
    ),
    cum AS (
        SELECT c.*, sz.n_users,
               SUM(rev) OVER (PARTITION BY c.cohort_week ORDER BY week_n)
                   AS cum
        FROM cells c JOIN sz USING (cohort_week)
    )
    SELECT {", ".join(_LTV_FINAL)} FROM cum ORDER BY cohort_week, week_n
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-LTV curves per signup cohort: users bucketed by the
    week of their first event, purchase revenue accumulated over weeks
    since signup, normalized per cohort user — the payback-period /
    cohort-quality readout that complements q_retention_cohorts
    (activity) with money.

    Plan: one user-keyed first-event aggregate, a user-keyed join back
    to the purchase slice, a (cohort, week) cents aggregate, then the
    running total over the COHORT×WEEK CELL table — a bounded
    (weeks × weeks) relation, so the partitioned window is cell-sized,
    never data-scale (the q_value_anomaly low-cardinality-window trap
    does not apply to an aggregated frame). Exact integer cents
    throughout; divisions only in the final readout text.
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    cohort = F.date_format(
        F.date_trunc("week", F.col("first_ts")), "yyyy-MM-dd"
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .select(
            cohort.alias("cohort_week"),
            F.floor(
                F.datediff(
                    F.to_date("ts"),
                    F.to_date(F.date_trunc("week", F.col("first_ts"))),
                )
                / 7
            )
            .cast("long")
            .alias("week_n"),
            F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        )
    )
    sz = firsts.groupBy(cohort.alias("cohort_week")).agg(
        F.count("*").cast("long").alias("n_users")
    )
    cells = p.groupBy("cohort_week", "week_n").agg(
        F.sum("cents").cast("long").alias("rev")
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        cells.join(sz, "cohort_week")
        .withColumn("cum", F.sum("rev").over(w))
    )
    return cum.selectExpr(*_LTV_FINAL).orderBy("cohort_week", "week_n")


# ---------------------------------------------------------------------------
# q_markov_entropy — entropy rate of the user-journey Markov chain
# ---------------------------------------------------------------------------

#: Per-transition-cell entropy contribution −(n_ij/N)·log2(n_ij/n_i),
#: rounded to e9 integer units before the ≤|types|² cell sum.
_ME_TERM = (
    "CAST(round(-(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * log2(CAST(n AS DOUBLE) / CAST(n_out AS DOUBLE))"
    " * 1000000000) AS BIGINT)"
)

_ME_FINAL = (
    "CAST(nn AS BIGINT) AS n_transitions",
    "CAST(k AS BIGINT) AS n_states",
    "round(CAST(h_e9 AS DOUBLE) / 1000000000.0, 6) + 0.0"
    " AS entropy_rate_bits",
    "round(1.0 - CAST(h_e9 AS DOUBLE) / 1000000000.0"
    " / log2(CAST(k AS DOUBLE)), 6) + 0.0 AS predictability",
)


@query(
    "q_markov_entropy",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    trans AS (
        SELECT event_type AS from_type, next_type AS to_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    outs AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_out
             FROM trans GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
                   CAST(COUNT(DISTINCT from_type) AS BIGINT) AS k
            FROM trans),
    cells AS (
        SELECT {_ME_TERM} AS t_e9
        FROM trans t JOIN outs o USING (from_type) CROSS JOIN tot
    )
    SELECT {", ".join(_ME_FINAL)}
    FROM (SELECT SUM(t_e9) AS h_e9 FROM cells) CROSS JOIN tot
    """,
)
def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the first-order user-journey Markov chain
    (empirical weighting): H = −Σᵢⱼ (nᵢⱼ/N)·log₂(nᵢⱼ/nᵢ) over
    q_event_transitions' matrix, plus the normalized predictability
    1 − H/log₂k — the one-number answer to "how predictable is the
    next user action", the information-theoretic summary on top of
    the raw transition table.

    Per-cell entropy terms are e9-rounded integers before the
    ≤|types|² sum (round-before-sum); every count is exact.

    Scale: one user-partitioned LEAD window over the fact stream
    (user-keyed, parallelism = user count), a |types|²-cell
    aggregate, and bounded rollups.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = (
        seq.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count("*").cast("long").alias("n"))
    )
    outs = trans.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("n_out")
    )
    tot = trans.agg(
        F.sum("n").cast("long").alias("nn"),
        F.countDistinct("from_type").cast("long").alias("k"),
    )
    cells = (
        trans.join(outs, "from_type")
        .crossJoin(F.broadcast(tot))
        .selectExpr(f"{_ME_TERM} AS t_e9")
    )
    h = cells.agg(F.sum("t_e9").alias("h_e9"))
    return h.crossJoin(F.broadcast(tot)).selectExpr(*_ME_FINAL)


# ---------------------------------------------------------------------------
# q_attribution_shapley — Shapley-value channel attribution
# ---------------------------------------------------------------------------

#: Channel → bit, alphabetical (shared CASE text).
_SH_BIT = (
    "CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2"
    " WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END"
)
#: Arithmetic popcount of a 4-bit mask and bit-membership tests —
#: div/mod only, so one semantic in both engines (spelled // vs DIV).
def _sh_pop(m: str, div: str) -> str:
    return (
        f"(({m} {div} 1) % 2 + ({m} {div} 2) % 2"
        f" + ({m} {div} 4) % 2 + ({m} {div} 8) % 2)"
    )


#: Shapley coalition weights for k=4: w(s) = s!(3−s)!/4!.
_SH_W = (
    "CASE {p} WHEN 0 THEN 0.25 WHEN 1 THEN 0.08333333333333333"
    " WHEN 2 THEN 0.08333333333333333 ELSE 0.25 END"
)

_SH_FINAL = (
    "channel",
    "CAST(n_exposed AS BIGINT) AS n_users_exposed",
    "round(phi, 6) + 0.0 AS shapley_value",
)


def _shapley_oracle() -> str:
    pop = _sh_pop("s.m", "//")
    popb = _sh_pop("b.m", "//")
    return f"""
    WITH f0 AS (SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
    fp AS (
        SELECT e.user_id, MIN(e.ts) AS fpw
        FROM events e JOIN f0 ON f0.user_id = e.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts < f0.t0 + INTERVAL 24 HOUR
        GROUP BY e.user_id
    ),
    masked AS (
        SELECT e.user_id,
               CASE WHEN fp.user_id IS NOT NULL THEN 1 ELSE 0 END AS conv,
               MAX(CASE WHEN {_SH_BIT} = 1
                        AND e.ts < COALESCE(fp.fpw, f0.t0 + INTERVAL 24 HOUR)
                        THEN 1 ELSE 0 END)
               + 2 * MAX(CASE WHEN {_SH_BIT} = 2
                        AND e.ts < COALESCE(fp.fpw, f0.t0 + INTERVAL 24 HOUR)
                              THEN 1 ELSE 0 END)
               + 4 * MAX(CASE WHEN {_SH_BIT} = 4
                        AND e.ts < COALESCE(fp.fpw, f0.t0 + INTERVAL 24 HOUR)
                              THEN 1 ELSE 0 END)
               + 8 * MAX(CASE WHEN {_SH_BIT} = 8
                        AND e.ts < COALESCE(fp.fpw, f0.t0 + INTERVAL 24 HOUR)
                              THEN 1 ELSE 0 END) AS m
        FROM events e
        JOIN f0 ON f0.user_id = e.user_id
        LEFT JOIN fp ON fp.user_id = e.user_id
        GROUP BY e.user_id, conv
    ),
    vm AS (
        SELECT m, CAST(COUNT(*) AS BIGINT) AS users,
               CAST(SUM(conv) AS BIGINT) AS convs
        FROM masked GROUP BY m
    ),
    lattice AS (SELECT unnest(range(16)) AS m),
    v AS (
        SELECT l.m, COALESCE(CAST(vm.convs AS DOUBLE)
                             / NULLIF(CAST(vm.users AS DOUBLE), 0.0), 0.0)
                   AS val
        FROM lattice l LEFT JOIN vm ON vm.m = l.m
    ),
    channels AS (
        SELECT 'click' AS channel, 1 AS bit UNION ALL
        SELECT 'error', 2 UNION ALL
        SELECT 'signup', 4 UNION ALL
        SELECT 'view', 8
    ),
    terms AS (
        SELECT c.channel,
               ({_SH_W.format(p=pop)})
               * (b.val - s.val) AS contrib
        FROM channels c
        JOIN v s ON s.m % (2 * c.bit) < c.bit
        JOIN v b ON b.m = s.m + c.bit
    ),
    phi AS (
        SELECT channel, SUM(contrib) AS phi FROM terms GROUP BY channel
    ),
    exposure AS (
        SELECT c.channel, CAST(SUM(vm.users) AS BIGINT) AS n_exposed
        FROM channels c
        JOIN vm ON vm.m % (2 * c.bit) >= c.bit
        GROUP BY c.channel
    )
    SELECT {", ".join(_SH_FINAL)}
    FROM phi JOIN exposure USING (channel)
    ORDER BY channel
    """


@query("q_attribution_shapley", oracle=_shapley_oracle())
def q_attribution_shapley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution — the game-theoretic member
    of the attribution family (last-touch, position-based, Markov
    removal, and now the coalition-fair split): each user's
    first-24-hour touch channels (cut at the activating purchase)
    form a coalition, v(S) is the observed 24-hour-activation rate of
    users with exactly touchset S (0 for unobserved sets), and each channel's credit is its average
    marginal contribution over the 2⁴ subset lattice with the exact
    s!(k−1−s)!/k! weights.

    The lattice is CONSTANT-sized (16 masks × 4 channels): all
    data-scale work is one user-keyed aggregate building bitmasks;
    the Shapley sum is a bounded join over literal tables. Masks,
    counts, and exposure totals are exact integers; v and the
    weighted sum are shared-text doubles over ≤32 terms (the bounded
    double-sum posture of q_ipf_raking).

    Scale: one events scan + user-keyed aggregate; everything after
    is O(1).
    """
    ev = load_table(spark, sf_dir, "events")
    f0 = ev.groupBy("user_id").agg(F.min("ts").alias("t0"))
    fp = (
        ev.join(f0, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") < F.col("t0") + F.expr("interval 24 hour"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("fpw"))
    )
    bit = F.expr(_SH_BIT)
    pre = F.col("ts") < F.coalesce(
        F.col("fpw"), F.col("t0") + F.expr("interval 24 hour")
    )
    masked = (
        ev.join(f0, "user_id")
        .join(fp, "user_id", "left")
        .groupBy(
            "user_id", F.col("fpw").isNotNull().cast("int").alias("conv")
        )
        .agg(
            (
                F.max(F.when((bit == 1) & pre, 1).otherwise(0))
                + 2 * F.max(F.when((bit == 2) & pre, 1).otherwise(0))
                + 4 * F.max(F.when((bit == 4) & pre, 1).otherwise(0))
                + 8 * F.max(F.when((bit == 8) & pre, 1).otherwise(0))
            ).alias("m")
        )
    )
    vm = masked.groupBy("m").agg(
        F.count("*").cast("long").alias("users"),
        F.sum("conv").cast("long").alias("convs"),
    )
    lattice = spark.range(16).selectExpr("CAST(id AS INT) AS m")
    v = lattice.join(F.broadcast(vm), "m", "left").selectExpr(
        "m",
        "COALESCE(CAST(convs AS DOUBLE)"
        " / NULLIF(CAST(users AS DOUBLE), 0.0), 0.0) AS val",
    )
    channels = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit int",
    )
    s_side = v.selectExpr("m AS sm", "val AS sval")
    b_side = v.selectExpr("m AS bm", "val AS bval")
    pop = _sh_pop("sm", "DIV")
    terms = (
        channels.join(
            F.broadcast(s_side), F.expr("sm % (2 * bit) < bit")
        )
        .join(F.broadcast(b_side), F.expr("bm = sm + bit"))
        .selectExpr(
            "channel",
            f"({_SH_W.format(p=pop)}) * (bval - sval) AS contrib",
        )
    )
    phi = terms.groupBy("channel").agg(F.sum("contrib").alias("phi"))
    exposure = (
        channels.join(
            F.broadcast(vm), F.expr("m % (2 * bit) >= bit")
        )
        .groupBy("channel")
        .agg(F.sum("users").cast("long").alias("n_exposed"))
    )
    return (
        phi.join(exposure, "channel")
        .selectExpr(*_SH_FINAL)
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# q_timed_funnel — view → click → purchase, each step within 60 min
# ---------------------------------------------------------------------------



@query(
    "q_timed_funnel",
    oracle=f"""
    WITH v AS (
        SELECT user_id, MIN(ts) AS tv FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS tc
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.tv
          AND e.ts <= v.tv + INTERVAL {_TF_WINDOW_MIN} MINUTE
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS tp
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.tc
          AND e.ts <= c.tc + INTERVAL {_TF_WINDOW_MIN} MINUTE
        GROUP BY e.user_id
    ),
    s AS (
        SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS n_users,
               (SELECT COUNT(*) FROM v) AS n_view,
               (SELECT COUNT(*) FROM c) AS n_click,
               (SELECT COUNT(*) FROM p) AS n_purchase
    )
    SELECT {", ".join(_TF_FINAL)} FROM s
    """,
)
def q_timed_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timed conversion funnel: first view → first qualifying click
    (within 60 min of that view) → first qualifying purchase (within
    60 min of that click), per user — the time-bounded funnel that
    q_event_funnel's any-order-ever version can't express (a purchase
    three days after the view is NOT this funnel's conversion), with
    per-step conversion percentages.

    Step times are deterministic MINs; each stage is one user-keyed
    aggregate chained through a co-partitioned join (no windows, no
    per-user sort — the "first event after T within W" pattern is a
    filtered MIN, not an ordering).

    Scale: three user-keyed hash aggregates over progressively
    smaller slices + one four-counter readout.
    """
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.join(v, "user_id")
        .filter(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("tv"))
            & (
                F.col("ts")
                <= F.col("tv") + F.expr(f"interval {_TF_WINDOW_MIN} minute")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.join(c, "user_id")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("tc"))
            & (
                F.col("ts")
                <= F.col("tc") + F.expr(f"interval {_TF_WINDOW_MIN} minute")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    nu = ev.agg(F.countDistinct("user_id").alias("n_users"))
    nv = v.agg(F.count("*").alias("n_view"))
    nc = c.agg(F.count("*").alias("n_click"))
    np_ = p.agg(F.count("*").alias("n_purchase"))
    s = (
        nu.crossJoin(F.broadcast(nv))
        .crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(np_))
    )
    return s.selectExpr(*_TF_FINAL)


# ---------------------------------------------------------------------------
# q_brand_markup — realized unit price vs retail price, per brand
# ---------------------------------------------------------------------------

#: Per-lineitem markup ratio (realized unit price / retail), e6-fixed
#: BEFORE the per-brand sum (round-before-sum; all inputs exact-typed
#: doubles from parquet, one shared expression text).
_BM_RATIO_E6 = (
    "CAST(round(1000000.0 * (l_extendedprice / l_quantity)"
    " / p_retailprice) AS BIGINT)"
)

_BM_FINAL = (
    "p_brand AS brand",
    "CAST(n AS BIGINT) AS n_lineitems",
    "round(CAST(s_e6 AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6)"
    " + 0.0 AS avg_markup_ratio",
    "round(CAST(mn AS DOUBLE) / 1000000.0, 6) + 0.0 AS min_markup_ratio",
    "round(CAST(mx AS DOUBLE) / 1000000.0, 6) + 0.0 AS max_markup_ratio",
)


@query(
    "q_brand_markup",
    oracle=f"""
    WITH m AS (
        SELECT p_brand, {_BM_RATIO_E6} AS r_e6
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_quantity > 0 AND p_retailprice > 0
    ),
    s AS (
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
               SUM(r_e6) AS s_e6, MIN(r_e6) AS mn, MAX(r_e6) AS mx
        FROM m GROUP BY p_brand
    )
    SELECT {", ".join(_BM_FINAL)} FROM s ORDER BY brand
    """,
)
def q_brand_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized-price audit per brand: the ratio of each lineitem's
    realized unit price (extendedprice / quantity) to the part's list
    retail price, averaged with min/max per brand — the pricing-
    integrity readout that surfaces systematic over/under-list
    selling by brand (a ratio far from 1 flags catalog drift or
    channel-specific pricing).

    Per-row ratios are e6-rounded integers from one shared text
    before the per-brand integer sums (round-before-sum), so the
    averages are partition-order-free.

    Scale: one partkey equi-join (both sides data-scale,
    co-partitioned) + a |brand|-row hash aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    m = (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter((F.col("l_quantity") > 0) & (F.col("p_retailprice") > 0))
        .selectExpr("p_brand", f"{_BM_RATIO_E6} AS r_e6")
    )
    s = m.groupBy("p_brand").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("r_e6").cast("long").alias("s_e6"),
        F.min("r_e6").alias("mn"),
        F.max("r_e6").alias("mx"),
    )
    return s.selectExpr(*_BM_FINAL).orderBy("brand")


# ---------------------------------------------------------------------------
# q_acctbal_profile — account-balance health per market segment
# ---------------------------------------------------------------------------

_AB_CENTS = "CAST(round(c_acctbal * 100) AS BIGINT)"

_ABP_FINAL = (
    "c_mktsegment AS segment",
    "CAST(n AS BIGINT) AS n_customers",
    "CAST(n_neg AS BIGINT) AS n_negative",
    "round(100.0 * CAST(n_neg AS DOUBLE) / CAST(n AS DOUBLE), 4) + 0.0"
    " AS negative_pct",
    "round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 4) + 0.0"
    " AS mean_balance",
    "round(CAST(mn AS DOUBLE) / 100.0, 2) + 0.0 AS min_balance",
    "round(CAST(mx AS DOUBLE) / 100.0, 2) + 0.0 AS max_balance",
)


@query(
    "q_acctbal_profile",
    oracle=f"""
    WITH c AS (SELECT c_mktsegment, {_AB_CENTS} AS b FROM customer),
    s AS (
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN b < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg,
               SUM(b) AS s, MIN(b) AS mn, MAX(b) AS mx
        FROM c GROUP BY c_mktsegment
    )
    SELECT {", ".join(_ABP_FINAL)} FROM s ORDER BY segment
    """,
)
def q_acctbal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Account-balance health per market segment: customer counts,
    negative-balance (credit-risk) rate, and exact mean/min/max — the
    AR-aging style panel over the customer dimension's balance
    column, by segment.

    Determinism: balances are exact integer cents; sums are exact.
    Scale: one customer-scan hash aggregate to |segment| rows.
    """
    cust = load_table(spark, sf_dir, "customer")
    c = cust.selectExpr("c_mktsegment", f"{_AB_CENTS} AS b")
    s = c.groupBy("c_mktsegment").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("b") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_neg"),
        F.sum("b").cast("long").alias("s"),
        F.min("b").alias("mn"),
        F.max("b").alias("mx"),
    )
    return s.selectExpr(*_ABP_FINAL).orderBy("segment")


# ---------------------------------------------------------------------------
# q_reconciliation — order-header vs lineitem-derived total audit
# ---------------------------------------------------------------------------

#: Drift bucket: log10 magnitude of the absolute cents drift (0 =
#: exact to the cent), computed from exact integers in one shared text.
_RC_BUCKET = (
    "CASE WHEN drift_c = 0 THEN 0"
    " ELSE CAST(length(CAST(abs(drift_c) AS STRING)) AS INTEGER) END"
)

_RC_FINAL = (
    "CAST(bucket AS INTEGER) AS drift_digits",
    "CAST(n AS BIGINT) AS n_orders",
    "round(CAST(s_abs AS DOUBLE) / 100.0, 2) + 0.0 AS total_abs_drift",
    "round(CAST(s_net AS DOUBLE) / 100.0, 2) + 0.0 AS net_drift",
)


@query(
    "q_reconciliation",
    oracle=f"""
    WITH derived AS (
        SELECT l_orderkey,
               CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(16,4))
                              * (CAST(1 AS DECIMAL(8,4))
                                 - CAST(l_discount AS DECIMAL(8,4)))
                              * (CAST(1 AS DECIMAL(8,4))
                                 + CAST(l_tax AS DECIMAL(8,4))))) * 100
                    AS BIGINT) AS derived_c
        FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) - derived_c
                   AS drift_c
        FROM orders JOIN derived ON l_orderkey = o_orderkey
    ),
    b AS (
        SELECT {_RC_BUCKET} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(abs(drift_c)) AS HUGEINT) AS s_abs,
               CAST(SUM(drift_c) AS HUGEINT) AS s_net
        FROM j GROUP BY 1
    )
    SELECT {", ".join(_RC_FINAL)} FROM b ORDER BY drift_digits
    """,
)
def q_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ledger reconciliation audit: per order, the header total
    (o_totalprice) vs the lineitem-derived total
    Σ extprice·(1−disc)·(1+tax), reported as a drift histogram by
    decimal magnitude (bucket 0 = reconciles to the cent) with total
    absolute and signed net drift per bucket — the warehouse close
    check run before any revenue number ships. On the synthetic
    fixtures the header totals are generated independently, so the
    audit reports 100% drift — which is exactly the finding such an
    audit exists to surface.

    Determinism: the derived total is the decimal-money idiom
    (money.py) extended with the tax leg, rounded to exact cents;
    drifts, buckets, and sums are exact integers end-to-end
    (DECIMAL(38,0)/HUGEINT); the two dollar readouts are shared
    texts over those integers.

    Scale: one lineitem aggregate keyed by orderkey (map-side
    combined), one orderkey equi-join against orders (co-partitioned
    at 100 TB via the bucketed layout in sources/bucketed.py), one
    bounded (≤12-bucket) rollup. No windows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    one = F.lit(1).cast("decimal(8,4)")
    line_total = (
        F.col("l_extendedprice").cast("decimal(16,4)")
        * (one - F.col("l_discount").cast("decimal(8,4)"))
        * (one + F.col("l_tax").cast("decimal(8,4)"))
    )
    derived = li.groupBy("l_orderkey").agg(
        (F.round(F.sum(line_total), 0) * 100).cast("long").alias("derived_c")
    )
    j = orders.join(
        derived, orders.o_orderkey == derived.l_orderkey
    ).select(
        (
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
            - F.col("derived_c")
        ).alias("drift_c")
    )
    b = (
        j.select(F.expr(_RC_BUCKET).alias("bucket"), "drift_c")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum(F.abs(F.col("drift_c")).cast("decimal(38,0)")).alias(
                "s_abs"
            ),
            F.sum(F.col("drift_c").cast("decimal(38,0)")).alias("s_net"),
        )
    )
    return b.selectExpr(*_RC_FINAL).orderBy("drift_digits")
