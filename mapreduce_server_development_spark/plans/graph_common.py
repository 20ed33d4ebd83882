"""Shared co-purchase edge relation with a whale-basket cap.

Every graph-family query (triangles, k-core, LPA, modularity,
clustering coefficient, eccentricity, link prediction, assortativity,
degree distribution, BFS, betweenness) derives its edges from
:func:`copurchase_edges`: the one order-keyed self-join over
``po = DISTINCT (l_orderkey, l_partkey)``.  Per-order
pair fan-out is C(|basket|, 2): quadratic in the largest basket.  On
the TPC-H-ish fixtures this is schema-bounded (<= 7 lineitems/order ->
<= 21 pairs), but a skewed production basket distribution would
detonate it, so — exactly like the item-CF family's
``_CF_BASKET_CAP`` (graph_analytics.py) and q_assoc_rules — orders
whose distinct-part basket exceeds ``ORDER_BASKET_CAP`` are excluded
from edge generation BEFORE the self-join, identically in the Spark
plan and the DuckDB oracle, so correctness checks remain exact.

Scale shape: the cap is one key-partitioned count on ``l_orderkey``
plus a co-partitioned left-semi join — the same key the self-join
shuffles on, so AQE/exchange reuse keeps it at effectively one extra
map-side pass, and the worst-case pair fan-out becomes
C(ORDER_BASKET_CAP, 2) per order regardless of skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize
from ..sources.tables import load_table

#: Whale-basket cap for order-keyed pair generation — same value (and
#: same rationale) as the customer-keyed ``_CF_BASKET_CAP``.
ORDER_BASKET_CAP = 256


def po_sql() -> str:
    """Oracle CTE text for the capped basket relation ``po``.

    Emits ``po0`` (raw distinct pairs), ``po_ok`` (orders within the
    cap), and ``po`` (capped pairs) — drop it where a bare
    ``po AS (SELECT DISTINCT ...)`` used to sit.
    """
    return f"""po0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    po_ok AS (
        SELECT l_orderkey FROM po0
        GROUP BY 1 HAVING COUNT(*) <= {ORDER_BASKET_CAP}
    ),
    po AS (
        SELECT p.l_orderkey, p.l_partkey
        FROM po0 p JOIN po_ok k ON k.l_orderkey = p.l_orderkey
    )"""


def capped_po(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`po_sql`: distinct (l_orderkey, l_partkey)
    pairs from orders whose basket is within ``ORDER_BASKET_CAP``.

    The cap is a COUNT window over the ``l_orderkey`` partition, not a
    groupBy + left-semi join: the join form computed the distinct
    ``po`` relation twice (once to derive the ok-list, once as the
    probe side — AQE does not always reuse that exchange), which the
    round-7 review measured as a +34% regression on q_modularity. The
    window is one extra exchange on ``l_orderkey`` over the distinct
    output, partitions are basket-sized (<= a few hundred rows even
    before the cap filters them), and the output arrives already
    hash-partitioned on ``l_orderkey`` — the key the downstream pair
    self-join shuffles on, so that exchange is reused.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    po = li.select("l_orderkey", "l_partkey").distinct()
    return (
        po.withColumn(
            "basket_n", F.count("*").over(Window.partitionBy("l_orderkey"))
        )
        .filter(F.col("basket_n") <= ORDER_BASKET_CAP)
        .drop("basket_n")
    )


def copurchase_edges(
    spark: SparkSession, sf_dir: str, min_support: int = 1
) -> DataFrame:
    """Distinct undirected co-purchase edges ``(a, b)``, a < b: parts
    bought together in at least ``min_support`` capped orders.

    Checkpointed eagerly, so the symmetric edges, the degrees and the
    per-round joins of every consumer reuse one physical pair join
    instead of re-running it per reference.
    """
    po = capped_po(spark, sf_dir)
    return materialize(
        po.alias("x")
        .join(po.alias("y"), "l_orderkey")
        .filter(F.col("x.l_partkey") < F.col("y.l_partkey"))
        .groupBy(
            F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b")
        )
        .agg(F.count("*").alias("sup"))
        .filter(F.col("sup") >= min_support)
        .select("a", "b")
    )
