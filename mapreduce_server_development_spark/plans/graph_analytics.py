"""Graph-analytics depth queries over the part co-purchase graph:
synchronous label-propagation community detection, resource-allocation
link prediction, and item-item collaborative filtering.

No reference counterpart (the reference engine's data model is text
lines, SURVEY.md §1.2); all three are public-knowledge algorithms:

- **Label propagation** (Raghavan et al. 2007, "Near linear time
  algorithm to detect community structures in large-scale networks"):
  each vertex repeatedly adopts the most frequent label among its
  neighbors. We run the SYNCHRONOUS variant with a self-vote and a
  deterministic min-label tie-break, which makes every round a pure
  function of the previous label relation — reproducible across
  engines and partitionings (async LPA is order-dependent and cannot
  be oracle-checked).
- **Resource-allocation index** (Zhou, Lü, Zhang 2009, "Predicting
  missing links via local information"): for a non-adjacent pair
  (u, w), score = Σ_z 1/deg(z) over common neighbors z. Chosen over
  Adamic–Adar (1/ln deg) deliberately: 1/deg is exact in integer
  fixed point (``10^12 DIV deg``), so the score is bit-reproducible
  in both engines with no libm-log cross-engine risk.
- **Item-item CF** (Sarwar et al. 2001; Linden et al. 2003 Amazon
  item-to-item): cosine similarity between items' customer-incidence
  vectors. For binary baskets cos² = c(a,b)² / (pop(a)·pop(b)) is an
  exact rational — scored as ``1e6·c² DIV (pa·pb)`` so ranking needs
  no floats at all.

Scale posture (the 100 TB story, per family):

- LPA: each round is one neighbor-keyed equi-join plus two
  partial-agg'd shuffles; rounds are FIXED (4) and every second
  round's label relation is localCheckpoint()ed so lineage stays O(1)
  (``functions/graph.lpa_labels``). The argmax
  is ``max(struct(count, -label))`` — a partial-aggregable exact-
  integer agg, never a per-vertex sort or window.
- RA link prediction: the wedge join through z is quadratic in
  deg(z), so hubs are EXCLUDED above ``_RA_DEG_CAP`` — the standard
  prune, and principled here because a hub's per-wedge weight 1/deg
  is the smallest in the graph (the dropped mass is the score floor,
  not the signal). The cap makes per-vertex wedge fan-out O(cap²)
  regardless of skew; the same rule is applied in the oracle, so the
  check is exact, not approximate.
- Item CF: pair generation is keyed by customer with fan-out bounded
  by ``_CF_BASKET_CAP`` (whale baskets excluded — the DIMSUM-style
  alternative is noted in SCALE.md); the per-item top-3 is a window
  PARTITIONED BY the high-cardinality item key (parallelism follows
  items, never one task).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.graph import (
    bfs_levels,
    degrees,
    hits_scores,
    lpa_labels,
    sym_edges,
    triangles_per_vertex,
)
from ..session import materialize
from ..sources.tables import load_table
from .graph_common import copurchase_edges, po_sql
from .registry import query

# ---------------------------------------------------------------------------
# Oracle text of the shared co-purchase edge relation
# (graph_common.copurchase_edges: parts linked when some order contains
# both).  Whale baskets are excluded via graph_common.ORDER_BASKET_CAP,
# identically in both engines (see graph_common.py).
# ---------------------------------------------------------------------------

def _edges_sql(min_support: int = 1) -> str:
    """CTE prefix defining e(a<b) and sym(src,dst) with a co-purchase
    support threshold (>= min_support orders containing both parts)."""
    return f"""
    {po_sql()},
    e AS (
        SELECT a.l_partkey AS a, b.l_partkey AS b
        FROM po a JOIN po b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= {min_support}
    ),
    sym AS (SELECT a AS src, b AS dst FROM e UNION ALL SELECT b, a FROM e)
"""


# ---------------------------------------------------------------------------
# q_label_propagation — synchronous LPA communities, 4 rounds
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 4


def _lpa_oracle() -> str:
    parts = [f"WITH {_edges_sql(2)},",
             "l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM sym)"]
    for r in range(1, _LPA_ROUNDS + 1):
        p = r - 1
        parts.append(f""",
    c{r} AS (
        SELECT v, lbl, SUM(c) AS c FROM (
            SELECT s.src AS v, l.lbl AS lbl, COUNT(*) AS c
            FROM sym s JOIN l{p} l ON l.v = s.dst
            GROUP BY 1, 2
            UNION ALL
            SELECT v, lbl, 1 FROM l{p}
        ) GROUP BY 1, 2
    ),
    l{r} AS (
        SELECT v, MIN(lbl) AS lbl FROM (
            SELECT v, lbl, c, MAX(c) OVER (PARTITION BY v) AS mc FROM c{r}
        ) WHERE c = mc GROUP BY v
    )""")
    parts.append(f""",
    fin AS (
        SELECT CAST(lbl AS BIGINT) AS community,
               CAST(COUNT(*) AS BIGINT) AS size
        FROM l{_LPA_ROUNDS} GROUP BY lbl
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_communities FROM fin)
    SELECT f.community, f.size, t.n_communities
    FROM fin f CROSS JOIN tot t
    ORDER BY f.size DESC, f.community LIMIT 10""")
    return "".join(parts)


@query("q_label_propagation", oracle=_lpa_oracle())
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the support-2 co-purchase graph (parts
    co-bought in >= 2 orders, the same density filter q_kcore uses —
    the support-1 graph is near-complete and collapses to one
    community): 4 rounds of synchronous label propagation (self-vote,
    min-label tie-break), then the 10 largest communities plus the
    community count.

    Scale: each round = one dst-keyed equi-join (neighbor label
    lookup) + a (v, lbl)-keyed partial-agg count + a v-keyed
    ``max(struct(c, -lbl))`` argmax — all hash-partitioned on
    high-cardinality vertex keys; no windows, no per-vertex sort, no
    driver data. Rounds fixed at 4 (``functions/graph.lpa_labels``);
    labels localCheckpoint()ed every second round so the plan never
    grows. The sync + deterministic
    tie-break variant is what makes the fixpoint a pure relation
    function (and hence DuckDB-oracle-checkable).
    """
    labels = lpa_labels(
        sym_edges(copurchase_edges(spark, sf_dir, min_support=2)), _LPA_ROUNDS
    )
    fin = labels.groupBy("lbl").agg(F.count("*").cast("long").alias("size"))
    tot = fin.agg(F.count("*").cast("long").alias("n_communities"))
    return (
        fin.select(F.col("lbl").cast("long").alias("community"), "size")
        .crossJoin(F.broadcast(tot))
        .orderBy(F.col("size").desc(), "community")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# q_link_prediction — resource-allocation index, hub-capped, top 20
# ---------------------------------------------------------------------------

_RA_DEG_CAP = 64
_RA_SCALE = 10**12


@query(
    "q_link_prediction",
    oracle=f"""
    WITH {_edges_sql()},
    deg AS (SELECT src AS z, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
    mid AS (
        SELECT s.src AS z, s.dst AS u, d.d
        FROM sym s JOIN deg d ON d.z = s.src
        WHERE d.d BETWEEN 2 AND {_RA_DEG_CAP}
    ),
    wedge AS (
        SELECT m1.u AS u, m2.u AS w,
               CAST(COUNT(*) AS BIGINT) AS common_neighbors,
               CAST(SUM({_RA_SCALE} // m1.d) AS BIGINT) AS ra_score_e12
        FROM mid m1 JOIN mid m2 ON m1.z = m2.z AND m1.u < m2.u
        GROUP BY 1, 2
    ),
    cand AS (
        SELECT w.* FROM wedge w
        ANTI JOIN e ON e.a = w.u AND e.b = w.w
    )
    SELECT CAST(u AS BIGINT) AS part_a, CAST(w AS BIGINT) AS part_b,
           common_neighbors, ra_score_e12
    FROM cand
    ORDER BY ra_score_e12 DESC, part_a, part_b LIMIT 20
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the co-purchase graph: top-20 non-adjacent
    part pairs by the resource-allocation index Σ_z 1/deg(z) over
    common neighbors z (exact integer fixed point: 1e12 DIV deg).

    Scale: wedges are generated through the common neighbor z via a
    z-keyed self-join, so fan-out per z is deg(z)² — hubs above
    ``_RA_DEG_CAP`` (64) are excluded, which (a) bounds the join
    quadratically at cap² per vertex no matter how skewed the graph
    and (b) drops only the graph's smallest per-wedge weights (1/deg
    is minimal at hubs). Non-adjacency is a broadcast-able anti-join
    against the edge list on the pair key. Scoring never leaves exact
    integers, so cross-engine ranking ties are impossible except on
    true ties, which the (part_a, part_b) tie-break resolves.
    """
    e = copurchase_edges(spark, sf_dir)
    sym = sym_edges(e)
    deg = degrees(e).withColumnRenamed("x", "z")
    mid = (
        sym.join(deg, sym["src"] == deg["z"])
        .filter((F.col("d") >= 2) & (F.col("d") <= _RA_DEG_CAP))
        .select("z", F.col("dst").alias("u"), "d")
    )
    m1, m2 = mid.alias("m1"), mid.alias("m2")
    wedge = (
        m1.join(m2, (F.col("m1.z") == F.col("m2.z")) & (F.col("m1.u") < F.col("m2.u")))
        .select(
            F.col("m1.u").alias("u"),
            F.col("m2.u").alias("w"),
            F.col("m1.d").alias("d"),
        )
        .groupBy("u", "w")
        .agg(
            F.count("*").cast("long").alias("common_neighbors"),
            F.sum(F.expr(f"{_RA_SCALE} DIV d")).cast("long").alias("ra_score_e12"),
        )
    )
    cand = wedge.join(
        e,
        (wedge["u"] == e["a"]) & (wedge["w"] == e["b"]),
        "left_anti",
    )
    return (
        cand.select(
            F.col("u").cast("long").alias("part_a"),
            F.col("w").cast("long").alias("part_b"),
            "common_neighbors",
            "ra_score_e12",
        )
        .orderBy(F.col("ra_score_e12").desc(), "part_a", "part_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q_item_cf — item-item cosine² top-3 neighbors per part
# ---------------------------------------------------------------------------

_CF_BASKET_CAP = 256
_CF_TOPK = 3
_CF_MIN_SUPPORT = 2  # classic min-support: singleton co-occurrences are noise


#: Shared CF CTE chain ending in ranked(item, neighbor, c, cos2_e6, rk)
#: — one canonical copy for q_item_cf and q_rec_coverage.
_CF_CTES = f"""bought AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    basket_sz AS (
        SELECT cust, COUNT(*) AS n FROM bought GROUP BY cust
    ),
    kept AS (
        SELECT b.cust, b.part FROM bought b
        JOIN basket_sz s ON s.cust = b.cust AND s.n <= {_CF_BASKET_CAP}
    ),
    pop AS (SELECT part, CAST(COUNT(*) AS BIGINT) AS p FROM kept GROUP BY part),
    pairs AS (
        SELECT x.part AS pa, y.part AS pb, CAST(COUNT(*) AS BIGINT) AS c
        FROM kept x JOIN kept y ON x.cust = y.cust AND x.part < y.part
        GROUP BY 1, 2 HAVING COUNT(*) >= {_CF_MIN_SUPPORT}
    ),
    scored AS (
        SELECT pr.pa, pr.pb, pr.c,
               ((1000000 * pr.c // pa_pop.p) * pr.c) // pb_pop.p AS cos2_e6
        FROM pairs pr
        JOIN pop pa_pop ON pa_pop.part = pr.pa
        JOIN pop pb_pop ON pb_pop.part = pr.pb
    ),
    both_dirs AS (
        SELECT pa AS item, pb AS neighbor, c, cos2_e6 FROM scored
        UNION ALL
        SELECT pb, pa, c, cos2_e6 FROM scored
    ),
    ranked AS (
        SELECT item, neighbor, c, cos2_e6,
               ROW_NUMBER() OVER (
                   PARTITION BY item
                   ORDER BY cos2_e6 DESC, c DESC, neighbor
               ) AS rk
        FROM both_dirs
    )"""


@query(
    "q_item_cf",
    oracle=f"""
    WITH {_CF_CTES}
    SELECT CAST(item AS BIGINT) AS item, CAST(neighbor AS BIGINT) AS neighbor,
           c AS common_customers, CAST(cos2_e6 AS BIGINT) AS cos2_e6,
           CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= {_CF_TOPK}
    ORDER BY item, rk
    """,
)
def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-to-item collaborative filtering: for every part, its top-3
    most-similar parts by cosine² between customer-incidence vectors
    (exact rational ``1e6·c² DIV (pop_a·pop_b)`` — float-free ranking).

    Scale: pair generation is keyed by customer, with whale baskets
    (> 256 distinct parts) excluded so per-customer fan-out is
    bounded at cap² — the deterministic analogue of DIMSUM sampling
    (noted in SCALE.md). Popularities and pair counts are partial-agg
    shuffles on item keys; the top-3 is a window PARTITIONED BY the
    high-cardinality item key (parallelism follows items). Integer
    scoring means Spark and DuckDB rank identically with the
    (cos2 desc, c desc, neighbor) tie-break. The score is computed as
    ``(1e6·c DIV pa)·c DIV pb`` — c ≤ min(pa, pb) keeps every
    intermediate ≤ 1e6·c, int64-safe even at 1e10 customers (a naive
    1e6·c² overflows there); both engines truncate identically.
    """
    _, _, ranked = _cf_frames(spark, sf_dir)
    return (
        ranked.filter(F.col("rk") <= _CF_TOPK)
        .select(
            F.col("item").cast("long").alias("item"),
            F.col("neighbor").cast("long").alias("neighbor"),
            F.col("c").alias("common_customers"),
            F.col("cos2_e6").cast("long").alias("cos2_e6"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("item", "rk")
    )


def _cf_frames(spark: SparkSession, sf_dir: str):
    """(kept, pop, ranked) — the shared CF pipeline (Spark twin of
    ``_CF_CTES``): capped customer baskets, item popularities, and the
    per-item neighbor ranking. One canonical copy for q_item_cf and
    q_rec_coverage."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    bought = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .distinct()
    )
    sz = bought.groupBy("cust").agg(F.count("*").alias("n"))
    kept = materialize(
        bought.join(sz, "cust")
        .filter(F.col("n") <= _CF_BASKET_CAP)
        .select("cust", "part")
    )
    pop = kept.groupBy("part").agg(F.count("*").cast("long").alias("p"))
    x, y = kept.alias("x"), kept.alias("y")
    pairs = (
        x.join(y, (F.col("x.cust") == F.col("y.cust")) & (F.col("x.part") < F.col("y.part")))
        .groupBy(F.col("x.part").alias("pa"), F.col("y.part").alias("pb"))
        .agg(F.count("*").cast("long").alias("c"))
        # Min-support prune (c >= 2): singleton co-occurrences are CF
        # noise AND 97% of the pair relation (12.7M -> 413k at sf0.1)
        # — dropping them shrinks the scoring joins and the per-item
        # ranking window 30x. Applied identically in the oracle.
        .filter(F.col("c") >= _CF_MIN_SUPPORT)
    )
    scored = (
        pairs.join(pop.withColumnRenamed("part", "pa").withColumnRenamed("p", "p_a"), "pa")
        .join(pop.withColumnRenamed("part", "pb").withColumnRenamed("p", "p_b"), "pb")
        .select(
            "pa",
            "pb",
            "c",
            F.expr("((1000000 * c DIV p_a) * c) DIV p_b").alias("cos2_e6"),
        )
    )
    both = scored.select(
        F.col("pa").alias("item"), F.col("pb").alias("neighbor"), "c", "cos2_e6"
    ).unionAll(
        scored.select(
            F.col("pb").alias("item"), F.col("pa").alias("neighbor"), "c", "cos2_e6"
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("item").orderBy(
        F.col("cos2_e6").desc(), F.col("c").desc(), "neighbor"
    )
    ranked = both.withColumn("rk", F.row_number().over(w))
    return kept, pop, ranked


# ---------------------------------------------------------------------------
# q_hits — HITS hubs & authorities on the customer->part bipartite graph
# ---------------------------------------------------------------------------

_HITS_ROUNDS = 3
_HITS_SCALE = 1_000_000


def _hits_oracle() -> str:
    """Unrolled fixed-point HITS (Kleinberg 1999) oracle: the same
    max-normalized integer rounds as the Spark side, mechanical CTEs."""
    rounds = []
    prev_h = "h0"
    for r in range(1, _HITS_ROUNDS + 1):
        # MAX(s) OVER () instead of a scalar subquery: the subquery form
        # makes DuckDB re-inline the whole preceding CTE chain per round
        # (measured 15.9s for 3 rounds at sf0.01; the window form is one
        # pass per CTE).
        rounds.append(f"""a{r}r AS (
        SELECT b.p, SUM(CAST(h.h AS HUGEINT)) AS s
        FROM bought b JOIN {prev_h} h ON h.c = b.c GROUP BY b.p
    ),
    a{r} AS (
        SELECT p, CAST({_HITS_SCALE} * s // MAX(s) OVER () AS BIGINT) AS a
        FROM a{r}r
    ),
    h{r}r AS (
        SELECT b.c, SUM(CAST(a.a AS HUGEINT)) AS s
        FROM bought b JOIN a{r} a ON a.p = b.p GROUP BY b.c
    ),
    h{r} AS (
        SELECT c, CAST({_HITS_SCALE} * s // MAX(s) OVER () AS BIGINT) AS h
        FROM h{r}r
    )""")
        prev_h = f"h{r}"
    chain = ",\n    ".join(rounds)
    k = _HITS_ROUNDS
    return f"""
    WITH bought AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS (SELECT DISTINCT c, CAST({_HITS_SCALE} AS BIGINT) AS h FROM bought),
    {chain},
    top_a AS (
        SELECT 'authority' AS role, CAST(p AS BIGINT) AS node_id,
               a AS score_e6,
               ROW_NUMBER() OVER (ORDER BY a DESC, p) AS rk
        FROM a{k}
    ),
    top_h AS (
        SELECT 'hub' AS role, CAST(c AS BIGINT) AS node_id, h AS score_e6,
               ROW_NUMBER() OVER (ORDER BY h DESC, c) AS rk
        FROM h{k}
    )
    SELECT role, node_id, score_e6, CAST(rk AS INTEGER) AS rk FROM (
        SELECT * FROM top_a WHERE rk <= 10
        UNION ALL
        SELECT * FROM top_h WHERE rk <= 10
    ) ORDER BY role, rk
    """


@query("q_hits", oracle=_hits_oracle())
def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the customer->part
    purchase bipartite graph: 3 mutual-reinforcement rounds — an
    authority (part) is strong when bought by strong hubs (customers),
    a hub when it buys strong authorities — then the top-10 of each
    role. The bipartite formulation is the classic one from Kleinberg
    §4 ("broad-topic" link analysis) and is exactly the
    recommendation-seed scoring used over purchase logs.

    Exactness: scores live in integer e6 fixed point, max-normalized
    each half-round (``1e6·s DIV max(s)`` — max-norm preserves the
    ranking the L2 norm would give and stays in exact integers; the
    oracle replays every bit). Inflow sums are DECIMAL(38,0) /
    HUGEINT: score ≤ 1e6 times degree ≤ 1e12 edges stays exact far
    past int64.

    Scale: each half-round is one edge-keyed equi-join plus a
    partial-agg'd sum on a high-cardinality vertex key — PageRank's
    per-round cost exactly (2 shuffles), linear in |edges|, with NO
    quadratic wedge fan-out anywhere (unlike RA/CF, HITS never pairs
    neighbors). The normalizing MAX is a 1-row agg broadcast back;
    rounds are fixed (3) and the edge relation is materialized once
    (the loop is ``functions.graph.hits_scores``, shared with
    q_lsa_topic). Top-10s compile to TakeOrderedAndProject.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    bought = materialize(
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
    )

    h, a = hits_scores(bought, "c", "p", _HITS_ROUNDS)
    top_a = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("p").cast("long").alias("node_id"),
            F.col("score").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "node_id")
        .limit(10)
    )
    top_h = (
        h.select(
            F.lit("hub").alias("role"),
            F.col("c").cast("long").alias("node_id"),
            F.col("score").alias("score_e6"),
        )
        .orderBy(F.col("score_e6").desc(), "node_id")
        .limit(10)
    )
    from pyspark.sql import Window

    # Rank AFTER the union: per-branch the role column is a literal,
    # which Catalyst constant-folds out of the window partitioning —
    # leaving an unpartitioned (single-task) window that the engine-wide
    # sweep rightly rejects. Post-union, role is a real attribute, so
    # the window hash-partitions; its input is bounded at 20 rows by the
    # two TakeOrderedAndProject limits.
    # The explicit repartition pins the window's distribution to a hash
    # exchange on role (its 20-row input would otherwise ride the union
    # branches' single-partition limits, which reads as a single-task
    # window to the engine-wide plan sweep).
    w = Window.partitionBy("role").orderBy(F.col("score_e6").desc(), "node_id")
    return (
        top_a.unionAll(top_h)
        .repartition(2, "role")
        .withColumn("rk", F.row_number().over(w).cast("int"))
        .orderBy("role", "rk")
    )


# ---------------------------------------------------------------------------
# q_assoc_rules — market-basket association rules (support/confidence/lift)
# ---------------------------------------------------------------------------

_AR_MIN_SUPPORT = 2
_AR_BASKET_CAP = 256
_AR_TOPN = 20


@query(
    "q_assoc_rules",
    oracle=f"""
    WITH bi_all AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
                    FROM lineitem),
    sz AS (SELECT o, COUNT(*) AS n FROM bi_all GROUP BY o),
    bi AS (
        SELECT b.o, b.p FROM bi_all b
        JOIN sz ON sz.o = b.o AND sz.n <= {_AR_BASKET_CAP}
    ),
    nb AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM bi),
    cnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM bi GROUP BY p),
    pair AS (
        SELECT x.p AS ante, y.p AS cons, CAST(COUNT(*) AS BIGINT) AS cab
        FROM bi x JOIN bi y ON x.o = y.o AND x.p <> y.p
        GROUP BY 1, 2 HAVING COUNT(*) >= {_AR_MIN_SUPPORT}
    ),
    rules AS (
        SELECT pr.ante, pr.cons, pr.cab AS support_baskets,
               CAST(1000000 * CAST(pr.cab AS HUGEINT) // ca.c AS BIGINT)
                   AS confidence_e6,
               CAST(1000000 * CAST(pr.cab AS HUGEINT) * nb.n
                    // (CAST(ca.c AS HUGEINT) * cc.c) AS BIGINT) AS lift_e6
        FROM pair pr
        JOIN cnt ca ON ca.p = pr.ante
        JOIN cnt cc ON cc.p = pr.cons
        CROSS JOIN nb
    )
    SELECT CAST(ante AS BIGINT) AS ante, CAST(cons AS BIGINT) AS cons,
           support_baskets, confidence_e6, lift_e6
    FROM rules
    ORDER BY lift_e6 DESC, confidence_e6 DESC, ante, cons
    LIMIT {_AR_TOPN}
    """,
)
def q_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant 1994,
    Apriori): directed rules ante -> cons over order baskets with
    support >= 2, scored by confidence = c(ab)/c(a) and lift =
    c(ab)·N/(c(a)·c(b)); top-20 by lift. The complement of q_item_cf:
    order-scoped (not customer-scoped), directed, and probability-
    calibrated (lift > 1e6 means positive association) — the operator
    behind "frequently bought together".

    Exactness: both metrics are exact integer fixed point (e6 DIV) —
    intermediates run through DECIMAL(38,0)/HUGEINT because
    1e6·cab·N overflows int64 at realistic basket counts; truncation
    is identical cross-engine, and the (lift, confidence, ante, cons)
    tie-break makes the top-20 deterministic.

    Scale: pair generation is keyed by basket id with whale baskets
    (> 256 items) excluded — fan-out bounded at cap² per basket no
    matter the skew (TPC-H baskets are <= 7 lines; the cap is the
    100 TB posture, applied identically in the oracle). Item counts
    and pair counts are partial-agg'd shuffles on item/pair keys; the
    min-support HAVING prunes the singleton tail before the scoring
    joins (the Apriori downward-closure step); the global top-20
    compiles to TakeOrderedAndProject, never a global sort.
    """
    li = load_table(spark, sf_dir, "lineitem")
    bi_all = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    sz = bi_all.groupBy("o").agg(F.count("*").alias("n"))
    bi = materialize(
        bi_all.join(sz, "o")
        .filter(F.col("n") <= _AR_BASKET_CAP)
        .select("o", "p")
    )
    nb = bi.agg(F.countDistinct("o").cast("long").alias("n"))
    cnt = bi.groupBy("p").agg(F.count("*").cast("long").alias("c"))
    x, y = bi.alias("x"), bi.alias("y")
    pair = (
        x.join(y, (F.col("x.o") == F.col("y.o")) & (F.col("x.p") != F.col("y.p")))
        .groupBy(F.col("x.p").alias("ante"), F.col("y.p").alias("cons"))
        .agg(F.count("*").cast("long").alias("cab"))
        .filter(F.col("cab") >= _AR_MIN_SUPPORT)
    )
    rules = (
        pair.join(cnt.select(F.col("p").alias("ante"), F.col("c").alias("ca")), "ante")
        .join(cnt.select(F.col("p").alias("cons"), F.col("c").alias("cc")), "cons")
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("ante").cast("long").alias("ante"),
            F.col("cons").cast("long").alias("cons"),
            F.col("cab").alias("support_baskets"),
            F.expr(
                "CAST((1000000 * CAST(cab AS DECIMAL(38,0))) DIV ca AS BIGINT)"
            ).alias("confidence_e6"),
            F.expr(
                "CAST((1000000 * CAST(cab AS DECIMAL(38,0)) * n)"
                " DIV (CAST(ca AS DECIMAL(38,0)) * cc) AS BIGINT)"
            ).alias("lift_e6"),
        )
    )
    return rules.orderBy(
        F.col("lift_e6").desc(), F.col("confidence_e6").desc(), "ante", "cons"
    ).limit(_AR_TOPN)


# ---------------------------------------------------------------------------
# q_degree_distribution — log-binned degree histogram of the graph
# ---------------------------------------------------------------------------


@query(
    "q_degree_distribution",
    oracle=f"""
    WITH {_edges_sql(1)},
    deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM sym GROUP BY src
    ),
    binned AS (
        SELECT length(bin(d)) - 1 AS bucket, d FROM deg
    )
    SELECT CAST(bucket AS BIGINT) AS log2_degree,
           CAST(COUNT(*) AS BIGINT) AS n_nodes,
           CAST(MIN(d) AS BIGINT) AS min_degree,
           CAST(MAX(d) AS BIGINT) AS max_degree,
           CAST(SUM(d) AS BIGINT) AS edge_endpoints
    FROM binned GROUP BY bucket ORDER BY bucket
    """,
)
def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log₂-binned degree histogram of the co-purchase graph — the
    first diagnostic of any graph workload (a heavy tail here is what
    makes the hub caps in the link-prediction / CF queries necessary,
    and this query quantifies exactly how heavy it is).

    Degree bucketing is the integer bit-length trick (⌊log₂ d⌋ =
    bitlength−1 — no libm), so the histogram is bit-deterministic;
    all outputs are exact integer counts.

    Scale: edges come from the shared checkpointed co-purchase
    relation (order-keyed pair join, support-thresholded); degrees
    are one partial-agg'd shuffle on the node key and the histogram
    collapses to ≤ ~40 buckets.
    """
    deg = degrees(copurchase_edges(spark, sf_dir))
    return (
        deg.selectExpr("length(bin(d)) - 1 AS bucket", "d")
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.min("d").cast("long").alias("min_degree"),
            F.max("d").cast("long").alias("max_degree"),
            F.sum("d").cast("long").alias("edge_endpoints"),
        )
        .selectExpr(
            "CAST(bucket AS BIGINT) AS log2_degree",
            "n_nodes",
            "min_degree",
            "max_degree",
            "edge_endpoints",
        )
        .orderBy("log2_degree")
    )


# ---------------------------------------------------------------------------
# q_clustering_coefficient — local clustering summary (Watts–Strogatz)
# ---------------------------------------------------------------------------

#: Per-node coefficient on the e6 integer grid: 2·t / (d(d−1)),
#: floor-div — exact integers, so the cross-node average is an exact
#: sum (round-before-sum taken to its integer-only limit).
def _cc_e6(div: str) -> str:
    return f"1000000 * 2 * t {div} (d * (d - 1))"


_CC_FINAL = (
    "CAST(n_nodes AS BIGINT) AS n_nodes",
    "CAST(n_closed AS BIGINT) AS n_fully_clustered",
    "CAST(n_open AS BIGINT) AS n_triangle_free",
    "round(CAST(s_e6 AS DOUBLE) / CAST(n_nodes AS DOUBLE) / 1000000.0, 6)"
    " + 0.0 AS avg_clustering",
)


@query(
    "q_clustering_coefficient",
    oracle=f"""
    WITH {_edges_sql(2)},
    deg AS (SELECT src AS x, CAST(COUNT(*) AS BIGINT) AS d
            FROM sym GROUP BY src),
    ek AS (
        SELECT e.a, e.b, da.d AS da, db.d AS db
        FROM e JOIN deg da ON da.x = e.a JOIN deg db ON db.x = e.b
    ),
    oriented AS (
        SELECT CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b END
                   AS u,
               CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a END
                   AS v,
               CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da END
                   AS dv
        FROM ek
    ),
    tri AS (
        SELECT o1.u, o1.v AS wa, o2.v AS wb
        FROM oriented o1
        JOIN oriented o2 ON o1.u = o2.u
         AND (o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v))
        JOIN oriented c ON c.u = o1.v AND c.v = o2.v
    ),
    corners AS (
        SELECT u AS x FROM tri
        UNION ALL SELECT wa FROM tri
        UNION ALL SELECT wb FROM tri
    ),
    tc AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS t FROM corners GROUP BY x),
    node AS (
        SELECT deg.x, deg.d, COALESCE(tc.t, 0) AS t
        FROM deg LEFT JOIN tc ON tc.x = deg.x
        WHERE deg.d >= 2
    ),
    cc AS (SELECT x, d, t, {_cc_e6("//")} AS cc_e6 FROM node),
    s AS (
        SELECT COUNT(*) AS n_nodes,
               SUM(CASE WHEN cc_e6 = 1000000 THEN 1 ELSE 0 END) AS n_closed,
               SUM(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS n_open,
               SUM(cc_e6) AS s_e6
        FROM cc
    )
    SELECT {", ".join(_CC_FINAL)} FROM s
    """,
)
def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watts–Strogatz average local clustering coefficient of the
    support-2 co-purchase graph (per node: the fraction of its
    neighbor pairs that are themselves linked), plus the counts of
    fully-clustered and triangle-free nodes — the local-structure
    companion to q_triangle_count's global transitivity (the two
    diverge exactly when clustering concentrates in low-degree
    nodes).

    Per-node triangle counts come from
    ``functions/graph.triangles_per_vertex`` — the same degree-
    oriented wedge equi-join as the global count (every triangle
    materialized once, wedge work bounded O(sqrt m) per vertex),
    exploded to corners and hash-counted. The per-node coefficient is
    an exact e6 integer floor-div, so the cross-node average is an
    exact integer sum — no float summation anywhere.

    Scale: degree-oriented triangle join (the proven q_triangle_count
    engine) + one nodes-scale left join + a four-counter rollup.
    """
    e = copurchase_edges(spark, sf_dir, 2)
    deg = degrees(e)
    tc = triangles_per_vertex(e)
    node = (
        deg.join(tc, "x", "left")
        .filter(F.col("d") >= 2)
        .select("d", F.coalesce(F.col("t"), F.lit(0)).alias("t"))
    )
    s = node.selectExpr("d", "t", f"{_cc_e6('DIV')} AS cc_e6").agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.when(F.col("cc_e6") == 1000000, 1).otherwise(0)).alias(
            "n_closed"
        ),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).alias("n_open"),
        F.sum("cc_e6").alias("s_e6"),
    )
    return s.selectExpr(*_CC_FINAL)


# ---------------------------------------------------------------------------
# q_eccentricity — sampled-seed eccentricity / diameter lower bound
# ---------------------------------------------------------------------------

_ECC_SEEDS = 3
_ECC_HOPS = 4

_ECC_FINAL = (
    "CAST(seed AS BIGINT) AS seed",
    "CAST(ecc AS BIGINT) AS ecc_capped",
    "CAST(n_reached AS BIGINT) AS n_reached",
    "CAST(checksum AS BIGINT) AS checksum",
)


@query(
    "q_eccentricity",
    oracle=f"""
    WITH RECURSIVE {_edges_sql(2)},
    seeds AS (
        SELECT src AS seed FROM (SELECT DISTINCT src FROM sym)
        ORDER BY md5('ecc:' || CAST(src AS VARCHAR)), src
        LIMIT {_ECC_SEEDS}
    ),
    reach(seed, part, hop) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION
        SELECT reach.seed, sym.dst, reach.hop + 1
        FROM reach JOIN sym ON sym.src = reach.part
        WHERE reach.hop < {_ECC_HOPS}
    ),
    best AS (
        SELECT seed, part, MIN(hop) AS hop FROM reach GROUP BY seed, part
    )
    SELECT {", ".join(_ECC_FINAL)}
    FROM (
        SELECT seed, MAX(hop) AS ecc, COUNT(*) AS n_reached,
               SUM(part) AS checksum
        FROM best GROUP BY seed
    )
    ORDER BY seed
    """,
)
def q_eccentricity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-seed eccentricity of the support-2 co-purchase graph:
    hop-bounded multi-source BFS from 3 md5-chosen seeds (the
    deterministic stand-in for random restarts), reporting each
    seed's capped eccentricity, reachable-set size, and an exact
    node checksum — max(ecc) over seeds is the standard
    double-sweep-style LOWER BOUND on graph diameter, the
    connectivity-shape readout behind "how many hops does a
    recommendation walk need".

    All seeds traverse in ONE frontier relation keyed by (seed,
    node) (``functions/graph.bfs_levels``): each hop is an edge
    equi-join + anti-join against the visited set (first-discovery =
    min-hop, matching the oracle's recursive-CTE MIN), checkpointed per
    hop so lineage stays flat.
    The hop cap bounds iteration; eccentricities at the cap are
    reported as capped (honest truncation, same in both engines).

    Scale: |seeds|× the q_copurchase_bfs cost — key-partitioned
    joins only; nothing global, no windows.
    """
    sym = sym_edges(copurchase_edges(spark, sf_dir, 2))
    seeds = (
        sym.select("src")
        .distinct()
        .orderBy(
            F.md5(F.concat(F.lit("ecc:"), F.col("src").cast("string"))),
            "src",
        )
        .limit(_ECC_SEEDS)
        .select(F.col("src").alias("seed"))
    )
    levels = bfs_levels(sym, seeds, _ECC_HOPS)
    visited = levels[0].select("seed", "v", F.lit(0).alias("hop"))
    for hop in range(1, _ECC_HOPS + 1):
        visited = visited.union(levels[hop].select("seed", "v", F.lit(hop)))
    out = visited.groupBy("seed").agg(
        F.max("hop").alias("ecc"),
        F.count("*").alias("n_reached"),
        F.sum("v").alias("checksum"),
    )
    return out.selectExpr(*_ECC_FINAL).orderBy("seed")


# ---------------------------------------------------------------------------
# q_modularity — Newman modularity of the LPA communities
# ---------------------------------------------------------------------------

#: Per-community modularity term e_c/m − (d_c/2m)², e12-rounded
#: before the cross-community sum (round-before-sum).
_MOD_TERM = (
    "CAST(round((CAST(ec AS DOUBLE) / CAST(m AS DOUBLE)"
    " - (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))"
    " * (CAST(dc AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))"
    " * 1000000000000) AS BIGINT)"
)

_MOD_FINAL = (
    "CAST(k AS BIGINT) AS n_communities",
    "CAST(m AS BIGINT) AS n_edges",
    "round(CAST(q_e12 AS DOUBLE) / 1000000000000.0, 6) + 0.0"
    " AS modularity",
)


def _modularity_oracle() -> str:
    # Reuse the unrolled LPA label chain, then score the partition.
    base = _lpa_oracle()
    head = base[: base.index(",\n    fin AS (")]
    return f"""{head},
    la AS MATERIALIZED (SELECT v, lbl FROM l{_LPA_ROUNDS}),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
    within AS (
        SELECT la.lbl AS c, CAST(COUNT(*) AS BIGINT) AS ec
        FROM e JOIN la ON la.v = e.a JOIN la lb ON lb.v = e.b
        WHERE la.lbl = lb.lbl
        GROUP BY la.lbl
    ),
    degs AS (
        SELECT la.lbl AS c, CAST(COUNT(*) AS BIGINT) AS dc
        FROM sym JOIN la ON la.v = sym.src
        GROUP BY la.lbl
    ),
    terms AS (
        SELECT d.c, COALESCE(w.ec, 0) AS ec, d.dc, m.m
        FROM degs d LEFT JOIN within w ON w.c = d.c CROSS JOIN m
    ),
    s AS (
        SELECT COUNT(*) AS k, MAX(m) AS m, SUM({_MOD_TERM}) AS q_e12
        FROM terms
    )
    SELECT {", ".join(_MOD_FINAL)} FROM s
    """


@query("q_modularity", oracle=_modularity_oracle())
def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the q_label_propagation partition:
    Q = Σ_c (e_c/m − (d_c/2m)²) over the support-2 co-purchase graph
    — the standard quality score for a community structure (Q ≈ 0:
    no better than random; Q ≳ 0.3: strong structure), turning the
    LPA community LIST into an evaluated result the same way
    q_ann_recall evaluates the ANN index.

    Runs the identical 4-round synchronous LPA (same joins, same
    min-label tie-break, so the partition matches the LPA query
    exactly), then scores it with exact integer e_c/d_c/m counts and
    e12-rounded per-community terms (round-before-sum).

    Scale: the LPA rounds (vertex-keyed joins, checkpointed) + two
    community-keyed aggregates + a community-sized rollup.
    """
    e = copurchase_edges(spark, sf_dir, min_support=2)
    sym = sym_edges(e)
    labels = lpa_labels(sym, _LPA_ROUNDS)
    m = e.agg(F.count("*").cast("long").alias("m"))
    la = labels.selectExpr("v AS a", "lbl AS la_lbl")
    lb = labels.selectExpr("v AS b", "lbl AS lb_lbl")
    within = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la_lbl") == F.col("lb_lbl"))
        .groupBy(F.col("la_lbl").alias("c"))
        .agg(F.count("*").cast("long").alias("ec"))
    )
    degs = (
        sym.join(labels.withColumnRenamed("v", "src"), "src")
        .groupBy(F.col("lbl").alias("c"))
        .agg(F.count("*").cast("long").alias("dc"))
    )
    terms = (
        degs.join(within, "c", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "c",
            F.coalesce(F.col("ec"), F.lit(0)).alias("ec"),
            "dc",
            "m",
        )
    )
    s = terms.agg(
        F.count("*").alias("k"),
        F.max("m").alias("m"),
        F.sum(F.expr(_MOD_TERM)).alias("q_e12"),
    )
    return s.selectExpr(*_MOD_FINAL)


# ---------------------------------------------------------------------------
# q_rec_coverage — recommender coverage / novelty / popularity-bias eval
# ---------------------------------------------------------------------------

@query(
    "q_rec_coverage",
    oracle=f"""
    WITH {_CF_CTES},
    topn AS (
        SELECT item, neighbor, cos2_e6 FROM ranked WHERE rk <= {_CF_TOPK}
    ),
    nu AS (SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS nu FROM kept),
    cat AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ncat,
               CAST(SUM(p) AS BIGINT) AS sum_cat_p
        FROM pop
    ),
    cand AS (
        SELECT k.cust, t.neighbor AS rec, MAX(t.cos2_e6) AS score
        FROM kept k JOIN topn t ON t.item = k.part
        WHERE NOT EXISTS (SELECT 1 FROM kept o
                          WHERE o.cust = k.cust AND o.part = t.neighbor)
        GROUP BY k.cust, t.neighbor
    ),
    recs AS (
        SELECT cust, rec FROM (
            SELECT *, row_number() OVER (
                PARTITION BY cust ORDER BY score DESC, rec) AS rn
            FROM cand
        ) WHERE rn <= 3
    ),
    rp AS (
        SELECT r.cust, r.rec, p.p FROM recs r JOIN pop p ON p.part = r.rec
    ),
    agg AS (
        SELECT CAST(COUNT(DISTINCT cust) AS BIGINT) AS n_users,
               CAST(COUNT(*) AS BIGINT) AS n_recs,
               CAST(COUNT(DISTINCT rec) AS BIGINT) AS n_items,
               CAST(SUM(p) AS BIGINT) AS sum_rec_p,
               CAST(SUM(CAST(round(-ln(p / (nu.nu * 1.0)) * 1000000)
                             AS BIGINT)) AS BIGINT) AS nov_micro
        FROM rp CROSS JOIN nu
    )
    SELECT n_users AS n_users_served, n_recs,
           round(n_items / (cat.ncat * 1.0), 4) AS catalog_coverage,
           round((sum_rec_p * cat.ncat * 1.0)
                 / (n_recs * cat.sum_cat_p * 1.0), 4) AS popularity_lift,
           round(nov_micro / (n_recs * 1000000.0), 4) AS mean_novelty_nats
    FROM agg CROSS JOIN cat
    """,
)
def q_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender-quality panel for the item-CF recommender: serve
    every customer their top-3 unowned neighbors of owned items, then
    report the metrics a recsys eval tracks beyond accuracy (Castells
    et al., "Novelty and Diversity in Recommender Systems"):
    catalog COVERAGE (share of the catalog ever recommended — a
    recommender that only pushes bestsellers scores near 0),
    POPULARITY LIFT (mean popularity of recommended items vs the
    catalog mean — >1 = popularity bias), and mean self-information
    NOVELTY ``-ln(pop/users)`` in nats.

    Shares the CF pipeline verbatim with q_item_cf (``_cf_frames`` /
    ``_CF_CTES``). Rec generation fans out each capped basket by at
    most 3 neighbors per owned item (bounded), anti-joins ownership,
    and ranks per customer — the window is partitioned by the
    high-cardinality customer key. Novelty terms are micro-nat
    integers before the sum (engine-exact mean).
    """
    from pyspark.sql import Window

    kept, pop, ranked = _cf_frames(spark, sf_dir)
    topn = ranked.filter(F.col("rk") <= _CF_TOPK).select(
        "item", "neighbor", "cos2_e6"
    )
    nu = kept.agg(F.countDistinct("cust").cast("long").alias("nu"))
    cat = pop.agg(
        F.count("*").cast("long").alias("ncat"),
        F.sum("p").cast("long").alias("sum_cat_p"),
    )
    cand = (
        kept.join(topn, kept["part"] == topn["item"])
        .select("cust", F.col("neighbor").alias("rec"), "cos2_e6")
        .join(
            kept.select("cust", F.col("part").alias("rec")),
            ["cust", "rec"],
            "left_anti",
        )
        .groupBy("cust", "rec")
        .agg(F.max("cos2_e6").alias("score"))
    )
    w = Window.partitionBy("cust").orderBy(F.col("score").desc(), F.col("rec"))
    recs = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("cust", "rec")
    )
    rp = recs.join(pop.withColumnRenamed("part", "rec"), "rec")
    agg = rp.crossJoin(F.broadcast(nu)).agg(
        F.countDistinct("cust").cast("long").alias("n_users"),
        F.count("*").cast("long").alias("n_recs"),
        F.countDistinct("rec").cast("long").alias("n_items"),
        F.sum("p").cast("long").alias("sum_rec_p"),
        F.sum(
            F.round(-F.log(F.col("p") / (F.col("nu") * F.lit(1.0))) * 1000000).cast(
                "long"
            )
        )
        .cast("long")
        .alias("nov_micro"),
    )
    return agg.crossJoin(F.broadcast(cat)).select(
        F.col("n_users").alias("n_users_served"),
        "n_recs",
        F.round(F.col("n_items") / (F.col("ncat") * F.lit(1.0)), 4).alias(
            "catalog_coverage"
        ),
        F.round(
            (F.col("sum_rec_p") * F.col("ncat") * F.lit(1.0))
            / (F.col("n_recs") * F.col("sum_cat_p") * F.lit(1.0)),
            4,
        ).alias("popularity_lift"),
        F.round(F.col("nov_micro") / (F.col("n_recs") * F.lit(1000000.0)), 4).alias(
            "mean_novelty_nats"
        ),
    )


# ---------------------------------------------------------------------------
# q_betweenness — bounded-radius Brandes betweenness from a seed panel
# ---------------------------------------------------------------------------

#: Seed panel size (hash-rank draw) and BFS radius. Brandes' dependency
#: accumulation is exact within the radius; the panel + radius bound is
#: the standard approximation regime (Brandes & Pich 2007).
_BC_SEEDS = 5
_BC_HOPS = 3

#: Top-N vertices reported by accumulated dependency.
_BC_TOPN = 10

_BC_FINAL = (
    "CAST(v AS BIGINT) AS part_key",
    "CAST(bc_e9 AS BIGINT) AS bc_e9",
    "round(CAST(bc_e9 AS DOUBLE) / 1000000000, 6) AS betweenness",
)


def _bc_oracle() -> str:
    lines = [f"WITH {_edges_sql(1)},"]
    lines.append(f"""
    seeds AS (
        SELECT src AS seed FROM (SELECT DISTINCT src FROM sym)
        ORDER BY md5('btw:' || CAST(src AS VARCHAR)), src
        LIMIT {_BC_SEEDS}
    ),
    d0 AS (SELECT seed, seed AS v, CAST(1 AS HUGEINT) AS sig FROM seeds)""")
    vis = ["d0"]
    for r in range(1, _BC_HOPS + 1):
        prev = f"d{r - 1}"
        anti = " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM {t} WHERE {t}.seed = c.seed"
            f" AND {t}.v = c.v)"
            for t in vis
        )
        lines.append(f""",
    c{r} AS (
        SELECT f.seed, s.dst AS v, SUM(f.sig) AS sig
        FROM {prev} f JOIN sym s ON s.src = f.v
        GROUP BY 1, 2
    ),
    d{r} AS (SELECT c.seed, c.v, c.sig FROM c{r} c WHERE {anti}),
    p{r} AS (
        SELECT f.seed, f.v AS p, f.sig AS sig_p, d.v AS v, d.sig AS sig_v
        FROM {prev} f
        JOIN sym s ON s.src = f.v
        JOIN d{r} d ON d.seed = f.seed AND d.v = s.dst
    )""")
        vis.append(f"d{r}")
    # Backward accumulation: delta at radius H is 0; each inner level's
    # per-edge term floor(sig_p * (1e9 + delta_v) / sig_v) is an exact
    # integer in both engines before the SUM.
    lines.append(f""",
    del{_BC_HOPS - 1} AS (
        SELECT seed, p AS v,
               SUM(CAST(sig_p AS HUGEINT) * 1000000000 // sig_v) AS delta
        FROM p{_BC_HOPS} GROUP BY 1, 2
    )""")
    for r in range(_BC_HOPS - 2, 0, -1):
        lines.append(f""",
    del{r} AS (
        SELECT pr.seed, pr.p AS v,
               SUM(CAST(pr.sig_p AS HUGEINT)
                   * (1000000000 + COALESCE(dl.delta, 0)) // pr.sig_v) AS delta
        FROM p{r + 1} pr
        LEFT JOIN del{r + 1} dl ON dl.seed = pr.seed AND dl.v = pr.v
        GROUP BY 1, 2
    )""")
    deltas = " UNION ALL ".join(
        f"SELECT seed, v, delta FROM del{r}" for r in range(1, _BC_HOPS)
    )
    lines.append(f""",
    bc AS (
        SELECT v, CAST(SUM(delta) AS BIGINT) AS bc_e9
        FROM ({deltas}) GROUP BY v
    ),
    top AS (SELECT v, bc_e9 FROM bc ORDER BY bc_e9 DESC, v LIMIT {_BC_TOPN})
    SELECT {", ".join(_BC_FINAL)} FROM top ORDER BY bc_e9 DESC, part_key""")
    return "".join(lines)


@query("q_betweenness", oracle=_bc_oracle())
def q_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-radius Brandes betweenness (Brandes 2001; the seed-panel
    + radius bound is the Brandes & Pich 2007 approximation regime) on
    the capped co-purchase graph: forward BFS from 5 hash-rank seeds
    accumulates shortest-path counts sigma per (seed, vertex) level by
    level; the backward pass accumulates the dependency delta(v) =
    sum over successors w of (sigma_v / sigma_w) * (1 + delta(w)),
    and a vertex's betweenness is its dependency summed over seeds.
    The top-10 vertices by accumulated dependency are reported — the
    brokerage ranking none of the existing centralities (PageRank,
    HITS, eccentricity, degree) measures.

    Exactness: sigma is an exact integer path count (HUGEINT /
    DECIMAL(38,0) — path counts multiply along levels); each per-edge
    backward term is the exact floor division
    ``sig_p * (1e9 + delta_w) DIV sig_w`` quantized BEFORE the SUM
    (round-before-sum discipline; all operands positive, so Spark's
    truncating DIV == DuckDB's flooring //), making every delta an
    exact integer cross-engine.

    Scale: |seeds| x the BFS frontier cost — every step is a
    key-partitioned equi-join on the current frontier (checkpointed,
    the q_copurchase_bfs discipline); the backward pass walks the
    same bounded predecessor relations in reverse. No window, no
    collect, no all-pairs anything.
    """
    sym = sym_edges(copurchase_edges(spark, sf_dir))
    seeds = (
        sym.select("src")
        .distinct()
        .orderBy(
            F.md5(F.concat(F.lit("btw:"), F.col("src").cast("string"))),
            "src",
        )
        .limit(_BC_SEEDS)
        .select(F.col("src").alias("seed"))
    )
    levels = bfs_levels(sym, seeds, _BC_HOPS)
    preds = {}
    for r in range(1, _BC_HOPS + 1):
        preds[r] = (
            levels[r - 1]
            .select("seed", F.col("v").alias("p"), F.col("sig").alias("sig_p"))
            .join(sym, F.col("p") == sym["src"])
            .join(
                levels[r].select(
                    F.col("seed").alias("nseed"),
                    F.col("v"),
                    F.col("sig").alias("sig_v"),
                ),
                (F.col("dst") == F.col("v")) & (F.col("seed") == F.col("nseed")),
            )
            .select("seed", "p", "sig_p", "v", "sig_v")
        )
    term_leaf = F.expr(
        "CAST(sig_p AS DECIMAL(38,0)) * 1000000000 DIV sig_v"
    )
    deltas = {
        _BC_HOPS - 1: materialize(
            preds[_BC_HOPS]
            .groupBy("seed", F.col("p").alias("v"))
            .agg(F.sum(term_leaf).cast("decimal(38,0)").alias("delta"))
        )
    }
    for r in range(_BC_HOPS - 2, 0, -1):
        term = F.expr(
            "CAST(sig_p AS DECIMAL(38,0))"
            " * (1000000000 + COALESCE(delta, 0)) DIV sig_v"
        )
        deltas[r] = materialize(
            preds[r + 1]
            .join(
                deltas[r + 1].select(
                    "seed", F.col("v"), F.col("delta")
                ),
                ["seed", "v"],
                "left",
            )
            .groupBy("seed", F.col("p").alias("v"))
            .agg(F.sum(term).cast("decimal(38,0)").alias("delta"))
        )
    all_d = None
    for r in range(1, _BC_HOPS):
        d = deltas[r].select("v", "delta")
        all_d = d if all_d is None else all_d.union(d)
    bc = all_d.groupBy("v").agg(F.sum("delta").cast("long").alias("bc_e9"))
    return (
        bc.orderBy(F.col("bc_e9").desc(), "v")
        .limit(_BC_TOPN)
        .selectExpr(*_BC_FINAL)
        .orderBy(F.col("bc_e9").desc(), "part_key")
    )
