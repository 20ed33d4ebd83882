"""Graph kernels shared by the graph-family queries: edge
symmetrization, degrees, hop-bounded BFS, synchronous label
propagation, fixed-point integer PageRank, max-normalized mutual
reinforcement (HITS) and degree-oriented triangles. Each kernel exists once, so a change to its iteration
cadence (checkpoints, fused stages) is one edit here.

PageRank turns graph structure into per-document quality weights for
corpus curation. The float formulation is NOT reproducible across
engines (summation order), so ranks here live in integer MICRO-units
with floor division everywhere:

    r_0(v)   = 1_000_000
    r_k(v)   = BASE + (DAMPING_PCT * inflow_k(v)) div 100
    inflow_k = sum over in-neighbors u of  r_{k-1}(u) div deg(u)
    BASE     = (100 - DAMPING_PCT) * 1_000_000 div 100

Every operation is exact integer arithmetic — any engine reproduces
the ranks bit-for-bit (the repo's fixed-point oracle pattern). Mass is
only approximately conserved (floors shave remainders); that is part
of the operator's defined semantics, not an accuracy bug.

Scale posture: each round is one (edges ⋈ degrees ⋈ ranks) join plus a
destination-keyed sum — two shuffles, the same per-round cost as
connected components — with ``localCheckpoint`` every few rounds to
keep the plan O(1) in the iteration count. Rank values stay
~10^6-scale, so the BIGINT inflow sum is safe past 10^12 nodes. Fixed
iteration count (no convergence probe): deterministic output, bounded
wall-clock.

Public-knowledge algorithms (Brin/Page 1998; Jeh & Widom 2003;
Raghavan et al. 2007); no reference counterpart.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize

#: One unit of rank mass, in micro-units.
RANK_SCALE = 1_000_000

#: Damping as an integer percentage (85 = the classic 0.85), so the
#: damping step stays in integer arithmetic.
DAMPING_PCT = 85

#: PageRank rounds per rank checkpoint: a checkpoint every round costs
#: ~2x the wall-clock of one every 3 rounds (measured), while 3 rounds
#: of lineage (6 joins) is still trivially analyzable — unlike an
#: unbounded plan.
_RANK_CHECKPOINT_EVERY = 3


def sym_edges(e: DataFrame) -> DataFrame:
    """Both directions ``(src, dst)`` of the undirected edges ``e(a, b)``."""
    return e.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        e.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )


def degrees(e: DataFrame) -> DataFrame:
    """``(x, d)``: the degree of every endpoint of the canonical
    (a < b, deduplicated) edges ``e(a, b)`` — one partial-agg'd
    shuffle on the vertex key."""
    ends = e.select(F.col("a").alias("x")).unionAll(e.select(F.col("b").alias("x")))
    return ends.groupBy("x").agg(F.count("*").alias("d"))


def bfs_levels(sym: DataFrame, seeds: DataFrame, hops: int) -> list[DataFrame]:
    """Hop-bounded multi-source BFS over the directed edges
    ``sym(src, dst)`` from ``seeds(seed)``: ``hops + 1`` frames
    ``(seed, v, sig)``, level h holding the vertices first reached from
    ``seed`` at hop h and ``sig`` their number of shortest paths
    (DECIMAL(38,0): path counts multiply along levels). Level 0 is each
    seed itself with sig 1.

    All seeds traverse in ONE frontier relation keyed by (seed, v):
    each hop is an edge equi-join whose per-(seed, v) sum is both the
    dedup and Brandes' sigma, then an anti-join against the visited
    set (first discovery = minimum hop). Every level is an eager
    ``localCheckpoint`` — it feeds the next hop and the caller's
    readout, and the lineage stays flat.
    """
    levels = [
        materialize(seeds.select(
            "seed",
            F.col("seed").alias("v"),
            F.lit(1).cast("decimal(38,0)").alias("sig"),
        ))
    ]
    visited = levels[0].select("seed", "v")
    for _ in range(hops):
        prev = levels[-1]
        new = materialize(
            prev.join(sym, prev["v"] == sym["src"])
            .groupBy("seed", F.col("dst").alias("nv"))
            .agg(F.sum("sig").alias("sig"))
            .withColumnRenamed("nv", "v")
            .join(visited, ["seed", "v"], "left_anti")
        )
        levels.append(new)
        visited = visited.union(new.select("seed", "v"))
    return levels


def lpa_labels(sym: DataFrame, rounds: int) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    directed edges ``sym(src, dst)`` → ``(v, lbl)``: every vertex
    starts with its own id; each round it adopts the most frequent
    label among its neighbors plus a self-vote, ties to the minimum
    label — a pure function of the previous label relation, so the
    result is reproducible across engines and partitionings.

    Each round is one dst-keyed equi-join (neighbor label lookup), a
    (v, lbl)-keyed partial-agg count and a v-keyed
    ``max(struct(c, -lbl))`` argmax — no window, no per-vertex sort.
    Labels are checkpointed every SECOND round: lineage stays O(1)
    while the per-round materialization job (the dominant fixed cost)
    is halved.
    """
    labels = sym.select(F.col("src").alias("v")).distinct().select(
        "v", F.col("v").alias("lbl")
    )
    for rnd in range(1, rounds + 1):
        nbr_votes = (
            sym.join(labels.withColumnRenamed("v", "dst"), "dst")
            .select(F.col("src").alias("v"), "lbl")
            .groupBy("v", "lbl")
            .agg(F.count("*").alias("c"))
        )
        votes = nbr_votes.unionAll(
            labels.select("v", "lbl", F.lit(1).cast("long").alias("c"))
        )
        counts = votes.groupBy("v", "lbl").agg(F.sum("c").alias("c"))
        labels = (
            counts.groupBy("v")
            .agg(
                F.max(
                    F.struct(
                        F.col("c").alias("c"), (-F.col("lbl")).alias("nl")
                    )
                ).alias("m")
            )
            .select("v", (-F.col("m.nl")).alias("lbl"))
        )
        if rnd % 2 == 0:
            labels = materialize(labels)
    return labels


def pagerank_micro(
    nodes: DataFrame,
    edges: DataFrame,
    iters: int = 10,
    seed_col: str | None = None,
) -> DataFrame:
    """Fixed-point PageRank. ``nodes(node)``, ``edges(a, b)`` undirected
    (symmetrized here) → ``(node, rank_micro)``.

    With ``seed_col`` (a 0/1 column of ``nodes``) it is PERSONALIZED
    PageRank (random walk with restart, Jeh & Widom 2003): the start
    mass and the teleport mass go only to the seed set, so rank
    measures proximity to the seeds instead of global centrality:

        r_0(v) = 1_000_000 * is_seed(v)
        r_k(v) = is_seed(v) * BASE + (DAMPING_PCT * inflow_k(v)) div 100

    Non-seed nodes with no inflow stay at exactly 0 — PPR's defining
    sparsity, which also keeps the per-round join volume bounded by
    the seed set's reachable frontier in early rounds.
    """
    base = (100 - DAMPING_PCT) * RANK_SCALE // 100
    sym = materialize(
        sym_edges(edges)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    deg = sym.groupBy("src").agg(F.count("*").alias("deg"))
    sd = F.col(seed_col) if seed_col else F.lit(1)
    seeds = nodes.select("node", sd.cast("long").alias("sd"))
    r = seeds.select(
        "node", (F.lit(RANK_SCALE) * F.col("sd")).cast("long").alias("r")
    )
    for k in range(iters):
        contrib = (
            sym.join(deg, "src")
            .join(r, sym.src == r.node)
            .select(F.col("dst").alias("node"), F.expr("r div deg").alias("c"))
        )
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        r = seeds.join(inflow, "node", "left").select(
            "node",
            (
                F.lit(base) * F.col("sd")
                + F.expr(f"({DAMPING_PCT} * coalesce(s, 0L)) div 100")
            )
            .cast("long")
            .alias("r"),
        )
        if (k + 1) % _RANK_CHECKPOINT_EVERY == 0 or k == iters - 1:
            r = materialize(r)
    return r.select("node", F.col("r").alias("rank_micro"))


def _inflow(
    edges: DataFrame, scores: DataFrame, key: str, out: str, weight: str | None
) -> DataFrame:
    """One half-round's raw inflow ``(out, s)``: ``edges ⋈ scores(key,
    score)`` on ``key``, summed per ``out`` in DECIMAL(38,0) (score ≤
    1e6 times degree ≤ 1e12 edges stays exact far past int64)."""
    term = f"CAST({weight} AS DECIMAL(38,0)) * score" if weight else (
        "CAST(score AS DECIMAL(38,0))"
    )
    return edges.join(scores, key).groupBy(out).agg(F.expr(f"SUM({term})").alias("s"))


def hits_scores(
    edges: DataFrame,
    hub: str,
    auth: str,
    rounds: int,
    weight: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Mutual reinforcement over the bipartite ``edges(hub, auth[,
    weight])`` (Kleinberg's HITS; with ``weight`` it is power iteration
    on AᵀA): every hub starts at ``RANK_SCALE``, and each round scores
    the authorities by their hubs' inflow, then the hubs by their
    authorities'. Each half-round is max-normalized in e6 fixed point,
    ``RANK_SCALE·s DIV max(s)``, which keeps the L2 ranking in exact
    integers. Returns ``(hubs(hub, score), auths(auth, score))``.

    The raw inflow is materialized once per half-round, so the 1-row
    max and the normalized projection both read it instead of re-running
    the edge join.
    """

    def half(scores: DataFrame, key: str, out: str) -> DataFrame:
        raw = materialize(_inflow(edges, scores, key, out, weight))
        # The max stays a 1-row frame, not a driver literal
        # (session.one_row): that gave identical scores but 51 jobs
        # instead of 48 on q_hits at sf0.01, and no faster warm runs.
        mx = raw.agg(F.max("s").alias("mx"))
        return raw.crossJoin(F.broadcast(mx)).selectExpr(
            out, f"CAST({RANK_SCALE} * s DIV mx AS BIGINT) AS score"
        )

    hubs = edges.select(hub).distinct().select(
        hub, F.lit(RANK_SCALE).cast("long").alias("score")
    )
    for _ in range(rounds):
        auths = half(hubs, hub, auth)
        hubs = half(auths, auth, hub)
    return hubs, auths


def orient_edges_by_degree(e: DataFrame) -> DataFrame:
    """Orient each undirected canonical edge (a < b) from its
    (degree, id)-smaller endpoint to the larger — the classic
    preparation for triangle counting (Schank/Wagner; MapReduce form
    in Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11 — public knowledge): after orientation every
    vertex's OUT-degree is O(sqrt(m)), bounding the wedge self-join
    regardless of raw hub degrees.

    Returns (u, v, dv): edge oriented u -> v with dv = degree(v).
    The (degree, id) order is compared column-wise — never packed into
    one integer, which would overflow once degree * id_range passes
    2^63 (a hub with 2^23 neighbors at 40-bit ids would wrap).
    """
    deg = degrees(e)
    ke = e.join(
        deg.select(F.col("x").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("x").alias("b"), F.col("d").alias("db")), "b")
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    return ke.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )


def _triangles(e: DataFrame) -> DataFrame:
    """``(u, wa, wb)``: every triangle of the canonical edges ``e(a, b)``
    exactly once.

    Each triangle has exactly one vertex u with out-edges to the other
    two under the degree orientation, and its third edge appears in
    the oriented list in exactly one direction — so wedges (two
    out-edges of one vertex, ordered by the oriented (degree, id)
    order to avoid double counting) equi-joined against the oriented
    edges find every triangle once, at the O(m^{3/2}) wedge bound.
    """
    oriented = materialize(orient_edges_by_degree(e))
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    lex = (F.col("o1.dv") < F.col("o2.dv")) | (
        (F.col("o1.dv") == F.col("o2.dv")) & (F.col("o1.v") < F.col("o2.v"))
    )
    wedges = (
        o1.join(o2, "u")
        .filter(lex)
        .select("u", F.col("o1.v").alias("wa"), F.col("o2.v").alias("wb"))
    )
    closing = oriented.select(F.col("u").alias("wa"), F.col("v").alias("wb"))
    return wedges.join(closing, ["wa", "wb"])


def count_triangles(e: DataFrame) -> DataFrame:
    """Exact triangle count of the undirected graph given as canonical
    edges (a < b, deduplicated): 1-row DataFrame with column ``t``."""
    return _triangles(e).agg(F.count("*").alias("t"))


def triangles_per_vertex(e: DataFrame) -> DataFrame:
    """Per-vertex triangle counts (x, t) of the undirected graph given
    as canonical edges (a < b, deduplicated); vertices in no triangle
    are absent. Every triangle is exploded to its three corners and
    hash-counted per vertex."""
    corners = _triangles(e).select(
        F.explode(F.array(F.col("u"), F.col("wa"), F.col("wb"))).alias("x")
    )
    return corners.groupBy("x").agg(F.count("*").cast("long").alias("t"))
