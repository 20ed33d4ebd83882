"""Shared sqrt(n)-cell IVF assignment with rank seeds, optional Lloyd
training, and a hot-cell split — the candidate-generation boundary of
the embedding ANN family (q_knn_graph, q_hard_negatives,
q_semantic_decontaminate, q_cluster_balanced_sample, q_ivfpq_ann,
q_incremental_ivf).

Three scale properties, each mirrored verbatim in the DuckDB oracle
text so correctness checks stay exact:

1. **Rank seeds, not id thresholds.** Centroids are the
   ``k = ceil(sqrt(n))`` LOWEST-vid vectors of the seed population by
   RANK (``ORDER BY vid LIMIT k`` — Spark plans it as
   ``TakeOrderedAndProject``), not ``vid <= k``. The id-threshold form
   silently degenerates to few or zero centroids on a sparse or
   offset id space (the round-7 review's robustness finding); the
   rank form seeds exactly k centroids for ANY id distribution.

2. **Hot-cell split.** The cell-keyed self-join is O(n^1.5) only if
   cells stay near the sqrt(n) mean; real embeddings cluster, and one
   hot cell holding c*n vectors makes its local pairwise O(c^2 n^2) —
   the same defect class the hot-shingle / hot-length-bucket /
   whale-basket caps fixed elsewhere (``functions/dedup.py``,
   ``graph_common.py``). Every assignment therefore carries
   ``sub = vid % nsplit`` with
   ``nsplit = ceil(cell_count / (cap_mult * k))``: a cell within
   ``cap_mult`` times the uniform mean keeps ``nsplit = 1``
   (``sub = 0`` everywhere — zero behavior change on balanced data),
   a hot cell shards into subcells of at most ~``cap_mult * k``
   members. Joining on ``(cid, sub)`` bounds TOTAL pair volume at
   ``cap_mult * sqrt(n) * n`` — the O(n^1.5) asymptote holds by
   construction, not by a uniformity assumption. The recall cost is
   confined to hot cells (a member sees only its shard), the same
   documented trade as the other caps; the split is deterministic
   (vid arithmetic) in both engines.

3. **Lloyd refinement (optional).** ``train_iters`` k-means passes
   re-fit the seed centroids with the package's one vector-quantization
   kernel, ``functions/similarity``: ``lloyd_step`` takes per-dimension
   cell means rounded to 6 decimals (both engines train bit-identical
   centroids — the mean's last ulp depends on summation order), then
   ``nearest`` runs one reassignment scan (a map-side ``max_by``, not
   a window). Each pass is a (cell, dim)-keyed aggregate over the
   corpus plus a broadcast-centroid scan — fully distributed; empty
   cells drop.
   Training also ATTACKS the hot-cell problem at the source: Lloyd
   iterations move centroids toward dense regions, flattening the
   population skew the split otherwise absorbs (q_cell_quantizer_train
   measures exactly this).

The one driver-side value is the seed-population count (a bounded
scalar, the connected-components convergence-probe discipline): it
fixes ``k`` so the seed selection is a real distributed top-k
(``TakeOrderedAndProject``) instead of an unscalable global
ROW_NUMBER window.

Reference behavioral scope: the reference engine
(ChristineWmy/MapReduce-Server-Development, ``mapreduce/`` core) has
no vector surface; this family is the additive ANN depth mandated by
the build brief. Algorithms are public knowledge (IVF: Sivic &
Zisserman 2003; k-means: Lloyd 1982; the split mirrors FAISS-style
list-length balancing).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.similarity import _as_double, _dot, _norm, lloyd_step, nearest

#: Default hot-cell tolerance: a cell may hold up to CAP_MULT times
#: the uniform sqrt(n) mean before it shards. 4x keeps natural
#: clustering un-split (fixture max cell ~2.5x mean) while bounding
#: the worst-case pair volume at 4 * n^1.5.
CELL_CAP_MULT = 4.0


def assign_cells(
    base: DataFrame, cent: DataFrame, extra_out: tuple[str, ...] = ()
) -> DataFrame:
    """Assign every base vector to its max-cosine centroid (4-decimal
    rounds, lowest-cid tie-break) with :func:`nearest`:
    ``(vid, *extra_out, cid, vv, nrm, ccos)``."""
    ccos = F.round(_dot("vv", "cv") / (F.col("nrm") * F.col("cnrm")), 4)
    return nearest(base, cent, ccos, carry=(*extra_out, "vv", "nrm")).select(
        "vid", *extra_out, "cid", "vv", "nrm", F.col("score").alias("ccos")
    )


def cell_base(
    emb: DataFrame, extra: tuple = ()
) -> tuple[DataFrame, tuple[str, ...]]:
    """((vid, *extra, vv, nrm) projection, extra column names).
    ``extra`` holds column names or ``(name, Column)`` pairs."""
    exprs, extra_out = [], []
    for c in extra:
        if isinstance(c, str):
            exprs.append(c)
            extra_out.append(c)
        else:
            name, col = c
            exprs.append(col.alias(name))
            extra_out.append(name)
    # The family's dominant stage is the centroid argmax — a broadcast
    # crossJoin whose parallelism equals the PROBE side's task count,
    # i.e. the scan's. A single-file (single-row-group) corpus scans as
    # ONE task and serializes every n x sqrt(n) cosine on one core;
    # spreading the base relation first makes the argmax use the whole
    # cluster. Results are unaffected (argmax is a deterministic
    # max_by; seeds are a rank top-k; Lloyd means were already
    # summation-order-rounded).
    spread = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
    base = spread.select(
        F.col("vec_id").alias("vid"), *exprs, _as_double("embedding").alias("vv")
    ).withColumn("nrm", _norm("vv"))
    return base, tuple(extra_out)


def seed_k(seed_base: DataFrame) -> int:
    """ceil(sqrt(|seed population|)) — ONE bounded driver scalar."""
    return int(math.ceil(math.sqrt(seed_base.count())))


def rank_seed_centroids(seed_base: DataFrame, k: int) -> DataFrame:
    """The k lowest-vid seed vectors by RANK (TakeOrderedAndProject —
    distributed top-k; robust to sparse/offset id spaces)."""
    return seed_base.orderBy("vid").limit(k).select(
        F.col("vid").alias("cid"),
        F.col("vv").alias("cv"),
        F.col("nrm").alias("cnrm"),
    )


def cell_assign_stages(
    base: DataFrame,
    cent: DataFrame,
    extra_out: tuple[str, ...],
    train_iters: int = 0,
    materialize=None,
) -> list[DataFrame]:
    """Per-stage assignments [seed, iter1, ..., iterT]; stage r+1
    reassigns against the Lloyd-refit centroids of stage r.

    ``materialize`` (optional, DataFrame -> DataFrame) wraps each
    stage as it is built. A caller that consumes SEVERAL stages (the
    quantizer-train ledger reads every stage 3-4 times: counts, fit
    stats, and the move diff against the next stage) passes
    ``session.materialize`` here — otherwise each consumer re-inlines the
    whole argmax -> Lloyd -> argmax chain and the per-stage subtree is
    re-evaluated multiplicatively (q_cell_quantizer_train before-plan:
    147 stages / 1554 tasks for 3 Lloyd stages). Callers that consume
    only the LAST stage (cell_assign) leave it None — there the chain
    is evaluated once and a checkpoint would only add job boundaries."""
    fix = materialize if materialize is not None else (lambda df: df)
    stages = [fix(assign_cells(base, cent, extra_out))]
    for _ in range(train_iters):
        cent = lloyd_step(stages[-1], "vv").withColumn("cnrm", _norm("cv"))
        stages.append(fix(assign_cells(base, cent, extra_out)))
    return stages


def with_hot_cell_split(
    assign: DataFrame, k: int, cap_mult: float = CELL_CAP_MULT
) -> DataFrame:
    """Append ``sub = vid % ceil(cnt / (cap_mult * k))``. The per-cell
    count panel is ~sqrt(n) rows — broadcast; the modulo is map-side."""
    cnts = assign.groupBy("cid").agg(F.count("*").alias("cnt"))
    nsplit = F.ceil(
        F.col("cnt").cast("double") / F.lit(float(cap_mult) * k)
    ).cast("long")
    return (
        assign.join(F.broadcast(cnts), "cid")
        .withColumn("sub", F.pmod(F.col("vid"), nsplit))
        .drop("cnt")
    )


def cell_assign(
    emb: DataFrame,
    extra: tuple = (),
    seed_col: str | None = None,
    cap_mult: float = CELL_CAP_MULT,
    train_iters: int = 0,
) -> DataFrame:
    """sqrt(n)-cell IVF assignment
    ``(vid, *extra, cid, vv, nrm, ccos, sub)`` — the Spark twin of
    :func:`cell_ctes`. When ``seed_col`` names a boolean column
    produced by ``extra``, the cell count and the seed centroids come
    from that subpopulation only."""
    base, extra_out = cell_base(emb, extra)
    seed_base = base.filter(F.col(seed_col)) if seed_col else base
    k = seed_k(seed_base)
    cent = rank_seed_centroids(seed_base, k)
    assign = cell_assign_stages(base, cent, extra_out, train_iters)[-1]
    out = with_hot_cell_split(assign, k, cap_mult)
    return out.select("vid", *extra_out, "cid", "sub", "vv", "nrm", "ccos")


# ---------------------------------------------------------------------------
# Oracle text builder
# ---------------------------------------------------------------------------


def cell_ctes(
    extra: tuple[tuple[str, str], ...] = (),
    seed_pred: str | None = None,
    cap_mult: str = "4",
    train_iters: int = 0,
) -> str:
    """DuckDB CTE chain ending in
    ``assign(vid, *extra, cid, sub, vv, nrm, ccos)`` — textually
    mirrors :func:`cell_assign`: rank seeds, optional Lloyd rounds
    (6-decimal means), hot-cell split. Intermediate stage CTEs
    ``assign0..assign{T}`` stay addressable for stage-diff audits.

    ``extra``: (name, sql_expr-over-embeddings) pairs; ``seed_pred``:
    predicate over the extra columns selecting the seed population;
    ``cap_mult``: SQL literal text (must print identically to the
    float passed to :func:`cell_assign`)."""
    extra_sel = "".join(f", {expr} AS {name}" for name, expr in extra)
    extra_names = "".join(f", {name}" for name, _ in extra)
    where = f"WHERE {seed_pred}" if seed_pred else ""
    ctes = [
        f"""v AS (
        SELECT vec_id AS vid{extra_sel},
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    )""",
        f"""n AS (
        SELECT vid{extra_names}, vv,
               sqrt(list_sum(list_transform(vv, x -> x * x))) AS nrm
        FROM v
    )""",
        f"""kk AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS k
           FROM n {where})""",
        f"""cent0 AS (
        SELECT vid AS cid, vv AS cv, nrm AS cnrm FROM (
            SELECT vid, vv, nrm,
                   ROW_NUMBER() OVER (ORDER BY vid) AS seed_rank
            FROM n {where}
        ), kk WHERE seed_rank <= kk.k
    )""",
    ]

    def assign_cte(r: int) -> str:
        return f"""assign{r} AS (
        SELECT vid{extra_names}, cid, vv, nrm, ccos FROM (
            SELECT n.vid{extra_names}, c.cid, n.vv, n.nrm,
                   round(list_dot_product(n.vv, c.cv)
                         / (n.nrm * c.cnrm), 4) AS ccos,
                   ROW_NUMBER() OVER (
                       PARTITION BY n.vid
                       ORDER BY round(list_dot_product(n.vv, c.cv)
                                      / (n.nrm * c.cnrm), 4) DESC, c.cid)
                       AS rn
            FROM n CROSS JOIN cent{r} c
        ) WHERE rn = 1
    )"""

    ctes.append(assign_cte(0))
    if train_iters:
        ctes.append(
            """dims AS (
        SELECT unnest(range(1, (SELECT MAX(len(vv)) FROM n) + 1)) AS pos
    )"""
        )
        for r in range(1, train_iters + 1):
            ctes.append(
                f"""dm{r} AS (
        SELECT cid, pos, round(avg(vv[pos]), 6) AS mu
        FROM assign{r - 1} CROSS JOIN dims GROUP BY cid, pos
    )"""
            )
            ctes.append(
                f"""cent{r} AS (
        SELECT cid, cv,
               sqrt(list_sum(list_transform(cv, x -> x * x))) AS cnrm
        FROM (SELECT cid, list(mu ORDER BY pos) AS cv
              FROM dm{r} GROUP BY cid)
    )"""
            )
            ctes.append(assign_cte(r))
    last = f"assign{train_iters}"
    ctes.append(
        f"""cellcnt AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM {last} GROUP BY cid
    )"""
    )
    ctes.append(
        f"""assign AS (
        SELECT a.vid{extra_names}, a.cid,
               a.vid % CAST(ceil(CAST(c.cnt AS DOUBLE)
                                 / ({cap_mult} * kk.k)) AS BIGINT) AS sub,
               a.vv, a.nrm, a.ccos
        FROM {last} a JOIN cellcnt c USING (cid) CROSS JOIN kk
    )"""
    )
    return ",\n    ".join(ctes)
