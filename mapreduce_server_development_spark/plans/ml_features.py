"""ML feature-engineering queries: Johnson–Lindenstrauss random
projection and hashing-trick featurization.

Both are standard large-scale training-prep primitives (build-brief
mandate; the reference engine's data model is text lines, SURVEY.md
§1.2, so there is no counterpart to cite):

- **Random projection** compresses the 64-dim embedding column to 8
  dims with a fixed ±1 sign matrix (Achlioptas 2001: database-friendly
  random projections) — the cheap preprocessing step before coarse
  ANN clustering or dedup at 100 TB, where a 8× narrower vector is 8×
  less shuffle traffic for every downstream join.
- **Feature hashing** (Weinberger et al. 2009) maps an unbounded token
  vocabulary onto a fixed bucket space with a salted hash — no
  vocabulary broadcast, no dictionary fit pass, which is exactly what
  makes it the scale answer vs a fitted CountVectorizer.

Determinism: the sign matrix is derived from ``hashlib.md5`` at plan
build time and inlined as a literal in BOTH the Spark plan and the
oracle SQL, so the two engines multiply identical constants; the
bucket hash reuses :func:`sampling.hash_bucket` (same md5-nibble
arithmetic in both engines).

Scale posture: the projection is a zero-shuffle map-only pass over
vectors (JVM higher-order functions, no Python); feature hashing is
one partial-aggregated shuffle on (doc_id, bucket). The sign matrix
is a plan literal — nothing to broadcast, nothing to fit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import materialize
from ..sources.tables import load_table
from .registry import query
from .sampling import _bucket_sql, hash_bucket

D_IN = 64
D_OUT = 8
_N_BUCKETS = 64


def _sign_matrix() -> list[list[int]]:
    """D_OUT x D_IN ±1 matrix from md5('rp:j:k') — deterministic,
    engine-independent (computed once at import, inlined as literals)."""
    return [
        [
            1 if int(hashlib.md5(f"rp:{j}:{k}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for j in range(D_IN)
        ]
        for k in range(D_OUT)
    ]


_SIGNS = _sign_matrix()


def _projection_oracle() -> str:
    rows = ", ".join(f"({k}, {_SIGNS[k]})" for k in range(D_OUT))
    return f"""
    WITH m(k, signs) AS (VALUES {rows}),
    v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    )
    SELECT vec_id, CAST(k AS INTEGER) AS dim,
           round(list_sum(list_transform(range(1, {D_IN + 1}),
                     j -> vv[CAST(j AS INT)] * signs[CAST(j AS INT)]))
                 / sqrt({D_OUT}.0), 4) + 0.0 AS proj
    FROM v, m
    ORDER BY vec_id, dim
    """


@query("q_random_projection", oracle=_projection_oracle())
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL ±1 random projection 64→8 over the embedding column.

    All JVM higher-order functions (``zip_with`` product +
    ``aggregate`` sum per output dim, ``posexplode`` to long format) —
    no Python, no shuffle, vector-linear output. The ±1 matrix makes
    each output dim an add/subtract tree, the Achlioptas trick that
    removes multiplies entirely on real hardware.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    vv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dims = F.array(
        *[
            F.round(
                F.aggregate(
                    F.zip_with(
                        vv,
                        F.array(*[F.lit(s) for s in _SIGNS[k]]),
                        lambda x, s: x * s,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.sqrt(F.lit(float(D_OUT))),
                4,
            )
            for k in range(D_OUT)
        ]
    )
    return (
        emb.select("vec_id", F.posexplode(dims).alias("dim", "proj"))
        .select("vec_id", F.col("dim").cast("int").alias("dim"), "proj")
    )  # no trailing sort: vector-linear output, zero shuffles


@query(
    "q_feature_hashing",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               unnest(list_filter(string_split(lower(text), ' '),
                                  x -> x <> '')) AS tok
        FROM documents
    )
    SELECT doc_id,
           CAST({_bucket_sql("fh", "tok", _N_BUCKETS)} AS INTEGER) AS bucket,
           COUNT(*) AS tf
    FROM t
    GROUP BY doc_id, bucket
    ORDER BY doc_id, bucket
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick term frequencies: tokens → 64 fixed buckets via
    the shared md5-nibble bucket hash; (doc_id, bucket, tf) long-form
    sparse features.

    One shuffle with map-side partial aggregation; no vocabulary pass,
    no dictionary broadcast — the property that lets this run on an
    unbounded vocabulary at 100 TB where a fitted vectorizer needs a
    second full scan and a driver-sized vocab.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = F.explode(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    ).alias("tok")
    return (
        docs.select("doc_id", tok)
        .select(
            "doc_id",
            hash_bucket("fh", F.col("tok"), _N_BUCKETS).cast("int").alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("tf"))
    )  # no trailing sort: the oracle compare is order-insensitive


# ---------------------------------------------------------------------------
# q_dbscan — grid-bucketed density clustering on the 2-D projection
# ---------------------------------------------------------------------------

_EPS = 0.03
_MINPTS = 4


def _dbscan_oracle() -> str:
    s0, s1 = _SIGNS[0], _SIGNS[1]
    return f"""
    WITH RECURSIVE v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    p AS (
        SELECT vec_id,
               round(list_sum(list_transform(range(1, 65),
                   j -> vv[CAST(j AS INT)] * ({s0})[CAST(j AS INT)]))
                   / sqrt(8.0), 4) AS px,
               round(list_sum(list_transform(range(1, 65),
                   j -> vv[CAST(j AS INT)] * ({s1})[CAST(j AS INT)]))
                   / sqrt(8.0), 4) AS py
        FROM v
    ),
    g AS (
        SELECT vec_id, px, py,
               CAST(floor(px / {_EPS}) AS BIGINT) AS cx,
               CAST(floor(py / {_EPS}) AS BIGINT) AS cy
        FROM p
    ),
    neigh AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib
        FROM g a JOIN g b
          ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
         AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
        WHERE (a.px-b.px)*(a.px-b.px) + (a.py-b.py)*(a.py-b.py)
              <= {_EPS}*{_EPS}
    ),
    core AS (
        SELECT ia AS node FROM neigh GROUP BY ia HAVING COUNT(*) >= {_MINPTS}
    ),
    ce AS (
        SELECT n.ia AS a, n.ib AS b FROM neigh n
        JOIN core c1 ON c1.node = n.ia
        JOIN core c2 ON c2.node = n.ib
        WHERE n.ia <> n.ib
    ),
    reach(node, r) AS (
        SELECT node, node FROM core
        UNION
        SELECT ce.b, reach.r FROM reach JOIN ce ON ce.a = reach.node
    ),
    comp AS (SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node),
    border AS (
        SELECT n.ia AS vec_id, MIN(comp.cluster_id) AS cluster_id
        FROM neigh n JOIN comp ON comp.node = n.ib
        WHERE n.ia NOT IN (SELECT node FROM core)
        GROUP BY n.ia
    )
    SELECT p.vec_id,
           CASE WHEN comp.node IS NOT NULL THEN 'core'
                WHEN border.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(comp.cluster_id, border.cluster_id, -1) AS BIGINT)
               AS cluster_id
    FROM p
    LEFT JOIN comp ON comp.node = p.vec_id
    LEFT JOIN border ON border.vec_id = p.vec_id
    ORDER BY p.vec_id
    """


@query("q_dbscan", oracle=_dbscan_oracle())
def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN (eps=0.03, minPts=4) over the 2-D JL projection of the
    embedding column — density clustering composed entirely of
    scalable relational pieces:

    1. project 64→2 dims (zero-shuffle, literal sign matrix — the
       q_random_projection trick, which is WHY a grid index works:
       density joins are hopeless in 64-dim);
    2. quantize to an eps-sized grid; neighbor candidates come from an
       EQUI-join on cell id (the probe side fans each point out to its
       3×3 neighborhood — 9 rows per point, never all-pairs), then an
       exact distance verify;
    3. core points = grid-join degree ≥ minPts; core-core edges feed
       the shared ``connected_components_star`` operator (large-star/
       small-star contraction, O(log n) rounds — an eps-grid
       percolation graph has adversarially long chain diameters, so
       plain label propagation measured ~9x slower here);
    4. border points take the MIN cluster id among their core
       neighbors (deterministic, unlike textbook first-come DBSCAN);
       everything else is noise (-1).

    Coordinates are rounded to 4 decimals BEFORE any comparison so
    both engines threshold identical doubles — the same determinism
    discipline as q_random_projection. Scale: the quadratic step is
    confined to single grid cells (area eps² each); a pathological
    hot cell is bounded by the same broadcast-anti-join cap pattern as
    the dedup plane if ever needed, and the oracle's recursive CTE is
    the independent transitive-closure formulation.
    """
    from ..functions.dedup import connected_components_star

    emb = load_table(spark, sf_dir, "embeddings")
    vv = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def proj(k: int):
        return F.round(
            F.aggregate(
                F.zip_with(
                    vv,
                    F.array(*[F.lit(s) for s in _SIGNS[k]]),
                    lambda x, s: x * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.sqrt(F.lit(8.0)),
            4,
        )

    pts = emb.select(
        "vec_id",
        proj(0).alias("px"),
        proj(1).alias("py"),
    ).select(
        "vec_id", "px", "py",
        F.floor(F.col("px") / _EPS).cast("long").alias("cx"),
        F.floor(F.col("py") / _EPS).cast("long").alias("cy"),
    )
    probe_cells = F.explode(
        F.array(
            *[
                F.struct(
                    (F.col("cx") + dx).alias("gcx"),
                    (F.col("cy") + dy).alias("gcy"),
                )
                for dx in (-1, 0, 1)
                for dy in (-1, 0, 1)
            ]
        )
    )
    b = (
        pts.select(
            F.col("vec_id").alias("ib"),
            F.col("px").alias("bx"),
            F.col("py").alias("by"),
            probe_cells.alias("cell"),
        )
        .select("ib", "bx", "by", F.col("cell.gcx").alias("gcx"), F.col("cell.gcy").alias("gcy"))
    )
    d2 = (F.col("px") - F.col("bx")) ** 2 + (F.col("py") - F.col("by")) ** 2
    # neigh feeds THREE consumers (core degrees, core-core edges,
    # border assignment) through broadcast joins with no shared
    # exchange to reuse — checkpoint it so the 9-cell probe join runs
    # once (r11 checkpoint discipline).
    neigh = materialize(
        pts.withColumnRenamed("vec_id", "ia")
        .join(b, (F.col("cx") == F.col("gcx")) & (F.col("cy") == F.col("gcy")))
        .filter(d2 <= F.lit(_EPS * _EPS))
        .select("ia", "ib")
    )
    core = (
        neigh.groupBy("ia")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= _MINPTS)
        .select(F.col("ia").alias("node"))
    )
    ce = (
        neigh.filter(F.col("ia") != F.col("ib"))
        .join(core.withColumnRenamed("node", "ia"), "ia", "leftsemi")
        .join(core.withColumnRenamed("node", "ib"), "ib", "leftsemi")
        .select(F.col("ia").alias("a"), F.col("ib").alias("b"))
    )
    comp = connected_components_star(core, ce).select(
        F.col("node"), F.col("component").alias("cluster_id")
    )
    border = (
        neigh.join(core.withColumnRenamed("node", "ia"), "ia", "leftanti")
        .join(
            comp.select(F.col("node").alias("ib"), "cluster_id"), "ib"
        )
        .groupBy("ia")
        .agg(F.min("cluster_id").alias("b_cluster"))
        .select(F.col("ia").alias("vec_id"), "b_cluster")
    )
    return (
        pts.select("vec_id")
        .join(comp.withColumnRenamed("node", "vec_id"), "vec_id", "left")
        .join(border, "vec_id", "left")
        .select(
            "vec_id",
            F.when(F.col("cluster_id").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("cluster_id"), F.col("b_cluster"), F.lit(-1))
            .cast("long")
            .alias("cluster_id"),
        )
    )  # no trailing sort: the oracle compare is order-insensitive


# ---------------------------------------------------------------------------
# q_mahalanobis_outliers — covariance-aware outliers on the projection
# ---------------------------------------------------------------------------

#: Shared final-formula text: covariance from exact e4 fixed-point
#: sums, closed-form 2x2 inverse, squared Mahalanobis distance, and
#: the chi-square(2, 0.999) = 13.816 cut — identical IEEE trees in
#: both engines. mx/my etc. are in e4 units; d2 is unit-free.
_MAHA_D2 = (
    "((CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n) * (CAST(vy AS DOUBLE))"
    " - (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / n) * CAST(vxy AS DOUBLE))"
    " * (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n) / det"
    " + ((CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / n) * CAST(vx AS DOUBLE)"
    " - (CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n) * CAST(vxy AS DOUBLE))"
    " * (CAST(y AS DOUBLE) - CAST(sy AS DOUBLE) / n) / det"
)


#: Degeneracy guard: a (near-)singular covariance (collinear projections)
#: would make the closed-form inverse divide by ~0 and spray inf/NaN
#: distances. Below this determinant (e8 fixed-point units²) the query
#: emits no outliers — in BOTH engines, so the guard is oracle-checked.
_MAHA_DET_EPS = "0.000001"


def _maha_oracle(cut: float = 13.816) -> str:
    s0, s1 = _SIGNS[0], _SIGNS[1]
    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    p AS (
        SELECT vec_id,
               CAST(round(round(list_sum(list_transform(range(1, 65),
                   j -> vv[CAST(j AS INT)] * ({s0})[CAST(j AS INT)]))
                   / sqrt(8.0), 4) * 10000) AS BIGINT) AS x,
               CAST(round(round(list_sum(list_transform(range(1, 65),
                   j -> vv[CAST(j AS INT)] * ({s1})[CAST(j AS INT)]))
                   / sqrt(8.0), 4) * 10000) AS BIGINT) AS y
        FROM v
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               SUM(x*x) AS sxx,
               SUM(x*y) AS sxy,
               SUM(y*y) AS syy
        FROM p
    ),
    cov AS (
        SELECT n, sx, sy,
               CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vx,
               CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vxy,
               CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vy
        FROM s
    ),
    covd AS (SELECT *, vx * vy - vxy * vxy AS det FROM cov),
    scored AS (
        SELECT p.vec_id, round({_MAHA_D2}, 4) + 0.0 AS d2
        FROM p, covd
        WHERE det > {_MAHA_DET_EPS}
    )
    SELECT vec_id, d2 FROM scored WHERE d2 > {cut} ORDER BY vec_id
    """


def _maha_scored(spark: SparkSession, sf_dir: str, cut: float) -> DataFrame:
    """Shared scoring body for q_mahalanobis_outliers; ``cut`` is the
    chi-square threshold on the rounded d2 (tests lower it to exercise
    a non-trivial outlier set at small SF)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vv = F.transform(F.col("embedding"), lambda x: x.cast("double"))

    def proj_e4(k: int):
        return F.round(
            F.round(
                F.aggregate(
                    F.zip_with(
                        vv,
                        F.array(*[F.lit(s) for s in _SIGNS[k]]),
                        lambda x, s: x * s,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / F.sqrt(F.lit(8.0)),
                4,
            )
            * 10000
        ).cast("long")

    p = emb.select("vec_id", proj_e4(0).alias("x"), proj_e4(1).alias("y"))
    s = p.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        # DECIMAL(38,0) accumulators (the module-family overflow rule):
        # an e4-units square times corpus count passes 2^63 at large SF,
        # where an ANSI long SUM would throw; the shared formula casts
        # to DOUBLE from the exact decimal.
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)")).alias("sxy"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)")).alias("syy"),
    )
    covd = s.selectExpr(
        "n",
        "sx",
        "sy",
        "CAST(sxx AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sx AS DOUBLE) / n) AS vx",
        "CAST(sxy AS DOUBLE) / n - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vxy",
        "CAST(syy AS DOUBLE) / n - (CAST(sy AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n) AS vy",
    ).selectExpr("*", "vx * vy - vxy * vxy AS det")
    return (
        p.crossJoin(F.broadcast(covd))
        .filter(f"det > {_MAHA_DET_EPS}")
        .selectExpr("vec_id", f"round({_MAHA_D2}, 4) + 0.0 AS d2")
        .filter(f"d2 > {cut}")
        .orderBy("vec_id")
    )


@query("q_mahalanobis_outliers", oracle=_maha_oracle())
def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance-aware outliers: squared Mahalanobis distance of each
    2-D-projected embedding from the corpus centroid, flagged at the
    chi-square(2, 0.999) cut (13.816) — the multivariate upgrade of
    per-feature z-scores (q_value_anomaly), catching points that are
    normal per-axis but abnormal jointly.

    Exactness: coordinates are e4 fixed-point integers, so the
    sufficient statistics (sums, squares, cross) are exact; the
    covariance, its closed-form 2x2 inverse and every distance come
    from ONE shared formula text — identical doubles in both engines,
    rounded before the threshold-independent output. A det > eps guard
    (also shared) returns no outliers under a degenerate covariance
    instead of inf/NaN distances.

    Scale: one pass for the five sufficient statistics (map-side
    combined), broadcast back for a zero-shuffle scoring pass — the
    same sufficient-statistics shape as q_feature_corr.
    """
    return _maha_scored(spark, sf_dir, 13.816)


# ---------------------------------------------------------------------------
# q_pca_power — dominant principal component via power iteration
# ---------------------------------------------------------------------------

_PCA_D = D_OUT  # iterate on the 8-dim JL projection
_PCA_SQ = 8  # trace-normalized matrix squarings -> effective power 2^8


def _pca_exprs() -> dict[str, list[str] | str]:
    """Shared expression texts for BOTH engines. Every floating-point
    op after the exact-integer sufficient statistics appears as the
    SAME expression text evaluated by Spark and DuckDB — identical
    IEEE operation tree on identical inputs -> bit-identical doubles.
    """
    d = _PCA_D

    def qn(k: int, j: int) -> str:
        return f"q_{min(k, j)}_{max(k, j)}"

    cov = [
        f"CAST(n * {qn(k, j)} - s_{k} * s_{j} AS DOUBLE)"
        f" / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS c_{k}_{j}"
        for k in range(d)
        for j in range(d)
    ]
    allc = [f"c_{k}_{j}" for k in range(d) for j in range(d)]
    allm = [f"m_{k}_{j}" for k in range(d) for j in range(d)]
    # One squaring: r = m·m (left-associative 8-term dot products),
    # then trace-normalize to keep entries O(1) across squarings.
    sq_r = [
        "(" + " + ".join(f"m_{k}_{i} * m_{i}_{j}" for i in range(d))
        + f") AS r_{k}_{j}"
        for k in range(d)
        for j in range(d)
    ]
    sq_tr = "(" + " + ".join(f"r_{k}_{k}" for k in range(d)) + ") AS mtr"
    sq_m = [f"r_{k}_{j} / mtr AS m_{k}_{j}" for k in range(d) for j in range(d)]
    # Extract v = normalize(M^(2^S) · 1), then Rayleigh on the ORIGINAL C.
    vr = [
        "(" + " + ".join(f"m_{k}_{j}" for j in range(d)) + f") AS vr_{k}"
        for k in range(d)
    ]
    vnrm = (
        "sqrt(" + " + ".join(f"vr_{k} * vr_{k}" for k in range(d))
        + ") AS vnrm"
    )
    v = [f"vr_{k} / vnrm AS v_{k}" for k in range(d)]
    u = [
        "(" + " + ".join(f"c_{k}_{j} * v_{j}" for j in range(d)) + f") AS u_{k}"
        for k in range(d)
    ]
    ray = "(" + " + ".join(f"v_{k} * u_{k}" for k in range(d)) + ") AS ray"
    tr = "(" + " + ".join(f"c_{k}_{k}" for k in range(d)) + ") AS tr"
    mx = "greatest(" + ", ".join(f"abs(v_{k})" for k in range(d)) + ")"
    sgn = (
        "CASE "
        + " ".join(
            f"WHEN abs(v_{k}) = {mx} THEN"
            f" (CASE WHEN v_{k} >= 0 THEN 1.0 ELSE -1.0 END)"
            for k in range(d)
        )
        + " ELSE 1.0 END AS sgn"
    )
    return {
        "cov": cov,
        "allc": allc,
        "allm": allm,
        "sq_r": sq_r,
        "sq_tr": sq_tr,
        "sq_m": sq_m,
        "vr": vr,
        "vnrm": vnrm,
        "v": v,
        "u": u,
        "ray": ray,
        "tr": tr,
        "sgn": sgn,
    }


def _pca_proj_sql() -> str:
    """DuckDB: wide p_0..p_7 e4-integer projections per vector."""
    cols = []
    for k in range(_PCA_D):
        signs = ", ".join(str(s) for s in _SIGNS[k])
        cols.append(
            f"CAST(round(round(list_sum(list_transform(range(1, {D_IN + 1}),"
            f" j -> vv[CAST(j AS INT)] * list_value({signs})[CAST(j AS INT)]))"
            f" / sqrt({_PCA_D}.0), 4) * 10000) AS BIGINT) AS p_{k}"
        )
    return (
        "SELECT "
        + ", ".join(cols)
        + " FROM (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))"
        " AS vv FROM embeddings)"
    )


def _pca_oracle() -> str:
    d, t = _PCA_D, _PCA_SQ
    e = _pca_exprs()
    sums = ", ".join(
        [f"CAST(SUM(p_{k}) AS HUGEINT) AS s_{k}" for k in range(d)]
        + [
            f"CAST(SUM(p_{k} * p_{j}) AS HUGEINT) AS q_{k}_{j}"
            for k in range(d)
            for j in range(k, d)
        ]
    )
    allc = ", ".join(e["allc"])
    allm = ", ".join(e["allm"])
    allr = ", ".join(f"r_{k}_{j}" for k in range(d) for j in range(d))
    ctes = [
        f"proj AS ({_pca_proj_sql()})",
        f"stats AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, {sums} FROM proj)",
        f"base AS (SELECT {', '.join(e['cov'])} FROM stats)",
        "it0 AS (SELECT *, "
        + ", ".join(f"c_{k}_{j} AS m_{k}_{j}" for k in range(d) for j in range(d))
        + " FROM base)",
    ]
    for i in range(1, t + 1):
        ctes.append(
            f"r{i} AS (SELECT {allc}, {', '.join(e['sq_r'])} FROM it{i - 1})"
        )
        ctes.append(f"t{i} AS (SELECT {allc}, {allr}, {e['sq_tr']} FROM r{i})")
        ctes.append(
            f"it{i} AS (SELECT {allc}, {', '.join(e['sq_m'])} FROM t{i})"
        )
    ctes.append(f"vx AS (SELECT {allc}, {', '.join(e['vr'])} FROM it{t})")
    ctes.append(
        f"vn AS (SELECT {allc}, "
        + ", ".join(f"vr_{k}" for k in range(d))
        + f", {e['vnrm']} FROM vx)"
    )
    ctes.append(
        f"vv AS (SELECT {allc}, {', '.join(e['v'])} FROM vn)"
    )
    ctes.append(
        f"uu AS (SELECT {allc}, "
        + ", ".join(f"v_{k}" for k in range(d))
        + f", {', '.join(e['u'])} FROM vv)"
    )
    ctes.append(f"fin AS (SELECT *, {e['ray']}, {e['tr']}, {e['sgn']} FROM uu)")
    dim_rows = ", ".join(f"({k})" for k in range(d))
    load_case = (
        "CASE d.dim "
        + " ".join(f"WHEN {k} THEN v_{k}" for k in range(d))
        + " END"
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(d.dim AS INTEGER) AS dim,
           round(sgn * {load_case}, 4) + 0.0 AS loading,
           round(ray / 100000000.0, 4) AS eigenvalue,
           round(ray / tr, 4) AS var_share
    FROM fin CROSS JOIN (VALUES {dim_rows}) d(dim)
    ORDER BY dim
    """
    )


@query("q_pca_power", oracle=_pca_oracle())
def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal component of the 8-dim JL projection via
    POWER ITERATION BY REPEATED SQUARING (the classic power method,
    Mises & Pollaczek-Geiringer 1929, accelerated by squaring the
    matrix: 8 trace-normalized squarings = effective exponent 2^8, so
    eigvec error ~ (λ2/λ1)^256 ≈ 1e-20 at the fixture's 0.84 gap
    ratio where 12 plain iterations left ~2e-2 residual) — loading
    vector, top eigenvalue (Rayleigh quotient on the original
    covariance), and explained-variance share.

    Cross-engine exactness, the hard part: after the exact-integer
    sufficient statistics (n, Σp_k, Σp_k·p_j summed as
    DECIMAL(38,0)/HUGEINT over e4 fixed-point projections), EVERY
    remaining float op — covariance division, the 64 dot products per
    squaring, trace normalization, the final normalization, Rayleigh
    quotient, sign fix, rounding — is the SAME expression text
    evaluated by both engines (:func:`_pca_exprs`), so both run the
    identical correctly-rounded IEEE operation tree and produce
    bit-identical doubles. No libm transcendentals (sqrt is
    IEEE-exact); no cross-engine summation-order hazard (dot products
    are unrolled left-associative text). Independently checked
    against numpy.linalg.eigh in `tests/test_round6_depth.py`.

    Scale: one fact-scale pass computes the 45 sufficient statistics
    (map-side partial aggs); the squarings then run on a SINGLE-ROW
    DataFrame of 64 covariance entries — driver-free, shuffle-free,
    O(d³·log T) scalar work that is invariant to data scale. This is
    exactly how distributed PCA is done at 100 TB: sufficient stats
    in one pass, eigen-solve on the tiny Gram matrix.
    """
    d, t = _PCA_D, _PCA_SQ
    e = _pca_exprs()
    emb = load_table(spark, sf_dir, "embeddings")
    vv = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    raws = [
        F.aggregate(
            F.zip_with(
                vv,
                F.array(*[F.lit(s) for s in _SIGNS[k]]),
                lambda x, s: x * s,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias(f"raw_{k}")
        for k in range(d)
    ]
    proj = emb.select(*raws).selectExpr(
        *[
            f"CAST(round(round(raw_{k} / sqrt({d}.0), 4) * 10000) AS BIGINT)"
            f" AS p_{k}"
            for k in range(d)
        ]
    )
    stats = proj.agg(
        F.count("*").alias("n"),
        *[
            F.sum(F.col(f"p_{k}").cast("decimal(38,0)")).alias(f"s_{k}")
            for k in range(d)
        ],
        *[
            F.sum(
                (F.col(f"p_{k}") * F.col(f"p_{j}")).cast("decimal(38,0)")
            ).alias(f"q_{k}_{j}")
            for k in range(d)
            for j in range(k, d)
        ],
    )
    cur = stats.selectExpr(*e["cov"])
    cur = cur.selectExpr(
        "*", *[f"c_{k}_{j} AS m_{k}_{j}" for k in range(d) for j in range(d)]
    )
    allc = e["allc"]
    allr = [f"r_{k}_{j}" for k in range(d) for j in range(d)]
    for i in range(t):
        cur = cur.selectExpr(*allc, *e["sq_r"])
        cur = cur.selectExpr(*allc, *allr, e["sq_tr"])
        cur = cur.selectExpr(*allc, *e["sq_m"])
        # Projection collapse nests the whole squaring history into
        # one expression tree (measured: MiB-scale task binaries, ~10 s
        # dominated by analysis/codegen). A 1-row localCheckpoint
        # every 2nd squaring caps the tree depth; the materialization
        # itself is a single-row no-op. Driver literals
        # (session.one_row) do not replace it: CollapseProject inlines
        # them into the unrolled squarings, and at sf0.01 the query had
        # not returned after 5 minutes (about 26 s cold as written).
        if (i + 1) % 2 == 0 and i + 1 < t:
            cur = materialize(cur)
    cur = cur.selectExpr(*allc, *e["vr"])
    cur = cur.selectExpr(*allc, *[f"vr_{k}" for k in range(d)], e["vnrm"])
    cur = cur.selectExpr(*allc, *e["v"])
    cur = cur.selectExpr(*allc, *[f"v_{k}" for k in range(d)], *e["u"])
    fin = cur.selectExpr("*", e["ray"], e["tr"], e["sgn"])
    load_case = (
        "CASE d.dim "
        + " ".join(f"WHEN {k} THEN v_{k}" for k in range(d))
        + " END"
    )
    dims = spark.range(d).selectExpr("CAST(id AS INT) AS dim").alias("d")
    return (
        fin.crossJoin(F.broadcast(dims))
        .selectExpr(
            "d.dim AS dim",
            f"round(sgn * {load_case}, 4) + 0.0 AS loading",
            "round(ray / 100000000.0, 4) AS eigenvalue",
            "round(ray / tr, 4) AS var_share",
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q_centroid_similarity — pairwise cosine between label centroids
# ---------------------------------------------------------------------------

#: Cosine between the two integer SUM vectors (the per-label counts
#: cancel out of the centroid cosine, so no division happens before
#: the final shared formula).
_CSIM_FINAL = (
    "round(CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))), 6)"
)


@query(
    "q_centroid_similarity",
    oracle=f"""
    WITH comp AS (
        SELECT label, t.i AS dim,
               CAST(SUM(CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000)
                        AS BIGINT))
                    AS HUGEINT) AS s
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS t(i)
        GROUP BY label, dim
    ),
    norms AS (
        SELECT label, CAST(SUM(s * s) AS HUGEINT) AS n2 FROM comp
        GROUP BY label
    ),
    dots AS (
        SELECT a.label AS label_a, b.label AS label_b,
               CAST(SUM(a.s * b.s) AS HUGEINT) AS dot
        FROM comp a JOIN comp b ON b.dim = a.dim AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT CAST(d.label_a AS BIGINT) AS label_a,
           CAST(d.label_b AS BIGINT) AS label_b,
           {_CSIM_FINAL.replace("dot", "d.dot")
                       .replace("na2", "xa.n2")
                       .replace("nb2", "xb.n2")} AS cosine
    FROM dots d
    JOIN norms xa ON xa.label = d.label_a
    JOIN norms xb ON xb.label = d.label_b
    ORDER BY label_a, label_b
    """,
)
def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label embedding
    centroids — the class-separation audit behind every ANN /
    clustering pipeline (confusable label pairs show cosine near 1;
    healthy ones sit near the random-direction baseline).

    Exactness without float accumulation: each float32 component is
    fixed-pointed (round(x·1e6) → BIGINT) BEFORE any sum, so the
    per-(label, dim) component sums are exact integers in any
    partitioning / summation order; the count divides out of the
    centroid cosine (cos(Σa/n_a, Σb/n_b) = cos(Σa, Σb)), so dot and
    norms are exact DECIMAL(38,0)/HUGEINT products of those sums and
    the only float op is the one shared sqrt-ratio text, round 6.

    Scale: posexplode fans the vector relation out 64× and collapses
    it to |labels|·64 rows with one partial-agg'd shuffle; the pair
    join is on the dim key with |labels|-bounded fan-out (a catalog
    bound); output is |labels|² rows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = (
        emb.select(
            "label", F.posexplode("embedding").alias("dim0", "x")
        )
        .select(
            "label",
            (F.col("dim0") + 1).alias("dim"),
            F.expr("CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)").alias("xi"),
        )
        .groupBy("label", "dim")
        .agg(F.sum(F.col("xi").cast("decimal(38,0)")).alias("s"))
    )
    norms = comp.groupBy("label").agg(
        F.sum(F.expr("s * s")).cast("decimal(38,0)").alias("n2")
    )
    a = comp.alias("a")
    b = comp.alias("b")
    dots = (
        a.join(
            b,
            (F.col("b.dim") == F.col("a.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.expr("a.s * b.s")).cast("decimal(38,0)").alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(F.broadcast(na), "label_a")
        .join(F.broadcast(nb), "label_b")
        .selectExpr(
            "CAST(label_a AS BIGINT) AS label_a",
            "CAST(label_b AS BIGINT) AS label_b",
            f"{_CSIM_FINAL} AS cosine",
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# q_knn_eval — kNN label-prediction accuracy over the embedding table
# ---------------------------------------------------------------------------

_KNN_K = 5
_KNN_MOD = 10  # every 10th vector is a held-out query

#: e9-fixed-pointed cosine from exact integer component values —
#: rounded BEFORE ranking so neighbor order is cross-engine stable.
_KNN_COS = (
    "CAST(round(1000000000.0 * CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(q2 AS DOUBLE)) * sqrt(CAST(b2 AS DOUBLE))))"
    " AS BIGINT)"
)


@query(
    "q_knn_eval",
    oracle=f"""
    WITH comp AS (
        SELECT vec_id, label, t.i AS dim,
               CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS x
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    norms AS (
        SELECT vec_id, CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS n2
        FROM comp GROUP BY vec_id
    ),
    pairs AS (
        SELECT q.vec_id AS qid, b.vec_id AS bid,
               CAST(SUM(CAST(q.x AS HUGEINT) * b.x) AS HUGEINT) AS dot
        FROM comp q JOIN comp b ON b.dim = q.dim
        WHERE q.vec_id % {_KNN_MOD} = 7 AND b.vec_id % {_KNN_MOD} <> 7
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT p.qid, p.bid, {_KNN_COS} AS cos_e9
        FROM (SELECT p.*, nq.n2 AS q2, nb.n2 AS b2
              FROM pairs p
              JOIN norms nq ON nq.vec_id = p.qid
              JOIN norms nb ON nb.vec_id = p.bid) p
    ),
    ranked AS (
        SELECT qid, bid, cos_e9,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_e9 DESC, bid) AS rk
        FROM scored
    ),
    votes AS (
        SELECT r.qid, e.label, COUNT(*) AS v
        FROM ranked r JOIN embeddings e ON e.vec_id = r.bid
        WHERE r.rk <= {_KNN_K}
        GROUP BY 1, 2
    ),
    pred AS (
        SELECT qid, label AS pred_label FROM (
            SELECT qid, label,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY v DESC, label) AS pr
            FROM votes
        ) WHERE pr = 1
    )
    SELECT CAST(e.label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct
    FROM pred p JOIN embeddings e ON e.vec_id = p.qid
    GROUP BY e.label
    ORDER BY label
    """,
)
def q_knn_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-out kNN classification accuracy over the embedding table:
    every 10th vector is held out as a query, classified by the
    majority label of its 5 nearest base neighbors by cosine, and
    scored per label — the sanity eval run before trusting an
    embedding space for label propagation or retrieval filtering.

    Determinism end-to-end: components fixed-pointed to e6 integers
    BEFORE any product, dot/norms exact int64 (64·1e12 < 2^63), and
    the cosine fixed-pointed to e9 BEFORE ranking (neighbor order can
    never flip on a float ulp; vec_id breaks exact ties); majority
    votes are integer counts with a label tiebreak.

    Scale: the query side is a hash-selected bounded EVAL SAMPLE, so
    it broadcasts (the q_cosine_topk sanctioned exact-tier pattern)
    and the base table streams through ONE map-side pass computing
    each dot as a JVM zip_with/aggregate loop — no 64x dim explosion,
    no shuffle of pair rows (the first cut dim-joined exploded
    components: 144M shuffled rows at sf0.1, 20.1s; this shape is
    map-side). Per-query top-5 windows partition on qid.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # round() before the cast — a bare (x*1e6).cast("long") truncates,
    # which would disagree with the oracle's round-half-up.
    ivec = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * 1000000).cast("long"),
    )
    n2 = F.aggregate(
        F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    base = (
        emb.repartition(spark.sparkContext.defaultParallelism)
        .filter(F.col("vec_id") % _KNN_MOD != 7)
        .select(F.col("vec_id").alias("bid"), ivec.alias("v"))
        .withColumn("b2", n2)
        .withColumnRenamed("v", "bv")
    )
    qs = (
        emb.filter(F.col("vec_id") % _KNN_MOD == 7)
        .select(F.col("vec_id").alias("qid"), ivec.alias("v"))
        .withColumn("q2", n2)
        .withColumnRenamed("v", "qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("bv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        base.crossJoin(F.broadcast(qs))
        .withColumn("dot", dot)
        .selectExpr("qid", "bid", "q2", "b2", "dot")
        .selectExpr("qid", "bid", f"{_KNN_COS} AS cos_e9")
    )
    labels = emb.select("vec_id", "label")
    wq = Window.partitionBy("qid").orderBy(F.col("cos_e9").desc(), "bid")
    votes = (
        scored.withColumn("rk", F.row_number().over(wq))
        .filter(F.col("rk") <= _KNN_K)
        .join(
            F.broadcast(labels.select(F.col("vec_id").alias("bid"), "label")),
            "bid",
        )
        .groupBy("qid", "label")
        .agg(F.count("*").alias("v"))
    )
    wp = Window.partitionBy("qid").orderBy(F.col("v").desc(), "label")
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter("pr = 1")
        .select("qid", F.col("label").alias("pred_label"))
    )
    return (
        pred.join(
            F.broadcast(labels.select(F.col("vec_id").alias("qid"), "label")),
            "qid",
        )
        .groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_queries"),
            F.sum(
                F.expr("CASE WHEN pred_label = label THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("n_correct"),
        )
        .selectExpr(
            "CAST(label AS BIGINT) AS label", "n_queries", "n_correct"
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q_embedding_quantization — int8 quantization drift audit
# ---------------------------------------------------------------------------

#: Per-component symmetric int8 code from the e6 fixed-point component
#: and the vector's max magnitude (shared text; exact integer out).
_EQ_CODE = (
    "CAST(round(CAST(x AS DOUBLE) * 127.0 / CAST(m AS DOUBLE)) AS BIGINT)"
)
#: Per-vector cosine between the original and its quantized code, in
#: e9 integer units (scale-invariant, so the m/127 dequant factor
#: cancels and the cosine runs on exact integer sums).
_EQ_COS = (
    "CAST(round(1000000000.0 * CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(x2 AS DOUBLE)) * sqrt(CAST(q2 AS DOUBLE))))"
    " AS BIGINT)"
)

_EQ_FINAL = (
    "CAST(n AS BIGINT) AS n_vectors",
    "round(CAST(s_cos AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000.0, 6)"
    " + 0.0 AS mean_cosine",
    "round(CAST(min_cos AS DOUBLE) / 1000000000.0, 6) + 0.0"
    " AS worst_cosine",
    "CAST(n_degraded AS BIGINT) AS n_below_999",
)


@query(
    "q_embedding_quantization",
    oracle=f"""
    WITH comp AS (
        SELECT vec_id, t.i AS dim,
               CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS x
        FROM embeddings,
             UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    mx AS (
        SELECT vec_id, MAX(abs(x)) AS m FROM comp GROUP BY vec_id
        HAVING MAX(abs(x)) > 0
    ),
    coded AS (
        SELECT c.vec_id, c.x, {_EQ_CODE} AS q
        FROM comp c JOIN mx ON mx.vec_id = c.vec_id
    ),
    per_vec AS (
        SELECT vec_id,
               CAST(SUM(CAST(x AS HUGEINT) * q) AS HUGEINT) AS dot,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS x2,
               CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS q2
        FROM coded GROUP BY vec_id
    ),
    cosed AS (SELECT vec_id, {_EQ_COS} AS cos_e9 FROM per_vec),
    s AS (
        SELECT COUNT(*) AS n, SUM(cos_e9) AS s_cos, MIN(cos_e9) AS min_cos,
               SUM(CASE WHEN cos_e9 < 999000000 THEN 1 ELSE 0 END)
                   AS n_degraded
        FROM cosed
    )
    SELECT {", ".join(_EQ_FINAL)} FROM s
    """,
)
def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric-quantization drift audit for the embedding
    store: quantize each vector to 8-bit codes (per-vector max-abs
    scale, the standard vector-DB compression), measure the cosine
    between every original and its code, and report mean / worst /
    count-below-0.999 — the go/no-go readout before switching ANN
    serving to compressed vectors.

    Cosine is scale-invariant, so the dequantization factor cancels
    and the audit runs entirely on exact integer sums (e6 components ×
    int8 codes); per-vector cosines are e9-rounded integers before
    the corpus rollup (round-before-sum). Zero vectors are excluded
    identically in both engines.

    Scale: component explode → per-vector max (hash agg, vec key) →
    one co-partitioned join back → per-vector moment agg → 4-counter
    rollup. Everything keys on vec_id; no broadcast of anything
    unbounded, no windows.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode("embedding").alias("dim", "v"),
    ).select(
        "vec_id",
        F.expr("CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)").alias(
            "x"
        ),
    )
    mx = (
        comp.groupBy("vec_id")
        .agg(F.max(F.abs(F.col("x"))).alias("m"))
        .filter(F.col("m") > 0)
    )
    coded = comp.join(mx, "vec_id").selectExpr(
        "vec_id", "x", f"{_EQ_CODE} AS q"
    )
    xd = F.col("x").cast("decimal(38,0)")
    qd = F.col("q").cast("decimal(38,0)")
    per_vec = coded.groupBy("vec_id").agg(
        F.sum(xd * F.col("q")).alias("dot"),
        F.sum(xd * F.col("x")).alias("x2"),
        F.sum(qd * F.col("q")).alias("q2"),
    )
    cosed = per_vec.selectExpr("vec_id", f"{_EQ_COS} AS cos_e9")
    s = cosed.agg(
        F.count("*").alias("n"),
        F.sum("cos_e9").alias("s_cos"),
        F.min("cos_e9").alias("min_cos"),
        F.sum(F.when(F.col("cos_e9") < 999000000, 1).otherwise(0)).alias(
            "n_degraded"
        ),
    )
    return s.selectExpr(*_EQ_FINAL)


# ---------------------------------------------------------------------------
# q_pca_top_component — embedding anisotropy via fixed-point power iteration
# ---------------------------------------------------------------------------

#: Power-iteration rounds. 6 is enough to separate the top component
#: on the fixture spectra; the output is DEFINED as the 6-round
#: estimate (deterministic), not the converged limit.
_PCA_ITERS = 6
#: Fixed start vector component: 64 dims at 0.125 each (unit L2 norm,
#: exactly representable in binary — no rounding at round 0).
_PCA_V0 = 0.125


def _pca_oracle(iters: int = _PCA_ITERS) -> str:
    """Unrolled power iteration: round t computes per-vector scores
    ``s = sum_d round(xc_d * v_d * 1e9)`` (BIGINT), per-dim inflow
    ``w_d = sum_x round((s/1e9) * xc_d * 1e6)`` (BIGINT), then
    max-abs-normalizes ``v' = round(w / max|w|, 6)`` — every distributed
    sum is over exact integers (the pagerank/HITS discipline)."""
    rounds = []
    for t in range(1, iters + 1):
        rounds.append(f"""s{t} AS MATERIALIZED (
        SELECT vid,
               CAST(SUM(CAST(round(xc * vd * 1000000000) AS BIGINT)) AS BIGINT)
                   AS s_nano
        FROM xc JOIN v{t - 1} USING (dim) GROUP BY vid
    ),
    w{t} AS MATERIALIZED (
        SELECT dim,
               CAST(SUM(CAST(round((s_nano / 1000000000.0) * xc * 1000000)
                             AS BIGINT)) AS BIGINT) AS w
        FROM xc JOIN s{t} USING (vid) GROUP BY dim
    ),
    m{t} AS (SELECT MAX(ABS(w)) AS m FROM w{t}),
    v{t} AS MATERIALIZED (SELECT dim, round(w / NULLIF(m * 1.0, 0.0), 6) AS vd
                         FROM w{t} CROSS JOIN m{t})""")
    chain = ",\n    ".join(rounds)
    return f"""
    WITH raw AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    d AS (
        SELECT vid, i AS dim, vv[i] AS x
        FROM raw CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    mu AS (SELECT dim, round(AVG(x), 6) AS mu FROM d GROUP BY dim),
    xc AS MATERIALIZED (
        SELECT vid, d.dim, round(x - mu, 6) AS xc
        FROM d JOIN mu USING (dim)
    ),
    nn AS (SELECT CAST(COUNT(DISTINCT vid) AS BIGINT) AS n FROM xc),
    v0 AS (SELECT dim, {_PCA_V0} AS vd FROM mu),
    {chain},
    vn AS (
        SELECT CAST(SUM(CAST(round(vd * vd * 1000000) AS BIGINT)) AS BIGINT)
                   AS vn2_micro
        FROM v{iters}
    ),
    ray AS (
        SELECT CAST(SUM(CAST(round((s_nano / 1000000000.0)
                                   * (s_nano / 1000000000.0) * 1000000)
                             AS BIGINT)) AS BIGINT) AS ssum_micro
        FROM s{iters}
    ),
    tv AS (
        SELECT CAST(SUM(CAST(round(xc * xc * 1000000) AS BIGINT)) AS BIGINT)
                   AS tsum_micro
        FROM xc
    ),
    stats AS (
        SELECT round(ssum_micro / NULLIF((n - 1) * (vn2_micro / 1000000.0)
                                         * 1000000.0, 0.0), 6) AS top_eigenvalue,
               round(tsum_micro / NULLIF((n - 1) * 1000000.0, 0.0), 6)
                   AS total_variance,
               round((ssum_micro * 1000000.0) / NULLIF(vn2_micro * 1.0, 0.0)
                     / NULLIF(tsum_micro * 1.0, 0.0), 6) AS top_pc_share
        FROM ray CROSS JOIN vn CROSS JOIN tv CROSS JOIN nn
    )
    SELECT CAST(v.dim - 1 AS BIGINT) AS dim, v.vd AS loading,
           s.top_eigenvalue, s.total_variance, s.top_pc_share
    FROM v{iters} v CROSS JOIN stats s
    ORDER BY ABS(v.vd) DESC, v.dim
    LIMIT 5
    """


@query("q_pca_top_component", oracle=_pca_oracle())
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy audit: the top principal component of the
    centered embedding matrix by {_PCA_ITERS}-round POWER ITERATION
    (Mises & Pollaczek-Geiringer 1929; the anisotropy lens of
    Ethayarajh 2019 / Mu & Viswanath 2018 "All-but-the-Top") — a
    healthy embedding space spreads variance across components, while
    a collapsed/rogue-dimension space concentrates it in one: the
    ``top_pc_share`` column is the fraction of total variance the top
    component explains, and the 5 largest |loading| dims name the
    dominant directions a whitening pass would remove.

    Cross-engine discipline: centered components, per-round scores and
    inflows are all fixed-pointed to integers before every distributed
    sum (nano for scores, micro elsewhere — the pagerank/HITS pattern);
    normalization is max-abs (an integer max), so all {_PCA_ITERS}
    rounds are bit-identical across engines and the oracle unrolls
    them as chained CTEs. The output is DEFINED as the fixed-round
    estimate — deterministic, no convergence probe.

    Plan: one posexplode pass for (vid, dim, xc); each round is two
    integer hash-aggs (per-vector score, per-dim inflow) against a
    64-row broadcast direction vector, localCheckpoint()ed so the plan
    stays O(1) in rounds. Linear in corpus size per round; the driver
    only ever holds 64-row direction panels.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    raw = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vv"),
    )
    d = raw.select("vid", F.posexplode("vv").alias("dim", "x"))
    mu = d.groupBy("dim").agg(F.round(F.avg("x"), 6).alias("mu"))
    # Spread before checkpointing: the posexplode inherits the scan's
    # task count (ONE for a single-row-group file), and every power
    # round re-reads xc at the checkpoint's partitioning — without the
    # repartition all 6 rounds' map work would run on one core.
    xc = materialize(
        d.join(F.broadcast(mu), "dim")
        .select("vid", "dim", F.round(F.col("x") - F.col("mu"), 6).alias("xc"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    nn = xc.agg(F.countDistinct("vid").cast("long").alias("n"))

    v = mu.select("dim", F.lit(_PCA_V0).alias("vd"))
    s = None
    for _ in range(_PCA_ITERS):
        s = (
            xc.join(F.broadcast(v), "dim")
            .groupBy("vid")
            .agg(
                F.sum(F.round(F.col("xc") * F.col("vd") * 1000000000).cast("long"))
                .cast("long")
                .alias("s_nano")
            )
        )
        w = (
            xc.join(s, "vid")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.round(
                        (F.col("s_nano") / F.lit(1000000000.0)) * F.col("xc") * 1000000
                    ).cast("long")
                )
                .cast("long")
                .alias("w")
            )
        )
        m = w.agg(F.max(F.abs(F.col("w"))).alias("m"))
        v = materialize(
            w.crossJoin(F.broadcast(m))
            .select(
                "dim",
                F.round(
                    F.col("w") / F.nullif(F.col("m") * F.lit(1.0), F.lit(0.0)), 6
                ).alias("vd"),
            )
        )

    vn = v.agg(
        F.sum(F.round(F.col("vd") * F.col("vd") * 1000000).cast("long"))
        .cast("long")
        .alias("vn2_micro")
    )
    ray = s.agg(
        F.sum(
            F.round(
                (F.col("s_nano") / F.lit(1000000000.0))
                * (F.col("s_nano") / F.lit(1000000000.0))
                * 1000000
            ).cast("long")
        )
        .cast("long")
        .alias("ssum_micro")
    )
    tv = xc.agg(
        F.sum(F.round(F.col("xc") * F.col("xc") * 1000000).cast("long"))
        .cast("long")
        .alias("tsum_micro")
    )
    stats = (
        ray.crossJoin(F.broadcast(vn))
        .crossJoin(F.broadcast(tv))
        .crossJoin(F.broadcast(nn))
        .select(
            F.round(
                F.col("ssum_micro")
                / F.nullif(
                    (F.col("n") - 1)
                    * (F.col("vn2_micro") / F.lit(1000000.0))
                    * F.lit(1000000.0),
                    F.lit(0.0),
                ),
                6,
            ).alias("top_eigenvalue"),
            F.round(
                F.col("tsum_micro")
                / F.nullif((F.col("n") - 1) * F.lit(1000000.0), F.lit(0.0)),
                6,
            ).alias("total_variance"),
            F.round(
                (F.col("ssum_micro") * F.lit(1000000.0))
                / F.nullif(F.col("vn2_micro") * F.lit(1.0), F.lit(0.0))
                / F.nullif(F.col("tsum_micro") * F.lit(1.0), F.lit(0.0)),
                6,
            ).alias("top_pc_share"),
        )
    )
    return (
        v.crossJoin(F.broadcast(stats))
        .select(
            F.col("dim").cast("long").alias("dim"),
            F.col("vd").alias("loading"),
            "top_eigenvalue",
            "total_variance",
            "top_pc_share",
        )
        .orderBy(F.abs(F.col("loading")).desc(), "dim")
        .limit(5)
    )


# ---------------------------------------------------------------------------
# q_target_encoding — leakage-safe out-of-fold categorical encoding
# ---------------------------------------------------------------------------

_TE_FOLDS = 5
_TE_SMOOTH = 20  # smoothing prior weight (pseudo-rows of global mean)

_TE_FINAL = (
    "brand",
    "CAST(fold AS BIGINT) AS fold",
    "CAST(n_fold AS BIGINT) AS n_fold_rows",
    "CAST(n_oof AS BIGINT) AS n_oof_rows",
    # smoothed out-of-fold mean: (sum_oof + m * global_mean) / (n_oof + m)
    "round((CAST(sum_oof AS DOUBLE) + "
    f"{_TE_SMOOTH} * (CAST(g_sum AS DOUBLE) / g_n)) / (n_oof + {_TE_SMOOTH})"
    " / 100, 4) AS encoding_dollars",
    "round(CAST(g_sum AS DOUBLE) / g_n / 100, 4) AS global_mean_dollars",
)


def _te_oracle() -> str:
    bucket = _bucket_sql("tenc", "l_orderkey * 10 + l_linenumber", _TE_FOLDS)
    return f"""
    WITH rows_ AS (
        SELECT p.p_brand AS brand,
               {bucket} AS fold,
               CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                    AS BIGINT) AS rev
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    bf AS (
        SELECT brand, fold,
               CAST(COUNT(*) AS BIGINT) AS n_fold,
               CAST(SUM(rev) AS BIGINT) AS sum_fold
        FROM rows_ GROUP BY brand, fold
    ),
    bg AS (
        SELECT brand, SUM(n_fold) AS n_b, SUM(sum_fold) AS sum_b FROM bf
        GROUP BY brand
    ),
    g AS (SELECT SUM(n_b) AS g_n, SUM(sum_b) AS g_sum FROM bg),
    folds AS (SELECT unnest(range(0, {_TE_FOLDS})) AS fold),
    panel AS (
        SELECT bg.brand, folds.fold,
               COALESCE(bf.n_fold, 0) AS n_fold,
               bg.n_b - COALESCE(bf.n_fold, 0) AS n_oof,
               bg.sum_b - COALESCE(bf.sum_fold, 0) AS sum_oof,
               g.g_n, g.g_sum
        FROM bg CROSS JOIN folds CROSS JOIN g
        LEFT JOIN bf ON bf.brand = bg.brand AND bf.fold = folds.fold
    )
    SELECT {", ".join(_TE_FINAL)} FROM panel ORDER BY brand, fold
    """


@query("q_target_encoding", oracle=_te_oracle())
def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe target encoding of a categorical feature (part
    brand -> mean line revenue), the out-of-fold form (Micci-Barreca
    2001 smoothing; the fold discipline of q_nb_crossval applied to
    feature engineering): the encoding a fold's rows RECEIVE is
    computed from every OTHER fold's rows, so the feature never leaks
    its own row's target — the difference between a valid encoded
    feature and a train-time mirage. Emits the (brand, fold) design
    table: fold/out-of-fold row counts and the smoothed encoding next
    to the global mean (the prior it shrinks toward — rare brands get
    pulled in, popular brands keep their own signal).

    Exactness: per-(brand, fold) revenue sums are exact integer cents
    (the complement trick makes the out-of-fold sums exact
    subtractions, ONE aggregation for all 5 folds); the smoothed mean
    is one shared float text over those integers, round 4.

    Scale: one lineitem-to-part equi-join, one (brand, fold) partial
    aggregate, a |brands| x 5 broadcast panel — the encoding table a
    production job would broadcast back onto the fact rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rows = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        F.col("p_brand").alias("brand"),
        hash_bucket(
            "tenc",
            F.col("l_orderkey") * 10 + F.col("l_linenumber"),
            _TE_FOLDS,
        ).alias("fold"),
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("long")
        .alias("rev"),
    )
    bf = rows.groupBy("brand", "fold").agg(
        F.count("*").cast("long").alias("n_fold"),
        F.sum("rev").cast("long").alias("sum_fold"),
    )
    bg = bf.groupBy("brand").agg(
        F.sum("n_fold").alias("n_b"), F.sum("sum_fold").alias("sum_b")
    )
    g = bg.agg(
        F.sum("n_b").alias("g_n"), F.sum("sum_b").alias("g_sum")
    )
    folds = li.sparkSession.range(_TE_FOLDS).select(
        F.col("id").cast("long").alias("fold")
    )
    panel = (
        bg.crossJoin(F.broadcast(folds))
        .crossJoin(F.broadcast(g))
        .join(bf, ["brand", "fold"], "left")
        .select(
            "brand",
            "fold",
            F.coalesce("n_fold", F.lit(0)).alias("n_fold"),
            (F.col("n_b") - F.coalesce("n_fold", F.lit(0))).alias("n_oof"),
            (F.col("sum_b") - F.coalesce("sum_fold", F.lit(0))).alias(
                "sum_oof"
            ),
            "g_n",
            "g_sum",
        )
    )
    return panel.selectExpr(*_TE_FINAL).orderBy("brand", "fold")
