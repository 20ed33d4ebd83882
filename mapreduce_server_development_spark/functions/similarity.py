"""Similarity search over embedding columns.

Two tiers (BASELINE.json north star):
- ``cosine_topk``: brute-force cosine top-k of a small query set against
  the full corpus. The query side is broadcast; the corpus is scanned
  once; dot products run through Spark's higher-order array functions
  (zip_with + aggregate, JVM-side, left-to-right deterministic order).
- ``lsh_bucket_topk``: random-hyperplane LSH. Signatures are computed
  per vector (one scan), candidates come from an equi-join on the
  bucket string — the scale path: no all-pairs comparison ever happens.

Hyperplane weights are +-1 derived from md5 parity so the DuckDB oracle
reproduces them exactly; sums feeding a sign decision are rounded to
1e-6 before comparison so cross-engine float-order noise cannot flip a
bit.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize


def lsh_plane_weights(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic +-1 hyperplane weights from md5 parity.

    weight[p][i] = +1 if the first hex digit of md5("{p}-{i}") is odd
    else -1 — reproducible in any engine with an md5 function.
    """
    return [
        [
            1.0 if int(hashlib.md5(f"{p}-{i}".encode()).hexdigest()[0], 16) % 2 == 1 else -1.0
            for i in range(dim)
        ]
        for p in range(num_planes)
    ]


def _dot(a, b):
    """Deterministic (left-to-right) double dot product of two arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def _as_double(col):
    return F.col(col).cast("array<double>")


def nearest(
    points: DataFrame,
    book: DataFrame,
    score,
    key: tuple[str, ...] = (),
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Nearest codeword per point: ``(vid, *key, cid, score, *carry)``.

    ``points`` (keyed by ``vid``) meet the broadcast ``book`` (keyed by
    ``cid``) in a cross join, or an equi-join on ``key`` (PQ's
    subspace ``m``). ``score`` is a Column over both sides; the highest
    wins and a tie goes to the lowest ``cid``. L2 callers pass the
    negated e4 integer distance, which is exact for longs. ``carry``
    names point columns kept on the output row.

    The pick is a map-side-combinable ``max_by`` aggregate, not a
    window: the broadcast join keeps every candidate row of a point in
    one task, so the partial aggregate collapses |book| rows to one
    BEFORE the exchange (a window shuffles all n x |book| rows; measured
    dominant at 100x vectors)."""
    pairs = (
        points.join(F.broadcast(book), list(key))
        if key
        else points.crossJoin(F.broadcast(book))
    )
    return (
        pairs.withColumn("score", score)
        .groupBy("vid", *key)
        .agg(
            F.expr("max_by(cid, struct(score, -cid))").alias("cid"),
            F.max("score").alias("score"),
            *[F.first(c).alias(c) for c in carry],
        )
    )


def lloyd_step(
    assign: DataFrame, vec: str, key: tuple[str, ...] = ()
) -> DataFrame:
    """One Lloyd (k-means) re-fit: ``(*key, cid, cv)``, each codeword
    the per-dimension mean of its members' ``vec``. Means round to 6
    decimals so every engine trains bit-identical centroids (the mean's
    last ulp depends on summation order); a codeword with no member
    drops. The (key, cid, dim)-keyed aggregate is fully distributed and
    its output is the bounded codebook."""
    dm = (
        assign.select(*key, "cid", F.posexplode(vec).alias("pos", "val"))
        .groupBy(*key, "cid", "pos")
        .agg(F.round(F.avg("val"), 6).alias("mu"))
    )
    return (
        dm.groupBy(*key, "cid")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "mu"))).alias("pm"))
        .select(*key, "cid", F.transform("pm", lambda s: s["mu"]).alias("cv"))
    )


def _spread(emb):
    """Round-robin repartition to defaultParallelism. Every entry point
    here computes expensive per-row expressions (signatures, dots) or
    broadcast-probe joins in the SCAN stage, whose task count is the
    file layout's — a single-row-group corpus file scans as ONE task
    and serializes the whole stage on one core. Results are unaffected
    (all downstream ranking uses rounded scores with id tie-breaks)."""
    return emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)


def cosine_topk(
    emb: DataFrame,
    query_max_id: int = 5,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: query set (id <= query_max_id) vs all.

    Cosine is rounded to 4 decimals *before* ranking so the ordering is
    identical across engines; ties break on vec_id.
    Returns (query_id, vec_id, cosine, rank).
    """
    from pyspark.sql.window import Window

    base = _spread(emb).select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"))
    base = base.withColumn("nrm", _norm(F.col("v")))
    q = base.filter(F.col("vid") <= query_max_id).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv"), F.col("nrm").alias("qnrm")
    )
    cos = F.lit(0.0) + F.round(_dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vid") != F.col("qid"))
        .select(F.col("qid").alias("query_id"), F.col("vid").alias("vec_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_signature(vec_col, num_planes: int, dim: int):
    """Bucket string ('0'/'1' per plane) for a double-array column."""
    planes = lsh_plane_weights(num_planes, dim)
    bits = [
        F.when(
            F.round(_dot(vec_col, F.array(*[F.lit(w) for w in plane])), 6) > 0, F.lit("1")
        ).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def ivf_topk(
    emb: DataFrame,
    query_max_id: int = 5,
    k: int = 3,
    nlist: int = 16,
    nprobe: int = 2,
    train_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into
    ``nlist`` cells, probe the ``nprobe`` nearest cells per query,
    exact top-k inside the probed cells only.

    Initial centroids are the vectors with id <= ``nlist`` — a
    deterministic seed the oracle reproduces exactly. ``train_iters``
    runs that many Lloyd (k-means) refinement passes: :func:`nearest`
    assigns every vector to its max-cosine centroid, :func:`lloyd_step`
    replaces each centroid with its cell's 6-decimal per-dimension
    mean. Each pass is one corpus scan + a (cell, dim)-keyed
    aggregation — fully distributed, centroids stay a bounded
    nlist-row broadcast. Scale shape: assignment is a
    broadcast join vs ``nlist`` bounded centroids (one corpus scan);
    the probe join touches ~``nprobe/nlist`` of the corpus — never
    all-pairs. Returns (query_id, vec_id, cosine, rank).
    """
    from pyspark.sql.window import Window

    base = _spread(emb).select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"))
    base = base.withColumn("nrm", _norm(F.col("v")))
    cent = base.filter(F.col("vid") <= nlist).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    ccos = F.lit(0.0) + F.round(_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), 4)
    for _ in range(train_iters):
        members = nearest(base, cent, ccos, carry=("v",))
        cent = lloyd_step(members, "v").withColumn("cnrm", _norm(F.col("cv")))

    assign = nearest(base, cent, ccos).select("vid", "cid")
    probe = (
        base.filter(F.col("vid") <= query_max_id)
        .crossJoin(F.broadcast(cent))
        .select(F.col("vid").alias("qid"), "cid", ccos.alias("ccos"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("ccos").desc(), F.col("cid"))
            ),
        )
        .filter(F.col("rn") <= nprobe)
        .select("qid", "cid")
    )
    cand = (
        probe.join(assign, "cid")
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", "vid")
        .distinct()
    )
    # Broadcast only the QUERY vectors — the unfiltered corpus would be
    # an all-to-one broadcast of every embedding row (the exact pattern
    # this module exists to avoid).
    qv = base.filter(F.col("vid") <= query_max_id).select(
        F.col("vid").alias("qid"), F.col("v").alias("q_v"), F.col("nrm").alias("q_nrm")
    )
    cos = F.lit(0.0) + F.round(_dot(F.col("v"), F.col("q_v")) / (F.col("nrm") * F.col("q_nrm")), 4)
    wk = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        cand.join(base, "vid")
        .join(F.broadcast(qv), "qid")
        .select(F.col("qid").alias("query_id"), F.col("vid").alias("vec_id"), cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.4,
    num_bands: int = 8,
    bits_per_band: int = 4,
    dim: int = 64,
    max_bucket_size: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via banded sign-LSH.

    Candidates are pairs sharing at least one band bucket (``num_bands``
    equi-self-joins on the band substring, unioned + distinct — never
    an all-pairs product); survivors are verified with the exact
    cosine. Semantics are therefore "shares a band AND cosine >=
    threshold" — deterministic and oracle-reproducible; band recall is
    the documented LSH tradeoff (more bits per band → smaller buckets
    and lower recall; tune per corpus).

    Scale guards: band buckets larger than ``max_bucket_size`` are
    pruned via a broadcast anti-join before the self-join (a hot bucket
    contributes O(n²) candidate pairs and carries little signal — same
    cap pattern as the hot-shingle prune in ngram dedup), and
    verification runs on distinct candidate ids only. The library
    default is ``None`` (exhaustive — no silent recall change for
    direct callers); the registered queries pass 1000 explicitly.
    Returns (vec_a, vec_b, cosine) with vec_a < vec_b.
    """
    sig_bits = num_bands * bits_per_band
    base = _spread(emb).select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"))
    # base feeds the band explode AND both exact-verify sides; its
    # 32-plane signature + norm chain is the expensive projection, so
    # materialize it once instead of once per consumer (r11 checkpoint
    # discipline; no shared exchange exists to reuse across them).
    base = materialize(base.withColumn("nrm", _norm(F.col("v"))).withColumn(
        "sig", lsh_signature(F.col("v"), sig_bits, dim)
    ))
    bands = base.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.substring("sig", k * bits_per_band + 1, bits_per_band).alias(
                            "bucket"
                        ),
                    )
                    for k in range(num_bands)
                ]
            )
        ).alias("b"),
    ).select("vid", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket"))
    if max_bucket_size is not None:
        hot = (
            bands.groupBy("band", "bucket")
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .select("band", "bucket")
        )
        bands = bands.join(F.broadcast(hot), ["band", "bucket"], "left_anti")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(F.col("a.vid").alias("vec_a"), F.col("b.vid").alias("vec_b"))
        .distinct()
    )
    va = base.select(F.col("vid").alias("vec_a"), F.col("v").alias("v_a"), F.col("nrm").alias("n_a"))
    vb = base.select(F.col("vid").alias("vec_b"), F.col("v").alias("v_b"), F.col("nrm").alias("n_b"))
    cos = F.lit(0.0) + F.round(_dot(F.col("v_a"), F.col("v_b")) / (F.col("n_a") * F.col("n_b")), 4)
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def lsh_bucket_topk(
    emb: DataFrame,
    query_max_id: int = 5,
    k: int = 3,
    num_planes: int = 8,
    dim: int = 64,
    probe_hamming: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN top-k: candidates share an LSH bucket with the query.

    One signature pass over the corpus, then an equi-join on the bucket
    — at 100 TB the bucket join shuffles only (id, bucket, vec), never
    the cross product. ``probe_hamming=1`` enables multi-probe: the
    query side additionally probes every bucket at Hamming distance 1
    (each signature bit flipped), a bounded ``num_planes + 1`` fan-out
    of the tiny query side that substantially lifts recall without
    touching corpus-side cost. Returns (query_id, vec_id, cosine, rank).
    """
    from pyspark.sql.window import Window

    base = _spread(emb).select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"))
    base = base.withColumn("nrm", _norm(F.col("v"))).withColumn(
        "bucket", lsh_signature(F.col("v"), num_planes, dim)
    )
    q = base.filter(F.col("vid") <= query_max_id).select(
        F.col("vid").alias("qid"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qbucket"),
    )
    probes = [F.col("qbucket")]
    if probe_hamming >= 1:
        probes += [
            F.concat(
                F.substring("qbucket", 1, i),
                F.when(F.substring("qbucket", i + 1, 1) == "0", F.lit("1")).otherwise(
                    F.lit("0")
                ),
                F.substring("qbucket", i + 2, num_planes - i - 1),
            )
            for i in range(num_planes)
        ]
    q = q.withColumn("qprobe", F.explode(F.array(*probes)))
    cos = F.lit(0.0) + F.round(_dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 4)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id"))
    return (
        base.join(F.broadcast(q), (F.col("bucket") == F.col("qprobe")))
        .filter(F.col("vid") != F.col("qid"))
        .select(F.col("qid").alias("query_id"), F.col("vid").alias("vec_id"), cos.alias("cosine"))
        .distinct()  # a pair can match via several probes
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def semantic_dedup_flags(
    emb: DataFrame,
    nlist: int = 16,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication flags (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embedding space, then mark as
    duplicate any vector whose cosine to a LOWER-id member of the SAME
    cluster reaches ``threshold`` (one-step min-id survivor rule — the
    deterministic, engine-exact variant of the paper's iterative
    keep-one-per-neighborhood).

    Scale shape: cluster assignment is one corpus scan against a
    broadcast ``nlist``-row centroid table (seeded deterministically
    from the first ``nlist`` ids; swap in the trained centroids from
    ``ivf_topk(train_iters=...)`` for production quality). The
    pairwise stage is an equi-join on the cluster id — quadratic only
    WITHIN a cell, never across the corpus. At 100 TB, cell population
    is held bounded by growing nlist ~ sqrt(n) (FAISS practice). Hot
    cells are not capped here: the sqrt(n)-cell family
    (``plans/cell_common``) bounds them with its deterministic
    (cid, sub) split, which keeps every member.

    Returns one row per vector: (vec_id, cid, is_dup 0/1).
    """
    base = _spread(emb).select(F.col(id_col).alias("vid"), _as_double(vec_col).alias("v"))
    base = base.withColumn("nrm", _norm(F.col("v")))
    cent = base.filter(F.col("vid") <= nlist).select(
        F.col("vid").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cnrm")
    )
    ccos = F.lit(0.0) + F.round(_dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cnrm")), 4)
    assign = nearest(base, cent, ccos, carry=("v", "nrm"))
    a = assign.select(
        F.col("cid"), F.col("vid").alias("id_a"), F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        F.col("cid"), F.col("vid").alias("id_b"), F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.lit(0.0) + F.round(_dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 4)
    dups = (
        a.join(b, "cid")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_b", cos.alias("cos"))
        .filter(F.col("cos") >= threshold)
        .select(F.col("id_b").alias("vid"))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    return (
        assign.select("vid", "cid")
        .join(dups, "vid", "left")
        .select(
            F.col("vid").alias("vec_id"),
            F.col("cid").cast("long").alias("cid"),
            F.coalesce(F.col("is_dup"), F.lit(0)).cast("long").alias("is_dup"),
        )
    )
