"""Corpus-curation and embedding-evaluation queries (round 7).

Operators a large-scale training-data pipeline runs before committing
to a corpus, a context size, or an embedding column:

- ``q_boilerplate_ngrams`` — per-source repeated-8-gram (template
  boilerplate) audit, the RefinedWeb/CCNet-style repeated-content
  signal computed from within-source document frequency.
- ``q_knn_graph`` — sqrt(n)-cell cosine k-NN graph construction with
  mutuality stats, the precursor to graph-based semantic dedup and
  diversity sampling.
- ``q_matryoshka_audit`` — dimension-truncation audit: how much top-1
  retrieval agreement survives when embeddings are truncated to a
  prefix of their dimensions (the Matryoshka-representation question:
  can we store/search 8 or 16 dims instead of 64?).
- ``q_embedding_drift`` — per-dimension standardized mean difference
  between two vector populations (new-encoder / new-era gate).
- ``q_truncation_loss`` — tokens a truncate-at-L policy discards per
  candidate context length.
- ``q_rag_chunking`` — sliding-window chunk counts and overlap storage
  blowup per (chunk_size, overlap) config.

All cosine arithmetic follows the house float discipline
(``functions/similarity.py``): cosines are rounded to 4 decimals
BEFORE ranking with vec_id tie-breaks, and any mean over cosines is
summed in exact e4 integer units, so both engines rank and aggregate
bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_col, word_shingles
from ..session import materialize
from ..sources.tables import load_table
from .cell_common import cell_assign, cell_ctes
from .registry import query

# ---------------------------------------------------------------------------
# q_boilerplate_ngrams — per-source repeated-8-gram boilerplate audit
# ---------------------------------------------------------------------------

#: A gram is boilerplate in its source when its document frequency
#: reaches max(2, ceil(5% of the source's docs)) — absolute floor 2 so
#: tiny sources still need a real repeat, relative 5% so the threshold
#: keeps meaning as sources grow.
_BP_MIN_DF = "GREATEST(2, (nd + 19) // 20)"
_BP_MIN_DF_SPARK = "GREATEST(2L, (nd + 19) DIV 20)"

_BP_FINAL = (
    "source",
    "CAST(nd AS BIGINT) AS n_docs",
    "CAST(n_grams AS BIGINT) AS n_grams",
    "CAST(n_boiler AS BIGINT) AS n_boilerplate_grams",
    "CAST(max_df AS BIGINT) AS max_df",
    "CAST(n_aff AS BIGINT) AS n_docs_affected",
    "round(CAST(n_aff AS DOUBLE) / CAST(nd AS DOUBLE), 4) + 0.0"
    " AS affected_pct",
)


@query(
    "q_boilerplate_ngrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS toks
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id, source,
               substring(md5(unnest(list_transform(
                   range(1, len(toks) - 6),
                   i -> array_to_string(toks[i:i+7], ' ')))), 1, 16) AS gh
        FROM toks WHERE len(toks) >= 8
    ),
    sd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd
           FROM documents GROUP BY source),
    df AS (
        SELECT source, gh, CAST(COUNT(*) AS BIGINT) AS df
        FROM sh GROUP BY source, gh
    ),
    boiler AS (
        SELECT d.source, d.gh
        FROM df d JOIN sd ON sd.source = d.source
        WHERE d.df >= {_BP_MIN_DF}
    ),
    per_source AS (
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(MAX(d.df) AS BIGINT) AS max_df
        FROM df d GROUP BY d.source
    ),
    nb AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_boiler
        FROM boiler GROUP BY source
    ),
    aff AS (
        SELECT s.source, CAST(COUNT(DISTINCT s.doc_id) AS BIGINT) AS n_aff
        FROM sh s JOIN boiler b ON b.source = s.source AND b.gh = s.gh
        GROUP BY s.source
    ),
    j AS (
        SELECT sd.source, sd.nd,
               COALESCE(p.n_grams, 0) AS n_grams,
               COALESCE(nb.n_boiler, 0) AS n_boiler,
               COALESCE(p.max_df, 0) AS max_df,
               COALESCE(aff.n_aff, 0) AS n_aff
        FROM sd
        LEFT JOIN per_source p ON p.source = sd.source
        LEFT JOIN nb ON nb.source = sd.source
        LEFT JOIN aff ON aff.source = sd.source
    )
    SELECT {", ".join(_BP_FINAL)} FROM j ORDER BY source
    """,
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source template-boilerplate audit: word-8-grams repeated
    across documents WITHIN a source (df >= max(2, 5% of the source's
    docs)) are the repeated-content signal behind RefinedWeb/CCNet
    line- and n-gram-level boilerplate removal — headers, footers,
    navigation, legal blurbs that inflate token counts without adding
    information. Reports, per source: distinct grams, boilerplate
    grams, the max within-source df, and how many documents carry at
    least one boilerplate gram.

    Scale: grams travel as 16-hex md5 prefixes (16 bytes on the
    shuffle, identical text both engines); the df aggregate is keyed
    by (source, gram-hash) — high cardinality, no skew; the affected-
    docs count is a key-partitioned semi-ish join on the same key.
    Nothing is all-pairs; the only per-source relations are the
    bounded source panel (|sources| rows).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        tokens_col(F.lower(F.col("text"))).alias("toks"),
    )
    sh = (
        toks.filter(F.size("toks") >= 8)
        .select(
            "doc_id",
            "source",
            F.explode(word_shingles(F.col("toks"), 8)).alias("gram"),
        )
        .select(
            "doc_id", "source", F.substring(F.md5("gram"), 1, 16).alias("gh")
        )
        .distinct()
    )
    sd = docs.groupBy("source").agg(F.count("*").cast("long").alias("nd"))
    df = sh.groupBy("source", "gh").agg(F.count("*").cast("long").alias("df"))
    boiler = (
        df.join(F.broadcast(sd), "source")
        .filter(F.expr(f"df >= {_BP_MIN_DF_SPARK}"))
        .select("source", "gh")
    )
    per_source = df.groupBy("source").agg(
        F.count("*").cast("long").alias("n_grams"),
        F.max("df").cast("long").alias("max_df"),
    )
    nb = boiler.groupBy("source").agg(
        F.count("*").cast("long").alias("n_boiler")
    )
    aff = (
        sh.join(boiler, ["source", "gh"])
        .groupBy("source")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_aff"))
    )
    j = (
        sd.join(per_source, "source", "left")
        .join(nb, "source", "left")
        .join(aff, "source", "left")
        .select(
            "source",
            "nd",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_boiler", F.lit(0)).alias("n_boiler"),
            F.coalesce("max_df", F.lit(0)).alias("max_df"),
            F.coalesce("n_aff", F.lit(0)).alias("n_aff"),
        )
    )
    return j.selectExpr(*_BP_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# q_knn_graph — cell-local cosine k-NN graph with mutuality stats
# ---------------------------------------------------------------------------

_KNN_K = 3

_KNN_FINAL = (
    "CAST(n_nodes AS BIGINT) AS n_nodes",
    "CAST(n_directed AS BIGINT) AS n_directed_edges",
    "CAST(n_undirected AS BIGINT) AS n_undirected_edges",
    "CAST(n_mutual AS BIGINT) AS n_mutual_edges",
    "round(CAST(n_mutual AS DOUBLE) / CAST(n_undirected AS DOUBLE), 4)"
    " + 0.0 AS mutual_pct",
    "round(CAST(n_directed AS DOUBLE) / CAST(n_nodes AS DOUBLE), 4) + 0.0"
    " AS avg_out_degree",
)


def _knn_oracle(train_iters: int = 0) -> str:
    return f"""
    WITH {cell_ctes(train_iters=train_iters)},
    knn AS (
        SELECT vid, bvid FROM (
            SELECT a.vid, b.vid AS bvid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vid
                       ORDER BY round(list_dot_product(a.vv, b.vv)
                                      / (a.nrm * b.nrm), 4) DESC, b.vid)
                       AS rn
            FROM assign a JOIN assign b
              ON a.cid = b.cid AND a.sub = b.sub AND a.vid <> b.vid
        ) WHERE rn <= {_KNN_K}
    ),
    und AS (
        SELECT LEAST(vid, bvid) AS a, GREATEST(vid, bvid) AS b,
               CAST(COUNT(*) AS BIGINT) AS dirs
        FROM knn GROUP BY 1, 2
    ),
    s AS (
        SELECT (SELECT COUNT(DISTINCT vid) FROM knn) AS n_nodes,
               (SELECT COUNT(*) FROM knn) AS n_directed,
               CAST(COUNT(*) AS BIGINT) AS n_undirected,
               CAST(SUM(CASE WHEN dirs = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_mutual
        FROM und
    )
    SELECT {", ".join(_KNN_FINAL)} FROM s
    """


@query("q_knn_graph", oracle=_knn_oracle())
def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine k-NN graph (k=3) over the embedding corpus, searched
    within IVF cells (the label-purity/ANN scale boundary — never
    all-pairs), reduced to the structural stats a curator reads before
    using the graph for semantic dedup or diversity sampling: directed
    and undirected edge counts, and the MUTUAL-edge fraction (high
    mutuality = tight clusters / duplicate families; low = hub-spoke
    or uniformly spread embeddings).

    Exactness: cell assignment and neighbor ranks use 4-decimal
    rounded cosines with vec_id tie-breaks (the
    ``functions/similarity.py`` discipline), so the graph is
    bit-identical in both engines; everything after is integer
    counting with two shared division texts.

    Scale: the cell COUNT scales with the corpus — ceil(sqrt(n))
    RANK-seeded cells (robust to sparse/offset id spaces; a real
    deployment trains them, q_cell_quantizer_train) — so the
    cell-local pairwise is O(n^1.5) total instead of the O(n^2/cells)
    a FIXED cell count degrades to (measured: the fixed-16-cell draft
    ran 8.5x at 10x vectors). The (cid, sub) hot-cell split
    (plans/cell_common.py) holds that bound under ANY cell-population
    skew (skew stress: SCALE.md round-8 — capped pair volume on the
    n^1.5 curve at 25k/50k/100k vectors with half the corpus in one
    cell). The k-NN window partitions by the high-cardinality vector
    id; the undirected reduction is one (min,max)-keyed aggregate.
    """
    return _knn_graph_df(spark, sf_dir, train_iters=0)


@query("q_knn_graph_trained", oracle=_knn_oracle(train_iters=1))
def q_knn_graph_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_knn_graph with ONE Lloyd training pass on the cell quantizer
    (train_iters=1) — the trained-quantizer path exercised under a
    full downstream consumer, not just the fit audit
    (q_cell_quantizer_train). Training moves the rank-seeded centroids
    toward the corpus's density modes, flattening the cell-population
    skew the (cid, sub) split otherwise absorbs and tightening
    cell-local neighborhoods (fit/recall delta vs the seeded twin
    recorded in BENCH_AB `knn_graph_trained_delta`). Same output
    schema, same exactness discipline (6-decimal Lloyd means,
    4-decimal cosines), same O(n^1.5) bound; training adds one
    (cell, dim)-keyed aggregate plus one reassignment scan.
    """
    return _knn_graph_df(spark, sf_dir, train_iters=1)


def _knn_graph_df(
    spark: SparkSession, sf_dir: str, train_iters: int
) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    assign = cell_assign(emb, extra=(), train_iters=train_iters)
    a = assign.select(
        "cid",
        "sub",
        "vid",
        F.col("vv").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = assign.select(
        "cid",
        "sub",
        F.col("vid").alias("bvid"),
        F.col("vv").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pcos = F.round(
        F.aggregate(
            F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / (F.col("na") * F.col("nb")),
        4,
    )
    knn = materialize(
        a.join(b, ["cid", "sub"])
        .filter(F.col("vid") != F.col("bvid"))
        .withColumn("pcos", pcos)
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vid").orderBy(
                    F.col("pcos").desc(), F.col("bvid")
                )
            ),
        )
        .filter(F.col("rn") <= _KNN_K)
        .select("vid", "bvid")
    )
    und = knn.groupBy(
        F.least("vid", "bvid").alias("a"),
        F.greatest("vid", "bvid").alias("b"),
    ).agg(F.count("*").cast("long").alias("dirs"))
    nodes = knn.agg(
        F.countDistinct("vid").cast("long").alias("n_nodes"),
        F.count("*").cast("long").alias("n_directed"),
    )
    s = und.agg(
        F.count("*").cast("long").alias("n_undirected"),
        F.sum(F.when(F.col("dirs") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n_mutual"),
    )
    return nodes.crossJoin(F.broadcast(s)).selectExpr(*_KNN_FINAL)


# ---------------------------------------------------------------------------
# q_matryoshka_audit — dimension-truncation retrieval agreement
# ---------------------------------------------------------------------------

_MAT_DIMS = (64, 32, 16, 8)
_MAT_QMAX = 32

_MAT_FINAL = (
    "CAST(dim AS BIGINT) AS dim",
    "CAST(nq AS BIGINT) AS n_queries",
    "CAST(n_agree AS BIGINT) AS n_agree",
    "round(CAST(n_agree AS DOUBLE) / CAST(nq AS DOUBLE), 4) + 0.0"
    " AS agree_pct",
    "round(CAST(pick_e4 AS DOUBLE) / CAST(nq AS DOUBLE) / 10000.0, 6)"
    " + 0.0 AS avg_pick_cosine",
    "round(CAST(best_e4 - pick_e4 AS DOUBLE) / CAST(nq AS DOUBLE)"
    " / 10000.0, 6) + 0.0 AS avg_regret",
)


def _mat_oracle() -> str:
    per_dim = []
    for d in _MAT_DIMS:
        per_dim.append(f"""
    t{d} AS (
        SELECT qid, vid AS pick{d} FROM (
            SELECT p.qid, p.vid,
                   ROW_NUMBER() OVER (
                       PARTITION BY p.qid
                       ORDER BY p.cos{d} DESC, p.vid) AS rn
            FROM pairs p
        ) WHERE rn = 1
    )""")
    dim_rows = ", ".join(
        f"({d})" for d in _MAT_DIMS
    )
    picks = " ".join(
        f"JOIN t{d} ON t{d}.qid = q.qid" for d in _MAT_DIMS
    )
    case_pick = " ".join(
        f"WHEN dims.dim = {d} THEN pick{d}" for d in _MAT_DIMS
    )
    return f"""
    WITH v AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    pairs AS (
        SELECT q.vid AS qid, c.vid,
               {", ".join(
                   f"round(list_dot_product(c.vv[1:{d}], q.vv[1:{d}])"
                   f" / NULLIF(sqrt(list_sum(list_transform(c.vv[1:{d}],"
                   f" x -> x * x)))"
                   f" * sqrt(list_sum(list_transform(q.vv[1:{d}],"
                   f" x -> x * x))), 0.0), 4) AS cos{d}"
                   for d in _MAT_DIMS
               )}
        FROM v c JOIN v q ON q.vid <= {_MAT_QMAX} AND c.vid <> q.vid
    ),{", ".join(per_dim)},
    q AS (SELECT DISTINCT qid FROM pairs),
    full_cos AS (
        SELECT qid, vid, CAST(round(cos64 * 10000) AS BIGINT) AS c_e4
        FROM pairs
    ),
    per_q AS (
        SELECT q.qid, {", ".join(f"pick{d}" for d in _MAT_DIMS)}
        FROM q {picks}
    ),
    stretched AS (
        SELECT p.qid, dims.dim,
               CASE {case_pick} END AS pick,
               p.pick64 AS best
        FROM per_q p CROSS JOIN (VALUES {dim_rows}) AS dims(dim)
    ),
    scored AS (
        SELECT s.dim, s.qid,
               CASE WHEN s.pick = s.best THEN 1 ELSE 0 END AS agree,
               fp.c_e4 AS pick_e4, fb.c_e4 AS best_e4
        FROM stretched s
        JOIN full_cos fp ON fp.qid = s.qid AND fp.vid = s.pick
        JOIN full_cos fb ON fb.qid = s.qid AND fb.vid = s.best
    ),
    s AS (
        SELECT dim, CAST(COUNT(*) AS BIGINT) AS nq,
               CAST(SUM(agree) AS BIGINT) AS n_agree,
               CAST(SUM(pick_e4) AS BIGINT) AS pick_e4,
               CAST(SUM(best_e4) AS BIGINT) AS best_e4
        FROM scored GROUP BY dim
    )
    SELECT {", ".join(_MAT_FINAL)} FROM s ORDER BY dim DESC
    """


@query("q_matryoshka_audit", oracle=_mat_oracle())
def q_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / dimension-truncation audit: for a bounded query
    set (vec_id <= 32) retrieve the top-1 cosine neighbor using only
    the FIRST d dims (d in 64/32/16/8) and measure, per d, how often
    the truncated pick equals the full-dimension pick and how much
    full-dimension cosine it gives up (avg regret) — the measurement
    that decides whether an index can store 8 or 16 dims instead of
    64 (4-8x memory/bandwidth) before committing to it at corpus
    scale.

    Exactness: every cosine is rounded to 4 decimals before ranking
    (vec_id tie-break); the two means are sums of exact e4 integers
    divided once in a shared text — bit-identical cross-engine.

    Scale: the query side is bounded and broadcast (the sanctioned
    cosine_topk exact-tier crossJoin); all four truncation cosines
    are computed in the SAME corpus pass (slice + zip_with, one scan,
    no per-dim rescan); everything downstream is |queries| x |dims|
    bounded.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # Spread the scan: the 4 truncation cosines run per candidate row
    # in the broadcast-probe stage (single-row-group file = one task).
    base = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "v"
        ),
    )
    q = base.filter(F.col("vid") <= _MAT_QMAX).select(
        F.col("vid").alias("qid"), F.col("v").alias("qv")
    )

    def cos_d(d: int):
        cv, qv = F.slice(F.col("v"), 1, d), F.slice(F.col("qv"), 1, d)
        dot = F.aggregate(
            F.zip_with(cv, qv, lambda x, y: x * y),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        nrm = lambda col: F.sqrt(  # noqa: E731 - local expression builder
            F.aggregate(
                F.transform(col, lambda x: x * x),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        )
        # A zero-norm truncated prefix (plausible for sparse
        # embeddings) must yield NULL, which sinks to the bottom of
        # the DESC rank identically in both engines (NULLS LAST) —
        # never a divide-by-zero Inf/NaN.
        prod = nrm(cv) * nrm(qv)
        return F.round(F.when(prod != 0.0, dot / prod), 4)

    pairs = materialize(
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vid") != F.col("qid"))
        .select(
            "qid",
            "vid",
            *[cos_d(d).alias(f"cos{d}") for d in _MAT_DIMS],
        )
    )
    picks = None
    for d in _MAT_DIMS:
        w = Window.partitionBy("qid").orderBy(
            F.col(f"cos{d}").desc(), F.col("vid")
        )
        p = (
            pairs.withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .select("qid", F.col("vid").alias(f"pick{d}"))
        )
        picks = p if picks is None else picks.join(p, "qid")
    full_cos = pairs.select(
        "qid",
        "vid",
        F.round(F.col("cos64") * 10000).cast("long").alias("c_e4"),
    )
    dims = F.array(*[F.lit(d) for d in _MAT_DIMS])
    stretched = (
        picks.select(
            "qid",
            F.explode(dims).alias("dim"),
            *[F.col(f"pick{d}") for d in _MAT_DIMS],
        )
        .withColumn(
            "pick",
            F.coalesce(
                *[
                    F.when(F.col("dim") == d, F.col(f"pick{d}"))
                    for d in _MAT_DIMS
                ]
            ),
        )
        .select("qid", "dim", "pick", F.col("pick64").alias("best"))
    )
    fp = full_cos.select(
        F.col("qid").alias("fq"),
        F.col("vid").alias("fv"),
        F.col("c_e4").alias("pick_e4"),
    )
    fb = full_cos.select(
        F.col("qid").alias("bq"),
        F.col("vid").alias("bv"),
        F.col("c_e4").alias("best_e4"),
    )
    scored = (
        stretched.join(
            fp,
            (F.col("fq") == F.col("qid")) & (F.col("fv") == F.col("pick")),
        )
        .join(fb, (F.col("bq") == F.col("qid")) & (F.col("bv") == F.col("best")))
        .select(
            "dim",
            F.when(F.col("pick") == F.col("best"), 1).otherwise(0).alias(
                "agree"
            ),
            "pick_e4",
            "best_e4",
        )
    )
    s = scored.groupBy("dim").agg(
        F.count("*").cast("long").alias("nq"),
        F.sum("agree").cast("long").alias("n_agree"),
        F.sum("pick_e4").cast("long").alias("pick_e4"),
        F.sum("best_e4").cast("long").alias("best_e4"),
    )
    return s.selectExpr(*_MAT_FINAL).orderBy(F.col("dim").desc())


# ---------------------------------------------------------------------------
# q_embedding_drift — per-dimension drift between two populations
# ---------------------------------------------------------------------------

_DRIFT_TOP = 10

#: Standardized mean difference per dimension from exact fixed-point
#: sums: means/vars derive from integer (n, sx_e6, sxx_e12); the SMD
#: is ONE shared float text, rounded to 6 BEFORE ranking (dim
#: tie-break) so the top-k set is identical cross-engine.
#: NULLIF guard: a constant dimension (zero pooled variance — think
#: padding dims) must yield NULL, which sinks to the bottom of the
#: DESC rank in both engines (NULLS LAST), never a divide-by-zero.
_DRIFT_SMD = (
    "round(abs(CAST(sx1 AS DOUBLE) / n1 - CAST(sx0 AS DOUBLE) / n0)"
    " / NULLIF(sqrt((("
    "   (CAST(sxx0 AS DOUBLE) - CAST(sx0 AS DOUBLE) * CAST(sx0 AS DOUBLE)"
    "    / n0) / (n0 - 1)"
    " + (CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * CAST(sx1 AS DOUBLE)"
    "    / n1) / (n1 - 1)"
    ") / 2.0)), 0.0), 6)"
)

_DRIFT_FINAL = (
    "CAST(dim AS BIGINT) AS dim",
    "CAST(n0 AS BIGINT) AS n_a",
    "CAST(n1 AS BIGINT) AS n_b",
    "round(CAST(sx0 AS DOUBLE) / n0 / 1000000.0, 6) + 0.0 AS mean_a",
    "round(CAST(sx1 AS DOUBLE) / n1 / 1000000.0, 6) + 0.0 AS mean_b",
    "smd + 0.0 AS smd",
)


@query(
    "q_embedding_drift",
    oracle=f"""
    WITH comp AS (
        SELECT label % 2 AS grp, t.i AS dim,
               CAST(round(CAST(embedding[t.i] AS DOUBLE) * 1000000)
                    AS BIGINT) AS x_e6
        FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(i)
    ),
    agg AS (
        SELECT grp, dim, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x_e6) AS HUGEINT) AS sx,
               CAST(SUM(CAST(x_e6 AS HUGEINT) * x_e6) AS HUGEINT) AS sxx
        FROM comp GROUP BY grp, dim
    ),
    wide AS (
        SELECT a0.dim, a0.n AS n0, a0.sx AS sx0, a0.sxx AS sxx0,
               a1.n AS n1, a1.sx AS sx1, a1.sxx AS sxx1
        FROM agg a0 JOIN agg a1 ON a1.dim = a0.dim
        WHERE a0.grp = 0 AND a1.grp = 1
    ),
    scored AS (SELECT *, {_DRIFT_SMD} AS smd FROM wide)
    SELECT {", ".join(_DRIFT_FINAL)} FROM scored
    ORDER BY smd DESC, dim LIMIT {_DRIFT_TOP}
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding drift between two populations (even vs
    odd labels standing in for reference vs candidate batches): the
    standardized mean difference of every dimension, top-10 most
    drifted — the feature-drift gate an embedding pipeline runs before
    trusting a new encoder version or data era (dimensions with SMD
    >> 0 mean the populations are separable and downstream ANN /
    classifier behavior will shift).

    Exactness: components are fixed-pointed (round(x*1e6)) BEFORE any
    sum, so (n, sum, sum-of-squares) per (group, dim) are exact
    integers under any partitioning; SMD is one shared float text
    rounded to 6 before the rank, dim tie-break; the top-10 compiles
    to TakeOrderedAndProject.

    Scale: posexplode fans the vector relation x64 and collapses to
    2 x 64 cells in one partial-agg'd shuffle; everything downstream
    is cell-bounded. At 100 TB the explode never materializes — it
    pipelines into the combiner.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        (F.col("label") % 2).alias("grp"),
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("i", "xv"),
    ).select(
        "grp",
        (F.col("i") + 1).alias("dim"),
        F.round(F.col("xv") * 1000000).cast("long").alias("x_e6"),
    )
    agg = comp.groupBy("grp", "dim").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x_e6").cast("decimal(38,0)").alias("sx"),
        F.sum(F.col("x_e6").cast("decimal(38,0)") * F.col("x_e6"))
        .cast("decimal(38,0)")
        .alias("sxx"),
    )
    a0 = agg.filter("grp = 0").select(
        "dim",
        F.col("n").alias("n0"),
        F.col("sx").alias("sx0"),
        F.col("sxx").alias("sxx0"),
    )
    a1 = agg.filter("grp = 1").select(
        "dim",
        F.col("n").alias("n1"),
        F.col("sx").alias("sx1"),
        F.col("sxx").alias("sxx1"),
    )
    scored = a0.join(a1, "dim").withColumn("smd", F.expr(_DRIFT_SMD))
    return (
        scored.selectExpr(*_DRIFT_FINAL)
        .orderBy(F.col("smd").desc(), "dim")
        .limit(_DRIFT_TOP)
    )


# ---------------------------------------------------------------------------
# q_truncation_loss — context-window truncation loss audit
# ---------------------------------------------------------------------------

#: Candidate context lengths (tokens). The fixture corpus tops out
#: near 100 whitespace tokens, so the grid brackets its distribution;
#: a production run passes its real 2k/4k/8k grid the same way.
_TRUNC_LENS = (16, 32, 64, 128)

_TRUNC_FINAL = (
    "CAST(ctx_len AS BIGINT) AS ctx_len",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_over AS BIGINT) AS n_docs_over",
    "CAST(lost AS BIGINT) AS tokens_lost",
    "round(CAST(lost AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0"
    " AS lost_pct",
    "round(CAST(n_over AS DOUBLE) / CAST(n_docs AS DOUBLE), 6) + 0.0"
    " AS docs_over_pct",
)


@query(
    "q_truncation_loss",
    oracle=f"""
    WITH t AS (
        SELECT CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS BIGINT) AS n
        FROM documents
    ),
    grid AS (SELECT unnest([{", ".join(str(x) for x in _TRUNC_LENS)}])
                 AS ctx_len),
    s AS (
        SELECT g.ctx_len,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN t.n > g.ctx_len THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_over,
               CAST(SUM(GREATEST(t.n - g.ctx_len, 0)) AS BIGINT) AS lost,
               CAST(SUM(t.n) AS BIGINT) AS tot
        FROM t CROSS JOIN grid g
        GROUP BY g.ctx_len
    )
    SELECT {", ".join(_TRUNC_FINAL)} FROM s ORDER BY ctx_len
    """,
)
def q_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation loss audit: for each candidate
    context length, how many documents overflow it and what fraction
    of the corpus's tokens a truncate-at-L policy throws away — the
    number that decides between truncation, chunking, and sequence
    packing (q_seq_packing) before a training run commits to a
    context size.

    Exact integer token counts; the grid fan-out is a bounded
    broadcast (|lengths| rows) over one corpus scan with map-side
    combine; two shared division texts.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(tokens_col(F.lower(F.col("text")))).cast("long").alias("n")
    )
    grid = F.broadcast(
        spark.createDataFrame([(x,) for x in _TRUNC_LENS], "ctx_len long")
    )
    s = (
        t.crossJoin(grid)
        .groupBy("ctx_len")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("n") > F.col("ctx_len"), 1).otherwise(0))
            .cast("long")
            .alias("n_over"),
            F.sum(F.greatest(F.col("n") - F.col("ctx_len"), F.lit(0)))
            .cast("long")
            .alias("lost"),
            F.sum("n").cast("long").alias("tot"),
        )
    )
    return s.selectExpr(*_TRUNC_FINAL).orderBy("ctx_len")


# ---------------------------------------------------------------------------
# q_rag_chunking — overlapping-chunk plan audit
# ---------------------------------------------------------------------------

#: (chunk_size, overlap) candidate configs, in tokens.
_RAG_CONFIGS = ((32, 0), (32, 8), (64, 16))

_RAG_FINAL = (
    "CAST(chunk_size AS BIGINT) AS chunk_size",
    "CAST(overlap AS BIGINT) AS overlap",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_chunks AS BIGINT) AS n_chunks",
    "CAST(stored AS BIGINT) AS stored_tokens",
    "round(CAST(stored AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0"
    " AS storage_blowup",
)


@query(
    "q_rag_chunking",
    oracle=f"""
    WITH t AS (
        SELECT CAST(len(list_filter(string_split(lower(text), ' '),
                                    x -> x <> '')) AS BIGINT) AS n
        FROM documents
    ),
    grid AS (
        SELECT c.* FROM (VALUES {", ".join(f"({c}, {o})" for c, o in _RAG_CONFIGS)})
            AS c(chunk_size, overlap)
    ),
    per AS (
        SELECT g.chunk_size, g.overlap, t.n,
               CASE WHEN t.n <= g.chunk_size THEN 1
                    ELSE 1 + CAST(ceil(CAST(t.n - g.chunk_size AS DOUBLE)
                            / (g.chunk_size - g.overlap)) AS BIGINT)
               END AS k
        FROM t CROSS JOIN grid g
    ),
    s AS (
        SELECT chunk_size, overlap,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(k) AS BIGINT) AS n_chunks,
               CAST(SUM(n + (k - 1) * overlap) AS BIGINT) AS stored,
               CAST(SUM(n) AS BIGINT) AS tot
        FROM per GROUP BY chunk_size, overlap
    )
    SELECT {", ".join(_RAG_FINAL)} FROM s ORDER BY chunk_size, overlap
    """,
)
def q_rag_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-chunk plan audit for retrieval indexing: for each
    (chunk_size, overlap) config, the chunk count a sliding-window
    splitter emits — ceil((n - C) / (C - O)) extra chunks past the
    first — and the storage blowup from re-storing the overlapped
    tokens (stored = n + (k-1)*O). The cost side of the RAG chunking
    decision; the retrieval-quality side is measured downstream, but
    the index bill is knowable before building anything.

    Exact integer chunk arithmetic (the one ceil runs on a shared
    float text over exact integers — token counts sit far below
    2^53, so the double quotient is exact); the config grid is a
    bounded broadcast over one corpus scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.size(tokens_col(F.lower(F.col("text")))).cast("long").alias("n")
    )
    grid = F.broadcast(
        spark.createDataFrame(
            list(_RAG_CONFIGS), "chunk_size long, overlap long"
        )
    )
    per = t.crossJoin(grid).withColumn(
        "k",
        F.when(F.col("n") <= F.col("chunk_size"), F.lit(1)).otherwise(
            1
            + F.ceil(
                (F.col("n") - F.col("chunk_size")).cast("double")
                / (F.col("chunk_size") - F.col("overlap"))
            ).cast("long")
        ),
    )
    s = per.groupBy("chunk_size", "overlap").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("k").cast("long").alias("n_chunks"),
        F.sum(F.col("n") + (F.col("k") - 1) * F.col("overlap"))
        .cast("long")
        .alias("stored"),
        F.sum("n").cast("long").alias("tot"),
    )
    return s.selectExpr(*_RAG_FINAL).orderBy("chunk_size", "overlap")
