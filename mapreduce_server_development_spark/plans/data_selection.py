"""Data-selection and embedding-compression queries (round 7, wave 3).

The two questions a training-data pipeline answers after cleaning and
dedup: WHICH raw documents to keep (importance resampling against a
target domain), and HOW to store/search the embedding column at 100 TB
(product quantization). Reference behavioral scope: the reference
engine (ChristineWmy/MapReduce-Server-Development) provides the
map/group/reduce substrate (``tests/testdata/exec/*``); these queries
are the additive analytics mandated by the build brief.

- ``q_dsir_weights`` — DSIR-style importance weights (Xie et al.,
  NeurIPS 2023, "Data Selection for Language Models via Importance
  Resampling"): hashed-bigram bag-of-words models of a target domain
  vs the raw pool; per-document weight = sum of per-feature
  log(p_target / p_raw).
- ``q_pq_ann`` — product-quantization ANN audit (Jegou et al. 2011):
  8 subspaces x 16 centroids (4-bit codes, 256 B -> 4 B per vector),
  asymmetric-distance (ADC) top-3 vs exact L2 top-3, with recall and
  top-1 distortion per query.

Float discipline (house rules): every log/distance cell is rounded to
a fixed number of decimals and fixed-pointed to an integer BEFORE any
distributed sum or rank (micro-nats for logs, e4 units for squared
distances), so both engines sum exact integers and rank
bit-identically with id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.similarity import _dot, lloyd_step, nearest
from ..functions.text import tokens_col, word_shingles
from ..session import materialize
from ..sources.tables import load_table
from .cell_common import (
    assign_cells,
    cell_assign,
    cell_assign_stages,
    cell_base,
    cell_ctes,
    rank_seed_centroids,
    seed_k,
)
from .registry import query
from .sampling import _bucket_sql, hash_bucket

# ---------------------------------------------------------------------------
# q_dsir_weights — hashed-bigram importance weights vs a target domain
# ---------------------------------------------------------------------------

#: Feature-hash width. DSIR's paper uses 10k buckets over unigrams+
#: bigrams; 256 keeps the oracle's bucket panel small while leaving
#: ~50 docs/bucket of signal at the fixture scale. The bucket panel is
#: O(width) regardless of corpus size.
_DSIR_BUCKETS = 256

#: Shared per-bucket log-ratio cell: Laplace(+1)-smoothed target and
#: raw bucket probabilities, ln of the ratio, micro-nat fixed point.
#: Every operand is CAST to DOUBLE before arithmetic — Spark parses a
#: bare `1.0` literal as DECIMAL and would run the division in decimal
#: arithmetic (silently losing the 6th significant digit before ln).
_DSIR_CELL = (
    "CAST(round(ln("
    " ((CAST(ct AS DOUBLE) + 1.0) / (CAST(tt AS DOUBLE) + {b}.0))"
    " / ((CAST(cr AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + {b}.0))"
    ") * 1000000) AS BIGINT)"
).format(b=_DSIR_BUCKETS)

_DSIR_FINAL = (
    "doc_id",
    "lang",
    "source",
    "CAST(n_bigrams AS BIGINT) AS n_bigrams",
    "CAST(weight AS BIGINT) AS weight_micro_nats",
    "round(CAST(weight AS DOUBLE) / n_bigrams / 1000000.0, 4) + 0.0"
    " AS avg_log_ratio",
)


#: Shared with the streaming twin (q_stream_dsir maintains the two
#: bucket models as streaming state and scores the same way, so the
#: twin's oracle is this text verbatim).
# The CTE chain through per_doc is shared by _DSIR_ORACLE and
# _ess_oracle (which extends it with ESS diagnostics) — a module
# constant, so neither oracle slices the other's finished SQL string.
_DSIR_CTES = f"""
    WITH toks AS (
        SELECT doc_id, lang, source,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS toks
        FROM documents
    ),
    bi AS (
        SELECT doc_id, lang, source,
               {_bucket_sql("dsir", "g", _DSIR_BUCKETS)} AS b
        FROM (
            SELECT doc_id, lang, source,
                   unnest(list_transform(
                       range(1, len(toks)),
                       i -> array_to_string(toks[i:i+1], ' '))) AS g
            FROM toks WHERE len(toks) >= 2
        )
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM bi GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
            FROM bi WHERE lang = 'en' GROUP BY b),
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS tr,
               CAST(COUNT(*) FILTER (WHERE lang = 'en') AS BIGINT) AS tt
        FROM bi
    ),
    cells AS (
        -- ct is NULL for buckets the target never emits
        SELECT b, {_DSIR_CELL} AS cell FROM (
            SELECT raw.b, raw.cr, COALESCE(tgt.ct, 0) AS ct, tot.tr, tot.tt
            FROM raw LEFT JOIN tgt ON tgt.b = raw.b CROSS JOIN tot
        )
    ),
    per_doc AS (
        SELECT bi.doc_id, bi.lang, bi.source,
               CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(c.cell) AS BIGINT) AS weight
        FROM bi JOIN cells c ON c.b = bi.b
        GROUP BY bi.doc_id, bi.lang, bi.source
    )"""

_DSIR_ORACLE = f"""{_DSIR_CTES}
    SELECT {", ".join(_DSIR_FINAL)}
    FROM per_doc
    ORDER BY weight DESC, doc_id
    LIMIT 20
    """


def _dsir_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, b): one row per bigram OCCURRENCE with
    its 256-way feature-hash bucket — the shared front half of the
    batch query and its streaming twin."""
    toks = docs.select(
        "doc_id",
        "lang",
        "source",
        tokens_col(F.lower(F.col("text"))).alias("toks"),
    )
    return (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "lang",
            "source",
            F.explode(word_shingles(F.col("toks"), 2)).alias("g"),
        )
        .select(
            "doc_id",
            "lang",
            "source",
            hash_bucket("dsir", F.col("g"), _DSIR_BUCKETS).alias("b"),
        )
    )


def _dsir_score(bi: DataFrame, raw: DataFrame, tgt: DataFrame,
                tot: DataFrame) -> DataFrame:
    """Back half shared with the streaming twin: build the broadcast
    log-ratio panel from the two bucket models and score each doc."""
    cells = (
        raw.join(tgt, "b", "left")
        .withColumn("ct", F.coalesce("ct", F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .selectExpr("b", f"{_DSIR_CELL} AS cell")
    )
    per_doc = (
        bi.join(F.broadcast(cells), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("cell").cast("long").alias("weight"),
        )
    )
    return (
        per_doc.selectExpr(*_DSIR_FINAL)
        .orderBy(F.col("weight_micro_nats").desc(), "doc_id")
        .limit(20)
    )




# ---------------------------------------------------------------------------
# q_importance_ess — effective-sample-size diagnostics for DSIR weights
# ---------------------------------------------------------------------------

_ESS_FINAL = (
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "round(CAST(s1 AS DOUBLE) * s1 / s2, 2) AS ess",
    "round(CAST(s1 AS DOUBLE) * s1 / s2 / n_docs, 6) AS ess_frac",
    "round(CAST(1000000000000 AS DOUBLE) / s1, 6) AS max_weight_share",
)


def _ess_oracle() -> str:
    # Compose the shared CTE chain (through per_doc) with the ESS
    # diagnostics CTEs.
    return f"""{_DSIR_CTES},
    mx AS (SELECT source, MAX(weight) AS mw FROM per_doc GROUP BY source),
    wq AS (
        SELECT p.source,
               CAST(round(exp((p.weight - m.mw) / 1000000.0)
                          * 1000000000000) AS HUGEINT) AS w
        FROM per_doc p JOIN mx m USING (source)
    ),
    panel AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               SUM(w) AS s1, SUM(w * w) AS s2
        FROM wq GROUP BY source
    )
    SELECT {", ".join(_ESS_FINAL)} FROM panel ORDER BY source
    """


@query("q_importance_ess", oracle=_ess_oracle())
def q_importance_ess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective-sample-size diagnostics for the DSIR importance
    weights (Kong 1992 ESS = (sum w)^2 / sum w^2), per source: the
    panel a data-mixing team reads before importance RESAMPLING —
    ESS near n means near-uniform weights (resampling changes
    little); ESS near 1 means one document dominates and the
    resampled mix collapses. Also reports the largest single
    document's weight share.

    Exactness: per-doc log-weights are the exact micro-nat integers
    of q_dsir_weights (shared pipeline); weights are exponentiated
    SHIFT-INVARIANTLY (w - max per source, so the largest weight is
    exactly 1.0) and e12-quantized BEFORE the exact integer sums, so
    ESS is a ratio of exact integers with one shared division text.

    Scale: the weight pipeline is q_dsir_weights' (256-bucket
    broadcast panel, doc-keyed aggregate); the diagnostics add one
    |sources|-row aggregate on top.
    """
    docs = load_table(spark, sf_dir, "documents")
    bi = _dsir_bigrams(docs)
    raw = bi.groupBy("b").agg(F.count("*").cast("long").alias("cr"))
    tgt = (
        bi.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    tot = bi.agg(
        F.count("*").cast("long").alias("tr"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("tt"),
    )
    cells = (
        raw.join(tgt, "b", "left")
        .withColumn("ct", F.coalesce("ct", F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .selectExpr("b", f"{_DSIR_CELL} AS cell")
    )
    per_doc = (
        bi.join(F.broadcast(cells), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum("cell").cast("long").alias("weight"))
    )
    mx = per_doc.groupBy("source").agg(F.max("weight").alias("mw"))
    wq = per_doc.join(F.broadcast(mx), "source").selectExpr(
        "source",
        "CAST(round(exp((weight - mw) / 1000000.0)"
        " * 1000000000000) AS DECIMAL(38,0)) AS w",
    )
    panel = wq.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("w").alias("s1"),
        F.sum(F.expr("w * w")).alias("s2"),
    )
    return panel.selectExpr(*_ESS_FINAL).orderBy("source")


@query("q_dsir_weights", oracle=_DSIR_ORACLE)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): model the target
    domain (here lang='en', standing in for the paper's
    Wikipedia+books target) and the raw pool as hashed-bigram
    bag-of-words distributions over 256 feature buckets
    (Laplace-smoothed); each document's weight is the sum over its
    bigram OCCURRENCES of log(p_target(bucket) / p_raw(bucket)).
    Top-20 by weight — the documents importance resampling would pull
    into the training mix first.

    Exactness: per-bucket log-ratios are micro-nat integers (one
    shared formula text), so per-doc weights are exact integer sums;
    ranking ties break on doc_id.

    Scale: the feature space is FIXED at 256 buckets regardless of
    corpus size (that is the point of the hashing trick), so both
    n-gram models are one map-side-combined aggregate into a
    256-row panel that broadcasts; the per-doc weight is one
    doc_id-keyed aggregate over a broadcast-joined scan — no vocab
    table, no shuffle wider than the doc panel, nothing all-pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    bi = _dsir_bigrams(docs)
    raw = bi.groupBy("b").agg(F.count("*").cast("long").alias("cr"))
    tgt = (
        bi.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count("*").cast("long").alias("ct"))
    )
    tot = bi.agg(
        F.count("*").cast("long").alias("tr"),
        F.count(F.when(F.col("lang") == "en", 1)).cast("long").alias("tt"),
    )
    return _dsir_score(bi, raw, tgt, tot)


# ---------------------------------------------------------------------------
# q_pq_ann — product-quantization ANN audit (Jegou et al. 2011)
# ---------------------------------------------------------------------------

#: 64 dims -> 8 subspaces x 8 dims, 16 centroids per subspace: 4-bit
#: codes, 4 bytes per vector vs 256 raw (64x compression). Codebook
#: seeds are the subvectors of the 16 lowest vec_ids (ids are dense in
#: the fixtures — the q_knn_graph convention; a real deployment swaps
#: in q_ivf_kmeans_ann's trained quantizer).
_PQ_M = 8
_PQ_SUBDIM = 8
_PQ_KS = 16
#: IVF-PQ codebook size: 256 centroids per subspace (8-bit codes, the
#: FAISS IVF-PQ default) over RESIDUAL subvectors — tight clusters need
#: both the residual re-centering and the full 8-bit codebook to
#: separate near-equidistant cellmates (BENCH_AB ann_clustered_recall).
_IVFPQ_KS = 256


def _pqtrain_sql() -> str:
    """DuckDB text of the IVF-PQ Lloyd-training sample bucket (~25%
    of vids when compared < 250), over the ``sub`` alias ``s``."""
    from .sampling import _bucket_sql

    return _bucket_sql("pqtrain", "s.vid")

_PQ_FINAL = (
    "qid",
    "CAST(overlap_at3 AS BIGINT) AS overlap_at3",
    "CAST(exact_top1 AS BIGINT) AS exact_top1_d2_e4",
    "CAST(adc_top1_true AS BIGINT) AS adc_top1_d2_e4",
    "round(CAST(adc_top1_true AS DOUBLE)"
    " / NULLIF(CAST(exact_top1 AS DOUBLE), 0.0), 4) + 0.0"
    " AS top1_distortion",
)


@query(
    "q_pq_ann",
    oracle=f"""
    WITH v AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
    sub AS (
        SELECT vid, m,
               vv[m * {_PQ_SUBDIM} + 1 : m * {_PQ_SUBDIM} + {_PQ_SUBDIM}]
                   AS sv
        FROM v CROSS JOIN ms
    ),
    seedids AS (SELECT vid FROM v ORDER BY vid LIMIT {_PQ_KS}),
    cent AS (
        SELECT s.vid AS cid, s.m, s.sv AS cv
        FROM sub s JOIN seedids d ON d.vid = s.vid
    ),
    enc AS (
        SELECT vid, m, cid FROM (
            SELECT s.vid, s.m, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vid, s.m
                       ORDER BY CAST(round((
                           list_dot_product(s.sv, s.sv)
                           + list_dot_product(c.cv, c.cv)
                           - 2 * list_dot_product(s.sv, c.cv)) * 10000)
                           AS BIGINT), c.cid) AS rn
            FROM sub s JOIN cent c ON c.m = s.m
        ) WHERE rn = 1
    ),
    q AS (SELECT vid AS qid, vv AS qv FROM v
          WHERE vid % 97 = 3 AND vid < 1000),
    qsub AS (
        SELECT qid, m,
               qv[m * {_PQ_SUBDIM} + 1 : m * {_PQ_SUBDIM} + {_PQ_SUBDIM}]
                   AS qs
        FROM q CROSS JOIN ms
    ),
    lut AS (
        SELECT s.qid, s.m, c.cid,
               CAST(round((list_dot_product(s.qs, s.qs)
                           + list_dot_product(c.cv, c.cv)
                           - 2 * list_dot_product(s.qs, c.cv)) * 10000)
                   AS BIGINT) AS d2c
        FROM qsub s JOIN cent c ON c.m = s.m
    ),
    adc AS (
        SELECT l.qid, e.vid, CAST(SUM(l.d2c) AS BIGINT) AS adc_d2
        FROM enc e JOIN lut l ON l.m = e.m AND l.cid = e.cid
        WHERE e.vid <> l.qid
        GROUP BY l.qid, e.vid
    ),
    exact AS (
        SELECT q.qid, v.vid,
               CAST(round((list_dot_product(q.qv, q.qv)
                           + list_dot_product(v.vv, v.vv)
                           - 2 * list_dot_product(q.qv, v.vv)) * 10000)
                   AS BIGINT) AS d2
        FROM q JOIN v ON v.vid <> q.qid
    ),
    et AS (SELECT qid, vid, d2,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vid)
                      AS rn
           FROM exact),
    at AS (SELECT qid, vid,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, vid)
                      AS rn
           FROM adc),
    ov AS (
        SELECT e.qid, CAST(COUNT(*) AS BIGINT) AS overlap
        FROM et e JOIN at a ON a.qid = e.qid AND a.vid = e.vid
              AND a.rn <= 3
        WHERE e.rn <= 3
        GROUP BY e.qid
    ),
    e1 AS (SELECT qid, d2 AS exact_top1 FROM et WHERE rn = 1),
    a1 AS (
        SELECT a.qid, x.d2 AS adc_top1_true
        FROM at a JOIN exact x ON x.qid = a.qid AND x.vid = a.vid
        WHERE a.rn = 1
    ),
    res AS (
        SELECT q.qid, COALESCE(ov.overlap, 0) AS overlap_at3,
               e1.exact_top1, a1.adc_top1_true
        FROM q
        JOIN e1 ON e1.qid = q.qid
        JOIN a1 ON a1.qid = q.qid
        LEFT JOIN ov ON ov.qid = q.qid
    )
    SELECT {", ".join(_PQ_FINAL)} FROM res ORDER BY qid
    """,
)
def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN audit (Jegou, Douze, Schmid 2011):
    split each 64-dim embedding into 8 subvectors, quantize each
    against a 16-centroid subspace codebook (4-bit codes — 4 bytes per
    vector instead of 256, the 64x compression that makes a 100 TB
    embedding column searchable in memory), then answer top-3 nearest
    neighbors for the deterministic BOUNDED query panel
    (vid % 97 = 3 and vid < 1000 — at most 11 queries at any corpus
    size; an unbounded panel made the recall audit O(n^2/97), measured
    21x wall-clock at 10x vectors before the cap) by
    asymmetric distance (ADC: query-to-centroid lookup tables) and
    score against the exact squared-L2 top-3: overlap@3 and the true
    distance of the ADC-chosen top-1 vs the exact top-1 (distortion).

    Exactness: every squared distance is e4-fixed-pointed BEFORE
    ranking (d2 = <a,a> + <b,b> - 2<a,b>, all three dots left-fold
    deterministic); ADC totals are exact integer sums of the 8 LUT
    cells; all ranks tie-break on vid.

    Scale: the codebook is M x ks x subdim doubles (8x16x8 = 1 Ki
    values) — broadcast, like the LUT (|queries| x 128 rows). Encoding
    is a per-(vector, subspace) window over 16 candidates — one
    high-cardinality-keyed shuffle, linear in the corpus; ADC scoring
    is a broadcast-LUT hash join + one (qid, vid)-keyed partial-agg
    sum, never a vector-by-vector distance over raw floats. The exact
    tier (bounded |queries| broadcast nested-loop, the cosine_topk
    sanction) exists only to MEASURE recall — production serves from
    codes alone.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = emb.select(
        F.col("vec_id").alias("vid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "vv"
        ),
    )
    ms = spark.range(_PQ_M).select(F.col("id").cast("long").alias("m"))
    sub = v.crossJoin(F.broadcast(ms)).select(
        "vid",
        "m",
        F.slice(
            F.col("vv"), F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM
        ).alias("sv"),
    )
    # Codebook seeds are the _PQ_KS lowest vec_ids by RANK (distributed
    # top-k), not an id threshold — robust to sparse/offset id spaces
    # (the cell_common seed convention).
    seed_ids = v.orderBy("vid").limit(_PQ_KS).select("vid")
    cent = sub.join(F.broadcast(seed_ids), "vid").select(
        F.col("vid").alias("cid"), "m", F.col("sv").alias("cv")
    )

    def d2_e4(a: str, b: str):
        return (
            F.round(
                (
                    _dot(F.col(a), F.col(a))
                    + _dot(F.col(b), F.col(b))
                    - 2 * _dot(F.col(a), F.col(b))
                )
                * 10000
            ).cast("long")
        )

    enc = nearest(sub, cent, -d2_e4("sv", "cv"), key=("m",)).select(
        "vid", "m", "cid"
    )
    q = v.filter((F.col("vid") % 97 == 3) & (F.col("vid") < 1000)).select(
        F.col("vid").alias("qid"), F.col("vv").alias("qv")
    )
    qsub = q.crossJoin(F.broadcast(ms)).select(
        "qid",
        "m",
        F.slice(
            F.col("qv"), F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM
        ).alias("qs"),
    )
    lut = (
        qsub.join(F.broadcast(cent), "m")
        .withColumn("d2c", d2_e4("qs", "cv"))
        .select("qid", "m", "cid", "d2c")
    )
    adc = (
        enc.join(F.broadcast(lut), ["m", "cid"])
        .filter(F.col("vid") != F.col("qid"))
        .groupBy("qid", "vid")
        .agg(F.sum("d2c").cast("long").alias("adc_d2"))
    )
    exact = (
        v.join(F.broadcast(q), F.col("vid") != F.col("qid"))
        .withColumn("d2", d2_e4("qv", "vv"))
        .select("qid", "vid", "d2")
    )
    et = exact.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("qid").orderBy("d2", "vid")),
    )
    at = adc.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("qid").orderBy("adc_d2", "vid")
        ),
    )
    ov = (
        et.filter("rn <= 3")
        .join(
            at.filter("rn <= 3").select("qid", "vid"), ["qid", "vid"]
        )
        .groupBy("qid")
        .agg(F.count("*").cast("long").alias("overlap"))
    )
    e1 = et.filter("rn = 1").select("qid", F.col("d2").alias("exact_top1"))
    a1 = (
        at.filter("rn = 1")
        .select("qid", "vid")
        .join(exact, ["qid", "vid"])
        .select("qid", F.col("d2").alias("adc_top1_true"))
    )
    res = (
        q.select("qid")
        .join(e1, "qid")
        .join(a1, "qid")
        .join(ov, "qid", "left")
        .withColumn("overlap_at3", F.coalesce("overlap", F.lit(0)))
    )
    return res.selectExpr(*_PQ_FINAL).orderBy("qid")


# ---------------------------------------------------------------------------
# q_hard_negatives — contrastive hard-negative margin audit
# ---------------------------------------------------------------------------

_HN_FINAL = (
    "label",
    "CAST(n_anchors AS BIGINT) AS n_anchors",
    "round(CAST(sum_margin AS DOUBLE) / n_anchors / 10000.0, 4) + 0.0"
    " AS mean_margin",
    "CAST(min_margin AS BIGINT) AS min_margin_e4",
    "round(CAST(n_confusable AS DOUBLE) / n_anchors, 4) + 0.0"
    " AS confusable_pct",
)

#: Shared cell-assignment CTE text (the q_knn_graph convention): rank
#: seeds, hot-cell split — see plans/cell_common.py for the scale
#: argument. ``assign`` carries (vid, label, cid, sub, vv, nrm, ccos).
_CELL_CTES = cell_ctes(extra=(("label", "label"),))


@query(
    "q_hard_negatives",
    oracle=f"""
    WITH {_CELL_CTES},
    pairs AS (
        SELECT a.vid, a.label,
               b.label = a.label AS same,
               CAST(round(list_dot_product(a.vv, b.vv)
                          / (a.nrm * b.nrm) * 10000) AS BIGINT) AS cos_e4,
               b.vid AS bvid
        FROM assign a JOIN assign b
          ON a.cid = b.cid AND a.sub = b.sub AND a.vid <> b.vid
    ),
    best AS (
        SELECT vid, label,
               MAX(CASE WHEN same THEN cos_e4 END) AS pos_e4,
               MAX(CASE WHEN NOT same THEN cos_e4 END) AS neg_e4
        FROM pairs GROUP BY vid, label
    ),
    m AS (
        SELECT vid, label, pos_e4 - neg_e4 AS margin
        FROM best WHERE pos_e4 IS NOT NULL AND neg_e4 IS NOT NULL
    ),
    agg AS (
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_anchors,
               CAST(SUM(margin) AS BIGINT) AS sum_margin,
               CAST(MIN(margin) AS BIGINT) AS min_margin,
               CAST(SUM(CASE WHEN margin < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_confusable
        FROM m GROUP BY label
    )
    SELECT {", ".join(_HN_FINAL)} FROM agg ORDER BY label
    """,
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining audit for contrastive training: for each
    anchor vector, the hardest in-cell negative (max cosine to a
    DIFFERENT label) against the nearest in-cell positive (max cosine
    to the SAME label); per label, the mean/min margin and the
    CONFUSABLE share — anchors whose hardest negative is closer than
    their nearest positive, the pairs a contrastive fine-tune must
    separate first (and the negatives a hard-negative miner would
    emit).

    Exactness: cosines are e4-fixed-pointed before the per-anchor MAX,
    margins are integer differences, and cell assignment follows the
    shared 4-decimal/cid-tie-break text — both engines agree
    bit-for-bit.

    Scale: candidate generation is the (cid, sub)-keyed equi-join —
    rank seeds + hot-cell split per plans/cell_common.py, so the pair
    volume is bounded at 4 * sqrt(n) * n for ANY cell-population skew,
    never all-pairs; per-anchor reduction is a (vid)-keyed MAX
    aggregate (map-side combined), and the label panel is bounded by
    the label domain. Anchors whose cell (or, in a hot cell, whose
    shard) lacks a positive or a negative are excluded (documented
    recall cap of nprobe=1 + the shard boundary; q_cosine_topk is the
    exact escape hatch).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assign = cell_assign(emb, extra=("label",))
    a = assign.select(
        "cid", "sub", "vid", "label",
        F.col("vv").alias("va"), F.col("nrm").alias("na"),
    )
    b = assign.select(
        "cid",
        "sub",
        F.col("vid").alias("bvid"),
        F.col("label").alias("blabel"),
        F.col("vv").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    pdot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(b, ["cid", "sub"])
        .filter(F.col("vid") != F.col("bvid"))
        .select(
            "vid",
            "label",
            (F.col("blabel") == F.col("label")).alias("same"),
            F.round(pdot / (F.col("na") * F.col("nb")) * 10000)
            .cast("long")
            .alias("cos_e4"),
        )
    )
    best = pairs.groupBy("vid", "label").agg(
        F.max(F.when(F.col("same"), F.col("cos_e4"))).alias("pos_e4"),
        F.max(F.when(~F.col("same"), F.col("cos_e4"))).alias("neg_e4"),
    )
    m = best.filter(
        F.col("pos_e4").isNotNull() & F.col("neg_e4").isNotNull()
    ).select("label", (F.col("pos_e4") - F.col("neg_e4")).alias("margin"))
    agg = m.groupBy("label").agg(
        F.count("*").cast("long").alias("n_anchors"),
        F.sum("margin").cast("long").alias("sum_margin"),
        F.min("margin").cast("long").alias("min_margin"),
        F.sum(F.when(F.col("margin") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_confusable"),
    )
    return agg.selectExpr(*_HN_FINAL).orderBy("label")


#: Compute-form A/B at 100x vectors (200k), recorded here so the HOF
#: fold is never "optimized" blindly: the cell family's cost is the
#: O(n x sqrt(n)) cosine evaluation itself. (a) argmax via window ->
#: max_by aggregate: 626s vs 630s (kept: removes the n x sqrt(n)
#: wide-row shuffle for free); (b) unrolling the 64-term dot into a
#: getItem chain for whole-stage codegen: 1091s — 1.7x WORSE (the
#: ~1.5 MiB expression tree blows past JIT method limits and falls
#: back to interpreted eval per TERM). The zip_with/aggregate fold is
#: the measured optimum of the bit-exact forms; a production
#: deployment that relaxes engine-replayable exactness uses the
#: batched-gemm quantizer (q_ivf_kmeans_ann) instead.


# ---------------------------------------------------------------------------
# q_semantic_decontaminate — embedding-level train/test contamination
# ---------------------------------------------------------------------------

#: Contamination gate in e4 cosine units. The fixture embeddings carry
#: no true near-dups (max pairwise cosine ~0.51), so the gate is set
#: at 0.45 to exercise the flag path; a production decontamination run
#: against real encoders uses 0.95+ (and the exact q_cosine_topk tier
#: when a missed duplicate is unacceptable).
_DECON_TAU_E4 = 4500

#: 0.05-wide cosine bins (500 e4 units); floor() is engine-identical
#: on doubles, including the negative-cosine bins.
_DECON_FINAL = (
    "CAST(bin_lo_e4 AS BIGINT) AS bin_lo_e4",
    "CAST(n_test AS BIGINT) AS n_test",
    f"bin_lo_e4 >= {_DECON_TAU_E4} AS contaminated",
)


@query(
    "q_semantic_decontaminate",
    oracle=f"""
    WITH {cell_ctes(
        extra=(("is_test", _bucket_sql("decon", "vec_id", 10) + " >= 9"),),
        seed_pred="NOT is_test",
    )},
    top1 AS (
        SELECT t.vid,
               MAX(CAST(round(list_dot_product(t.vv, r.vv)
                              / (t.nrm * r.nrm) * 10000) AS BIGINT))
                   AS cos_e4
        FROM assign t JOIN assign r
          ON r.cid = t.cid AND r.sub = t.sub AND NOT r.is_test
        WHERE t.is_test
        GROUP BY t.vid
    ),
    bins AS (
        SELECT CAST(floor(CAST(cos_e4 AS DOUBLE) / 500.0) AS BIGINT) * 500
                   AS bin_lo_e4,
               CAST(COUNT(*) AS BIGINT) AS n_test
        FROM top1 GROUP BY 1
    )
    SELECT {", ".join(_DECON_FINAL)} FROM bins ORDER BY bin_lo_e4
    """,
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level train/test decontamination audit: hash-split
    the vector corpus 90/10, index the TRAIN split into sqrt(n_train)
    IVF cells (train-seeded centroids), and for every TEST vector take
    its top-1 train cosine inside its cell; output the 0.05-wide
    histogram of those top-1 cosines with the contamination gate
    (cos >= 0.45 here; 0.95+ against a real encoder) marked per bin —
    the semantic complement of the n-gram q_decontaminate.

    Every cell contains at least one train vector (its seed centroid
    assigns to itself at cosine 1.0), so on balanced data no test
    vector goes unmatched; inside a HOT cell the (cid, sub) shard
    boundary (plans/cell_common.py) can additionally leave a test
    vector without a train row in its shard — it drops from the
    histogram, the same documented recall trade as every other cap.
    The nprobe=1 search is the broader recall boundary; q_cosine_topk
    is the exact escape hatch.

    Exactness: assignment uses the shared 4-decimal/cid-tie-break
    text; top-1 cosines are e4 integers under MAX; the bin edge is a
    floor() over doubles derived from exact integers — engine-
    identical including negative-cosine bins.

    Scale: the only pair generator is the (cid, sub)-keyed test x
    train equi-join (pair volume bounded at 4 * sqrt(n) * n under any
    skew); the histogram is a bounded ~40-row panel. Centroids
    broadcast; nothing is all-pairs.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assign = cell_assign(
        emb,
        extra=(
            (
                "is_train",
                hash_bucket("decon", F.col("vec_id"), 10) < 9,
            ),
        ),
        seed_col="is_train",
    )
    t = assign.filter(~F.col("is_train")).select(
        "cid", "sub", "vid", F.col("vv").alias("tv"), F.col("nrm").alias("tn")
    )
    r = assign.filter(F.col("is_train")).select(
        "cid", "sub", F.col("vv").alias("rv"), F.col("nrm").alias("rn_")
    )
    tdot = F.aggregate(
        F.zip_with(F.col("tv"), F.col("rv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    top1 = (
        t.join(r, ["cid", "sub"])
        .select(
            "vid",
            F.round(tdot / (F.col("tn") * F.col("rn_")) * 10000)
            .cast("long")
            .alias("cos_e4"),
        )
        .groupBy("vid")
        .agg(F.max("cos_e4").alias("cos_e4"))
    )
    bins = (
        top1.select(
            (
                F.floor(F.col("cos_e4").cast("double") / 500.0).cast("long")
                * 500
            ).alias("bin_lo_e4")
        )
        .groupBy("bin_lo_e4")
        .agg(F.count("*").cast("long").alias("n_test"))
    )
    return bins.selectExpr(*_DECON_FINAL).orderBy("bin_lo_e4")


# ---------------------------------------------------------------------------
# q_cluster_balanced_sample — diversity-preserving embedding sampling
# ---------------------------------------------------------------------------

#: Sample budget as a share of the corpus (40%), split into EQUAL
#: per-cell quotas — the diversity-preserving coreset policy: dense
#: regions are downsampled hard, sparse regions survive intact.
_CBS_BUDGET_PCT = 0.4

_CBS_FINAL = (
    "CAST(cid AS BIGINT) AS cid",
    "CAST(n_in_cell AS BIGINT) AS n_in_cell",
    "CAST(quota AS BIGINT) AS quota",
    "CAST(n_taken AS BIGINT) AS n_taken",
    "round(CAST(n_in_cell AS DOUBLE) / n, 4) + 0.0 AS share_before",
    "round(CAST(n_taken AS DOUBLE) / taken_total, 4) + 0.0 AS share_after",
)


@query(
    "q_cluster_balanced_sample",
    oracle=f"""
    WITH {_CELL_CTES},
    tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(DISTINCT cid) AS BIGINT) AS ncells
        FROM assign
    ),
    q AS (
        SELECT n, ncells,
               CAST(ceil({_CBS_BUDGET_PCT} * n) AS BIGINT) AS budget,
               CAST(ceil(CAST(ceil({_CBS_BUDGET_PCT} * n) AS DOUBLE)
                         / ncells) AS BIGINT) AS quota
        FROM tot
    ),
    ranked AS (
        SELECT vid, cid,
               ROW_NUMBER() OVER (
                   PARTITION BY cid
                   ORDER BY md5('cbs:' || CAST(vid AS VARCHAR)), vid)
                   AS rn
        FROM assign
    ),
    percell AS (
        SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_in_cell,
               CAST(SUM(CASE WHEN rn <= q.quota THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_taken
        FROM ranked CROSS JOIN q GROUP BY cid
    ),
    taken AS (SELECT CAST(SUM(n_taken) AS BIGINT) AS taken_total
              FROM percell)
    SELECT {", ".join(_CBS_FINAL)}
    FROM percell CROSS JOIN q CROSS JOIN taken
    ORDER BY cid
    """,
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced (diversity-preserving) sampling of the
    embedding corpus: assign every vector to its sqrt(n) IVF cell,
    split a 40% budget into EQUAL per-cell quotas, and take each
    cell's quota deterministically by md5 rank — the coreset policy
    that downsamples dense semantic regions hard while keeping sparse
    regions intact (the diversity complement of q_stratified_sample's
    metadata strata). Output is the per-cell ledger: population,
    quota, taken, and each cell's corpus share before vs after — the
    flattening a curator inspects before committing the sample.

    Exactness: ranks order by md5 hex text (ASCII-lexicographic in
    both engines) with vid tie-break; everything else is integer
    counting and two shared division texts.

    Scale: assignment is the broadcast-centroid scan (O(n * sqrt(n))
    work, no pair blowup); the per-cell rank is a window keyed by the
    sqrt(n)-cardinality cell id — partitions hold ~sqrt(n) rows each,
    so no single task ever sees more than a cell; the ledgers are
    sqrt(n)-row panels.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assign = cell_assign(emb, extra=()).select("vid", "cid")
    tot = assign.agg(
        F.count("*").cast("long").alias("n"),
        F.countDistinct("cid").cast("long").alias("ncells"),
    )
    q = tot.select(
        "n",
        "ncells",
        F.ceil(_CBS_BUDGET_PCT * F.col("n")).cast("long").alias("budget"),
    ).withColumn(
        "quota",
        F.ceil(F.col("budget").cast("double") / F.col("ncells")).cast(
            "long"
        ),
    )
    ranked = assign.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("cid").orderBy(
                F.md5(F.concat(F.lit("cbs:"), F.col("vid").cast("string"))),
                "vid",
            )
        ),
    )
    percell = (
        ranked.crossJoin(F.broadcast(q))
        .groupBy("cid")
        .agg(
            F.count("*").cast("long").alias("n_in_cell"),
            F.sum(
                F.when(F.col("rn") <= F.col("quota"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_taken"),
        )
    )
    taken = percell.agg(
        F.sum("n_taken").cast("long").alias("taken_total")
    )
    return (
        percell.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(taken))
        .selectExpr(*_CBS_FINAL)
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# q_perplexity_filter — CCNet head/middle/tail perplexity bucketing
# ---------------------------------------------------------------------------

#: Shared token log-prob cell (Laplace +1 over the train split) and
#: its unknown-token floor, micro-nats. Operands are CAST to DOUBLE
#: first (see _DSIR_CELL: Spark parses bare decimal literals as
#: DECIMAL and degrades the division before ln).
_PPL_LP = (
    "CAST(round(ln((CAST(c AS DOUBLE) + 1.0)"
    " / (CAST(tot AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000) AS BIGINT)"
)
_PPL_UNK = (
    "CAST(round(ln(1.0"
    " / (CAST(tot AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000) AS BIGINT)"
)

_PPL_FINAL = (
    "lang",
    "bucket",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_tokens AS BIGINT) AS n_tokens",
    "round(CAST(sum_nll AS DOUBLE) / n_tokens / 1000000.0, 4) + 0.0"
    " AS mean_nll_per_token",
)


@query(
    "q_perplexity_filter",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               {_bucket_sql("ppl", "doc_id", 10)} < 8 AS is_train,
               unnest(list_filter(string_split(lower(text), ' '),
                      t -> t <> '')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE is_train GROUP BY tok
    ),
    stats AS (
        SELECT CAST(SUM(c) AS BIGINT) AS tot,
               CAST(COUNT(*) AS BIGINT) AS v
        FROM counts
    ),
    lp AS (SELECT tok, {_PPL_LP} AS lp FROM counts CROSS JOIN stats),
    unk AS (SELECT {_PPL_UNK} AS unk_lp FROM stats),
    per_doc AS (
        SELECT t.doc_id, t.lang,
               CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(SUM(-COALESCE(lp.lp, unk.unk_lp)) AS BIGINT)
                   AS doc_nll
        FROM toks t LEFT JOIN lp ON lp.tok = t.tok CROSS JOIN unk
        GROUP BY t.doc_id, t.lang
    ),
    keyed AS (
        SELECT doc_id, lang, n_toks, doc_nll,
               CAST(round(CAST(doc_nll AS DOUBLE) / n_toks) AS BIGINT)
                   AS nll_key
        FROM per_doc
    ),
    ranked AS (
        SELECT doc_id, lang, n_toks, doc_nll,
               ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY nll_key, doc_id) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n_l
        FROM keyed
    ),
    bucketed AS (
        SELECT lang,
               CASE WHEN 3 * rk <= n_l THEN 'head'
                    WHEN 3 * rk <= 2 * n_l THEN 'middle'
                    ELSE 'tail' END AS bucket,
               n_toks, doc_nll
        FROM ranked
    ),
    agg AS (
        SELECT lang, bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
               CAST(SUM(doc_nll) AS BIGINT) AS sum_nll
        FROM bucketed GROUP BY lang, bucket
    )
    SELECT {", ".join(_PPL_FINAL)} FROM agg ORDER BY lang, bucket
    """,
)
def q_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): train a
    Laplace-smoothed unigram LM on the 80% hash split, score every
    document's mean negative log-likelihood per token (unknown tokens
    get the smoothing floor), and split each language into
    head / middle / tail perplexity terciles — CCNet's exact keep
    policy (head+middle train, tail is discarded or down-weighted).
    Output is the per-(lang, bucket) ledger: docs, tokens, and the
    token-weighted mean NLL.

    Exactness: token log-probs are micro-nat integers (shared text
    with the explicit DOUBLE casts), doc NLLs are exact integer sums,
    the tercile rank key is an integer micro-nat mean with doc_id
    tie-break, and the tercile edges are pure integer arithmetic
    (3*rk <= n_l) — no percentile buffering anywhere.

    Scale: the LM is one token-keyed aggregate (vocab-scale, shuffled
    not broadcast — the q_naive_bayes discipline); scoring is a
    token-keyed join; per-lang tercile ranks ride the two-phase
    global row_number over the (lang, key, doc_id) total order with
    broadcast per-lang MIN offsets (the q_stratified_sample re-plan),
    so a corpus-scale language never funnels through one task.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        (hash_bucket("ppl", F.col("doc_id"), 10) < 8).alias("is_train"),
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
    )
    counts = (
        toks.filter("is_train")
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    stats = counts.agg(
        F.sum("c").cast("long").alias("tot"),
        F.count("*").cast("long").alias("v"),
    )
    lp = counts.crossJoin(F.broadcast(stats)).selectExpr(
        "tok", f"{_PPL_LP} AS lp"
    )
    unk = stats.selectExpr(f"{_PPL_UNK} AS unk_lp")
    per_doc = (
        toks.join(lp, "tok", "left")
        .crossJoin(F.broadcast(unk))
        .groupBy("doc_id", "lang")
        .agg(
            F.count("*").cast("long").alias("n_toks"),
            F.sum(-F.coalesce("lp", "unk_lp")).cast("long").alias("doc_nll"),
        )
    )
    keyed = per_doc.withColumn(
        "nll_key",
        F.round(F.col("doc_nll").cast("double") / F.col("n_toks")).cast(
            "long"
        ),
    )
    g = global_row_number(keyed, ["lang", "nll_key", "doc_id"], "grn")
    offs = g.groupBy("lang").agg(
        F.min("grn").alias("t0"),
        F.count("*").cast("long").alias("n_l"),
    )
    bucketed = (
        g.join(F.broadcast(offs), "lang")
        .withColumn("rk", F.col("grn") - F.col("t0") + 1)
        .select(
            "lang",
            F.when(3 * F.col("rk") <= F.col("n_l"), "head")
            .when(3 * F.col("rk") <= 2 * F.col("n_l"), "middle")
            .otherwise("tail")
            .alias("bucket"),
            "n_toks",
            "doc_nll",
        )
    )
    agg = bucketed.groupBy("lang", "bucket").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.sum("doc_nll").cast("long").alias("sum_nll"),
    )
    return agg.selectExpr(*_PPL_FINAL).orderBy("lang", "bucket")


# ---------------------------------------------------------------------------
# q_epoch_plan — data-constrained epoch planning (Muennighoff et al. 2023)
# ---------------------------------------------------------------------------

#: Fitted repeated-data decay constant R_D* from "Scaling
#: Data-Constrained Language Models" (Muennighoff et al. 2023): the
#: value of the k-th repetition decays as exp(-R / R_D*); ~4 epochs
#: are near-fresh, beyond that returns diminish fast.
_EPOCH_RSTAR = 15.39

#: Token budget as a multiple of the corpus (3 epochs' worth spread
#: uniformly across sources — small sources must repeat more).
_EPOCH_BUDGET_X = 3

#: Shared effective-token text: U * (1 + R_D*(1 - exp(-R/R_D*))),
#: DOUBLE casts first (see _DSIR_CELL).
_EPOCH_EFF = (
    "CAST(round(CAST(u AS DOUBLE) * (1.0 + {r} * (1.0 - exp("
    "-CAST(epochs - 1 AS DOUBLE) / {r})))) AS BIGINT)"
).format(r=_EPOCH_RSTAR)

_EPOCH_FINAL = (
    "source",
    "CAST(u AS BIGINT) AS unique_tokens",
    "CAST(target AS BIGINT) AS target_tokens",
    "CAST(epochs AS BIGINT) AS epochs",
    "CAST(effective AS BIGINT) AS effective_tokens",
    "round(CAST(effective AS DOUBLE) / target, 4) + 0.0 AS utilization",
    "epochs > 4 AS repeat_risk",
)


@query(
    "q_epoch_plan",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               CAST(len(list_filter(string_split(lower(text), ' '),
                        t -> t <> '')) AS BIGINT) AS n
        FROM documents
    ),
    per_src AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS u
        FROM toks GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(u) AS BIGINT) AS corpus,
               CAST(COUNT(*) AS BIGINT) AS n_src
        FROM per_src
    ),
    plan0 AS (
        SELECT source, u,
               CAST(floor(CAST({_EPOCH_BUDGET_X} * corpus AS DOUBLE)
                          / n_src) AS BIGINT) AS target
        FROM per_src CROSS JOIN tot
    ),
    plan1 AS (
        SELECT source, u, target,
               CAST(ceil(CAST(target AS DOUBLE) / NULLIF(u, 0))
                    AS BIGINT) AS epochs
        FROM plan0
    ),
    plan2 AS (
        SELECT source, u, target, epochs, {_EPOCH_EFF} AS effective
        FROM plan1
    )
    SELECT {", ".join(_EPOCH_FINAL)} FROM plan2 ORDER BY source
    """,
)
def q_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planner (Muennighoff et al. 2023,
    "Scaling Data-Constrained Language Models"): give every source an
    equal slice of a 3x-corpus token budget; sources smaller than
    their slice must repeat, and repeated tokens decay in value as
    exp(-R / R_D*) with the paper's fitted R_D* = 15.39. Reports, per
    source: unique tokens, target tokens, epochs needed, EFFECTIVE
    tokens after decay, utilization, and the >4-epoch repeat-risk
    flag the paper's "repeat up to ~4 epochs" rule draws.

    Exactness: token counts are exact integers from one scan; the
    three float steps (floor-share, ceil-epochs, the decay) are
    single shared texts over DOUBLE-cast integers, each rounded back
    to BIGINT immediately.

    Scale: one map-side-combined per-source token aggregate; the plan
    itself is arithmetic over the bounded source panel (|sources|
    rows, broadcast totals). Nothing else scales with the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_src = (
        docs.select(
            "source",
            F.size(tokens_col(F.lower(F.col("text"))))
            .cast("long")
            .alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("u"))
    )
    tot = per_src.agg(
        F.sum("u").cast("long").alias("corpus"),
        F.count("*").cast("long").alias("n_src"),
    )
    plan = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn(
            "target",
            F.floor(
                (_EPOCH_BUDGET_X * F.col("corpus")).cast("double")
                / F.col("n_src")
            ).cast("long"),
        )
        .withColumn(
            "epochs",
            F.ceil(
                F.col("target").cast("double")
                / F.nullif(F.col("u"), F.lit(0))
            ).cast("long"),
        )
        .selectExpr(
            "source", "u", "target", "epochs", f"{_EPOCH_EFF} AS effective"
        )
    )
    return plan.selectExpr(*_EPOCH_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# q_toxicity_lexicon — wordlist-based safety filter stage
# ---------------------------------------------------------------------------

#: Placeholder blocklist over the fixture vocabulary ('slow'/'big'
#: stand in for a curated unsafe-term list; 'leak' exercises the
#: absent-term path). A real deployment loads the curated list the
#: same way — a bounded broadcast relation.
_TOX_TERMS = ("slow", "big", "leak")

_TOX_FINAL = (
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_flagged AS BIGINT) AS n_flagged",
    "CAST(n_hits AS BIGINT) AS n_hits",
    "CAST(n_tokens AS BIGINT) AS n_tokens",
    "round(CAST(n_hits AS DOUBLE) * 1000.0 / n_tokens, 4) + 0.0"
    " AS hits_per_1k_tokens",
    "round(CAST(n_flagged AS DOUBLE) / n_docs, 4) + 0.0 AS flagged_pct",
)


@query(
    "q_toxicity_lexicon",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(list_filter(string_split(lower(text), ' '),
                      t -> t <> '')) AS tok
        FROM documents
    ),
    lex AS (SELECT unnest(ARRAY{list(_TOX_TERMS)!r}) AS term),
    hits AS (
        SELECT t.doc_id, t.source, CAST(COUNT(l.term) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM toks t LEFT JOIN lex l ON l.term = t.tok
        GROUP BY t.doc_id, t.source
    ),
    agg AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN h > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_flagged,
               CAST(SUM(h) AS BIGINT) AS n_hits,
               CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM hits GROUP BY source
    )
    SELECT {", ".join(_TOX_FINAL)} FROM agg ORDER BY source
    """,
)
def q_toxicity_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wordlist (lexicon) safety-filter stage: per source, how many
    documents contain at least one blocklisted term, the raw hit
    count, and the hit density per 1k tokens — the cheap first-tier
    toxicity screen every corpus pipeline runs before any model-based
    scorer (the placeholder 3-term list stands in for a curated
    blocklist; absent terms exercise the no-hit path).

    Scale: the lexicon is a bounded broadcast joined against the token
    scan (hash semi-count, zero extra shuffles); per-doc then
    per-source aggregates are key-partitioned with map-side combine.
    Everything after is a |sources|-row panel. Integer counting
    throughout; the two densities are shared division texts.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
    )
    lex = spark.createDataFrame(
        [(t,) for t in _TOX_TERMS], "term string"
    )
    hits = (
        toks.join(F.broadcast(lex), toks.tok == F.col("term"), "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("term").cast("long").alias("h"),
            F.count("*").cast("long").alias("n"),
        )
    )
    agg = hits.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("h") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_flagged"),
        F.sum("h").cast("long").alias("n_hits"),
        F.sum("n").cast("long").alias("n_tokens"),
    )
    return agg.selectExpr(*_TOX_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# q_vocab_coverage — tokenizer-sizing coverage-at-N curve
# ---------------------------------------------------------------------------

#: Vocabulary sizes to evaluate. The fixture vocabulary is ~31 types,
#: so the grid is (5, 10, 20); a real tokenizer-sizing run uses
#: (1k, 8k, 32k, 128k) — the machinery (distributed type ranks, grid
#: join) is identical.
_VOCAB_NS = (5, 10, 20)

_VOCAB_FINAL = (
    "CAST(n AS BIGINT) AS vocab_size",
    "CAST(n_types AS BIGINT) AS corpus_types",
    "CAST(covered AS BIGINT) AS covered_occurrences",
    "CAST(total AS BIGINT) AS total_occurrences",
    "round(CAST(covered AS DOUBLE) / total, 4) + 0.0 AS coverage",
    "round(1.0 - CAST(covered AS DOUBLE) / total, 4) + 0.0 AS oov_rate",
)


@query(
    "q_vocab_coverage",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                      t -> t <> '')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY tok
    ),
    ranked AS (
        SELECT tok, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rk
        FROM counts
    ),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS total,
               CAST(COUNT(*) AS BIGINT) AS n_types
        FROM counts
    ),
    grid AS (SELECT unnest(ARRAY{list(_VOCAB_NS)!r}) AS n),
    cov AS (
        SELECT g.n, CAST(SUM(r.c) AS BIGINT) AS covered
        FROM ranked r JOIN grid g ON r.rk <= g.n
        GROUP BY g.n
    )
    SELECT {", ".join(_VOCAB_FINAL)}
    FROM cov CROSS JOIN tot ORDER BY n
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-sizing coverage curve: rank word types by corpus
    frequency and report, for each candidate vocabulary size N, the
    share of token OCCURRENCES the top-N types cover (and its
    complement, the OOV rate a word-level vocabulary of that size
    would eat) — the readout that sizes a vocab before committing a
    tokenizer train (complements q_heaps_law's growth curve and
    q_zipf_fit's tail shape).

    Exactness: integer occurrence counting; the rank orders by
    (count DESC, tok) so ties are deterministic; the two ratios are
    shared division texts.

    Scale: type counts are one map-side-combined vocab-scale
    aggregate; type ranks ride the two-phase global row_number (no
    single-task sort); the coverage join multiplies the vocab table
    by the BOUNDED N grid only. Nothing is corpus x corpus.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    ranked = global_row_number(
        counts, [F.col("c").desc(), F.col("tok")], "rk"
    )
    tot = counts.agg(
        F.sum("c").cast("long").alias("total"),
        F.count("*").cast("long").alias("n_types"),
    )
    grid = spark.createDataFrame([(n,) for n in _VOCAB_NS], "n long")
    cov = (
        ranked.crossJoin(F.broadcast(grid))
        .filter(F.col("rk") <= F.col("n"))
        .groupBy("n")
        .agg(F.sum("c").cast("long").alias("covered"))
    )
    return (
        cov.crossJoin(F.broadcast(tot))
        .selectExpr(*_VOCAB_FINAL)
        .orderBy("n")
    )


# ---------------------------------------------------------------------------
# q_deletion_audit — GDPR delete-propagation (cascade) audit
# ---------------------------------------------------------------------------

#: Deterministic 5% deletion cohort over customers (stand-in for a
#: right-to-be-forgotten request list).
_DEL_PCT_BUCKET = 5

_DEL_FINAL = (
    "tbl",
    "CAST(n_total AS BIGINT) AS n_total",
    "CAST(n_affected AS BIGINT) AS n_affected",
    "round(CAST(n_affected AS DOUBLE) / n_total, 4) + 0.0"
    " AS affected_pct",
)


@query(
    "q_deletion_audit",
    oracle=f"""
    WITH d AS (
        SELECT c_custkey FROM customer
        WHERE {_bucket_sql("gdpr", "c_custkey", 100)} < {_DEL_PCT_BUCKET}
    ),
    o AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM d)
    ),
    rows_ AS (
        SELECT 'customer' AS tbl,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_total,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_affected
        UNION ALL
        SELECT 'orders',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM o)
        UNION ALL
        SELECT 'lineitem',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
                WHERE l_orderkey IN (SELECT o_orderkey FROM o))
        UNION ALL
        SELECT 'events',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events),
               (SELECT CAST(COUNT(*) AS BIGINT) FROM events
                WHERE user_id IN (SELECT c_custkey FROM d))
    )
    SELECT {", ".join(_DEL_FINAL)} FROM rows_ ORDER BY tbl
    """,
)
def q_deletion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten (GDPR deletion) propagation audit: given
    a deterministic 5% customer deletion cohort, count the rows each
    table loses under the full cascade — customer rows themselves,
    their orders, those orders' lineitems, and the event stream keyed
    by the same user ids — the blast-radius ledger a data-governance
    run produces BEFORE executing the delete (and the row counts the
    post-delete verification must match).

    Scale: every propagation step is a key-partitioned semi-join
    (customer->orders on custkey, orders->lineitem on orderkey,
    events on user_id) — the delete cohort scales with the customer
    table, so it is SHUFFLED, never broadcast; counts are
    map-side-combined aggregates. Nothing is all-pairs and no relation
    funnels through one task.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    d = cust.filter(
        hash_bucket("gdpr", F.col("c_custkey"), 100) < _DEL_PCT_BUCKET
    ).select("c_custkey")
    o = orders.join(
        d, orders.o_custkey == d.c_custkey, "left_semi"
    ).select("o_orderkey")
    li_aff = lineitem.join(
        o, lineitem.l_orderkey == o.o_orderkey, "left_semi"
    )
    ev_aff = events.join(
        d, events.user_id == d.c_custkey, "left_semi"
    )

    def _row(tbl: str, total_df: DataFrame, aff_df: DataFrame) -> DataFrame:
        t = total_df.agg(F.count("*").cast("long").alias("n_total"))
        a = aff_df.agg(F.count("*").cast("long").alias("n_affected"))
        return (
            t.crossJoin(F.broadcast(a))
            .withColumn("tbl", F.lit(tbl))
            .select("tbl", "n_total", "n_affected")
        )

    rows = (
        _row("customer", cust, d)
        .unionByName(_row("orders", orders, o))
        .unionByName(_row("lineitem", lineitem, li_aff))
        .unionByName(_row("events", events, ev_aff))
    )
    return rows.selectExpr(*_DEL_FINAL).orderBy("tbl")


# ---------------------------------------------------------------------------
# q_ivfpq_ann — IVF-PQ composite index audit (the production layout)
# ---------------------------------------------------------------------------

def _pq_udot(a: str, b: str):
    # Unrolled fixed-width dot product: element_at arithmetic stays
    # inside whole-stage codegen, unlike the interpreted
    # zip_with/aggregate HOF chain — measured 3x on the n x M x 256
    # codeword-assignment relation. Left-to-right addition keeps
    # the IEEE result identical to the aggregate form (and to
    # DuckDB's list_dot_product).
    s = F.element_at(F.col(a), 1) * F.element_at(F.col(b), 1)
    for i in range(2, _PQ_SUBDIM + 1):
        s = s + F.element_at(F.col(a), i) * F.element_at(F.col(b), i)
    return s


def _pq_d2e4(sn: str, cn: str, a: str, b: str):
    """e4-integer squared L2 distance from precomputed squared norms."""
    return (
        F.round((F.col(sn) + F.col(cn) - 2 * _pq_udot(a, b)) * 10000)
        .cast("long")
    )


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """Shared IVF-PQ index build (the Spark twin of ``_IVFPQ_CTES``):
    sqrt(n) cell assignment, residual subvectors, Lloyd-trained 8-bit
    codebook on a ~25% hash sample, corpus codes, the bounded query
    panel, and the exact global distance tier. Returns
    ``(assign, cent, cb1, enc, q, ms, exact)``; q_ivfpq_ann builds
    the single-probe ADC on top, q_ivfpq_nprobe_curve the
    multi-probe ADC — both quantize with the IDENTICAL codebook."""
    emb = load_table(spark, sf_dir, "embeddings")
    # The seed population is counted once: k and the rank-seed centroid
    # panel serve both the cell assignment and the residuals below.
    # Residual encoding (Jegou et al. 2011 sec. V): PQ quantizes
    # v - centroid(cell(v)). The centroid panel is the rank-seed
    # vectors — ~sqrt(n) rows, broadcast; deterministic (no mean).
    # Checkpointed: it is re-read by the assignment, the residual join,
    # every probe's query-residual join, and the ADC LUTs — lazily it
    # re-ran the scan + repartition + top-k per reference.
    base, _ = cell_base(emb)
    k = seed_k(base)
    cent = materialize(rank_seed_centroids(base, k))
    # assign feeds four branches (residuals, queries, cellmates,
    # exact): localCheckpoint the small panel so the
    # centroid-argmax chain runs once AND its lineage is truncated —
    # with a lazy persist every downstream reference re-inlined the
    # full argmax subtree into the plan (r11 before-plan:
    # q_ivfpq_ann 558 Exchanges / 175 parquet scans, ~0.5 MB of plan
    # text; after: see plans/r11/q_ivfpq_ann_after.txt).
    assign = materialize(assign_cells(base, cent))
    v = assign.select("vid", "vv")
    rv = assign.join(F.broadcast(cent.select("cid", "cv")), "cid").select(
        "vid", F.zip_with("vv", "cv", lambda x, y: x - y).alias("rv")
    )
    ms = spark.range(_PQ_M).select(F.col("id").cast("long").alias("m"))
    sub = rv.crossJoin(F.broadcast(ms)).select(
        "vid",
        "m",
        F.slice(F.col("rv"), F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
            "sv"
        ),
    )
    # PQ training rows: the _PQ_KS lowest-vid vectors AFTER the k IVF
    # seeds (a seed's residual is zero — training on the seed range
    # would degenerate the codebook). Anti-join against the seed vids
    # then take the lowest — mirrors the oracle's rank window
    # (rn in (k, k+KS]) for ANY corpus size; the previous chained
    # asc-limit/desc-limit trick diverged when n < k + _IVFPQ_KS,
    # admitting zero-residual seeds into the codebook (ADVICE r10).
    # The seed vids are the checkpointed centroid panel's ids; the
    # top-k is TakeOrderedAndProject behind a broadcast anti-join, no
    # global window.
    pq_seed_ids = (
        v.join(
            F.broadcast(cent.select(F.col("cid").alias("vid"))),
            "vid",
            "left_anti",
        )
        .orderBy("vid")
        .limit(_IVFPQ_KS)
        .select("vid")
    )
    # Squared norms once per subvector/codeword row, not once per
    # candidate pair.
    sub = sub.withColumn("sn", _pq_udot("sv", "sv"))
    # 2048-row seed codebook, read once: by the Lloyd pass below, whose
    # refit codebook cb1 is the materialized one.
    cb = sub.join(F.broadcast(pq_seed_ids), "vid").select(
        F.col("vid").alias("cid"),
        "m",
        F.col("sv").alias("cv"),
        F.col("sn").alias("cn"),
    )
    # Nearest codeword per (vid, m): similarity.nearest keyed by the
    # subspace, scored by the negated e4 squared L2 (exact for longs).
    # Its map-side max_by keeps the n x M x 256 candidate relation from
    # crossing an exchange at full width.
    neg_d2 = -_pq_d2e4("sn", "cn", "sv", "cv")
    # One Lloyd pass on the codebook (the standard PQ training step):
    # assign a ~25% hash-sampled TRAINING SET of residual subvectors
    # to the nearest sampled codeword (codebooks train on a sample,
    # never the corpus — the FAISS practice and the 100 TB posture:
    # training cost is |sample| x M x 256, independent of corpus
    # growth), re-fit each codeword as the 6-decimal per-dimension
    # member mean (similarity.lloyd_step), drop empty codewords.
    # Sampled codewords alone leave the tight-cluster residual
    # distribution under-covered (BENCH_AB ann_clustered_recall tracks
    # the trained delta).
    tsub = sub.filter(hash_bucket("pqtrain", F.col("vid")) < 250)
    enc0 = nearest(tsub, cb, neg_d2, key=("m",), carry=("sv",))
    cb1 = materialize(
        lloyd_step(enc0, "sv", key=("m",)).withColumn("cn", _pq_udot("cv", "cv"))
    )
    # Corpus codes: n x M rows (tiny relative to the n x M x 256
    # candidate relation that produced them). Checkpointed — the ADC
    # consumers (one per probe in the nprobe curve) otherwise each
    # re-inline the whole encode subtree.
    enc = materialize(
        nearest(sub, cb1, neg_d2, key=("m",)).select(
            "vid", "m", F.col("cid").alias("pcid")
        )
    )
    cb1 = cb1.withColumnRenamed("cid", "pcid")
    q = assign.filter(
        (F.col("vid") % 97 == 3) & (F.col("vid") < 1000)
    ).select(
        F.col("vid").alias("qid"),
        F.col("vv").alias("qv"),
        F.col("cid").alias("qcid"),
        F.col("nrm").alias("qnrm"),
    )
    # exact recall tier: full 64-dim vectors, the original HOF dot
    # (bounded panel — |panel| x n rows, not the hot stage)
    d2_exact = F.round(
        (
            _dot(F.col("qv"), F.col("qv"))
            + _dot(F.col("vv"), F.col("vv"))
            - 2 * _dot(F.col("qv"), F.col("vv"))
        )
        * 10000
    ).cast("long")
    exact = (
        v.join(
            F.broadcast(q.select("qid", "qv")),
            F.col("vid") != F.col("qid"),
        )
        .withColumn("d2", d2_exact)
        .select("qid", "vid", "d2")
    )
    return assign, cent, cb1, enc, q, ms, exact


_IVFPQ_FINAL = (
    "qid",
    "CAST(cell_size AS BIGINT) AS cell_size",
    "CAST(ov_cell AS BIGINT) AS overlap_at3_cell",
    "CAST(ov_global AS BIGINT) AS overlap_at3_global",
)

# Shared IVF-PQ oracle chain (index build + query panel + exact
# global tier) — q_ivfpq_ann appends the single-probe ADC, the
# nprobe curve appends the multi-probe ADC. Kept as one text so both
# oracles quantize with the IDENTICAL codebook.
_IVFPQ_CTES = f"""
    ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),
    -- RESIDUAL encoding (Jegou et al. 2011 sec. V): PQ codes quantize
    -- v - centroid(cell(v)), not v — within a tight cluster the raw
    -- subvectors are nearly identical and the codebook cannot separate
    -- them (measured 15% top-3 overlap on the clustered fixture);
    -- residuals re-center each cell at the origin. The centroid is the
    -- cell's SEED vector (cent0) — deterministic in both engines.
    rv AS (
        SELECT a.vid,
               list_transform(range(1, len(a.vv) + 1),
                              i -> a.vv[i] - c.cv[i]) AS rv
        FROM assign a JOIN cent0 c USING (cid)
    ),
    sub AS (
        SELECT vid, m,
               rv[m * {_PQ_SUBDIM} + 1 : m * {_PQ_SUBDIM} + {_PQ_SUBDIM}]
                   AS sv
        FROM rv CROSS JOIN ms
    ),
    -- PQ training rows: the {_IVFPQ_KS} lowest-vid vectors AFTER the
    -- kk.k IVF seeds — a seed's residual is the zero vector, so
    -- training on the seed range would degenerate the codebook
    pqseed AS (
        SELECT vid FROM (
            SELECT vid, ROW_NUMBER() OVER (ORDER BY vid) AS rn FROM v
        ) s, kk WHERE s.rn > kk.k AND s.rn <= kk.k + {_IVFPQ_KS}
    ),
    cb AS (SELECT s.vid AS pcid, s.m, s.sv AS cv
           FROM sub s JOIN pqseed d ON d.vid = s.vid),
    -- one Lloyd pass on the sampled codebook, trained on a ~25%
    -- hash-sampled training set: assign, re-fit each codeword as the
    -- 6-decimal per-dimension member mean, drop empties (the
    -- _lloyd_centroids determinism discipline)
    enc0 AS (
        SELECT vid, m, pcid FROM (
            SELECT s.vid, s.m, c.pcid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vid, s.m
                       ORDER BY CAST(round((
                           list_dot_product(s.sv, s.sv)
                           + list_dot_product(c.cv, c.cv)
                           - 2 * list_dot_product(s.sv, c.cv)) * 10000)
                           AS BIGINT), c.pcid) AS rn
            FROM sub s JOIN cb c ON c.m = s.m
            WHERE {_pqtrain_sql()} < 250
        ) WHERE rn = 1
    ),
    dm AS (
        SELECT e.m, e.pcid, u.pos, round(avg(u.val), 6) AS mu
        FROM enc0 e
        JOIN sub s ON s.vid = e.vid AND s.m = e.m,
        LATERAL (
            SELECT unnest(list_transform(
                range(1, len(s.sv) + 1),
                i -> {{'pos': i, 'val': s.sv[i]}})) AS u
        )
        GROUP BY e.m, e.pcid, u.pos
    ),
    cb1 AS (
        SELECT m, pcid, list(mu ORDER BY pos) AS cv
        FROM dm GROUP BY m, pcid
    ),
    enc AS (
        SELECT vid, m, pcid FROM (
            SELECT s.vid, s.m, c.pcid,
                   ROW_NUMBER() OVER (
                       PARTITION BY s.vid, s.m
                       ORDER BY CAST(round((
                           list_dot_product(s.sv, s.sv)
                           + list_dot_product(c.cv, c.cv)
                           - 2 * list_dot_product(s.sv, c.cv)) * 10000)
                           AS BIGINT), c.pcid) AS rn
            FROM sub s JOIN cb1 c ON c.m = s.m
        ) WHERE rn = 1
    ),
    q AS (
        SELECT a.vid AS qid, a.vv AS qv, a.cid AS qcid, a.nrm AS qnrm
        FROM assign a WHERE a.vid % 97 = 3 AND a.vid < 1000
    ),
    exact AS (
        SELECT q.qid, v.vid,
               CAST(round((list_dot_product(q.qv, q.qv)
                           + list_dot_product(v.vv, v.vv)
                           - 2 * list_dot_product(q.qv, v.vv)) * 10000)
                   AS BIGINT) AS d2
        FROM q JOIN v ON v.vid <> q.qid
    ),
    et AS (SELECT qid, vid,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY d2, vid)
                      AS rn
           FROM exact)"""


@query(
    "q_ivfpq_ann",
    oracle=f"""
    WITH {_CELL_CTES},
    {_IVFPQ_CTES},
    -- query residual w.r.t. the PROBED cell's centroid (nprobe=1:
    -- the query's own cell, shared by every cellmate)
    qr AS (
        SELECT q.qid,
               list_transform(range(1, len(q.qv) + 1),
                              i -> q.qv[i] - c.cv[i]) AS rqv
        FROM q JOIN cent0 c ON c.cid = q.qcid
    ),
    qsub AS (
        SELECT qid, m,
               rqv[m * {_PQ_SUBDIM} + 1 : m * {_PQ_SUBDIM} + {_PQ_SUBDIM}]
                   AS qs
        FROM qr CROSS JOIN ms
    ),
    lut AS (
        SELECT s.qid, s.m, c.pcid,
               CAST(round((list_dot_product(s.qs, s.qs)
                           + list_dot_product(c.cv, c.cv)
                           - 2 * list_dot_product(s.qs, c.cv)) * 10000)
                   AS BIGINT) AS d2c
        FROM qsub s JOIN cb1 c ON c.m = s.m
    ),
    cellmates AS (
        SELECT q.qid, a.vid FROM q
        JOIN assign a ON a.cid = q.qcid AND a.vid <> q.qid
    ),
    adc AS (
        SELECT cm.qid, cm.vid, CAST(SUM(l.d2c) AS BIGINT) AS adc_d2
        FROM cellmates cm
        JOIN enc e ON e.vid = cm.vid
        JOIN lut l ON l.qid = cm.qid AND l.m = e.m AND l.pcid = e.pcid
        GROUP BY cm.qid, cm.vid
    ),
    at AS (SELECT qid, vid,
                  ROW_NUMBER() OVER (PARTITION BY qid ORDER BY adc_d2, vid)
                      AS rn
           FROM adc),
    ect AS (
        SELECT x.qid, x.vid,
               ROW_NUMBER() OVER (
                   PARTITION BY x.qid ORDER BY x.d2, x.vid) AS rn
        FROM exact x JOIN cellmates cm
          ON cm.qid = x.qid AND cm.vid = x.vid
    ),
    ovg AS (
        SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS ov
        FROM at a JOIN et e ON e.qid = a.qid AND e.vid = a.vid
              AND e.rn <= 3
        WHERE a.rn <= 3 GROUP BY a.qid
    ),
    ovc AS (
        SELECT a.qid, CAST(COUNT(*) AS BIGINT) AS ov
        FROM at a JOIN ect e ON e.qid = a.qid AND e.vid = a.vid
              AND e.rn <= 3
        WHERE a.rn <= 3 GROUP BY a.qid
    ),
    cs AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS cell_size
           FROM cellmates GROUP BY qid),
    res AS (
        SELECT q.qid, cs.cell_size,
               COALESCE(ovc.ov, 0) AS ov_cell,
               COALESCE(ovg.ov, 0) AS ov_global
        FROM q
        JOIN cs ON cs.qid = q.qid
        LEFT JOIN ovg ON ovg.qid = q.qid
        LEFT JOIN ovc ON ovc.qid = q.qid
    )
    SELECT {", ".join(_IVFPQ_FINAL)} FROM res ORDER BY qid
    """,
)
def q_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite index audit — the production ANN layout at
    100 TB (Jegou et al. 2011; the FAISS IVF-PQ default): the sqrt(n)
    IVF cells bound the CANDIDATE SET (search only the query's cell,
    nprobe=1) and the 8x8-bit PQ codes bound the MEMORY (distances
    come from the broadcast query LUTs, never raw floats). The full
    standard formulation (r10, closing the r9 clustered-distortion
    finding): codes quantize the RESIDUAL v - centroid(cell(v))
    (Jegou sec. V; the centroid is the cell's rank-seed vector —
    deterministic in both engines), the codebook is sampled from the
    lowest NON-SEED vids (a seed's residual is the zero vector) and
    re-fit by one Lloyd pass over a ~25% hash-sampled training set
    (codebooks train on a sample, never the corpus — the FAISS
    practice; training cost is sample-bounded at any corpus size),
    and the query LUT is built from the query's own residual. On the
    25-tight-cluster fixture this took mean top-3 overlap from 0.45/3
    in-cell, 0.18/3 global (raw-vector 4-bit codes, r9) to 1.0/3 and
    0.64/3 (1.18/0.73 when Lloyd trains on the full corpus — the
    sample costs ~0.1 of overlap and 40% of the query's wall-clock;
    BENCH_AB `ann_clustered_recall`) — still below SQ8's 93%
    recall@5, which
    remains the first-choice compressed tier for TIGHTLY clustered
    corpora when 8x more memory per vector is acceptable; IVF-PQ is
    the memory-floor tier. For the bounded query panel, top-3 by
    in-cell ADC is scored two ways: against the exact in-cell top-3
    (isolates PQ code distortion) and against the exact GLOBAL top-3
    (adds the nprobe=1 cell-miss), with the candidate-set size per
    query.

    Exactness: cell assignment is the shared 4-decimal text; all
    distances e4 integers; ranks tie-break on vid (codeword argmin is
    similarity.nearest's map-side max_by over the negated distance,
    not a window); Lloyd re-fit means are similarity.lloyd_step's
    6-decimal rounds.

    Scale: candidate generation is the bounded query panel's cell
    probe — at most |panel| x max_cell pairs, i.e. <= 11n even when a
    cell is arbitrarily hot, so the (cid, sub) split is NOT applied to
    the probe (sharding a bounded probe only costs recall, it bounds
    nothing new); ADC is a broadcast-LUT hash join over the codes of
    the query's cellmates + an integer partial-agg; the exact tiers
    exist only to MEASURE recall (bounded panel, cosine_topk
    sanction). Serving touches codes + one cell — ~sqrt(n) candidates
    x 4 bytes.
    """
    assign, cent, cb1, enc, q, ms, exact = _ivfpq_index(spark, sf_dir)
    # query residual w.r.t. the probed cell's centroid (nprobe=1)
    qr = q.join(
        F.broadcast(cent.select("cid", "cv")), F.col("cid") == F.col("qcid")
    ).select(
        "qid", F.zip_with("qv", "cv", lambda x, y: x - y).alias("rqv")
    )
    qsub = qr.crossJoin(F.broadcast(ms)).select(
        "qid",
        "m",
        F.slice(F.col("rqv"), F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
            "qs"
        ),
    )
    qsub = qsub.withColumn("qn", _pq_udot("qs", "qs"))
    lut = (
        qsub.join(F.broadcast(cb1), "m")
        .withColumn("d2c", _pq_d2e4("qn", "cn", "qs", "cv"))
        .select("qid", "m", "pcid", "d2c")
    )
    cellmates = (
        q.select("qid", "qcid")
        .join(assign.select("cid", "vid"), F.col("cid") == F.col("qcid"))
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", "vid")
    )
    adc = (
        cellmates.join(enc, "vid")
        .join(F.broadcast(lut), ["qid", "m", "pcid"])
        .groupBy("qid", "vid")
        .agg(F.sum("d2c").cast("long").alias("adc_d2"))
    )
    at = adc.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("qid").orderBy("adc_d2", "vid")
        ),
    )
    et = exact.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("qid").orderBy("d2", "vid")),
    )
    ect = exact.join(cellmates, ["qid", "vid"]).withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("qid").orderBy("d2", "vid")),
    )
    ovg = (
        at.filter("rn <= 3")
        .select("qid", "vid")
        .join(et.filter("rn <= 3").select("qid", "vid"), ["qid", "vid"])
        .groupBy("qid")
        .agg(F.count("*").cast("long").alias("ov_global"))
    )
    ovc = (
        at.filter("rn <= 3")
        .select("qid", "vid")
        .join(ect.filter("rn <= 3").select("qid", "vid"), ["qid", "vid"])
        .groupBy("qid")
        .agg(F.count("*").cast("long").alias("ov_cell"))
    )
    cs = cellmates.groupBy("qid").agg(
        F.count("*").cast("long").alias("cell_size")
    )
    res = (
        q.select("qid")
        .join(cs, "qid")
        .join(ovg, "qid", "left")
        .join(ovc, "qid", "left")
        .withColumn("ov_global", F.coalesce("ov_global", F.lit(0)))
        .withColumn("ov_cell", F.coalesce("ov_cell", F.lit(0)))
    )
    return res.selectExpr(*_IVFPQ_FINAL).orderBy("qid")


# ---------------------------------------------------------------------------
# q_ivfpq_nprobe_curve — multi-probe IVF-PQ overlap-vs-touch curve
# ---------------------------------------------------------------------------

_IVFPQ_NPROBES = (1, 2, 4)
_IVFPQ_RERANK_R = 96

_IVFPQ_NP_FINAL = (
    "qid",
    "CAST(nprobe AS BIGINT) AS nprobe",
    "CAST(n_candidates AS BIGINT) AS n_candidates",
    "CAST(ov_adc AS BIGINT) AS overlap_at3_adc",
    "CAST(ov_rerank AS BIGINT) AS overlap_at3_rerank",
)


@query(
    "q_ivfpq_nprobe_curve",
    oracle=f"""
    WITH {_CELL_CTES},
    {_IVFPQ_CTES},
    -- probe ranking per query: the ASSIGNMENT metric (4-decimal
    -- cosine, lowest-cid tie-break), so prank 1 IS the query's own
    -- cell and the nprobe=1 row reproduces q_ivfpq_ann's candidate
    -- set exactly
    probes AS (
        SELECT qid, cid, prank FROM (
            SELECT q.qid, c.cid,
                   ROW_NUMBER() OVER (
                       PARTITION BY q.qid
                       ORDER BY round(list_dot_product(q.qv, c.cv)
                                      / (q.qnrm * c.cnrm), 4) DESC,
                                c.cid) AS prank
            FROM q CROSS JOIN cent0 c
        ) WHERE prank <= {max(_IVFPQ_NPROBES)}
    ),
    -- the standard multi-probe IVF-PQ LUT: the query residual is
    -- taken w.r.t. EACH probed centroid, because every candidate's
    -- code quantizes the residual w.r.t. its OWN cell's centroid
    qrp AS (
        SELECT p.qid, p.cid, p.prank,
               list_transform(range(1, len(q.qv) + 1),
                              i -> q.qv[i] - c.cv[i]) AS rqv
        FROM probes p
        JOIN q ON q.qid = p.qid
        JOIN cent0 c ON c.cid = p.cid
    ),
    qsubp AS (
        SELECT qid, cid, prank, m,
               rqv[m * {_PQ_SUBDIM} + 1 : m * {_PQ_SUBDIM} + {_PQ_SUBDIM}]
                   AS qs
        FROM qrp CROSS JOIN ms
    ),
    lutp AS (
        SELECT s.qid, s.cid, s.prank, s.m, c.pcid,
               CAST(round((list_dot_product(s.qs, s.qs)
                           + list_dot_product(c.cv, c.cv)
                           - 2 * list_dot_product(s.qs, c.cv)) * 10000)
                   AS BIGINT) AS d2c
        FROM qsubp s JOIN cb1 c ON c.m = s.m
    ),
    cands AS (
        SELECT p.qid, p.cid, p.prank, a.vid
        FROM probes p JOIN assign a ON a.cid = p.cid AND a.vid <> p.qid
    ),
    adcp AS (
        SELECT cm.qid, cm.prank, cm.vid,
               CAST(SUM(l.d2c) AS BIGINT) AS adc_d2
        FROM cands cm
        JOIN enc e ON e.vid = cm.vid
        JOIN lutp l ON l.qid = cm.qid AND l.cid = cm.cid
                   AND l.m = e.m AND l.pcid = e.pcid
        GROUP BY cm.qid, cm.prank, cm.vid
    ),
    lvls AS (SELECT unnest([{", ".join(str(n) for n in _IVFPQ_NPROBES)}])
                 AS nprobe),
    al AS (
        SELECT a.qid, lv.nprobe, a.vid, a.adc_d2
        FROM adcp a CROSS JOIN lvls lv WHERE a.prank <= lv.nprobe
    ),
    atp AS (
        SELECT qid, nprobe, vid,
               ROW_NUMBER() OVER (PARTITION BY qid, nprobe
                                  ORDER BY adc_d2, vid) AS rn
        FROM al
    ),
    ovp AS (
        SELECT a.qid, a.nprobe, CAST(COUNT(*) AS BIGINT) AS ov
        FROM atp a JOIN et e ON e.qid = a.qid AND e.vid = a.vid
              AND e.rn <= 3
        WHERE a.rn <= 3 GROUP BY a.qid, a.nprobe
    ),
    -- exact re-rank tier (the FAISS refine/IVFPQR pattern): the ADC
    -- shortlist's top-{_IVFPQ_RERANK_R} get exact distances from the
    -- raw vectors; only these R rows per (query, nprobe) ever touch
    -- floats at serve time
    shortp AS (
        SELECT qid, nprobe, vid FROM atp WHERE rn <= {_IVFPQ_RERANK_R}
    ),
    rrp AS (
        SELECT s.qid, s.nprobe, s.vid,
               ROW_NUMBER() OVER (PARTITION BY s.qid, s.nprobe
                                  ORDER BY x.d2, s.vid) AS rrn
        FROM shortp s JOIN exact x ON x.qid = s.qid AND x.vid = s.vid
    ),
    ovr AS (
        SELECT r.qid, r.nprobe, CAST(COUNT(*) AS BIGINT) AS ovr
        FROM rrp r JOIN et e ON e.qid = r.qid AND e.vid = r.vid
              AND e.rn <= 3
        WHERE r.rrn <= 3 GROUP BY r.qid, r.nprobe
    ),
    ncp AS (
        SELECT qid, nprobe, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM al GROUP BY qid, nprobe
    ),
    resp AS (
        SELECT q.qid, lv.nprobe,
               COALESCE(ncp.n_candidates, 0) AS n_candidates,
               COALESCE(ovp.ov, 0) AS ov_adc,
               COALESCE(ovr.ovr, 0) AS ov_rerank
        FROM q CROSS JOIN lvls lv
        LEFT JOIN ncp ON ncp.qid = q.qid AND ncp.nprobe = lv.nprobe
        LEFT JOIN ovp ON ovp.qid = q.qid AND ovp.nprobe = lv.nprobe
        LEFT JOIN ovr ON ovr.qid = q.qid AND ovr.nprobe = lv.nprobe
    )
    SELECT {", ".join(_IVFPQ_NP_FINAL)} FROM resp ORDER BY qid, nprobe
    """,
)
def q_ivfpq_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF-PQ overlap-vs-touch curve with an exact
    re-rank tier — the nprobe dial for the ADC path (r10 verdict ask
    #4). The standard multi-probe formulation (Jegou et al. 2011;
    the FAISS nprobe parameter): probe the nprobe nearest cells, and
    rebuild the query LUT PER PROBED CELL from the query's residual
    w.r.t. THAT cell's centroid, because each candidate's code
    quantizes the residual w.r.t. its own cell's centroid — one
    global LUT would compare residuals in different frames.

    Measured honestly on the clustered fixture, multi-probe alone
    does NOT close the global gap: coverage of the exact top-3 rises
    to 3/3 by nprobe=4 but pure-ADC overlap stays ~0.64/3 flat —
    8x8-bit code distortion, not cell-miss, binds at the RANKING
    stage once the right candidates are present (the r10 verdict's
    cell-miss attribution held only for the coverage component). The
    production answer is the FAISS refine (IVFPQR) pattern, shipped
    here as the second tier: ADC ranks the candidate codes, the
    top-R (R = ``_IVFPQ_RERANK_R`` = 96) get exact distances from
    raw vectors, and top-3 comes from the re-rank — so serve-time
    float fetches are bounded by R per query, not by the candidate
    count.

    Probe ranking uses the assignment metric (4-decimal cosine,
    lowest-cid tie-break), so prank 1 is the query's own cell and
    the nprobe=1 rows reproduce q_ivfpq_ann's candidate set exactly;
    per (query, nprobe in {1, 2, 4}) the output reports the
    candidate count (touch) plus top-3 overlap against the exact
    GLOBAL top-3 for BOTH tiers (overlap_at3_adc /
    overlap_at3_rerank). Index build, codebook, and codes are shared
    verbatim with q_ivfpq_ann (``_ivfpq_index`` / ``_IVFPQ_CTES``).

    Scale: probing is the same broadcast-centroid-panel ranking as
    assignment (per query, ~sqrt(n) rows reduced by a per-qid
    window over the tiny panel); candidates are nprobe x max_cell
    per query; the per-cell LUTs are |panel| x nprobe x M x 256
    broadcast rows; the re-rank tier touches R raw vectors per
    (query, nprobe). Serving cost scales linearly in nprobe with no
    new unbounded stage.
    """
    assign, cent, cb1, enc, q, ms, exact = _ivfpq_index(spark, sf_dir)
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn(
            "ccos",
            F.round(_dot(F.col("qv"), F.col("cv"))
                    / (F.col("qnrm") * F.col("cnrm")), 4),
        )
        .withColumn(
            "prank",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.desc("ccos"), "cid")
            ),
        )
        .filter(F.col("prank") <= max(_IVFPQ_NPROBES))
        .select("qid", "cid", "prank")
    )
    # per-probed-cell query residual -> per-cell LUT
    qrp = (
        probes.join(q.select("qid", "qv"), "qid")
        .join(F.broadcast(cent.select("cid", "cv")), "cid")
        .select(
            "qid", "cid", "prank",
            F.zip_with("qv", "cv", lambda x, y: x - y).alias("rqv"),
        )
    )
    qsubp = qrp.crossJoin(F.broadcast(ms)).select(
        "qid",
        "cid",
        "prank",
        "m",
        F.slice(F.col("rqv"), F.col("m") * _PQ_SUBDIM + 1, _PQ_SUBDIM).alias(
            "qs"
        ),
    )
    qsubp = qsubp.withColumn("qn", _pq_udot("qs", "qs"))
    lutp = (
        qsubp.join(F.broadcast(cb1), "m")
        .withColumn("d2c", _pq_d2e4("qn", "cn", "qs", "cv"))
        .select("qid", "cid", "m", "pcid", "d2c")
    )
    cands = (
        probes.join(assign.select("cid", "vid"), "cid")
        .filter(F.col("vid") != F.col("qid"))
        .select("qid", "cid", "prank", "vid")
    )
    adcp = (
        cands.join(enc, "vid")
        .join(F.broadcast(lutp), ["qid", "cid", "m", "pcid"])
        .groupBy("qid", "prank", "vid")
        .agg(F.sum("d2c").cast("long").alias("adc_d2"))
    )
    lvls = (
        spark.range(1, max(_IVFPQ_NPROBES) + 1)
        .filter(F.col("id").isin(*_IVFPQ_NPROBES))
        .select(F.col("id").cast("long").alias("nprobe"))
    )
    al = adcp.crossJoin(F.broadcast(lvls)).filter(
        F.col("prank") <= F.col("nprobe")
    )
    atp = al.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("qid", "nprobe").orderBy("adc_d2", "vid")
        ),
    )
    et = exact.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("qid").orderBy("d2", "vid")),
    )
    et3 = et.filter("rn <= 3").select("qid", "vid")
    ovp = (
        atp.filter("rn <= 3")
        .select("qid", "nprobe", "vid")
        .join(et3, ["qid", "vid"])
        .groupBy("qid", "nprobe")
        .agg(F.count("*").cast("long").alias("ov_adc"))
    )
    # exact re-rank tier (FAISS refine/IVFPQR): only the ADC top-R
    # per (query, nprobe) get exact distances — at serve time these
    # are the only raw-vector fetches; here the bounded exact panel
    # already carries d2, so the shortlist just joins it
    rrp = (
        atp.filter(F.col("rn") <= _IVFPQ_RERANK_R)
        .select("qid", "nprobe", "vid")
        .join(exact, ["qid", "vid"])
        .withColumn(
            "rrn",
            F.row_number().over(
                Window.partitionBy("qid", "nprobe").orderBy("d2", "vid")
            ),
        )
    )
    ovr = (
        rrp.filter("rrn <= 3")
        .select("qid", "nprobe", "vid")
        .join(et3, ["qid", "vid"])
        .groupBy("qid", "nprobe")
        .agg(F.count("*").cast("long").alias("ov_rerank"))
    )
    ncp = al.groupBy("qid", "nprobe").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    resp = (
        q.select("qid")
        .crossJoin(F.broadcast(lvls))
        .join(ncp, ["qid", "nprobe"], "left")
        .join(ovp, ["qid", "nprobe"], "left")
        .join(ovr, ["qid", "nprobe"], "left")
        .withColumn("n_candidates", F.coalesce("n_candidates", F.lit(0)))
        .withColumn("ov_adc", F.coalesce("ov_adc", F.lit(0)))
        .withColumn("ov_rerank", F.coalesce("ov_rerank", F.lit(0)))
    )
    return resp.selectExpr(*_IVFPQ_NP_FINAL).orderBy("qid", "nprobe")


# ---------------------------------------------------------------------------
# q_cross_source_dups — source x source duplication (syndication) matrix
# ---------------------------------------------------------------------------

_XSD_FINAL = (
    "source_a",
    "source_b",
    "CAST(n_clusters AS BIGINT) AS n_shared_clusters",
    "CAST(n_docs_a AS BIGINT) AS n_docs_a",
    "CAST(n_docs_b AS BIGINT) AS n_docs_b",
)


@query(
    "q_cross_source_dups",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, source,
               md5(array_to_string(list_sort(list_distinct(
                   list_filter(string_split(lower(text), ' '),
                               t -> t <> ''))), ' ')) AS th
        FROM documents
    ),
    multi AS (
        SELECT th FROM h GROUP BY th
        HAVING COUNT(DISTINCT source) >= 2
    ),
    m AS (SELECT h.th, h.source, h.doc_id
          FROM h JOIN multi USING (th)),
    pairs AS (
        SELECT a.th, a.source AS source_a, b.source AS source_b,
               CAST(COUNT(DISTINCT a.doc_id) AS BIGINT) AS n_docs_a,
               CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_docs_b
        FROM m a JOIN m b
          ON a.th = b.th AND a.source < b.source
        GROUP BY a.th, a.source, b.source
    )
    SELECT source_a, source_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_clusters,
           CAST(SUM(n_docs_a) AS BIGINT) AS n_docs_a,
           CAST(SUM(n_docs_b) AS BIGINT) AS n_docs_b
    FROM pairs GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
)
def q_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication (syndication/mirror) matrix:
    vocabulary-fingerprint clusters (the q_dup_size_hist convention —
    sorted distinct-token sets, catching reordered copies; the fixture
    has zero byte-exact dups but dozens of these) that span TWO OR
    MORE sources, rolled up per source pair — how many shared duplicate clusters each pair of
    sources has and how many docs each side contributes. The
    governance readout behind "source B mirrors source A, dedup them
    together and down-weight B" decisions (complements
    q_dup_rate_by_source's within-source rate and q_source_overlap's
    vocabulary Jaccard with actual duplicated CONTENT).

    Scale: content travels as md5 only; the multi-source filter is one
    hash-keyed aggregate; the pair join is keyed by the hash and
    bounded per cluster by the SOURCE domain (a hash in k sources
    yields C(k,2) <= C(|sources|,2) pairs), never by cluster size —
    doc multiplicity is pre-aggregated per (hash, source) by the
    COUNT DISTINCT. The final panel is |sources|^2.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col("text")), " "),
                        lambda t: t != "",
                    )
                )
            ),
            " ",
        )
    )
    h = docs.select("doc_id", "source", fp.alias("th"))
    multi = (
        h.groupBy("th")
        .agg(F.countDistinct("source").alias("ns"))
        .filter("ns >= 2")
        .select("th")
    )
    m = h.join(multi, "th")
    a = m.select("th", F.col("source").alias("source_a"),
                 F.col("doc_id").alias("da"))
    b = m.select("th", F.col("source").alias("source_b"),
                 F.col("doc_id").alias("db"))
    pairs = (
        a.join(b, "th")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("th", "source_a", "source_b")
        .agg(
            F.countDistinct("da").cast("long").alias("n_docs_a"),
            F.countDistinct("db").cast("long").alias("n_docs_b"),
        )
    )
    out = pairs.groupBy("source_a", "source_b").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("n_docs_a").cast("long").alias("n_docs_a"),
        F.sum("n_docs_b").cast("long").alias("n_docs_b"),
    )
    return out.selectExpr(*_XSD_FINAL).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# q_length_buckets — pad-waste audit for length-bucketed batching
# ---------------------------------------------------------------------------

#: Power-of-two bucket edges as a shared CASE text — integer-exact in
#: both engines (a log2/pow round-trip can land on either side of an
#: exact power cross-engine). 8192 caps the fixture comfortably.
_LB_EDGES = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096, 8192)
_LB_CASE = (
    "CASE "
    + " ".join(f"WHEN n_toks <= {e} THEN {e}" for e in _LB_EDGES)
    + " ELSE 16384 END"
)

_LB_FINAL = (
    "CAST(bucket_max AS BIGINT) AS bucket_max",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_tokens AS BIGINT) AS n_tokens",
    "CAST(bucket_max * n_docs AS BIGINT) AS padded_tokens",
    "round(1.0 - CAST(n_tokens AS DOUBLE) / (bucket_max * n_docs), 4)"
    " + 0.0 AS waste_pct",
)


@query(
    "q_length_buckets",
    oracle=f"""
    WITH toks AS (
        SELECT CAST(len(list_filter(string_split(lower(text), ' '),
                        t -> t <> '')) AS BIGINT) AS n_toks
        FROM documents
    ),
    nonempty AS (SELECT n_toks FROM toks WHERE n_toks > 0),
    b AS (SELECT n_toks, {_LB_CASE} AS bucket_max FROM nonempty),
    per AS (
        SELECT bucket_max,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM b GROUP BY bucket_max
    ),
    allrow AS (
        SELECT CAST(MAX(n_toks) AS BIGINT) AS bucket_max,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM nonempty
    ),
    u AS (SELECT * FROM per UNION ALL SELECT * FROM allrow)
    SELECT {", ".join(_LB_FINAL)} FROM u ORDER BY bucket_max, n_docs
    """,
)
def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching pad-waste audit: assign every document
    to a power-of-two token-length bucket and report, per bucket, the
    padded-token capacity (bucket_max x docs) against real tokens —
    the waste a pad-to-bucket batcher eats — plus one comparison row
    (bucket_max = the global max length) showing what UNBUCKETED
    pad-to-max batching would waste. The batching-efficiency
    complement of q_seq_packing's FFD packing.

    Exactness: bucket edges are a shared CASE text (a log2/pow
    round-trip can land on either side of an exact power
    cross-engine); everything else is integer counting and one shared
    division text.

    Scale: one token-count scan, one map-side-combined aggregate per
    grouping; output is bounded by the edge table (+1 row).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(tokens_col(F.lower(F.col("text"))))
        .cast("long")
        .alias("n_toks")
    ).filter("n_toks > 0")
    b = toks.selectExpr("n_toks", f"{_LB_CASE} AS bucket_max")
    per = b.groupBy("bucket_max").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    allrow = toks.agg(
        F.max("n_toks").cast("long").alias("bucket_max"),
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    u = per.unionByName(allrow)
    return u.selectExpr(*_LB_FINAL).orderBy("bucket_max", "n_docs")


# ---------------------------------------------------------------------------
# q_incremental_ivf — index-maintenance / quantizer-drift gate
# ---------------------------------------------------------------------------

_IINC_FINAL = (
    "CAST(cid AS BIGINT) AS cid",
    "CAST(n_old AS BIGINT) AS n_old",
    "CAST(n_new AS BIGINT) AS n_new",
    # No round() on these ratios: numerators and denominators are
    # exact integers in both engines, so the IEEE divisions are
    # bit-identical — while round() itself is the divergence hazard
    # on exact decimal halves (s/2 cases): Spark rounds the shortest
    # decimal repr half-up, DuckDB rounds the binary double
    # (0.25375 -> 0.2538 vs 0.2537, caught by the round-8 oracle run).
    "CAST(n_new AS DOUBLE) / n_old + 0.0 AS growth",
    "CAST(s_old AS DOUBLE) / n_old / 10000.0 + 0.0 AS mean_cos_old",
    "CAST(s_new AS DOUBLE) / NULLIF(n_new, 0) / 10000.0 + 0.0"
    " AS mean_cos_new",
)


@query(
    "q_incremental_ivf",
    oracle=f"""
    WITH {cell_ctes(
        extra=(("is_new", _bucket_sql("ivfinc", "vec_id", 10) + " >= 9"),),
        seed_pred="NOT is_new",
    )},
    per AS (
        SELECT cid,
               CAST(COUNT(*) FILTER (WHERE NOT is_new) AS BIGINT) AS n_old,
               CAST(COUNT(*) FILTER (WHERE is_new) AS BIGINT) AS n_new,
               CAST(SUM(CAST(round(ccos * 10000) AS BIGINT))
                    FILTER (WHERE NOT is_new) AS BIGINT) AS s_old,
               CAST(COALESCE(SUM(CAST(round(ccos * 10000) AS BIGINT))
                    FILTER (WHERE is_new), 0) AS BIGINT) AS s_new
        FROM assign GROUP BY cid
    )
    SELECT {", ".join(_IINC_FINAL)} FROM per ORDER BY cid
    """,
)
def q_incremental_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance: a 10% hash-split "new batch" of
    vectors is assigned into the EXISTING IVF cells (seeded from the
    old corpus only) and the per-cell ledger reports growth and
    centroid-fit drift — mean assignment cosine of old members vs the
    new arrivals. Falling new-member cosines or lopsided growth are
    the "retrain the quantizer" gate every production ANN index
    watches (the index twin of q_incremental_dedup: old x old is
    never re-processed).

    Exactness: cosines are the shared 4-decimal assignment text,
    re-fixed-pointed to e4 integers before the per-cell sums; the
    three ratios are shared division texts (mean_cos_new NULL for
    cells the batch never touched).

    Scale: the only corpus-scale work is the broadcast-centroid
    assignment scan (O(n * sqrt(n_old))); the ledger is a
    sqrt(n)-row panel. Every cell has >= 1 old member (its seed), so
    growth never divides by zero.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assign = cell_assign(
        emb,
        extra=(
            ("is_old", hash_bucket("ivfinc", F.col("vec_id"), 10) < 9),
        ),
        seed_col="is_old",
    )
    cos_e4 = F.round(F.col("ccos") * 10000).cast("long")
    per = assign.groupBy("cid").agg(
        F.sum(F.when(F.col("is_old"), 1).otherwise(0))
        .cast("long")
        .alias("n_old"),
        F.sum(F.when(~F.col("is_old"), 1).otherwise(0))
        .cast("long")
        .alias("n_new"),
        F.sum(F.when(F.col("is_old"), cos_e4).otherwise(0))
        .cast("long")
        .alias("s_old"),
        F.sum(F.when(~F.col("is_old"), cos_e4).otherwise(0))
        .cast("long")
        .alias("s_new"),
    )
    return per.selectExpr(*_IINC_FINAL).orderBy("cid")


# ---------------------------------------------------------------------------
# q_quality_token_curve — token retention under a quality-cutoff policy
# ---------------------------------------------------------------------------

_QTC_FINAL = (
    "CAST(decile AS BIGINT) AS decile",
    "CAST(n_docs_cum AS BIGINT) AS n_docs_cum",
    "CAST(tokens_cum AS BIGINT) AS tokens_cum",
    "round(CAST(tokens_cum AS DOUBLE) / total_tokens, 4) + 0.0"
    " AS pct_tokens_kept",
)


@query(
    "q_quality_token_curve",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_toks,
               CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
        FROM (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS toks
            FROM documents
        ) WHERE len(toks) > 0
    ),
    scored AS (
        SELECT doc_id, n_toks,
               CAST(round(CAST(n_types AS DOUBLE) / n_toks * 10000)
                    AS BIGINT) AS score_e4
        FROM t
    ),
    ranked AS (
        SELECT doc_id, n_toks,
               ROW_NUMBER() OVER (ORDER BY score_e4 DESC, doc_id) AS rk,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM scored
    ),
    dec AS (
        SELECT CAST(floor((10.0 * (rk - 1)) / n) AS BIGINT) + 1 AS decile,
               n_toks
        FROM ranked
    ),
    per AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS toks
        FROM dec GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS total_tokens FROM per),
    cum AS (
        SELECT a.decile,
               CAST(SUM(b.n_docs) AS BIGINT) AS n_docs_cum,
               CAST(SUM(b.toks) AS BIGINT) AS tokens_cum
        FROM per a JOIN per b ON b.decile <= a.decile
        GROUP BY a.decile
    )
    SELECT {", ".join(_QTC_FINAL)}
    FROM cum CROSS JOIN tot ORDER BY decile
    """,
)
def q_quality_token_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-cutoff token-retention curve: rank every document by a
    deterministic quality proxy (type-token ratio — lexical
    diversity), cut the ranking into deciles, and report CUMULATIVE
    docs/tokens per decile — "keep only the top-d deciles and you
    retain X% of the corpus tokens", the curve a data-mix planner
    reads before committing a quality floor (pairs with
    q_quality_floor's per-language cut and q_mix_planner's budget
    waterfill).

    Exactness: the score is an e4 integer; ranks tie-break on doc_id;
    the decile edge is floor((10*(rk-1))/n)+1 over DOUBLE-cast
    integers (exact for any n < 2^45); the cumulative rollup is an
    integer self-join over the bounded 10-row decile panel.

    Scale: one token scan; ranks ride the two-phase global row_number
    (on Spark — the oracle's window form is the semantic spec); the
    curve arithmetic never touches row-scale data again.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", tokens_col(F.lower(F.col("text"))).alias("toks")
    ).filter(F.size("toks") > 0)
    scored = t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.round(
            F.size(F.array_distinct("toks")).cast("double")
            / F.size("toks")
            * 10000
        )
        .cast("long")
        .alias("score_e4"),
    )
    g = global_row_number(
        scored, [F.col("score_e4").desc(), F.col("doc_id")], "rk"
    )
    n = g.agg(F.count("*").cast("long").alias("n"))
    dec = (
        g.crossJoin(F.broadcast(n))
        .select(
            (
                F.floor(
                    (10.0 * (F.col("rk") - 1)) / F.col("n")
                ).cast("long")
                + 1
            ).alias("decile"),
            "n_toks",
        )
    )
    per = dec.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("toks"),
    )
    tot = per.agg(F.sum("toks").cast("long").alias("total_tokens"))
    a = per.select(F.col("decile").alias("d_a"))
    cum = (
        a.join(F.broadcast(per), F.col("decile") <= F.col("d_a"))
        .groupBy("d_a")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs_cum"),
            F.sum("toks").cast("long").alias("tokens_cum"),
        )
        .withColumnRenamed("d_a", "decile")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .selectExpr(*_QTC_FINAL)
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q_sample_bias_audit — representativeness of the 10% hash sample
# ---------------------------------------------------------------------------

_SBA_FINAL = (
    "lang",
    "CAST(n_full AS BIGINT) AS n_full",
    "CAST(n_sample AS BIGINT) AS n_sample",
    "round(CAST(n_full AS DOUBLE) / t_full, 4) + 0.0 AS full_share",
    "round(CAST(n_sample AS DOUBLE) / t_sample, 4) + 0.0"
    " AS sample_share",
    "CAST(round(abs(CAST(n_sample AS DOUBLE) / t_sample"
    " - CAST(n_full AS DOUBLE) / t_full) * 10000) AS BIGINT)"
    " AS abs_diff_e4",
)


@query(
    "q_sample_bias_audit",
    oracle=f"""
    WITH s AS (
        SELECT lang,
               {_bucket_sql("sample", "doc_id")} < 100 AS in_sample
        FROM documents
    ),
    per AS (
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_full,
               CAST(COUNT(*) FILTER (WHERE in_sample) AS BIGINT)
                   AS n_sample
        FROM s GROUP BY lang
    ),
    tot AS (
        SELECT CAST(SUM(n_full) AS BIGINT) AS t_full,
               CAST(SUM(n_sample) AS BIGINT) AS t_sample
        FROM per
    )
    SELECT {", ".join(_SBA_FINAL)}
    FROM per CROSS JOIN tot ORDER BY lang
    """,
)
def q_sample_bias_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representativeness audit of the deterministic 10% hash sample
    (the SAME salt/threshold as q_hash_sample): per language, the
    sample's composition share against the full corpus's, with the
    absolute deviation in e4 units — the QA gate a sampling pipeline
    runs before any sample-based measurement is trusted (a skewed
    hash, a correlated key, or a biased filter shows up here first).

    Scale: one scan with the bucket expression inline (no join against
    the sample — membership is recomputed from the key, which is the
    point of deterministic sampling), one map-side-combined per-lang
    aggregate, and a broadcast totals row; the panel is |langs| rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "lang",
        (hash_bucket("sample", F.col("doc_id")) < 100).alias("in_sample"),
    )
    per = s.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_full"),
        F.sum(F.when(F.col("in_sample"), 1).otherwise(0))
        .cast("long")
        .alias("n_sample"),
    )
    tot = per.agg(
        F.sum("n_full").cast("long").alias("t_full"),
        F.sum("n_sample").cast("long").alias("t_sample"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .selectExpr(*_SBA_FINAL)
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_hot_cell_split — forced hot-cell shard audit (the split path, live)
# ---------------------------------------------------------------------------

#: Deliberately tight tolerance (cap = 0.25 * sqrt(n) members per
#: subcell) so the hot-cell split ENGAGES on the balanced fixture —
#: the production queries run at cell_common.CELL_CAP_MULT = 4 and
#: split only under real skew, which means their oracle checks never
#: exercise the sharding arithmetic or the (cid, sub) join path. This
#: query pins both, every round, at driver-checkable scale.
_HCS_CAP_MULT = "0.25"

_HCS_FINAL = (
    "CAST(n_cells AS BIGINT) AS n_cells",
    "CAST(n_subcells AS BIGINT) AS n_subcells",
    "CAST(max_cell AS BIGINT) AS max_cell",
    "CAST(max_subcell AS BIGINT) AS max_subcell",
    "CAST(pairs_uncapped AS BIGINT) AS pairs_uncapped",
    "CAST(pairs_capped AS BIGINT) AS pairs_capped",
    "CAST(pairs_joined AS BIGINT) AS pairs_joined",
)


@query(
    "q_hot_cell_split",
    oracle=f"""
    WITH {cell_ctes(cap_mult=_HCS_CAP_MULT)},
    cells AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM assign GROUP BY cid),
    subs AS (SELECT cid, sub, CAST(COUNT(*) AS BIGINT) AS scnt
             FROM assign GROUP BY cid, sub),
    j AS (SELECT CAST(COUNT(*) AS BIGINT) AS pairs_joined
          FROM assign a JOIN assign b
            ON a.cid = b.cid AND a.sub = b.sub AND a.vid <> b.vid),
    s AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cells) AS n_cells,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM subs) AS n_subcells,
               (SELECT MAX(cnt) FROM cells) AS max_cell,
               (SELECT MAX(scnt) FROM subs) AS max_subcell,
               (SELECT CAST(SUM(cnt * (cnt - 1)) AS BIGINT) FROM cells)
                   AS pairs_uncapped,
               (SELECT CAST(SUM(scnt * (scnt - 1)) AS BIGINT) FROM subs)
                   AS pairs_capped,
               (SELECT pairs_joined FROM j) AS pairs_joined
    )
    SELECT {", ".join(_HCS_FINAL)} FROM s
    """,
)
def q_hot_cell_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-cell split audit, with the shard tolerance forced DOWN
    (cap = 0.25 * sqrt(n) members) so the sharding path runs live on
    the balanced fixture: per-cell vs per-subcell population extremes,
    the directed pair volume the cell self-join would generate
    UNCAPPED vs under the (cid, sub) split, and the same capped volume
    measured by actually RUNNING the (cid, sub) equi-join
    (pairs_joined = pairs_capped by construction — a divergence means
    the join path and the ledger arithmetic disagree, in either
    engine). See plans/cell_common.py for the split's scale argument:
    the capped volume is bounded by cap_mult * sqrt(n) * n for ANY
    cell-population skew.

    Exactness: everything is integer counting over the deterministic
    (vid-arithmetic) shard assignment.

    Scale: the self-join is the capped generator itself; ledgers are
    sqrt(n)-row panels reduced to one row.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    assign = cell_assign(emb, extra=(), cap_mult=float(_HCS_CAP_MULT)).select(
        "vid", "cid", "sub"
    )
    cells = assign.groupBy("cid").agg(F.count("*").cast("long").alias("cnt"))
    subs = assign.groupBy("cid", "sub").agg(
        F.count("*").cast("long").alias("scnt")
    )
    joined = (
        assign.alias("a")
        .join(
            assign.select(
                "cid", "sub", F.col("vid").alias("bvid")
            ).alias("b"),
            ["cid", "sub"],
        )
        .filter(F.col("vid") != F.col("bvid"))
        .agg(F.count("*").cast("long").alias("pairs_joined"))
    )
    cstats = cells.agg(
        F.count("*").cast("long").alias("n_cells"),
        F.max("cnt").alias("max_cell"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1))
        .cast("long")
        .alias("pairs_uncapped"),
    )
    sstats = subs.agg(
        F.count("*").cast("long").alias("n_subcells"),
        F.max("scnt").alias("max_subcell"),
        F.sum(F.col("scnt") * (F.col("scnt") - 1))
        .cast("long")
        .alias("pairs_capped"),
    )
    return (
        cstats.crossJoin(F.broadcast(sstats))
        .crossJoin(F.broadcast(joined))
        .selectExpr(*_HCS_FINAL)
    )


# ---------------------------------------------------------------------------
# q_cell_quantizer_train — Lloyd refinement of the sqrt(n) quantizer
# ---------------------------------------------------------------------------

_CQT_ITERS = 2

_CQT_FINAL = (
    "CAST(stage AS BIGINT) AS stage",
    "CAST(n_cells AS BIGINT) AS n_cells",
    "CAST(max_cell AS BIGINT) AS max_cell",
    "CAST(sum_ccos_e4 AS BIGINT) AS sum_ccos_e4",
    "CAST(n_moved AS BIGINT) AS n_moved",
)


def _cqt_oracle() -> str:
    stage_sqls = []
    for r in range(_CQT_ITERS + 1):
        moved = (
            "0"
            if r == 0
            else f"""(SELECT CAST(COUNT(*) AS BIGINT)
                 FROM assign{r} a JOIN assign{r - 1} p USING (vid)
                 WHERE a.cid <> p.cid)"""
        )
        stage_sqls.append(
            f"""SELECT {r} AS stage,
               (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT)
                FROM assign{r}) AS n_cells,
               (SELECT MAX(cnt) FROM (
                    SELECT CAST(COUNT(*) AS BIGINT) AS cnt
                    FROM assign{r} GROUP BY cid)) AS max_cell,
               (SELECT CAST(SUM(CAST(round(ccos * 10000) AS BIGINT))
                            AS BIGINT)
                FROM assign{r}) AS sum_ccos_e4,
               {moved} AS n_moved"""
        )
    union = "\n        UNION ALL ".join(stage_sqls)
    return f"""
    WITH {cell_ctes(train_iters=_CQT_ITERS)}
    SELECT {", ".join(_CQT_FINAL)} FROM ({union}) ORDER BY stage
    """


@query("q_cell_quantizer_train", oracle=_cqt_oracle())
def q_cell_quantizer_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd (k-means) refinement of the sqrt(n)-cell quantizer, per
    training stage: cell count (empty cells drop), the hottest cell's
    population, the summed e4 assignment cosine (the quantizer-fit
    objective — rising sum = vectors closer to their centroid), and
    how many vectors changed cell vs the previous stage. This is the
    trained-quantizer path the production deployment defaults to: the
    rank-seeded stage-0 assignment is the bootstrap, and the stage
    ledger shows training both improving fit AND flattening the
    population skew the hot-cell split otherwise absorbs (the same
    retrain gate q_incremental_ivf's drift readout watches).

    Exactness: Lloyd means are rounded to 6 decimals before becoming
    centroids (both engines train bit-identical quantizers — the
    mean's last ulp depends on summation order); cosines follow the
    shared 4-decimal text and are e4-fixed-pointed before the sum;
    move counts are exact integers.

    Scale: each stage is a (cell, dim)-keyed mean aggregate plus one
    broadcast-centroid assignment scan — O(iters * n * sqrt(n)) total
    work, no pair generation anywhere; stage ledgers are one-row
    panels and the move count is a vid-keyed self-join of two
    assignment relations (key-partitioned, linear).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base, _ = cell_base(emb, ())
    k = seed_k(base)
    cent = rank_seed_centroids(base, k)
    # Every stage is consumed 3-4 times (counts, fit stats, move diff
    # vs the adjacent stage) and each later stage's plan embeds every
    # earlier one through the Lloyd chain — materialize each stage
    # once (r12; before-plan: 147 stages / 1554 tasks, after: see
    # plans/r12/q_cell_quantizer_train_after.txt). The checkpointed
    # relation is the n-row assignment panel; blocks are released
    # between queries (session.release_checkpoints).
    stages = cell_assign_stages(
        base,
        cent,
        (),
        train_iters=_CQT_ITERS,
        materialize=materialize,
    )
    out = None
    for r, st in enumerate(stages):
        cnts = st.groupBy("cid").agg(F.count("*").cast("long").alias("cnt"))
        stats = st.agg(
            F.countDistinct("cid").cast("long").alias("n_cells"),
            F.sum(F.round(F.col("ccos") * 10000).cast("long"))
            .cast("long")
            .alias("sum_ccos_e4"),
        )
        mx = cnts.agg(F.max("cnt").alias("max_cell"))
        if r == 0:
            moved = stats.sparkSession.range(1).select(
                F.lit(0).cast("long").alias("n_moved")
            )
        else:
            moved = (
                stages[r]
                .select("vid", "cid")
                .join(
                    stages[r - 1].select(
                        "vid", F.col("cid").alias("pcid")
                    ),
                    "vid",
                )
                .filter(F.col("cid") != F.col("pcid"))
                .agg(F.count("*").cast("long").alias("n_moved"))
            )
        row = (
            stats.crossJoin(F.broadcast(mx))
            .crossJoin(F.broadcast(moved))
            .select(F.lit(r).cast("long").alias("stage"), "*")
        )
        out = row if out is None else out.unionByName(row)
    return out.selectExpr(*_CQT_FINAL).orderBy("stage")


# ---------------------------------------------------------------------------
# q_sq8_ann — per-dimension scalar (int8) quantization ANN audit
# ---------------------------------------------------------------------------

#: SQ8 levels (uint8 codes 0..255) — 64 dims x 1 B = 64 B/vector vs
#: 256 B raw float32 (4x compression; the FAISS "SQ8" baseline that
#: complements q_pq_ann's 64x PQ point on the compression/recall curve).
_SQ_LEVELS = 255

_SQ_ORACLE = f"""
    WITH v AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    d AS (
        SELECT vid, i AS dim, vv[i] AS x
        FROM v CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
    ),
    st AS (SELECT dim, MIN(x) AS lo, MAX(x) AS hi FROM d GROUP BY dim),
    dq AS (
        SELECT vid, d.dim,
               round(CASE WHEN hi = lo THEN lo
                          ELSE lo + round((x - lo) / (hi - lo) * {_SQ_LEVELS})
                               * (hi - lo) / {_SQ_LEVELS}.0
                     END, 6) AS dq
        FROM d JOIN st USING (dim)
    ),
    nrm AS (
        SELECT vid,
               sqrt(CAST(SUM(CAST(round(dq * dq * 1000000) AS BIGINT)) AS BIGINT)
                    / 1000000.0) AS nrm
        FROM dq GROUP BY vid
    ),
    qd AS (SELECT vid AS qid, dim, dq AS qdq FROM dq WHERE vid <= 5),
    dots AS (
        SELECT qd.qid, dq.vid,
               CAST(SUM(CAST(round(dq.dq * qd.qdq * 1000000) AS BIGINT)) AS BIGINT)
                   / 1000000.0 AS dot
        FROM dq JOIN qd USING (dim)
        WHERE dq.vid <> qd.qid
        GROUP BY qd.qid, dq.vid
    ),
    cossq AS (
        SELECT qid, dots.vid,
               round(dot / (n1.nrm * n2.nrm), 4) + 0.0 AS cos_sq
        FROM dots
        JOIN nrm n1 ON n1.vid = dots.vid
        JOIN nrm n2 ON n2.vid = dots.qid
    ),
    sqtop AS (
        SELECT qid, vid FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                                         ORDER BY cos_sq DESC, vid) AS rn
            FROM cossq
        ) WHERE rn <= 5
    ),
    nx AS (
        SELECT vid, vv, sqrt(list_sum(list_transform(vv, x -> x * x))) AS xn
        FROM v
    ),
    exact AS (
        SELECT qid, vid, cosine FROM (
            SELECT q.vid AS qid, nx.vid AS vid,
                   round(list_dot_product(nx.vv, q.vv) / (nx.xn * q.xn), 4) + 0.0
                       AS cosine,
                   row_number() OVER (
                       PARTITION BY q.vid
                       ORDER BY round(list_dot_product(nx.vv, q.vv)
                                      / (nx.xn * q.xn), 4) DESC, nx.vid) AS rn
            FROM nx CROSS JOIN (SELECT * FROM nx WHERE vid <= 5) q
            WHERE nx.vid <> q.vid
        ) WHERE rn <= 5
    ),
    recall AS (
        SELECT s.qid, COUNT(e.vid) AS hits
        FROM sqtop s LEFT JOIN exact e ON e.qid = s.qid AND e.vid = s.vid
        GROUP BY s.qid
    ),
    err AS (
        SELECT e.qid,
               CAST(SUM(abs(CAST(round(c.cos_sq * 10000) AS BIGINT)
                            - CAST(round(e.cosine * 10000) AS BIGINT)))
                    AS BIGINT) AS err_e4,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM exact e JOIN cossq c ON c.qid = e.qid AND c.vid = e.vid
        GROUP BY e.qid
    )
    SELECT recall.qid AS query_id,
           round(hits / 5.0, 2) AS recall_5,
           round(err_e4 / (n * 10000.0), 6) AS mean_abs_cos_err
    FROM recall JOIN err USING (qid)
    ORDER BY query_id
    """


@query("q_sq8_ann", oracle=_SQ_ORACLE)
def q_sq8_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension int8) embedding quantization ANN audit.

    SQ8 — the other classic FAISS compression point next to PQ
    (q_pq_ann): each dimension is affinely mapped onto uint8 codes
    ``round((x - lo_d)/(hi_d - lo_d) * 255)`` using GLOBAL per-dim
    [lo, hi] (a 64-row broadcast), searched symmetrically on the
    dequantized vectors, and audited per query: recall@5 of the SQ8
    top-5 vs the exact float tier, and the mean |cosine error| over
    the exact top-5.

    Cross-engine discipline: dequantized components are rounded to 6
    decimals, every dot/norm term is fixed-pointed to integer
    micro-units and summed as BIGINT, cosines rounded to 4 decimals
    before ranking, error in e4 integer units (the q_pq_ann ADC
    pattern exactly).

    Plan: one posexplode pass for the 64-row dim-stats broadcast; the
    search is corpus x bounded-panel (the sanctioned exact-tier shape
    — linear in n, panel <= 6); at production scale the SQ8 codes
    would feed the IVF cell routing of q_ivfpq_ann instead of a flat
    scan, with identical code arithmetic.
    """
    from ..functions.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # Spread the scan (single-row-group file = one task) so the
    # quantize/dequantize per-dim expressions parallelize.
    nv = emb.repartition(spark.sparkContext.defaultParallelism).select(
        F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("vv")
    )
    dims = nv.select("vid", F.posexplode("vv").alias("dim", "x"))
    st = dims.groupBy("dim").agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
    code = F.round((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo")) * _SQ_LEVELS)
    dq_val = F.round(
        F.when(F.col("hi") == F.col("lo"), F.col("lo")).otherwise(
            F.col("lo") + code * (F.col("hi") - F.col("lo")) / F.lit(float(_SQ_LEVELS))
        ),
        6,
    )
    dq = dims.join(F.broadcast(st), "dim").select("vid", "dim", dq_val.alias("dq"))
    nrm = dq.groupBy("vid").agg(
        F.sqrt(
            F.sum(F.round(F.col("dq") * F.col("dq") * 1000000).cast("long")).cast("long")
            / F.lit(1000000.0)
        ).alias("nrm")
    )
    qd = dq.filter(F.col("vid") <= 5).select(
        F.col("vid").alias("qid"), "dim", F.col("dq").alias("qdq")
    )
    dots = (
        dq.join(F.broadcast(qd), "dim")
        .filter(F.col("vid") != F.col("qid"))
        .groupBy("qid", "vid")
        .agg(
            (
                F.sum(F.round(F.col("dq") * F.col("qdq") * 1000000).cast("long")).cast(
                    "long"
                )
                / F.lit(1000000.0)
            ).alias("dot")
        )
    )
    qnrm = nrm.filter(F.col("vid") <= 5).select(F.col("vid").alias("qid"), F.col("nrm").alias("qnrm"))
    cossq = (
        dots.join(nrm, "vid")
        .join(F.broadcast(qnrm), "qid")
        .select(
            "qid",
            "vid",
            (F.lit(0.0) + F.round(F.col("dot") / (F.col("nrm") * F.col("qnrm")), 4)).alias(
                "cos_sq"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos_sq").desc(), F.col("vid"))
    sqtop = (
        cossq.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("qid", "vid")
    )
    exact = cosine_topk(emb, query_max_id=5, k=5).select(
        F.col("query_id").alias("qid"), F.col("vec_id").alias("vid"), "cosine"
    )
    recall = (
        sqtop.join(exact.select("qid", "vid", F.lit(1).alias("hit")), ["qid", "vid"], "left")
        .groupBy("qid")
        .agg(F.count("hit").alias("hits"))
    )
    err = (
        exact.join(cossq, ["qid", "vid"])
        .groupBy("qid")
        .agg(
            F.sum(
                F.abs(
                    F.round(F.col("cos_sq") * 10000).cast("long")
                    - F.round(F.col("cosine") * 10000).cast("long")
                )
            )
            .cast("long")
            .alias("err_e4"),
            F.count("*").cast("long").alias("n"),
        )
    )
    return (
        recall.join(err, "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.round(F.col("hits") / 5.0, 2).alias("recall_5"),
            F.round(F.col("err_e4") / (F.col("n") * 10000.0), 6).alias("mean_abs_cos_err"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q_ivf_nprobe_curve — recall vs probe-count sweep for the IVF index
# ---------------------------------------------------------------------------

#: Probe counts swept (a production tuning run sweeps further; 1/2/4
#: spans the fixture's ~sqrt(n) cell count meaningfully).
_NPROBE_LEVELS = (1, 2, 4)

from .cell_common import cell_ctes as _cell_ctes_np  # noqa: E402

_NPROBE_ORACLE = f"""
    WITH {_cell_ctes_np()},
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM n),
    q AS (SELECT vid AS qid, vv AS qv, nrm AS qnrm FROM n WHERE vid <= 5),
    qc AS (
        SELECT q.qid, c.cid,
               round(list_dot_product(q.qv, c.cv) / (q.qnrm * c.cnrm), 4)
                   AS qcos
        FROM q CROSS JOIN cent0 c
    ),
    qprobe AS (
        SELECT qid, cid, CAST(rn AS BIGINT) AS prank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY qid ORDER BY qcos DESC, cid) AS rn
            FROM qc
        ) WHERE rn <= {max(_NPROBE_LEVELS)}
    ),
    cand AS (
        SELECT p.qid, a.vid, p.prank,
               round(list_dot_product(a.vv, q.qv) / (a.nrm * q.qnrm), 4)
                   AS cos
        FROM assign a
        JOIN qprobe p USING (cid)
        JOIN q ON q.qid = p.qid
        WHERE a.vid <> p.qid
    ),
    pr AS (SELECT CAST(unnest([{", ".join(str(p) for p in _NPROBE_LEVELS)}])
                       AS BIGINT) AS nprobe),
    cand3 AS (
        SELECT pr.nprobe, c.qid, c.vid, c.cos
        FROM cand c CROSS JOIN pr WHERE c.prank <= pr.nprobe
    ),
    top3 AS (
        SELECT nprobe, qid, vid FROM (
            SELECT *, row_number() OVER (
                PARTITION BY nprobe, qid ORDER BY cos DESC, vid) AS rn
            FROM cand3
        ) WHERE rn <= 3
    ),
    exact AS (
        SELECT qid, vid FROM (
            SELECT q.qid, n.vid,
                   row_number() OVER (
                       PARTITION BY q.qid
                       ORDER BY round(list_dot_product(n.vv, q.qv)
                                      / (n.nrm * q.qnrm), 4) DESC, n.vid)
                       AS rn
            FROM n CROSS JOIN q
            WHERE n.vid <> q.qid
        ) WHERE rn <= 3
    ),
    hits AS (
        SELECT t.nprobe, t.qid, COUNT(e.vid) AS hits
        FROM top3 t LEFT JOIN exact e ON e.qid = t.qid AND e.vid = t.vid
        GROUP BY t.nprobe, t.qid
    ),
    nc AS (
        SELECT nprobe, qid, CAST(COUNT(*) AS BIGINT) AS n_cand
        FROM cand3 GROUP BY nprobe, qid
    )
    SELECT nc.nprobe AS nprobe, nc.qid AS query_id, nc.n_cand,
           round(nc.n_cand / (tot.nn * 1.0), 4) AS cand_frac,
           round(COALESCE(h.hits, 0) / 3.0, 4) AS recall_at_3
    FROM nc
    LEFT JOIN hits h ON h.nprobe = nc.nprobe AND h.qid = nc.qid
    CROSS JOIN tot
    ORDER BY nc.nprobe, query_id
    """


@query("q_ivf_nprobe_curve", oracle=_NPROBE_ORACLE)
def q_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-nprobe tuning sweep: for nprobe in {1, 2, 4},
    search only the query's top-nprobe cells and report per query the
    candidate count, the fraction of the corpus touched, and recall@3
    vs the exact tier — THE curve a production deployment reads to
    pick its recall/cost operating point (every q_ivf*/q_ivfpq query
    fixes nprobe=1; this measures what raising it buys).

    Plan: one sqrt(n)-cell assignment pass (the shared cell_common
    machinery — rank seeds, similarity.nearest), a bounded query x centroid
    probe ranking (<= |panel| * sqrt(n) rows), then ONE candidate join
    on cid evaluated once and reused for all probe levels via a 3-row
    broadcast level frame (prank <= nprobe) — the index property under
    test IS that candidates are ~nprobe/sqrt(n) of the corpus, so the
    exact-cosine evaluation touches that fraction, never all of it.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    base, _ = cell_base(emb)
    k = seed_k(base)
    cent = rank_seed_centroids(base, k)
    assign = assign_cells(base, cent)
    tot = base.agg(F.count("*").cast("long").alias("nn"))

    q = base.filter(F.col("vid") <= 5).select(
        F.col("vid").alias("qid"), F.col("vv").alias("qv"), F.col("nrm").alias("qnrm")
    )
    qc = q.crossJoin(F.broadcast(cent)).select(
        "qid",
        "cid",
        F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qnrm") * F.col("cnrm")), 4)
        .alias("qcos"),
    )
    w_p = Window.partitionBy("qid").orderBy(F.col("qcos").desc(), F.col("cid"))
    qprobe = (
        qc.withColumn("prank", F.row_number().over(w_p).cast("long"))
        .filter(F.col("prank") <= max(_NPROBE_LEVELS))
        .select("qid", "cid", "prank")
    )
    cand = (
        assign.join(F.broadcast(qprobe), "cid")
        .filter(F.col("vid") != F.col("qid"))
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "vid",
            "prank",
            F.round(
                _dot(F.col("vv"), F.col("qv")) / (F.col("nrm") * F.col("qnrm")), 4
            ).alias("cos"),
        )
    )
    pr = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(p).cast("long") for p in _NPROBE_LEVELS])
            ).alias("nprobe")
        )
    )
    cand3 = cand.crossJoin(F.broadcast(pr)).filter(F.col("prank") <= F.col("nprobe"))
    w_t = Window.partitionBy("nprobe", "qid").orderBy(F.col("cos").desc(), F.col("vid"))
    top3 = (
        cand3.withColumn("rn", F.row_number().over(w_t))
        .filter(F.col("rn") <= 3)
        .select("nprobe", "qid", "vid")
    )
    from ..functions.similarity import cosine_topk

    exact = cosine_topk(emb, query_max_id=5, k=3).select(
        F.col("query_id").alias("qid"), F.col("vec_id").alias("vid"),
        F.lit(1).alias("hit"),
    )
    hits = (
        top3.join(exact, ["qid", "vid"], "left")
        .groupBy("nprobe", "qid")
        .agg(F.count("hit").alias("hits"))
    )
    nc = cand3.groupBy("nprobe", "qid").agg(F.count("*").cast("long").alias("n_cand"))
    return (
        nc.join(hits, ["nprobe", "qid"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "nprobe",
            F.col("qid").alias("query_id"),
            "n_cand",
            F.round(F.col("n_cand") / (F.col("nn") * F.lit(1.0)), 4).alias("cand_frac"),
            F.round(F.coalesce(F.col("hits"), F.lit(0)) / 3.0, 4).alias("recall_at_3"),
        )
        .orderBy("nprobe", "query_id")
    )
