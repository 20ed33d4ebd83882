"""Retrieval-pipeline operators: RAG chunking and hybrid lexical+vector
search with reciprocal-rank fusion.

A RAG ingest/serve pipeline needs exactly two things this engine did
not yet expose as first-class queries: (1) deterministic sliding-window
chunking of documents into retrieval units, and (2) hybrid retrieval —
a BM25 lexical leg and an embedding-cosine vector leg fused by
Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, SIGIR 2009:
``score(d) = sum over legs 1/(k + rank_leg(d))``, k = 60).

No reference counterpart (the reference's query plane is wc/grep —
`/root/reference/tests/testdata/exec/wc_map.sh`); public-knowledge
algorithms throughout (BM25: Robertson & Zaragoza 2009 with the Lucene
idf; RRF: Cormack et al. 2009).

Cross-engine discipline (the q_bm25 / q_unigram_logprob pattern): every
float term that feeds a SUM is rounded to integer micro/nano units and
summed as BIGINT, and every score that feeds a rank is rounded first,
so neither float addition order nor a 1-ulp libm difference can flip a
ranking between Spark and DuckDB.

Scale posture: the corpus side is touched by exactly two linear passes
(token explode -> (doc, term) hash agg; doc lengths), the query panel
is a bounded broadcast (|panel| * top_terms <= 48 rows), and candidate
fan-out is the postings of those <= 48 terms — an inverted-index probe,
never a corpus x corpus product. Chunking is a per-row 1->N JVM array
op with zero shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.similarity import cosine_topk
from ..functions.text import tokens_col
from ..session import materialize
from ..sources.tables import load_table
from .registry import query

#: Chunk geometry: 64-token windows, stride 48 (25% overlap) — the
#: common "overlap a quarter" RAG default, small enough that the
#: sf0.001 fixture docs produce multi-chunk outputs.
_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48

#: RRF constant k (Cormack et al. use 60) and per-leg candidate depth.
_RRF_K = 60
_LEG_DEPTH = 20
#: Query panel (doc_id <= 5, the q_cosine_topk convention) and the
#: number of top-TF-IDF terms that form each query-by-example.
_PANEL_MAX_ID = 5
_QUERY_TERMS = 8

_TOKS_CTE = """
toks AS (
    SELECT doc_id AS doc,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
)"""


#: Shared oracle CTE chain producing the chunk relation
#: chunks(doc_id, chunk_id, start_tok, n_tokens, chunk_hash) — one
#: canonical copy for q_rag_chunks and q_chunk_dedup.
_CHUNKS_CTE = f"""{_TOKS_CTE},
    sized AS (
        SELECT doc, toks, CAST(len(toks) AS BIGINT) AS n FROM toks
        WHERE len(toks) > 0
    ),
    counted AS (
        SELECT doc, toks, n,
               CASE WHEN n <= {_CHUNK_TOKENS} THEN 1
                    ELSE CAST(floor((n - {_CHUNK_TOKENS} + {_CHUNK_STRIDE} - 1)
                                    / {_CHUNK_STRIDE}.0) AS BIGINT) + 1
               END AS nc
        FROM sized
    ),
    exploded AS (
        SELECT doc, n, unnest(range(0, nc)) AS cid, toks
        FROM counted
    ),
    chunks AS (
        SELECT doc AS doc_id,
               CAST(cid AS BIGINT) AS chunk_id,
               CAST(cid * {_CHUNK_STRIDE} AS BIGINT) AS start_tok,
               CAST(len(toks[cid * {_CHUNK_STRIDE} + 1 :
                             cid * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}])
                    AS BIGINT) AS n_tokens,
               md5(array_to_string(
                   toks[cid * {_CHUNK_STRIDE} + 1 :
                        cid * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}],
                   ' ')) AS chunk_hash
        FROM exploded
    )"""


@query(
    "q_rag_chunks",
    oracle=f"""
    WITH {_CHUNKS_CTE}
    SELECT doc_id, chunk_id, start_tok, n_tokens, chunk_hash
    FROM chunks
    ORDER BY doc_id, chunk_id
    """,
)
def q_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window RAG chunking: 64-token chunks, stride 48 — the
    MATERIALIZATION operator (per-chunk rows with stable md5 keys).
    ``q_rag_chunking`` (plans/curation.py) is the planning-side cousin:
    it sizes chunk counts / storage blowup across candidate configs
    without materializing anything; this query emits the chunk relation
    itself for the config a pipeline picked.

    Pure JVM array plan — tokenize, compute the chunk count
    ``ceil((n - W)/S) + 1`` (one chunk when the doc fits in a window),
    explode a ``sequence`` of chunk ids, and ``slice`` out each window
    (``slice`` clamps at the end of the array in both engines, so the
    final short chunk needs no special case). The md5 of the re-joined
    chunk text is the retrieval-unit key downstream indexes would use.
    Zero shuffles before the output sort: the 1->N explode stays in the
    scan stage, which is exactly how a 100 TB ingest wants chunking to
    behave (no repartition, no Python).
    """
    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs).orderBy("doc_id", "chunk_id")


def chunk_documents(docs: DataFrame) -> DataFrame:
    """The chunking transform itself (doc_id, text) -> per-chunk rows —
    stateless per-row 1->N, shared by the batch query and its streaming
    twin (``q_stream_rag_chunks``) so there is exactly one canonical
    copy of the geometry arithmetic."""
    toks = docs.select(
        F.col("doc_id"), tokens_col(F.lower(F.col("text"))).alias("toks")
    ).filter(F.size("toks") > 0)
    n = F.size("toks").cast("long")
    nc = (
        F.when(n <= _CHUNK_TOKENS, F.lit(1).cast("long"))
        .otherwise(
            F.floor((n - _CHUNK_TOKENS + _CHUNK_STRIDE - 1) / F.lit(float(_CHUNK_STRIDE)))
            + 1
        )
    )
    chunked = toks.withColumn("nc", nc).select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("long"), F.col("nc") - 1)).alias("cid"),
    )
    window = F.slice(
        F.col("toks"), (F.col("cid") * _CHUNK_STRIDE + 1).cast("int"), _CHUNK_TOKENS
    )
    return chunked.select(
        "doc_id",
        F.col("cid").alias("chunk_id"),
        (F.col("cid") * _CHUNK_STRIDE).alias("start_tok"),
        F.size(window).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", window)).alias("chunk_hash"),
    )


def _rrf_ctes() -> str:
    """CTE chain ending in ``fused_ranked(query_id, doc_id, lex_rank,
    vec_rank, rrf_nano, fused_rank)`` — shared by q_hybrid_rrf and
    q_retrieval_ndcg (one canonical copy of the fusion arithmetic)."""
    return f"""{_TOKS_CTE},
    dl AS (
        SELECT doc, CAST(len(toks) AS BIGINT) AS dl FROM toks
    ),
    tf AS (
        SELECT doc, unnest(toks) AS term FROM toks
    ),
    tfc AS (
        SELECT doc, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tf GROUP BY doc, term
    ),
    dfc AS (
        SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY term
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    qterms AS (
        SELECT qid, term FROM (
            SELECT tfc.doc AS qid, tfc.term,
                   row_number() OVER (
                       PARTITION BY tfc.doc
                       ORDER BY round(tfc.tf * ln(CAST(g.n AS DOUBLE) / dfc.df), 6)
                                    DESC,
                                tfc.term) AS rn
            FROM tfc JOIN dfc USING (term) CROSS JOIN g
            WHERE tfc.doc <= {_PANEL_MAX_ID}
        ) WHERE rn <= {_QUERY_TERMS}
    ),
    contrib AS (
        SELECT q.qid, tfc.doc,
               CAST(round(
                   ln((g.n - dfc.df + 0.5) / (dfc.df + 0.5) + 1.0)
                   * tfc.tf * 2.2
                   / (tfc.tf + 1.2 * (0.25 + 0.75 * dl.dl / g.avgdl))
                   * 1000000) AS BIGINT) AS c
        FROM tfc
        JOIN qterms q USING (term)
        JOIN dfc ON dfc.term = tfc.term
        JOIN dl ON dl.doc = tfc.doc
        CROSS JOIN g
        WHERE tfc.doc <> q.qid
    ),
    lex AS (
        SELECT qid, doc, row_number() OVER (
                   PARTITION BY qid ORDER BY bm25 DESC, doc) AS lex_rank
        FROM (
            SELECT qid, doc,
                   round(CAST(SUM(c) AS BIGINT) / 1000000.0, 4) AS bm25
            FROM contrib GROUP BY qid, doc
        )
        QUALIFY lex_rank <= {_LEG_DEPTH}
    ),
    v AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    nv AS (
        SELECT vid, vv, sqrt(list_sum(list_transform(vv, x -> x * x))) AS nrm
        FROM v
    ),
    vec AS (
        SELECT qid, doc, row_number() OVER (
                   PARTITION BY qid ORDER BY cosine DESC, doc) AS vec_rank
        FROM (
            SELECT q.vid AS qid, nv.vid AS doc,
                   round(list_dot_product(nv.vv, q.vv) / (nv.nrm * q.nrm), 4) + 0.0
                       AS cosine
            FROM nv CROSS JOIN (SELECT * FROM nv WHERE vid <= {_PANEL_MAX_ID}) q
            WHERE nv.vid <> q.vid
        )
        QUALIFY vec_rank <= {_LEG_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(lex.qid, vec.qid) AS query_id,
               COALESCE(lex.doc, vec.doc) AS doc_id,
               CAST(lex.lex_rank AS BIGINT) AS lex_rank,
               CAST(vec.vec_rank AS BIGINT) AS vec_rank,
               COALESCE(CAST(round(1000000000.0 / ({_RRF_K} + lex.lex_rank))
                             AS BIGINT), 0)
               + COALESCE(CAST(round(1000000000.0 / ({_RRF_K} + vec.vec_rank))
                               AS BIGINT), 0) AS rrf_nano
        FROM lex FULL OUTER JOIN vec
          ON lex.qid = vec.qid AND lex.doc = vec.doc
    ),
    fused_ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id ORDER BY rrf_nano DESC, doc_id)
                   AS fused_rank
        FROM fused
    )"""


def _rrf_oracle() -> str:
    """DuckDB oracle for q_hybrid_rrf (shared constants inlined)."""
    return f"""
    WITH {_rrf_ctes()}
    SELECT query_id, doc_id,
           round(rrf_nano / 1000000000.0, 6) AS rrf,
           lex_rank, vec_rank,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM fused_ranked
    WHERE fused_rank <= 5
    ORDER BY query_id, fused_rank
    """


@query("q_hybrid_rrf", oracle=_rrf_oracle())
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 + embedding cosine, fused by RRF (k=60) —
    the lexical x VECTOR fusion a RAG serving stack runs per query
    (q_rrf_fusion is the lexical-only cousin: it fuses two rankings of
    the same token space for one fixed term set; this one fuses across
    modalities for a query panel).

    Query-by-example panel (doc_id <= 5): each query doc is represented
    lexically by its top-8 TF-IDF terms and semantically by its
    embedding. The lexical leg scores the corpus with Lucene-idf BM25
    over those terms (integer micro-unit contributions, the q_bm25
    pattern); the vector leg is the exact cosine tier
    (:func:`cosine_topk`, the sanctioned broadcast crossJoin of a
    bounded panel). Each leg keeps its top-20, and the fusion is
    ``sum(1/(60 + rank))`` in integer NANO-units so the fused ordering
    is identical across engines. Docs found by only one leg keep a
    NULL rank on the other — RRF's defining property is that it fuses
    incomparable score scales through ranks alone.

    Plan: two linear corpus passes (tf hash-agg, doc lengths) +
    vocab-scale df agg; the panel's <= 48 query terms broadcast into an
    inverted-index probe (postings join, never corpus x corpus); the
    final fuse is a full-outer join of two <= |panel| * 20-row legs.
    """
    ranked = hybrid_rrf_ranked(spark, sf_dir)
    return (
        ranked.filter(F.col("fused_rank") <= 5)
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("rrf_nano") / F.lit(1000000000.0), 6).alias("rrf"),
            "lex_rank",
            "vec_rank",
            "fused_rank",
        )
        .orderBy("query_id", "fused_rank")
    )


def hybrid_rrf_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full fused ranking (query_id, doc_id, lex_rank, vec_rank,
    rrf_nano, fused_rank) — one canonical copy of the fusion plan,
    shared by q_hybrid_rrf (top-5 readout) and q_retrieval_ndcg (the
    ranking-quality eval)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"), tokens_col(F.lower(F.col("text"))).alias("toks")
    )
    dl = toks.select("doc", F.size("toks").cast("long").alias("dl"))
    tfc = (
        toks.select("doc", F.explode("toks").alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfc = tfc.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    g = dl.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )

    # Top-8 TF-IDF query terms per panel doc (panel side is bounded, so
    # broadcast it into the vocab-scale df relation).
    qtf = tfc.filter(F.col("doc") <= _PANEL_MAX_ID)
    w_q = Window.partitionBy("qid").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    qterms = (
        dfc.join(F.broadcast(qtf.withColumnRenamed("doc", "qid")), "term")
        .crossJoin(F.broadcast(g))
        .select(
            "qid",
            "term",
            F.round(F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6)
            .alias("tfidf"),
        )
        .withColumn("rn", F.row_number().over(w_q))
        .filter(F.col("rn") <= _QUERY_TERMS)
        .select("qid", "term")
    )

    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))
    contrib = (
        tfc.join(F.broadcast(qterms), "term")
        .filter(F.col("doc") != F.col("qid"))
        .join(F.broadcast(dfc.join(F.broadcast(qterms.select("term").distinct()), "term")), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(g))
        .select(
            "qid",
            "doc",
            F.round(idf * F.col("tf") * 2.2 / denom * 1000000).cast("long").alias("c"),
        )
    )
    w_lex = Window.partitionBy("qid").orderBy(F.col("bm25").desc(), F.col("doc"))
    lex = (
        contrib.groupBy("qid", "doc")
        .agg(F.round(F.sum("c") / F.lit(1000000.0), 4).alias("bm25"))
        .withColumn("lex_rank", F.row_number().over(w_lex))
        .filter(F.col("lex_rank") <= _LEG_DEPTH)
        .select("qid", "doc", F.col("lex_rank").cast("long").alias("lex_rank"))
    )

    emb = load_table(spark, sf_dir, "embeddings")
    vec = cosine_topk(emb, query_max_id=_PANEL_MAX_ID, k=_LEG_DEPTH).select(
        F.col("query_id").alias("qid"),
        F.col("vec_id").alias("doc"),
        F.col("rank").cast("long").alias("vec_rank"),
    )

    nano = lambda rank: F.coalesce(  # noqa: E731
        F.round(F.lit(1000000000.0) / (_RRF_K + rank)).cast("long"), F.lit(0).cast("long")
    )
    fused = (
        lex.join(vec, ["qid", "doc"], "full_outer")
        .select(
            F.col("qid").alias("query_id"),
            F.col("doc").alias("doc_id"),
            "lex_rank",
            "vec_rank",
            (nano(F.col("lex_rank")) + nano(F.col("vec_rank"))).alias("rrf_nano"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.col("rrf_nano").desc(), F.col("doc_id"))
    return fused.withColumn("fused_rank", F.row_number().over(w_f).cast("long"))


@query(
    "q_chunk_dedup",
    oracle=f"""
    WITH {_CHUNKS_CTE},
    hs AS (
        SELECT chunk_hash, COUNT(DISTINCT doc_id) AS nd
        FROM chunks GROUP BY chunk_hash
    ),
    per_doc AS (
        SELECT c.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_shared_chunks
        FROM chunks c JOIN hs USING (chunk_hash)
        GROUP BY c.doc_id
    )
    SELECT doc_id, n_chunks, n_shared_chunks,
           round(n_shared_chunks / (n_chunks * 1.0), 4) AS shared_ratio
    FROM per_doc
    WHERE n_shared_chunks > 0
    ORDER BY doc_id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-level cross-document duplication audit — the dedup pass a
    RAG INDEX needs (q_exact_dups dedupes whole documents; a vector
    index stores CHUNKS, and two near-dup documents flood it with
    identical retrieval units that whole-doc near-dup thresholds can
    miss). A chunk is "shared" when its hash appears in more than one
    document; per-document output is the share of its chunks that some
    other document also contributes (docs with zero sharing are
    omitted — the audit's working set, like q_personalized_pagerank's
    sparsity).

    Plan: the stateless chunk explode (one canonical copy:
    :func:`chunk_documents`), one hash-keyed agg for cross-doc counts
    (uniform md5 keys — no skew), a hash-keyed join back, and a per-doc
    agg. All shuffle keys are content hashes or doc ids; nothing is
    all-pairs, so the audit is linear in corpus chunk count at 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs)
    hs = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    return (
        chunks.join(hs, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_chunks"),
        )
        .filter(F.col("n_shared_chunks") > 0)
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.round(F.col("n_shared_chunks") / (F.col("n_chunks") * F.lit(1.0)), 4)
            .alias("shared_ratio"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_retrieval_ndcg — graded ranking-quality eval of the hybrid retriever
# ---------------------------------------------------------------------------

#: DCG position discounts 1/log2(i+1) for i = 1..5 in integer
#: MICRO-units (inlined literals — no libm log2 in either engine).
_NDCG_W = (1000000, 630930, 500000, 430677, 386853)

#: Graded-relevance depth: exact cosine top-20 defines rel = 21 - rank.
_NDCG_TRUTH_DEPTH = 20


def _ndcg_oracle() -> str:
    w_list = ", ".join(str(w) for w in _NDCG_W)
    pos_list = ", ".join(str(i + 1) for i in range(len(_NDCG_W)))
    return f"""
    WITH {_rrf_ctes()},
    f5 AS (
        SELECT query_id, doc_id, CAST(fused_rank AS BIGINT) AS fused_rank
        FROM fused_ranked WHERE fused_rank <= 5
    ),
    truth AS (
        SELECT qid, doc, CAST({_NDCG_TRUTH_DEPTH} + 1 - rn AS BIGINT) AS rel
        FROM (
            SELECT q.vid AS qid, nv.vid AS doc,
                   row_number() OVER (
                       PARTITION BY q.vid
                       ORDER BY round(list_dot_product(nv.vv, q.vv)
                                      / (nv.nrm * q.nrm), 4) DESC, nv.vid)
                       AS rn
            FROM nv CROSS JOIN (SELECT * FROM nv WHERE vid <= {_PANEL_MAX_ID}) q
            WHERE nv.vid <> q.vid
        ) WHERE rn <= {_NDCG_TRUTH_DEPTH}
    ),
    wts AS (
        SELECT unnest([{pos_list}]) AS pos,
               unnest([{w_list}]) AS w
    ),
    dcg AS (
        SELECT f5.query_id,
               CAST(SUM(COALESCE(t.rel, 0) * w.w) AS BIGINT) AS dcg_micro
        FROM f5
        JOIN wts w ON w.pos = f5.fused_rank
        LEFT JOIN truth t ON t.qid = f5.query_id AND t.doc = f5.doc_id
        GROUP BY f5.query_id
    ),
    ideal AS (
        SELECT qid AS query_id,
               CAST(SUM(rel * w.w) AS BIGINT) AS idcg_micro
        FROM (
            SELECT qid, rel, row_number() OVER (
                       PARTITION BY qid ORDER BY rel DESC) AS pos
            FROM truth
        ) i
        JOIN wts w ON w.pos = i.pos
        WHERE i.pos <= 5
        GROUP BY qid
    )
    SELECT d.query_id, d.dcg_micro, i.idcg_micro,
           round(d.dcg_micro / (i.idcg_micro * 1.0), 6) AS ndcg
    FROM dcg d JOIN ideal i USING (query_id)
    ORDER BY query_id
    """


@query("q_retrieval_ndcg", oracle=_ndcg_oracle())
def q_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@5 of the hybrid RRF retriever against graded relevance
    from the exact cosine tier (rel = 21 - exact_rank for the top-20,
    0 beyond) — the standard graded ranking-quality eval
    (Jarvelin & Kekalainen 2002) that complements q_ann_recall's
    set-overlap view: it rewards putting the MOST relevant documents
    FIRST, not merely retrieving them.

    Cross-engine discipline: the position discounts ``1/log2(i+1)``
    are inlined integer MICRO-unit literals (no libm log2 call in
    either engine), DCG and ideal-DCG are exact BIGINT sums, and nDCG
    is one rounded division of two integers.

    Plan: the fused ranking is the shared :func:`hybrid_rrf_ranked`
    plan; truth is the sanctioned bounded-panel exact tier
    (:func:`cosine_topk` at depth 20); the eval itself joins two
    <= |panel| * 5-row frames against a 5-row weight literal.
    """
    ranked = hybrid_rrf_ranked(spark, sf_dir)
    f5 = ranked.filter(F.col("fused_rank") <= 5).select(
        "query_id", "doc_id", "fused_rank"
    )
    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk(emb, query_max_id=_PANEL_MAX_ID, k=_NDCG_TRUTH_DEPTH).select(
        F.col("query_id").alias("qid"),
        F.col("vec_id").alias("doc"),
        (F.lit(_NDCG_TRUTH_DEPTH + 1) - F.col("rank")).cast("long").alias("rel"),
    )
    w_arr = F.array(*[F.lit(w).cast("long") for w in _NDCG_W])
    dcg = (
        f5.join(
            truth,
            (f5.query_id == truth.qid) & (f5.doc_id == truth.doc),
            "left",
        )
        .select(
            "query_id",
            (
                F.coalesce(F.col("rel"), F.lit(0).cast("long"))
                * F.element_at(w_arr, F.col("fused_rank").cast("int"))
            ).alias("dw"),
        )
        .groupBy("query_id")
        .agg(F.sum("dw").cast("long").alias("dcg_micro"))
    )
    w_i = Window.partitionBy("qid").orderBy(F.col("rel").desc())
    ideal = (
        truth.withColumn("pos", F.row_number().over(w_i))
        .filter(F.col("pos") <= 5)
        .select(
            F.col("qid").alias("query_id"),
            (F.col("rel") * F.element_at(w_arr, F.col("pos"))).alias("iw"),
        )
        .groupBy("query_id")
        .agg(F.sum("iw").cast("long").alias("idcg_micro"))
    )
    return (
        dcg.join(ideal, "query_id")
        .select(
            "query_id",
            "dcg_micro",
            "idcg_micro",
            F.round(F.col("dcg_micro") / (F.col("idcg_micro") * F.lit(1.0)), 6).alias(
                "ndcg"
            ),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q_mmr_diversify — Maximal Marginal Relevance re-ranking of the top-10
# ---------------------------------------------------------------------------

#: MMR trade-off lambda as integer permille (0.7 relevance / 0.3
#: diversity — the Carbonell & Goldstein default region) and the
#: candidate/selection depths.
_MMR_LAMBDA_MILLI = 700
_MMR_CAND = 10
_MMR_SELECT = 5


def _mmr_oracle() -> str:
    """Unrolled MMR selection. All arithmetic is INTEGER: rel4/sim4
    are round(cosine * 1e4) ints and the MMR objective is
    ``700 * rel4 - 300 * max_sim4`` — no float anywhere after the
    rounded cosines, so selection order is trivially engine-exact."""
    lam = _MMR_LAMBDA_MILLI
    rounds = []
    for t in range(1, _MMR_SELECT + 1):
        prev = f"sel{t - 1}"
        rounds.append(f"""ms{t} AS MATERIALIZED (
        SELECT s.qid, s.did, MAX(p.sim4) AS max_sim4
        FROM (SELECT c.qid, c.did FROM cand c
              WHERE NOT EXISTS (SELECT 1 FROM {prev} z
                                WHERE z.qid = c.qid AND z.did = c.did)) s
        JOIN sims p ON p.qid = s.qid AND p.a_did = s.did
        JOIN {prev} z ON z.qid = p.qid AND z.did = p.b_did
        GROUP BY s.qid, s.did
    ),
    pick{t} AS MATERIALIZED (
        SELECT qid, did, rel4 FROM (
            SELECT c.qid, c.did, c.rel4,
                   row_number() OVER (
                       PARTITION BY c.qid
                       ORDER BY {lam} * c.rel4
                                - {1000 - lam} * COALESCE(m.max_sim4, 0) DESC,
                                c.did) AS rn
            FROM cand c
            LEFT JOIN ms{t} m ON m.qid = c.qid AND m.did = c.did
            WHERE NOT EXISTS (SELECT 1 FROM {prev} z
                              WHERE z.qid = c.qid AND z.did = c.did)
        ) WHERE rn = 1
    ),
    sel{t} AS MATERIALIZED (
        SELECT qid, did, snum FROM {prev}
        UNION ALL
        SELECT qid, did, {t} AS snum FROM pick{t}
    )""")
    chain = ",\n    ".join(rounds)
    return f"""
    WITH v AS (
        SELECT vec_id AS vid,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
        FROM embeddings
    ),
    nv AS (
        SELECT vid, vv, sqrt(list_sum(list_transform(vv, x -> x * x))) AS nrm
        FROM v
    ),
    cand AS MATERIALIZED (
        SELECT qid, did, rel4 FROM (
            SELECT q.vid AS qid, nv.vid AS did,
                   CAST(round(list_dot_product(nv.vv, q.vv)
                              / (nv.nrm * q.nrm) * 10000) AS BIGINT) AS rel4,
                   row_number() OVER (
                       PARTITION BY q.vid
                       ORDER BY round(list_dot_product(nv.vv, q.vv)
                                      / (nv.nrm * q.nrm), 4) DESC, nv.vid)
                       AS rn
            FROM nv CROSS JOIN (SELECT * FROM nv WHERE vid <= {_PANEL_MAX_ID}) q
            WHERE nv.vid <> q.vid
        ) WHERE rn <= {_MMR_CAND}
    ),
    sims AS MATERIALIZED (
        SELECT a.qid, a.did AS a_did, b.did AS b_did,
               CAST(round(list_dot_product(na.vv, nb.vv)
                          / (na.nrm * nb.nrm) * 10000) AS BIGINT) AS sim4
        FROM cand a
        JOIN cand b ON b.qid = a.qid AND b.did <> a.did
        JOIN nv na ON na.vid = a.did
        JOIN nv nb ON nb.vid = b.did
    ),
    sel0 AS (SELECT CAST(NULL AS BIGINT) AS qid, CAST(NULL AS BIGINT) AS did,
                    CAST(NULL AS BIGINT) AS snum WHERE 1 = 0),
    {chain}
    SELECT s.qid AS query_id, s.did AS doc_id,
           CAST(s.snum AS BIGINT) AS mmr_rank,
           round(c.rel4 / 10000.0, 4) AS rel
    FROM sel{_MMR_SELECT} s
    JOIN cand c ON c.qid = s.qid AND c.did = s.did
    ORDER BY query_id, mmr_rank
    """


@query("q_mmr_diversify", oracle=_mmr_oracle())
def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick 5 of each query's exact-cosine top-10 by
    ``0.7 * relevance - 0.3 * max-similarity-to-already-picked`` — the
    diversity-aware re-rank every retrieval stack runs so five
    near-identical chunks don't fill the context window. Pure INTEGER
    objective (``700 * rel4 - 300 * max_sim4`` over e4-rounded
    cosines), so the greedy selection order is engine-exact and the
    oracle unrolls the 5 picks as MATERIALIZED CTEs.

    Plan: candidate generation is the sanctioned bounded-panel exact
    tier (:func:`cosine_topk` at depth 10) — the only corpus-touching
    stage; the candidate-pair similarity matrix and all 5 selection
    rounds run on <= |panel| * 10-row broadcast frames.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cand = cosine_topk(emb, query_max_id=_PANEL_MAX_ID, k=_MMR_CAND).select(
        F.col("query_id").alias("qid"),
        F.col("vec_id").alias("did"),
        F.round(F.col("cosine") * 10000).cast("long").alias("rel4"),
    )
    nv = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").cast("array<double>").alias("vv")
    ).withColumn(
        "nrm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("vv"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    cvec = nv.join(
        F.broadcast(cand.select("qid", "did").withColumnRenamed("did", "vid")), "vid"
    ).select("qid", F.col("vid").alias("did"), "vv", "nrm")
    from ..functions.similarity import _dot as _sdot

    b = cvec.select(
        F.col("qid"),
        F.col("did").alias("b_did"),
        F.col("vv").alias("bvv"),
        F.col("nrm").alias("bnrm"),
    )
    sims = materialize(
        cvec.join(F.broadcast(b), "qid")
        .filter(F.col("did") != F.col("b_did"))
        .select(
            "qid",
            F.col("did").alias("a_did"),
            "b_did",
            F.round(
                _sdot(F.col("vv"), F.col("bvv")) / (F.col("nrm") * F.col("bnrm")) * 10000
            )
            .cast("long")
            .alias("sim4"),
        )
    )
    cand = materialize(cand)

    lam, inv = _MMR_LAMBDA_MILLI, 1000 - _MMR_LAMBDA_MILLI
    sel = None  # (qid, did, snum)
    for t in range(1, _MMR_SELECT + 1):
        if sel is None:
            remaining = cand
        else:
            remaining = cand.join(sel.select("qid", "did"), ["qid", "did"], "left_anti")
        if sel is None:
            scored = remaining.withColumn("max_sim4", F.lit(0).cast("long"))
        else:
            ms = (
                sims.withColumnRenamed("a_did", "did")
                .join(
                    sel.select("qid", F.col("did").alias("b_did")),
                    ["qid", "b_did"],
                )
                .groupBy("qid", "did")
                .agg(F.max("sim4").alias("max_sim4"))
            )
            scored = remaining.join(ms, ["qid", "did"], "left").withColumn(
                "max_sim4", F.coalesce(F.col("max_sim4"), F.lit(0).cast("long"))
            )
        w = Window.partitionBy("qid").orderBy(
            (F.lit(lam) * F.col("rel4") - F.lit(inv) * F.col("max_sim4")).desc(),
            F.col("did"),
        )
        pick = (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("qid", "did", F.lit(t).cast("long").alias("snum"))
        )
        sel = pick if sel is None else sel.unionAll(pick)
        sel = materialize(sel)

    return (
        sel.join(cand, ["qid", "did"])
        .select(
            F.col("qid").alias("query_id"),
            F.col("did").alias("doc_id"),
            F.col("snum").alias("mmr_rank"),
            F.round(F.col("rel4") / 10000.0, 4).alias("rel"),
        )
        .orderBy("query_id", "mmr_rank")
    )


# ---------------------------------------------------------------------------
# q_retrieval_mrr — mean reciprocal rank of the hybrid retriever
# ---------------------------------------------------------------------------

_MRR_DEPTH = 10

_MRR_FINAL = (
    "query_id",
    "CAST(truth_doc AS BIGINT) AS truth_doc",
    "CAST(rank_in_fused AS BIGINT) AS rank_in_fused",
    "CAST(rr_micro AS BIGINT) AS rr_micro",
    "CAST(mrr_micro AS BIGINT) AS mrr_micro",
)


def _mrr_oracle() -> str:
    return f"""
    WITH {_rrf_ctes()},
    truth1 AS (
        SELECT qid, doc FROM (
            SELECT q.vid AS qid, nv.vid AS doc,
                   row_number() OVER (
                       PARTITION BY q.vid
                       ORDER BY round(list_dot_product(nv.vv, q.vv)
                                      / (nv.nrm * q.nrm), 4) DESC, nv.vid)
                       AS rn
            FROM nv CROSS JOIN (SELECT * FROM nv WHERE vid <= {_PANEL_MAX_ID}) q
            WHERE nv.vid <> q.vid
        ) WHERE rn = 1
    ),
    rr AS (
        SELECT t.qid AS query_id, t.doc AS truth_doc,
               CASE WHEN f.fused_rank <= {_MRR_DEPTH}
                    THEN CAST(f.fused_rank AS BIGINT) END AS rank_in_fused,
               CASE WHEN f.fused_rank <= {_MRR_DEPTH}
                    THEN 1000000 // f.fused_rank ELSE 0 END AS rr_micro
        FROM truth1 t
        LEFT JOIN fused_ranked f
          ON f.query_id = t.qid AND f.doc_id = t.doc
    ),
    m AS (
        SELECT CAST(SUM(rr_micro) // COUNT(*) AS BIGINT) AS mrr_micro FROM rr
    )
    SELECT {", ".join(_MRR_FINAL)} FROM rr CROSS JOIN m ORDER BY query_id
    """


@query("q_retrieval_mrr", oracle=_mrr_oracle())
def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank (MRR@10) of the hybrid RRF retriever — the
    known-item-search eval next to q_retrieval_ndcg's graded one: for
    each panel query, where does the single most-relevant document
    (the exact-cosine top-1) land in the fused ranking? Reports the
    per-query reciprocal rank (0 when the truth doc misses the top
    10) and the panel MRR.

    Exactness: reciprocal ranks are exact integer floor divisions
    (1e6 // rank); the MRR is an exact integer mean; the fused
    ranking and the exact-cosine truth reuse the 4-decimal-rounded
    cosine + id-tiebreak discipline verbatim
    (``hybrid_rrf_ranked`` / ``cosine_topk`` — one canonical copy of
    each plan).

    Scale: the fusion plan is q_hybrid_rrf's (postings-bounded BM25
    leg + broadcast-panel cosine leg); the eval adds a 5-row join.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    truth = cosine_topk(emb, query_max_id=_PANEL_MAX_ID, k=1).select(
        F.col("query_id").alias("qid"), F.col("vec_id").alias("truth_doc")
    )
    fused = hybrid_rrf_ranked(spark, sf_dir)
    rr = (
        truth.join(
            fused,
            (fused["query_id"] == truth["qid"])
            & (fused["doc_id"] == truth["truth_doc"]),
            "left",
        )
        .select(
            truth["qid"].alias("query_id"),
            "truth_doc",
            F.when(
                F.col("fused_rank") <= _MRR_DEPTH, F.col("fused_rank")
            ).alias("rank_in_fused"),
            F.when(
                F.col("fused_rank") <= _MRR_DEPTH,
                (F.lit(1000000).cast("long") / F.col("fused_rank")).cast(
                    "long"
                ),
            )
            .otherwise(0)
            .alias("rr_micro"),
        )
    )
    m = rr.agg(
        (F.sum("rr_micro") - F.sum("rr_micro") % F.count("*"))
        .alias("s"),
        F.count("*").alias("n"),
    ).select(
        (F.col("s") / F.col("n")).cast("long").alias("mrr_micro")
    )
    return rr.crossJoin(F.broadcast(m)).selectExpr(*_MRR_FINAL).orderBy(
        "query_id"
    )
