"""Corpus-statistics queries: repetition profiling and inverted index.

Training-data pipelines filter documents whose text is dominated by a
few repeated tokens/bigrams (the Gopher/MassiveText-style repetition
rules) and build token→document statistics for retrieval and corpus
introspection. Both operators here are pure built-in-function plans:
explode → hash aggregate, no Python in the hot path.

Cross-engine parity: fractions are ratios of exact integers rounded to
6 decimals; threshold flags are computed in *integer* arithmetic
(``5*top_n > n_tokens`` instead of ``top_n/n_tokens > 0.2``) so a
float ulp can never flip a flag between engines. Count-like outputs
are cast to BIGINT on both sides (DuckDB's SUM(int) is HUGEINT).

Reference parity: the reference (/root/reference/mapreduce/) has no
corpus-analytics surface — this is part of the additive LLM-pipeline
plane the build brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.graph import hits_scores
from ..functions.text import tokens_col, word_shingles
from ..session import materialize
from ..sources.tables import load_table
from .registry import query

#: Tokens per document in DuckDB (mirrors tokens_col).
_TOKS_CTE = """
toks AS (
    SELECT doc_id AS doc,
           list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
    FROM documents
)"""

#: Bigrams per document (mirrors word_shingles(toks, 2)).
_BIGRAM_EXPR = (
    "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])"
)


@query(
    "q_repetition_stats",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok_rows AS (SELECT doc, unnest(toks) AS tok FROM toks),
    tok_counts AS (SELECT doc, tok, COUNT(*) AS c FROM tok_rows GROUP BY doc, tok),
    tok_agg AS (
        SELECT doc,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               CAST(MAX(c) AS BIGINT) AS top_tok_n
        FROM tok_counts GROUP BY doc
    ),
    bg_rows AS (SELECT doc, unnest({_BIGRAM_EXPR}) AS bg FROM toks),
    bg_counts AS (SELECT doc, bg, COUNT(*) AS c FROM bg_rows GROUP BY doc, bg),
    bg_agg AS (
        SELECT doc,
               CAST(SUM(c) AS BIGINT) AS n_bigrams,
               CAST(MAX(c) AS BIGINT) AS top_bigram_n
        FROM bg_counts GROUP BY doc
    )
    SELECT d.doc_id,
           COALESCE(t.n_tokens, 0) AS n_tokens,
           COALESCE(t.n_distinct, 0) AS n_distinct,
           COALESCE(t.top_tok_n, 0) AS top_tok_n,
           COALESCE(b.n_bigrams, 0) AS n_bigrams,
           COALESCE(b.top_bigram_n, 0) AS top_bigram_n,
           CASE WHEN t.n_tokens > 0
                THEN round(CAST(t.top_tok_n AS DOUBLE) / t.n_tokens, 6) END
               AS top_tok_frac,
           CASE WHEN b.n_bigrams > 0
                THEN round(CAST(b.top_bigram_n AS DOUBLE) / b.n_bigrams, 6) END
               AS top_bigram_frac,
           CASE WHEN t.n_tokens > 0
                THEN round(CAST(t.n_distinct AS DOUBLE) / t.n_tokens, 6) END
               AS type_token_ratio,
           CAST(CASE WHEN 5 * COALESCE(t.top_tok_n, 0) > COALESCE(t.n_tokens, 0)
                       OR 5 * COALESCE(b.top_bigram_n, 0) > COALESCE(b.n_bigrams, 0)
                     THEN 1 ELSE 0 END AS BIGINT) AS flag_repetitive
    FROM documents d
    LEFT JOIN tok_agg t ON t.doc = d.doc_id
    LEFT JOIN bg_agg b ON b.doc = d.doc_id
    ORDER BY d.doc_id
    """,
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition profile (Gopher-style quality rules).

    Most-frequent-token fraction, most-frequent-bigram fraction and
    type-token ratio, plus an integer-arithmetic ``flag_repetitive``
    (top token >20% of tokens, or top bigram >20% of bigrams).

    Plan: two explode→(doc,gram) hash-agg→(doc) hash-agg pyramids (one
    for unigrams, one for bigrams) joined back to the documents base so
    token-less documents still get a row. Both pyramids shuffle on
    doc_id-dominated keys — uniformly distributed, no skew — and the
    final joins co-partition on doc_id. At 100 TB the explode is the
    dominant cost and is unavoidable for exact counts; the partial
    (map-side) aggregation bounds shuffle volume to distinct
    (doc, gram) pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.lower(F.col("text"))).alias("toks"))

    tok_agg = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("top_tok_n"),
        )
    )
    bg_agg = (
        toks.select(
            "doc_id", F.explode(word_shingles(F.col("toks"), 2)).alias("bg")
        )
        .groupBy("doc_id", "bg")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_bigrams"),
            F.max("c").cast("long").alias("top_bigram_n"),
        )
    )
    n_tok = F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
    n_dis = F.coalesce(F.col("n_distinct"), F.lit(0).cast("long"))
    top_t = F.coalesce(F.col("top_tok_n"), F.lit(0).cast("long"))
    n_bg = F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long"))
    top_b = F.coalesce(F.col("top_bigram_n"), F.lit(0).cast("long"))
    return (
        docs.select("doc_id")
        .join(tok_agg, "doc_id", "left")
        .join(bg_agg, "doc_id", "left")
        .select(
            "doc_id",
            n_tok.alias("n_tokens"),
            n_dis.alias("n_distinct"),
            top_t.alias("top_tok_n"),
            n_bg.alias("n_bigrams"),
            top_b.alias("top_bigram_n"),
            F.when(
                n_tok > 0, F.round(top_t.cast("double") / n_tok, 6)
            ).alias("top_tok_frac"),
            F.when(
                n_bg > 0, F.round(top_b.cast("double") / n_bg, 6)
            ).alias("top_bigram_frac"),
            F.when(
                n_tok > 0, F.round(n_dis.cast("double") / n_tok, 6)
            ).alias("type_token_ratio"),
            ((5 * top_t > n_tok) | (5 * top_b > n_bg))
            .cast("long")
            .alias("flag_repetitive"),
        )
    )


@query(
    "q_inverted_index",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok_rows AS (SELECT doc, unnest(toks) AS tok FROM toks),
    tok_counts AS (SELECT doc, tok, COUNT(*) AS tf FROM tok_rows GROUP BY doc, tok)
    SELECT tok AS token,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MIN(doc) AS BIGINT) AS first_doc
    FROM tok_counts
    GROUP BY tok
    ORDER BY doc_freq DESC, token
    LIMIT 50
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index head: top-50 tokens by document frequency.

    The posting-list statistics a search/retrieval layer needs:
    document frequency, total term frequency, and the smallest doc id
    holding the token. Plan: explode → (doc, tok) partial+final hash
    agg → (tok) hash agg → ``TakeOrderedAndProject`` (per-partition
    top-k heaps; no global sort). Token keys follow a Zipf
    distribution, but the (doc, tok) pre-aggregation collapses each
    document's repeats first, so the hot-token skew reaching the final
    token-keyed shuffle is bounded by corpus document count, and AQE
    skew handling covers the rest. Deterministic cut: ties broken on
    the token string.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col(F.lower(F.col("text"))).alias("toks"))
    return (
        toks.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .groupBy("token")
        .agg(
            F.count("*").cast("long").alias("doc_freq"),
            F.sum("tf").cast("long").alias("total_tf"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy(F.col("doc_freq").desc(), "token")
        .limit(50)
    )


#: BM25 free parameters (standard Robertson/Lucene defaults).
_BM25_TERMS = ("filter", "window", "stream")
_K1, _B = 1.2, 0.75
_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@query(
    "q_bm25",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    dl AS (
        SELECT doc_id AS doc,
               CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                    AS BIGINT) AS dl
        FROM documents
    ),
    tf AS (
        SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE tok IN ({_TERMS_SQL}) GROUP BY doc, tok
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    contrib AS (
        SELECT tf.doc,
               CAST(round(
                   ln((g.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / g.avgdl))
                   * 1000000) AS BIGINT) AS c
        FROM tf
        JOIN dfreq d USING (tok)
        JOIN dl ON dl.doc = tf.doc
        CROSS JOIN g
    )
    SELECT doc AS doc_id,
           round(CAST(SUM(c) AS BIGINT) / 1000000.0, 4) AS bm25
    FROM contrib
    GROUP BY doc
    ORDER BY bm25 DESC, doc_id
    LIMIT 100
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-100 for a fixed conjunctive term set — the retrieval
    scorer over the inverted-index statistics (Robertson BM25, Lucene
    idf = ln((N - df + 0.5)/(df + 0.5) + 1)).

    Cross-engine determinism: each term's contribution is rounded to
    integer MICRO-units and summed as BIGINT (the unigram-logprob
    fixed-point pattern), so float addition order can never flip the
    4-decimal score or the (score, doc_id) ranking. Plan: tf is one
    explode→filter→hash-agg (the IN-filter prunes before the shuffle);
    df (3 rows) and the N/avgdl scalars are broadcast; final ranking is
    TakeOrderedAndProject. One corpus pass for tf + one for doc
    lengths; no per-query-term scan.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks_arr = tokens_col(F.lower(F.col("text")))
    dl = docs.select(
        F.col("doc_id").alias("doc"), F.size(toks_arr).cast("long").alias("dl")
    )
    tf = (
        docs.select(F.col("doc_id").alias("doc"), F.explode(toks_arr).alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    g = dl.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + _K1 * (0.25 + _B * F.col("dl") / F.col("avgdl"))
    contrib = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc")
        .crossJoin(F.broadcast(g))
        .select(
            "doc",
            F.round(idf * F.col("tf") * 2.2 / denom * 1000000)
            .cast("long")
            .alias("c"),
        )
    )
    return (
        contrib.groupBy("doc")
        .agg(F.round(F.sum("c") / F.lit(1000000.0), 4).alias("bm25"))
        .select(F.col("doc").alias("doc_id"), "bm25")
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(100)
    )


@query(
    "q_normalize_text",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               lower(trim(regexp_replace(
                   regexp_replace(text, '[.,!?;:]', '', 'g'), ' +', ' ', 'g')))
                   AS norm
        FROM documents
    )
    SELECT doc_id,
           md5(norm) AS norm_hash,
           CAST(length(norm) AS BIGINT) AS n_chars_norm,
           CAST(len(list_filter(string_split(norm, ' '), x -> x <> ''))
                AS BIGINT) AS n_tokens_norm
    FROM n
    ORDER BY doc_id
    """,
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (clean step of the pipeline): strip
    punctuation, collapse whitespace runs, trim, lowercase — pure JVM
    regexp/string expressions, zero shuffles, one pass. The normalized
    text is reported as (md5, char count, token count) so the oracle
    compares content exactly without hauling full texts through the
    result hash.
    """
    docs = load_table(spark, sf_dir, "documents")
    norm = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.col("text"), "[.,!?;:]", ""), " +", " "
            )
        )
    )
    return docs.select(
        "doc_id",
        F.md5(norm).alias("norm_hash"),
        F.length(norm).cast("long").alias("n_chars_norm"),
        F.size(tokens_col(norm)).cast("long").alias("n_tokens_norm"),
    )  # no trailing sort: document-linear output


@query(
    "q_dataset_card",
    oracle="""
    WITH t AS (
        SELECT source, lang, text,
               CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 4) AS avg_tokens
    FROM t
    GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup: per (source, lang) document counts, exact
    distinct-content counts, and token totals — the release-notes
    table every curated corpus ships with. One hash-agg over
    (source, lang); the distinct-text count rides the same shuffle as
    a partial distinct on md5(text). At 100 TB swap the exact distinct
    for hll_sketch_agg (mergeable, one pass) when +-2% error is
    acceptable.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "source",
            "lang",
            F.md5("text").alias("h"),
            F.size(tokens_col(F.col("text"))).cast("long").alias("n_tokens"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("h").cast("long").alias("n_distinct_texts"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.sum("n_tokens").cast("double") / F.count("*"), 4).alias(
                "avg_tokens"
            ),
        )
        .orderBy("source", "lang")
    )


@query(
    "q_source_drift",
    oracle="""
    WITH tokrows AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    sc AS (SELECT source, tok, COUNT(*) AS c_st FROM tokrows GROUP BY 1, 2),
    stot AS (SELECT source, SUM(c_st) AS n_s FROM sc GROUP BY source),
    cc AS (SELECT tok, SUM(c_st) AS c_ct FROM sc GROUP BY tok),
    ctot AS (SELECT SUM(c_st) AS n_c FROM sc),
    terms AS (
        SELECT s.source,
               CAST(round((CAST(s.c_st AS DOUBLE) / st.n_s)
                          * ln(CAST(s.c_st AS DOUBLE) * ct.n_c
                               / (CAST(st.n_s AS DOUBLE) * c.c_ct))
                          * 1000000000000) AS BIGINT) AS kl_term
        FROM sc s
        JOIN stot st ON st.source = s.source
        JOIN cc c ON c.tok = s.tok
        CROSS JOIN ctot ct
    ),
    agg AS (
        SELECT source, CAST(SUM(kl_term) AS BIGINT) AS kl_e12,
               CAST(COUNT(*) AS BIGINT) AS n_vocab
        FROM terms GROUP BY source
    )
    SELECT a.source,
           CAST(st.n_s AS BIGINT) AS n_tokens,
           a.n_vocab,
           a.kl_e12,
           round(a.kl_e12 / 1000000000000.0, 6) + 0.0 AS kl
    FROM agg a JOIN stot st ON st.source = a.source
    ORDER BY a.source
    """,
)
def q_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift per source: KL(P_source || P_corpus) over the
    token distribution — the dataset-monitoring signal that flags a
    source whose language shifted vs the corpus mix (new crawl snapshot,
    changed boilerplate, contamination).

    Cross-engine float discipline (same as q_unigram_logprob): each KL
    term is fixed-pointed to integer picounits BEFORE the sum, so the
    order-sensitive double SUM becomes exact BIGINT arithmetic. KL >= 0
    up to per-term rounding; source vocab is a subset of corpus vocab
    by construction so no zero-denominator branch exists.

    Scale: (source, token) agg -> token-level corpus agg (vocab-scale)
    -> join back on token; totals are a per-source row and a 1-row
    broadcast. No driver materialization, no UDF.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokrows = docs.select(
        "source", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    sc = tokrows.groupBy("source", "tok").agg(F.count("*").alias("c_st"))
    stot = sc.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    cc = sc.groupBy("tok").agg(F.sum("c_st").alias("c_ct"))
    ctot = sc.agg(F.sum("c_st").alias("n_c"))
    kl_term = (
        F.round(
            (F.col("c_st").cast("double") / F.col("n_s"))
            * F.log(
                F.col("c_st").cast("double")
                * F.col("n_c")
                / (F.col("n_s").cast("double") * F.col("c_ct"))
            )
            * F.lit(1000000000000)
        )
        .cast("long")
        .alias("kl_term")
    )
    agg = (
        sc.join(F.broadcast(stot), "source")
        .join(cc, "tok")
        .crossJoin(F.broadcast(ctot))
        .select("source", kl_term)
        .groupBy("source")
        .agg(
            F.sum("kl_term").cast("long").alias("kl_e12"),
            F.count("*").cast("long").alias("n_vocab"),
        )
    )
    return (
        agg.join(F.broadcast(stot), "source")
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            "n_vocab",
            "kl_e12",
            (F.round(F.col("kl_e12") / F.lit(1000000000000.0), 6) + F.lit(0.0)).alias("kl"),
        )
        .orderBy("source")
    )


def _backoff_oracle() -> str:
    from .sampling import _bucket_sql

    is_old = f"({_bucket_sql('inc', 'doc_id')} % 10 < 8)"
    return f"""
    WITH tokd AS (
        SELECT doc_id AS doc, {is_old} AS is_old,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
        FROM documents
    ),
    train_uni AS (
        SELECT tok, COUNT(*) AS c FROM (
            SELECT unnest(toks) AS tok FROM tokd WHERE is_old
        ) GROUP BY tok
    ),
    train_n AS (SELECT SUM(c) AS n FROM train_uni),
    train_bi AS (
        SELECT w1, w2, COUNT(*) AS c12 FROM (
            SELECT string_split(bg, ' ')[1] AS w1,
                   string_split(bg, ' ')[2] AS w2
            FROM (
                SELECT unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i + 1]))
                           AS bg
                FROM tokd WHERE is_old
            )
        ) GROUP BY w1, w2
    ),
    docbi AS (
        SELECT doc,
               string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2
        FROM (
            SELECT doc,
                   unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i + 1])) AS bg
            FROM tokd
        )
    ),
    scored AS (
        SELECT d.doc,
               CAST(round(ln(
                   CASE WHEN b.c12 IS NOT NULL
                            THEN CAST(b.c12 AS DOUBLE) / u1.c
                        WHEN u2.c IS NOT NULL
                            THEN 0.4 * CAST(u2.c AS DOUBLE) / n.n
                        ELSE 0.4 / CAST(n.n AS DOUBLE) END) * 10000)
                    AS BIGINT) AS lp
        FROM docbi d
        LEFT JOIN train_bi b ON b.w1 = d.w1 AND b.w2 = d.w2
        LEFT JOIN train_uni u1 ON u1.tok = d.w1
        LEFT JOIN train_uni u2 ON u2.tok = d.w2
        CROSS JOIN train_n n
    ),
    per_doc AS (
        SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
               CAST(SUM(lp) AS BIGINT) AS score_tenk
        FROM scored GROUP BY doc
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           COALESCE(p.score_tenk, 0) AS score_tenk
    FROM documents d LEFT JOIN per_doc p ON p.doc = d.doc_id
    ORDER BY d.doc_id
    """


@query("q_backoff_lm_score", oracle=_backoff_oracle())
def q_backoff_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-Backoff bigram LM scoring (Brants et al. 2007): train
    counts on the 80% hash split, score EVERY document — the held-out
    20% exercises the genuine backoff branches (unseen bigram -> 0.4 *
    unigram; unseen unigram -> 0.4/N floor). This is the CCNet-style
    fluency signal used to rank crawl text for training-data selection,
    without an external LM artifact.

    Float discipline: each bigram's log-score is fixed-pointed
    (round(ln(S) * 1e4) -> BIGINT) before the per-doc SUM, so the
    result is exact integer arithmetic cross-engine. Scale: the
    bigram/unigram count tables are vocab-scale; scoring is two
    key-partitioned joins plus a 1-row broadcast total; per-doc sum
    shuffles on doc_id. No UDF anywhere.
    """
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    tokd = docs.select(
        F.col("doc_id").alias("doc"),
        ((hash_bucket("inc", F.col("doc_id")) % 10) < 8).alias("is_old"),
        tokens_col(F.lower(F.col("text"))).alias("toks"),
    )
    bigrams = lambda d: d.select(  # noqa: E731 - local plan shorthand
        "doc",
        "is_old",
        F.explode(word_shingles(F.col("toks"), 2)).alias("bg"),
    ).select(
        "doc",
        "is_old",
        F.split("bg", " ")[0].alias("w1"),
        F.split("bg", " ")[1].alias("w2"),
    )
    allbi = bigrams(tokd)
    train_bi = (
        allbi.filter("is_old").groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    )
    train_uni = (
        tokd.filter("is_old")
        .select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    train_n = train_uni.agg(F.sum("c").alias("n"))
    u1 = train_uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = train_uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    sb = (
        F.when(
            F.col("c12").isNotNull(), F.col("c12").cast("double") / F.col("c1")
        )
        .when(
            F.col("c2").isNotNull(),
            F.lit(0.4) * F.col("c2").cast("double") / F.col("n"),
        )
        .otherwise(F.lit(0.4) / F.col("n").cast("double"))
    )
    lp = F.round(F.log(sb) * 10000).cast("long").alias("lp")
    per_doc = (
        allbi.join(train_bi, ["w1", "w2"], "left")
        .join(u1, "w1", "left")
        .join(u2, "w2", "left")
        .crossJoin(F.broadcast(train_n))
        .select("doc", lp)
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp").cast("long").alias("score_tenk"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, docs.doc_id == per_doc.doc, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("long")).alias("n_bigrams"),
            F.coalesce(F.col("score_tenk"), F.lit(0).cast("long")).alias(
                "score_tenk"
            ),
        )
        .orderBy("doc_id")
    )


#: Shared per-character entropy term: c*log2(c) rounded to e6 units —
#: the only float step, identical text in both engines, before the
#: exact integer per-doc SUM.
_ENTROPY_TERM = "CAST(round(c * log2(c) * 1000000) AS BIGINT)"
_ENTROPY_FINAL = (
    "round(log2(CAST(n AS DOUBLE))"
    " - (CAST(s_e6 AS DOUBLE) / 1000000.0) / CAST(n AS DOUBLE), 4) + 0.0"
)


@query(
    "q_char_entropy",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ),
    hist AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
    terms AS (
        SELECT doc_id, c, {_ENTROPY_TERM} AS t_e6 FROM hist
    ),
    agg AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS d,
               CAST(SUM(t_e6) AS BIGINT) AS s_e6
        FROM terms GROUP BY doc_id
    )
    SELECT doc_id, n AS n_chars, d AS n_distinct,
           {_ENTROPY_FINAL} AS entropy_bits
    FROM agg
    ORDER BY doc_id
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon character entropy per document — the compression-style
    quality signal (low entropy ~ repetitive/boilerplate text, the
    cheap stand-in for a zlib-ratio filter in Gopher-style cleaning).

    Shape: explode chars → two-level hash aggregate, using the
    identity H = log2(n) - (Σ c·log2 c)/n so the per-(doc,char)
    histogram and the per-doc reduction are both partial-aggregable.
    Float discipline (the house fixed-point-before-sum rule): each
    per-character term c·log2(c) is rounded to e6 integer units from
    ONE shared expression text, the per-doc reduction is an exact
    integer SUM (order-free under any partitioning), and the final
    entropy is one shared formula over (n, s_e6) — a raw double SUM
    here would drift both cross-engine (different association) and
    run-to-run (partition-order-dependent partial aggregation).
    Map-side combine collapses the exploded chars to ~alphabet-size
    rows per document before the shuffle, so shuffle volume is
    docs × distinct-chars, not docs × length. A/B note: the
    "zero-shuffle" per-row higher-order-function variant
    (array_distinct + filter counts) measured 27× SLOWER at sf0.1
    (5.2s vs 0.19s) — HOF lambdas run interpreted, while the explode
    form rides whole-stage codegen; the shuffle it buys is tiny.
    """
    docs = load_table(spark, sf_dir, "documents")
    chars = F.split(F.col("text"), "")
    ex = docs.select("doc_id", F.explode(chars).alias("ch"))
    hist = ex.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    per_doc = hist.select("doc_id", "c", F.expr(_ENTROPY_TERM).alias("t_e6")).groupBy(
        "doc_id"
    ).agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("d"),
        F.sum("t_e6").cast("long").alias("s_e6"),
    )
    return per_doc.selectExpr(
        "doc_id",
        "n AS n_chars",
        "d AS n_distinct",
        f"{_ENTROPY_FINAL} AS entropy_bits",
    )  # no trailing sort: the oracle compare is order-insensitive


# ---------------------------------------------------------------------------
# q_pii_redact — PII detection + redaction (corpus-governance pass)
# ---------------------------------------------------------------------------

#: Shared regex texts — valid in both Java regex (Spark) and RE2
#: (DuckDB): no lookarounds, no backrefs, POSIX-safe classes.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_PHONE_RE = "555-[0-9][0-9][0-9]-[0-9][0-9][0-9][0-9]"


@query(
    "q_pii_redact",
    oracle=f"""
    WITH inj AS (
        SELECT doc_id,
               CASE doc_id % 3
                    WHEN 0 THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@mail.example.com now'
                    WHEN 1 THEN text || ' call 555-'
                                || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                                || '-'
                                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                                || ' today'
                    ELSE text END AS t
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           CAST(length(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                                      '{_PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
               AS clean_len,
           md5(regexp_replace(regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS clean_hash
    FROM inj
    ORDER BY doc_id
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction — the governance pass every
    training-data pipeline runs before anything else ships.

    The fixture is synthetic word soup with no organic PII, so the
    query first injects deterministic emails/phone numbers by doc_id
    arithmetic (same posture as the multimodal synth payload: both
    engines build identical bytes), then REALLY detects and redacts
    them with shared Java-regex/RE2-compatible patterns. ``clean_hash``
    (md5 of the redacted text) makes any redaction divergence a hash
    mismatch. Zero-shuffle map-only pass — at 100 TB this runs at scan
    speed with no Python.
    """
    docs = load_table(spark, sf_dir, "documents")
    inj = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" call 555-"),
                F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                F.lit(" today"),
            ),
        )
        .otherwise(F.col("text"))
    )
    clean = F.regexp_replace(
        F.regexp_replace(inj, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(inj, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(inj, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.length(clean).cast("long").alias("clean_len"),
        F.md5(clean).alias("clean_hash"),
    )  # no trailing sort: document-linear output, zero shuffles


# ---------------------------------------------------------------------------
# q_naive_bayes — multinomial NB source classifier (train/score split)
# ---------------------------------------------------------------------------


def _nb_common_cte() -> str:
    """Shared CTE chain: 80/20 split, trained model, per-(doc, class)
    integer scores and ranks — the prefix of both NB oracles."""
    from .sampling import _bucket_sql

    is_train = f"({_bucket_sql('nb', 'doc_id', 10)} < 8)"
    return f"""
    WITH split AS (
        SELECT doc_id, source, {is_train} AS is_train,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    toks AS (
        SELECT doc_id, source, is_train, unnest(toks) AS tok FROM split
    ),
    cls AS (SELECT DISTINCT source FROM split WHERE is_train),
    counts AS (
        SELECT source, tok, COUNT(*) AS c FROM toks WHERE is_train
        GROUP BY source, tok
    ),
    totals AS (SELECT source, SUM(c) AS tot FROM counts GROUP BY source),
    vocab AS (SELECT COUNT(DISTINCT tok) AS v FROM counts),
    lp AS (
        SELECT c.source, c.tok,
               CAST(round(ln((c.c + 1.0) / (t.tot + v.v)) * 1000000)
                    AS BIGINT) AS lp
        FROM counts c JOIN totals t ON t.source = c.source, vocab v
    ),
    dflt AS (
        SELECT t.source,
               CAST(round(ln(1.0 / (t.tot + v.v)) * 1000000) AS BIGINT) AS dlp
        FROM totals t, vocab v
    ),
    prior AS (
        SELECT source,
               CAST(round(ln(CAST(COUNT(*) AS DOUBLE)
                             / (SELECT COUNT(*) FROM split WHERE is_train))
                          * 1000000) AS BIGINT) AS plp
        FROM split WHERE is_train GROUP BY source
    ),
    scored AS (
        SELECT t.doc_id, c.source AS cand,
               SUM(COALESCE(l.lp, d.dlp)) AS tok_lp
        FROM toks t
        CROSS JOIN cls c
        LEFT JOIN lp l ON l.tok = t.tok AND l.source = c.source
        JOIN dflt d ON d.source = c.source
        WHERE NOT t.is_train
        GROUP BY t.doc_id, c.source
    ),
    ranked AS (
        SELECT s.doc_id, s.cand, s.tok_lp + p.plp AS score,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                  ORDER BY s.tok_lp + p.plp DESC, s.cand)
                   AS rk
        FROM scored s JOIN prior p ON p.source = s.cand
    )"""


def _nb_oracle() -> str:
    return f"""{_nb_common_cte()},
    pred AS (SELECT doc_id, cand AS predicted FROM ranked WHERE rk = 1)
    SELECT sp.source AS actual, pr.predicted, COUNT(*) AS n
    FROM split sp JOIN pred pr ON pr.doc_id = sp.doc_id
    WHERE NOT sp.is_train
    GROUP BY actual, predicted
    ORDER BY actual, predicted
    """


@query("q_naive_bayes", oracle=_nb_oracle())
def q_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes trained ON the corpus (80/20 md5 hash
    split), predicting each held-out document's ``source`` from its
    tokens; output is the confusion matrix. Complements the
    frozen-weight q_quality_classifier (inference-only) with the full
    train-then-score loop.

    Exactness: every log term is fixed-pointed
    (round(ln(p)·1e6) → BIGINT) before any distributed SUM — the
    backoff-LM discipline — so scores are exact integers and the
    argmax (ties broken by class name) is deterministic cross-engine.

    Scale: training is one token-count aggregate (map-side combined);
    scoring joins test tokens against the model on the token key —
    model size is vocab × classes, shuffled not broadcast, so an
    unbounded vocabulary never hits the driver; the per-doc argmax is
    a tiny window over |classes| rows per doc.
    """
    split, scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand"))
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    return (
        split.filter(~F.col("is_train"))
        .select("doc_id", F.col("source").alias("actual"))
        .join(pred, "doc_id")
        .groupBy("actual", "predicted")
        .agg(F.count("*").alias("n"))
        .orderBy("actual", "predicted")
    )


def _nb_scored(spark: SparkSession, sf_dir: str):
    """Shared NB train+score pipeline: returns (split, scored) where
    scored has one (doc_id, cand, score) row per held-out document and
    candidate class — integer micro-nat scores (see q_naive_bayes)."""
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    split = docs.select(
        "doc_id",
        "source",
        (hash_bucket("nb", F.col("doc_id"), 10) < 8).alias("is_train"),
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "").alias(
            "toks"
        ),
    )
    # toks feeds the count model AND the held-out scoring fan-out;
    # counts feeds totals/vocab/lp/dflt. Checkpoint both so the eight
    # _nb_scored consumers' downstream aggregates read materialized
    # relations instead of re-running scan+tokenize+explode(+count)
    # per branch (r11 checkpoint discipline; results unchanged).
    toks = materialize(split.select(
        "doc_id", "source", "is_train", F.explode("toks").alias("tok")
    ))
    train_toks = toks.filter("is_train")
    counts = materialize(train_toks.groupBy("source", "tok").agg(
        F.count("*").alias("c")
    ))
    totals = counts.groupBy("source").agg(F.sum("c").alias("tot"))
    vocab = counts.agg(F.countDistinct("tok").alias("v"))
    lp = (
        counts.join(totals, "source")
        .crossJoin(F.broadcast(vocab))
        .select(
            "source",
            "tok",
            F.round(
                F.log((F.col("c") + 1.0) / (F.col("tot") + F.col("v"))) * 1000000
            )
            .cast("long")
            .alias("lp"),
        )
    )
    dflt = (
        totals.crossJoin(F.broadcast(vocab))
        .select(
            "source",
            F.round(F.log(1.0 / (F.col("tot") + F.col("v"))) * 1000000)
            .cast("long")
            .alias("dlp"),
        )
    )
    n_train = split.filter("is_train").agg(
        F.count("*").cast("double").alias("nt")
    )
    prior = (
        split.filter("is_train")
        .groupBy("source")
        .agg(F.count("*").cast("double").alias("nd"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "source",
            F.round(F.log(F.col("nd") / F.col("nt")) * 1000000)
            .cast("long")
            .alias("plp"),
        )
    )
    cls = split.filter("is_train").select("source").distinct().select(
        F.col("source").alias("cand")
    )
    test_toks = toks.filter(~F.col("is_train")).select("doc_id", "tok")
    scored = (
        test_toks.crossJoin(F.broadcast(cls))
        .join(
            lp.select(F.col("tok"), F.col("source").alias("cand"), "lp"),
            ["tok", "cand"],
            "left",
        )
        .join(
            F.broadcast(dflt.select(F.col("source").alias("cand"), "dlp")),
            "cand",
        )
        .groupBy("doc_id", "cand")
        .agg(F.sum(F.coalesce("lp", "dlp")).alias("tok_lp"))
        .join(F.broadcast(prior.select(F.col("source").alias("cand"), "plp")), "cand")
        .select("doc_id", "cand", (F.col("tok_lp") + F.col("plp")).alias("score"))
    )
    return split, scored


# ---------------------------------------------------------------------------
# q_rrf_fusion — reciprocal-rank fusion of BM25 relevance + lexical quality
# ---------------------------------------------------------------------------

_RRF_K = 60  # Cormack et al. 2009 standard constant
_RRF_DEPTH = 100  # per-ranking truncation depth
_RRF_TOP = 20


@query(
    "q_rrf_fusion",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    dl AS (
        SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_toks,
               CAST(COUNT(DISTINCT tok) AS BIGINT) AS d_toks
        FROM toks GROUP BY doc
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_toks) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    tf AS (
        SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE tok IN ({_TERMS_SQL}) GROUP BY doc, tok
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    bm AS (
        SELECT tf.doc, CAST(SUM(CAST(round(
                   ln((g.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * tf.tf * 2.2
                   / (tf.tf + 1.2 * (0.25 + 0.75 * dl.n_toks / g.avgdl))
                   * 1000000) AS BIGINT)) AS BIGINT) AS s
        FROM tf
        JOIN dfreq d USING (tok)
        JOIN dl ON dl.doc = tf.doc
        CROSS JOIN g
        GROUP BY tf.doc
    ),
    r1 AS (
        SELECT doc, rk FROM (
            SELECT doc, ROW_NUMBER() OVER (ORDER BY s DESC, doc) AS rk FROM bm
        ) WHERE rk <= {_RRF_DEPTH}
    ),
    qual AS (
        SELECT doc, 1000000 * d_toks // n_toks AS q FROM dl WHERE n_toks > 0
    ),
    r2 AS (
        SELECT doc, rk FROM (
            SELECT doc, ROW_NUMBER() OVER (ORDER BY q DESC, doc) AS rk FROM qual
        ) WHERE rk <= {_RRF_DEPTH}
    ),
    fused AS (
        SELECT COALESCE(r1.doc, r2.doc) AS doc_id,
               r1.rk AS r_bm25, r2.rk AS r_quality,
               COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r1.rk),
                        CAST(0.0 AS DOUBLE))
                   + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r2.rk),
                              CAST(0.0 AS DOUBLE)) AS rrf
        FROM r1 FULL OUTER JOIN r2 ON r1.doc = r2.doc
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(r_bm25 AS BIGINT) AS r_bm25,
           CAST(r_quality AS BIGINT) AS r_quality,
           round(rrf, 6) AS rrf_score
    FROM fused
    ORDER BY rrf_score DESC, doc_id LIMIT {_RRF_TOP}
    """,
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke &
    Büttcher 2009) of two truncated rankings — BM25 relevance for the
    fixed query terms and a lexical-diversity quality score
    (type-token ratio) — RRF(d) = Σ 1/(60 + rank_r(d)) over the
    rankings that retrieved d, top-20 fused.

    This is the standard way modern search fuses keyword and
    auxiliary rankings without score calibration: only RANKS cross the
    fusion boundary, so the two scorers' units never need reconciling.

    Cross-engine exactness: both rankings order by exact integers
    (micro-unit BM25 via the per-term round-then-BIGINT-sum house
    pattern; e6 type-token ratio via integer DIV) with doc tie-break,
    so ranks match exactly; the fusion is then two correctly-rounded
    IEEE divisions and one addition in fixed order on identical
    integer ranks.

    Scale: ranks come from ``global_row_number`` (range-partitioned
    two-phase rank — never a single-task global sort); each list is
    truncated at depth 100; the fusion join runs over ≤ 2·depth
    rows. BM25 statistics are the q_bm25 partial-agg plan.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
    )
    dl = materialize(toks.groupBy("doc").agg(
        F.count("*").cast("long").alias("n_toks"),
        F.countDistinct("tok").cast("long").alias("d_toks"),
    ))
    g = dl.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("n_toks").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + _K1 * (0.25 + _B * F.col("n_toks") / F.col("avgdl"))
    bm = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl.select("doc", "n_toks"), "doc")
        .crossJoin(F.broadcast(g))
        .select(
            "doc",
            F.round(idf * F.col("tf") * 2.2 / denom * 1000000)
            .cast("long")
            .alias("c"),
        )
        .groupBy("doc")
        .agg(F.sum("c").cast("long").alias("s"))
    )
    r1 = (
        global_row_number(bm, [F.col("s").desc(), "doc"], "rk")
        .filter(F.col("rk") <= _RRF_DEPTH)
        .select("doc", "rk")
    )
    qual = dl.filter(F.col("n_toks") > 0).selectExpr(
        "doc", "1000000 * d_toks DIV n_toks AS q"
    )
    r2 = (
        global_row_number(qual, [F.col("q").desc(), "doc"], "rk")
        .filter(F.col("rk") <= _RRF_DEPTH)
        .select("doc", "rk")
    )
    fused = (
        r1.withColumnRenamed("rk", "r_bm25")
        .join(
            r2.withColumnRenamed("rk", "r_quality")
            .withColumnRenamed("doc", "doc2"),
            F.col("doc") == F.col("doc2"),
            "full_outer",
        )
        .selectExpr(
            "COALESCE(doc, doc2) AS doc_id",
            "CAST(r_bm25 AS BIGINT) AS r_bm25",
            "CAST(r_quality AS BIGINT) AS r_quality",
            f"COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_bm25),"
            f" CAST(0.0 AS DOUBLE))"
            f" + COALESCE(CAST(1.0 AS DOUBLE) / ({_RRF_K} + r_quality),"
            f" CAST(0.0 AS DOUBLE)) AS rrf",
        )
    )
    return (
        fused.selectExpr(
            "CAST(doc_id AS BIGINT) AS doc_id",
            "r_bm25",
            "r_quality",
            "round(rrf, 6) AS rrf_score",
        )
        .orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(_RRF_TOP)
    )


# ---------------------------------------------------------------------------
# q_cohens_kappa — agreement between two quality heuristics
# ---------------------------------------------------------------------------

#: Observed / chance agreement and kappa from the exact 2x2
#: contingency (engine-shared formula text; n11..n00 are BIGINTs).
_KAPPA_FINAL = [
    "CAST(n11 AS BIGINT) AS n11",
    "CAST(n10 AS BIGINT) AS n10",
    "CAST(n01 AS BIGINT) AS n01",
    "CAST(n00 AS BIGINT) AS n00",
    "round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po",
    "round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)"
    " + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS pe",
    "round((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)"
    "    + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))"
    "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " / (1.0 - (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)"
    "    + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))"
    "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS kappa",
]


@query(
    "q_cohens_kappa",
    oracle=f"""
    WITH {_TOKS_CTE},
    labels AS (
        SELECT doc,
               CASE WHEN 5 * len(toks) <=
                         length(array_to_string(toks, ''))
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN 2 * len(list_distinct(toks)) >= len(toks)
                    THEN 1 ELSE 0 END AS b
        FROM toks WHERE len(toks) > 0
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM labels
    )
    SELECT {", ".join(_KAPPA_FINAL)} FROM s
    """,
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between two deterministic quality
    'raters' over the corpus — rater A flags long-word documents
    (mean token length >= 5), rater B flags lexically diverse ones
    (unique-token ratio >= 1/2). Kappa is the chance-corrected
    agreement a labeling pipeline reports before trusting two cheap
    heuristics as interchangeable filters.

    Both flags are INTEGER-threshold comparisons (5·n_tok <= Σlen,
    2·n_unique >= n_tok — the module's no-float-flags discipline), so
    the 2x2 contingency is exact on both engines; po, pe and kappa
    are one shared formula text over the four counts, rounded at the
    end. Documents with zero tokens are excluded (neither heuristic
    is defined on them).

    Scale: per-document flags are zero-shuffle JVM array ops; the
    contingency is a single partial-agg'd global aggregate — four
    integers of state, one row out at any SF.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_col(F.lower(F.col("text"))).alias("toks")).filter(
        F.size("toks") > 0
    )
    labels = toks.select(
        F.expr(
            "CASE WHEN 5 * size(toks) <="
            " length(array_join(toks, '')) THEN 1 ELSE 0 END"
        ).alias("a"),
        F.expr(
            "CASE WHEN 2 * size(array_distinct(toks)) >= size(toks)"
            " THEN 1 ELSE 0 END"
        ).alias("b"),
    )
    s = labels.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.expr("a * b")).cast("long").alias("n11"),
        F.sum(F.expr("a * (1 - b)")).cast("long").alias("n10"),
        F.sum(F.expr("(1 - a) * b")).cast("long").alias("n01"),
        F.sum(F.expr("(1 - a) * (1 - b)")).cast("long").alias("n00"),
    )
    return s.selectExpr(*_KAPPA_FINAL)


# ---------------------------------------------------------------------------
# q_nb_calibration — margin-binned reliability diagram for the NB model
# ---------------------------------------------------------------------------

#: Margin bucket width in micro-nats (0.2 nats) — fixed integer edges,
#: so bucket membership can never flip on a float ulp cross-engine.
_NBC_WIDTH = 200_000
_NBC_TOP = 9


def _nb_calibration_oracle() -> str:
    return f"""{_nb_common_cte()},
    top2 AS (
        SELECT doc_id,
               MAX(CASE WHEN rk = 1 THEN cand END) AS predicted,
               CAST(MAX(CASE WHEN rk = 1 THEN score END)
                    - MAX(CASE WHEN rk = 2 THEN score END) AS BIGINT)
                   AS margin
        FROM ranked WHERE rk <= 2 GROUP BY doc_id
    ),
    labeled AS (
        SELECT LEAST({_NBC_TOP}, t.margin // {_NBC_WIDTH}) AS bucket,
               CASE WHEN t.predicted = sp.source THEN 1 ELSE 0 END AS ok
        FROM top2 t JOIN split sp ON sp.doc_id = t.doc_id
        WHERE NOT sp.is_train
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ok) AS BIGINT) AS n_correct,
           round(CAST(SUM(ok) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
               AS accuracy
    FROM labeled GROUP BY bucket ORDER BY bucket
    """


@query("q_nb_calibration", oracle=_nb_calibration_oracle())
def q_nb_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the Naive Bayes source classifier:
    held-out documents bucketed by the model's CONFIDENCE MARGIN
    (top-1 minus top-2 integer micro-nat score, fixed 0.2-nat bucket
    edges capped at bucket 9) with the empirical accuracy per bucket —
    the eval that tells a filtering pipeline where the classifier's
    confidence can actually be trusted (a calibrated model shows
    accuracy rising monotonically with margin).

    The margin is a difference of the SAME exact integer scores
    q_naive_bayes ranks on (shared `_nb_scored` pipeline — one model,
    two evals), and bucket edges are integer thresholds, so bucket
    membership is bit-deterministic cross-engine; no softmax/exp is
    ever computed. Accuracy is the one shared float ratio, round 6.

    Scale: identical to q_naive_bayes through scoring (token-keyed
    model join, |classes|-row per-doc windows); the diagram adds one
    partial-agg'd 10-group aggregate.
    """
    split, scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    top2 = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk <= 2")
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cand"))).alias("predicted"),
            (
                F.max(F.when(F.col("rk") == 1, F.col("score")))
                - F.max(F.when(F.col("rk") == 2, F.col("score")))
            )
            .cast("long")
            .alias("margin"),
        )
    )
    labeled = (
        split.filter(~F.col("is_train"))
        .select("doc_id", "source")
        .join(top2, "doc_id")
        .selectExpr(
            f"LEAST({_NBC_TOP}, margin DIV {_NBC_WIDTH}) AS bucket",
            "CASE WHEN predicted = source THEN 1 ELSE 0 END AS ok",
        )
    )
    return (
        labeled.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("ok").cast("long").alias("n_correct"),
        )
        .selectExpr(
            "CAST(bucket AS BIGINT) AS bucket",
            "n_docs",
            "n_correct",
            "round(CAST(n_correct AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)"
            " AS accuracy",
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q_source_overlap — pairwise vocabulary Jaccard between sources
# ---------------------------------------------------------------------------


@query(
    "q_source_overlap",
    oracle=f"""
    WITH {_TOKS_CTE.replace("doc_id AS doc", "doc_id AS doc, source")},
    st AS (
        SELECT DISTINCT source, unnest(toks) AS tok FROM toks
    ),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(COUNT(*) AS BIGINT) AS n_inter
        FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, sa.v AS vocab_a, sb.v AS vocab_b, i.n_inter,
           round(CAST(i.n_inter AS DOUBLE)
                 / CAST(sa.v + sb.v - i.n_inter AS DOUBLE), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    ORDER BY src_a, src_b
    """,
)
def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between corpus SOURCES — the
    source-level overlap matrix (|sources|² rows, bounded by the
    catalog) that flags near-identical feeds before mixing weights are
    chosen; complements q_source_drift's distributional KL with a
    set-membership view.

    The pair generator is an equi-join on the token key of the
    DISTINCT (source, token) relation — per-token fan-out is bounded
    by |sources| (a catalog bound, not a data bound), so no all-pairs
    product and no hot-key blowup exist. Intersections and vocabulary
    sizes are exact integers; Jaccard is the one shared float ratio,
    round 6.

    Scale: the token stream collapses to the distinct (source, token)
    relation with one partial-agg'd shuffle; everything after is
    |vocab|·|sources|-bounded with |sources|² output rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    st = (
        docs.select(
            "source", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
        )
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count("*").cast("long").alias("v"))
    a = st.alias("a")
    b = st.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("v").alias("vocab_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("v").alias("vocab_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .selectExpr(
            "src_a",
            "src_b",
            "vocab_a",
            "vocab_b",
            "n_inter",
            "round(CAST(n_inter AS DOUBLE)"
            " / CAST(vocab_a + vocab_b - n_inter AS DOUBLE), 6) AS jaccard",
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# q_fightin_words — per-source distinctive terms (log-odds, Dirichlet prior)
# ---------------------------------------------------------------------------

_FW_A0 = 500.0  # prior concentration
_FW_TOP = 10

#: Monroe et al. z-scored log-odds-ratio with informative Dirichlet
#: prior, one shared formula text over exact integer counts
#: (y = in-source, r = rest-of-corpus, a = a0·corpus_share):
_FW_AW = f"({_FW_A0} * CAST(yw AS DOUBLE) / CAST(n AS DOUBLE))"
_FW_DELTA = (
    f"(ln((CAST(y AS DOUBLE) + {_FW_AW})"
    f" / (CAST(ns AS DOUBLE) + {_FW_A0} - CAST(y AS DOUBLE) - {_FW_AW}))"
    f" - ln((CAST(r AS DOUBLE) + {_FW_AW})"
    f" / (CAST(n AS DOUBLE) - CAST(ns AS DOUBLE) + {_FW_A0}"
    f" - CAST(r AS DOUBLE) - {_FW_AW})))"
)
_FW_Z = (
    f"round({_FW_DELTA} / sqrt(1.0 / (CAST(y AS DOUBLE) + {_FW_AW})"
    f" + 1.0 / (CAST(r AS DOUBLE) + {_FW_AW})), 6)"
)


@query(
    "q_fightin_words",
    oracle=f"""
    WITH stoks AS (
        SELECT source,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS toks
        FROM documents
    ),
    tr AS (SELECT source, unnest(toks) AS tok FROM stoks),
    ysw AS (
        SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS y
        FROM tr GROUP BY source, tok
    ),
    yw AS (SELECT tok, CAST(SUM(y) AS BIGINT) AS yw FROM ysw GROUP BY tok),
    ns AS (SELECT source, CAST(SUM(y) AS BIGINT) AS ns FROM ysw GROUP BY source),
    n AS (SELECT CAST(SUM(y) AS BIGINT) AS n FROM ysw),
    scored AS (
        SELECT s.source, s.tok, s.y, {_FW_Z} AS z
        FROM (SELECT ysw.*, w.yw, t.ns, x.n,
                     w.yw - ysw.y AS r
              FROM ysw
              JOIN yw w USING (tok)
              JOIN ns t USING (source)
              CROSS JOIN n x) s
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                     ORDER BY z DESC, tok) AS rk
        FROM scored
    )
    SELECT source, tok, y, z FROM ranked
    WHERE rk <= {_FW_TOP}
    ORDER BY source, z DESC, tok
    """,
)
def q_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary by the 'Fightin' Words'
    statistic (Monroe, Colaresi & Quinn 2008): z-scored log-odds-ratio
    of each token in a source vs the rest of the corpus under an
    informative Dirichlet prior scaled from corpus frequencies — the
    principled version of 'characteristic terms per feed' that raw
    TF-IDF over-weights rare noise for. Top 10 per source.

    The sufficient statistics (y_sw, y_w, n_s, n) are exact integer
    token counts (token-keyed joins, no broadcast of the vocabulary);
    delta and its variance are ONE shared ln/sqrt formula text,
    rounded to 6 BEFORE ranking so the per-source order is
    cross-engine stable (unique-token tiebreak). Only tokens PRESENT
    in a source can rank — absent tokens have negative z by
    construction and are not candidates for a top-distinctive list.

    Scale: two partial-agg'd shuffles (source×token, then token); the
    scalar totals broadcast; the top-10 window partitions by source —
    per-group sorting over that source's vocabulary, the documented
    |sources|-parallel audit shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    ysw = materialize(
        docs.select(
            "source",
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").cast("long").alias("y"))
    )
    yw = ysw.groupBy("tok").agg(F.sum("y").cast("long").alias("yw"))
    ns = ysw.groupBy("source").agg(F.sum("y").cast("long").alias("ns"))
    n = ysw.agg(F.sum("y").cast("long").alias("n"))
    scored = (
        ysw.join(yw, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(n))
        .withColumn("r", F.col("yw") - F.col("y"))
        .selectExpr("source", "tok", "y", f"{_FW_Z} AS z")
    )
    w = Window.partitionBy("source").orderBy(F.col("z").desc(), "tok")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _FW_TOP)
        .select("source", "tok", "y", "z")
        .orderBy("source", F.col("z").desc(), "tok")
    )


# ---------------------------------------------------------------------------
# q_zipf_fit — rank-frequency power-law fit over the top-1000 terms
# ---------------------------------------------------------------------------

_ZIPF_K = 1000

#: OLS of ln(freq) on ln(rank) from exact integer sums of the
#: PER-TERM e6-fixed-pointed log cells (float addition is
#: non-associative; integer cells make the sums partitioning-proof).
_ZIPF_FINAL = [
    "CAST(n AS BIGINT) AS n_terms",
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope",
    "round((CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE))"
    " / CAST(n AS DOUBLE) / 1000000.0, 6) AS intercept_ln",
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
    " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2",
]


@query(
    "q_zipf_fit",
    oracle=f"""
    WITH tr AS (
        SELECT unnest(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS tok
        FROM documents
    ),
    freqs AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS f FROM tr GROUP BY tok),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk
        FROM freqs
    ),
    cells AS (
        SELECT CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS lx,
               CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS ly
        FROM ranked WHERE rk <= {_ZIPF_K}
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(lx AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ly AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(SUM(CAST(lx AS HUGEINT) * lx) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(ly AS HUGEINT) * ly) AS DOUBLE) AS syy,
               CAST(SUM(CAST(lx AS HUGEINT) * ly) AS DOUBLE) AS sxy
        FROM cells
    )
    SELECT {", ".join(_ZIPF_FINAL)} FROM s
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the corpus rank-frequency curve: OLS of
    ln(freq) on ln(rank) over the top-1000 terms — slope ≈ −α (natural
    text sits near −1) with R², the corpus-health diagnostic that
    flags template/bot-generated text (|slope| drifts far from 1,
    R² collapses).

    Ranks come from the two-phase distributed row_number (desc by
    frequency, token tiebreak), never a global-sort window; each
    term's (ln rank, ln freq) cell is fixed-pointed to e6 integers
    BEFORE the regression sums (float addition is non-associative —
    integer cells make the distributed sums partitioning-proof), and
    slope/intercept/R² are shared closed-form texts over those exact
    sums.

    Scale: one token-count shuffle (map-side combined), two
    distributed rank phases, one bounded (≤1000-cell) aggregate.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    freqs = (
        docs.select(
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").cast("long").alias("f"))
    )
    ranked = global_row_number(freqs, [F.col("f").desc(), F.col("tok")], "rk")
    cells = ranked.filter(F.col("rk") <= _ZIPF_K).selectExpr(
        "CAST(round(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT) AS lx",
        "CAST(round(ln(CAST(f AS DOUBLE)) * 1000000) AS BIGINT) AS ly",
    )
    s = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("lx").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("ly").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * lx"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(ly AS DECIMAL(38,0)) * ly"))
        .cast("double")
        .alias("syy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * ly"))
        .cast("double")
        .alias("sxy"),
    )
    return s.selectExpr(*_ZIPF_FINAL)


# ---------------------------------------------------------------------------
# q_tfidf_cosine_pairs — sparse TF-IDF cosine similarity between documents
# ---------------------------------------------------------------------------

_TC_MAX_DF = 500  # hot-token prune (document frequency cap)
_TC_THRESH = 0.8
_TC_SCALE = 1_000_000

#: Per-(doc, token) integer weight: tf * idf_e6 where idf_e6 =
#: round(ln(N/df) * 1e6) — fixed-pointed BEFORE any product, so dot
#: and norms are exact integers in both engines.
_TC_COS = (
    "round(CAST(dot AS DOUBLE)"
    " / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))), 6)"
)


@query(
    "q_tfidf_cosine_pairs",
    oracle=f"""
    WITH stoks AS (
        SELECT doc_id AS doc,
               unnest(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS tok
        FROM documents
    ),
    tf AS (
        SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM stoks GROUP BY doc, tok
    ),
    df AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc) AS BIGINT) AS nd FROM tf),
    w AS (
        SELECT t.doc, t.tok,
               t.tf * CAST(round(ln(CAST(x.nd AS DOUBLE)
                                    / CAST(d.df AS DOUBLE)) * {_TC_SCALE})
                           AS BIGINT) AS w
        FROM tf t JOIN df d USING (tok) CROSS JOIN n x
        WHERE d.df <= {_TC_MAX_DF}
    ),
    norms AS (
        SELECT doc, CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS n2
        FROM w GROUP BY doc
    ),
    dots AS (
        SELECT a.doc AS doc_a, b.doc AS doc_b,
               CAST(SUM(CAST(a.w AS HUGEINT) * b.w) AS HUGEINT) AS dot
        FROM w a JOIN w b ON b.tok = a.tok AND a.doc < b.doc
        GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b,
           {_TC_COS.replace("dot", "d.dot")
                   .replace("na2", "xa.n2")
                   .replace("nb2", "xb.n2")} AS cosine
    FROM dots d
    JOIN norms xa ON xa.doc = d.doc_a
    JOIN norms xb ON xb.doc = d.doc_b
    WHERE {_TC_COS.replace("dot", "d.dot")
                  .replace("na2", "xa.n2")
                  .replace("nb2", "xb.n2")} >= {_TC_THRESH}
    ORDER BY doc_a, doc_b
    """,
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with TF-IDF cosine >= 0.8 — SPARSE-vector
    similarity in token space, the classical complement to the dense
    embedding near-dup family (it catches topical/lexical overlap
    that embedding sign-LSH can miss, and needs no embedding at all).

    The pair generator is the token-keyed equi-join with a document-
    frequency cap (df <= {_TC_MAX_DF}): ubiquitous tokens are dropped
    BEFORE the join — they carry near-zero idf anyway, and the cap
    bounds per-token fan-out exactly like the hot-shingle prune. IDF
    is fixed-pointed to e6 integers per (doc, token) weight BEFORE
    any product, so dots and norms are exact HUGEINT/DECIMAL sums and
    the cosine is one shared sqrt text.

    Scale: two partial-agg'd shuffles (tf, df), a token-keyed pair
    join with capped fan-out, never all-pairs.
    """
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.col("doc_id").alias("doc"),
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("doc", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    nd = tf.agg(F.countDistinct("doc").cast("long").alias("nd"))
    w = materialize(
        tf.join(df_, "tok")
        .filter(F.col("df") <= _TC_MAX_DF)
        .crossJoin(F.broadcast(nd))
        .selectExpr(
            "doc",
            "tok",
            f"tf * CAST(round(ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE))"
            f" * {_TC_SCALE}) AS BIGINT) AS w",
        )
    )
    norms = w.groupBy("doc").agg(
        F.sum(F.expr("CAST(w AS DECIMAL(38,0)) * w"))
        .cast("decimal(38,0)")
        .alias("n2")
    )
    a = w.alias("a")
    b = w.alias("b")
    dots = (
        a.join(
            b,
            (F.col("b.tok") == F.col("a.tok"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(
            F.sum(F.expr("CAST(a.w AS DECIMAL(38,0)) * b.w"))
            .cast("decimal(38,0)")
            .alias("dot")
        )
    )
    na = norms.select(F.col("doc").alias("doc_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc").alias("doc_b"), F.col("n2").alias("nb2"))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .selectExpr("doc_a", "doc_b", f"{_TC_COS} AS cosine")
        .filter(F.col("cosine") >= _TC_THRESH)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# q_readability — Flesch-style reading-ease scoring per source
# ---------------------------------------------------------------------------

#: Flesch reading ease with a deterministic syllable proxy
#: (vowel-group count per token, min 1) — integer counts per doc,
#: aggregated exactly, one shared float formula per source.
_READ_FINAL = [
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_words AS BIGINT) AS n_words",
    "CAST(n_sents AS BIGINT) AS n_sents",
    "CAST(n_syll AS BIGINT) AS n_syll",
    "round(206.835 - 1.015 * CAST(n_words AS DOUBLE)"
    " / CAST(n_sents AS DOUBLE)"
    " - 84.6 * CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE), 4)"
    " AS flesch",
]


@query(
    "q_readability",
    oracle=f"""
    WITH d AS (
        SELECT source,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS toks,
               GREATEST(1, length(text)
                        - length(replace(replace(replace(text, '.', ''),
                                                 '!', ''), '?', '')))
                   AS sents
        FROM documents
    ),
    per_doc AS (
        SELECT source, len(toks) AS words, sents,
               list_sum(list_transform(toks, t -> GREATEST(1,
                   len(list_filter(range(1, len(t) + 1),
                       i -> strpos('aeiouy', t[i]) > 0
                            AND (i = 1 OR strpos('aeiouy', t[i-1]) = 0)))
               ))) AS syll
        FROM d WHERE len(toks) > 0
    )
    SELECT {", ".join(_READ_FINAL).replace("n_docs AS BIGINT",
        "n_docs AS BIGINT")}
    FROM (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(words) AS BIGINT) AS n_words,
               CAST(SUM(sents) AS BIGINT) AS n_sents,
               CAST(SUM(syll) AS BIGINT) AS n_syll
        FROM per_doc GROUP BY source
    ) ORDER BY source
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per source, with a DETERMINISTIC syllable
    proxy — vowel-group count per token (min 1), sentences counted by
    terminal punctuation (min 1 per doc) — the corpus-governance
    readability column a dataset card reports next to quality scores.
    (A dictionary syllabifier is language-specific and unportable;
    the vowel-group proxy is the standard cheap stand-in and is
    bit-identical across engines because it is pure integer string
    arithmetic.)

    All per-document counts are exact integers computed in zero-
    shuffle JVM expressions (higher-order array functions — no
    Python); one partial-agg'd shuffle to |sources| rows; the Flesch
    formula is one shared float text, round 4.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        tokens_col(F.lower(F.col("text"))).alias("toks"),
        F.greatest(
            F.lit(1),
            F.length("text")
            - F.length(
                F.translate(F.col("text"), ".!?", "")
            ),
        ).alias("sents"),
    ).filter(F.size("toks") > 0)
    per_doc = d.select(
        "source",
        F.size("toks").alias("words"),
        "sents",
        F.expr(
            "aggregate(transform(toks, t -> GREATEST(1,"
            " size(filter(sequence(1, length(t)),"
            " i -> instr('aeiouy', substr(t, i, 1)) > 0"
            " AND (i = 1 OR instr('aeiouy', substr(t, i-1, 1)) = 0))))),"
            " 0, (acc, x) -> acc + x)"
        ).alias("syll"),
    )
    s = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("n_words"),
        F.sum("sents").cast("long").alias("n_sents"),
        F.sum("syll").cast("long").alias("n_syll"),
    )
    return s.selectExpr(*_READ_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# q_heaps_law — vocabulary growth curve + Heaps beta fit
# ---------------------------------------------------------------------------

_HEAPS_DEC = 10

#: OLS slope over the e6 log cells (scale cancels in the ratio).
_HEAPS_BETA = (
    "round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)"
)


@query(
    "q_heaps_law",
    oracle=f"""
    WITH docs_r AS (
        SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) AS rk,
               COUNT(*) OVER () AS nd
        FROM documents
    ),
    dec AS (
        SELECT doc_id, (({_HEAPS_DEC} * (rk - 1)) // nd) + 1 AS dec
        FROM docs_r
    ),
    tr AS (
        SELECT d.dec, t.tok
        FROM (SELECT doc_id,
                     unnest(list_filter(string_split(lower(text), ' '),
                                        x -> x <> '')) AS tok
              FROM documents) t
        JOIN dec d ON d.doc_id = t.doc_id
    ),
    words AS (
        SELECT dec, CAST(COUNT(*) AS BIGINT) AS w FROM tr GROUP BY dec
    ),
    firsts AS (
        SELECT MIN(dec) AS dec, tok FROM tr GROUP BY tok
    ),
    vocab AS (
        SELECT dec, CAST(COUNT(*) AS BIGINT) AS v FROM firsts GROUP BY dec
    ),
    cum AS (
        SELECT w.dec,
               CAST((SELECT SUM(w2.w) FROM words w2 WHERE w2.dec <= w.dec)
                    AS BIGINT) AS words_cum,
               CAST((SELECT SUM(v2.v) FROM vocab v2 WHERE v2.dec <= w.dec)
                    AS BIGINT) AS vocab_cum
        FROM words w
    ),
    cells AS (
        SELECT dec, words_cum, vocab_cum,
               CAST(round(ln(CAST(words_cum AS DOUBLE)) * 1000000)
                    AS BIGINT) AS lx,
               CAST(round(ln(CAST(vocab_cum AS DOUBLE)) * 1000000)
                    AS BIGINT) AS ly
        FROM cum
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(lx AS HUGEINT)) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ly AS HUGEINT)) AS DOUBLE) AS sy,
               CAST(SUM(CAST(lx AS HUGEINT) * lx) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(lx AS HUGEINT) * ly) AS DOUBLE) AS sxy
        FROM cells
    )
    SELECT c.dec AS decile, c.words_cum, c.vocab_cum,
           {_HEAPS_BETA} AS heaps_beta
    FROM cells c, fit
    ORDER BY decile
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps'/Herdan's law): cumulative
    distinct vocabulary vs cumulative token count at ten corpus
    checkpoints, with the fitted Heaps exponent beta (V ≈ K·W^β;
    natural corpora sit near 0.5) — the diagnostic that predicts how
    a tokenizer's vocabulary pressure scales to 100 TB from a small
    prefix.

    Each document's decile comes from its global rank (two-phase
    distributed row_number over doc_id); each TOKEN contributes its
    vocabulary unit at the decile of its FIRST occurrence (min-dec
    per token — one partial-agg'd shuffle, never a re-scan per
    checkpoint); the 10-point cumulatives are a bounded broadcast
    self-join and beta is the exact-integer-cell OLS slope of the
    q_zipf_fit discipline.

    Scale: one token shuffle keyed by token, one by decile; the
    checkpoint count is a constant.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    ranked = global_row_number(
        docs.select("doc_id"), ["doc_id"], "rk"
    )
    nd = docs.agg(F.count("*").cast("long").alias("nd"))
    dec = ranked.crossJoin(F.broadcast(nd)).selectExpr(
        "doc_id", f"(({_HEAPS_DEC} * (rk - 1)) DIV nd) + 1 AS dec"
    )
    tr = materialize(
        docs.select(
            "doc_id",
            F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"),
        )
        .join(dec, "doc_id")
        .select("dec", "tok")
    )
    words = tr.groupBy("dec").agg(F.count("*").cast("long").alias("w"))
    vocab = (
        tr.groupBy("tok")
        .agg(F.min("dec").alias("dec"))
        .groupBy("dec")
        .agg(F.count("*").cast("long").alias("v"))
    )
    wb = words.select(F.col("dec").alias("bd"), F.col("w").alias("bw"))
    vb = vocab.select(F.col("dec").alias("bd"), F.col("v").alias("bv"))
    cum = (
        words.select("dec")
        .join(F.broadcast(wb), F.col("bd") <= F.col("dec"))
        .groupBy("dec")
        .agg(F.sum("bw").cast("long").alias("words_cum"))
        .join(
            words.select("dec")
            .join(F.broadcast(vb), F.col("bd") <= F.col("dec"))
            .groupBy("dec")
            .agg(F.sum("bv").cast("long").alias("vocab_cum")),
            "dec",
        )
    )
    cells = materialize(cum.selectExpr(
        "dec",
        "words_cum",
        "vocab_cum",
        "CAST(round(ln(CAST(words_cum AS DOUBLE)) * 1000000) AS BIGINT)"
        " AS lx",
        "CAST(round(ln(CAST(vocab_cum AS DOUBLE)) * 1000000) AS BIGINT)"
        " AS ly",
    ))
    fit = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("lx").cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(F.col("ly").cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * lx"))
        .cast("double")
        .alias("sxx"),
        F.sum(F.expr("CAST(lx AS DECIMAL(38,0)) * ly"))
        .cast("double")
        .alias("sxy"),
    )
    return (
        cells.crossJoin(F.broadcast(fit))
        .selectExpr(
            "dec AS decile",
            "words_cum",
            "vocab_cum",
            f"{_HEAPS_BETA} AS heaps_beta",
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q_nb_class_metrics — per-class precision / recall / F1 for the NB
# classifier (the eval readout on top of q_naive_bayes's confusion)
# ---------------------------------------------------------------------------

_NBM_FINAL = (
    "cls",
    "CAST(tp AS BIGINT) AS tp",
    "CAST(fp AS BIGINT) AS fp",
    "CAST(fn AS BIGINT) AS fn",
    "round(CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fp AS DOUBLE), 0.0), 6)"
    " + 0.0 AS precision",
    "round(CAST(tp AS DOUBLE) / NULLIF(CAST(tp + fn AS DOUBLE), 0.0), 6)"
    " + 0.0 AS recall",
    "round(2.0 * CAST(tp AS DOUBLE)"
    " / NULLIF(CAST(2 * tp + fp + fn AS DOUBLE), 0.0), 6) + 0.0 AS f1",
)


def _nb_metrics_oracle() -> str:
    return f"""{_nb_common_cte()},
    pred AS (SELECT doc_id, cand AS predicted FROM ranked WHERE rk = 1),
    pairs AS (
        SELECT sp.source AS actual, pr.predicted
        FROM split sp JOIN pred pr ON pr.doc_id = sp.doc_id
        WHERE NOT sp.is_train
    ),
    per_class AS (
        SELECT c.source AS cls,
               SUM(CASE WHEN p.actual = c.source
                        AND p.predicted = c.source THEN 1 ELSE 0 END) AS tp,
               SUM(CASE WHEN p.actual <> c.source
                        AND p.predicted = c.source THEN 1 ELSE 0 END) AS fp,
               SUM(CASE WHEN p.actual = c.source
                        AND p.predicted <> c.source THEN 1 ELSE 0 END) AS fn
        FROM cls c CROSS JOIN pairs p
        GROUP BY c.source
    )
    SELECT {", ".join(_NBM_FINAL)} FROM per_class ORDER BY cls
    """


@query("q_nb_class_metrics", oracle=_nb_metrics_oracle())
def q_nb_class_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision / recall / F1 of the trained Naive Bayes
    source classifier — the standard eval table distilled from
    q_naive_bayes's raw confusion matrix (same shared train+score
    pipeline, same deterministic integer argmax), including classes
    the model never predicts (their precision is NULL, recall 0).

    Scale: rides ``_nb_scored``'s vocab-keyed scoring joins; the
    metric rollup is one hash aggregate over held-out (actual,
    predicted) pairs fanned across the bounded class list (broadcast),
    so nothing new shuffles at data scale.
    """
    split, scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    pairs = (
        split.filter(~F.col("is_train"))
        .select("doc_id", F.col("source").alias("actual"))
        .join(pred, "doc_id")
    )
    classes = (
        split.filter(F.col("is_train"))
        .select(F.col("source").alias("cls"))
        .distinct()
    )
    per_class = (
        pairs.crossJoin(F.broadcast(classes))
        .groupBy("cls")
        .agg(
            F.sum(
                F.when(
                    (F.col("actual") == F.col("cls"))
                    & (F.col("predicted") == F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("tp"),
            F.sum(
                F.when(
                    (F.col("actual") != F.col("cls"))
                    & (F.col("predicted") == F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("fp"),
            F.sum(
                F.when(
                    (F.col("actual") == F.col("cls"))
                    & (F.col("predicted") != F.col("cls")),
                    1,
                ).otherwise(0)
            ).alias("fn"),
        )
    )
    return per_class.selectExpr(*_NBM_FINAL).orderBy("cls")


# ---------------------------------------------------------------------------
# q_mcnemar — paired comparison: NB classifier vs majority baseline
# ---------------------------------------------------------------------------

_MCN_FINAL = (
    "maj AS baseline_class",
    "CAST(n_test AS BIGINT) AS n_test",
    "CAST(b AS BIGINT) AS nb_only_correct",
    "CAST(c AS BIGINT) AS base_only_correct",
    "COALESCE(round((abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)"
    " * (abs(CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) - 1.0)"
    " / NULLIF(CAST(b + c AS DOUBLE), 0.0), 6) + 0.0, 0.0) AS mcnemar_chi2",
)


def _mcnemar_oracle() -> str:
    return f"""{_nb_common_cte()},
    pred AS (SELECT doc_id, cand AS predicted FROM ranked WHERE rk = 1),
    maj AS (
        SELECT source AS maj FROM split WHERE is_train
        GROUP BY source ORDER BY COUNT(*) DESC, source LIMIT 1
    ),
    pairs AS (
        SELECT sp.source AS actual, pr.predicted, m.maj
        FROM split sp JOIN pred pr ON pr.doc_id = sp.doc_id
        CROSS JOIN maj m
        WHERE NOT sp.is_train
    ),
    s AS (
        SELECT MAX(maj) AS maj, COUNT(*) AS n_test,
               SUM(CASE WHEN predicted = actual AND maj <> actual
                        THEN 1 ELSE 0 END) AS b,
               SUM(CASE WHEN predicted <> actual AND maj = actual
                        THEN 1 ELSE 0 END) AS c
        FROM pairs
    )
    SELECT {", ".join(_MCN_FINAL)} FROM s
    """


@query("q_mcnemar", oracle=_mcnemar_oracle())
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test (continuity-corrected): does the trained
    NB source classifier beat the predict-the-majority-class baseline
    ON THE SAME held-out documents? Only the discordant pairs carry
    signal (docs exactly one of the two gets right) — the textbook
    way to compare classifiers without pretending their test sets are
    independent (an unpaired q_ab_test-style comparison would waste
    the pairing).

    Determinism: both predictions are deterministic (NB's integer
    argmax; the majority class with name tie-break); b, c, n are
    exact integers; χ² is one shared text.

    Scale: rides the shared ``_nb_scored`` pipeline; the baseline is
    a 1-row broadcast; the readout is a four-counter rollup.
    """
    split, scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand")
    )
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    maj = (
        split.filter("is_train")
        .groupBy("source")
        .agg(F.count("*").alias("nd"))
        .orderBy(F.col("nd").desc(), F.col("source"))
        .limit(1)
        .select(F.col("source").alias("maj"))
    )
    pairs = (
        split.filter(~F.col("is_train"))
        .select("doc_id", F.col("source").alias("actual"))
        .join(pred, "doc_id")
        .crossJoin(F.broadcast(maj))
    )
    s = pairs.agg(
        F.max("maj").alias("maj"),
        F.count("*").cast("long").alias("n_test"),
        F.sum(
            F.when(
                (F.col("predicted") == F.col("actual"))
                & (F.col("maj") != F.col("actual")),
                1,
            ).otherwise(0)
        ).alias("b"),
        F.sum(
            F.when(
                (F.col("predicted") != F.col("actual"))
                & (F.col("maj") == F.col("actual")),
                1,
            ).otherwise(0)
        ).alias("c"),
    )
    return s.selectExpr(*_MCN_FINAL)


# ---------------------------------------------------------------------------
# q_nb_auc — one-vs-rest ranking AUC from the exact integer NB scores
# ---------------------------------------------------------------------------

_AUC_FINAL = (
    "cls AS target_class",
    "CAST(np AS BIGINT) AS n_pos",
    "CAST(nn AS BIGINT) AS n_neg",
    "round((CAST(r2p AS DOUBLE) / 2.0"
    " - CAST(np AS DOUBLE) * (CAST(np AS DOUBLE) + 1.0) / 2.0)"
    " / NULLIF(CAST(np AS DOUBLE) * CAST(nn AS DOUBLE), 0.0), 6) + 0.0"
    " AS auc",
)


def _nb_auc_oracle() -> str:
    return f"""{_nb_common_cte()},
    tgt AS (SELECT MIN(source) AS cls FROM split WHERE is_train),
    sc AS (
        SELECT r.doc_id, r.score,
               CASE WHEN sp.source = t.cls THEN 1 ELSE 0 END AS pos,
               t.cls
        FROM ranked r
        JOIN split sp ON sp.doc_id = r.doc_id
        CROSS JOIN tgt t
        WHERE r.cand = t.cls
    ),
    vc AS (
        SELECT cls, score,
               CAST(SUM(pos) AS BIGINT) AS n_pos,
               CAST(COUNT(*) AS BIGINT) AS n_v
        FROM sc GROUP BY cls, score
    ),
    cum AS (
        SELECT cls, score, n_pos, n_v,
               SUM(n_v) OVER (ORDER BY score) AS cum
        FROM vc
    ),
    s AS (
        SELECT MAX(cls) AS cls,
               SUM(n_pos) AS np, SUM(n_v - n_pos) AS nn,
               SUM(CAST(n_pos AS HUGEINT) * (2 * cum - n_v + 1)) AS r2p
        FROM cum
    )
    SELECT {", ".join(_AUC_FINAL)} FROM s
    """


@query("q_nb_auc", oracle=_nb_auc_oracle())
def q_nb_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-vs-rest ranking AUC of the NB classifier for the
    alphabetically-first training class: the probability a random
    positive held-out document outranks a random negative under the
    class's NB score — the threshold-free eval that complements
    q_nb_class_metrics' argmax view (a model can have mediocre argmax
    accuracy yet excellent ranking, or vice versa).

    AUC is the Mann–Whitney statistic of the SCORES, and NB scores
    are exact integer micro-nats — so AUC here is exactly rational:
    the score histogram's integral 2×midranks (the q_mann_whitney
    machinery, cumulative counts via the two-phase distributed
    running sum) give R₂⁺, and AUC = (R⁺ − np(np+1)/2)/(np·nn) with
    no float anywhere before the final division.

    Scale: rides ``_nb_scored``; the histogram is |distinct scores|
    ≤ |test docs|; the prefix scan and rollup are bounded by it.
    """
    from ..functions.prefix import global_running_sum

    split, scored = _nb_scored(spark, sf_dir)
    tgt = (
        split.filter("is_train")
        .agg(F.min("source").alias("cls"))
    )
    sc = (
        scored.crossJoin(F.broadcast(tgt))
        .filter(F.col("cand") == F.col("cls"))
        .join(
            split.select("doc_id", F.col("source").alias("actual")),
            "doc_id",
        )
        .select(
            "cls",
            "score",
            F.when(F.col("actual") == F.col("cls"), 1)
            .otherwise(0)
            .alias("pos"),
        )
    )
    vc = sc.groupBy("cls", "score").agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.count("*").cast("long").alias("n_v"),
    )
    cum = global_running_sum(vc, "score", "n_v", out_col="cum")
    s = cum.agg(
        F.max("cls").alias("cls"),
        F.sum("n_pos").cast("decimal(38,0)").alias("np"),
        F.sum(F.col("n_v") - F.col("n_pos")).cast("decimal(38,0)").alias(
            "nn"
        ),
        F.sum(
            F.col("n_pos").cast("decimal(38,0)")
            * (2 * F.col("cum") - F.col("n_v") + 1)
        ).alias("r2p"),
    )
    return s.selectExpr(*_AUC_FINAL)


# ---------------------------------------------------------------------------
# q_nb_crossval — 5-fold cross-validated NB accuracy (complement trick)
# ---------------------------------------------------------------------------

#: Fold count; fold(doc) = hash_bucket('nbcv', doc_id, 5).
_NBCV_FOLDS = 5

_NBCV_FINAL = (
    "CAST(fold AS BIGINT) AS fold",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_correct AS BIGINT) AS n_correct",
    "round(CAST(n_correct AS DOUBLE) / n_docs, 6) AS accuracy",
)


def _nbcv_oracle() -> str:
    from .sampling import _bucket_sql

    fold = _bucket_sql("nbcv", "doc_id", _NBCV_FOLDS)
    return f"""
    WITH split AS (
        SELECT doc_id, source, {fold} AS fold,
               list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents
    ),
    toks AS (SELECT doc_id, source, fold, unnest(toks) AS tok FROM split),
    tokc AS (
        SELECT fold, source, tok, CAST(COUNT(*) AS BIGINT) AS cf
        FROM toks GROUP BY 1, 2, 3
    ),
    gcnt AS (
        SELECT source, tok, CAST(SUM(cf) AS BIGINT) AS cg
        FROM tokc GROUP BY 1, 2
    ),
    tcf AS (SELECT fold, source, SUM(cf) AS tf FROM tokc GROUP BY 1, 2),
    tcg AS (SELECT source, SUM(cg) AS tg FROM gcnt GROUP BY 1),
    folds AS (SELECT unnest(range(0, {_NBCV_FOLDS})) AS fold),
    tot AS (
        SELECT f.fold, g.source, g.tg - COALESCE(t.tf, 0) AS tot_train
        FROM folds f CROSS JOIN tcg g
        LEFT JOIN tcf t ON t.fold = f.fold AND t.source = g.source
    ),
    tk AS (SELECT tok, SUM(cf) AS c FROM tokc GROUP BY tok),
    tkf AS (SELECT fold, tok, SUM(cf) AS c FROM tokc GROUP BY 1, 2),
    excl AS (
        SELECT tkf.fold, COUNT(*) AS n_excl
        FROM tkf JOIN tk ON tk.tok = tkf.tok AND tk.c = tkf.c
        GROUP BY tkf.fold
    ),
    vtot AS (SELECT COUNT(*) AS v FROM tk),
    vf AS (
        SELECT f.fold, vt.v - COALESCE(e.n_excl, 0) AS v
        FROM folds f CROSS JOIN vtot vt
        LEFT JOIN excl e ON e.fold = f.fold
    ),
    dcf AS (SELECT fold, source, COUNT(*) AS ndf FROM split GROUP BY 1, 2),
    dcg AS (SELECT source, COUNT(*) AS ndg FROM split GROUP BY 1),
    nall AS (SELECT COUNT(*) AS n, COUNT(DISTINCT source) AS k FROM split),
    prior AS (
        SELECT f.fold, g.source,
               CAST(round(ln((g.ndg - COALESCE(d.ndf, 0) + 1.0)
                             / (a.n - nf.nf + a.k)) * 1000000) AS BIGINT) AS plp
        FROM folds f CROSS JOIN dcg g CROSS JOIN nall a
        LEFT JOIN dcf d ON d.fold = f.fold AND d.source = g.source
        JOIN (SELECT fold, SUM(ndf) AS nf FROM dcf GROUP BY fold) nf
             ON nf.fold = f.fold
    ),
    cls AS (SELECT DISTINCT source AS cand FROM split),
    scored AS (
        SELECT t.doc_id, t.fold, c.cand,
               SUM(CAST(round(ln(
                   (COALESCE(g.cg, 0) - COALESCE(tc.cf, 0) + 1.0)
                   / (tt.tot_train + v.v)) * 1000000) AS BIGINT)) AS tok_lp
        FROM toks t
        CROSS JOIN cls c
        LEFT JOIN gcnt g ON g.source = c.cand AND g.tok = t.tok
        LEFT JOIN tokc tc ON tc.fold = t.fold AND tc.source = c.cand
                          AND tc.tok = t.tok
        JOIN tot tt ON tt.fold = t.fold AND tt.source = c.cand
        JOIN vf v ON v.fold = t.fold
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT s.doc_id, s.fold, s.cand, s.tok_lp + p.plp AS score,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                  ORDER BY s.tok_lp + p.plp DESC, s.cand) AS rk
        FROM scored s JOIN prior p ON p.fold = s.fold AND p.source = s.cand
    ),
    pred AS (SELECT doc_id, cand AS predicted FROM ranked WHERE rk = 1),
    acc AS (
        SELECT sp.fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (WHERE pr.predicted = sp.source)
                    AS BIGINT) AS n_correct
        FROM split sp JOIN pred pr ON pr.doc_id = sp.doc_id
        GROUP BY sp.fold
    )
    SELECT {", ".join(_NBCV_FINAL)} FROM acc ORDER BY fold
    """


@query("q_nb_crossval", oracle=_nbcv_oracle())
def q_nb_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated accuracy of the multinomial NB source
    classifier — the evaluation q_naive_bayes's single 80/20 split
    cannot give (per-fold variance separates model skill from split
    luck). Implemented with the COMPLEMENT trick: token counts are
    aggregated ONCE per (fold, class, token); fold f's training model
    is the global counts minus fold f's own (c_train = cg - cf,
    tot_train = tg - tf, vocab_f = |vocab| - |fold-exclusive tokens|),
    so 5 models cost ONE aggregation pass instead of five training
    runs — the way distributed CV should be expressed. Laplace
    smoothing unifies seen/unseen tokens ((c_train + 1)/(tot_train +
    v_f)) and the class prior ((n_docs_train + 1)/(N_train + k)), so
    no branch ever logs zero.

    Exactness: per-token and prior logs are e6-quantized BEFORE the
    per-doc integer SUM (the q_naive_bayes discipline); the argmax
    tie-breaks on class name.

    Scale: one token-count aggregate (map-side combined) + vocab-scale
    fold/class panels; scoring joins test tokens against the count
    tables on the token key (model shuffled, never collected); the
    per-doc argmax is a window over |classes| rows per doc.
    """
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    # Single-file fixture scans are one task; spread before the token
    # explode + class fan-out (the session-4 scan-stage finding).
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    split = docs.select(
        "doc_id",
        "source",
        hash_bucket("nbcv", F.col("doc_id"), _NBCV_FOLDS).alias("fold"),
        F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "").alias(
            "toks"
        ),
    )
    # The token relation feeds the count model AND the scoring fan-out;
    # tokc feeds SEVEN downstream aggregates (glob/tcf/tcg/tk/tkf/excl
    # + scoring). Checkpoint both so each consumer reads the
    # materialized relation instead of re-running the scan+tokenize+
    # explode(+count) subtree — the r11 before-plan showed 28
    # duplicated parquet scans and 112 exchanges in this one query.
    # r12: materialize the (doc, tok) COUNT panel instead of the raw
    # exploded tokens (2.33x smaller at sf0.1; scoring weights each
    # (doc, tok) row by its count — identical scores by integer
    # linearity; the r11 ADVICE ask to not checkpoint the full
    # exploded relation).
    tokn = materialize(
        split.select("doc_id", "source", "fold", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "source", "fold", "tok")
        .agg(F.count("*").cast("long").alias("n"))
    )
    tokc = materialize(tokn.groupBy("fold", "source", "tok").agg(
        F.sum("n").cast("long").alias("cf")
    ))
    glob = tokc.groupBy("source", "tok").agg(F.sum("cf").cast("long").alias("cg"))
    tcf = tokc.groupBy("fold", "source").agg(F.sum("cf").alias("tf"))
    tcg = glob.groupBy("source").agg(F.sum("cg").alias("tg"))
    folds = spark.range(0, _NBCV_FOLDS).select(F.col("id").cast("long").alias("fold"))
    tot = (
        folds.crossJoin(tcg)
        .join(tcf, ["fold", "source"], "left")
        .select(
            "fold",
            "source",
            (F.col("tg") - F.coalesce("tf", F.lit(0))).alias("tot_train"),
        )
    )
    tk = tokc.groupBy("tok").agg(F.sum("cf").alias("c"))
    tkf = tokc.groupBy("fold", "tok").agg(F.sum("cf").alias("c"))
    excl = (
        tkf.join(tk.withColumnRenamed("c", "c_all"), "tok")
        .filter(F.col("c") == F.col("c_all"))
        .groupBy("fold")
        .agg(F.count("*").alias("n_excl"))
    )
    vtot = tk.agg(F.count("*").alias("v"))
    vf = (
        folds.crossJoin(F.broadcast(vtot))
        .join(excl, "fold", "left")
        .select(
            "fold", (F.col("v") - F.coalesce("n_excl", F.lit(0))).alias("v")
        )
    )
    dcf = split.groupBy("fold", "source").agg(F.count("*").alias("ndf"))
    dcg = split.groupBy("source").agg(F.count("*").alias("ndg"))
    nall = split.agg(
        F.count("*").alias("n"), F.countDistinct("source").alias("k")
    )
    nf = dcf.groupBy("fold").agg(F.sum("ndf").alias("nf"))
    prior = (
        folds.crossJoin(dcg)
        .crossJoin(F.broadcast(nall))
        .join(dcf, ["fold", "source"], "left")
        .join(nf, "fold")
        .select(
            "fold",
            "source",
            F.expr(
                "CAST(round(ln((ndg - COALESCE(ndf, 0) + 1.0)"
                " / (n - nf + k)) * 1000000) AS BIGINT)"
            ).alias("plp"),
        )
    )
    cls = split.select(F.col("source").alias("cand")).distinct()
    scored = (
        tokn.select("doc_id", "fold", "tok", "n")
        .crossJoin(F.broadcast(cls))
        .join(
            glob.select(F.col("source").alias("cand"), "tok", "cg"),
            ["cand", "tok"],
            "left",
        )
        .join(
            tokc.select("fold", F.col("source").alias("cand"), "tok", "cf"),
            ["fold", "cand", "tok"],
            "left",
        )
        .join(
            F.broadcast(tot.select("fold", F.col("source").alias("cand"), "tot_train")),
            ["fold", "cand"],
        )
        .join(F.broadcast(vf), "fold")
        .groupBy("doc_id", "fold", "cand")
        .agg(
            F.sum(
                F.expr(
                    "CAST(round(ln((COALESCE(cg, 0) - COALESCE(cf, 0) + 1.0)"
                    " / (tot_train + v)) * 1000000) AS BIGINT)"
                )
                * F.col("n")
            ).alias("tok_lp")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        (F.col("tok_lp") + F.col("plp")).desc(), F.col("cand")
    )
    pred = (
        scored.join(
            F.broadcast(prior.select("fold", F.col("source").alias("cand"), "plp")),
            ["fold", "cand"],
        )
        .withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    acc = (
        split.select("doc_id", "fold", "source")
        .join(pred, "doc_id")
        .groupBy("fold")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.when(F.col("predicted") == F.col("source"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
    )
    return acc.selectExpr(*_NBCV_FINAL).orderBy("fold")


# ---------------------------------------------------------------------------
# q_lsa_topic — top LSA direction of the TF-IDF doc-term matrix
# ---------------------------------------------------------------------------

#: Power-iteration rounds on A^T A (weights are nonnegative, so the
#: iteration converges to the top singular direction from the uniform
#: start without sign flips).
_LSA_ROUNDS = 3

#: Fixed-point scale for the iterate and the weights.
_LSA_E6 = 1_000_000

#: Top terms reported by loading.
_LSA_TOPN = 10

_LSA_FINAL = (
    "term",
    "CAST(v AS BIGINT) AS loading_e6",
    "round(CAST(v AS DOUBLE) / 1000000, 6) AS loading",
)


def _lsa_oracle() -> str:
    rounds = []
    prev_v = "v0"
    for r in range(1, _LSA_ROUNDS + 1):
        rounds.append(f"""u{r}r AS (
        SELECT a.doc, SUM(CAST(a.w AS HUGEINT) * v.v) AS s
        FROM a JOIN {prev_v} v ON v.term = a.term GROUP BY a.doc
    ),
    u{r} AS (
        SELECT doc, CAST({_LSA_E6} * s // MAX(s) OVER () AS BIGINT) AS u
        FROM u{r}r
    ),
    v{r}r AS (
        SELECT a.term, SUM(CAST(a.w AS HUGEINT) * u.u) AS s
        FROM a JOIN u{r} u ON u.doc = a.doc GROUP BY a.term
    ),
    v{r} AS (
        SELECT term, CAST({_LSA_E6} * s // MAX(s) OVER () AS BIGINT) AS v
        FROM v{r}r
    )""")
        prev_v = f"v{r}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH tf AS (
        SELECT doc_id AS doc, tok AS term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ) GROUP BY 1, 2
    ),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    a AS MATERIALIZED (
        SELECT tf.doc, tf.term,
               CAST(round(tf.tf * ln(CAST(nd.n AS DOUBLE) / df.df)
                          * {_LSA_E6}) AS BIGINT) AS w
        FROM tf JOIN df ON df.term = tf.term CROSS JOIN nd
        WHERE df.df < nd.n
    ),
    v0 AS (SELECT DISTINCT term, CAST({_LSA_E6} AS BIGINT) AS v FROM a),
    {chain},
    top AS (
        SELECT term, v FROM v{_LSA_ROUNDS}
        ORDER BY v DESC, term LIMIT {_LSA_TOPN}
    )
    SELECT {", ".join(_LSA_FINAL)} FROM top ORDER BY loading_e6 DESC, term
    """


@query("q_lsa_topic", oracle=_lsa_oracle())
def q_lsa_topic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top latent-semantic direction (Deerwester et al. 1990 LSA) of
    the TF-IDF document-term matrix by power iteration on A^T A: the
    10 highest-loading terms name the corpus's dominant topic — the
    text-side counterpart of q_pca_top_component (which audits the
    embedding space) and the spectral summary next to q_tfidf_topk's
    per-document keywords.

    Exactness: TF-IDF weights are e6-quantized integers (q_tfidf_topk's
    formula text); each half-round inflow sum is DECIMAL(38,0)/HUGEINT
    and is max-normalized in exact integer arithmetic (``1e6*s DIV
    max(s)`` — the q_hits discipline; all quantities nonnegative, so
    truncating DIV == flooring //); the oracle unrolls every round
    with the ``MAX(s) OVER ()`` window form (a scalar subquery makes
    DuckDB re-inline the CTE chain per round — the q_hits finding).
    Terms appearing in every document carry zero idf and are dropped
    identically in both engines.

    The rounds are ``functions.graph.hits_scores`` with the terms as
    hubs and the TF-IDF weight on each edge.

    Scale: each half-round is one term- or doc-keyed equi-join over
    the sparse triple relation plus a partial-agg'd sum — 2 shuffles
    per round, linear in nnz(A), never a dense matrix; the normalizing
    max is a 1-row broadcast; the top-10 compiles to
    TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    tf = (
        spread.select(
            F.col("doc_id").alias("doc"),
            F.explode(
                F.filter(F.split(F.lower(F.col("text")), " "), lambda t: t != "")
            ).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    nd = docs.agg(F.count("*").cast("long").alias("n"))
    a = materialize(
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .filter(F.col("df") < F.col("n"))
        .selectExpr(
            "doc",
            "term",
            f"CAST(round(tf * ln(CAST(n AS DOUBLE) / df) * {_LSA_E6})"
            " AS BIGINT) AS w",
        )
    )

    v, _ = hits_scores(a, "term", "doc", _LSA_ROUNDS, weight="w")
    return (
        v.withColumnRenamed("score", "v")
        .orderBy(F.col("v").desc(), "term")
        .limit(_LSA_TOPN)
        .selectExpr(*_LSA_FINAL)
        .orderBy(F.col("loading_e6").desc(), "term")
    )


# ---------------------------------------------------------------------------
# q_nb_learning_curve — accuracy vs training-data fraction
# ---------------------------------------------------------------------------

#: Training fractions in hash deciles (decile 9 is the held-out test
#: set): model f trains on deciles 0..f-1 = 10f% of the corpus.
_NBLC_FRACS = (1, 2, 4, 8, 9)

_NBLC_FINAL = (
    "CAST(f AS BIGINT) AS n_deciles",
    "CAST(f * 10 AS BIGINT) AS train_pct",
    "CAST(n_train AS BIGINT) AS n_train_docs",
    "CAST(n_test AS BIGINT) AS n_test_docs",
    "CAST(n_correct AS BIGINT) AS n_correct",
    "round(CAST(n_correct AS DOUBLE) / n_test, 6) AS accuracy",
)


def _nblc_oracle() -> str:
    from .sampling import _bucket_sql

    dec = _bucket_sql("nblc", "doc_id", 10)
    fracs = ", ".join(str(f) for f in _NBLC_FRACS)
    return f"""
    WITH toks0 AS (
        SELECT doc_id, source, {dec} AS dec,
               list_filter(string_split(lower(text), ' '), t -> t <> '')
                   AS toks
        FROM documents
    ),
    toks AS (
        SELECT doc_id, source, dec, unnest(toks) AS tok FROM toks0
    ),
    fr AS (SELECT unnest([{fracs}]) AS f),
    tokc AS (
        SELECT dec, source, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM toks WHERE dec < 9 GROUP BY 1, 2, 3
    ),
    cf AS (
        SELECT fr.f, t.source, t.tok, SUM(t.c) AS c
        FROM tokc t JOIN fr ON t.dec < fr.f
        GROUP BY 1, 2, 3
    ),
    tot AS (SELECT f, source, SUM(c) AS tot FROM cf GROUP BY 1, 2),
    voc AS (
        SELECT fr.f, COUNT(DISTINCT t.tok) AS v
        FROM tokc t JOIN fr ON t.dec < fr.f GROUP BY 1
    ),
    dtr AS (
        SELECT fr.f, d.source, CAST(COUNT(*) AS BIGINT) AS nd
        FROM toks0 d JOIN fr ON d.dec < fr.f
        GROUP BY 1, 2
    ),
    ntr AS (SELECT f, SUM(nd) AS n FROM dtr GROUP BY f),
    -- candidate classes PER FRACTION: a model trained on data with
    -- zero examples of a class cannot predict it (the class enters
    -- the curve once its first training doc appears)
    cls AS (SELECT f, source AS cand FROM dtr),
    kk AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS k FROM cls GROUP BY f),
    prior AS (
        SELECT c.f, c.cand,
               CAST(round(ln((dt.nd + 1.0) / (nt.n + kk.k))
                          * 1000000) AS BIGINT) AS plp
        FROM cls c
        JOIN dtr dt ON dt.f = c.f AND dt.source = c.cand
        JOIN ntr nt ON nt.f = c.f
        JOIN kk ON kk.f = c.f
    ),
    test AS (SELECT doc_id, source, tok FROM toks WHERE dec = 9),
    scored AS (
        SELECT te.doc_id, c.f, c.cand,
               SUM(CAST(round(ln((COALESCE(cf.c, 0) + 1.0)
                                 / (COALESCE(tt.tot, 0) + v.v)) * 1000000)
                        AS BIGINT)) AS tok_lp
        FROM test te CROSS JOIN cls c
        LEFT JOIN cf ON cf.f = c.f AND cf.source = c.cand
                    AND cf.tok = te.tok
        LEFT JOIN tot tt ON tt.f = c.f AND tt.source = c.cand
        JOIN voc v ON v.f = c.f
        GROUP BY 1, 2, 3
    ),
    ranked AS (
        SELECT s.doc_id, s.f, s.cand,
               ROW_NUMBER() OVER (PARTITION BY s.doc_id, s.f
                                  ORDER BY s.tok_lp + p.plp DESC, s.cand)
                   AS rk
        FROM scored s JOIN prior p ON p.f = s.f AND p.cand = s.cand
    ),
    truth AS (SELECT DISTINCT doc_id, source FROM test),
    acc AS (
        SELECT r.f,
               CAST(COUNT(*) AS BIGINT) AS n_test,
               CAST(COUNT(*) FILTER (WHERE r.cand = t.source) AS BIGINT)
                   AS n_correct
        FROM ranked r JOIN truth t USING (doc_id)
        WHERE r.rk = 1 GROUP BY r.f
    )
    SELECT {", ".join(_NBLC_FINAL)}
    FROM acc JOIN ntr USING (f),
         LATERAL (SELECT ntr.n AS n_train) _
    ORDER BY f
    """


@query("q_nb_learning_curve", oracle=_nblc_oracle())
def q_nb_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-scaling (learning) curve of the NB source classifier:
    held-out accuracy at 10/20/40/80/90% of the training corpus — the
    measurement behind every "how much data do we actually need"
    decision and the data-ablation readout scaling-law work plots
    (Kaplan et al. 2020 regime, here with the engine's exact NB).

    Implemented with the q_nb_crossval discipline inverted: token
    counts are aggregated ONCE per (decile, class, token); the model
    for fraction f is the CUMULATIVE sum over deciles < f (a 5-row
    broadcast non-equi join), so 5 nested models cost one training
    aggregation. Decile 9 is the fixed held-out test set; Laplace
    smoothing and the e6-quantized-ln-before-integer-sum exactness
    discipline are q_naive_bayes's verbatim.

    Scale: one (decile, class, token) aggregate (map-side combined);
    scoring joins test tokens against the cumulative count table on
    (f, class, token); the per-doc argmax is a window over |classes|
    rows per (doc, fraction).
    """
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    docs = docs.repartition(spark.sparkContext.defaultParallelism)
    toks0 = docs.select(
        "doc_id",
        "source",
        hash_bucket("nblc", F.col("doc_id"), 10).alias("dec"),
        tokens_col(F.lower(F.col("text"))).alias("toks"),
    )
    # toks feeds the decile count model and the held-out scoring;
    # tokc/cf feed several downstream aggregates. Checkpoint the three
    # (r11 checkpoint discipline) so each consumer reads materialized
    # rows instead of re-running the tokenize/explode/count subtrees.
    toks = materialize(toks0.select(
        "doc_id", "source", "dec", F.explode("toks").alias("tok")
    ))
    fr = docs.sparkSession.createDataFrame(
        [(f,) for f in _NBLC_FRACS], "f long"
    )
    tokc = materialize(
        toks.filter(F.col("dec") < 9)
        .groupBy("dec", "source", "tok")
        .agg(F.count("*").cast("long").alias("c"))
    )
    cf = materialize(
        tokc.join(F.broadcast(fr), tokc["dec"] < fr["f"])
        .groupBy("f", "source", "tok")
        .agg(F.sum("c").alias("c"))
    )
    tot = cf.groupBy("f", "source").agg(F.sum("c").alias("tot"))
    voc = (
        tokc.join(F.broadcast(fr), tokc["dec"] < fr["f"])
        .groupBy("f")
        .agg(F.countDistinct("tok").alias("v"))
    )
    dtr = (
        toks0.filter(F.col("dec") < 9)
        .join(F.broadcast(fr), toks0["dec"] < fr["f"])
        .groupBy("f", "source")
        .agg(F.count("*").cast("long").alias("nd"))
    )
    ntr = dtr.groupBy("f").agg(F.sum("nd").alias("n"))
    # candidate classes PER FRACTION: only classes with >= 1 training
    # doc can be predicted (the class enters the curve once its first
    # training doc appears)
    cls = dtr.select("f", F.col("source").alias("cand"))
    kk = cls.groupBy("f").agg(F.count("*").cast("long").alias("k"))
    prior = (
        cls.join(dtr.withColumnRenamed("source", "cand"), ["f", "cand"])
        .join(ntr, "f")
        .join(kk, "f")
        .select(
            "f",
            "cand",
            F.round(
                F.log(
                    (F.col("nd") + F.lit(1.0))
                    / (F.col("n") + F.col("k")).cast("double")
                )
                * 1000000
            )
            .cast("long")
            .alias("plp"),
        )
    )
    test = toks.filter(F.col("dec") == 9).select("doc_id", "source", "tok")
    scored = (
        test.crossJoin(F.broadcast(cls))
        .join(
            cf.withColumnRenamed("source", "cand").withColumnRenamed("c", "cc"),
            ["f", "cand", "tok"],
            "left",
        )
        .join(tot.withColumnRenamed("source", "cand"), ["f", "cand"], "left")
        .join(F.broadcast(voc), "f")
        .groupBy("doc_id", "f", "cand")
        .agg(
            F.sum(
                F.round(
                    F.log(
                        (F.coalesce("cc", F.lit(0)) + F.lit(1.0))
                        / (F.coalesce("tot", F.lit(0)) + F.col("v"))
                        .cast("double")
                    )
                    * 1000000
                ).cast("long")
            ).alias("tok_lp")
        )
    )
    ranked = (
        scored.join(F.broadcast(prior), ["f", "cand"])
        .withColumn("score", F.col("tok_lp") + F.col("plp"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id", "f").orderBy(
                    F.col("score").desc(), "cand"
                )
            ),
        )
        .filter(F.col("rk") == 1)
    )
    truth = test.select("doc_id", "source").distinct()
    acc = (
        ranked.join(truth, "doc_id")
        .groupBy("f")
        .agg(
            F.count("*").cast("long").alias("n_test"),
            F.sum(F.when(F.col("cand") == F.col("source"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
    )
    out = acc.join(ntr.withColumnRenamed("n", "n_train"), "f")
    return out.selectExpr(*_NBLC_FINAL).orderBy("f")


# ---------------------------------------------------------------------------
# round-10 classifier-eval completion: PR curve, average precision,
# and the group-fairness audit — all riding the shared NB pipeline
# ---------------------------------------------------------------------------

_PRC_FINAL = (
    "CAST(score AS BIGINT) AS score",
    "CAST(n_block AS BIGINT) AS n_block",
    "CAST(n_pos_block AS BIGINT) AS n_pos_block",
    "CAST(cum_pos AS BIGINT) AS cum_pos",
    "CAST(cum_all AS BIGINT) AS cum_all",
    "round(CAST(cum_pos AS DOUBLE) / cum_all, 6) + 0.0 AS precision_at",
    "round(CAST(cum_pos AS DOUBLE) / np, 6) + 0.0 AS recall_at",
)


def _pr_blocks_cte() -> str:
    """Score-block PR prefix: per distinct NB score of the target
    class (descending), block counts and cumulative pos/all."""
    return f"""{_nb_common_cte()},
    tgt AS (SELECT MIN(source) AS cls FROM split WHERE is_train),
    sc AS (
        SELECT r.doc_id, r.score,
               CASE WHEN sp.source = t.cls THEN 1 ELSE 0 END AS pos
        FROM ranked r
        JOIN split sp ON sp.doc_id = r.doc_id
        CROSS JOIN tgt t
        WHERE r.cand = t.cls
    ),
    vc AS (
        SELECT score,
               CAST(SUM(pos) AS BIGINT) AS n_pos_block,
               CAST(COUNT(*) AS BIGINT) AS n_block
        FROM sc GROUP BY score
    ),
    cum AS (
        SELECT score, n_pos_block, n_block,
               SUM(n_pos_block) OVER (ORDER BY score DESC) AS cum_pos,
               SUM(n_block) OVER (ORDER BY score DESC) AS cum_all
        FROM vc
    ),
    tot AS (SELECT SUM(n_pos_block) AS np,
                   SUM(n_block - n_pos_block) AS nn
            FROM vc)"""


@query(
    "q_pr_curve",
    oracle=f"""{_pr_blocks_cte()}
    SELECT {", ".join(_PRC_FINAL)}
    FROM cum, tot ORDER BY score DESC
    """,
)
def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve of the NB classifier for the
    alphabetically-first training class — one row per DISTINCT score
    (a tie block), descending: sweeping the decision threshold down
    the block list traces exactly the operating points a deployment
    can choose (cutting inside a tie block is not a realizable
    threshold, so blocks are the honest curve). Complements
    q_nb_auc's ROC view where class imbalance hides minority-class
    precision collapse.

    Exactness: NB scores are exact integer micro-nats; the cumulative
    counts come from the two-phase distributed running sum keyed on
    the (unique) score value, so every precision/recall point is a
    ratio of exact integers rounded once.

    Scale: rides ``_nb_scored``; the block relation is
    |distinct scores| <= |test docs|; two prefix scans + one scalar
    broadcast — no single-task global window.
    """
    from ..functions.prefix import global_running_sum

    split, scored = _nb_scored(spark, sf_dir)
    tgt = split.filter("is_train").agg(F.min("source").alias("cls"))
    sc = (
        scored.crossJoin(F.broadcast(tgt))
        .filter(F.col("cand") == F.col("cls"))
        .join(split.select("doc_id", F.col("source").alias("actual")), "doc_id")
        .select(
            "score",
            F.when(F.col("actual") == F.col("cls"), 1).otherwise(0).alias("pos"),
        )
    )
    vc = sc.groupBy("score").agg(
        F.sum("pos").cast("long").alias("n_pos_block"),
        F.count("*").cast("long").alias("n_block"),
    ).withColumn("neg_score", -F.col("score"))
    cum = global_running_sum(vc, "neg_score", "n_pos_block", out_col="cum_pos")
    cum = global_running_sum(cum, "neg_score", "n_block", out_col="cum_all")
    tot = vc.agg(
        F.sum("n_pos_block").alias("np"),
        F.sum(F.col("n_block") - F.col("n_pos_block")).alias("nn"),
    )
    out = cum.crossJoin(F.broadcast(tot))
    return out.selectExpr(*_PRC_FINAL).orderBy(F.col("score").desc())


_AP_FINAL = (
    "cls AS target_class",
    "CAST(np AS BIGINT) AS n_pos",
    "CAST(nn AS BIGINT) AS n_neg",
    "round(CAST(ap_e9 AS DOUBLE) / np / 1e9, 6) + 0.0 AS avg_precision",
)


@query(
    "q_avg_precision",
    oracle=f"""{_pr_blocks_cte()},
    terms AS (
        -- fixed-point each block's contribution BEFORE the sum (the
        -- backoff-LM discipline): n_pos_block * precision_at, e9
        SELECT CAST(round(CAST(n_pos_block AS DOUBLE) * cum_pos
                          * 1000000000.0 / cum_all) AS BIGINT) AS t_e9
        FROM cum
    ),
    s AS (
        SELECT (SELECT MIN(source) FROM split WHERE is_train) AS cls,
               (SELECT np FROM tot) AS np,
               (SELECT nn FROM tot) AS nn,
               CAST(SUM(t_e9) AS BIGINT) AS ap_e9
        FROM terms
    )
    SELECT {", ".join(_AP_FINAL)} FROM s
    """,
)
def q_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (tie-aware AP) of the NB classifier for the
    alphabetically-first training class: sum over score blocks of
    (positives in block) x (precision at the block), divided by total
    positives — the area under q_pr_curve's realizable operating
    points and the single-number companion to q_nb_auc (AP weights
    the minority class where AUC does not).

    Exactness: each block's term is fixed-pointed to e9 BEFORE the
    distributed sum (summing raw doubles would be summation-order
    dependent across engines), so AP is an exact integer ratio
    rounded once.
    """
    from ..functions.prefix import global_running_sum

    split, scored = _nb_scored(spark, sf_dir)
    tgt = split.filter("is_train").agg(F.min("source").alias("cls"))
    sc = (
        scored.crossJoin(F.broadcast(tgt))
        .filter(F.col("cand") == F.col("cls"))
        .join(split.select("doc_id", F.col("source").alias("actual")), "doc_id")
        .select(
            "cls",
            "score",
            F.when(F.col("actual") == F.col("cls"), 1).otherwise(0).alias("pos"),
        )
    )
    vc = sc.groupBy("cls", "score").agg(
        F.sum("pos").cast("long").alias("n_pos_block"),
        F.count("*").cast("long").alias("n_block"),
    ).withColumn("neg_score", -F.col("score"))
    cum = global_running_sum(vc, "neg_score", "n_pos_block", out_col="cum_pos")
    cum = global_running_sum(cum, "neg_score", "n_block", out_col="cum_all")
    terms = cum.select(
        "cls",
        "n_pos_block",
        F.round(
            F.col("n_pos_block").cast("double")
            * F.col("cum_pos")
            * 1000000000.0
            / F.col("cum_all")
        )
        .cast("long")
        .alias("t_e9"),
        (F.col("n_block") - F.col("n_pos_block")).alias("n_neg_block"),
    )
    s = terms.agg(
        F.max("cls").alias("cls"),
        F.sum("n_pos_block").cast("long").alias("np"),
        F.sum("n_neg_block").cast("long").alias("nn"),
        F.sum("t_e9").cast("long").alias("ap_e9"),
    )
    return s.selectExpr(*_AP_FINAL)


_FAIR_FINAL = (
    "lang",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "round(CAST(act_pos AS DOUBLE) / n_docs, 6) + 0.0 AS base_rate",
    "round(CAST(pred_pos AS DOUBLE) / n_docs, 6) + 0.0 AS pred_pos_rate",
    "round(CAST(tp AS DOUBLE) / NULLIF(act_pos, 0), 6) + 0.0 AS tpr",
    "round(CAST(fp AS DOUBLE) / NULLIF(n_docs - act_pos, 0), 6) + 0.0 AS fpr",
)


@query(
    "q_fairness_audit",
    oracle=f"""{_nb_common_cte()},
    tgt AS (SELECT MIN(source) AS cls FROM split WHERE is_train),
    pred AS (SELECT doc_id, cand AS predicted FROM ranked WHERE rk = 1),
    ev AS (
        SELECT d.lang,
               CASE WHEN sp.source = t.cls THEN 1 ELSE 0 END AS actual,
               CASE WHEN pr.predicted = t.cls THEN 1 ELSE 0 END AS predp
        FROM split sp
        JOIN pred pr ON pr.doc_id = sp.doc_id
        JOIN documents d ON d.doc_id = sp.doc_id
        CROSS JOIN tgt t
        WHERE NOT sp.is_train
    ),
    panel AS (
        SELECT lang,
               COUNT(*) AS n_docs,
               SUM(actual) AS act_pos,
               SUM(predp) AS pred_pos,
               SUM(actual * predp) AS tp,
               SUM((1 - actual) * predp) AS fp
        FROM ev GROUP BY lang
    )
    SELECT {", ".join(_FAIR_FINAL)} FROM panel ORDER BY lang
    """,
)
def q_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the NB classifier across the corpus's
    language groups — the governance panel a production quality/
    safety classifier ships with before it gates training data:
    per-language selection rate of the positive class (demographic
    parity), true-positive rate and false-positive rate (equalized
    odds), and the group's actual base rate (a parity gap over groups
    with different base rates is expected; TPR/FPR gaps are not). A
    classifier whose FPR is 3x higher for one language silently
    deletes that language's data.

    Positive class = the alphabetically-first training class (the
    q_nb_auc / q_pr_curve convention, so the three evals describe the
    same deployment). Rates are ratios of exact integer counts
    rounded once; groups with no actual positives (or negatives)
    yield NULL tpr (fpr) in both engines via NULLIF.

    Scale: rides ``_nb_scored`` + one argmax window per doc over
    |classes| rows; the audit itself is one lang-keyed aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    split, scored = _nb_scored(spark, sf_dir)
    tgt = split.filter("is_train").agg(F.min("source").alias("cls"))
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cand"))
    pred = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .select("doc_id", F.col("cand").alias("predicted"))
    )
    ev = (
        split.filter(~F.col("is_train"))
        .select("doc_id", "source")
        .join(pred, "doc_id")
        .join(docs.select("doc_id", "lang"), "doc_id")
        .crossJoin(F.broadcast(tgt))
        .select(
            "lang",
            F.when(F.col("source") == F.col("cls"), 1).otherwise(0).alias("actual"),
            F.when(F.col("predicted") == F.col("cls"), 1)
            .otherwise(0)
            .alias("predp"),
        )
    )
    panel = ev.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("actual").alias("act_pos"),
        F.sum("predp").alias("pred_pos"),
        F.sum(F.col("actual") * F.col("predp")).alias("tp"),
        F.sum((1 - F.col("actual")) * F.col("predp")).alias("fp"),
    )
    return panel.selectExpr(*_FAIR_FINAL).orderBy("lang")


# ---------------------------------------------------------------------------
# q_bm25_tuning — the (k1, b) parameter grid scored by exact nDCG@10
# ---------------------------------------------------------------------------

#: BM25 tuning grid (k1 x b) around the Robertson defaults.
_BM25_GRID = [(0.9, 0.4), (0.9, 0.75), (1.2, 0.4), (1.2, 0.75),
              (1.5, 0.4), (1.5, 0.75)]

_BMT_FINAL = (
    "CAST(k1 AS DOUBLE) AS k1",
    "CAST(b AS DOUBLE) AS b",
    "CAST(n_ranked AS BIGINT) AS n_ranked",
    "round(CAST(dcg_e6 AS DOUBLE) / CAST(idcg_e6 AS DOUBLE), 6) + 0.0"
    " AS ndcg10",
    "CAST(top1_doc AS BIGINT) AS top1_doc",
)

_BM25_GRID_SQL = ", ".join(f"({k1}, {b})" for k1, b in _BM25_GRID)


@query(
    "q_bm25_tuning",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS doc,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    dl AS (
        SELECT doc_id AS doc,
               CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                    AS BIGINT) AS dl
        FROM documents
    ),
    tf AS (
        SELECT doc, tok, CAST(COUNT(*) AS BIGINT) AS tf
        FROM toks WHERE tok IN ({_TERMS_SQL}) GROUP BY doc, tok
    ),
    dfreq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM dl
    ),
    params AS (SELECT * FROM (VALUES {_BM25_GRID_SQL}) AS p(k1, b)),
    contrib AS (
        SELECT p.k1, p.b, tf.doc,
               CAST(round(
                   ln((g.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                   * tf.tf * (p.k1 + 1.0)
                   / (tf.tf + p.k1 * (1.0 - p.b + p.b * dl.dl / g.avgdl))
                   * 1000000) AS BIGINT) AS c
        FROM tf
        JOIN dfreq d USING (tok)
        JOIN dl ON dl.doc = tf.doc
        CROSS JOIN g CROSS JOIN params p
    ),
    scores AS (
        SELECT k1, b, doc, CAST(SUM(c) AS BIGINT) AS s_e6
        FROM contrib GROUP BY k1, b, doc
    ),
    rel AS (
        SELECT doc, CAST(COUNT(DISTINCT tok) AS BIGINT) AS rel FROM tf
        GROUP BY doc
    ),
    ranked AS (
        SELECT s.k1, s.b, s.doc, r.rel,
               ROW_NUMBER() OVER (PARTITION BY s.k1, s.b
                                  ORDER BY s.s_e6 DESC, s.doc) AS rk
        FROM scores s JOIN rel r ON r.doc = s.doc
    ),
    dcg AS (
        SELECT k1, b,
               CAST(SUM(CAST(round((pow(2.0, rel) - 1.0) / log2(rk + 1.0)
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS dcg_e6,
               CAST(COUNT(*) AS BIGINT) AS n_ranked,
               CAST(MIN(CASE WHEN rk = 1 THEN doc END) AS BIGINT)
                   AS top1_doc
        FROM ranked WHERE rk <= 10 GROUP BY k1, b
    ),
    ideal AS (
        SELECT doc, rel,
               ROW_NUMBER() OVER (ORDER BY rel DESC, doc) AS rk
        FROM rel
    ),
    idcg AS (
        SELECT CAST(SUM(CAST(round((pow(2.0, rel) - 1.0) / log2(rk + 1.0)
                                   * 1000000) AS BIGINT)) AS BIGINT)
                   AS idcg_e6
        FROM ideal WHERE rk <= 10
    )
    SELECT {", ".join(_BMT_FINAL)}
    FROM dcg CROSS JOIN idcg
    ORDER BY k1, b
    """,
)
def q_bm25_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (k1, b) tuning curve — the full Robertson scorer evaluated
    over a 3x2 parameter grid and scored by exact graded nDCG@10, the
    operating-point sweep a retrieval deployment runs before fixing
    its scorer (q_ivf_nprobe_curve's class: the tuning curve IS the
    query). Relevance is deterministic and label-free: rel(doc) =
    number of distinct query terms the doc contains (0-3), the
    natural graded relevance of a conjunctive term set; the ideal
    ranking is rel-descending.

    Exactness: per-term contributions AND per-position DCG gains are
    fixed-pointed to integer micro-units BEFORE their distributed
    sums (the q_bm25 discipline extended to the gain sum); ranks
    tie-break on doc_id; nDCG is one integer ratio rounded at the
    end.

    Scale: the tf relation (docs containing a query term) is the only
    per-doc work and is computed ONCE for all 6 grid points (the grid
    joins after aggregation — a 6-row broadcast); rankings are
    per-(k1, b) grouped windows over the candidate set, never the
    corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks_arr = tokens_col(F.lower(F.col("text")))
    dl = docs.select(
        F.col("doc_id").alias("doc"), F.size(toks_arr).cast("long").alias("dl")
    )
    tf = (
        docs.select(F.col("doc_id").alias("doc"), F.explode(toks_arr).alias("tok"))
        .filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc", "tok")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").cast("long").alias("df"))
    g = dl.agg(
        F.count("*").cast("long").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    params = spark.createDataFrame(_BM25_GRID, "k1 double, b double")
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    denom = F.col("tf") + F.col("k1") * (
        1.0 - F.col("b") + F.col("b") * F.col("dl") / F.col("avgdl")
    )
    contrib = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc")
        .crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(params))
        .select(
            "k1",
            "b",
            "doc",
            F.round(idf * F.col("tf") * (F.col("k1") + 1.0) / denom * 1000000)
            .cast("long")
            .alias("c"),
        )
    )
    scores = contrib.groupBy("k1", "b", "doc").agg(
        F.sum("c").cast("long").alias("s_e6")
    )
    rel = tf.groupBy("doc").agg(
        F.countDistinct("tok").cast("long").alias("rel")
    )
    w = Window.partitionBy("k1", "b").orderBy(F.col("s_e6").desc(), "doc")
    gain = (
        F.round(
            (F.pow(F.lit(2.0), F.col("rel")) - 1.0)
            / F.log2(F.col("rk") + 1.0)
            * 1000000
        ).cast("long")
    )
    ranked = (
        scores.join(rel, "doc")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
    )
    dcg = ranked.groupBy("k1", "b").agg(
        F.sum(gain).cast("long").alias("dcg_e6"),
        F.count("*").cast("long").alias("n_ranked"),
        F.min(F.when(F.col("rk") == 1, F.col("doc"))).cast("long").alias(
            "top1_doc"
        ),
    )
    w_ideal = Window.orderBy(F.col("rel").desc(), "doc")
    idcg = (
        rel.withColumn("rk", F.row_number().over(w_ideal))
        .filter(F.col("rk") <= 10)
        .agg(F.sum(gain).cast("long").alias("idcg_e6"))
    )
    out = dcg.crossJoin(F.broadcast(idcg))
    return out.selectExpr(*_BMT_FINAL).orderBy("k1", "b")
