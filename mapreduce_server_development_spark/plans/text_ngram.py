"""N-gram statistics and TF-IDF — corpus-level text analytics for a
training-data pipeline (bigram language-model counts, per-document
salient terms).

Same tokenization as the rest of the LLM plane (``tokens_col``:
lowercase, whitespace split, empties removed; mirrored in the oracles
with ``list_filter(string_split(...))``).

Cross-engine parity: TF-IDF scores involve ``ln`` (libm may differ by
an ulp between engines), so scores are rounded to 6 decimals BEFORE
ranking — a 1-ulp difference can otherwise flip the order of two
mathematically-equal scores (e.g. ``2*ln(10)`` vs ``ln(100)``) and
change the top-k selection itself, not just the printed value.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

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


@query(
    "q_bigram_topk",
    oracle=f"""
    WITH {_TOKS_CTE},
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bg
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 50
    """,
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus bigrams (language-model count table).

    All-occurrence word bigrams via higher-order array functions (no
    Python), explode, one hash-agg shuffle, then
    ``TakeOrderedAndProject`` for the limit — per-partition heaps, no
    global sort. Tiebreak on the bigram string keeps the cut
    deterministic.
    """
    docs = load_table(spark, sf_dir, "documents")
    # Tokens materialized first — shingling straight over tokens_col()
    # would re-tokenize per token inside the transform lambda.
    toks = docs.select(tokens_col(F.lower(F.col("text"))).alias("toks"))
    return (
        toks.select(F.explode(word_shingles(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(50)
    )


@query(
    "q_tfidf_topk",
    oracle=f"""
    WITH {_TOKS_CTE},
    tf AS (
        SELECT doc, unnest(toks) AS term FROM toks
    ),
    tfc AS (
        SELECT doc, term, COUNT(*) AS tf FROM tf GROUP BY doc, term
    ),
    dfc AS (
        SELECT term, COUNT(*) AS df FROM tfc GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc, tfc.term,
               ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score
        FROM tfc JOIN dfc ON tfc.term = dfc.term CROSS JOIN n
    ),
    ranked AS (
        SELECT doc AS doc_id, term, score,
               row_number() OVER (PARTITION BY doc ORDER BY score DESC, term) AS rn
        FROM scored
    )
    SELECT doc_id, term, score FROM ranked WHERE rn <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (salient-term extraction).

    Plan: explode -> (doc,term) hash agg -> term-level doc-frequency
    agg -> join back on term -> per-doc ranking window. The doc-count
    scalar is a 1-row broadcast. The vocabulary relation is orders of
    magnitude smaller than the corpus, so the tf<->df join shuffles on
    term and AQE broadcast-izes it when it fits.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").cast("double").alias("n_docs"))
    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.lower(F.col("text")))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "score")
    )


@query(
    "q_dup_ngram_spans",
    oracle=f"""
    WITH {_TOKS_CTE},
    grams AS (
        SELECT doc, u.pos AS pos, substr(md5(u.gram), 1, 16) AS gh
        FROM (
            SELECT doc,
                   unnest(list_transform(
                       range(1, len(toks) - 8 + 2),
                       i -> {{'pos': i - 1,
                             'gram': array_to_string(toks[i:i+7], ' ')}})) AS u
            FROM toks)
    ),
    dup AS (
        SELECT gh FROM grams GROUP BY gh HAVING MIN(doc) <> MAX(doc)
    ),
    hits AS (
        SELECT g.doc, g.pos FROM grams g JOIN dup USING (gh)
    ),
    isl AS (
        SELECT doc, pos,
               CASE WHEN MAX(pos + 8) OVER w IS NULL
                      OR pos > MAX(pos + 8) OVER w THEN 1 ELSE 0 END AS ni
        FROM hits
        WINDOW w AS (PARTITION BY doc ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, pos,
               SUM(ni) OVER (PARTITION BY doc ORDER BY pos
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM isl
    ),
    spans AS (
        SELECT doc, island, MAX(pos + 8) - MIN(pos) AS span_len
        FROM isl2 GROUP BY doc, island
    ),
    agg AS (
        SELECT doc, SUM(span_len) AS dup_tokens, COUNT(*) AS n_spans
        FROM spans GROUP BY doc
    ),
    base AS (SELECT doc, len(toks) AS n_tokens FROM toks)
    SELECT b.doc AS doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           CAST(COALESCE(a.n_spans, 0) AS BIGINT) AS n_spans,
           round(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE)
                 / greatest(b.n_tokens, 1), 6) AS dup_frac
    FROM base b LEFT JOIN agg a ON b.doc = a.doc
    ORDER BY doc_id
    """,
)
def q_dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    every document, the fraction of tokens covered by any word 8-gram
    that also occurs in >= 2 distinct documents, with covered
    positions merged into maximal spans.

    Plan: positional shingles (posexplode over the higher-order-array
    shingling — no Python), grams keyed by a 64-bit md5 prefix so the
    duplicate-gram shuffle carries 16 bytes per gram instead of the
    ~60-char text; the duplicated-gram relation (vocabulary-scale,
    orders of magnitude smaller than the corpus) joins back on the
    same hash. Span merge is the classic interval-union: one window
    per document (running max of span end -> island ids -> per-island
    extent). At 100 TB the per-doc window partitions by doc_id, so
    state per partition is one document's hit list — never global.
    Production would swap md5 for xxhash64; the md5 keeps the DuckDB
    oracle bit-identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens_col(F.lower(F.col("text"))).alias("toks")
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(word_shingles(F.col("toks"), 8)).alias("pos", "gram"),
    ).select("doc_id", "pos", F.substring(F.md5("gram"), 1, 16).alias("gh"))
    # "occurs in >= 2 distinct docs" as min(doc) != max(doc): one cheap
    # min/max partial-agg instead of a two-phase distinct count.
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("d0"), F.max("doc_id").alias("d1"))
        .filter(F.col("d0") != F.col("d1"))
        .select("gh")
    )
    hits = grams.join(dup, "gh").select("doc_id", "pos")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max(F.col("pos") + 8).over(w_prev)
    isl = hits.withColumn(
        "ni",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end), 1).otherwise(0),
    ).withColumn("island", F.sum("ni").over(w_run))
    agg = (
        isl.groupBy("doc_id", "island")
        .agg((F.max(F.col("pos") + 8) - F.min("pos")).alias("span_len"))
        .groupBy("doc_id")
        .agg(
            F.sum("span_len").alias("dup_tokens"),
            F.count("*").alias("n_spans"),
        )
    )
    base = toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    return (
        base.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_pmi_bigrams",
    oracle=f"""
    WITH {_TOKS_CTE},
    uni AS (
        SELECT unnest(toks) AS tok FROM toks
    ),
    uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    n AS (SELECT SUM(c) AS n_tok FROM uc),
    bg AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM toks
    ),
    bc AS (SELECT bigram, COUNT(*) AS c_xy FROM bg GROUP BY bigram),
    nb AS (SELECT SUM(c_xy) AS n_big FROM bc),
    scored AS (
        SELECT bc.bigram,
               CAST(bc.c_xy AS BIGINT) AS c_xy,
               CAST(u1.c AS BIGINT) AS c_x,
               CAST(u2.c AS BIGINT) AS c_y,
               round(ln(CAST(bc.c_xy AS DOUBLE) * n.n_tok * n.n_tok
                        / nb.n_big / u1.c / u2.c), 6) AS pmi
        FROM bc
        JOIN uc u1 ON u1.tok = string_split(bc.bigram, ' ')[1]
        JOIN uc u2 ON u2.tok = string_split(bc.bigram, ' ')[2]
        CROSS JOIN n CROSS JOIN nb
        WHERE bc.c_xy >= 5
    )
    SELECT bigram, c_xy, c_x, c_y, pmi
    FROM scored
    ORDER BY pmi DESC, bigram
    LIMIT 30
    """,
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 collocations by pointwise mutual information
    (pmi = ln(p(xy) / (p(x) p(y))), support >= 5).

    Plan: one unigram agg, one bigram agg, two vocabulary-scale joins
    (bigram -> its two word counts) that AQE broadcast-izes, and two
    1-row scalar totals broadcast in. The PMI double is rounded to 6
    decimals BEFORE ranking (same ulp rationale as q_tfidf_topk) and
    the float expression is written with identical association on both
    engines so the doubles are bit-equal.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(tokens_col(F.lower(F.col("text"))).alias("toks"))
    uc = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    n = uc.agg(F.sum("c").alias("n_tok"))
    bc = (
        toks.select(F.explode(word_shingles(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    nb_total = (
        toks.select(F.explode(word_shingles(F.col("toks"), 2)).alias("bigram"))
        .agg(F.count("*").alias("n_big"))
    )
    u1 = uc.select(F.col("tok").alias("w1"), F.col("c").alias("c_x"))
    u2 = uc.select(F.col("tok").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        bc.withColumn("w1", F.split("bigram", " ")[0])
        .withColumn("w2", F.split("bigram", " ")[1])
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(nb_total))
        .select(
            "bigram",
            F.col("c_xy").cast("long").alias("c_xy"),
            F.col("c_x").cast("long").alias("c_x"),
            F.col("c_y").cast("long").alias("c_y"),
            F.round(
                F.log(
                    F.col("c_xy").cast("double")
                    * F.col("n_tok")
                    * F.col("n_tok")
                    / F.col("n_big")
                    / F.col("c_x")
                    / F.col("c_y")
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("pmi").desc(), "bigram").limit(30)


# ---------------------------------------------------------------------------
# q_exact_substring_spans — Lee et al. 2022 ExactSubstr dedup spans
# ---------------------------------------------------------------------------

#: Gram width for run detection (a repeated substring of >= _XS_L
#: tokens exists iff a diagonal run of consecutive matching _XS_K-grams
#: of length >= _XS_L - _XS_K + 1 exists between the two documents).
_XS_K = 8
#: Minimum span length in TOKENS to count as a duplicated substring
#: (Lee et al. use 50 BPE tokens; 32 words on this fixture's ~54-token
#: documents is the comparable operating point).
_XS_L = 32
#: Hot-fingerprint cap: grams with more corpus-wide occurrences are
#: excluded from pairing (boilerplate — q_boilerplate_ngrams' domain),
#: bounding per-gram pair fan-out at _XS_HOT^2. Mirrored in the oracle.
#: Runs BRIDGE gaps of <= _XS_K - 1 consecutive excluded grams: two
#: matching grams at diagonal positions pa and pa + s with s <= _XS_K
#: cover token windows whose union [pa, pa + s + _XS_K - 1] is
#: contiguous, so every token between them is verbatim-matched and the
#: intermediate grams can only be missing because the cap excluded
#: them — the bridge is EXACT (zero false coverage; see
#: tools/xs_recall.py for the measured recall it restores). Hot
#: inserts longer than 2*_XS_K - 2 tokens still split the span (the
#: residual recall contract, quantified in SCALE.md).
_XS_HOT = 64

_XS_FINAL = (
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_docs_hit AS BIGINT) AS n_docs_hit",
    "CAST(total_tokens AS BIGINT) AS total_tokens",
    "CAST(dup_tokens AS BIGINT) AS dup_tokens",
    "CAST(n_spans AS BIGINT) AS n_spans",
    "round(CAST(dup_tokens AS DOUBLE) / total_tokens, 6) AS dup_mass",
)


#: Gram half of the chain (toks -> grams -> hot-cap keep -> g2),
#: shared by the full-corpus pair relation below AND the
#: restricted-pair variants (incremental old/new).
_XS_G2_CTES = f"""{_TOKS_CTE},
    grams AS (
        SELECT doc, u.pos AS pos, substr(md5(u.gram), 1, 16) AS gh
        FROM (
            SELECT doc,
                   unnest(list_transform(
                       range(1, len(toks) - {_XS_K} + 2),
                       i -> {{'pos': i - 1,
                             'gram': array_to_string(toks[i:i+{_XS_K - 1}], ' ')}})) AS u
            FROM toks)
    ),
    keep AS (
        SELECT gh FROM grams GROUP BY gh
        HAVING COUNT(*) <= {_XS_HOT} AND MIN(doc) <> MAX(doc)
    ),
    g2 AS (SELECT g.doc, g.pos, g.gh FROM grams g JOIN keep USING (gh))"""

#: Shared CTE chain (grams -> hot-cap keep -> pairs -> diagonal runs
#: -> spans >= _XS_L) composed by q_exact_substring_spans and
#: q_dedup_span_removal.
_XS_CTES = f"""{_XS_G2_CTES},
    pairs AS (
        SELECT a.doc AS da, a.pos AS pa, b.doc AS db, b.pos AS pb
        FROM g2 a JOIN g2 b USING (gh)
        WHERE a.doc < b.doc
    ),
    runs AS (
        -- bridged gaps-and-islands: a step of <= K between consecutive
        -- matched positions on a diagonal keeps the run alive (the
        -- skipped grams are hot-capped but verbatim-matched — exact)
        SELECT da, db, pa - pb AS diag, pa, pb,
               CASE WHEN pa - LAG(pa) OVER (PARTITION BY da, db, pa - pb
                                            ORDER BY pa) <= {_XS_K}
                    THEN 0 ELSE 1 END AS ni
    FROM pairs
    ),
    runs2 AS (
        SELECT da, db, diag, pa, pb,
               SUM(ni) OVER (PARTITION BY da, db, diag ORDER BY pa
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS grp
        FROM runs
    ),
    spans AS (
        SELECT da, db, MIN(pa) AS sa, MIN(pb) AS sb,
               MAX(pa) - MIN(pa) + {_XS_K} AS span_len
        FROM runs2 GROUP BY da, db, diag, grp
        HAVING MAX(pa) - MIN(pa) + {_XS_K} >= {_XS_L}
    )"""


@query(
    "q_exact_substring_spans",
    oracle=f"""
    WITH {_XS_CTES},
    iv AS (
        -- DISTINCT: identical intervals from different partners are
        -- redundant for the union AND would make the island windows'
        -- (s, e) ordering non-total (two tie orders across the two
        -- window evaluations can split one island into two)
        SELECT DISTINCT doc, s, e FROM (
            SELECT da AS doc, sa AS s, sa + span_len AS e FROM spans
            UNION ALL
            SELECT db AS doc, sb AS s, sb + span_len AS e FROM spans
        )
    ),
    isl AS (
        SELECT doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, s, e,
               SUM(ni) OVER (PARTITION BY doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    merged AS (
        SELECT doc, island, MAX(e) - MIN(s) AS cov
        FROM isl2 GROUP BY doc, island
    ),
    per_doc AS (
        SELECT doc, SUM(cov) AS dup_toks, COUNT(*) AS n_sp
        FROM merged GROUP BY doc
    ),
    base AS (
        SELECT d.doc_id AS doc, d.source, len(t.toks) AS n_toks
        FROM documents d JOIN toks t ON t.doc = d.doc_id
    ),
    panel AS (
        SELECT b.source,
               COUNT(*) AS n_docs,
               COUNT(p.doc) AS n_docs_hit,
               SUM(b.n_toks) AS total_tokens,
               COALESCE(SUM(p.dup_toks), 0) AS dup_tokens,
               COALESCE(SUM(p.n_sp), 0) AS n_spans
        FROM base b LEFT JOIN per_doc p ON p.doc = b.doc
        GROUP BY b.source
    )
    SELECT {", ".join(_XS_FINAL)} FROM panel ORDER BY source
    """,
)
def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): detect VERBATIM token spans of
    >= 32 tokens shared between two DIFFERENT documents and report the
    per-source duplicated-span mass — the canonical span-level dedup
    that production corpus cleaning runs alongside MinHash doc-level
    dedup. Unlike q_dup_ngram_spans (coverage by any cross-doc 8-gram,
    L=8), this requires a SAME-PARTNER contiguous run: 8-grams at
    positions (a, i+t) and (b, j+t) matching for every t — i.e. a true
    repeated substring, the suffix-array result re-expressed as
    equi-joins (a repeated substring of length >= L exists iff a
    diagonal run of >= L-7 consecutive matching 8-grams exists).

    Pipeline: positional 8-grams keyed by 64-bit md5 prefixes; grams
    occurring > 64 times corpus-wide are excluded (the hot-fingerprint
    cap, mirrored in the oracle — boilerplate grams belong to
    q_boilerplate_ngrams); the gram self-join pairs occurrences
    (fan-out bounded at cap^2 per gram); runs are BRIDGED
    gaps-and-islands per (doc_a, doc_b, diagonal = pos_a - pos_b) —
    steps of <= K between matched positions stay one run, exactly
    recovering spans interrupted by capped grams (hot inserts longer
    than 2K-2 tokens still split: the residual recall contract,
    measured in SCALE.md / tools/xs_recall.py);
    spans >= 32 tokens project coverage intervals onto BOTH documents;
    per-doc interval union (the q_dup_ngram_spans window) merges
    overlaps before the per-source mass rollup. Within-doc repeats are
    out of scope (q_repetition_stats' domain).

    100 TB posture: every join is a key equi-join (gh; then grouped
    windows on (da, db, diag) and doc — never global); the pair
    relation is bounded by cap^2 x |duplicated grams|, never
    all-pairs; the gram relation carries 16-byte keys, not text.
    Production would swap md5 for xxhash64; md5 keeps the DuckDB
    oracle bit-identical.
    """
    toks, spans = _xs_spans(spark, sf_dir)
    iv = spans.select(
        F.col("da").alias("doc"),
        F.col("sa").alias("s"),
        (F.col("sa") + F.col("span_len")).alias("e"),
    ).unionAll(
        spans.select(
            F.col("db").alias("doc"),
            F.col("sb").alias("s"),
            (F.col("sb") + F.col("span_len")).alias("e"),
        )
    )
    panel = _xs_panel(toks, iv, hit_cols=("n_docs_hit", "dup_tokens", "n_spans"))
    return panel.selectExpr(*_XS_FINAL).orderBy("source")


def _xs_g2(spark: SparkSession, sf_dir: str):
    """(toks, g2) — spread tokenization plus the hot-capped positional
    gram relation (persisted: it feeds both sides of every pair
    self-join), shared by the full-corpus span pipeline and the
    restricted-pair variants (incremental old/new)."""
    docs = load_table(spark, sf_dir, "documents")
    # Single-row-group fixture => single scan task; spread before the
    # per-row gram/md5 expressions (session-4 discipline).
    spread = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    toks = spread.select(
        "doc_id", "source", tokens_col(F.lower(F.col("text"))).alias("toks")
    )
    grams = toks.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(word_shingles(F.col("toks"), _XS_K)).alias("pos", "gram"),
    ).select("doc", "pos", F.substring(F.md5("gram"), 1, 16).alias("gh"))
    keep = (
        grams.groupBy("gh")
        .agg(
            F.count("*").alias("c"),
            F.min("doc").alias("d0"),
            F.max("doc").alias("d1"),
        )
        .filter((F.col("c") <= _XS_HOT) & (F.col("d0") != F.col("d1")))
        .select("gh")
    )
    # g2 feeds both sides of the pair self-join — materialize it
    # once (duplicated-gram relation is vocabulary-scale, far below
    # the corpus). r11: eager localCheckpoint instead of lazy persist
    # — the lazy cache lookup was unreliable under the AQE +
    # DSv2(noop)-write path (see tokenizer._merge_rounds), and the
    # checkpoint also truncates the gram lineage.
    return toks, materialize(grams.join(keep, "gh"))


def _xs_spans(spark: SparkSession, sf_dir: str):
    """(toks, spans) — the shared gram/pair/run pipeline of the span
    audit and the removal transform; spans has
    (da, db, diag, grp, sa, sb, span_len) with da < db."""
    toks, g2 = _xs_g2(spark, sf_dir)
    a = g2.select(
        F.col("gh"), F.col("doc").alias("da"), F.col("pos").alias("pa")
    )
    b = g2.select(
        F.col("gh"), F.col("doc").alias("db"), F.col("pos").alias("pb")
    )
    pairs = (
        a.join(b, "gh")
        .filter(F.col("da") < F.col("db"))
        .select("da", "pa", "db", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    # Bridged gaps-and-islands (see the _XS_HOT note): consecutive
    # matched positions on a diagonal with step <= K stay one run.
    w_run = Window.partitionBy("da", "db", "diag").orderBy("pa")
    w_cum = w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    step = F.col("pa") - F.lag("pa").over(w_run)
    runs = pairs.withColumn(
        "ni", F.when(step <= _XS_K, 0).otherwise(1)
    ).withColumn("grp", F.sum("ni").over(w_cum))
    spans = (
        runs.groupBy("da", "db", "diag", "grp")
        .agg(
            F.min("pa").alias("sa"),
            F.min("pb").alias("sb"),
            (F.max("pa") - F.min("pa") + _XS_K).alias("span_len"),
        )
        .filter(F.col("span_len") >= _XS_L)
    )
    return toks, spans


def _xs_panel(toks, iv, hit_cols):
    """Interval-union iv per doc, then the per-source rollup with the
    given (docs-hit, tokens, spans) output column names. iv is
    deduplicated first: identical intervals from different partners
    are redundant for the union and would make the island windows'
    (s, e) ordering non-total (ties ordered independently by the two
    window evaluations can split one island into two)."""
    c_hit, c_tok, c_sp = hit_cols
    iv = iv.distinct()
    w_prev = (
        Window.partitionBy("doc")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max("e").over(w_prev)
    isl = iv.withColumn(
        "ni",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    ).withColumn("island", F.sum("ni").over(w_cum))
    merged = isl.groupBy("doc", "island").agg(
        (F.max("e") - F.min("s")).alias("cov")
    )
    per_doc = merged.groupBy("doc").agg(
        F.sum("cov").alias("dup_toks"), F.count("*").alias("n_sp")
    )
    base = toks.select(
        F.col("doc_id").alias("doc"),
        "source",
        F.size("toks").cast("long").alias("n_toks"),
    )
    return (
        base.join(per_doc, "doc", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count("dup_toks").alias(c_hit),
            F.sum("n_toks").alias("total_tokens"),
            F.coalesce(F.sum("dup_toks"), F.lit(0)).alias(c_tok),
            F.coalesce(F.sum("n_sp"), F.lit(0)).alias(c_sp),
        )
    )


# ---------------------------------------------------------------------------
# q_dedup_span_removal — the ExactSubstr removal transform
# ---------------------------------------------------------------------------

_XSR_FINAL = (
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_docs_cleaned AS BIGINT) AS n_docs_cleaned",
    "CAST(total_tokens AS BIGINT) AS tokens_before",
    "CAST(tokens_removed AS BIGINT) AS tokens_removed",
    "CAST(total_tokens - tokens_removed AS BIGINT) AS tokens_after",
    "CAST(n_spans_removed AS BIGINT) AS n_spans_removed",
    "round(CAST(tokens_removed AS DOUBLE) / total_tokens, 6) AS pct_removed",
)


@query(
    "q_dedup_span_removal",
    oracle=f"""
    WITH {_XS_CTES},
    iv AS (
        -- DISTINCT: see q_exact_substring_spans' iv note
        SELECT DISTINCT db AS doc, sb AS s, sb + span_len AS e FROM spans
    ),
    isl AS (
        SELECT doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, s, e,
               SUM(ni) OVER (PARTITION BY doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    merged AS (
        SELECT doc, island, MAX(e) - MIN(s) AS cov
        FROM isl2 GROUP BY doc, island
    ),
    per_doc AS (
        SELECT doc, SUM(cov) AS dup_toks, COUNT(*) AS n_sp
        FROM merged GROUP BY doc
    ),
    base AS (
        SELECT d.doc_id AS doc, d.source, len(t.toks) AS n_toks
        FROM documents d JOIN toks t ON t.doc = d.doc_id
    ),
    panel AS (
        SELECT b.source,
               COUNT(*) AS n_docs,
               COUNT(p.doc) AS n_docs_cleaned,
               SUM(b.n_toks) AS total_tokens,
               COALESCE(SUM(p.dup_toks), 0) AS tokens_removed,
               COALESCE(SUM(p.n_sp), 0) AS n_spans_removed
        FROM base b LEFT JOIN per_doc p ON p.doc = b.doc
        GROUP BY b.source
    )
    SELECT {", ".join(_XSR_FINAL)} FROM panel ORDER BY source
    """,
)
def q_dedup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ExactSubstr REMOVAL transform (the action to
    q_exact_substring_spans' audit): excise every duplicated span
    >= 32 tokens from the LATER document of each sharing pair,
    keeping the earliest copy in the corpus — Lee et al. 2022's
    "remove all but one occurrence" policy made deterministic by
    doc_id order (the same first-wins-by-id contract as the streaming
    LSH dedup index). Reports the per-source removal ledger: docs
    cleaned, tokens before/removed/after.

    Shares the gram/pair/diagonal-run pipeline verbatim with the
    audit (``_xs_spans`` / the ``_XS_CTES`` oracle chain); the only
    difference is that coverage intervals project onto the db (later)
    side ONLY, so the kept first copy contributes no removal. A doc
    that is the earliest of one pair and the later of another still
    keeps its role per-pair — exactly one copy of every duplicated
    span survives corpus-wide along each sharing chain.

    100 TB posture: identical to the audit (cap^2-bounded pair
    fan-out, per-doc interval-union windows); the removal ledger adds
    one per-source aggregate.
    """
    toks, spans = _xs_spans(spark, sf_dir)
    iv = spans.select(
        F.col("db").alias("doc"),
        F.col("sb").alias("s"),
        (F.col("sb") + F.col("span_len")).alias("e"),
    )
    panel = _xs_panel(
        toks, iv, hit_cols=("n_docs_cleaned", "tokens_removed", "n_spans_removed")
    )
    return panel.selectExpr(*_XSR_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# q_dedup_apply — the cleaned-corpus transform (reconstructed documents)
# ---------------------------------------------------------------------------

_XSA_FINAL = (
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_docs_changed AS BIGINT) AS n_docs_changed",
    "CAST(tokens_after AS BIGINT) AS tokens_after",
    "corpus_digest",
)


@query(
    "q_dedup_apply",
    oracle=f"""
    WITH {_XS_CTES},
    iv AS (
        -- removal projects onto the LATER (db) doc only: first-wins
        SELECT DISTINCT db AS doc, sb AS s, sb + span_len AS e FROM spans
    ),
    isl AS (
        SELECT doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, s, e,
               SUM(ni) OVER (PARTITION BY doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    cov AS (
        SELECT doc, island, MIN(s) AS s, MAX(e) AS e
        FROM isl2 GROUP BY doc, island
    ),
    toks_pos AS (
        SELECT doc, u.pos AS pos, u.tok AS tok
        FROM (
            SELECT doc,
                   unnest(list_transform(range(1, len(toks) + 1),
                       i -> {{'pos': i - 1, 'tok': toks[i]}})) AS u
            FROM toks)
    ),
    kept AS (
        SELECT tp.doc, tp.pos, tp.tok FROM toks_pos tp
        WHERE NOT EXISTS (SELECT 1 FROM cov c
                          WHERE c.doc = tp.doc
                            AND tp.pos >= c.s AND tp.pos < c.e)
    ),
    clean AS (
        SELECT doc, string_agg(tok, ' ' ORDER BY pos) AS txt,
               COUNT(*) AS n_after
        FROM kept GROUP BY doc
    ),
    perdoc AS (
        SELECT d.doc_id AS doc, d.source,
               md5(COALESCE(c.txt, '')) AS doc_md5,
               COALESCE(c.n_after, 0) AS n_after,
               CASE WHEN v.doc IS NULL THEN 0 ELSE 1 END AS changed
        FROM documents d
        LEFT JOIN clean c ON c.doc = d.doc_id
        LEFT JOIN (SELECT DISTINCT doc FROM cov) v ON v.doc = d.doc_id
    ),
    panel AS (
        -- order-free commutative corpus digest: each doc's md5 split
        -- into four 32-bit hex words, summed exactly per source (sum
        -- is HUGEINT here / DECIMAL(38,0) on the Spark side) — no
        -- per-group array, no ordering dependence, same cross-engine
        -- witness of every cleaned byte
        SELECT source,
               COUNT(*) AS n_docs,
               SUM(changed) AS n_docs_changed,
               SUM(n_after) AS tokens_after,
               CAST(SUM(('0x' || substr(doc_md5, 1, 8))::BIGINT) AS VARCHAR)
               || '-' ||
               CAST(SUM(('0x' || substr(doc_md5, 9, 8))::BIGINT) AS VARCHAR)
               || '-' ||
               CAST(SUM(('0x' || substr(doc_md5, 17, 8))::BIGINT) AS VARCHAR)
               || '-' ||
               CAST(SUM(('0x' || substr(doc_md5, 25, 8))::BIGINT) AS VARCHAR)
                   AS corpus_digest
        FROM perdoc GROUP BY source
    )
    SELECT {", ".join(_XSA_FINAL)} FROM panel ORDER BY source
    """,
)
def q_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaned-corpus TRANSFORM: materialize what
    q_dedup_span_removal only ledgers — each document's post-removal
    text (tokens minus the first-wins removal intervals), verified
    end-to-end by per-source checksums over the reconstructed
    documents (md5 of each doc's cleaned text, split into four 32-bit
    words and summed exactly per source — an order-free commutative
    digest), plus post-clean token counts. This is the query a
    production ExactSubstr pass actually ships — the ledger audits
    it; this one IS the output.

    Shares ``_xs_spans`` / ``_XS_CTES`` verbatim with the audit and
    the ledger; removal intervals project onto the later (db) doc
    only and are interval-unioned per doc before excision, so
    overlapping spans from different partners excise once. A doc's
    cleaned text is its TOKENIZED form (lowercased,
    whitespace-joined) minus covered positions — both engines
    reconstruct from the same token relation, making the checksum an
    exact cross-engine witness of every byte of the cleaned corpus.
    A fully-covered doc cleans to the empty string (md5('') — kept,
    not dropped: corpus row identity survives the transform).

    100 TB posture: the interval set per doc is tiny (bounded by
    spans hitting that doc), carried as a sorted array into a
    JVM-side higher-order ``filter`` over the token array — no
    explode of the token relation, no Python; the checksum rollup is
    an order-FREE commutative digest — each doc's md5 split into four
    32-bit words, summed per source as exact DECIMAL(38,0)/HUGEINT —
    so the per-source aggregate carries four integers of state, never
    a per-group array (the r10 ``collect_list``-sort-concat form
    materialized one array row of ALL doc digests per source — a
    multi-GB row for a billion-doc source; any reordering or
    single-byte change of any cleaned doc still changes the digest,
    so the cross-engine witness property is preserved).
    """
    toks, spans = _xs_spans(spark, sf_dir)
    iv = spans.select(
        F.col("db").alias("doc"),
        F.col("sb").alias("s"),
        (F.col("sb") + F.col("span_len")).alias("e"),
    ).distinct()
    w_prev = (
        Window.partitionBy("doc")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("doc")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max("e").over(w_prev)
    isl = iv.withColumn(
        "ni",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    ).withColumn("island", F.sum("ni").over(w_cum))
    cov = (
        isl.groupBy("doc", "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    )
    base = toks.join(
        cov, toks["doc_id"] == cov["doc"], "left"
    ).select("doc_id", "source", "toks", "ivs")
    ivs = F.coalesce(F.col("ivs"), F.array())
    cleaned = F.filter(
        "toks",
        lambda t, i: ~F.exists(ivs, lambda v: (i >= v["s"]) & (i < v["e"])),
    )
    perdoc = base.select(
        "doc_id",
        "source",
        F.md5(F.array_join(cleaned, " ")).alias("doc_md5"),
        F.size(cleaned).cast("long").alias("n_after"),
        F.when(F.col("ivs").isNull(), 0).otherwise(1).alias("changed"),
    )
    def _word(i: int):
        # 32-bit md5 word -> exact decimal so a billion-doc source's
        # sum never overflows (sum over DECIMAL(38,0) stays exact)
        return F.conv(
            F.substring("doc_md5", 8 * i + 1, 8), 16, 10
        ).cast("decimal(38,0)")

    panel = perdoc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("changed").alias("n_docs_changed"),
        F.sum("n_after").alias("tokens_after"),
        F.concat_ws(
            "-", *(F.sum(_word(i)).cast("string") for i in range(4))
        ).alias("corpus_digest"),
    )
    return panel.selectExpr(*_XSA_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# q_decontaminate_spans — span-level train-vs-eval contamination
# ---------------------------------------------------------------------------

_XD_FINAL = (
    "source",
    "CAST(n_train_docs AS BIGINT) AS n_train_docs",
    "CAST(n_contaminated AS BIGINT) AS n_contaminated",
    "CAST(train_tokens AS BIGINT) AS train_tokens",
    "CAST(contam_tokens AS BIGINT) AS contam_tokens",
    "round(CAST(contam_tokens AS DOUBLE) / train_tokens, 6) AS contam_frac",
    "CAST(n_eval_docs_hit AS BIGINT) AS n_eval_docs_hit",
)


def _xd_oracle() -> str:
    from .sampling import _bucket_sql

    bucket = _bucket_sql("split", "doc_id")
    return f"""
    WITH {_TOKS_CTE},
    tagged AS (
        SELECT doc_id AS doc,
               CASE WHEN {bucket} < 800 THEN 'train'
                    WHEN {bucket} >= 900 THEN 'test'
                    ELSE 'val' END AS split
        FROM documents
    ),
    grams AS (
        SELECT doc, u.pos AS pos, substr(md5(u.gram), 1, 16) AS gh
        FROM (
            SELECT doc,
                   unnest(list_transform(
                       range(1, len(toks) - {_XS_K} + 2),
                       i -> {{'pos': i - 1,
                             'gram': array_to_string(toks[i:i+{_XS_K - 1}], ' ')}})) AS u
            FROM toks)
    ),
    gs AS (
        SELECT g.doc, g.pos, g.gh, t.split
        FROM grams g JOIN tagged t USING (doc)
    ),
    keep AS (
        SELECT gh FROM gs GROUP BY gh
        HAVING COUNT(*) <= {_XS_HOT}
           AND SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) > 0
           AND SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) > 0
    ),
    ev AS (SELECT doc, pos, gh FROM gs JOIN keep USING (gh)
           WHERE split = 'test'),
    tr AS (SELECT doc, pos, gh FROM gs JOIN keep USING (gh)
           WHERE split = 'train'),
    pairs AS (
        SELECT ev.doc AS ta, ev.pos AS pa, tr.doc AS tb, tr.pos AS pb
        FROM ev JOIN tr USING (gh)
    ),
    runs AS (
        -- bridged gaps-and-islands over the train-side positions
        -- (same exactness argument as _XS_CTES)
        SELECT ta, tb, pa - pb AS diag, pb,
               CASE WHEN pb - LAG(pb) OVER (PARTITION BY ta, tb, pa - pb
                                            ORDER BY pb) <= {_XS_K}
                    THEN 0 ELSE 1 END AS ni
        FROM pairs
    ),
    runs2 AS (
        SELECT ta, tb, diag, pb,
               SUM(ni) OVER (PARTITION BY ta, tb, diag ORDER BY pb
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS grp
        FROM runs
    ),
    spans AS (
        SELECT ta, tb, MIN(pb) AS sb,
               MAX(pb) - MIN(pb) + {_XS_K} AS span_len
        FROM runs2 GROUP BY ta, tb, diag, grp
        HAVING MAX(pb) - MIN(pb) + {_XS_K} >= {_XS_L}
    ),
    iv AS (
        SELECT DISTINCT tb AS doc, sb AS s, sb + span_len AS e FROM spans
    ),
    isl AS (
        SELECT doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, s, e,
               SUM(ni) OVER (PARTITION BY doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    merged AS (
        SELECT doc, island, MAX(e) - MIN(s) AS cov
        FROM isl2 GROUP BY doc, island
    ),
    per_doc AS (
        SELECT doc, SUM(cov) AS contam_toks FROM merged GROUP BY doc
    ),
    hits AS (
        SELECT s.tb AS doc, d.source, s.ta
        FROM spans s JOIN documents d ON d.doc_id = s.tb
    ),
    evhit AS (
        SELECT source, COUNT(DISTINCT ta) AS n_eval_docs_hit
        FROM hits GROUP BY source
    ),
    base AS (
        SELECT d.doc_id AS doc, d.source, len(t.toks) AS n_toks
        FROM documents d
        JOIN toks t ON t.doc = d.doc_id
        JOIN tagged g ON g.doc = d.doc_id
        WHERE g.split = 'train'
    ),
    panel AS (
        SELECT b.source,
               COUNT(*) AS n_train_docs,
               COUNT(p.doc) AS n_contaminated,
               SUM(b.n_toks) AS train_tokens,
               COALESCE(SUM(p.contam_toks), 0) AS contam_tokens
        FROM base b LEFT JOIN per_doc p ON p.doc = b.doc
        GROUP BY b.source
    )
    SELECT {", ".join(_XD_FINAL)}
    FROM (SELECT pn.*, COALESCE(e.n_eval_docs_hit, 0) AS n_eval_docs_hit
          FROM panel pn LEFT JOIN evhit e USING (source))
    ORDER BY source
    """


@query("q_decontaminate_spans", oracle=_xd_oracle())
def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level train-vs-eval decontamination (the ExactSubstr form
    of q_decontaminate's shingle-overlap screen): flag TRAIN documents
    containing a VERBATIM >= 32-token span that also appears in a TEST
    (eval) document of the deterministic hash split — the "don't train
    on test" gate GPT-3/OLMo-class contamination analyses run, where
    shingle overlap alone over-flags (one shared 8-gram) and doc-level
    dedup under-flags (a test question embedded in a long train doc).
    Reports the per-source contamination ledger over TRAIN docs:
    contaminated docs, covered train tokens, distinct eval docs hit.

    Pipeline: the q_exact_substring_spans gram/diagonal-run machinery
    with the pair relation RESTRICTED to test x train (asymmetric:
    runs are grouped on the train-side positions, coverage projects
    onto the train side only); the hot-fingerprint cap additionally
    requires a gram to occur in BOTH splits before pairing. Split
    membership is the engine-shared md5 hash bucket
    (``sampling.hash_bucket``), so both engines agree on train/test.

    100 TB posture: the eval side is ~10% of the corpus and only
    grams occurring in BOTH splits pair (a production run would build
    the eval gram index once and broadcast it); everything else is
    the audit's cap^2-bounded equi-join discipline.
    """
    from .sampling import hash_bucket

    toks, _ = _xs_spans(spark, sf_dir)  # reuse the spread tokenization
    b = hash_bucket("split", F.col("doc_id"))
    split = (
        F.when(b < 800, "train").when(b >= 900, "test").otherwise("val")
    ).alias("split")
    tagged = toks.select("doc_id", split)
    grams = toks.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(word_shingles(F.col("toks"), _XS_K)).alias("pos", "gram"),
    ).select("doc", "pos", F.substring(F.md5("gram"), 1, 16).alias("gh"))
    gs = grams.join(
        tagged.select(F.col("doc_id").alias("doc"), "split"), "doc"
    )
    keep = (
        gs.groupBy("gh")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("cr"),
        )
        .filter((F.col("c") <= _XS_HOT) & (F.col("ct") > 0) & (F.col("cr") > 0))
        .select("gh")
    )
    # r11: eager checkpoint, not lazy persist (see _xs_g2 note)
    g2 = materialize(gs.join(keep, "gh"))
    ev = g2.filter(F.col("split") == "test").select(
        "gh", F.col("doc").alias("ta"), F.col("pos").alias("pa")
    )
    tr = g2.filter(F.col("split") == "train").select(
        "gh", F.col("doc").alias("tb"), F.col("pos").alias("pb")
    )
    pairs = ev.join(tr, "gh").select(
        "ta", "pa", "tb", "pb", (F.col("pa") - F.col("pb")).alias("diag")
    )
    w_run = Window.partitionBy("ta", "tb", "diag").orderBy("pb")
    w_cum = w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    step = F.col("pb") - F.lag("pb").over(w_run)
    runs = pairs.withColumn(
        "ni", F.when(step <= _XS_K, 0).otherwise(1)
    ).withColumn("grp", F.sum("ni").over(w_cum))
    spans = (
        runs.groupBy("ta", "tb", "diag", "grp")
        .agg(
            F.min("pb").alias("sb"),
            (F.max("pb") - F.min("pb") + _XS_K).alias("span_len"),
        )
        .filter(F.col("span_len") >= _XS_L)
    )
    iv = spans.select(
        F.col("tb").alias("doc"),
        F.col("sb").alias("s"),
        (F.col("sb") + F.col("span_len")).alias("e"),
    )
    train_toks = toks.join(
        tagged.filter(F.col("split") == "train").select("doc_id"), "doc_id"
    )
    panel = _xs_panel(
        train_toks, iv,
        hit_cols=("n_contaminated", "contam_tokens", "n_spans_drop"),
    ).withColumnRenamed("n_docs", "n_train_docs").withColumnRenamed(
        "total_tokens", "train_tokens"
    )
    docs_src = toks.select(F.col("doc_id").alias("tb"), "source")
    evhit = (
        spans.join(docs_src, "tb")
        .groupBy("source")
        .agg(F.countDistinct("ta").alias("n_eval_docs_hit"))
    )
    out = panel.join(evhit, "source", "left").withColumn(
        "n_eval_docs_hit", F.coalesce("n_eval_docs_hit", F.lit(0))
    )
    return out.selectExpr(*_XD_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# round-10 span-family completion: incremental ExactSubstr, the
# cross-source copy matrix, and the dup-span length histogram
# ---------------------------------------------------------------------------


def _island_cov(iv, keys: tuple[str, ...]):
    """DISTINCT + interval union per key group (the _xs_panel window
    pair, factored for non-doc groupings): one row per merged island
    with its token coverage."""
    iv = iv.distinct()
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_end = F.max("e").over(w_prev)
    isl = iv.withColumn(
        "ni",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0),
    ).withColumn("island", F.sum("ni").over(w_cum))
    return isl.groupBy(*keys, "island").agg(
        (F.max("e") - F.min("s")).alias("cov")
    )


def _xsi_new_sql() -> str:
    """Deterministic old/new split for the incremental span dedup:
    ~20% of docs are NEW arrivals by the engine-shared md5 hash bucket
    (an id-modulo split would alias with the fixtures' strided
    source layout and turn whole sources "new")."""
    from .sampling import _bucket_sql

    return f"{_bucket_sql('incr', 'doc')} >= 800"

_XSI_FINAL = (
    "source",
    "CAST(n_new AS BIGINT) AS n_new",
    "CAST(n_new_hit AS BIGINT) AS n_new_hit",
    "CAST(new_tokens AS BIGINT) AS new_tokens",
    "CAST(dup_tokens AS BIGINT) AS dup_tokens",
    "round(CAST(dup_tokens AS DOUBLE) / new_tokens, 6) AS dup_mass",
)


@query(
    "q_exact_substring_incremental",
    oracle=f"""
    WITH {_XS_G2_CTES},
    nf AS (SELECT doc, ({_xsi_new_sql()}) AS is_new FROM toks),
    pairs AS (
        -- arrivals pair against the settled corpus and against
        -- EARLIER arrivals only: old x old never pairs (the whole
        -- point of incremental dedup)
        SELECT a.doc AS da, a.pos AS pa, b.doc AS db, b.pos AS pb
        FROM g2 a
        JOIN g2 b USING (gh)
        JOIN nf na ON na.doc = a.doc
        JOIN nf nb ON nb.doc = b.doc
        WHERE nb.is_new AND a.doc <> b.doc
          AND (NOT na.is_new OR a.doc < b.doc)
    ),
    runs AS (
        SELECT db, da, pa - pb AS diag, pb,
               CASE WHEN pb - LAG(pb) OVER (PARTITION BY db, da, pa - pb
                                            ORDER BY pb) <= {_XS_K}
                    THEN 0 ELSE 1 END AS ni
        FROM pairs
    ),
    runs2 AS (
        SELECT db, da, diag, pb,
               SUM(ni) OVER (PARTITION BY db, da, diag ORDER BY pb
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS grp
        FROM runs
    ),
    spans AS (
        SELECT db, MIN(pb) AS sb, MAX(pb) - MIN(pb) + {_XS_K} AS span_len
        FROM runs2 GROUP BY db, da, diag, grp
        HAVING MAX(pb) - MIN(pb) + {_XS_K} >= {_XS_L}
    ),
    iv AS (SELECT DISTINCT db AS doc, sb AS s, sb + span_len AS e FROM spans),
    isl AS (
        SELECT doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, s, e,
               SUM(ni) OVER (PARTITION BY doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    merged AS (
        SELECT doc, island, MAX(e) - MIN(s) AS cov
        FROM isl2 GROUP BY doc, island
    ),
    per_doc AS (SELECT doc, SUM(cov) AS dup_toks FROM merged GROUP BY doc),
    base AS (
        SELECT d.doc_id AS doc, d.source, len(t.toks) AS n_toks
        FROM documents d
        JOIN toks t ON t.doc = d.doc_id
        JOIN nf ON nf.doc = d.doc_id
        WHERE nf.is_new
    ),
    panel AS (
        SELECT b.source,
               COUNT(*) AS n_new,
               COUNT(p.doc) AS n_new_hit,
               SUM(b.n_toks) AS new_tokens,
               COALESCE(SUM(p.dup_toks), 0) AS dup_tokens
        FROM base b LEFT JOIN per_doc p ON p.doc = b.doc
        GROUP BY b.source
    )
    SELECT {", ".join(_XSI_FINAL)} FROM panel ORDER BY source
    """,
)
def q_exact_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr dedup — the DAILY-CRAWL operating mode
    Lee et al. 2022 dedup runs in production: a ~20% batch of NEW
    arrivals (deterministic md5 hash-bucket split, decorrelated from
    the source layout) is span-deduped
    against the SETTLED corpus and against earlier arrivals, and
    old x old never pairs (those were deduped when they arrived).
    Reports the per-source arrival ledger: new docs, flagged docs,
    duplicated-token mass on the arrival side (the tokens a first-wins
    ingest would excise before appending to the corpus).

    Shares the gram/hot-cap relation (``_XS_G2_CTES`` /
    ``_xs_g2``) verbatim with the audit; only the PAIR predicate
    changes: ``b`` must be new, and an old partner pairs regardless
    of id order while a new partner pairs only if earlier
    (first-wins among arrivals). Runs/bridge/union are the family's
    bridged gaps-and-islands on the ARRIVAL side.

    100 TB posture: THE scale property of incremental dedup — pair
    volume is |new grams| x cap, never |corpus|^2; a daily batch at
    1% of corpus size costs ~1% of the full audit's join, and the
    settled corpus contributes only its gram index (in production,
    a pre-built parquet relation keyed by gh). Within-batch and
    batch-vs-corpus semantics are identical to the full audit's
    first-wins restriction, so repeated application over arrival
    order converges to the batch answer.
    """
    from .sampling import hash_bucket

    toks, g2 = _xs_g2(spark, sf_dir)
    is_new = hash_bucket("incr", F.col("doc")) >= 800
    a = g2.select(
        "gh", F.col("doc").alias("da"), F.col("pos").alias("pa"),
        is_new.alias("a_new"),
    )
    b = g2.filter(is_new).select(
        "gh", F.col("doc").alias("db"), F.col("pos").alias("pb")
    )
    pairs = (
        a.join(b, "gh")
        .filter(
            (F.col("da") != F.col("db"))
            & (~F.col("a_new") | (F.col("da") < F.col("db")))
        )
        .select("da", "pa", "db", "pb", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w_run = Window.partitionBy("db", "da", "diag").orderBy("pb")
    w_cum = w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    step = F.col("pb") - F.lag("pb").over(w_run)
    spans = (
        pairs.withColumn("ni", F.when(step <= _XS_K, 0).otherwise(1))
        .withColumn("grp", F.sum("ni").over(w_cum))
        .groupBy("db", "da", "diag", "grp")
        .agg(
            F.min("pb").alias("sb"),
            (F.max("pb") - F.min("pb") + _XS_K).alias("span_len"),
        )
        .filter(F.col("span_len") >= _XS_L)
    )
    iv = spans.select(
        F.col("db").alias("doc"),
        F.col("sb").alias("s"),
        (F.col("sb") + F.col("span_len")).alias("e"),
    )
    new_toks = toks.filter(hash_bucket("incr", F.col("doc_id")) >= 800)
    panel = _xs_panel(new_toks, iv, hit_cols=("n_new_hit", "dup_tokens", "n_sp"))
    panel = panel.withColumnRenamed("n_docs", "n_new").withColumnRenamed(
        "total_tokens", "new_tokens"
    )
    return panel.selectExpr(*_XSI_FINAL).orderBy("source")


# ---------------------------------------------------------------------------
# Materialized settled-corpus gram index + the index-consuming twin
# ---------------------------------------------------------------------------


def xs_gram_index_path(sf_dir: str) -> str:
    """Deterministic per-dataset location for the materialized
    settled-corpus gram index, fingerprinted by the documents
    parquet's file listing (name, size, mtime) so a corpus swapped
    under the same path (the stress tools do this) can never serve a
    stale index."""
    import hashlib
    import os

    h = hashlib.md5(sf_dir.encode())
    doc_path = os.path.join(sf_dir, "documents.parquet")
    if os.path.isdir(doc_path):
        for name in sorted(os.listdir(doc_path)):
            st = os.stat(os.path.join(doc_path, name))
            h.update(f"{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    elif os.path.exists(doc_path):
        st = os.stat(doc_path)
        h.update(f"{st.st_size}:{st.st_mtime_ns}".encode())
    return f"/tmp/spark_graft_xs_index/{h.hexdigest()[:16]}"


def build_xs_gram_index(spark: SparkSession, sf_dir: str,
                        out_dir: str | None = None) -> str:
    """Materialize the SETTLED corpus's positional gram index — the
    production nightly artifact the daily-crawl incremental dedup
    consumes (the q_exact_substring_incremental docstring's "in
    production, a pre-built parquet relation keyed by gh", now real).
    Two relations:

    - ``postings`` (gh, doc, pos): the settled docs' positional
      grams, pre-partitioned by gh so the arrival-side equi-join
      reads co-located keys;
    - ``stats`` (gh, c, d0, d1): per-gram settled occurrence count
      and doc-id range — the sufficient statistics to reconstitute
      the corpus-wide hot cap once the arrival batch's own counts
      are added (count and min/max are commutative monoids, so the
      settled side never needs re-scanning).

    Idempotent: skips the build when the fingerprinted index already
    exists. Returns the index directory."""
    import os

    out = out_dir or xs_gram_index_path(sf_dir)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    from .sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    settled = spread.filter(hash_bucket("incr", F.col("doc_id")) < 800)
    grams = settled.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(
            word_shingles(tokens_col(F.lower(F.col("text"))), _XS_K)
        ).alias("pos", "gram"),
    ).select("doc", "pos", F.substring(F.md5("gram"), 1, 16).alias("gh"))
    grams.repartition(32, "gh").write.mode("overwrite").parquet(
        f"{out}/postings"
    )
    (
        spark.read.parquet(f"{out}/postings")
        .groupBy("gh")
        .agg(
            F.count("*").alias("c"),
            F.min("doc").alias("d0"),
            F.max("doc").alias("d1"),
        )
        .write.mode("overwrite")
        .parquet(f"{out}/stats")
    )
    with open(os.path.join(out, "_DONE"), "w") as fh:
        fh.write("ok\n")
    return out


@query(
    "q_exact_substring_incremental_indexed",
    oracle=f"""
    WITH {_XS_G2_CTES},
    nf AS (SELECT doc, ({_xsi_new_sql()}) AS is_new FROM toks),
    pairs AS (
        SELECT a.doc AS da, a.pos AS pa, b.doc AS db, b.pos AS pb
        FROM g2 a
        JOIN g2 b USING (gh)
        JOIN nf na ON na.doc = a.doc
        JOIN nf nb ON nb.doc = b.doc
        WHERE nb.is_new AND a.doc <> b.doc
          AND (NOT na.is_new OR a.doc < b.doc)
    ),
    runs AS (
        SELECT db, da, pa - pb AS diag, pb,
               CASE WHEN pb - LAG(pb) OVER (PARTITION BY db, da, pa - pb
                                            ORDER BY pb) <= {_XS_K}
                    THEN 0 ELSE 1 END AS ni
        FROM pairs
    ),
    runs2 AS (
        SELECT db, da, diag, pb,
               SUM(ni) OVER (PARTITION BY db, da, diag ORDER BY pb
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS grp
        FROM runs
    ),
    spans AS (
        SELECT db, MIN(pb) AS sb, MAX(pb) - MIN(pb) + {_XS_K} AS span_len
        FROM runs2 GROUP BY db, da, diag, grp
        HAVING MAX(pb) - MIN(pb) + {_XS_K} >= {_XS_L}
    ),
    iv AS (SELECT DISTINCT db AS doc, sb AS s, sb + span_len AS e FROM spans),
    isl AS (
        SELECT doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, s, e,
               SUM(ni) OVER (PARTITION BY doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    merged AS (
        SELECT doc, island, MAX(e) - MIN(s) AS cov
        FROM isl2 GROUP BY doc, island
    ),
    per_doc AS (SELECT doc, SUM(cov) AS dup_toks FROM merged GROUP BY doc),
    base AS (
        SELECT d.doc_id AS doc, d.source, len(t.toks) AS n_toks
        FROM documents d
        JOIN toks t ON t.doc = d.doc_id
        JOIN nf ON nf.doc = d.doc_id
        WHERE nf.is_new
    ),
    panel AS (
        SELECT b.source,
               COUNT(*) AS n_new,
               COUNT(p.doc) AS n_new_hit,
               SUM(b.n_toks) AS new_tokens,
               COALESCE(SUM(p.dup_toks), 0) AS dup_tokens
        FROM base b LEFT JOIN per_doc p ON p.doc = b.doc
        GROUP BY b.source
    )
    SELECT {", ".join(_XSI_FINAL)} FROM panel ORDER BY source
    """,
)
def q_exact_substring_incremental_indexed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The INDEX-CONSUMING twin of q_exact_substring_incremental
    (r10 verdict ask #5): instead of recomputing the settled
    corpus's gram relation every run, the daily-crawl dedup reads
    the materialized settled index (``build_xs_gram_index`` — built
    once, reused across arrival batches) and computes grams ONLY for
    the ~20% arrival batch. Output is identical by construction —
    the oracle is the same SQL, and tests assert row-level equality
    with the recompute twin.

    The corpus-wide hot cap is reconstituted from monoid stats:
    per-gram settled (count, min_doc, max_doc) from the index,
    outer-merged with the arrival batch's own counts — so
    ``keep`` (count <= 64 AND >= 2 distinct docs) is exactly the
    full-recompute predicate without touching settled text. Settled
    postings are then semi-joined down to the arrival batch's gram
    keys BEFORE pairing: the settled side contributes index I/O
    proportional to the MATCHED keys, never a re-tokenization.

    100 TB posture: the production property the recompute twin only
    documents — a daily batch costs |new grams| x cap pair fan-out
    plus one filtered scan of a gh-partitioned parquet index; the
    settled corpus's text is never read again. The index itself is
    maintained by appending each settled batch's postings and
    merging stats (count/min/max are commutative), i.e. the builder
    re-run incrementally."""
    import os

    from .sampling import hash_bucket

    idx = build_xs_gram_index(spark, sf_dir)
    post_old = spark.read.parquet(os.path.join(idx, "postings"))
    stats_old = spark.read.parquet(os.path.join(idx, "stats")).select(
        "gh",
        F.col("c").alias("c_old"),
        F.col("d0").alias("d0_old"),
        F.col("d1").alias("d1_old"),
    )
    docs = load_table(spark, sf_dir, "documents")
    spread = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism
    )
    is_new = hash_bucket("incr", F.col("doc_id")) >= 800
    toks = spread.select(
        "doc_id", "source", tokens_col(F.lower(F.col("text"))).alias("toks"),
        is_new.alias("is_new"),
    )
    grams_new = materialize(
        toks.filter("is_new")
        .select(
            F.col("doc_id").alias("doc"),
            F.posexplode(word_shingles(F.col("toks"), _XS_K)).alias(
                "pos", "gram"
            ),
        )
        .select("doc", "pos", F.substring(F.md5("gram"), 1, 16).alias("gh"))
    )
    stats_new = grams_new.groupBy("gh").agg(
        F.count("*").alias("c_new"),
        F.min("doc").alias("d0_new"),
        F.max("doc").alias("d1_new"),
    )
    # corpus-wide hot cap from monoid-merged stats: count sums,
    # doc range min/maxes — bit-identical to the recompute's keep
    keep = (
        stats_new.join(stats_old, "gh", "full_outer")
        .select(
            "gh",
            (F.coalesce("c_new", F.lit(0)) + F.coalesce("c_old", F.lit(0)))
            .alias("c"),
            F.least("d0_new", "d0_old").alias("d0"),
            F.greatest("d1_new", "d1_old").alias("d1"),
        )
        .filter((F.col("c") <= _XS_HOT) & (F.col("d0") != F.col("d1")))
        .select("gh")
    )
    g2_new = materialize(grams_new.join(keep, "gh"))
    # settled postings narrowed to the ARRIVAL batch's kept gram keys
    # before pairing — the index scan is the only settled-side cost
    new_keys = g2_new.select("gh").distinct()
    g2_old = post_old.join(new_keys, "gh")
    a = g2_old.select(
        "gh", F.col("doc").alias("da"), F.col("pos").alias("pa"),
        F.lit(False).alias("a_new"),
    ).unionByName(
        g2_new.select(
            "gh", F.col("doc").alias("da"), F.col("pos").alias("pa"),
            F.lit(True).alias("a_new"),
        )
    )
    b = g2_new.select(
        "gh", F.col("doc").alias("db"), F.col("pos").alias("pb")
    )
    pairs = (
        a.join(b, "gh")
        .filter(
            (F.col("da") != F.col("db"))
            & (~F.col("a_new") | (F.col("da") < F.col("db")))
        )
        .select(
            "da", "pa", "db", "pb", (F.col("pa") - F.col("pb")).alias("diag")
        )
    )
    w_run = Window.partitionBy("db", "da", "diag").orderBy("pb")
    w_cum = w_run.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    step = F.col("pb") - F.lag("pb").over(w_run)
    spans = (
        pairs.withColumn("ni", F.when(step <= _XS_K, 0).otherwise(1))
        .withColumn("grp", F.sum("ni").over(w_cum))
        .groupBy("db", "da", "diag", "grp")
        .agg(
            F.min("pb").alias("sb"),
            (F.max("pb") - F.min("pb") + _XS_K).alias("span_len"),
        )
        .filter(F.col("span_len") >= _XS_L)
    )
    iv = spans.select(
        F.col("db").alias("doc"),
        F.col("sb").alias("s"),
        (F.col("sb") + F.col("span_len")).alias("e"),
    )
    new_toks = toks.filter("is_new").select("doc_id", "source", "toks")
    panel = _xs_panel(new_toks, iv, hit_cols=("n_new_hit", "dup_tokens", "n_sp"))
    panel = panel.withColumnRenamed("n_docs", "n_new").withColumnRenamed(
        "total_tokens", "new_tokens"
    )
    return panel.selectExpr(*_XSI_FINAL).orderBy("source")


_XSM_FINAL = (
    "src_from",
    "src_to",
    "CAST(n_doc_pairs AS BIGINT) AS n_doc_pairs",
    "CAST(copied_tokens AS BIGINT) AS copied_tokens",
)


@query(
    "q_span_copy_matrix",
    oracle=f"""
    WITH {_XS_CTES},
    src AS (SELECT doc_id AS doc, source FROM documents),
    iv AS (
        -- coverage on the LATER doc, grouped by the EARLIER side's
        -- source: "how many of db's tokens are copies of src_from"
        SELECT DISTINCT sa.source AS src_from, s.db AS doc,
               s.sb AS s, s.sb + s.span_len AS e
        FROM spans s JOIN src sa ON sa.doc = s.da
    ),
    isl AS (
        SELECT src_from, doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY src_from, doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT src_from, doc, s, e,
               SUM(ni) OVER (PARTITION BY src_from, doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    merged AS (
        SELECT src_from, doc, island, MAX(e) - MIN(s) AS cov
        FROM isl2 GROUP BY src_from, doc, island
    ),
    mass AS (
        SELECT m.src_from, sb.source AS src_to, SUM(m.cov) AS copied_tokens
        FROM merged m JOIN src sb ON sb.doc = m.doc
        GROUP BY m.src_from, sb.source
    ),
    prs AS (
        SELECT sa.source AS src_from, sb.source AS src_to,
               COUNT(*) AS n_doc_pairs
        FROM (SELECT DISTINCT da, db FROM spans) p
        JOIN src sa ON sa.doc = p.da
        JOIN src sb ON sb.doc = p.db
        GROUP BY sa.source, sb.source
    )
    SELECT {", ".join(_XSM_FINAL)}
    FROM mass JOIN prs USING (src_from, src_to)
    ORDER BY src_from, src_to
    """,
)
def q_span_copy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source span-copy matrix — WHO copies from WHOM: for every
    (src_from, src_to) source pair, the number of document pairs
    sharing a verbatim >= 32-token span (earlier doc in src_from,
    later in src_to) and the copied-token mass on the later side
    (per-(doc, src_from) interval union, so overlapping spans from
    many src_from partners count once). The curation signal behind
    source-level dedup ordering and license forensics: a row with
    large mass and src_from <> src_to is syndication/mirroring; the
    diagonal is within-source boilerplate.

    Shares ``_xs_spans`` verbatim; adds one source join on each side
    of the span relation and a (src_from, doc)-grouped interval
    union. 100 TB posture: identical to the audit (the span relation
    is already computed; the matrix is a bounded |sources|^2 rollup).
    """
    toks, spans = _xs_spans(spark, sf_dir)
    src = toks.select(F.col("doc_id").alias("doc"), "source")
    iv = (
        spans.join(
            src.select(
                F.col("doc").alias("da"), F.col("source").alias("src_from")
            ),
            "da",
        )
        .select(
            "src_from",
            F.col("db").alias("doc"),
            F.col("sb").alias("s"),
            (F.col("sb") + F.col("span_len")).alias("e"),
        )
    )
    merged = _island_cov(iv, ("src_from", "doc"))
    mass = (
        merged.join(src, "doc")
        .groupBy("src_from", F.col("source").alias("src_to"))
        .agg(F.sum("cov").alias("copied_tokens"))
    )
    prs = (
        spans.select("da", "db")
        .distinct()
        .join(
            src.select(
                F.col("doc").alias("da"), F.col("source").alias("src_from")
            ),
            "da",
        )
        .join(
            src.select(
                F.col("doc").alias("db"), F.col("source").alias("src_to")
            ),
            "db",
        )
        .groupBy("src_from", "src_to")
        .agg(F.count("*").alias("n_doc_pairs"))
    )
    out = mass.join(prs, ["src_from", "src_to"])
    return out.selectExpr(*_XSM_FINAL).orderBy("src_from", "src_to")


_XSH_FINAL = (
    "source",
    "CAST(len_bin AS BIGINT) AS len_bin",
    "CAST(n_islands AS BIGINT) AS n_islands",
    "CAST(dup_tokens AS BIGINT) AS dup_tokens",
)


@query(
    "q_dup_span_length_hist",
    oracle=f"""
    WITH {_XS_CTES},
    iv AS (
        SELECT DISTINCT doc, s, e FROM (
            SELECT da AS doc, sa AS s, sa + span_len AS e FROM spans
            UNION ALL
            SELECT db AS doc, sb AS s, sb + span_len AS e FROM spans
        )
    ),
    isl AS (
        SELECT doc, s, e,
               CASE WHEN MAX(e) OVER w IS NULL OR s > MAX(e) OVER w
                    THEN 1 ELSE 0 END AS ni
        FROM iv
        WINDOW w AS (PARTITION BY doc ORDER BY s, e
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    isl2 AS (
        SELECT doc, s, e,
               SUM(ni) OVER (PARTITION BY doc ORDER BY s, e
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS island
        FROM isl
    ),
    merged AS (
        SELECT doc, island, MAX(e) - MIN(s) AS cov
        FROM isl2 GROUP BY doc, island
    ),
    binned AS (
        SELECT d.source, CAST(floor(log2(m.cov)) AS BIGINT) AS len_bin,
               m.cov
        FROM merged m JOIN documents d ON d.doc_id = m.doc
    )
    SELECT source, len_bin,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(cov) AS BIGINT) AS dup_tokens
    FROM binned GROUP BY source, len_bin
    ORDER BY source, len_bin
    """,
)
def q_dup_span_length_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-binned histogram of MERGED duplicated-span lengths per
    source (island coverage from the ExactSubstr audit, both sides) —
    the shape diagnostic behind choosing L: a corpus whose dup mass
    sits in bin 5 (32-63 tokens) has fragmentary duplication that a
    higher L would miss entirely, while mass in bins 7+ is wholesale
    document copying that doc-level MinHash already catches. The bin
    edges are exact (floor(log2(cov)) over integer coverage — log2 of
    a power of two is exact IEEE in both engines).

    Shares ``_xs_spans`` + the audit's per-doc interval union
    verbatim; adds one bounded (source, bin) rollup.
    """
    toks, spans = _xs_spans(spark, sf_dir)
    iv = spans.select(
        F.col("da").alias("doc"),
        F.col("sa").alias("s"),
        (F.col("sa") + F.col("span_len")).alias("e"),
    ).unionAll(
        spans.select(
            F.col("db").alias("doc"),
            F.col("sb").alias("s"),
            (F.col("sb") + F.col("span_len")).alias("e"),
        )
    )
    merged = _island_cov(iv, ("doc",))
    src = toks.select(F.col("doc_id").alias("doc"), "source")
    out = (
        merged.join(src, "doc")
        .withColumn("len_bin", F.floor(F.log2("cov")).cast("long"))
        .groupBy("source", "len_bin")
        .agg(
            F.count("*").alias("n_islands"),
            F.sum("cov").alias("dup_tokens"),
        )
    )
    return out.selectExpr(*_XSH_FINAL).orderBy("source", "len_bin")
