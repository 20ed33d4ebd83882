"""Distributed BPE tokenizer training (Sennrich et al. 2016).

BPE learns a merge table by repeatedly fusing the most frequent
adjacent symbol pair. The classical trick that makes this distributable
is that training runs on the WORD-FREQUENCY table, not the raw corpus:
a 100 TB corpus collapses to a vocabulary-scale (Zipf-bounded) relation
of (word, count) after one explode + hash-agg shuffle, and every merge
round after that touches only that compact relation. Each round is:

  adjacent-pair explode -> weighted count (map-side combinable)
  -> arg-max pair (TakeOrderedAndProject, deterministic tie-break)
  -> 1-row broadcast -> GREEDY-LEFT pair merge over the symbol array.

The merge is a left fold with a string accumulator (both engines run
the IDENTICAL fold): walking the symbols left to right, when the
accumulator's last token equals the pair's first symbol and the
current symbol equals the second, append without a separator —
exactly Sennrich's greedy non-overlapping merge. A plain string
``replace`` is NOT that operator: its matches consume the shared
separator space, so every second consecutive occurrence survives
(' a n a n ' -> ' an a n ', while BPE yields [an, an]) — the round-6
review caught the repo using replace here, wrong in both engines at
once and therefore invisible to the oracle.

No driver collect anywhere: the winning pair stays a lazily-joined
1-row broadcast, so the whole k-round training is ONE Spark plan (the
same unrolled-iteration shape as functions/graph.py's PageRank).

Cross-engine parity: symbol sequences are space-joined with a leading
sentinel space, pair counts are exact integers, ties break on the pair
string, and the fold is expressed with the same ends_with/append
semantics in Spark (``F.aggregate``) and DuckDB (``list_reduce`` over
a ''-prepended list).

Reference parity: the reference has no tokenizer surface; this is
additive LLM-pipeline depth per the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_col, word_shingles
from ..session import materialize
from ..sources.tables import load_table
from .registry import query

_ROUNDS = 6

def _word_state(docs: DataFrame) -> DataFrame:
    """(word, cnt, seq): the vocabulary-scale training state; seq is
    the space-joined character sequence with a leading space and the
    </w> end-of-word marker."""
    wfreq = (
        docs.select(F.explode(tokens_col(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    chars = F.expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")
    return wfreq.select(
        "word",
        "cnt",
        F.concat(F.lit(" "), F.concat_ws(" ", chars), F.lit(" </w>")).alias("seq"),
    )


def _syms() -> Column:
    return F.filter(F.split(F.col("seq"), " "), lambda s: s != "")


def _greedy_merge_fold() -> Column:
    """Greedy-left BPE merge of the winning pair (_x, _y) over the
    symbol array: fold with a string accumulator; when the last token
    is _x and the current symbol is _y, append without a separator
    (the merged token can never re-trigger: it differs from _x)."""
    return F.aggregate(
        _syms(),
        F.lit(""),
        lambda acc, t: F.when(
            F.endswith(acc, F.concat(F.lit(" "), F.col("_x")))
            & (t == F.col("_y")),
            F.concat(acc, t),
        ).otherwise(F.concat(acc, F.lit(" "), t)),
    )


def _merge_rounds(
    w: DataFrame, rounds: int = _ROUNDS
) -> tuple[DataFrame, list[DataFrame]]:
    """Run ``rounds`` BPE merge rounds on the word state; returns the
    final state and the per-round 1-row winner DataFrames."""
    merges: list[DataFrame] = []
    for r in range(1, rounds + 1):
        pairs = w.select("cnt", F.explode(word_shingles(_syms(), 2)).alias("pair"))
        top = (
            pairs.groupBy("pair")
            .agg(F.sum("cnt").cast("long").alias("total"))
            .orderBy(F.col("total").desc(), F.col("pair"))
            .limit(1)
            .select(F.lit(r).cast("long").alias("round"), "pair", "total")
        )
        merges.append(top)
        best = top.select(
            F.split(F.col("pair"), " ")[0].alias("_x"),
            F.split(F.col("pair"), " ")[1].alias("_y"),
        )
        w = w.crossJoin(F.broadcast(best)).select(
            "word", "cnt", _greedy_merge_fold().alias("seq")
        )
        # Each round's state is consumed twice (next round's pair agg +
        # next fold) and the merge chain is a narrow projection
        # ReuseExchange cannot share, so the recompute compounds per
        # round (~3^rounds). Round 5 fixed this with a lazy
        # MEMORY_AND_DISK persist (3.6x); r11 switched to an EAGER
        # localCheckpoint: the lazy persist's cache lookup was
        # unreliable under the AQE + DSv2(noop)-write execution path
        # (q_tokenizer_fertility 2.6s -> 7-13.7s, recompute
        # compounding), while the checkpoint materializes each
        # vocab-scale round exactly once and truncates the lineage.
        # Its blocks are RDD-level: DataFrame.unpersist() does not free
        # them; session.release_checkpoints does, between queries.
        w = materialize(w)
    return w, merges


def _bpe_cte_chain(rounds: int) -> str:
    """Oracle CTE chain shared by train and encode: wfreq -> w0 ->
    (pair count, winner, greedy fold) per round. MATERIALIZED is
    load-bearing: each w{r} is referenced by both the next round's
    pair count and the next fold, so inlined CTEs would re-expand the
    corpus scan ~3^rounds times."""
    ctes = [
        """wfreq AS MATERIALIZED (
        SELECT tok AS word, COUNT(*) AS cnt FROM (
            SELECT unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS tok
            FROM documents
        ) GROUP BY tok
    )""",
        """w0 AS MATERIALIZED (
        SELECT word, cnt,
               ' ' || array_to_string(
                   list_transform(range(1, length(word) + 1),
                                  i -> substr(word, i, 1)), ' ')
                   || ' </w>' AS seq
        FROM wfreq
    )""",
    ]
    for r in range(1, rounds + 1):
        ctes.append(f"""s{r} AS (
        SELECT cnt, list_filter(string_split(seq, ' '), x -> x <> '') AS ss
        FROM w{r - 1}
    )""")
        ctes.append(f"""p{r} AS (
        SELECT unnest(list_transform(range(1, len(ss)),
                                     i -> ss[i] || ' ' || ss[i + 1])) AS pair,
               cnt
        FROM s{r}
    )""")
        ctes.append(f"""c{r} AS (
        SELECT pair, CAST(SUM(cnt) AS BIGINT) AS total FROM p{r} GROUP BY pair
    )""")
        ctes.append(f"""b{r} AS MATERIALIZED (
        SELECT {r} AS round, pair, total FROM c{r}
        ORDER BY total DESC, pair LIMIT 1
    )""")
        ctes.append(f"""w{r} AS MATERIALIZED (
        SELECT word, cnt,
               list_reduce(
                   list_prepend('', list_filter(string_split(seq, ' '),
                                                x -> x <> '')),
                   (acc, t) -> CASE
                       WHEN ends_with(acc,
                                      ' ' || split_part(b{r}.pair, ' ', 1))
                            AND t = split_part(b{r}.pair, ' ', 2)
                       THEN acc || t ELSE acc || ' ' || t END) AS seq
        FROM w{r - 1}, b{r}
    )""")
    return ",\n    ".join(ctes)


def _bpe_oracle(rounds: int = _ROUNDS) -> str:
    union = "\n        UNION ALL ".join(
        f"SELECT * FROM b{r}" for r in range(1, rounds + 1)
    )
    return f"""
    WITH {_bpe_cte_chain(rounds)}
    SELECT CAST(round AS BIGINT) AS round, pair,
           replace(pair, ' ', '') AS merged, total AS pair_count
    FROM ({union})
    ORDER BY round
    """


@query("q_bpe_train", oracle=_bpe_oracle())
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 6 BPE merges of the corpus — the tokenizer-
    training operator of the pipeline. See the module docstring for
    the scale argument (training runs on the Zipf-bounded word table,
    each round a pair-count aggregate + 1-row broadcast greedy fold,
    all in one lazy plan)."""
    docs = load_table(spark, sf_dir, "documents")
    _, merges = _merge_rounds(_word_state(docs))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out.select(
        "round",
        "pair",
        F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
        F.col("total").alias("pair_count"),
    ).orderBy("round")


def _bpe_encode_oracle(rounds: int = _ROUNDS) -> str:
    return f"""
    WITH {_bpe_cte_chain(rounds)},
    wlen AS (
        SELECT word,
               len(list_filter(string_split(seq, ' '), x -> x <> '')) - 1
                   AS n_sub
        FROM w{rounds}
    ),
    doctoks AS (
        SELECT doc_id AS doc,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                   AS word
        FROM documents
    ),
    per_doc AS (
        SELECT d.doc, CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(w.n_sub) AS BIGINT) AS n_subwords
        FROM doctoks d JOIN wlen w ON w.word = d.word
        GROUP BY d.doc
    )
    SELECT doc.doc_id,
           COALESCE(p.n_words, 0) AS n_words,
           COALESCE(p.n_subwords, 0) AS n_subwords
    FROM documents doc LEFT JOIN per_doc p ON p.doc = doc.doc_id
    ORDER BY doc.doc_id
    """


@query("q_bpe_encode", oracle=_bpe_encode_oracle())
def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges: per-document subword count under
    the 6-merge tokenizer — the fertility / training-cost metric
    (n_subwords is what a token budget actually pays for). Encoding
    runs on the word table (each word segmented once, however often it
    occurs) and documents join the result by word — the same
    vocabulary-scale trick as training. The merge loop is the SAME
    helper q_bpe_train runs (one implementation to fix, not two).
    """
    docs = load_table(spark, sf_dir, "documents")
    w, _ = _merge_rounds(_word_state(docs))
    wlen = w.select("word", (F.size(_syms()) - 1).alias("n_sub"))
    doctoks = docs.select(
        F.col("doc_id").alias("doc"),
        F.explode(tokens_col(F.lower(F.col("text")))).alias("word"),
    )
    per_doc = (
        doctoks.join(wlen, "word")
        .groupBy("doc")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, docs.doc_id == per_doc.doc, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_words"), F.lit(0).cast("long")).alias("n_words"),
            F.coalesce(F.col("n_subwords"), F.lit(0).cast("long")).alias(
                "n_subwords"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_tokenizer_fertility — per-language subwords-per-word under the BPE
# ---------------------------------------------------------------------------

_FERT_FINAL = (
    "lang",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(n_words AS BIGINT) AS n_words",
    "CAST(n_subwords AS BIGINT) AS n_subwords",
    "round(CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE), 6) + 0.0"
    " AS fertility",
    "round((CAST(n_subwords AS DOUBLE) / CAST(n_words AS DOUBLE))"
    " / (CAST(t_sub AS DOUBLE) / CAST(t_words AS DOUBLE)), 6) + 0.0"
    " AS fertility_vs_corpus",
)


def _fertility_oracle(rounds: int = _ROUNDS) -> str:
    return f"""
    WITH {_bpe_cte_chain(rounds)},
    wlen AS (
        SELECT word,
               len(list_filter(string_split(seq, ' '), x -> x <> '')) - 1
                   AS n_sub
        FROM w{rounds}
    ),
    doctoks AS (
        SELECT doc_id AS doc, lang,
               unnest(list_filter(string_split(lower(text), ' '),
                                  t -> t <> '')) AS word
        FROM documents
    ),
    per_lang AS (
        SELECT d.lang,
               CAST(COUNT(DISTINCT d.doc) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(w.n_sub) AS BIGINT) AS n_subwords
        FROM doctoks d JOIN wlen w ON w.word = d.word
        GROUP BY d.lang
    ),
    tot AS (
        SELECT CAST(SUM(n_words) AS BIGINT) AS t_words,
               CAST(SUM(n_subwords) AS BIGINT) AS t_sub
        FROM per_lang
    )
    SELECT {", ".join(_FERT_FINAL)}
    FROM per_lang CROSS JOIN tot
    ORDER BY lang
    """


@query("q_tokenizer_fertility", oracle=_fertility_oracle())
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: subwords emitted per word
    under the 6-merge BPE, and its ratio to the corpus-wide fertility
    — THE fairness/cost metric for multilingual tokenizers (a language
    whose fertility runs 2x the corpus pays twice the context budget
    per word, trains on fragmented units, and is the first candidate
    for more merges or vocab re-balancing).

    Runs on the SAME vocabulary-scale merge state as
    q_bpe_train/encode (`_merge_rounds` — one implementation); the
    per-language rollup is one partial-agg'd join of the exploded
    corpus against the word table; the corpus baseline is a 1-row
    broadcast. Exact integer word/subword counts; two shared division
    texts.
    """
    docs = load_table(spark, sf_dir, "documents")
    w, _ = _merge_rounds(_word_state(docs))
    wlen = w.select("word", (F.size(_syms()) - 1).alias("n_sub"))
    doctoks = docs.select(
        F.col("doc_id").alias("doc"),
        "lang",
        F.explode(tokens_col(F.lower(F.col("text")))).alias("word"),
    )
    per_lang = (
        doctoks.join(wlen, "word")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_words"),
            F.sum("n_sub").cast("long").alias("n_subwords"),
        )
    )
    tot = per_lang.agg(
        F.sum("n_words").cast("long").alias("t_words"),
        F.sum("n_subwords").cast("long").alias("t_sub"),
    )
    return (
        per_lang.crossJoin(F.broadcast(tot))
        .selectExpr(*_FERT_FINAL)
        .orderBy("lang")
    )
