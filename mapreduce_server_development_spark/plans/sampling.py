"""Reproducible sampling for training-data pipelines: hash-Bernoulli
sampling, train/val/test splits, and weighted per-source dataset mixing.

Random sampling (``df.sample``) is NOT reproducible across engines,
runs, or repartitions — the standard pipeline practice at scale is
*deterministic hash bucketing*: a document's fate is a pure function of
a salt and its key, so every engine, rerun, and incremental batch
agrees on membership. All three operators here are stateless
scan→filter/project plans — **zero shuffles** (the mix report adds one
bounded per-source agg), which is exactly the 100 TB posture: sampling
100 TB costs one pass and prunes columns at the parquet scan.

The bucket is the first 16 bits of ``md5(salt || ':' || key)`` taken
mod 1000 — decoded nibble-by-nibble with the same hex-alphabet idiom as
simhash (``functions/dedup.py _nibble``), so DuckDB reproduces it
bit-for-bit (no engine-specific hash ever involved).

Reference parity: the reference has no sampling surface; this is part
of the additive LLM-pipeline plane mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import materialize, one_row
from ..sources.tables import load_table
from .registry import query


def hash_bucket(salt: str, key: Column, buckets: int = 1000) -> Column:
    """Deterministic bucket 0..buckets-1 from md5(salt ':' key).

    Uses the first 4 hex nibbles (16 bits) — plenty of entropy for
    permille rates — decoded positionally so any engine with md5 + a
    hex alphabet reproduces it.
    """
    h = F.md5(F.concat(F.lit(salt + ":"), key.cast("string")))
    # ONE conv over the 4-nibble prefix == the positional
    # nib0*4096 + nib1*256 + nib2*16 + nib3 decode bit-for-bit, but
    # evaluates the md5 child once instead of four times — decisive
    # inside higher-order-function lambdas, which are interpreted with
    # NO common-subexpression elimination (r11: q_mlm_masking evaluates
    # this per token position; 4x md5 -> 1x md5 there).
    return F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % buckets


def _bucket_sql(salt: str, key_expr: str, buckets: int = 1000) -> str:
    """DuckDB rendering of :func:`hash_bucket` (same value, same bits)."""
    h = f"md5('{salt}:' || CAST({key_expr} AS VARCHAR))"

    def nib(d: int) -> str:
        return f"(strpos('0123456789abcdef', substr({h}, {d + 1}, 1)) - 1)"

    return f"(({nib(0)}*4096 + {nib(1)}*256 + {nib(2)}*16 + {nib(3)}) % {buckets})"


@query(
    "q_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    WHERE {_bucket_sql('sample', 'doc_id')} < 100
    """,
)
def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% reproducible Bernoulli sample of the corpus.

    Membership is ``bucket(salt, doc_id) < 100`` — a pure projection
    filter: no shuffle, no state, stable under repartitioning and
    incremental reruns (a doc sampled today is sampled tomorrow).
    Changing the salt draws an independent sample.
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(hash_bucket("sample", F.col("doc_id")) < 100).select(
        "doc_id", "lang", "source"
    )


@query(
    "q_train_test_split",
    oracle=f"""
    WITH tagged AS (
        SELECT lang,
               CASE WHEN {_bucket_sql('split', 'doc_id')} < 800 THEN 'train'
                    WHEN {_bucket_sql('split', 'doc_id')} < 900 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split, COUNT(*) AS n_docs
    FROM tagged GROUP BY lang, split
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment, reported per language.

    The split column is a deterministic function of doc_id — no
    leakage across reruns, engines, or shards; near-dup-safe splitting
    composes by keying the bucket on ``q_dup_clusters``' cluster_id
    instead of doc_id. The only shuffle is the bounded
    (lang x split) count report.
    """
    docs = load_table(spark, sf_dir, "documents")
    b = hash_bucket("split", F.col("doc_id"))
    return (
        docs.select(
            "lang",
            F.when(b < 800, "train").when(b < 900, "val").otherwise("test").alias(
                "split"
            ),
        )
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_dataset_mix",
    oracle=f"""
    WITH tagged AS (
        SELECT source,
               200 + 50 * (CAST(substr(source, 4) AS INTEGER) % 10)
                   AS rate_permille,
               {_bucket_sql('mix', 'doc_id')} AS b
        FROM documents
    )
    SELECT source, rate_permille,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN b < rate_permille THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM tagged GROUP BY source, rate_permille
    """,
)
def q_dataset_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted dataset mixing: each source is downsampled at its own
    target rate (here derived arithmetically from the source id:
    200-650 permille), in one pass.

    This is the "recipe" step of corpus assembly — web 20%, books 65%,
    etc. — done as a per-row hash filter, so the mix is reproducible
    and incremental. Reported as per-source kept/total counts; the
    keep-filter itself (``b < rate_permille``) is shuffle-free.
    """
    docs = load_table(spark, sf_dir, "documents")
    rate = 200 + 50 * (F.substring("source", 4, 10).cast("int") % 10)
    b = hash_bucket("mix", F.col("doc_id"))
    return (
        docs.select(
            "source",
            rate.alias("rate_permille"),
            b.alias("b"),
        )
        .groupBy("source", "rate_permille")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("b") < F.col("rate_permille"), 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
        )
    )


@query(
    "q_stratified_sample",
    oracle=f"""
    WITH sized AS (
        SELECT lang, CAST(CEIL(0.1 * COUNT(*)) AS BIGINT) AS quota
        FROM documents GROUP BY lang
    ),
    ranked AS (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY {_bucket_sql('strat', 'doc_id')}, doc_id
               ) AS rk
        FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rk AS BIGINT) AS rk
    FROM ranked r JOIN sized s USING (lang)
    WHERE r.rk <= s.quota
    ORDER BY r.lang, r.rk
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota stratified sample: exactly ceil(10% of n_docs) per
    language, deterministically.

    Bernoulli hash sampling (q_hash_sample) gives each stratum only its
    EXPECTED share; when the contract is an exact per-stratum count
    (eval set construction, per-language budget caps), rank documents
    within each stratum by their hash bucket (doc_id tiebreak — a total
    order) and keep rank <= quota. The quota side is a tiny per-lang
    aggregate, broadcast back.

    Scale: in-stratum ranks do NOT come from a window partitioned by
    the low-cardinality lang key (that caps parallelism at |lang| and
    funnels each corpus-scale stratum through one task — the
    q_value_anomaly defect class). Instead one two-phase global
    row_number over the (lang, bucket, doc_id) total order — strata
    contiguous — and the per-lang rank falls out by subtracting each
    stratum's broadcast MIN position. Parallelism follows partitions.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    quota = docs.groupBy("lang").agg(
        F.ceil(0.1 * F.count("*")).cast("long").alias("quota")
    )
    g = global_row_number(
        docs.select(
            "doc_id", "lang", hash_bucket("strat", F.col("doc_id")).alias("hb")
        ),
        ["lang", "hb", "doc_id"],
        "grn",
    )
    t0 = g.groupBy("lang").agg(F.min("grn").alias("t0"))
    ranked = g.join(F.broadcast(t0), "lang").select(
        "doc_id", "lang", (F.col("grn") - F.col("t0") + 1).alias("rk")
    )
    return (
        ranked.join(F.broadcast(quota), "lang")
        .filter(F.col("rk") <= F.col("quota"))
        .select("doc_id", "lang", "rk")
        .orderBy("lang", "rk")
    )


def _u32_sql(hash_expr: str) -> str:
    """DuckDB: first 8 md5 hex digits as an integer 0..2^32-1."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({hash_expr}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               CAST(round(
                   -ln(({_u32_sql("md5('wrs:' || CAST(doc_id AS VARCHAR))")} + 1)
                       / 4294967297.0)
                   / GREATEST(n_chars, 1) * 1000000000) AS BIGINT) AS ikey
        FROM documents
    )
    SELECT doc_id, n_chars
    FROM keyed
    ORDER BY ikey, doc_id
    LIMIT 100
    """,
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, top-100 by the
    Efraimidis-Spirakis exponential key: item i is selected with
    probability proportional to its weight (here ``n_chars`` — a
    token-budget-weighted corpus draw) by ranking on
    ``-ln(u_i) / w_i`` with u_i uniform. Determinism: u_i derives from
    md5(salt:doc_id) (32 bits is plenty for ranking), and the key is
    rounded to integer NANO-units (the unigram-logprob fixed-point
    pattern) so a last-ulp ``ln`` difference between engines cannot
    reorder the sample except when two keys land within 1e-9 of each
    other AND of a rounding boundary. The raw key is NOT emitted:
    ``ln`` is not IEEE-correctly-rounded, so the integer key itself
    can differ by 1 between libm implementations at a .5 boundary —
    the SELECTED ids are ulp-stable, the key value is not. Plan: scan
    → project → TakeOrderedAndProject (per-partition top-k heaps) —
    one pass, no full sort, no shuffle beyond the k-row gather; at
    100 TB this is the cheapest exact weighted draw there is.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string")))
    u32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
    u = (u32 + F.lit(1.0)) / F.lit(4294967297.0)
    w = F.greatest(F.col("n_chars"), F.lit(1))
    ikey = F.round(-F.log(u) / w * 1000000000).cast("long")
    return (
        docs.select("doc_id", "n_chars", ikey.alias("ikey"))
        .orderBy("ikey", "doc_id")
        .limit(100)
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# q_mix_planner — greedy token-budget allocation across sources
# ---------------------------------------------------------------------------


@query(
    "q_mix_planner",
    oracle="""
    WITH t AS (
        SELECT source,
               len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
                   AS n_tok,
               len(list_distinct(list_filter(string_split(lower(text), ' '),
                                             x -> x <> ''))) AS n_dis
        FROM documents
    ),
    s AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS avail_tokens,
               CAST(SUM(n_dis) AS BIGINT) AS dis_tokens
        FROM t GROUP BY source
    ),
    ranked AS (
        SELECT *,
               1000000 * dis_tokens // avail_tokens AS quality_e6,
               ROW_NUMBER() OVER (
                   ORDER BY 1000000 * dis_tokens // avail_tokens
                       DESC, source) AS rk
        FROM s
        WHERE avail_tokens > 0
    ),
    tot AS (SELECT SUM(avail_tokens) // 2 AS budget FROM s),
    alloc AS (
        SELECT r.*, t.budget,
               COALESCE(SUM(avail_tokens) OVER (
                   ORDER BY rk
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM ranked r, tot t
    )
    SELECT source, CAST(rk AS BIGINT) AS rank, n_docs, avail_tokens,
           CAST(quality_e6 AS BIGINT) AS quality_e6,
           CAST(GREATEST(0, LEAST(avail_tokens, budget - cum_before))
                AS BIGINT) AS alloc_tokens
    FROM alloc ORDER BY rank
    """,
)
def q_mix_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix planner: rank sources by lexical-diversity quality
    (mean type-token mass, an exact integer ratio) and greedily fill a
    token budget (half the corpus) in quality order — the waterfilling
    step that decides per-source sampling rates BEFORE q_dataset_mix
    applies them.

    One corpus scan reduces to a sources-sized relation (map-side
    combined); ranking, the prefix sum and the greedy allocation are
    windows over that tiny relation — at 100 TB the planner costs one
    aggregate, and the plan itself (tokens per source, quality, greedy
    cut-off) is the query output, fully deterministic.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != "")
    s = (
        docs.select(
            "source",
            F.size(toks).alias("n_tok"),
            F.size(F.array_distinct(toks)).alias("n_dis"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("avail_tokens"),
            F.sum("n_dis").cast("long").alias("dis_tokens"),
        )
    )
    # A source whose documents are all empty has avail_tokens = 0: the
    # quality ratio would be NULL and sort nondeterministically between
    # Spark's and DuckDB's NULLS defaults — drop such sources from the
    # ranking (they could never receive an allocation anyway).
    quality = F.expr(
        "1000000 * dis_tokens DIV avail_tokens"
    ).alias("quality_e6")
    ranked = s.filter(F.col("avail_tokens") > 0).select("*", quality).withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("quality_e6").desc(), F.col("source"))
        ),
    )
    budget = s.agg(F.expr("SUM(avail_tokens) DIV 2").alias("budget"))
    cum_w = (
        Window.orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    alloc = (
        ranked.crossJoin(F.broadcast(budget))
        .withColumn(
            "cum_before",
            F.coalesce(F.sum("avail_tokens").over(cum_w), F.lit(0)),
        )
    )
    return alloc.select(
        "source",
        F.col("rk").cast("long").alias("rank"),
        "n_docs",
        "avail_tokens",
        "quality_e6",
        F.greatest(
            F.lit(0),
            F.least(F.col("avail_tokens"), F.col("budget") - F.col("cum_before")),
        )
        .cast("long")
        .alias("alloc_tokens"),
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# q_dp_release — differentially-private count release audit (Laplace)
# ---------------------------------------------------------------------------

_DP_EPS = "0.5"  # epsilon as a literal shared by both engines
_DP_DOM = 1 << 48

#: Uniform (0,1) from the md5 stream keyed by the released category —
#: deterministic, engine-replayable (the house seeded-randomness
#: convention; a real release would rotate the salt per publication).
_DP_U = f"((CAST(h AS DOUBLE) + 0.5) / {float(_DP_DOM)!r})"
#: Inverse-CDF Laplace(0, 1/eps): -sign(u-1/2)·ln(1-2|u-1/2|)/eps.
_DP_LAP = (
    f"(-(CASE WHEN {_DP_U} >= 0.5 THEN 1.0 ELSE -1.0 END)"
    f" * ln(1.0 - 2.0 * abs({_DP_U} - 0.5)) / {_DP_EPS})"
)
_DP_FINAL = (
    "event_type",
    "CAST(n AS BIGINT) AS true_count",
    f"round(CAST(n AS DOUBLE) + {_DP_LAP}, 4) + 0.0 AS noisy_count",
    f"round(abs({_DP_LAP}), 4) + 0.0 AS abs_noise",
)


def _dp_oracle() -> str:
    from .sketches import _hexval_sql

    h = _hexval_sql("md5('dp:' || event_type)", 12)
    return f"""
    WITH c AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type
    ),
    hashed AS (SELECT event_type, n, {h} AS h FROM c)
    SELECT {", ".join(_DP_FINAL)} FROM hashed ORDER BY event_type
    """


@query("q_dp_release", oracle=_dp_oracle())
def q_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release audit: per-event-type
    counts with Laplace(1/ε) noise (ε = 0.5, sensitivity 1) drawn by
    inverse CDF from the md5-uniform stream — the privacy-tooling pass
    a data platform runs before publishing usage statistics, written
    as an AUDIT (true count, noisy release, absolute noise) so the
    noise mechanism itself is testable. Real releases would drop the
    true column and rotate the hash salt per publication; the
    deterministic draw is the house seeded-randomness convention that
    makes the mechanism engine-replayable.

    Determinism: counts are exact; the uniform→Laplace transform is
    one shared closed-form text over the exact 48-bit hash integer.

    Scale: one partial-agg'd count by the tiny category key; the
    noise math runs on |event_type| rows.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").cast("long").alias("n"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("dp:"), F.col("event_type"))), 1, 12),
        16,
        10,
    ).cast("long")
    hashed = c.withColumn("h", h)
    return hashed.selectExpr(*_DP_FINAL).orderBy("event_type")


# ---------------------------------------------------------------------------
# q_ipf_raking — iterative proportional fitting (raking) calibration
# ---------------------------------------------------------------------------

_IPF_ITERS = 3
#: 2024-01-01 is a Monday — engine-neutral dow via modular datediff
#: (the q_seasonality anchor trick, re-anchored to the events range).
_IPF_MONDAY = "2024-01-01"

_IPF_FINAL = (
    "event_type",
    "CAST(dow AS BIGINT) AS dow",
    "CAST(m AS BIGINT) AS n_events",
    "round(w, 6) + 0.0 AS weight",
    "round(CAST(m AS DOUBLE) * w, 2) + 0.0 AS weighted_count",
)


def _ipf_oracle() -> str:
    parts = [f"""
    WITH g0 AS (
        SELECT event_type,
               ((datediff('day', DATE '{_IPF_MONDAY}', CAST(ts AS DATE))
                 % 7) + 7) % 7 AS dow,
               CAST(COUNT(*) AS BIGINT) AS m, CAST(1.0 AS DOUBLE) AS w
        FROM events GROUP BY 1, 2
    ),
    tgt AS (
        SELECT CAST(SUM(m) AS DOUBLE) / COUNT(DISTINCT event_type) AS rt,
               CAST(SUM(m) AS DOUBLE) / COUNT(DISTINCT dow) AS ct
        FROM g0
    )"""]
    prev = "g0"
    for k in range(1, _IPF_ITERS + 1):
        parts.append(f""",
    rs{k} AS (
        SELECT event_type, SUM(CAST(m AS DOUBLE) * w) AS s
        FROM {prev} GROUP BY event_type
    ),
    gr{k} AS (
        SELECT g.event_type, g.dow, g.m, g.w * t.rt / r.s AS w
        FROM {prev} g JOIN rs{k} r ON r.event_type = g.event_type
        CROSS JOIN tgt t
    ),
    cs{k} AS (
        SELECT dow, SUM(CAST(m AS DOUBLE) * w) AS s
        FROM gr{k} GROUP BY dow
    ),
    g{k} AS (
        SELECT g.event_type, g.dow, g.m, g.w * t.ct / c.s AS w
        FROM gr{k} g JOIN cs{k} c ON c.dow = g.dow
        CROSS JOIN tgt t
    )""")
        prev = f"g{k}"
    parts.append(f"""
    SELECT {", ".join(_IPF_FINAL)} FROM {prev} ORDER BY event_type, dow
    """)
    return "".join(parts)


@query("q_ipf_raking", oracle=_ipf_oracle())
def q_ipf_raking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (raking): calibrate per-cell
    weights on the event_type × day-of-week grid so both margins hit
    uniform targets — the survey-statistics / panel-reweighting
    primitive for correcting a skewed collection design before
    computing population metrics. Three row/column scaling rounds;
    outputs each cell's weight and reweighted count.

    Day-of-week uses the engine-neutral Monday-anchored modular
    datediff (the q_seasonality trick). The scaling recursion runs on
    the bounded |types|×7 CELL grid after one fact-scan aggregate;
    margin sums are double sums over ≤7 cells (the q_logreg_gd
    documented exception — summation-order error is ~1e-15 relative,
    ten orders under the 1e-6 rounding, asserted by the oracle
    match).

    Scale: one data-scale hash aggregate; 3 × (two cell-grid
    aggregates + joins), all calendar/type-bounded. The two margin
    targets live on the driver (``session.one_row``) and enter each
    scaling step as typed literals; the cell grid is checkpointed
    once per round to keep lineage flat.
    """
    ev = load_table(spark, sf_dir, "events")
    g = materialize(
        ev.selectExpr(
            "event_type",
            f"((datediff(CAST(ts AS DATE), DATE '{_IPF_MONDAY}')"
            " % 7) + 7) % 7 AS dow",
        )
        .groupBy("event_type", "dow")
        .agg(F.count("*").cast("long").alias("m"))
        .withColumn("w", F.lit(1.0))
    )
    tgt = one_row(g.agg(
        (
            F.sum("m").cast("double") / F.countDistinct("event_type")
        ).alias("rt"),
        (F.sum("m").cast("double") / F.countDistinct("dow")).alias("ct"),
    ))
    for _ in range(_IPF_ITERS):
        rs = g.groupBy("event_type").agg(
            F.sum(F.col("m").cast("double") * F.col("w")).alias("s")
        )
        g = (
            g.join(rs, "event_type")
            .select(
                "event_type",
                "dow",
                "m",
                (F.col("w") * tgt["rt"] / F.col("s")).alias("w"),
            )
        )
        cs = g.groupBy("dow").agg(
            F.sum(F.col("m").cast("double") * F.col("w")).alias("s")
        )
        g = materialize(
            g.join(cs, "dow")
            .select(
                "event_type",
                "dow",
                "m",
                (F.col("w") * tgt["ct"] / F.col("s")).alias("w"),
            )
        )
    return g.selectExpr(*_IPF_FINAL).orderBy("event_type", "dow")


# ---------------------------------------------------------------------------
# q_shard_planner — consistent-hash vs mod sharding rebalance audit
# ---------------------------------------------------------------------------

_SHARD_N = 8       # current shard count
_SHARD_V = 8       # virtual nodes per shard
_SHARD_DOM = 1 << 48

_SHARD_FINAL = (
    "CAST(n_docs AS BIGINT) AS n_docs",
    "round(100.0 * CAST(moved_mod AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)"
    " + 0.0 AS moved_mod_pct",
    "round(100.0 * CAST(moved_ring AS DOUBLE) / CAST(n_docs AS DOUBLE), 4)"
    " + 0.0 AS moved_ring_pct",
    "CAST(max_load8 AS BIGINT) AS ring8_max_shard_load",
    "CAST(min_load8 AS BIGINT) AS ring8_min_shard_load",
)


def _shard_oracle() -> str:
    from .sketches import _hexval_sql

    dh = _hexval_sql("md5('shard:' || CAST(doc_id AS VARCHAR))", 12)
    vh = _hexval_sql(
        "md5('ring:' || CAST(s AS VARCHAR) || ':' || CAST(j AS VARCHAR))", 12
    )
    return f"""
    WITH docs AS (SELECT doc_id, {dh} AS h FROM documents),
    vn AS (
        SELECT s.s, j.j, {vh} AS vh
        FROM (SELECT unnest(range({_SHARD_N + 1})) AS s) s,
             (SELECT unnest(range({_SHARD_V})) AS j) j
    ),
    a8 AS (
        SELECT d.doc_id, d.h,
               arg_min(v.s, CASE WHEN v.vh >= d.h THEN v.vh
                                 ELSE v.vh + {_SHARD_DOM} END) AS ring8
        FROM docs d JOIN vn v ON v.s < {_SHARD_N}
        GROUP BY d.doc_id, d.h
    ),
    a9 AS (
        SELECT d.doc_id,
               arg_min(v.s, CASE WHEN v.vh >= d.h THEN v.vh
                                 ELSE v.vh + {_SHARD_DOM} END) AS ring9
        FROM docs d JOIN vn v ON 1 = 1
        GROUP BY d.doc_id, d.h
    ),
    joined AS (
        SELECT a8.doc_id, a8.h, a8.ring8, a9.ring9
        FROM a8 JOIN a9 ON a9.doc_id = a8.doc_id
    ),
    loads AS (
        SELECT ring8, CAST(COUNT(*) AS BIGINT) AS l
        FROM joined GROUP BY ring8
    ),
    s AS (
        SELECT (SELECT COUNT(*) FROM joined) AS n_docs,
               (SELECT SUM(CASE WHEN h % {_SHARD_N} <> h % {_SHARD_N + 1}
                                THEN 1 ELSE 0 END) FROM joined) AS moved_mod,
               (SELECT SUM(CASE WHEN ring8 <> ring9 THEN 1 ELSE 0 END)
                FROM joined) AS moved_ring,
               (SELECT MAX(l) FROM loads) AS max_load8,
               (SELECT MIN(l) FROM loads) AS min_load8
    )
    SELECT {", ".join(_SHARD_FINAL)} FROM s
    """


@query("q_shard_planner", oracle=_shard_oracle())
def q_shard_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-rebalance audit: assign every document to 8 shards by
    (a) hash-mod and (b) a consistent-hash ring with 8 virtual nodes
    per shard, then measure what fraction MOVES when a 9th shard is
    added — the capacity-planning readout that justifies consistent
    hashing (ring moves ≈ 1/(N+1) of keys; mod moves ≈ N/(N+1)),
    plus the ring's max/min shard loads (the balance cost virtual
    nodes pay for that stability).

    Successor-on-ring is one aggregate trick: argmin over virtual
    nodes of (vh if vh ≥ h else vh + 2⁴⁸) — the wrap-around built
    into the key, so no COALESCE two-pass. Spark's min_by and
    DuckDB's arg_min implement the same semantics; md5-derived 48-bit
    positions make ties impossible in practice and every assignment
    engine-replayable.

    Scale: the virtual-node table is |shards|·V rows broadcast to a
    docs-scale nested-loop fan-out (a bounded ×72 multiplier), then
    two doc-keyed aggregates and a shard-sized load rollup.
    """
    from .sketches import _hexval_col

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        _hexval_col(
            F.md5(F.concat(F.lit("shard:"), F.col("doc_id").cast("string"))),
            12,
        ).alias("h"),
    )
    vn = (
        spark.range(_SHARD_N + 1)
        .selectExpr("id AS s")
        .crossJoin(spark.range(_SHARD_V).selectExpr("id AS j"))
        .select(
            "s",
            "j",
            _hexval_col(
                F.md5(
                    F.concat(
                        F.lit("ring:"),
                        F.col("s").cast("string"),
                        F.lit(":"),
                        F.col("j").cast("string"),
                    )
                ),
                12,
            ).alias("vh"),
        )
    )
    key = F.when(F.col("vh") >= F.col("h"), F.col("vh")).otherwise(
        F.col("vh") + F.lit(_SHARD_DOM)
    )
    a8 = (
        docs.join(F.broadcast(vn.filter(F.col("s") < _SHARD_N)))
        .groupBy("doc_id", "h")
        .agg(F.min_by("s", key).alias("ring8"))
    )
    a9 = (
        docs.join(F.broadcast(vn))
        .groupBy("doc_id", "h")
        .agg(F.min_by("s", key).alias("ring9"))
    )
    joined = a8.join(a9.select("doc_id", "ring9"), "doc_id")
    loads = joined.groupBy("ring8").agg(F.count("*").cast("long").alias("l"))
    lsum = loads.agg(
        F.max("l").alias("max_load8"), F.min("l").alias("min_load8")
    )
    s = joined.agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(
                F.col("h") % _SHARD_N != F.col("h") % (_SHARD_N + 1), 1
            ).otherwise(0)
        ).alias("moved_mod"),
        F.sum(
            F.when(F.col("ring8") != F.col("ring9"), 1).otherwise(0)
        ).alias("moved_ring"),
    ).crossJoin(F.broadcast(lsum))
    return s.selectExpr(*_SHARD_FINAL)


# ---------------------------------------------------------------------------
# q_k_anonymity — quasi-identifier k-anonymity audit
# ---------------------------------------------------------------------------

_KA_FINAL = (
    "CAST(log2_k AS BIGINT) AS log2_k",
    "CAST(n_classes AS BIGINT) AS n_classes",
    "CAST(n_users AS BIGINT) AS n_users",
    "CAST(n_under_5 AS BIGINT) AS users_in_k_lt_5",
)


@query(
    "q_k_anonymity",
    oracle="""
    WITH qi AS (
        SELECT DISTINCT user_id, event_type,
               ((datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
                 % 7) + 7) % 7 AS dow,
               CAST(round(value * 100) AS BIGINT) // 5000 AS vbucket
        FROM events
    ),
    classes AS (
        SELECT event_type, dow, vbucket,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM qi GROUP BY event_type, dow, vbucket
    ),
    binned AS (
        SELECT length(bin(k)) - 1 AS log2_k, k FROM classes
    )
    SELECT CAST(log2_k AS BIGINT) AS log2_k,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
               AS users_in_k_lt_5
    FROM binned GROUP BY 1 ORDER BY 1
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (event type,
    day-of-week, $50 value bucket): how many users share each
    equivalence class, log2-binned, with the count of users sitting
    in classes smaller than k=5 — the re-identification risk readout
    that decides whether an event-level export needs generalization
    or suppression before release (the governance sibling of
    q_dp_release's noise mechanism).

    Determinism: classes, k values, and bin ids are exact integers
    (Monday-anchored dow, floor-div value buckets, bit-length bins).

    Scale: one distinct on (user, QI) — map-side combined — one
    class-keyed count, one ≤~32-bucket rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    qi = ev.selectExpr(
        "user_id",
        "event_type",
        "((datediff(CAST(ts AS DATE), DATE '2024-01-01') % 7) + 7) % 7"
        " AS dow",
        "CAST(round(value * 100) AS BIGINT) DIV 5000 AS vbucket",
    ).distinct()
    classes = qi.groupBy("event_type", "dow", "vbucket").agg(
        F.count("*").cast("long").alias("k")
    )
    binned = classes.selectExpr("length(bin(k)) - 1 AS log2_k", "k")
    return (
        binned.groupBy("log2_k")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum("k").cast("long").alias("n_users"),
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
            .cast("long")
            .alias("n_under_5"),
        )
        .selectExpr(*_KA_FINAL)
        .orderBy("log2_k")
    )


# ---------------------------------------------------------------------------
# q_l_diversity — sensitive-attribute diversity inside QI classes
# ---------------------------------------------------------------------------

_LD_FINAL = (
    "CAST(l AS BIGINT) AS l_distinct",
    "CAST(n_classes AS BIGINT) AS n_classes",
    "CAST(n_orders AS BIGINT) AS n_orders",
    "CAST(n_homogeneous AS BIGINT) AS orders_in_homogeneous_class",
)


@query(
    "q_l_diversity",
    oracle="""
    WITH rows_ AS (
        SELECT o.o_orderkey,
               o.o_orderpriority AS pri,
               CAST(strftime(o.o_orderdate, '%Y%m') AS BIGINT) AS ym,
               CAST(round(o.o_totalprice * 100) AS BIGINT) // 2000000
                   AS pbucket,
               c.c_mktsegment AS seg
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    classes AS (
        SELECT pri, ym, pbucket,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(COUNT(DISTINCT seg) AS BIGINT) AS l
        FROM rows_ GROUP BY pri, ym, pbucket
    )
    SELECT CAST(l AS BIGINT) AS l_distinct,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN l = 1 THEN k ELSE 0 END) AS BIGINT)
               AS orders_in_homogeneous_class
    FROM classes GROUP BY l ORDER BY l
    """,
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al. 2007 — the
    k-anonymity follow-up): within each quasi-identifier equivalence
    class of an order export (priority, order month, $20k price
    bucket), how many DISTINCT values of the sensitive attribute (the
    customer's market segment) appear. A class with l = 1 is
    HOMOGENEOUS: k-anonymity can hold while every member still leaks
    the same sensitive value — the attack l-diversity exists to
    catch. Reports the class histogram by l with the order count
    sitting in homogeneous classes (the suppression work list).

    Determinism: classes, k, and l are exact integers (year-month
    key, floor-div price buckets, distinct counts).

    Scale: one orders-to-customer equi-join (shuffle on custkey), one
    class-keyed aggregate with a distinct count, one <=|segments|-row
    rollup.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    rows = o.join(c, o["o_custkey"] == c["c_custkey"]).selectExpr(
        "o_orderpriority AS pri",
        "CAST(date_format(o_orderdate, 'yyyyMM') AS BIGINT) AS ym",
        "CAST(round(o_totalprice * 100) AS BIGINT) DIV 2000000 AS pbucket",
        "c_mktsegment AS seg",
    )
    classes = rows.groupBy("pri", "ym", "pbucket").agg(
        F.count("*").cast("long").alias("k"),
        F.countDistinct("seg").cast("long").alias("l"),
    )
    return (
        classes.groupBy("l")
        .agg(
            F.count("*").cast("long").alias("n_classes"),
            F.sum("k").cast("long").alias("n_orders"),
            F.sum(F.when(F.col("l") == 1, F.col("k")).otherwise(0))
            .cast("long")
            .alias("n_homogeneous"),
        )
        .selectExpr(*_LD_FINAL)
        .orderBy("l_distinct")
    )


# ---------------------------------------------------------------------------
# q_temperature_mix — alpha-smoothed source sampling weights
# ---------------------------------------------------------------------------

_TMIX_ALPHA = "0.5"  # literal shared by both engines

_TMIX_FINAL = (
    "source",
    "CAST(n_docs AS BIGINT) AS n_docs",
    "CAST(toks AS BIGINT) AS n_tokens",
    "round(CAST(toks AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0"
    " AS natural_share",
    f"round(pow(CAST(toks AS DOUBLE), {_TMIX_ALPHA}) / psum, 6) + 0.0"
    " AS smoothed_share",
    # NULLIF guards the 0-token source (0/0: Spark NULL vs DuckDB NaN
    # — a cross-engine divergence on degenerate data; the q_epoch_plan
    # convention). A zero-token source gets NULL, not NaN.
    f"round((pow(CAST(toks AS DOUBLE), {_TMIX_ALPHA}) / psum)"
    " / (CAST(NULLIF(toks, 0) AS DOUBLE) / CAST(tot AS DOUBLE)), 6) + 0.0"
    " AS upsample_factor",
)


@query(
    "q_temperature_mix",
    oracle=f"""
    WITH t AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(len(list_filter(string_split(lower(text), ' '),
                                        x -> x <> ''))) AS BIGINT) AS toks
        FROM documents GROUP BY source
    ),
    s AS (
        SELECT CAST(SUM(toks) AS BIGINT) AS tot,
               SUM(pow(CAST(toks AS DOUBLE), {_TMIX_ALPHA})) AS psum
        FROM t
    )
    SELECT {", ".join(_TMIX_FINAL)}
    FROM t CROSS JOIN s
    ORDER BY source
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights (the multilingual
    alpha-smoothing of mBERT/XLM-R, alpha = 0.5): each source's
    sampling share becomes tokens^alpha / sum(tokens^alpha), lifting
    low-resource sources and damping dominant ones; the upsample
    factor (smoothed/natural) is the repetition rate each source pays
    — the standard knob between q_dataset_mix's fixed ratios and pure
    proportional sampling.

    Exact integer token counts per source; the alpha transform and
    both shares are shared float texts over a |sources|-row relation
    (psum is a |sources|-term double sum — bounded, order differences
    ~1e-15 against the 1e-6 rounding).

    Scale: one corpus scan with map-side combine to |sources| rows;
    everything after is panel-sized.
    """
    docs = load_table(spark, sf_dir, "documents")
    from ..functions.text import tokens_col

    t = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(tokens_col(F.lower(F.col("text")))))
        .cast("long")
        .alias("toks"),
    )
    s = t.agg(
        F.sum("toks").cast("long").alias("tot"),
        F.sum(F.pow(F.col("toks").cast("double"), F.lit(0.5))).alias("psum"),
    )
    return (
        t.crossJoin(F.broadcast(s)).selectExpr(*_TMIX_FINAL).orderBy("source")
    )
