"""Probabilistic-sketch operators: HyperLogLog, count-min, Bloom join.

At 100 TB, exact `COUNT(DISTINCT)` / top-k / semi-join all shuffle the
full key stream; sketches replace that with a tiny fixed-size state
that is mergeable map-side (a classic partial-aggregate), so the
shuffle carries kilobytes instead of terabytes:

- **HyperLogLog** (Flajolet et al. 2007): per-group distinct-count in
  m registers; registers merge with MAX, so Spark computes them as an
  ordinary two-level hash aggregate with map-side combine.
- **Count-min** (Cormode & Muthukrishnan 2005): d x w counter matrix;
  merges with SUM; point queries upper-bound true frequencies.
- **Bloom filter**: k-hash bit set over a build-side key domain,
  broadcast to probe a fact table without shuffling it — the manual
  form of the runtime bloom-pruning Spark itself applies to shuffle
  joins (`spark.sql.optimizer.runtime.bloomFilter.enabled`).

Cross-engine parity: every hash is positional-decoded md5 (identical
in Spark and DuckDB), all register/counter arithmetic is integer
(BIGINT), and the one floating estimate (HLL) is computed from the
exact integer register sum with the same literal constants on both
sides, rounded before compare. Spark's built-ins
(`approx_count_distinct`, Catalyst's BloomFilterAggregate) use
engine-private hashing that no oracle can reproduce — these queries
re-derive the sketch from first principles precisely so the driver can
verify them value-exact. Production at 100 TB would swap md5 for
xxhash64 (`F.xxhash64`) and keep the identical plan shape.

Reference parity: the reference (/root/reference/mapreduce/) has no
sketch surface; this is additive LLM-pipeline depth per the brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import tokens_col
from ..session import materialize
from ..sources.tables import load_table
from .registry import query

#: Tokens per document in DuckDB (mirrors tokens_col).
_TOKS_CTE = """
toks AS (
    SELECT doc_id, lang,
           unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
               AS tok
    FROM documents
)"""


def _hexval_sql(hash_expr: str, digits: int, offset: int = 0) -> str:
    """DuckDB: md5 hex digits [offset, offset+digits) as a BIGINT.

    Positional decode (strpos over '0123456789abcdef') — the same
    idiom as sampling._u32_sql, widened to arbitrary spans so the
    sketches can take 48-bit hashes. digits <= 15 keeps the value
    inside a signed BIGINT.
    """
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({hash_expr}, {offset + i + 1}, 1)) - 1)"
        f" * {16 ** (digits - 1 - i)}"
        for i in range(digits)
    )
    return f"({terms})"


def _hexval_col(hash_col: Column, digits: int, offset: int = 0) -> Column:
    """Spark: md5 hex digits [offset, offset+digits) as a BIGINT."""
    return F.conv(F.substring(hash_col, offset + 1, digits), 16, 10).cast("long")


# --------------------------------------------------------------------------
# HyperLogLog distinct-vocabulary estimate
# --------------------------------------------------------------------------

_HLL_P = 10  # 2^10 = 1024 registers
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 38  # rho-domain bits (48-bit hash minus 10 register bits)
# alpha_m for m=1024 (Flajolet et al. 2007, Fig. 3): 0.7213/(1+1.079/m)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)


@query(
    "q_hll_vocab",
    oracle=f"""
    WITH {_TOKS_CTE},
    hashed AS (
        SELECT lang, tok,
               {_hexval_sql("md5('hll:' || tok)", 12)} AS h48
        FROM toks
    ),
    regs AS (
        SELECT lang,
               h48 // {1 << _HLL_WBITS} AS reg,
               MAX(CASE WHEN h48 % {1 << _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}
                        ELSE {_HLL_WBITS + 1}
                             - length(bin(h48 % {1 << _HLL_WBITS})) END) AS m
        FROM hashed
        GROUP BY lang, reg
    ),
    summed AS (
        SELECT lang,
               CAST(SUM(1::BIGINT << ({_HLL_WBITS + 1} - m)) AS BIGINT)
                   + ({_HLL_M} - COUNT(*)) * {1 << (_HLL_WBITS + 1)} AS s_scaled,
               {_HLL_M} - COUNT(*) AS empty_regs
        FROM regs
        GROUP BY lang
    ),
    exact AS (
        SELECT lang, COUNT(DISTINCT tok) AS exact_vocab FROM toks GROUP BY lang
    )
    SELECT s.lang,
           s.s_scaled,
           CAST(s.empty_regs AS BIGINT) AS empty_regs,
           CAST(round(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}
                      * {float(1 << (_HLL_WBITS + 1))} / s.s_scaled)
                AS BIGINT) AS hll_estimate,
           CAST(e.exact_vocab AS BIGINT) AS exact_vocab
    FROM summed s JOIN exact e ON s.lang = e.lang
    ORDER BY s.lang
    """,
)
def q_hll_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language distinct-vocabulary HyperLogLog, verified vs exact.

    Sketch: 48-bit md5 hash -> top 10 bits pick one of 1024 registers,
    rho = leading-zero count of the low 38 bits + 1, register keeps
    MAX(rho). The register table is the whole sketch state (<= 1024
    rows per language), so at 100 TB the plan is: map-side partial MAX
    per (lang, reg) inside each scan task, one kilobyte-scale shuffle,
    final MAX — the token stream itself is never shuffled. The raw
    estimator `alpha * m^2 / sum(2^-M)` is computed from the *exact*
    integer register sum (s_scaled = sum(2^-M) << 39) so both engines
    round the same double. `exact_vocab` is carried alongside as the
    honest-measurement column (same pattern as q_ann_recall); at real
    scale one would drop it and keep only the sketch branch.

    The low-cardinality linear-counting correction (E <= 2.5m with
    empty registers) is deliberately NOT folded into the estimate
    column: `empty_regs` is emitted so callers can apply
    `m * ln(m / empty_regs)` when E is small — keeping the registered
    column a single pure formula keeps the cross-engine compare exact.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok")
    )
    h48 = _hexval_col(F.md5(F.concat(F.lit("hll:"), F.col("tok"))), 12)
    w = F.col("h48") % (1 << _HLL_WBITS)
    rho = F.when(w == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w))
    )
    regs = (
        toks.select("lang", h48.alias("h48"))
        .select(
            "lang",
            F.shiftright(F.col("h48"), _HLL_WBITS).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("lang", "reg")
        .agg(F.max("rho").alias("m"))
    )
    summed = regs.groupBy("lang").agg(
        (
            # shiftleft's Python wrapper takes only a literal shift;
            # the SQL form accepts a column expression.
            F.sum(F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - m)"))
            + (F.lit(_HLL_M) - F.count("*")) * (1 << (_HLL_WBITS + 1))
        )
        .cast("long")
        .alias("s_scaled"),
        (F.lit(_HLL_M) - F.count("*")).cast("long").alias("empty_regs"),
    )
    exact = (
        docs.select("lang", F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"))
        .groupBy("lang")
        .agg(F.countDistinct("tok").cast("long").alias("exact_vocab"))
    )
    est = F.round(
        F.lit(_HLL_ALPHA)
        * F.lit(_HLL_M * _HLL_M)
        * F.lit(float(1 << (_HLL_WBITS + 1)))
        / F.col("s_scaled")
    ).cast("long")
    return (
        summed.join(exact, "lang")
        .select("lang", "s_scaled", "empty_regs", est.alias("hll_estimate"), "exact_vocab")
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Count-min heavy hitters
# --------------------------------------------------------------------------

_CMS_D = 4  # hash rows
_CMS_W = 512  # counters per row


@query(
    "q_cms_heavy_hitters",
    oracle=f"""
    WITH {_TOKS_CTE},
    cells AS (
        SELECT r.r AS r,
               {_hexval_sql("md5(CAST(r.r AS VARCHAR) || ':' || tok)", 8)}
                   % {_CMS_W} AS col,
               COUNT(*) AS cnt
        FROM toks CROSS JOIN (SELECT unnest(range({_CMS_D})) AS r) r
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT tok, COUNT(*) AS exact_cnt FROM toks GROUP BY tok
    ),
    probe AS (
        SELECT tok, exact_cnt,
               row_number() OVER (ORDER BY exact_cnt DESC, tok) AS rk
        FROM exact QUALIFY rk <= 20
    ),
    est AS (
        SELECT p.tok, p.exact_cnt, p.rk, MIN(c.cnt) AS cms_est
        FROM probe p
        CROSS JOIN (SELECT unnest(range({_CMS_D})) AS r) h
        JOIN cells c
          ON c.r = h.r
         AND c.col = {_hexval_sql("md5(CAST(h.r AS VARCHAR) || ':' || p.tok)", 8)}
                     % {_CMS_W}
        GROUP BY p.tok, p.exact_cnt, p.rk
    )
    SELECT tok, CAST(exact_cnt AS BIGINT) AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - exact_cnt AS BIGINT) AS overcount
    FROM est
    ORDER BY exact_cnt DESC, tok
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4, w=512) probed at the exact top-20 tokens.

    Sketch build: each token occurrence increments d=4 cells (row r,
    col = md5(r:token) % 512); the cell table IS the sketch (<= 2048
    rows regardless of corpus size), built as one hash aggregate with
    map-side combine — at 100 TB each scan task emits at most 2048
    partial counters, so the shuffle is constant-size. Probe: the
    exact top-20 (the verification branch) looks up min over its 4
    cells via a broadcast join against the tiny cell table; the
    `overcount` column is the classic CMS one-sided error, visible
    directly. Production keeps only the sketch branch and probes
    candidate keys from a sample.

    The d-row fan-out uses an explicit 4-element array explode, not a
    crossJoin — the per-row multiplier is a literal array so the plan
    stays a single Generate inside the scan stage.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokens_col(F.lower(F.col("text")))).alias("tok"))

    def cms_col(r: Column, tok: Column) -> Column:
        return (
            _hexval_col(F.md5(F.concat(r.cast("string"), F.lit(":"), tok)), 8)
            % _CMS_W
        )

    rows = F.array(*[F.lit(i) for i in range(_CMS_D)])
    cells = (
        toks.select(F.col("tok"), F.explode(rows).alias("r"))
        .select("r", cms_col(F.col("r"), F.col("tok")).alias("col"))
        .groupBy("r", "col")
        .agg(F.count("*").alias("cnt"))
    )
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_cnt"))
    probe = (
        exact.orderBy(F.col("exact_cnt").desc(), F.col("tok"))
        .limit(20)
        .select("tok", "exact_cnt", F.explode(rows).alias("r"))
        .select(
            "tok", "exact_cnt", "r", cms_col(F.col("r"), F.col("tok")).alias("col")
        )
    )
    est = (
        probe.join(F.broadcast(cells), ["r", "col"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
    )
    return est.select(
        "tok",
        F.col("exact_cnt").cast("long").alias("exact_cnt"),
        F.col("cms_est").cast("long").alias("cms_est"),
        (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    ).orderBy(F.col("exact_cnt").desc(), "tok")


# --------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# --------------------------------------------------------------------------

_BLOOM_BITS = 4096
_BLOOM_K = 3


@query(
    "q_bloom_semijoin",
    oracle=f"""
    WITH build AS (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    ks AS (SELECT unnest(range({_BLOOM_K})) AS k),
    bits AS (
        SELECT DISTINCT
               {_hexval_sql(
                   "md5(CAST(k AS VARCHAR) || ':' || CAST(c_custkey AS VARCHAR))",
                   8,
               )} % {_BLOOM_BITS} AS bit
        FROM build CROSS JOIN ks
    ),
    probe AS (
        SELECT o.o_orderkey, o.o_custkey,
               {_hexval_sql(
                   "md5(CAST(k AS VARCHAR) || ':' || CAST(o_custkey AS VARCHAR))",
                   8,
               )} % {_BLOOM_BITS} AS bit
        FROM orders o CROSS JOIN ks
    ),
    passed AS (
        SELECT o_orderkey, o_custkey
        FROM probe JOIN bits USING (bit)
        GROUP BY o_orderkey, o_custkey
        HAVING COUNT(*) = {_BLOOM_K}
    ),
    truth AS (
        SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM build)
    )
    SELECT CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_probe,
           CAST((SELECT COUNT(*) FROM passed) AS BIGINT) AS n_bloom_pass,
           CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM passed) AS BIGINT)
               - CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_false_pos
    """,
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-filter for a semi-join, with measured FP count.

    Build side: BUILDING-segment customers hashed k=3 times into a
    4096-bit filter, kept as a distinct-bit relation (<= 4096 rows —
    broadcastable at ANY build cardinality, that is the point of the
    sketch). Probe side: every order computes its 3 bit positions and
    broadcast-joins the bit table; an order passes iff all 3 bits are
    set. The exact semi-join runs alongside to expose the false
    positives the filter admits (`n_false_pos`).

    100 TB shape: the probe table is scanned once, never shuffled —
    pass/fail is decided inside the scan stage against the broadcast
    bits. This is the manual analogue of Spark's runtime bloom-join
    pruning, sized here (m/n ~ 13 bits/key at sf0.01) for a ~2-5% FP
    rate. The fan-out-by-k explode multiplies the probe stream 3x
    inside the stage; production would pack the 4096 bits into 64
    BIGINT lanes and test membership with bitwise AND instead — same
    semantics, zero fan-out — at the cost of a less readable plan.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    build = customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ks = F.array(*[F.lit(i) for i in range(_BLOOM_K)])

    def bloom_bit(k: Column, key: Column) -> Column:
        return (
            _hexval_col(
                F.md5(F.concat(k.cast("string"), F.lit(":"), key.cast("string"))), 8
            )
            % _BLOOM_BITS
        )

    bits = (
        build.select(F.explode(ks).alias("k"), "c_custkey")
        .select(bloom_bit(F.col("k"), F.col("c_custkey")).alias("bit"))
        .distinct()
    )
    probe = orders.select(
        "o_orderkey", "o_custkey", F.explode(ks).alias("k")
    ).select(
        "o_orderkey",
        "o_custkey",
        bloom_bit(F.col("k"), F.col("o_custkey")).alias("bit"),
    )
    passed = (
        probe.join(F.broadcast(bits), "bit")
        .groupBy("o_orderkey", "o_custkey")
        .agg(F.count("*").alias("hits"))
        .filter(F.col("hits") == _BLOOM_K)
    )
    truth = orders.join(F.broadcast(build), orders.o_custkey == build.c_custkey, "semi")
    n_probe = orders.agg(F.count("*").cast("long").alias("n_probe"))
    n_pass = passed.agg(F.count("*").cast("long").alias("n_bloom_pass"))
    n_true = truth.agg(F.count("*").cast("long").alias("n_true"))
    return (
        n_probe.crossJoin(n_pass)
        .crossJoin(n_true)
        .select(
            "n_probe",
            "n_bloom_pass",
            "n_true",
            (F.col("n_bloom_pass") - F.col("n_true")).alias("n_false_pos"),
        )
    )


# --------------------------------------------------------------------------
# q_kmv_distinct — K-minimum-values (theta) sketch, per source + merged
# --------------------------------------------------------------------------

_KMV_K = 64
_KMV_DOM = 1 << 48  # h48 hash domain


@query(
    "q_kmv_distinct",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               unnest(list_filter(string_split(lower(text), ' '), t -> t <> ''))
                   AS tok
        FROM documents
    ),
    hashed AS (
        SELECT DISTINCT source,
               {_hexval_sql("md5('kmv:' || tok)", 12)} AS h48
        FROM toks
    ),
    ranked AS (
        SELECT source, h48,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h48) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n_exact
        FROM hashed
    ),
    per_src AS (
        SELECT source, CAST(MAX(n_exact) AS BIGINT) AS exact_distinct,
               CAST(MAX(h48) AS BIGINT) AS kth_h48,
               CAST(COUNT(*) AS BIGINT) AS sk_n
        FROM ranked WHERE rk <= {_KMV_K}
        GROUP BY source
    ),
    merged_hashes AS (SELECT DISTINCT h48 FROM hashed),
    merged_exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM merged_hashes
    ),
    merged_k AS (
        SELECT CAST(MAX(h48) AS BIGINT) AS kth_h48,
               CAST(COUNT(*) AS BIGINT) AS sk_n
        FROM (SELECT h48 FROM merged_hashes ORDER BY h48 LIMIT {_KMV_K})
    ),
    rows_out AS (
        SELECT source, exact_distinct, kth_h48, sk_n FROM per_src
        UNION ALL
        SELECT '(merged)', e.n, m.kth_h48, m.sk_n
        FROM merged_exact e CROSS JOIN merged_k m
    )
    SELECT source, exact_distinct,
           CASE WHEN sk_n < {_KMV_K} THEN exact_distinct
                ELSE ({_KMV_K} - 1) * {_KMV_DOM} // kth_h48 END AS kmv_est,
           CASE WHEN exact_distinct > 0 THEN
               10000 * abs((CASE WHEN sk_n < {_KMV_K} THEN exact_distinct
                    ELSE ({_KMV_K} - 1) * {_KMV_DOM} // kth_h48 END)
                    - exact_distinct) // exact_distinct
           ELSE 0 END AS abs_err_pct_e2
    FROM rows_out
    ORDER BY source
    """,
)
def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values / theta sketch (Bar-Yossef et al. 2002;
    Dasgupta et al. 2016 Theta framework) of per-source distinct
    vocabulary, PLUS the merged-union sketch across all sources — the
    property that makes KMV the warehouse workhorse: sketches merge by
    keeping the k smallest of the union, so per-partition /
    per-source sketches roll up without rescanning.

    Estimator: (k-1) / U_(k) with U_(k) = kth smallest hash / 2^48 —
    computed as exact integer ``(k-1)·2^48 DIV kth`` (engine-identical
    md5-derived 48-bit hashes, zero float ops). Sources with fewer
    than k distinct hashes report exactly (the sketch IS the set).

    Scale: the per-source k-smallest selection rides
    ``global_row_number`` (range-partitioned two-phase rank — one tiny
    count per partition to the driver, never a |source|-capped window
    sort); the merged tier selects k smallest from the UNION of
    per-source sketches (≤ k·|sources| rows, bounded) via
    TakeOrderedAndProject. Exact audits are partial-agg'd
    count-distincts. An engine would persist `kept` as the sketch
    table; re-ranking exact counts here keeps the audit honest.
    """
    from ..functions.prefix import global_row_number

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda t: t != ""
            )
        ).alias("tok"),
    )
    hashed = toks.select(
        "source",
        _hexval_col(F.md5(F.concat(F.lit("kmv:"), F.col("tok"))), 12).alias(
            "h48"
        ),
    ).distinct()
    g = global_row_number(hashed, ["source", "h48"], "grn")
    stats = g.groupBy("source").agg(
        F.min("grn").alias("t0"), F.count("*").cast("long").alias("n_exact")
    )
    kept = (
        g.join(F.broadcast(stats), "source")
        .withColumn("rk", F.col("grn") - F.col("t0") + 1)
        .filter(F.col("rk") <= _KMV_K)
    )
    per_src = kept.groupBy("source").agg(
        F.max("n_exact").cast("long").alias("exact_distinct"),
        F.max("h48").cast("long").alias("kth_h48"),
        F.count("*").cast("long").alias("sk_n"),
    )
    merged_hashes = hashed.select("h48").distinct()
    merged_exact = merged_hashes.agg(F.count("*").cast("long").alias("n"))
    merged_k = (
        merged_hashes.orderBy("h48")
        .limit(_KMV_K)
        .agg(
            F.max("h48").cast("long").alias("kth_h48"),
            F.count("*").cast("long").alias("sk_n"),
        )
    )
    merged_row = (
        merged_exact.crossJoin(F.broadcast(merged_k))
        .selectExpr(
            "'(merged)' AS source",
            "n AS exact_distinct",
            "kth_h48",
            "sk_n",
        )
    )
    est = (
        f"CASE WHEN sk_n < {_KMV_K} THEN exact_distinct"
        f" ELSE ({_KMV_K} - 1) * {_KMV_DOM}L DIV kth_h48 END"
    )
    return (
        per_src.select("source", "exact_distinct", "kth_h48", "sk_n")
        .unionAll(merged_row)
        .selectExpr(
            "source",
            "exact_distinct",
            f"{est} AS kmv_est",
            "CASE WHEN exact_distinct > 0 THEN"
            f" 10000 * abs(({est}) - exact_distinct) DIV exact_distinct"
            " ELSE 0L END AS abs_err_pct_e2",
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q_quantile_sketch — mergeable log-binned quantile histogram + exact audit
# --------------------------------------------------------------------------

#: Quantiles queried, in parts-per-million.
_QSK_QS = (500000, 900000, 990000)

#: Interpolated estimate inside the selected bin (engine-shared text):
#: est = lo + width * (r - cum_before) / cnt, rounded to integer cents.
_QSK_EST = (
    "CAST(round(CAST(lo AS DOUBLE) + CAST(width AS DOUBLE)"
    " * CAST(r - cum + cnt AS DOUBLE) / CAST(cnt AS DOUBLE)) AS BIGINT)"
)

#: Bin geometry from the bin id (engine-shared text; ids < 8 are the
#: exact small-value bins, ids >= 32 encode (L, sub) = (id DIV 8, id % 8)).
_QSK_LO = (
    "CASE WHEN bin_id < 8 THEN bin_id"
    " ELSE (8 + bin_id % 8) << ((bin_id >> 3) - 4) END"
)
_QSK_W = (
    "CASE WHEN bin_id < 8 THEN CAST(1 AS BIGINT)"
    " ELSE CAST(1 AS BIGINT) << ((bin_id >> 3) - 4) END"
)


@query(
    "q_quantile_sketch",
    oracle=f"""
    WITH c AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
    ),
    binned AS (
        SELECT CASE WHEN c < 8 THEN c
                    ELSE length(bin(c)) * 8
                         + ((c >> (length(bin(c)) - 4)) & 7) END AS bin_id
        FROM c
    ),
    bins AS (
        SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM binned GROUP BY bin_id
    ),
    tot AS (
        SELECT CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS n_bins
        FROM bins
    ),
    cumb AS (
        SELECT a.bin_id, a.cnt, CAST(SUM(b.cnt) AS BIGINT) AS cum
        FROM bins a JOIN bins b ON b.bin_id <= a.bin_id
        GROUP BY a.bin_id, a.cnt
    ),
    ranks AS (
        SELECT q_ppm, n, n_bins,
               (q_ppm * n + 999999) // 1000000 AS r
        FROM tot, (VALUES {", ".join(f"({q})" for q in _QSK_QS)}) AS qs(q_ppm)
    ),
    sel AS (
        SELECT r.q_ppm, r.n, r.n_bins, r.r,
               MIN(cb.bin_id) AS bin_id
        FROM ranks r JOIN cumb cb ON cb.cum >= r.r
        GROUP BY 1, 2, 3, 4
    ),
    geom AS (
        SELECT s.q_ppm, s.n, s.n_bins, s.r, cb.cnt, cb.cum,
               {_QSK_LO.replace("bin_id", "s.bin_id")} AS lo,
               {_QSK_W.replace("bin_id", "s.bin_id")} AS width
        FROM sel s JOIN cumb cb ON cb.bin_id = s.bin_id
    ),
    vals AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS w FROM c GROUP BY c),
    ecdf AS (
        SELECT c, w, CAST(SUM(w) OVER (ORDER BY c) AS BIGINT) AS cum
        FROM vals
    ),
    exact AS (
        SELECT r.q_ppm, CAST(MIN(e.c) AS BIGINT) AS exact_c
        FROM ranks r
        JOIN ecdf e ON e.cum >= r.r AND e.cum - e.w < r.r
        GROUP BY 1
    )
    SELECT g.q_ppm, g.n AS n_rows, g.n_bins,
           {_QSK_EST} AS est_c, x.exact_c,
           1000000 * abs(({_QSK_EST}) - x.exact_c) // x.exact_c AS err_ppm
    FROM geom g JOIN exact x ON x.q_ppm = g.q_ppm
    ORDER BY g.q_ppm
    """,
)
def q_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable log-binned quantile histogram (the DDSketch shape —
    Masson et al. 2019) over order totals, with an exact
    order-statistic audit: p50/p90/p99 estimated from a ~9%-relative-
    accuracy sketch of at most a few hundred bins, each estimate
    scored in ppm against the TRUE quantile.

    Binning is pure integer bit arithmetic — bin id = (bit-length L,
    top-3-bits-after-the-leader) for values >= 8, the value itself
    below — so the sketch is bit-identical across engines (no log2()
    float, whose libm rounding differs between JVM and C++ at bin
    boundaries). Counts merge with SUM: the sketch is an ordinary
    partial-aggregable groupBy, the property that lets per-partition /
    per-day sketches roll up without rescanning (the t-digest role,
    minus t-digest's merge-order nondeterminism).

    Quantile read-off: first bin whose cumulative count reaches rank
    r = ceil(q·n), linear interpolation inside the bin (shared
    formula). The exact tier reuses the distributed prefix-sum ECDF
    over distinct values (`functions/prefix.py` — q_weighted_median's
    machinery), so neither tier holds a data-scale buffer or runs a
    single-task window. rank arithmetic is int64 here; at 100 TB row
    counts (>10^12) the q_ppm·n product crosses 2^63 and would be
    computed in DECIMAL(38,0) with the identical plan.

    Scale: one scan bins the table (map-side combine to <=~500 bins);
    the cumulative pass is a bounded broadcast self-join; the audit's
    ECDF is two distributed phases with one scalar per partition on
    the driver.
    """
    from ..functions.prefix import global_running_sum

    orders = load_table(spark, sf_dir, "orders")
    c = orders.select(
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c")
    )
    bins = materialize(
        c.selectExpr(
            "CASE WHEN c < 8 THEN c ELSE length(bin(c)) * 8"
            " + (shiftright(c, length(bin(c)) - 4) & 7) END AS bin_id"
        )
        .groupBy("bin_id")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    tot = bins.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.count("*").cast("long").alias("n_bins"),
    )
    b = bins.select(F.col("bin_id").alias("bb"), F.col("cnt").alias("bc"))
    cumb = (
        bins.join(F.broadcast(b), F.col("bb") <= F.col("bin_id"))
        .groupBy("bin_id", "cnt")
        .agg(F.sum("bc").cast("long").alias("cum"))
    )
    ranks = tot.select(
        F.explode(F.array(*[F.lit(q) for q in _QSK_QS])).alias("q_ppm"),
        "n",
        "n_bins",
    ).selectExpr("q_ppm", "n", "n_bins", "(q_ppm * n + 999999) DIV 1000000 AS r")
    sel = (
        cumb.join(F.broadcast(ranks), F.col("cum") >= F.col("r"))
        .groupBy("q_ppm", "n", "n_bins", "r")
        .agg(F.min(F.struct("bin_id", "cnt", "cum")).alias("s"))
        .select("q_ppm", "n", "n_bins", "r", "s.bin_id", "s.cnt", "s.cum")
    )
    geom = sel.selectExpr(
        "q_ppm", "n", "n_bins", "r", "cnt", "cum",
        f"{_QSK_LO} AS lo",
        f"{_QSK_W} AS width",
    )
    vals = c.groupBy("c").agg(F.count("*").cast("long").alias("w"))
    ecdf = global_running_sum(vals, "c", "w", "cum")
    exact = (
        ecdf.join(
            F.broadcast(ranks.select("q_ppm", "r")),
            (F.col("cum") >= F.col("r"))
            & (F.col("cum") - F.col("w") < F.col("r")),
        )
        .groupBy("q_ppm")
        .agg(F.min("c").cast("long").alias("exact_c"))
    )
    return (
        geom.join(F.broadcast(exact), "q_ppm")
        .selectExpr(
            "q_ppm",
            "n AS n_rows",
            "n_bins",
            f"{_QSK_EST} AS est_c",
            "exact_c",
            f"1000000 * abs(({_QSK_EST}) - exact_c) DIV exact_c AS err_ppm",
        )
        .orderBy("q_ppm")
    )


# --------------------------------------------------------------------------
# q_rolling_distinct — 7-day sliding distinct users via mergeable HLL
# --------------------------------------------------------------------------

_RD_DAYS = 7


def _rolling_distinct_oracle_sql() -> str:
    """Shared oracle for the batch and streaming sliding-HLL twins
    (the streamed register table equals the batch build bit-for-bit,
    so one SQL text verifies both paths)."""
    return f"""
    WITH ud AS (
        SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ),
    hashed AS (
        SELECT day,
               {_hexval_sql("md5('hll:' || CAST(user_id AS VARCHAR))", 12)}
                   AS h48
        FROM ud
    ),
    regs AS (
        SELECT day,
               h48 // {1 << _HLL_WBITS} AS reg,
               MAX(CASE WHEN h48 % {1 << _HLL_WBITS} = 0 THEN {_HLL_WBITS + 1}
                        ELSE {_HLL_WBITS + 1}
                             - length(bin(h48 % {1 << _HLL_WBITS})) END) AS m
        FROM hashed GROUP BY day, reg
    ),
    days AS (SELECT DISTINCT day FROM ud),
    win AS (
        SELECT a.day AS anchor, b.day AS day
        FROM days a JOIN days b
          ON b.day BETWEEN a.day - {_RD_DAYS - 1} AND a.day
    ),
    merged AS (
        SELECT w.anchor, r.reg, MAX(r.m) AS m
        FROM regs r JOIN win w ON w.day = r.day
        GROUP BY w.anchor, r.reg
    ),
    summed AS (
        SELECT anchor,
               CAST(SUM(1::BIGINT << ({_HLL_WBITS + 1} - m)) AS BIGINT)
                   + ({_HLL_M} - COUNT(*)) * {1 << (_HLL_WBITS + 1)}
                   AS s_scaled
        FROM merged GROUP BY anchor
    ),
    exact AS (
        SELECT w.anchor, CAST(COUNT(DISTINCT u.user_id) AS BIGINT)
                   AS exact_users
        FROM ud u JOIN win w ON w.day = u.day
        GROUP BY w.anchor
    )
    SELECT s.anchor AS day,
           CAST(round(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M * _HLL_M}
                      * {float(1 << (_HLL_WBITS + 1))} / s.s_scaled)
                AS BIGINT) AS hll_users,
           e.exact_users
    FROM summed s JOIN exact e ON e.anchor = s.anchor
    ORDER BY day
    """


@query("q_rolling_distinct", oracle=_rolling_distinct_oracle_sql())
def q_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding
    COUNT(DISTINCT) every engagement dashboard needs and no engine
    can compute exactly at scale without re-deduplicating each
    window from scratch. The scale answer is HLL MERGEABILITY:
    build the 1024-register sketch ONCE per day, then merge each
    day's registers across its 7-day window with MAX — registers
    merge, raw users never re-shuffle.

    Same register arithmetic as q_hll_vocab (md5-48, integer rho,
    exact integer s_scaled; one shared float estimate text), so the
    sketch is bit-identical cross-engine. The window fan-out is a
    calendar-bounded (anchor, day) mapping (7·|days| rows) joined to
    the register table — never to the event stream. The exact
    distinct count per window joins alongside as the honest audit
    column; at 100 TB one keeps only the sketch branch (the audit
    re-deduplicates each window, which is exactly the cost the
    sketch exists to avoid — documented, not hidden).

    Scale: events collapse to distinct (day, user) once (one
    shuffle), registers are ≤1024/day, the merge shuffles
    7·|days|·1024 register rows regardless of user volume.
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    h48 = _hexval_col(
        F.md5(F.concat(F.lit("hll:"), F.col("user_id").cast("string"))), 12
    )
    w_ = F.col("h48") % (1 << _HLL_WBITS)
    rho = F.when(w_ == 0, F.lit(_HLL_WBITS + 1)).otherwise(
        F.lit(_HLL_WBITS + 1) - F.length(F.bin(w_))
    )
    regs = materialize(
        ud.select("day", h48.alias("h48"))
        .select(
            "day",
            F.shiftright(F.col("h48"), _HLL_WBITS).alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("day", "reg")
        .agg(F.max("rho").alias("m"))
    )
    return _rd_read_off(regs, ud)


def _rd_read_off(regs: DataFrame, ud: DataFrame) -> DataFrame:
    """Sliding-window merge + estimate + exact audit over a day-level
    HLL register table (shared by the batch and streaming twins)."""
    F_ = F
    days = regs.select("day").distinct()
    win = (
        days.select(F_.col("day").alias("anchor"))
        .join(
            F_.broadcast(days),
            (F_.col("day") >= F_.expr(f"anchor - INTERVAL {_RD_DAYS - 1} DAY"))
            & (F_.col("day") <= F_.col("anchor")),
        )
    )
    merged = (
        regs.join(F_.broadcast(win), "day")
        .groupBy("anchor", "reg")
        .agg(F_.max("m").alias("m"))
    )
    summed = merged.groupBy("anchor").agg(
        (
            F_.sum(F_.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_WBITS + 1} - m)"))
            + (F_.lit(_HLL_M) - F_.count("*")) * (1 << (_HLL_WBITS + 1))
        )
        .cast("long")
        .alias("s_scaled")
    )
    exact = (
        ud.join(F_.broadcast(win), "day")
        .groupBy("anchor")
        .agg(F_.countDistinct("user_id").cast("long").alias("exact_users"))
    )
    est = F_.round(
        F_.lit(_HLL_ALPHA)
        * F_.lit(_HLL_M * _HLL_M)
        * F_.lit(float(1 << (_HLL_WBITS + 1)))
        / F_.col("s_scaled")
    ).cast("long")
    return (
        summed.join(exact, "anchor")
        .select(
            F_.col("anchor").alias("day"),
            est.alias("hll_users"),
            "exact_users",
        )
        .orderBy("day")
    )
