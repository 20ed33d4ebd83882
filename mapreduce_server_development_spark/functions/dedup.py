"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design notes for 100 TB:
- Exact dedup is a hash-groupBy on md5(text) — one shuffle keyed by the
  hash, which is uniformly distributed (no skew).
- N-gram Jaccard prunes shingles whose document frequency exceeds a cap
  before the self-join: without the cap, one ubiquitous shingle makes
  the candidate join quadratic in its doc-frequency. With it, the join
  fan-out per shingle is bounded by ``max_doc_freq``. The cap is part of
  the operator's semantics (Jaccard over the pruned shingle universe)
  and is mirrored in the oracle.
- MinHash banding turns near-dup detection into an equi-join on band
  buckets: candidate generation never compares all pairs. The signature
  computation is a single explode + groupBy (map-side partial min), and
  candidates are verified with exact Jaccard before being reported.
- SimHash is 64-bit (2 bits per md5 hex digit), blocked on its four
  16-bit bands (pigeonhole: hamming <= 3 implies at least one band
  matches exactly), so candidate generation is four equi-joins —
  never a cross join, and band values are uniform enough not to skew.
- All hashing is md5-based string arithmetic so the DuckDB oracle can
  reproduce values bit-for-bit; integer vote counts avoid any float.

Reference parity note: the reference (a MapReduce framework,
/root/reference/mapreduce/) has no dedup surface; these operators are
the additive LLM-pipeline plane mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import materialize
from .text import tokens_col, word_shingles

#: Hex-digit characters, used to decode md5 nibbles via position lookup.
HEX = "0123456789abcdef"


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical texts by content hash; keep the minimum id as
    canonical. Returns (text_hash, canonical_doc, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("canonical_doc"), F.count("*").alias("n_copies"))
    )


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct word-n-gram shingles per document: (doc, shingle).

    Tokens are materialized as a projection output before the shingle
    ``transform``: an expression referenced inside a lambda re-evaluates
    PER ELEMENT in interpreted mode, so shingling directly over
    ``tokens_col(...)`` would re-tokenize the document once per token —
    quadratic in document length.
    """
    toks = df.select(
        F.col(id_col).alias("doc"),
        tokens_col(F.lower(F.col(text_col))).alias("toks"),
    )
    return (
        toks.select("doc", F.explode(word_shingles(F.col("toks"), n)).alias("shingle"))
        .distinct()
    )


def _pruned_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int, max_doc_freq: int | None
) -> DataFrame:
    """Distinct (doc, shingle) with ubiquitous shingles dropped.

    A shingle appearing in more than ``max_doc_freq`` documents
    contributes O(df^2) candidate pairs while carrying almost no
    signal; pruning bounds the self-join fan-out (the 100 TB guard).
    """
    sh = _doc_shingles(df, text_col, id_col, n)
    if max_doc_freq is None:
        return sh
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df_"))
        .filter(F.col("df_") > max_doc_freq)
        .select("shingle")
    )
    # Broadcast anti-join: the hot-shingle list is tiny by construction.
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.2,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard similarity.

    Candidate pairs are documents sharing at least one (non-ubiquitous)
    shingle — an equi-join on the shingle. Jaccard is exact integer
    arithmetic over the pruned shingle universe:
    |A∩B| / (|A| + |B| - |A∩B|).
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    # Deliberately NOT persisted: the pruned-shingle subtree feeds the
    # hot-list aggregate, both self-join sides, and the sizes aggregate,
    # but all four consume the SAME exchange and ReuseExchange shares it.
    # A/B at sf0.1 (round 5, BENCH_DETAIL.json "shingle_persist_ab"): an
    # explicit MEMORY_AND_DISK persist was equal-or-slower on every
    # consumer query (q_dup_clusters_star +10%, q_dedup_keep_best +8%)
    # — same conclusion as the round-4 simhash persist revert.
    sh = _pruned_shingles(df, text_col, id_col, n, max_doc_freq)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.9,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """DIRECTED near-dup pairs by shingle containment
    c(sub→sup) = |sub ∩ sup| / |sub| (Broder 1997's *containment*, the
    asymmetric sibling of resemblance/Jaccard).

    Jaccard misses size-mismatched duplication by construction: a
    paragraph quoted whole inside a 100x-larger document has
    |A∩B|/|A∪B| ≈ 1%, but containment ≈ 1. This is the operator that
    catches quote/subset/boilerplate-embedding duplication in a
    training corpus.

    Same candidate generation as ngram_jaccard_pairs — an equi-join on
    non-ubiquitous shingles (hot shingles dropped by the broadcast
    anti-join, so per-shingle fan-out is bounded by ``max_doc_freq``)
    — but the pair filter divides by the SUBSET side's size only.
    Returns (doc_sub, doc_sup, n_sub, n_inter, containment), both
    directions when both clear the threshold.
    """
    sh = _pruned_shingles(df, text_col, id_col, n, max_doc_freq)
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") != F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_sub"), F.col("b.doc").alias("doc_sup"))
        .agg(F.count("*").alias("n_inter"))
    )
    ssub = sizes.select(F.col("doc").alias("doc_sub"), F.col("n_sh").alias("n_sub"))
    cont = F.round(F.col("n_inter").cast("double") / F.col("n_sub"), 4)
    return (
        inter.join(ssub, "doc_sub")
        .select(
            "doc_sub",
            "doc_sup",
            F.col("n_sub").cast("long").alias("n_sub"),
            F.col("n_inter").cast("long").alias("n_inter"),
            cont.alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """MinHash signatures: for each seed, min over md5(seed '#' shingle).

    The lexicographic minimum of md5 hex strings is a valid min-hash
    family and is identical across engines. Returns (doc, seed, h).
    ``shingles`` lets the caller pass a precomputed (persisted)
    (doc, shingle) relation so it isn't recomputed.
    """
    sh = shingles if shingles is not None else _doc_shingles(df, text_col, id_col, shingle_n)
    seeds = F.explode(F.array(*[F.lit(i) for i in range(num_hashes)])).alias("seed")
    return (
        sh.select("doc", "shingle", seeds)
        .select(
            "doc",
            "seed",
            F.md5(F.concat(F.col("seed").cast("string"), F.lit("#"), F.col("shingle"))).alias("h"),
        )
        .groupBy("doc", "seed")
        .agg(F.min("h").alias("h"))
    )


def minhash_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH banding over MinHash signatures -> candidate pairs.

    Bands hash the ordered concatenation of their signature rows; docs
    sharing any band bucket become a candidate pair. With 16 hashes in
    8 bands of 2, a pair at Jaccard 0.5 is caught with prob
    1-(1-0.25)^8 ≈ 0.90. Returns (doc_a, doc_b, n_bands) with
    doc_a < doc_b.
    """
    sig = minhash_signatures(df, text_col, id_col, num_hashes, shingle_n, shingles)
    band = F.floor(F.col("seed") / rows_per_band).alias("band")
    # Order rows inside a band by seed before hashing the concatenation:
    # array_sort on (seed, h) structs is deterministic.
    bands = (
        sig.select("doc", band, F.struct("seed", "h").alias("sh"))
        .groupBy("doc", "band")
        .agg(
            F.md5(
                F.array_join(
                    F.transform(F.array_sort(F.collect_list("sh")), lambda s: s.h), ""
                )
            ).alias("bh")
        )
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
        .agg(F.count("*").alias("n_bands"))
    )


def minhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash-LSH near-duplicates *verified* by exact Jaccard.

    LSH proposes candidates (cheap, bounded); the exact word-shingle
    Jaccard over the candidate pairs only (never all pairs) filters
    false positives. Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.

    The (doc, shingle) relation feeds FOUR consumers (the signature
    computation, the sizes aggregate, and both exact-verify join
    sides), so it is materialized once with an EAGER localCheckpoint:
    at 100 TB the tokenize+shingle+distinct pass over the corpus is
    the dominant cost and must not run twice. r11 used a lazy
    MEMORY_AND_DISK persist here, but lazy cache lookups were measured
    unreliable under the AQE + DSv2(noop)-write path (the tokenizer
    _merge_rounds root cause, OPTIMIZATION_r11.md change 9): the r11
    full sweeps showed exactly this family regressing while solo probes
    read fine — an intermittent sweep-context cache miss recomputing
    the shingle pass per consumer (r11 VERDICT "What's wrong" #1). The
    eager checkpoint computes the subtree exactly once, always.
    Lifecycle: blocks are reclaimed between queries via
    session.release_checkpoints; executor-loss semantics at cluster
    scale documented in SCALE.md "Local checkpoints".
    """
    sh = materialize(_doc_shingles(df, text_col, id_col, shingle_n))
    cand = minhash_band_pairs(
        df, text_col, id_col, num_hashes, rows_per_band, shingle_n, shingles=sh
    ).select("doc_a", "doc_b")
    sizes = sh.groupBy("doc").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _nibble(h, d: int):
    """Value 0..15 of hex digit ``d`` (0-based) of md5-hex column ``h``.

    Decoded by position lookup in the hex alphabet — reproducible with
    ``strpos`` in DuckDB and ``conv`` here.
    """
    return F.conv(F.substring(h, d + 1, 1), 16, 10).cast("int")


def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over distinct tokens, pure integer arithmetic.

    Bit b (0..63) of token t = (nibble(b//2) of md5(t)) >> (b%2) & 1;
    the document bit is the sign of the sum of (2*bit - 1) votes.
    The signature is returned as four 16-bit band values b0..b3
    (band k covers bits 16k..16k+15) — kept separate so the banded
    blocking join needs no 64-bit overflow handling in any engine.
    Returns (doc, b0, b1, b2, b3).
    """
    toks = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias("tok"),
        )
        .distinct()
        .withColumn("h", F.md5("tok"))
    )
    votes = [
        F.sum((F.shiftright(_nibble(F.col("h"), b // 2), b % 2) % 2) * 2 - 1).alias(f"v{b}")
        for b in range(64)
    ]
    agg = toks.groupBy("doc").agg(*votes)
    band_cols = []
    for k in range(4):
        band = sum(
            (
                F.when(F.col(f"v{16 * k + j}") > 0, 1).otherwise(0) * (1 << j)
                for j in range(16)
            ),
            F.lit(0),
        )
        band_cols.append(band.alias(f"b{k}"))
    return agg.select("doc", *band_cols)


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via SimHash 4-band blocking.

    ``max_hamming`` must be <= 3: with 4 bands over 64 bits the
    pigeonhole only guarantees a shared band for hamming <= 3, so a
    larger threshold would silently lose recall (rejected below
    instead).

    Joins on any one of the four 16-bit bands matching exactly
    (pigeonhole: hamming <= 3 over 64 bits implies >= 1 identical
    band), then filters by exact hamming distance via bit_count(xor)
    summed over bands. Four hash equi-joins + distinct — never a cross
    join. Returns (doc_a, doc_b, hamming) with doc_a < doc_b, distinct.

    100 TB guard: a 16-bit band has 65,536 values, so at corpus scale
    each band bucket holds ~n/65,536 docs and the intra-bucket join is
    quadratic in that population. Band values whose population exceeds
    ``max_bucket_size`` are pruned from THAT band's join (broadcast
    anti-join, same pattern as the hot-shingle prune). The library
    default is ``None`` (exhaustive — no silent recall change for
    direct callers); the registered queries pass 1000 explicitly, the
    value to use at corpus scale. Recall tradeoff:
    a true pair is lost only if EVERY band that matches between the two
    docs is hot — with 4 bands and hamming <= 3 at least one band
    matches exactly, so the pair survives unless all its matching bands
    exceed the cap (hot band values are dominated by boilerplate
    signatures where near-dup pairs carry little signal anyway).

    Join shape (round 5): the four per-band equi-joins + union were
    replaced by ONE self-join on the composite key (band, value) over
    the band-exploded signature relation — identical candidate set,
    measured 32% faster at sf0.1 (5.9s -> 4.0s warm) because Spark
    runs one join stage + one distinct instead of four joins whose
    signature subtree ReuseExchange had to stitch together. The
    explode multiplies the signature relation 4x, but those rows are
    16 bytes of key + the 4 band columns — cheaper than three extra
    join stages.
    """
    if max_hamming > 3:
        raise ValueError(
            "simhash_near_pairs: 4-band blocking only guarantees recall "
            "for max_hamming <= 3 (pigeonhole over 64 bits)"
        )
    s = simhash64(df, text_col, id_col)
    bands = F.array(
        *[
            F.struct(
                F.lit(k).alias("band"), F.col(f"b{k}").cast("long").alias("val")
            )
            for k in range(4)
        ]
    )
    e = s.select(
        "doc", "b0", "b1", "b2", "b3", F.explode(bands).alias("bv")
    ).select(
        "doc",
        "b0",
        "b1",
        "b2",
        "b3",
        F.col("bv.band").alias("band"),
        F.col("bv.val").alias("val"),
    )
    if max_bucket_size is not None:
        hot = (
            e.groupBy("band", "val")
            .agg(F.count("*").alias("n_"))
            .filter(F.col("n_") > max_bucket_size)
            .select("band", "val")
        )
        # Hot-value list is <= 4 * 65,536 rows by construction: broadcast.
        e = e.join(F.broadcast(hot), ["band", "val"], "left_anti")
    a, b = e.alias("a"), e.alias("b")
    ham = sum(
        (
            F.bit_count(
                F.col(f"a.b{k}").cast("long").bitwiseXOR(F.col(f"b.b{k}").cast("long"))
            )
            for k in range(4)
        ),
        F.lit(0),
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Connected components by min-label propagation: every node ends up
    labelled with the smallest node id reachable from it.

    ``nodes`` has one column ``node``; ``edges`` has ``a``/``b``
    (undirected — symmetrized here). Returns ``(node, component)``.

    This is the cluster step of near-dup dedup: pairs from
    minhash/simhash/jaccard become edges, and keep-one-per-component is
    the dedup policy. Iterative plan: each round joins the symmetric
    edge list against current labels and takes the per-node MIN — two
    shuffles per round, O(component diameter) rounds. Labels are
    localCheckpoint()ed each round so the plan does not grow with the
    iteration count (the classic iterative-DataFrame lineage explosion),
    and the loop exits early via a driver-side scalar count the round
    nothing improves (labels only ever decrease, so ``new < old`` is a
    complete change test). At 100 TB scale the same loop holds (text
    near-dup graphs have tiny diameters — chains of template variants);
    for adversarial long-chain graphs the alternating large-star /
    small-star variant (O(log n) rounds) is the drop-in upgrade.
    """
    sym = edges.select("a", "b").union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    sym = materialize(sym)
    labels = materialize(nodes.select(
        F.col("node"), F.col("node").alias("component")
    ))
    for _ in range(max_iter):
        prop = sym.join(labels, sym.a == labels.node).select(
            F.col("b").alias("node"), F.col("component")
        )
        new_labels = materialize(
            labels.union(prop)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        improved = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") < F.col("o.component"))
            .count()
        )
        labels = new_labels
        if improved == 0:
            break
    return labels


def deletion_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    len_col: str = "n_chars",
) -> DataFrame:
    """Exact-recall near-dup pairs at edit distance <= 1 via
    deletion-neighborhood blocking (the SymSpell scheme, public
    knowledge; no reference counterpart).

    Signatures of a string s are md5(s) plus md5 of each single-char
    deletion of s. Completeness (no false dismissal): if ed(a, b) <= 1
    then a = b (full-string sigs match), b is a deletion of a (b's
    full-string sig ∈ a's deletion sigs), the symmetric insertion
    case, or a and b differ by one substitution (deleting the
    substituted position from each yields the same string). Candidates
    therefore share >= 1 signature; exact banded levenshtein verifies.

    Scale posture: |s|+1 signatures per document — the signature
    relation is O(total corpus chars), same order as the shingle
    relations, and the join key (md5) is uniform. Exact-duplicate
    clusters share their full-string signature, so pair output is
    quadratic in copy-group size — run exact dedup first (the standard
    composition) when copy groups can be large. Unlike the
    (lang, len-bucket) blocking of ``edit_distance_pairs``, recall
    here is exact with NO hot-bucket prune needed: a signature bucket
    is a set of strings one deletion apart, bounded by near-dup
    density, not corpus size.

    Returns (doc_a, doc_b, dist) with doc_a < doc_b, dist in {0, 1}.
    """
    d = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.col(len_col).alias("l"),
    )
    # md5(s) plus md5(s with char i+1 deleted) for i in 0..l-1.
    one = F.lit(1)
    dels = F.transform(
        F.sequence(F.lit(0), F.col("l") - one),
        lambda i: F.md5(
            F.concat(
                F.substr(F.col("txt"), one, i),
                F.substr(F.col("txt"), i + F.lit(2)),
            )
        ),
    )
    # Spark's sequence(0, -1) would DESCEND for an empty string — guard.
    dels = F.when(F.col("l") > 0, dels).otherwise(
        F.array().cast("array<string>")
    )
    sigs = d.select(
        "id", F.explode(F.array_prepend(dels, F.md5("txt"))).alias("h")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    ta = d.select(F.col("id").alias("doc_a"), F.col("txt").alias("txt_a"))
    tb = d.select(F.col("id").alias("doc_b"), F.col("txt").alias("txt_b"))
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), 1).cast("int")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", dist.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 1))
    )


def prefix_suffix_typo_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    len_col: str = "n_chars",
) -> DataFrame:
    """Exact-recall pairs at edit distance <= 1 via the PassJoin
    pigeonhole at tau=1: a single edit leaves either the first
    k = floor(l/2) characters or the last k characters of both strings
    untouched AS STRINGS (an insert/delete shifts positions, but the
    tail window reads unshifted characters whenever the edit lies
    before it, and k + k <= min(l, l') guarantees every edit position
    falls in one case). Blocking therefore joins on
    ``md5(prefix_k)`` / ``md5(suffix_k)``.

    Each doc emits signatures for k in {l div 2, (l-1) div 2} — two
    parities, so a pair whose lengths differ by one still shares an
    announced k — plus a single 'tiny' bucket for l <= 3 (where k
    would be 0 and an empty-prefix hash would bucket the whole
    corpus). O(len) bytes hashed per doc, vs O(len^2) for the
    SymSpell deletion neighborhood (``deletion_neighborhood_pairs``,
    which remains the right tool at word granularity where lengths
    are tiny). Signature buckets are sets of docs sharing a
    half-document — bounded by near-dup density, not corpus size;
    exact-duplicate groups are quadratic as usual (dedup-first).

    Returns (doc_a, doc_b, dist) with doc_a < doc_b, dist in {0, 1}.
    """
    d = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.col(len_col).alias("l"),
    )
    entries = []
    for k in (F.expr("l div 2"), F.expr("(l - 1) div 2")):
        pref = F.md5(F.substr(F.col("txt"), F.lit(1), k))
        suf = F.md5(F.substr(F.col("txt"), F.col("l") - k + 1, k))
        entries.append(
            F.when(k >= 1, F.concat(F.lit("p:"), k.cast("string"), F.lit(":"), pref))
        )
        entries.append(
            F.when(k >= 1, F.concat(F.lit("s:"), k.cast("string"), F.lit(":"), suf))
        )
    entries.append(F.when(F.col("l") <= 3, F.lit("t")))
    sigs = (
        d.select("id", F.explode(F.array(*entries)).alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    cand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    ta = d.select(
        F.col("id").alias("doc_a"), F.col("txt").alias("txt_a"), F.col("l").alias("l_a")
    )
    tb = d.select(
        F.col("id").alias("doc_b"), F.col("txt").alias("txt_b"), F.col("l").alias("l_b")
    )
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), 1).cast("int")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.abs(F.col("l_a") - F.col("l_b")) <= 1)  # cheap pre-DP gate
        .select("doc_a", "doc_b", dist.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= 1))
    )


def passjoin_pairs(
    df: DataFrame,
    tau: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    len_col: str = "n_chars",
) -> DataFrame:
    """Exact-recall near-dup pairs at edit distance <= tau via PassJoin
    segment blocking (Li/Deng/Feng, "PassJoin: A Partition-based Method
    for Similarity Joins", public knowledge; generalizes the tau=1
    pigeonhole of ``prefix_suffix_typo_pairs`` to arbitrary tau).

    Index side: each string of length l is evenly partitioned into
    tau+1 segments; pigeonhole guarantees that if ed(r, s) <= tau then
    at least one segment of s matches a substring of r exactly. Probe
    side: for each candidate index length l2 in [l - tau, l + tau] and
    segment i, r emits md5 of its substrings at the multi-match-aware
    window of start positions

        q in [max(p_i - i, p_i + delta - (tau - i)),
              min(p_i + i, p_i + delta + (tau - i))],  delta = |r| - l2

    (at most i edits can precede segment i and at most tau - i follow,
    bounding the front- and end-anchored shifts). Candidates sharing a
    (segment, length, hash) signature are verified with bounded
    levenshtein — recall is EXACT: no length-bucket prune, no hot-cap
    recall loss, which makes this the upgrade path over
    ``edit_distance_pairs`` when the corpus outgrows its capped
    (lang, len-bucket) blocking (SCALE.md).

    Cost: tau+1 index signatures and O(tau^2) probe signatures per doc
    per candidate length — O(len)-bytes hashed like the tau=1 path,
    signatures multiply by ~(2tau+1)(tau+1) so keep tau small (<= 4);
    the banded ``edit_distance_pairs`` remains the tool for wide
    thresholds like tau=16. Segment buckets are docs sharing an exact
    substring at a pinned position — bounded by near-dup density, not
    corpus size (exact-duplicate groups quadratic as usual: dedup
    first).

    Returns (doc_a, doc_b, dist) with doc_a < doc_b, dist in [0, tau].
    """
    k = tau + 1
    d = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.col(len_col).alias("l"),
    )
    # -- index side: the tau+1 segments of this string ------------------
    ibase, irem = f"(l div {k})", f"(l % {k})"
    ili = f"({ibase} + if(i >= {k} - {irem}, 1, 0))"
    ipi = f"(i * {ibase} + greatest(0, i - ({k} - {irem})))"
    index_sigs = (
        f"transform(sequence(0, {tau}), i -> concat("
        f"cast(i as string), ':', cast(l as string), ':', "
        f"md5(substring(txt, {ipi} + 1, {ili}))))"
    )
    # -- probe side: substrings matching any segment of any length l2
    #    within tau of |r|, at the multi-match-aware positions ----------
    base, rem = f"(l2 div {k})", f"(l2 % {k})"
    li = f"({base} + if(i >= {k} - {rem}, 1, 0))"
    pi = f"(i * {base} + greatest(0, i - ({k} - {rem})))"
    delta = "(l - l2)"
    lo = f"greatest(0, {pi} - i, {pi} + {delta} - ({tau} - i))"
    hi = f"least(l - {li}, {pi} + i, {pi} + {delta} + ({tau} - i))"
    # sequence() DESCENDS when hi < lo (same gotcha as the deletion
    # neighborhood) — guard with an empty array.
    pos = f"if({hi} >= {lo}, sequence({lo}, {hi}), array())"
    probe_sigs = (
        f"array_distinct(flatten(transform("
        f"sequence(greatest(l - {tau}, 0), l + {tau}), l2 -> "
        f"flatten(transform(sequence(0, {tau}), i -> "
        f"transform({pos}, q -> concat("
        f"cast(i as string), ':', cast(l2 as string), ':', "
        f"md5(substring(txt, q + 1, {li})))))))))"
    )
    idx = d.select("id", F.explode(F.expr(index_sigs)).alias("h")).distinct()
    prb = d.select("id", F.explode(F.expr(probe_sigs)).alias("h")).distinct()
    cand = (
        prb.alias("a")
        .join(idx.alias("b"), (F.col("a.h") == F.col("b.h")) & (F.col("a.id") != F.col("b.id")))
        .select(
            F.least("a.id", "b.id").alias("doc_a"),
            F.greatest("a.id", "b.id").alias("doc_b"),
        )
        .distinct()
    )
    ta = d.select(
        F.col("id").alias("doc_a"), F.col("txt").alias("txt_a"), F.col("l").alias("l_a")
    )
    tb = d.select(
        F.col("id").alias("doc_b"), F.col("txt").alias("txt_b"), F.col("l").alias("l_b")
    )
    dist = F.levenshtein(F.col("txt_a"), F.col("txt_b"), tau).cast("int")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.abs(F.col("l_a") - F.col("l_b")) <= tau)  # cheap pre-DP gate
        .select("doc_a", "doc_b", dist.alias("dist"))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= tau))
    )


def connected_components_star(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 30
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction — the O(log n)-round algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14), public
    domain knowledge; no reference counterpart (the reference has no
    graph surface).

    Same contract as ``connected_components``: ``nodes(node)``,
    ``edges(a, b)`` undirected → ``(node, component)`` with component =
    min reachable id. Min-label propagation needs O(diameter) rounds —
    fine for near-dup graphs (tiny diameters), quadratic-ish wall clock
    on adversarial long chains. Star contraction halves tree heights
    every round regardless of shape:

    - large-star(u): connect every STRICTLY LARGER neighbor v > u to
      m(u) = min of u's closed neighborhood;
    - small-star(u): connect every neighbor v <= u to m(u).

    Each half-step is one groupBy (closed-neighborhood min) + one join
    — two shuffles, same per-round cost as one label-propagation round.
    Edge sets are localCheckpoint()ed per round (lineage control) and
    convergence is a driver-side scalar: the canonical (min,max) edge
    multiset is compared by (count, hash-sum) checksum, which is stable
    exactly at the star fixpoint.
    """
    sym = materialize(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .union(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def half_step(e: DataFrame, large: bool) -> DataFrame:
        # m(u) = min over the closed neighborhood Γ(u) ∪ {u}.
        m = e.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = (
            e.join(m, "u")
            .filter(cond)
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        if not large:
            # Small-star additionally links u itself to m(u) — without
            # this a fully-formed star would emit only (m, m) self-loops
            # and the edge set would collapse to empty.
            out = out.union(m.select(F.col("u"), F.col("m").alias("v")))
        out = out.filter(F.col("u") != F.col("v"))
        # Re-symmetrize: the emitted (v, m) links are undirected edges.
        return (
            out.union(out.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .distinct()
        )

    def checksum(e: DataFrame) -> tuple:
        row = (
            e.filter(F.col("u") < F.col("v"))
            .agg(
                F.count("*").alias("n"),
                # decimal sum: a long sum of 64-bit hashes overflows ANSI.
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
            )
            .collect()[0]
        )
        return (row["n"], row["h"])

    prev = checksum(sym)
    for _ in range(max_iter):
        sym = half_step(sym, large=True)
        sym = materialize(half_step(sym, large=False))
        cur = checksum(sym)
        if cur == prev:
            break
        prev = cur

    # At the fixpoint every edge joins a node to its component min.
    comp = sym.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("component"))
    return (
        nodes.join(comp, nodes.node == comp.u, "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 16,
    bucket_chars: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Character-level near-dup pairs: levenshtein(a, b) <= max_dist.

    The character-edit family catches what token/bit-level dedup
    (jaccard/minhash/simhash) misses: small in-word typos and
    OCR-style corruption. All-pairs levenshtein is O(n^2 * len^2) —
    never viable — so candidates are blocked on (lang, floor(n_chars /
    bucket_chars)), with the ADJACENT length bucket probed too (two
    equi-joins, like simhash's pigeonhole bands) so a pair straddling
    a bucket boundary is not lost; a true pair more than one bucket
    apart is impossible once ``bucket_chars > max_dist`` (edit distance
    >= length difference). Spark's banded ``levenshtein(l, r,
    threshold)`` abandons the DP early above the threshold.

    Same-bucket pairs are ordered by ``id_a < id_b``; cross-bucket
    pairs are emitted once (lower bucket on the left) and id-normalized
    with least/greatest — no distinct needed, no duplicate generation.
    A length-gap prefilter (``|len_a - len_b| <= max_dist``, valid
    because edit distance >= length difference) prunes most candidates
    before any DP cell is computed. A second, sharper LOSSLESS
    prefilter is the bag-of-characters bound: a substitution changes
    at most two character counts and an insert/delete one, so
    ``L1(hist_a, hist_b) <= 2 * edit_distance`` — candidates with
    ``L1 > 2 * max_dist`` cannot be true pairs. The 27-bin histogram
    (a-z + space; characters outside the alphabet only LOWER the
    partial L1, keeping the bound conservative for any text) costs
    ~27 integer ops per candidate vs ~(2*max_dist+1)*len DP cells —
    measured at sf0.1 it discards 97.6% of the length-filtered
    candidates (812k -> 19.6k) before any DP.

    100 TB guard: bucket population grows linearly with the corpus and
    the intra-bucket join is quadratic in it, so (lang, len-bucket)
    groups whose population exceeds ``max_bucket_size`` are dropped
    entirely (broadcast anti-join on the hot-bucket list — same pattern
    as the hot-shingle prune). The library default is ``None``
    (exhaustive — no silent recall change for direct callers); the
    registered queries pass 1000 explicitly, the value to use at
    corpus scale. Recall tradeoff: docs in hot buckets get
    no edit-distance pairs at all; at corpus scale hot length buckets
    are dominated by templated/boilerplate text that token-level dedup
    (jaccard/minhash) already covers. The exact-recall upgrade path is
    ``passjoin_pairs`` (implemented below): PassJoin segment blocking
    replaces the length bucket with a content-derived equi-join key,
    with NO recall loss — use it for small tau (<= 4); this banded
    path remains the tool for wide thresholds where tau+1 segments
    would be too many/short.
    """
    alphabet = [chr(c) for c in range(ord("a"), ord("z") + 1)] + [" "]
    txt = F.col(text_col)
    hist = F.array(
        *[
            (F.length(txt) - F.length(F.replace(txt, F.lit(ch), F.lit("")))).cast(
                "int"
            )
            for ch in alphabet
        ]
    )
    d = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lg"),
        F.col(text_col).alias("txt"),
        F.col("n_chars").alias("len"),
        F.floor(F.col("n_chars") / bucket_chars).alias("bkt"),
        hist.alias("hist"),
    )
    if max_bucket_size is not None:
        hot = (
            d.groupBy("lg", "bkt")
            .agg(F.count("*").alias("n_"))
            .filter(F.col("n_") > max_bucket_size)
            .select("lg", "bkt")
        )
        # Hot buckets are few by construction (each holds > cap docs).
        d = d.join(F.broadcast(hot), ["lg", "bkt"], "left_anti")
    # The candidate join broadcasts the build side, so the probe side's
    # task count IS the parallelism of every per-candidate predicate
    # (bag bound, then the DP for survivors). A single-file corpus
    # would otherwise run the whole join on ONE core — measured 19.2s
    # -> ~2s at sf0.1 after spreading the probe side.
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    a, b = d.alias("a"), d.alias("b")
    close = F.abs(F.col("a.len") - F.col("b.len")) <= max_dist
    # Bag bound in the JOIN condition so it prunes before the DP
    # (the levenshtein in the projection is only evaluated for rows
    # that survive the join filters).
    bag_ok = (
        F.aggregate(
            F.zip_with(F.col("a.hist"), F.col("b.hist"), lambda x, y: F.abs(x - y)),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        <= 2 * max_dist
    )
    dist = F.levenshtein(F.col("a.txt"), F.col("b.txt"), max_dist).cast("int")
    same = a.join(
        b,
        (F.col("a.lg") == F.col("b.lg"))
        & (F.col("a.bkt") == F.col("b.bkt"))
        & (F.col("a.id") < F.col("b.id"))
        & close
        & bag_ok,
    ).select(
        F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"), dist.alias("dist")
    )
    adj = a.join(
        b,
        (F.col("a.lg") == F.col("b.lg"))
        & (F.col("a.bkt") + 1 == F.col("b.bkt"))
        & close
        & bag_ok,
    ).select(
        F.least(F.col("a.id"), F.col("b.id")).alias("doc_a"),
        F.greatest(F.col("a.id"), F.col("b.id")).alias("doc_b"),
        dist.alias("dist"),
    )
    return same.unionAll(adj).filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))


def incremental_jaccard_dedup(
    new_df: DataFrame,
    old_df: DataFrame,
    n: int = 5,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental ingestion dedup: for each NEW document, the best
    near-duplicate (word-n-gram Jaccard >= ``threshold``) among the
    OLD corpus — the production dedup mode at 100 TB, where a daily
    batch must check against the existing corpus WITHOUT ever
    re-pairing old x old (that quadratic work was already paid when
    each old batch landed).

    Shape: the new batch's shingles (tiny) equi-join the old corpus's
    shingle relation — at scale that old side is a pre-built, bucketed
    shingle index reused across ingests, so the daily cost is
    O(new x avg_doc_freq), independent of corpus size. Hot shingles
    are pruned by OLD-side document frequency (the index knows its own
    hot keys before the batch arrives); Jaccard is computed over the
    pruned shingle sets, matching ngram_jaccard_pairs semantics.

    Returns one row per new document: (doc_id, is_dup 0/1,
    best_match = old doc id or NULL, best_jaccard or NULL); best match
    maximizes jaccard with ties broken by the lower old id.
    """
    from pyspark.sql.window import Window

    old_sh = _doc_shingles(old_df, text_col, id_col, n)
    if max_doc_freq is not None:
        hot = (
            old_sh.groupBy("shingle")
            .agg(F.count("*").alias("df_"))
            .filter(F.col("df_") > max_doc_freq)
            .select("shingle")
        )
        old_sh = old_sh.join(F.broadcast(hot), "shingle", "left_anti")
        new_sh = _doc_shingles(new_df, text_col, id_col, n).join(
            F.broadcast(hot), "shingle", "left_anti"
        )
    else:
        new_sh = _doc_shingles(new_df, text_col, id_col, n)

    new_sizes = new_sh.groupBy("doc").agg(F.count("*").alias("n_new"))
    old_sizes = old_sh.groupBy("doc").agg(F.count("*").alias("n_old"))
    inter = (
        new_sh.select(F.col("doc").alias("nd"), "shingle")
        .join(old_sh.select(F.col("doc").alias("od"), "shingle"), "shingle")
        .groupBy("nd", "od")
        .agg(F.count("*").alias("n_inter"))
    )
    jac = (
        inter.join(new_sizes.withColumnRenamed("doc", "nd"), "nd")
        .join(old_sizes.withColumnRenamed("doc", "od"), "od")
        .select(
            "nd",
            "od",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_new") + F.col("n_old") - F.col("n_inter")),
                4,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    best = (
        jac.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("nd").orderBy(F.col("jaccard").desc(), F.col("od"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("nd", F.col("od").alias("best_match"), F.col("jaccard").alias("best_jaccard"))
    )
    return (
        new_df.select(F.col(id_col).alias("doc_id"))
        .join(best.withColumnRenamed("nd", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("best_match").isNotNull(), 1).otherwise(0)
            .cast("long")
            .alias("is_dup"),
            F.col("best_match").cast("long").alias("best_match"),
            "best_jaccard",
        )
    )
