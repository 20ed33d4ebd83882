"""SparkSession factory tuned for this engine.

Defaults are chosen for correctness-vs-oracle (UTC timestamps) and for
scale (AQE on, skew-join handling on, Arrow for the Pandas-UDF paths).
On a real cluster the same settings hold; only ``master`` and memory
sizing change.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, NumericType, StringType


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def state_store_confs() -> dict[str, str]:
    """Streaming state-store configs, env-gated.

    A/B at sf0.1/local[32] (round 5, BENCH_DETAIL.json "state_store_ab"):
    the default HDFS-backed in-memory provider wins on every stateful
    query at fixture scale (q_stream_stream_join 9.35s vs 11.93s at 32
    state partitions, 3.37s vs 3.49s at 8) because per-micro-batch
    native open/commit overhead across many tiny RocksDB instances
    dominates when state is small. At 100 TB state exceeds executor
    heap and RocksDB (with changelog checkpointing, public Spark >= 3.4)
    is the correct provider — flip with SPARK_GRAFT_STATE_STORE=rocksdb;
    the RocksDB JNI jar ships with pyspark so this is config-only.
    """
    if os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower() != "rocksdb":
        return {}
    return {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled": "true",
    }


def spark_confs(shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's session config, as a dict: ``get_spark`` builds
    from it, and the tools apply their overrides on top of it, so
    there is one copy of the config.

    - ``spark.sql.session.timeZone=UTC``: the oracle (DuckDB) uses
      UTC-naive timestamps; pinning UTC makes timestamp semantics match.
    - AQE enabled: runtime partition coalescing + skew-join splitting,
      which is the 100 TB posture (no hand-tuned partition counts).
    - shuffle partitions default to the local core count; on a cluster
      AQE coalesces from a higher initial number anyway.
    """
    cores = _default_parallelism()
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        # AQE coalesce floor (default 1m). At small per-stage data the
        # engine's compute-dense aggregates (SimHash's 64-vote agg, the
        # CF pair agg, anomaly scoring) compress to well under 1 MB of
        # shuffle bytes, so the default floor merged them to ONE
        # post-shuffle partition — q_simhash_pairs ran 27 stages with 27
        # total tasks on local[32] (single-threaded execution behind
        # 32-way scheduling; the r11 "8 cores beats 32" inversion). A
        # 256k floor keeps byte-tiny/CPU-dense stages parallel
        # (target = max(bytes/parallelism, floor) — still fully
        # AQE-adaptive, no hard-coded task count), measured -20..-42% on
        # the CF/simhash/anomaly/ANN head at BOTH 32 and 8 cores
        # (BENCH_AB.json overhead_ab; the "fewer tasks" direction,
        # parallelismFirst=false, measured 2-3x WORSE and is rejected
        # there). On a cluster real partitions sit far above either
        # floor, so the setting is inert at 100 TB; an A/B arm varies it
        # through its ``confs`` (tools/ab.py overhead_ab).
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "256k",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.driver.maxResultSize": "2g",
        # Generated-class cache (static; Spark's default is 100 entries,
        # LRU). One pass of q_als_rank1 + q_hits + q_betweenness needs
        # ~190 classes and the 390-query registry ~7,500, so at 100 warm
        # queries evict each other's classes and recompile (janino) and
        # re-JIT them. 10,000 holds the whole registry; after a full pass
        # that costs ~60 MB more metaspace and ~90 MB more heap
        # (SCALE.md). A constant: the working set is the registry's plan
        # shapes, not the data's size.
        "spark.sql.codegen.cache.maxEntries": "10000",
        # Local mode runs the whole engine in the driver JVM; the 1g
        # default heap GC-thrashes once ~32 shuffle tasks run hot.
        # Upper bound, not an allocation; on a cluster use
        # executor-memory sizing instead.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        **state_store_confs(),
    }


def get_spark(
    app_name: str = "mapreduce-server-development-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    overrides: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession from ``spark_confs``,
    with ``overrides`` (an A/B arm's config) applied on top."""
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{_default_parallelism()}]"
    )
    for k, v in {**spark_confs(shuffle_partitions), **(overrides or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if os.environ.get("SPARK_GRAFT_WARMUP", "") == "1":
        warmup_expressions(spark)
    return spark


def materialize(df: DataFrame) -> DataFrame:
    """Run ``df`` now and return a frame that reads its stored rows:
    the engine's only checkpoint. It cuts the plan where a relation is
    read more than once, where an iteration's lineage would otherwise
    grow, or where a value must be pinned (a nondeterministic draw, a
    memory-sink snapshot, a repartitioning). Each call is one eager
    Spark job whose blocks live in the executors' block managers until
    ``release_checkpoints`` frees them (SCALE.md "Local checkpoints").
    """
    return df.localCheckpoint(eager=True)


def one_row(df: DataFrame) -> dict[str, Column]:
    """Run ``df``, which must have exactly one row, and return its
    values as literals keyed by column name: the home of an iteration's
    O(features) state (weights, mixture parameters, a chosen stump).
    The state then lives on the driver and each step ships it into its
    aggregate as constants (``.withColumns(state)`` or a bare
    ``Column``), instead of checkpointing a 1-row frame and
    cross-joining it back in.

    Each literal is cast to its column's type, so a BIGINT or
    DECIMAL(38,0) value never comes back as the INT or DECIMAL(p, s)
    that a bare ``F.lit`` would infer. Only numeric, boolean and string
    columns are accepted; zero rows or more than one row raise.
    """
    fields = df.schema.fields
    for f in fields:
        if not isinstance(f.dataType, (NumericType, BooleanType, StringType)):
            raise TypeError(f"one_row: column {f.name} is {f.dataType.simpleString()}")
    rows = df.take(2)
    if len(rows) != 1:
        raise ValueError(f"one_row: expected exactly 1 row, got {len(rows)}")
    return {f.name: F.lit(v).cast(f.dataType) for f, v in zip(fields, rows[0])}


def release_checkpoints(spark: SparkSession) -> int:
    """Drop every RDD-level persisted block in the session — including
    the ``materialize`` blocks, which ``spark.catalog.clearCache()``
    does NOT touch (it only clears the SQL CacheManager). This is the
    only release; it is global, not scoped to one query.

    Those blocks are otherwise only reclaimed when the Python DataFrame
    is garbage-collected, so a long-lived session running many queries
    (the bench sweep, the daemon) accumulates dead blocks in the block
    manager — disk + GC pressure that drifts later queries' timings.
    Call this BETWEEN queries, after the previous query's result is
    fully consumed.

    Hazard (by design): unpersisting a lineage-truncated checkpoint
    destroys its only data copy — a retained DataFrame from a previous
    invocation must never be re-executed afterwards. It fails with
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``, it does not silently
    recompute (tests/test_tools.py). Every in-repo caller (bench.py,
    the daemon job loop, tools/ab.py) consumes results fully before
    releasing. Returns the number of RDDs unpersisted.
    """
    try:
        jrdds = list(spark.sparkContext._jsc.getPersistentRDDs().values())
    except Exception:  # noqa: BLE001 — introspection is best-effort
        return 0
    n = 0
    for jrdd in jrdds:
        try:
            jrdd.unpersist(False)
            n += 1
        except Exception:  # noqa: BLE001 — a concurrently-freed RDD is fine
            pass
    return n


def warmup_expressions(spark: SparkSession, rows: int = 8_000) -> list[str]:
    """Opt-in JIT pre-warm of the engine's hottest shared expression
    chains, on SYNTHETIC in-memory data (no fixture dependency).

    A fresh JVM runs Catalyst expression code interpreted until HotSpot
    compiles it; the tokenize/shingle/16-way-md5 chain the text-dedup
    family shares was measured at 5.6s cold vs 0.72s warm (BENCH_AB
    `q_stream_minhash_dedup_cold_start`), and the x100 ExactSubstr
    stress paid ~85s of one-time interpreted-path warm-up in a fresh
    session (BENCH_AB `stress_exact_substring`). bench.py has warmed
    these chains before timing since round 9; this is the same warm-up
    as a PRODUCT feature, so a production ingest daemon's FIRST job
    doesn't pay it either. Enable with ``SPARK_GRAFT_WARMUP=1`` (any
    ``get_spark`` caller) or ``serve(warmup=True)`` / the daemon
    CLI's ``--warmup`` flag. Cost: a few seconds once per session
    (cold/warm table in SCALE.md, BENCH_AB `warmup_hook_ab`).

    Chains exercised (each driven to completion executor-side):
    - tokenize -> 3-shingle -> 16-way seeded md5 array mins (the
      MinHash/fingerprint family: q_minhash_*, q_doc_fingerprint,
      q_stream_minhash_dedup);
    - positional 8-gram -> md5 prefix (the ExactSubstr span family);
    - zip_with/aggregate array dot product + norm (the
      similarity/ANN family: q_cosine_topk, IVF/PQ tiers).

    Returns the list of warmed chain names (for logging/tests).
    """
    from .functions.text import tokens_col, word_shingles

    # ~12 pseudo-random tokens per row from a 97-word vocabulary:
    # enough shingle/md5 volume to push the chain through C2.
    base = spark.range(rows).select(
        F.concat_ws(
            " ",
            F.array(
                *[
                    F.concat(
                        F.lit("w"),
                        ((F.col("id") * (p * 2 + 1)) % 97).cast("string"),
                    )
                    for p in range(12)
                ]
            ),
        ).alias("text")
    )
    toks = base.select(tokens_col(F.lower(F.col("text"))).alias("toks"))
    sh = toks.select(word_shingles(F.col("toks"), 3).alias("sh")).filter(
        F.size("sh") > 0
    )
    mins = sh.select(
        *[
            F.array_min(
                F.transform(
                    F.col("sh"),
                    # default-arg closure would shadow the index param —
                    # build the prefix outside (same note as the
                    # production signature chain).
                    (lambda pref: lambda s: F.md5(F.concat(F.lit(pref), s)))(
                        f"{i}#"
                    ),
                )
            ).alias(f"h{i}")
            for i in range(16)
        ]
    )
    mins.foreach(lambda _: None)

    grams = toks.select(
        F.posexplode(word_shingles(F.col("toks"), 8)).alias("pos", "gram")
    ).select("pos", F.substring(F.md5("gram"), 1, 16).alias("gh"))
    grams.foreach(lambda _: None)

    vecs = spark.range(rows).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(15)),
            lambda i: ((F.col("id") + i) % 13).cast("double") / 13.0,
        ).alias("v")
    )
    dot = F.aggregate(
        F.zip_with(F.col("v"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vecs.select((dot / F.sqrt(dot)).alias("cos")).foreach(lambda _: None)
    return ["minhash_md5", "gram_md5", "array_dot"]
