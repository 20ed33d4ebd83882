"""Unit tests for the functions/ plane (text, dedup, similarity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_tokens_col_drops_empties(spark):
    from mapreduce_server_development_spark.functions.text import tokens_col

    df = spark.createDataFrame([("a  b c",), ("",), ("  ",)], ["text"])
    got = [r[0] for r in df.select(tokens_col("text")).collect()]
    assert got == [["a", "b", "c"], [], []]


def test_word_shingles(spark):
    from mapreduce_server_development_spark.functions.text import tokens_col, word_shingles

    df = spark.createDataFrame([("a b c d",), ("a b",), ("a",)], ["text"])
    got = [r[0] for r in df.select(word_shingles(tokens_col("text"), 3)).collect()]
    assert got == [["a b c", "b c d"], [], []]


def test_exact_dedup_counts(spark):
    from mapreduce_server_development_spark.functions.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, "other")], ["doc_id", "text"]
    )
    rows = {r["text_hash"]: r for r in exact_dedup(df).collect()}
    assert len(rows) == 2
    dup = [r for r in rows.values() if r["n_copies"] == 2][0]
    assert dup["canonical_doc"] == 1


def test_cosine_topk_self_excluded(spark):
    from mapreduce_server_development_spark.functions.similarity import cosine_topk

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    rows = cosine_topk(df, query_max_id=1, k=2).collect()
    ids = [(r["query_id"], r["vec_id"], r["rank"]) for r in rows]
    assert (1, 1, 1) not in [(q, v, r) for q, v, r in ids]
    assert ids[0] == (1, 2, 1)  # identical vector ranks first


def test_minhash_finds_exact_duplicate(spark):
    from mapreduce_server_development_spark.functions.dedup import minhash_near_dups

    text = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words in this one here")],
        ["doc_id", "text"],
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_near_dups(df).collect()}
    assert (1, 2) in pairs
    assert all(p == (1, 2) for p in pairs)


def test_session_defaults():
    from mapreduce_server_development_spark.session import get_spark

    spark = get_spark()
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"


def test_write_text_numbered(spark, tmp_path):
    from mapreduce_server_development_spark.sources.text import write_text_numbered

    df = spark.createDataFrame([("x",), ("y",), ("z",)], ["value"])
    outs = write_text_numbered(df, str(tmp_path / "out"), num_files=2)
    assert [o.rsplit("/", 1)[1] for o in outs] == ["outputfile01", "outputfile02"]
    lines = []
    for o in outs:
        with open(o, encoding="utf-8") as f:
            lines += [line.rstrip("\n") for line in f]
    assert sorted(lines) == ["x", "y", "z"]


def test_multiprobe_lsh_recall_dominates_single_probe(spark):
    """Multi-probe candidates are a superset of single-probe candidates
    (the identity bucket is always probed), so recall can only go up.
    k is effectively unbounded: a finite k ranks the two candidate sets
    independently and the cut can drop single-probe pairs from the
    larger multi-probe set."""
    from mapreduce_server_development_spark.functions.similarity import lsh_bucket_topk
    from mapreduce_server_development_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    single = {
        (r.query_id, r.vec_id)
        for r in lsh_bucket_topk(emb, num_planes=4, probe_hamming=0, k=10**6).collect()
    }
    multi = {
        (r.query_id, r.vec_id)
        for r in lsh_bucket_topk(emb, num_planes=4, probe_hamming=1, k=10**6).collect()
    }
    assert single <= multi
    assert len(multi) >= len(single)


def test_connected_components_chain_and_singleton(spark):
    from mapreduce_server_development_spark.functions.dedup import connected_components

    # chain 1-2-3 (no direct 1-3 edge), pair 10-11, singleton 20
    nodes = spark.createDataFrame([(n,) for n in [1, 2, 3, 10, 11, 20]], ["node"])
    edges = spark.createDataFrame([(2, 1), (2, 3), (10, 11)], ["a", "b"])
    got = {r["node"]: r["component"] for r in connected_components(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_packed_bloom_matches_fanout_bloom_and_is_shuffle_free(spark):
    """The packed-lane Bloom must admit EXACTLY the key set the
    explode-per-hash q_bloom_semijoin form admits (identical md5 hash
    family), and its probe side must be a pure scan-stage filter —
    no Exchange in the probe plan."""
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.functions.joins import (
        packed_bloom_semijoin,
    )
    from mapreduce_server_development_spark.sources.tables import load_table
    from .conftest import SF_SMOKE

    cust = (
        load_table(spark, SF_SMOKE, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, SF_SMOKE, "orders")
    passed = packed_bloom_semijoin(cust, orders, "c_custkey", "o_custkey")

    # Reference: the readable explode-per-hash membership (same hashes).
    bits_df = (
        cust.select(F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("kk"), "c_custkey")
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.col("kk").cast("string"), F.lit(":"), F.col("c_custkey").cast("string"))),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 4096
            ).alias("bit")
        )
        .distinct()
    )
    probe = orders.select(
        "o_orderkey", F.explode(F.array(*[F.lit(i) for i in range(3)])).alias("kk"), "o_custkey"
    ).select(
        "o_orderkey",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("kk").cast("string"), F.lit(":"), F.col("o_custkey").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 4096
        ).alias("bit"),
    )
    fanout_pass = (
        probe.join(F.broadcast(bits_df), "bit")
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("hits"))
        .filter(F.col("hits") == 3)
    )
    got = {r.o_orderkey for r in passed.select("o_orderkey").collect()}
    want = {r.o_orderkey for r in fanout_pass.collect()}
    assert got == want

    plan = passed._sc._jvm.PythonSQLUtils.explainString(
        passed._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan


def test_closed_form_ntile_matches_builtin(spark):
    """The q_rfm_segments rewrite replaces ntile(4) with a closed-form
    function of (rank, N); pin the equivalence against Spark's own
    ntile for every relation size around the bucket boundaries."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    for n in (1, 2, 3, 4, 5, 7, 8, 9, 100, 101, 102, 103):
        df = spark.range(1, n + 1).select(F.col("id").alias("rk"))
        builtin = {
            r["rk"]: r["t"]
            for r in df.select(
                "rk", F.ntile(4).over(Window.orderBy("rk")).alias("t")
            ).collect()
        }
        base, rem = f"({n} DIV 4)", f"({n} % 4)"
        closed = {
            r["rk"]: r["t"]
            for r in df.selectExpr(
                "rk",
                f"CASE WHEN rk <= {rem} * ({base} + 1)"
                f" THEN (rk - 1) DIV ({base} + 1) + 1"
                f" ELSE {rem} + (rk - {rem} * ({base} + 1) - 1)"
                f" DIV greatest({base}, 1) + 1 END AS t",
            ).collect()
        }
        assert closed == builtin, n


def test_chunked_trailing_window_matches_monolithic(spark):
    """functions/chunked.py chunked_trailing_window (the
    q_value_anomaly engine) must be bit-equal to the monolithic
    per-key window on a relation spanning several chunk boundaries."""
    import random

    import pytest
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.functions.chunked import (
        chunked_trailing_window,
    )

    random.seed(7)
    chunk, frame = 40, 10  # scaled-down chunk geometry, same shape
    rows = [
        (i, f"k{i % 3}", random.randrange(0, 1000)) for i in range(1000)
    ]
    df = spark.createDataFrame(rows, "event_id long, key string, v long")

    mono_w = (
        Window.partitionBy("key").orderBy("event_id").rowsBetween(-frame, -1)
    )
    mono = {
        (r["key"], r["event_id"]): (r["n"], r["s"])
        for r in df.select(
            "key",
            "event_id",
            F.count("v").over(mono_w).alias("n"),
            F.sum("v").over(mono_w).alias("s"),
        ).collect()
    }

    seq = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("key").orderBy("event_id"))
    )
    chunked = {
        (r["key"], r["event_id"]): (r["n"], r["s"])
        for r in chunked_trailing_window(
            seq,
            "key",
            "rn",
            frame=frame,
            chunk_rows=chunk,
            aggs=lambda w: [
                F.count("v").over(w).alias("n"),
                F.sum("v").over(w).alias("s"),
            ],
        ).collect()
    }
    assert chunked == mono

    with pytest.raises(ValueError):
        chunked_trailing_window(
            seq, "key", "rn", frame=50, chunk_rows=10, aggs=lambda w: []
        )


def test_asof_join_attaches_one_right_row_even_with_nulls(spark):
    """The attached columns must all come from the SAME (most recent)
    right row — per-column last(ignorenulls) would stitch a composite
    row whenever the latest right row holds a NULL."""
    from mapreduce_server_development_spark.functions.joins import asof_join

    right = spark.createDataFrame(
        [("u", 1, 10, 5), ("u", 2, None, 7)],
        "k string, ts long, price long, qty long",
    )
    left = spark.createDataFrame([("u", 3)], "k string, ts long")
    row = asof_join(left, right, "k", "ts", "ts", ["price", "qty"]).collect()[0]
    assert row.asof_price is None and row.asof_qty == 7


def test_salted_join_rejects_build_preserving_modes(spark):
    import pytest

    from mapreduce_server_development_spark.functions.skew import salted_join

    p = spark.createDataFrame([(1, "x")], "k long, a string")
    b = spark.createDataFrame([(1, "y")], "k long, b string")
    assert salted_join(p, b, "k").count() == 1
    for how in ("right", "full", "full_outer"):
        with pytest.raises(ValueError):
            salted_join(p, b, "k", how=how)


def test_global_running_sum_non_long_values(spark):
    """Offsets must take the sum's own type — double and decimal value
    columns, not just long."""
    from decimal import Decimal

    from mapreduce_server_development_spark.functions.prefix import (
        global_running_sum,
    )

    d = spark.createDataFrame(
        [(i, float(i) / 4) for i in range(40)], "k long, v double"
    )
    got = {
        r["k"]: r["running_sum"]
        for r in global_running_sum(d, "k", "v", num_partitions=5).collect()
    }
    assert abs(got[39] - sum(i / 4 for i in range(40))) < 1e-9

    dd = spark.createDataFrame(
        [(i, Decimal(i)) for i in range(40)], "k long, v decimal(10,2)"
    )
    got2 = {
        r["k"]: r["running_sum"]
        for r in global_running_sum(dd, "k", "v", num_partitions=5).collect()
    }
    assert got2[39] == Decimal(sum(range(40)))


def test_simhash_rejects_wide_hamming(spark):
    import pytest

    from mapreduce_server_development_spark.functions.dedup import (
        simhash_near_pairs,
    )

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_near_pairs(df, max_hamming=4)


def test_packed_bloom_validates_geometry(spark):
    import pytest

    from mapreduce_server_development_spark.functions.joins import (
        packed_bloom_semijoin,
    )

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        packed_bloom_semijoin(df, df, "k", "k", bits=1000)
    with pytest.raises(ValueError):
        packed_bloom_semijoin(df, df, "k", "k", k=0)


def test_tokens_col_delimiter_is_literal(spark):
    from mapreduce_server_development_spark.functions.text import tokens_col

    df = spark.createDataFrame([("a.b.c",)], "s string")
    assert df.select(tokens_col("s", ".").alias("t")).collect()[0]["t"] == [
        "a",
        "b",
        "c",
    ]


def test_semantic_dedup_hot_cell_cap(spark):
    """A hot cell is not capped: every member of a single 8-vector
    cell is compared, and all but the min id are flagged."""
    from mapreduce_server_development_spark.functions.similarity import (
        semantic_dedup_flags,
    )

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(1, 9)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    flagged = semantic_dedup_flags(emb, nlist=1, threshold=0.9)
    assert sum(r.is_dup for r in flagged.collect()) == 7  # all but min id
