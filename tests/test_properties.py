"""Property-based tests (hypothesis) — beyond the reference's test
strategy (SURVEY.md §5: golden files + message traces only).

Pure-function properties run hundreds of examples; Spark-backed
equivalence properties draw a BATCH of rows per example and keep
max_examples small so each example is one tiny local job.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st


# ---------------------------------------------------------------------------
# Pure functions
# ---------------------------------------------------------------------------


@given(
    files=st.lists(st.text(st.sampled_from("abc0123"), min_size=1, max_size=8), unique=True),
    n=st.integers(min_value=1, max_value=9),
)
def test_round_robin_partition_properties(files, n):
    """F2 invariants: every file appears exactly once, sorted file i
    lands in task i % n, and no task list exceeds ceil(len/n)."""
    from mapreduce_server_development_spark.operators.mapreduce import (
        round_robin_partition,
    )

    tasks = round_robin_partition(files, n)
    flat = [f for t in tasks for f in t]
    assert sorted(flat) == sorted(files)
    for i, f in enumerate(sorted(files)):
        assert f in tasks[i % n]
    assert all(len(t) <= (len(files) + n - 1) // max(1, n) for t in tasks)


@given(p=st.integers(0, 31), d=st.integers(1, 128))
def test_lsh_plane_weights_deterministic_pm1(p, d):
    """Hyperplane weights are ±1 and identical across calls (the oracle
    re-derives them independently, so determinism is load-bearing)."""
    from mapreduce_server_development_spark.functions.similarity import (
        lsh_plane_weights,
    )

    a = lsh_plane_weights(p + 1, d)
    b = lsh_plane_weights(p + 1, d)
    assert a == b
    assert all(w in (1.0, -1.0) for plane in a for w in plane)


# ---------------------------------------------------------------------------
# Spark expression vs python reference semantics
# ---------------------------------------------------------------------------

_TEXTS = st.lists(
    st.text(st.sampled_from(" abzé9\t"), max_size=24), min_size=1, max_size=30
)


def _py_tokens(s: str) -> list[str]:
    return [t for t in s.split(" ") if t != ""]


@settings(max_examples=8, deadline=None)
@given(texts=_TEXTS)
def test_tokens_and_shingles_match_python_reference(spark, texts):
    """tokens_col / word_shingles agree with a literal python model on
    arbitrary text (empties dropped, shingles are consecutive joins)."""
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.functions.text import (
        tokens_col,
        word_shingles,
    )

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    toks_df = df.select("id", tokens_col(F.col("text")).alias("toks"))
    out = {
        r.id: (list(r.toks), list(r.sh))
        for r in toks_df.select(
            "id", "toks", word_shingles(F.col("toks"), 2).alias("sh")
        ).collect()
    }
    for i, t in enumerate(texts):
        ptoks = _py_tokens(t)
        psh = [" ".join(ptoks[j : j + 2]) for j in range(len(ptoks) - 1)]
        assert out[i][0] == ptoks, (t, out[i][0])
        assert out[i][1] == psh, (t, out[i][1])


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)), max_size=20
    )
)
def test_connected_components_match_union_find(spark, edges):
    """The iterative min-label propagation must agree with a pure-Python
    union-find on arbitrary small graphs (self-loops, parallel edges,
    long chains, isolated nodes)."""
    from mapreduce_server_development_spark.functions.dedup import (
        connected_components,
    )

    nodes = list(range(15))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    # canonical label = min node id in the set
    expected = {}
    for n in nodes:
        r = find(n)
        expected.setdefault(r, []).append(n)
    want = {n: min(mem) for mem in expected.values() for n in mem}

    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "a long, b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(ndf, edf).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)), max_size=20
    )
)
def test_connected_components_star_match_union_find(spark, edges):
    """Large-star/small-star contraction must compute the same
    components as union-find on arbitrary small graphs — including the
    shapes that stress it specifically (self-loops, parallel edges,
    stars that must not collapse to empty edge sets)."""
    from mapreduce_server_development_spark.functions.dedup import (
        connected_components_star,
    )

    nodes = list(range(15))
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    expected = {}
    for n in nodes:
        r = find(n)
        expected.setdefault(r, []).append(n)
    want = {n: min(mem) for mem in expected.values() for n in mem}

    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "a long, b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components_star(ndf, edf).collect()
    }
    assert got == want


@settings(max_examples=8, deadline=None)
@given(
    edges=st.sets(st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=25),
    seeds=st.sets(st.integers(0, 9), min_size=1, max_size=3),
    hops=st.integers(0, 4),
)
def test_bfs_levels_match_python_bfs(spark, edges, seeds, hops):
    """Each (seed, v) within ``hops`` of its seed appears exactly once,
    at level = its BFS distance, with sig = its number of shortest
    paths; nothing farther appears (directed edges, self-loops and
    unreachable vertices included)."""
    from mapreduce_server_development_spark.functions.graph import bfs_levels

    out = {v: [b for a, b in sorted(edges) if a == v] for v in range(10)}
    want = {}
    for s in seeds:
        dist, sig, frontier = {s: 0}, {s: 1}, [s]
        for h in range(1, hops + 1):
            nxt = {}
            for u in frontier:
                for w in out[u]:
                    if w not in dist:
                        nxt[w] = nxt.get(w, 0) + sig[u]
            for w, c in nxt.items():
                dist[w], sig[w] = h, c
            frontier = list(nxt)
        want.update({(s, v): (dist[v], sig[v]) for v in dist})

    sym = spark.createDataFrame(sorted(edges), "src long, dst long")
    seed_df = spark.createDataFrame([(s,) for s in seeds], "seed long")
    got = {}
    for h, level in enumerate(bfs_levels(sym, seed_df, hops)):
        for r in level.collect():
            assert (r["seed"], r["v"]) not in got
            got[(r["seed"], r["v"])] = (h, int(r["sig"]))
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    vals=st.lists(st.integers(0, 1000), min_size=1, max_size=60),
    nparts=st.integers(1, 9),
)
def test_global_running_sum_matches_cumsum(spark, vals, nparts):
    """Two-phase prefix sum == sequential cumsum for any values and any
    partition count (offsets must chain correctly across partitions)."""
    from mapreduce_server_development_spark.functions.prefix import (
        global_running_sum,
    )

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r["k"]: r["running_sum"]
        for r in global_running_sum(df, "k", "v", num_partitions=nparts).collect()
    }
    acc = 0
    for k, v in rows:
        acc += v
        assert got[k] == acc


_VEC = st.lists(st.integers(-3, 3), min_size=2, max_size=2)


@settings(max_examples=8, deadline=None)
@given(
    points=st.lists(_VEC, min_size=1, max_size=10),
    seeds=st.lists(st.integers(0, 9), min_size=1, max_size=3),
    cids=st.permutations(range(10, 16)),
    keyed=st.booleans(),
)
def test_nearest_and_lloyd_step_match_python_kmeans(spark, points, seeds, cids, keyed):
    """One k-means step through similarity.nearest + lloyd_step equals a
    pure-Python step: each point takes the codeword of highest score
    (negated integer squared L2), a tie goes to the lowest cid, and each
    codeword becomes the 6-decimal per-dimension mean of its members.
    The book holds a duplicate of its first codeword (a score tie for
    every point) and a far codeword that wins nothing (its cell drops).
    With ``keyed`` every point has two subspaces m, each searched
    against its own book, as in product quantization."""
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.functions.similarity import (
        lloyd_step,
        nearest,
    )

    ms = (0, 1) if keyed else (0,)
    # subspace m shifts the coordinates so the two books differ
    pts = {(vid, m): [x + m for x in v] for vid, v in enumerate(points) for m in ms}
    book_vecs = [points[i % len(points)] for i in seeds]
    book_vecs += [book_vecs[0], [100, 100]]
    book = {
        (m, cid): [x + m for x in v] for m in ms for cid, v in zip(cids, book_vecs)
    }

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(a, b))

    want_assign = {}
    for (vid, m), v in pts.items():
        score, neg_cid = max(
            (-d2(v, cv), -cid) for (bm, cid), cv in book.items() if bm == m
        )
        want_assign[(vid, m)] = (-neg_cid, score)
    members = {}
    for (vid, m), (cid, _) in want_assign.items():
        members.setdefault((m, cid), []).append(pts[(vid, m)])
    want_cent = {
        key: [round(sum(col) / len(col), 6) for col in zip(*vs)]
        for key, vs in members.items()
    }
    assert (0, cids[len(book_vecs) - 1]) not in want_cent  # the far codeword

    pdf = spark.createDataFrame(
        [(vid, m, [float(x) for x in v]) for (vid, m), v in pts.items()],
        "vid long, m long, v array<double>",
    )
    bdf = spark.createDataFrame(
        [(m, cid, [float(x) for x in v]) for (m, cid), v in book.items()],
        "m long, cid long, cv array<double>",
    )
    if not keyed:
        pdf, bdf = pdf.drop("m"), bdf.drop("m")
    key = ("m",) if keyed else ()
    score = -F.aggregate(
        F.zip_with("v", "cv", lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda a, x: a + x
    ).cast("long")
    assign = nearest(pdf, bdf, score, key=key, carry=("v",))
    got_assign = {
        (r["vid"], r["m"] if keyed else 0): (r["cid"], r["score"]) for r in assign.collect()
    }
    assert got_assign == want_assign
    got_cent = {
        (r["m"] if keyed else 0, r["cid"]): list(r["cv"])
        for r in lloyd_step(assign, "v", key=key).collect()
    }
    assert got_cent == want_cent


@given(
    args=st.lists(
        st.text(st.sampled_from("ab c/.'\"-_$"), min_size=1, max_size=8),
        min_size=1,
        max_size=4,
    )
)
def test_argv_passes_tokens_verbatim(args):
    """No shell runs an executable: an argv list reaches the process
    token by token, and a shell-style string splits like shlex, so
    quotes, spaces and $ in arguments survive."""
    import shlex

    from mapreduce_server_development_spark.operators.mapreduce import _argv

    assert _argv(args) == args
    assert _argv(tuple(args)) == args
    assert _argv(shlex.join(args)) == args


# The compat group contract: one job per example, so few examples.
@settings(max_examples=10, deadline=None)
@given(
    files=st.lists(
        st.lists(
            st.text(st.sampled_from(["a", "b", "\t", " ", "é", "\uff5e", "\U0001f600"]), max_size=4),
            max_size=10,
        ),
        min_size=1,
        max_size=3,
    ),
    n=st.integers(1, 5),
)
def test_run_job_matches_group_contract_model(spark, tmp_path_factory, files, n):
    """``cat`` mapper and reducer: the n output files equal the plain
    Python group contract (``group_contract_model``) over any multiset
    of lines, empty lines, BMP-high ``～`` and astral ``😀`` included
    (UTF-16 order would put ``😀`` first; the contract is code point
    order)."""
    from pathlib import Path

    from mapreduce_server_development_spark.operators import run_job

    from .conftest import group_contract_model

    root = tmp_path_factory.mktemp("contract")
    indir = root / "in"
    indir.mkdir()
    for i, lines in enumerate(files):
        (indir / f"f{i}.txt").write_text("".join(line + "\n" for line in lines), encoding="utf-8")
    outs = run_job(spark, str(indir), str(root / "out"), "cat", "cat", 2, n)
    expected = group_contract_model([line for lines in files for line in lines], n)
    assert [Path(o).read_text(encoding="utf-8") for o in outs] == expected
