"""Unit tests for the graph kernels (functions/graph.py)."""

from __future__ import annotations

import ast

from mapreduce_server_development_spark.functions.graph import (
    RANK_SCALE,
    pagerank_micro,
)

from .conftest import REPO

#: Star(0) + chain 4-5-6 + isolated 7.
_STAR_CHAIN = [(0, 1), (0, 2), (0, 3), (4, 5), (5, 6)]


def _py_pagerank(n_nodes, edges, iters=10, damping=85, seeds=None):
    """Literal python model of the integer recurrence; with ``seeds``,
    the personalized variant (start and teleport mass on seeds only)."""
    nbrs: dict[int, set[int]] = {v: set() for v in range(n_nodes)}
    for a, b in edges:
        if a != b:
            nbrs[a].add(b)
            nbrs[b].add(a)
    sd = {v: int(seeds is None or v in seeds) for v in range(n_nodes)}
    base = (100 - damping) * RANK_SCALE // 100
    r = {v: RANK_SCALE * sd[v] for v in range(n_nodes)}
    for _ in range(iters):
        inflow = {v: 0 for v in range(n_nodes)}
        for u, vs in nbrs.items():
            if vs:
                share = r[u] // len(vs)
                for v in vs:
                    inflow[v] += share
        r = {v: sd[v] * base + damping * inflow[v] // 100 for v in range(n_nodes)}
    return r


def test_pagerank_matches_python_model(spark):
    """Star + chain + singleton: spark ranks must equal the literal
    integer model bit-for-bit (that exactness is what makes the DuckDB
    oracle possible)."""
    edges = _STAR_CHAIN
    n = 8
    ndf = spark.createDataFrame([(v,) for v in range(n)], "node long")
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(ndf, edf, iters=10).collect()
    }
    want = _py_pagerank(n, edges, iters=10)
    assert got == want
    # structural sanity: hub outranks leaves; singleton sits at base mass
    assert got[0] > got[1] == got[2] == got[3]
    assert got[7] == (100 - 85) * RANK_SCALE // 100


def test_personalized_pagerank_matches_python_model(spark):
    """With a seed column the same kernel is personalized PageRank: on
    the star + chain + singleton graph it must equal the seeded integer
    model bit-for-bit, and nodes the seeds cannot reach stay at 0."""
    seeds = {1, 6}
    n = 8
    ndf = spark.createDataFrame(
        [(v, int(v in seeds)) for v in range(n)], "node long, is_seed int"
    )
    edf = spark.createDataFrame(_STAR_CHAIN, "a long, b long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(ndf, edf, iters=8, seed_col="is_seed").collect()
    }
    assert got == _py_pagerank(n, _STAR_CHAIN, iters=8, seeds=seeds)
    assert got[7] == 0 and got[1] > 0 and got[4] > 0


def test_pagerank_regular_graph_fixed_point(spark):
    """On a regular graph every node keeps exactly RANK_SCALE: inflow
    = deg * (r div deg) = r, so r' = 15% + 85% of r = r. Pins the
    arithmetic (a scaling bug would drift over 10 rounds)."""
    edges = [(0, 1), (1, 2), (2, 0)]  # triangle: 2-regular
    ndf = spark.createDataFrame([(v,) for v in range(3)], "node long")
    edf = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["rank_micro"]
        for r in pagerank_micro(ndf, edf, iters=10).collect()
    }
    assert got == {0: RANK_SCALE, 1: RANK_SCALE, 2: RANK_SCALE}


def test_dup_triangles_on_synthetic_clique_and_chain(spark, tmp_path):
    """Three identical docs form one triangle (each participating
    once); a chain pair attached to nothing closes no triangle."""
    from mapreduce_server_development_spark.plans import QUERIES

    same = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    rows = [
        (1, same, "en", "s", len(same)),
        (2, same, "en", "s", len(same)),
        (3, same, "en", "s", len(same)),
        (4, other, "en", "s", len(other)),
        (5, other + " extra", "en", "s", len(other) + 6),
        (6, "totally unrelated words that share nothing with the rest ok", "en", "s", 60),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.n_triangles
        for r in QUERIES["q_dup_triangles"](spark, str(tmp_path)).collect()
    }
    # docs 1,2,3 form exactly one triangle; 4-5 are a pair (no third),
    # 6 is isolated — neither appears in the output.
    assert got == {1: 1, 2: 1, 3: 1}


def test_degree_oriented_triangles_match_brute_force(spark):
    """functions/graph.py count_triangles (the q_triangle_count engine)
    must agree with the canonical a<b<c triple scan on random graphs."""
    import itertools
    import random

    from mapreduce_server_development_spark.functions.graph import count_triangles

    random.seed(5)
    for trial in range(3):
        n = 30
        edges = sorted(
            {
                (a, b)
                for a in range(n)
                for b in range(a + 1, n)
                if random.random() < 0.2
            }
        )
        eset = set(edges)
        brute = sum(
            1
            for a, b, c in itertools.combinations(range(n), 3)
            if (a, b) in eset and (a, c) in eset and (b, c) in eset
        )
        e = spark.createDataFrame(edges, "a long, b long")
        tri = count_triangles(e).collect()[0]["t"]
        assert tri == brute, (trial, tri, brute)


def test_whale_basket_excluded_identically_by_both_engines(spark, tmp_path):
    """graph_common's ORDER_BASKET_CAP: a synthetic whale order (300
    distinct parts, > the 256 cap) must be excluded from the capped
    basket relation — and the DuckDB oracle CTE (po_sql) must exclude
    it identically, so every graph query stays oracle-exact."""
    import duckdb

    from mapreduce_server_development_spark.plans.graph_common import (
        ORDER_BASKET_CAP,
        capped_po,
        po_sql,
    )

    whale = [(1, p) for p in range(1000, 1000 + ORDER_BASKET_CAP + 44)]
    normal = [(2, 1), (2, 2), (2, 3), (3, 2), (3, 3)]
    df = spark.createDataFrame(
        whale + normal, "l_orderkey long, l_partkey long"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))

    got = {
        (r.l_orderkey, r.l_partkey)
        for r in capped_po(spark, str(tmp_path)).collect()
    }
    assert got == set(normal)  # whale order gone, normals intact

    con = duckdb.connect()
    try:
        con.sql(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{tmp_path}/lineitem.parquet/*.parquet')"
        )
        oracle = {
            tuple(r)
            for r in con.sql(
                f"WITH {po_sql()} SELECT l_orderkey, l_partkey FROM po"
            ).fetchall()
        }
    finally:
        con.close()
    assert oracle == got


def test_copurchase_pair_self_join_has_one_copy():
    """The order-keyed pair self-join over graph_common.capped_po is
    written once, in graph_common.copurchase_edges: every graph query
    takes its edges from there instead of re-deriving them."""
    copies = []
    for path in sorted((REPO / "mapreduce_server_development_spark").rglob("*.py")):
        for fn in ast.walk(ast.parse(path.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            loads_po = any(getattr(c.func, "id", None) == "capped_po" for c in calls)
            order_join = any(
                getattr(c.func, "attr", None) == "join"
                and any(
                    isinstance(n, ast.Constant) and n.value == "l_orderkey"
                    for a in c.args
                    for n in ast.walk(a)
                )
                for c in calls
            )
            if loads_po and order_join:
                copies.append(f"{path.stem}.{fn.name}")
    assert copies == ["graph_common.copurchase_edges"]
