"""Hot-cell split + rank-seed behavior of the shared sqrt(n)-cell
assignment (plans/cell_common.py) under a SKEWED embedding
distribution — the case the balanced driver fixtures never exercise.

The skewed fixture jitters half the corpus around one direction so a
single cell goes hot; the tests then pin (a) the shard-size bound the
split guarantees, (b) that balanced cells stay un-split, and (c) that
a full registered query (q_knn_graph) stays ENGINE-EXACT against its
own DuckDB oracle while the split is live. A source scan pins that the
ANN family has one nearest-centroid assignment and one Lloyd step.
"""

from __future__ import annotations

import ast
import math
import random
import re
from pathlib import Path

import duckdb
import pytest

from mapreduce_server_development_spark.plans import ORACLE, QUERIES
from mapreduce_server_development_spark.plans.cell_common import (
    CELL_CAP_MULT,
    cell_assign,
)


def _skewed_embeddings(n: int = 420, dim: int = 16, hot_frac: float = 0.5):
    """(vec_id, embedding, label) rows: hot_frac of vectors tightly
    jittered around one direction (they all assign to one cell), the
    rest spread across random directions."""
    rng = random.Random(17)
    hot_axis = [1.0] * dim
    rows = []
    n_hot = int(n * hot_frac)
    for i in range(n):
        if i % 2 == 0 and i // 2 < n_hot:
            v = [round(a + rng.uniform(-0.01, 0.01), 4) for a in hot_axis]
        else:
            v = [round(rng.uniform(-1, 1), 4) for _ in range(dim)]
        rows.append((i, [float(x) for x in v], i % 3))
    return rows


@pytest.fixture(scope="module")
def skew_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("skew")
    rows = _skewed_embeddings()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    return str(d)


def test_hot_cell_split_bounds_shard_size(spark, skew_dir):
    emb = spark.read.parquet(f"{skew_dir}/embeddings.parquet")
    assign = cell_assign(emb, extra=()).select("vid", "cid", "sub").collect()
    n = len(assign)
    k = math.ceil(math.sqrt(n))
    cap = CELL_CAP_MULT * k
    cells: dict[int, list[int]] = {}
    subs: dict[tuple[int, int], int] = {}
    for r in assign:
        cells.setdefault(r.cid, []).append(r.vid)
        subs[(r.cid, r.sub)] = subs.get((r.cid, r.sub), 0) + 1
    # The skewed fixture MUST produce at least one hot cell (else this
    # test exercises nothing).
    hot = {c: v for c, v in cells.items() if len(v) > cap}
    assert hot, f"no cell exceeded cap={cap}; max={max(map(len, cells.values()))}"
    for c, members in cells.items():
        nsplit = math.ceil(len(members) / cap)
        if len(members) <= cap:
            # balanced cells are untouched: one shard, sub == 0
            assert {r for (cc, r), _ in subs.items() if cc == c} == {0}
        # every shard obeys the modulo bound
        shard_cap = math.ceil(len(members) / nsplit) + nsplit
        for (cc, s), cnt in subs.items():
            if cc == c:
                assert cnt <= shard_cap
    # total capped pair volume obeys the cap_mult * sqrt(n) * n bound
    capped_pairs = sum(c * (c - 1) for c in subs.values())
    uncapped_pairs = sum(len(v) * (len(v) - 1) for v in cells.values())
    assert capped_pairs <= 2 * CELL_CAP_MULT * k * n
    assert capped_pairs < uncapped_pairs  # the split actually engaged


def test_skewed_knn_graph_engine_exact(spark, skew_dir):
    """q_knn_graph (Spark) vs its own DuckDB oracle on the skewed
    fixture — the (cid, sub) join path live in BOTH engines."""
    got = QUERIES["q_knn_graph"](spark, skew_dir).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{skew_dir}/embeddings.parquet/*.parquet')"
    )
    exp = con.sql(ORACLE["q_knn_graph"]).fetchall()
    con.close()
    assert len(got) == len(exp) == 1
    g, e = got[0], exp[0]
    assert (
        g.n_nodes,
        g.n_directed_edges,
        g.n_undirected_edges,
        g.n_mutual_edges,
    ) == tuple(e[:4])


def test_skewed_hard_negatives_engine_exact(spark, skew_dir):
    got = [
        (r.label, r.n_anchors, r.min_margin_e4)
        for r in QUERIES["q_hard_negatives"](spark, skew_dir).collect()
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS "
        f"SELECT * FROM read_parquet('{skew_dir}/embeddings.parquet/*.parquet')"
    )
    exp = [
        (r[0], r[1], r[3])
        for r in con.sql(
            "SELECT label, n_anchors, mean_margin, min_margin_e4 FROM ("
            + ORACLE["q_hard_negatives"]
            + ")"
        ).fetchall()
    ]
    con.close()
    assert got == exp


PKG = Path(__file__).resolve().parent.parent / "mapreduce_server_development_spark"


def _call_name(call: ast.Call) -> str | None:
    return getattr(call.func, "attr", None) or getattr(call.func, "id", None)


def _constants(node: ast.AST) -> list:
    return [n.value for n in ast.walk(node) if isinstance(n, ast.Constant)]


def test_vector_quantization_has_one_kernel():
    """Every nearest-centroid assignment and every Lloyd step in the
    package goes through functions/similarity's ``nearest`` and
    ``lloyd_step``. A Lloyd step is a top-level function that
    posexplodes vectors, takes ``round(avg(...), 6)`` means and
    rebuilds them with ``collect_list``. A nearest assignment is a
    top-level function holding a ``max_by``/``min_by`` over a struct,
    or a rank-1 ``row_number`` window with a centroid-id
    (``cid``/``pcid``) tie-break."""
    lloyd, assign = [], []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            where = f"{path.stem}.{fn.name}"
            nodes = list(ast.walk(fn))
            calls = [n for n in nodes if isinstance(n, ast.Call)]
            names = {_call_name(c) for c in calls}
            mean6 = any(
                _call_name(c) == "round"
                and c.args
                and isinstance(c.args[0], ast.Call)
                and _call_name(c.args[0]) == "avg"
                and 6 in _constants(c)
                for c in calls
            )
            if mean6 and {"posexplode", "collect_list"} <= names:
                lloyd.append(where)
            by_struct = any(
                isinstance(v, str) and re.search(r"\b(max|min)_by\(\w+, struct\(", v)
                for v in _constants(fn)
            )
            cid_rank = any(
                _call_name(c) == "orderBy"
                and any(v in ("cid", "pcid") for a in c.args for v in _constants(a))
                for c in calls
            )
            rank1 = any(
                isinstance(v, str) and re.search(r"\brn\s*=\s*1\b", v)
                for v in _constants(fn)
            ) or any(
                isinstance(n, ast.Compare)
                and isinstance(n.ops[0], ast.Eq)
                and 1 in _constants(n.comparators[0])
                for n in nodes
            )
            if by_struct or ("row_number" in names and cid_rank and rank1):
                assign.append(where)
    assert lloyd == ["similarity.lloyd_step"]
    assert assign == ["similarity.nearest"]
