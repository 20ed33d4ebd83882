"""The measurement tools share the engine's session config and one
measurement path: tools/ab.py (A/B arms, each in a fresh process) and
tools/stress.py (disjoint-key replication of a fixture). The engine has
one checkpoint producer, ``session.materialize``, one release,
``session.release_checkpoints``, and one reader of one-row iteration
state into driver literals, ``session.one_row``."""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

import pytest

from .conftest import REPO, SF_SMOKE

sys.path.insert(0, str(REPO / "tools"))


def test_spark_config_only_in_session():
    sources = [*sorted((REPO / "tools").glob("*.py")), REPO / "bench.py"]
    offenders = [p.name for p in sources if '.config("spark.' in p.read_text()]
    assert offenders == []


def test_local_checkpoint_only_in_materialize():
    pkg = REPO / "mapreduce_server_development_spark"
    calls = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner[node] = fn.name  # innermost function wins
        calls += [
            (path.relative_to(pkg).as_posix(), owner.get(node), node.lineno)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            and node.func.attr == "localCheckpoint"
        ]
    assert [(p, fn) for p, fn, _ in calls] == [("session.py", "materialize")], calls


def test_released_checkpoint_fails_loudly(spark):
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.session import (
        materialize,
        release_checkpoints,
    )

    df = materialize(spark.range(100).groupBy((F.col("id") % 7).alias("k")).count())
    assert df.count() == 7
    assert release_checkpoints(spark) >= 1
    assert spark.sparkContext._jsc.getPersistentRDDs().isEmpty()
    # The checkpoint was the frame's only copy: re-reading it fails,
    # it does not silently recompute.
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        df.collect()


def test_one_row_literals_keep_types_and_values(spark):
    """Every value comes back as a literal of its column's exact type:
    signed zero, subnormal, NaN, the int64 extremes, a 38-digit
    decimal, a BIGINT small enough to pass for an INT, and a typed
    NULL."""
    from decimal import Decimal

    from mapreduce_server_development_spark.session import one_row

    df = spark.createDataFrame(
        [(-0.0, 5e-324, float("nan"), 1 / 3, -(2**63), 2**40, 3, -7,
          Decimal(10**37), True, "a'b\n☃", None)],
        "neg_zero double, subnormal double, nan double, third double,"
        " lo bigint, big bigint, small bigint, i int, dec decimal(38,0),"
        " flag boolean, s string, nul bigint",
    )
    got = spark.range(1).withColumns(one_row(df)).drop("id")
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in df.schema
    ]
    assert repr(got.collect()) == repr(df.collect())


@pytest.mark.parametrize(
    "sql, err",
    [
        ("SELECT 1 AS x WHERE false", "got 0"),
        ("SELECT id AS x FROM range(2)", "got 2"),
        ("SELECT array(1, 2) AS x", "array<int>"),
        ("SELECT TIMESTAMP '2024-01-01 00:00:00' AS x", "timestamp"),
    ],
)
def test_one_row_rejects(spark, sql, err):
    from mapreduce_server_development_spark.session import one_row

    with pytest.raises((TypeError, ValueError), match=err):
        one_row(spark.sql(sql))


def test_get_spark_applies_spark_confs(spark):
    from mapreduce_server_development_spark.session import spark_confs

    conf = spark.sparkContext.getConf()
    assert {k: conf.get(k) for k in spark_confs(8)} == spark_confs(8)


def test_warm_queries_reuse_generated_classes(spark):
    """Two iterative queries together need more generated classes than
    Spark's default 100-entry cache holds (~140 at sf0.001), so there
    every round evicts the other query's classes and recompiles them
    all. With the cache sized to the working set, a warm round
    compiles next to nothing."""
    import __spark_entry__ as entrymod
    from ab import compiles

    from mapreduce_server_development_spark.session import release_checkpoints

    qs = entrymod.queries()
    rounds = []
    for _ in range(3):
        before = compiles(spark)
        for name in ("q_hits", "q_betweenness"):
            qs[name](spark, SF_SMOKE).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
            release_checkpoints(spark)
        rounds.append(compiles(spark) - before)
    assert rounds[-1] <= 10, rounds


@pytest.fixture(scope="module")
def replicas(tmp_path_factory):
    if not Path(SF_SMOKE).exists():
        pytest.skip(f"test fixtures not present at {SF_SMOKE}")
    from stress import replicate

    out = tmp_path_factory.mktemp("rep")
    return out, replicate(SF_SMOKE, str(out), 2)


def test_replicate_doubles_rows_with_disjoint_keys(replicas):
    import pyarrow.parquet as pq

    from stress import KEYS

    out, rows = replicas
    for name, cols in KEYS.items():
        src = pq.read_table(f"{SF_SMOKE}/{name}.parquet")
        rep = pq.read_table(f"{out}/{name}.parquet")
        assert rows[name] == rep.num_rows == 2 * src.num_rows, name
        for col in cols:
            assert (len(set(rep[col].to_pylist()))
                    == 2 * len(set(src[col].to_pylist()))), (name, col)


def test_replicate_documents_share_no_vocabulary(replicas):
    import pyarrow.parquet as pq

    out, _ = replicas
    vocab = [
        {w for text in pq.read_table(f"{out}/documents.parquet/documents-00{i}.parquet")
         ["text"].to_pylist() for w in text.split()}
        for i in range(2)
    ]
    assert vocab[0] and vocab[1] and not vocab[0] & vocab[1]


def test_ab_arms_agree_on_result(tmp_path):
    if not Path(SF_SMOKE).exists():
        pytest.skip(f"test fixtures not present at {SF_SMOKE}")
    import ab

    book = tmp_path / "book.json"
    arms = {"base": {}, "minpart1m": {"confs": {ab._MINPART: "1m"}}}
    queries = ["q1_pricing_summary", "q6_forecast_revenue"]
    entry = ab.run_ab(arms, queries, SF_SMOKE, "overhead_ab", book=book)
    for q in queries:
        recs = [entry["results"][a]["queries"][q] for a in arms]
        assert all("error" not in r for r in recs), recs
        assert recs[0]["md5"] == recs[1]["md5"] and recs[0]["rows"] > 0
        assert recs[0]["runs"][0]["jobs"] > 0 and recs[0]["runs"][0]["tasks"] > 0
        for r in recs:
            assert all(type(run["compiles"]) is int and run["compiles"] >= 0
                       for run in r["runs"]), r["runs"]
    assert json.loads(book.read_text())["overhead_ab"] == [entry]


def test_ab_fails_when_digests_disagree(tmp_path, monkeypatch):
    import ab

    digests = iter(["aaa", "bbb"])
    monkeypatch.setattr(ab, "run_arm", lambda *a: {
        "session_s": 0.0, "rows": 1, "md5": next(digests),
        "runs": [{"sec": 0.0, "compiles": 0, "jobs": 1, "stages": 1, "tasks": 1,
                  "spill_bytes": 0}],
    })
    book = tmp_path / "book.json"
    book.write_text(json.dumps({"k": {"earlier": 1}}))
    with pytest.raises(RuntimeError, match="disagree"):
        ab.run_ab({"x": {}, "y": {}}, ["q"], "unused", "k", book=book)
    record = json.loads(book.read_text())["k"]
    assert record["earlier"] == 1 and record["entries"][0]["digest_mismatches"] == ["q"]


def test_ab_prints_warm_median_of_runs_3_on(tmp_path, monkeypatch, capsys):
    import ab

    monkeypatch.setattr(ab, "run_arm", lambda *a: {
        "session_s": 0.0, "rows": 1, "md5": "m",
        "runs": [{"sec": s, "compiles": c, "jobs": 1, "stages": 1, "tasks": 1,
                  "spill_bytes": 0}
                 for s, c in zip((9.0, 5.0, 2.0, 1.0, 3.0, 4.0), (50, 9, 0, 0, 0, 0))],
    })
    ab.run_ab({"x": {}}, ["q"], "unused", "k", book=tmp_path / "book.json")
    assert ("warm median 2.500s (runs 3..6) compiles [50, 9, 0, 0, 0, 0]"
            in capsys.readouterr().out)
