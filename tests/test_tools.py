"""The measurement tools share the engine's session config and one
measurement path: tools/ab.py (A/B arms, each in a fresh process) and
tools/stress.py (disjoint-key replication of a fixture)."""

from __future__ import annotations

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


def test_get_spark_applies_spark_confs(spark):
    from mapreduce_server_development_spark.session import spark_confs

    conf = spark.sparkContext.getConf()
    assert {k: conf.get(k) for k in spark_confs(8)} == spark_confs(8)


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
    entry = ab.run_ab(arms, ["q1_pricing_summary"], SF_SMOKE, "overhead_ab", book=book)
    recs = [entry["results"][a]["queries"]["q1_pricing_summary"] for a in arms]
    assert all("error" not in r for r in recs), recs
    assert recs[0]["md5"] == recs[1]["md5"] and recs[0]["rows"] > 0
    assert recs[0]["runs"][0]["jobs"] > 0 and recs[0]["runs"][0]["tasks"] > 0
    assert json.loads(book.read_text())["overhead_ab"] == [entry]


def test_ab_fails_when_digests_disagree(tmp_path, monkeypatch):
    import ab

    digests = iter(["aaa", "bbb"])
    monkeypatch.setattr(ab, "run_arm", lambda *a: {
        "session_s": 0.0,
        "queries": {"q": {"runs": [{"sec": 0.0, "jobs": 1, "stages": 1, "tasks": 1,
                                    "spill_bytes": 0}], "rows": 1, "md5": next(digests)}},
    })
    book = tmp_path / "book.json"
    book.write_text(json.dumps({"k": {"earlier": 1}}))
    with pytest.raises(RuntimeError, match="disagree"):
        ab.run_ab({"x": {}, "y": {}}, ["q"], "unused", "k", book=book)
    record = json.loads(book.read_text())["k"]
    assert record["earlier"] == 1 and record["entries"][0]["digest_mismatches"] == ["q"]
