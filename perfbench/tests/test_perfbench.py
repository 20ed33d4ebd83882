"""Tests of the benchmark's own logic; none of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import random
import re
import subprocess
import sys
from collections import Counter
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import run  # noqa: E402
from perfbench.measure import Tracer, percentile, tail_percentile  # noqa: E402
from perfbench.wordcount import check_output, make_corpus  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.mark.parametrize("n, p", [
    (1, 100.0), (19, 100.0), (20, 50.0), (39, 50.0), (40, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_percentile_from_sample_count(n, p):
    assert tail_percentile(n) == p


@pytest.mark.parametrize("n", [20, 21, 57, 100, 333, 1000, 12_345])
def test_tail_keeps_ten_samples_above(n):
    xs = [float(i) for i in range(n)]
    p = tail_percentile(n)
    assert sum(x > percentile(xs, p) for x in xs) >= 10


def test_percentile_is_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 100) == 5.0


def _write(out: Path, files: dict[str, Counter]) -> None:
    out.mkdir(exist_ok=True)
    for name, counts in files.items():
        (out / name).write_text("".join(f"{k}\t{v}\n" for k, v in sorted(counts.items())))


@pytest.fixture
def corpus(tmp_path):
    counts = make_corpus(random.Random(7), tmp_path / "corpus", 4)
    keys = sorted(counts)
    half = len(keys) // 2
    first = Counter({k: counts[k] for k in keys[:half]})
    second = Counter({k: counts[k] for k in keys[half:]})
    return tmp_path / "out", counts, first, second


def test_corpus_counts_match_files(tmp_path):
    counts = make_corpus(random.Random(3), tmp_path / "c", 4)
    words = Counter()
    for f in (tmp_path / "c").iterdir():
        words.update(f.read_text().lower().split())
    assert words == counts
    assert len(list((tmp_path / "c").iterdir())) == 4


def test_checker_accepts_correct_output(corpus):
    out, counts, first, second = corpus
    _write(out, {"outputfile01": first, "outputfile02": second})
    assert check_output(out, counts) == []


def test_checker_rejects_missing_key(corpus):
    out, counts, first, second = corpus
    del second[next(iter(second))]
    _write(out, {"outputfile01": first, "outputfile02": second})
    assert any("missing" in p for p in check_output(out, counts))


def test_checker_rejects_wrong_count(corpus):
    out, counts, first, second = corpus
    key = next(iter(first))
    first[key] += 1
    _write(out, {"outputfile01": first, "outputfile02": second})
    assert any(key in p and "count" in p for p in check_output(out, counts))


def test_checker_rejects_key_split_across_files(corpus):
    out, counts, first, second = corpus
    key = next(iter(first))
    total = first[key]
    if total < 2:
        key = max(first, key=first.get)
        total = first[key]
    first[key] = total - 1
    second[key] = 1
    _write(out, {"outputfile01": first, "outputfile02": second})
    assert any("in both" in p for p in check_output(out, counts))


def test_benchmark_json_names_and_units():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert set(w["name"] for w in spec["workloads"]) <= set(run.WORKLOADS)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {n: m["unit"] for n, m in e2e.items()} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert all(UNIT.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"


@pytest.mark.parametrize("argv", [
    ["--workload", "no_such_workload", "--seed", "1", "--seconds", "1"],
    ["--workload", "wordcount", "--seed", "x", "--seconds", "1"],
])
def test_bad_arguments_exit_nonzero_without_result(argv):
    proc = subprocess.run([sys.executable, str(ROOT / "perfbench" / "run.py"), *argv],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


def test_self_time_subtracts_covered_child_intervals():
    tr = Tracer(True)
    root = tr.add("op", 0.0, 10.0)
    tr.add("a", 1.0, 4.0, root)
    tr.add("b", 3.0, 5.0, root)  # overlaps a
    tr.add("c", 9.0, 12.0, root)  # runs past the parent
    assert tr.self_times()[root] == pytest.approx(10.0 - 4.0 - 1.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    assert tr.add("op", 0.0, 1.0) is None
    assert tr.spans == []


def test_reap_waits_for_orphaned_grandchildren(tmp_path):
    # The shell exits at once; its background sleep is re-parented to the
    # subreaper, which must still find it, kill it after the grace time
    # and reap it.
    script = f"""
import subprocess, sys, time
sys.path.insert(0, {str(ROOT)!r})
from perfbench.measure import _descendants, adopt_orphans, reap_descendants
adopt_orphans()
subprocess.run(["sh", "-c", "sleep 60 & echo $!"], stdout=open("pid", "w"))
pid = int(open("pid").read())
assert pid in _descendants()
t0 = time.monotonic()
assert reap_descendants(grace_s=0.5) == [pid]
assert _descendants() == [] and time.monotonic() - t0 < 5
"""
    proc = subprocess.run([sys.executable, "-c", script], capture_output=True,
                          text=True, timeout=60, cwd=tmp_path)
    assert proc.returncode == 0, proc.stderr
