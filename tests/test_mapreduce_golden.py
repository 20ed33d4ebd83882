"""Golden-output tests for the MapReduce-compat job API.

Byte-exact comparison against the reference's own correct/*.txt files
(the reference's integration tests 01-03, SURVEY.md §5.1), run through
``run_job`` instead of manager/worker processes.
"""

from __future__ import annotations

import filecmp
import os
from pathlib import Path

import pytest

from .conftest import (
    REF_TESTDATA,
    REPO,
    SF_SMOKE,
    group_contract_model,
    needs_reference,
)

INPUT = REF_TESTDATA / "input"
EXEC = REF_TESTDATA / "exec"
CORRECT = REF_TESTDATA / "correct"


def _run(spark, tmp_path, mapper, reducer, nm, nr, compat=True):
    from mapreduce_server_development_spark.operators import run_job

    return run_job(
        spark,
        str(INPUT),
        str(tmp_path / "out"),
        str(EXEC / mapper),
        str(EXEC / reducer),
        nm,
        nr,
        compat=compat,
    )


@needs_reference
def test_wordcount_golden(spark, tmp_path):
    """Reference test_integration_02: wc 2 mappers / 1 reducer."""
    outs = _run(spark, tmp_path, "wc_map.sh", "wc_reduce.sh", 2, 1)
    assert len(outs) == 1
    assert filecmp.cmp(CORRECT / "word_count_correct.txt", outs[0], shallow=False)


@needs_reference
def test_grep_golden(spark, tmp_path):
    """Reference test_integration_01: grep 2 mappers / 1 reducer."""
    outs = _run(spark, tmp_path, "grep_map.py", "grep_reduce.py", 2, 1)
    assert len(outs) == 1
    assert filecmp.cmp(CORRECT / "grep_correct.txt", outs[0], shallow=False)


def _grep_expected(query: str) -> str:
    """Reference grep semantics computed in-process: map emits
    ``1\\t<line>`` for stripped non-empty lines containing ``query``
    (case-insensitive, grep_map.py:13-27), the group stage sorts all
    lines, grep_reduce.py prints the value column."""
    mapped: list[str] = []
    for f in sorted(INPUT.glob("*")):
        if f.name.startswith((".", "_")) or not f.is_file():
            continue
        for line in f.read_text(encoding="utf-8").splitlines():
            line = line.strip()
            if line and query in line.lower():
                mapped.append("1\t" + line)
    mapped.sort(key=lambda line: line + "\n")
    return "".join(line.split("\t", 1)[1] + "\n" for line in mapped)


@needs_reference
def test_grep_with_argument_list(spark, tmp_path):
    """Executable arguments, argv-list form: the reference's grep
    mapper takes an optional query term (grep_map.py:13-18) and
    submit.py accepts arbitrary executables — run_job must pass
    arguments through to the subprocess."""
    from mapreduce_server_development_spark.operators import run_job

    outs = run_job(
        spark,
        str(INPUT),
        str(tmp_path / "out"),
        [str(EXEC / "grep_map.py"), "money"],
        str(EXEC / "grep_reduce.py"),
        2,
        1,
    )
    assert len(outs) == 1
    with open(outs[0], encoding="utf-8") as f:
        assert f.read() == _grep_expected("money")


@needs_reference
def test_grep_with_argument_string(spark, tmp_path):
    """Executable arguments, shell-string form: ``"grep_map.py root"``
    is shlex-split into executable + argument."""
    from mapreduce_server_development_spark.operators import run_job

    outs = run_job(
        spark,
        str(INPUT),
        str(tmp_path / "out"),
        f"{EXEC / 'grep_map.py'} root",
        str(EXEC / "grep_reduce.py"),
        2,
        1,
    )
    assert len(outs) == 1
    with open(outs[0], encoding="utf-8") as f:
        assert f.read() == _grep_expected("root")


@needs_reference
def test_wordcount_multi_reducer(spark, tmp_path):
    """Reference test_integration_03: wc 4 mappers / 2 reducers — two
    output files whose sorted concatenation equals the golden bytes."""
    outs = _run(spark, tmp_path, "wc_map.sh", "wc_reduce.sh", 4, 2)
    assert len(outs) == 2
    lines: list[str] = []
    for o in outs:
        with open(o, encoding="utf-8") as f:
            lines += f.readlines()
    with open(CORRECT / "word_count_correct.txt", encoding="utf-8") as f:
        golden = f.readlines()
    assert sorted(lines) == sorted(golden)


@needs_reference
def test_wordcount_empty_token_line(spark, tmp_path):
    """E1 quirk: `tr` emits empty tokens; golden wc output keeps the
    bare `\\t9` line (SURVEY §2.2 E1)."""
    outs = _run(spark, tmp_path, "wc_map.sh", "wc_reduce.sh", 2, 1)
    with open(outs[0], encoding="utf-8") as f:
        first = f.readline()
    assert first == "\t9\n"


@needs_reference
def test_hash_grouping_same_reduce_results(spark, tmp_path):
    """compat=False (one-shuffle hash grouping) must produce the same
    multiset of reduce output lines as the golden run."""
    outs = _run(spark, tmp_path, "wc_map.sh", "wc_reduce.sh", 4, 2, compat=False)
    lines: list[str] = []
    for o in outs:
        with open(o, encoding="utf-8") as f:
            lines += f.readlines()
    with open(CORRECT / "word_count_correct.txt", encoding="utf-8") as f:
        golden = f.readlines()
    assert sorted(lines) == sorted(golden)


@needs_reference
def test_group_stage_round_robin_splits(spark):
    """F6 distinct-line round-robin: routing the golden mapper-output
    through the group stage reproduces the reference's reduce01/02
    files byte-exactly (reference test_manager_08)."""
    src = REF_TESTDATA / "test_manager_08/intermediate/job-0/mapper-output"
    golden_dir = REF_TESTDATA / "test_manager_08/correct/job-0/grouper-output"
    if not src.exists():
        pytest.skip("manager_08 fixtures not present")

    from mapreduce_server_development_spark.operators.mapreduce import group_stage

    files = sorted(str(p) for p in src.glob("file*"))
    grouped = group_stage(spark.read.text(files), 2)
    parts = grouped.rdd.map(lambda row: row.value).glom().collect()
    for i, name in enumerate(["reduce01", "reduce02"]):
        with open(golden_dir / name, encoding="utf-8") as f:
            golden = f.read()
        assert "".join(line + "\n" for line in parts[i]) == golden, name


def test_nondeterministic_mapper_loses_no_lines(spark, tmp_path):
    """The group stage evaluates the map output once: a mapper that
    emits a fresh random key per input line still gets every line
    through to the reducer. (Evaluating the mapper twice — once to
    rank the distinct lines, once to route them — would rank one run's
    keys and route another's, and every line would vanish.)"""
    import sys

    from mapreduce_server_development_spark.operators import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    for i in range(4):
        (indir / f"part{i}.txt").write_text(
            "".join(f"line {i} {j}\n" for j in range(250))
        )
    mapper = tmp_path / "uuid_map.py"
    mapper.write_text(
        "import sys, uuid\n"
        "for _ in sys.stdin:\n"
        "    print(uuid.uuid4().hex + '\\t1')\n"
    )
    outs = run_job(
        spark, str(indir), str(tmp_path / "out"),
        [sys.executable, str(mapper)], "cat", 2, 2,
    )
    n_out = sum(len(Path(o).read_text(encoding="utf-8").splitlines()) for o in outs)
    assert n_out == 1000


def test_group_contract_round_robin_model(spark, tmp_path):
    """``cat`` mapper and reducer over 3 reducers: each output file is
    the plain-Python model of the reference group stage — distinct
    lines sorted by ``line + "\\n"`` (so ``"a\\tb"`` sorts before
    ``"a"``), the line ranked k routed to file ``k % 3``, every copy of
    a line kept, each file sorted."""
    from mapreduce_server_development_spark.operators import run_job

    files = {
        "f1.txt": ["a", "a\tb", "c\t1", "b", "a", "a b", "c\t1"],
        "f2.txt": ["a\tb", "ab", "a\ta", "b\t2", "c\t1", "b", "zz"],
    }
    indir = tmp_path / "in"
    indir.mkdir()
    for name, lines in files.items():
        (indir / name).write_text("".join(line + "\n" for line in lines))
    n = 3
    outs = run_job(spark, str(indir), str(tmp_path / "out"), "cat", "cat", 2, n)

    lines = [line for ls in files.values() for line in ls]
    expected = group_contract_model(lines, n)
    # "a\tb" ranks 1 and "a" ranks 2: the newline-terminated sort.
    assert expected[1].startswith("a\tb\n") and expected[2].startswith("a\n")
    assert [Path(o).read_text(encoding="utf-8") for o in outs] == expected


def test_round_robin_partition():
    """F2: sorted file i → task i % n (reference manager test 05)."""
    from mapreduce_server_development_spark.operators import round_robin_partition

    files = [f"f0{i}" for i in range(1, 9)]
    tasks = round_robin_partition(files, 2)
    assert tasks[0] == ["f01", "f03", "f05", "f07"]
    assert tasks[1] == ["f02", "f04", "f06", "f08"]
    assert round_robin_partition([], 3) == [[], [], []]


@needs_reference
def test_output_overwrite(spark, tmp_path):
    """F8: re-running a job overwrites the output directory."""
    out = tmp_path / "out"
    out.mkdir()
    (out / "stale_file").write_text("stale")
    from mapreduce_server_development_spark.operators import run_job

    outs = run_job(
        spark,
        str(INPUT),
        str(out),
        str(EXEC / "grep_map.py"),
        str(EXEC / "grep_reduce.py"),
        2,
        1,
    )
    assert not (out / "stale_file").exists()
    assert len(outs) == 1


@needs_reference
def test_run_job_from_external_cwd(tmp_path):
    """A driver launched outside the repo root runs a job byte-exactly.

    The package is importable only on the driver there, so the job must
    need nothing of it on the executors: every stage is a JVM operator
    or a user executable. Run the wc golden job in a subprocess whose
    cwd is the temp dir.
    """
    import subprocess
    import sys as _sys

    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
import filecmp
from pyspark.sql import SparkSession
from mapreduce_server_development_spark.operators import run_job
spark = SparkSession.builder.master('local[4]').getOrCreate()
outs = run_job(spark, {str(INPUT)!r}, {str(tmp_path / 'out')!r},
               {str(EXEC / 'wc_map.sh')!r}, {str(EXEC / 'wc_reduce.sh')!r}, 2, 1)
assert filecmp.cmp({str(CORRECT / 'word_count_correct.txt')!r}, outs[0], shallow=False)
print('EXTERNAL_CWD_OK')
"""
    res = subprocess.run(
        [_sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "EXTERNAL_CWD_OK" in res.stdout, res.stderr[-2000:]


@needs_reference
def test_task_retry_on_mapper_failure(tmp_path):
    """F13: a mapper that crashes on its first attempt is re-executed.

    The reference golden-tests dead-worker reassignment
    (test_manager_05); the Spark analog is task re-execution. The
    flaky mapper wins an atomic mkdir exactly once and exits 1 that
    time; with ``local[4,2]`` (2 task attempts) the retried attempt
    sees the marker, runs the real wc map, and the job completes
    byte-exact. Needs its own session (maxFailures is fixed at session
    creation), so it runs in a subprocess like the external-cwd test.
    Also guards checkCode=True: without it, the failed pipe would
    SILENTLY truncate output instead of failing the task.
    """
    import subprocess
    import sys as _sys

    marker = tmp_path / "failed_once"
    flaky = tmp_path / "flaky_wc_map.sh"
    flaky.write_text(
        "#!/bin/bash\n"
        "set -Eeuo pipefail\n"
        f"if mkdir {marker} 2>/dev/null; then\n"
        "  echo 'simulated worker death' >&2; exit 1\n"
        "fi\n"
        f"exec {EXEC / 'wc_map.sh'}\n"
    )
    flaky.chmod(0o755)
    code = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
import filecmp
from pyspark.sql import SparkSession
from mapreduce_server_development_spark.operators import run_job
spark = SparkSession.builder.master('local[4,2]').getOrCreate()
outs = run_job(spark, {str(INPUT)!r}, {str(tmp_path / 'out')!r},
               {str(flaky)!r}, {str(EXEC / 'wc_reduce.sh')!r}, 2, 1)
assert filecmp.cmp({str(CORRECT / 'word_count_correct.txt')!r}, outs[0], shallow=False)
print('RETRY_OK')
"""
    res = subprocess.run(
        [_sys.executable, "-c", code],
        cwd=tmp_path,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RETRY_OK" in res.stdout, res.stderr[-2000:]
    assert marker.exists()  # the failure really happened


@needs_reference
def test_mapper_failure_fails_job_not_truncates(spark, tmp_path):
    """A permanently-failing mapper must FAIL the job (checkCode=True),
    never silently produce partial output — the reference worker
    reports task failure to the manager rather than writing bad data."""
    bad = tmp_path / "bad_map.sh"
    bad.write_text("#!/bin/bash\nexit 3\n")
    bad.chmod(0o755)
    from py4j.protocol import Py4JJavaError

    with pytest.raises(Py4JJavaError):
        _run_with(spark, tmp_path, str(bad), str(EXEC / "wc_reduce.sh"))


def _run_with(spark, tmp_path, mapper, reducer):
    from mapreduce_server_development_spark.operators import run_job

    return run_job(spark, str(INPUT), str(tmp_path / "out"), mapper, reducer, 2, 1)


@needs_reference
def test_concurrent_job_submission(spark, tmp_path):
    """F9 multi-job queueing (reference test_manager_04): two jobs
    submitted to the same engine at once both run to byte-exact
    completion. Spark's scheduler interleaves their stages across the
    shared executor pool — each thread's action is an independent job
    in the FIFO queue, no cross-talk in outputs."""
    import threading

    results: dict[str, list[str]] = {}
    errors: list[BaseException] = []

    def submit(tag, mapper, reducer):
        try:
            results[tag] = _run(
                spark, tmp_path / tag, mapper, reducer, 2, 1
            )
        except BaseException as e:  # noqa: BLE001 — surfaced below
            errors.append(e)

    t1 = threading.Thread(
        target=submit, args=("wc", "wc_map.sh", "wc_reduce.sh")
    )
    t2 = threading.Thread(
        target=submit, args=("grep", "grep_map.py", "grep_reduce.py")
    )
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors, errors
    assert filecmp.cmp(
        CORRECT / "word_count_correct.txt", results["wc"][0], shallow=False
    )
    assert filecmp.cmp(
        CORRECT / "grep_correct.txt", results["grep"][0], shallow=False
    )


@needs_reference
def test_empty_input_directory(spark, tmp_path):
    """A job over an empty input directory still runs the reduce stage
    (the reference's reducers execute regardless of mapper output) and
    produces one EMPTY output file per reducer — no crash, no stale
    output dir."""
    from mapreduce_server_development_spark.operators import run_job

    empty_in = tmp_path / "empty"
    empty_in.mkdir()
    out = tmp_path / "out"
    outs = run_job(
        spark,
        str(empty_in),
        str(out),
        str(EXEC / "wc_map.sh"),
        str(EXEC / "wc_reduce.sh"),
        2,
        1,
    )
    assert [o.rsplit("/", 1)[1] for o in outs] == ["outputfile01"]
    with open(outs[0], encoding="utf-8") as f:
        assert f.read() == ""


@needs_reference
def test_input_files_with_hadoop_metachars(spark, tmp_path):
    """sc.textFile comma-splits and glob-expands its path string; file
    names containing , * ? [ ] { } must still be read byte-exactly
    (the reference worker opens files directly and accepts any name)."""
    from mapreduce_server_development_spark.operators import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "a,b.txt").write_text("hello world\n")
    (indir / "log[1].txt").write_text("hello again\n")
    (indir / "plain.txt").write_text("world again\n")
    outs = run_job(
        spark,
        str(indir),
        str(tmp_path / "out"),
        str(EXEC / "wc_map.sh"),
        str(EXEC / "wc_reduce.sh"),
        num_reducers=1,
    )
    text = Path(outs[0]).read_text()
    counts = dict(
        line.split("\t") for line in text.strip().split("\n") if line
    )
    assert counts["hello"] == "2"
    assert counts["world"] == "2"
    assert counts["again"] == "2"


_HEADER_REDUCER = ["sh", "-c", "echo header; cat"]


def test_empty_input_dir_runs_every_reducer(spark, tmp_path):
    """An empty input directory still runs each of the n reducers once,
    on empty stdin: AQE plans the empty group stage with no partitions,
    and the reduce stage must not inherit that."""
    from mapreduce_server_development_spark.operators import run_job

    empty_in = tmp_path / "empty"
    empty_in.mkdir()
    outs = run_job(spark, str(empty_in), str(tmp_path / "out"), "cat", _HEADER_REDUCER, 2, 3)
    assert [Path(o).read_text(encoding="utf-8") for o in outs] == ["header\n"] * 3


def test_silent_mapper_runs_every_reducer(spark, tmp_path):
    """A mapper that prints nothing leaves every reducer its own empty
    input file, as the reference does."""
    from mapreduce_server_development_spark.operators import run_job

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "f.txt").write_text("a\nb\n")
    outs = run_job(spark, str(indir), str(tmp_path / "out"), "true", _HEADER_REDUCER, 2, 2)
    assert [Path(o).read_text(encoding="utf-8") for o in outs] == ["header\n"] * 2


def test_murmur3_long_matches_spark_hash_partitioning(spark):
    """``_murmur3_long(x) % n`` is Spark's hash partition of a BIGINT
    key, ``pmod(hash(CAST(x AS BIGINT)), n)``, and each route key lands
    on its own reducer's partition."""
    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.operators.mapreduce import (
        _murmur3_long,
        _route_keys,
    )

    rows = (
        spark.range(0, 201)
        .crossJoin(spark.range(1, 17).withColumnRenamed("id", "n"))
        .select("id", "n", F.pmod(F.hash(F.col("id").cast("long")), F.col("n")).alias("p"))
        .collect()
    )
    assert len(rows) == 201 * 16
    assert all(_murmur3_long(r.id) % r.n == r.p for r in rows)
    for n in range(1, 17):
        assert [_murmur3_long(k) % n for k in _route_keys(n)] == list(range(n))


def test_job_starts_no_python_worker(tmp_path):
    """Every stage of a job runs in the JVM: after a job in a fresh
    session, no ``pyspark.daemon`` process hangs under the gateway JVM.
    A Python ``map`` in the same session then starts one, which shows
    the check can see it."""
    import subprocess
    import sys as _sys

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "f.txt").write_text("b a\na c\n")
    code = f"""
import os
from mapreduce_server_development_spark.operators import run_job
from mapreduce_server_development_spark.session import get_spark

def python_workers(root):
    children = {{}}
    for d in filter(str.isdigit, os.listdir('/proc')):
        try:
            with open(f'/proc/{{d}}/stat') as f:
                ppid = int(f.read().rsplit(')', 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    found, todo = [], [root]
    while todo:
        for pid in children.get(todo.pop(), []):
            todo.append(pid)
            try:
                with open(f'/proc/{{pid}}/cmdline', 'rb') as f:
                    if b'pyspark.daemon' in f.read():
                        found.append(pid)
            except OSError:
                pass
    return found

spark = get_spark(app_name='no-python-worker', master='local[2]')
sc = spark.sparkContext
jvm = sc._gateway.proc.pid
outs = run_job(spark, {str(indir)!r}, {str(tmp_path / 'out')!r}, 'cat', 'cat', 1, 2)
print('JOB_OUTPUTS', len(outs))
print('AFTER_JOB', python_workers(jvm))
sc.parallelize([1, 2], 2).map(lambda x: x + 1).collect()
print('AFTER_PYTHON_MAP', python_workers(jvm))
"""
    res = subprocess.run(
        [_sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "PYTHONPATH": str(REPO)},
        capture_output=True,
        text=True,
        timeout=300,
    )
    out = dict(
        line.split(" ", 1) for line in res.stdout.splitlines() if line.startswith(("JOB_", "AFTER_"))
    )
    assert out.get("JOB_OUTPUTS") == "2", res.stderr[-2000:]
    assert out["AFTER_JOB"] == "[]"
    assert out["AFTER_PYTHON_MAP"] != "[]"


def test_pipe_wordcount_removes_its_temp_dir(spark, tmp_path, monkeypatch):
    """q_pipe_wordcount dumps the documents and runs a job under a
    temporary directory; once its result is built the directory is
    gone, and the result still reads."""
    import tempfile

    import __spark_entry__ as entry

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    rows = entry.queries()["q_pipe_wordcount"](spark, SF_SMOKE).collect()
    assert rows and all(r["cnt"] > 0 for r in rows)
    assert not list(tmp_path.glob("pipe_wc_*"))
