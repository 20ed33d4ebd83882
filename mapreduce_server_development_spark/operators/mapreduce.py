"""MapReduce-compat job API: arbitrary executables as map/reduce ops.

The reference engine's entire query language is "run an executable over
a directory of text files" (SURVEY.md §2.1-2.2):

- job spec: ``{input_directory, output_directory, mapper_executable,
  reducer_executable, num_mappers, num_reducers}``
  (reference: mapreduce/submit.py:68-76);
- map contract: one subprocess per input file, file contents on stdin,
  stdout captured (reference: mapreduce/worker/__main__.py:144-168);
- group contract: all map-output lines sorted lexicographically as
  newline-terminated strings, then a counter that increments on each
  DISTINCT line routes the line to reduce file ``count % num_reducers``
  (reference: mapreduce/manager/__main__.py:587-593 — note the quirk:
  the grouping unit is the whole ``key\\tvalue`` line, not the key);
- reduce contract: one subprocess per reduce partition, sorted lines on
  stdin, stdout captured (reference reuses worker/__main__.py:144-168);
- sink: output dir overwritten, results named ``outputfile01..NN``
  (reference: mapreduce/manager/__main__.py:738-761).

Spark mapping: ``rdd.pipe`` is the literal subprocess/stdin/stdout
analog (one pipe invocation per partition); the group stage is Spark's
shuffle. Everything the reference's Manager/Worker processes do
operationally — FIFO job queue, dynamic load balancing, heartbeats,
task re-execution, straggler handling (SURVEY §2.1 F9-F14) — is the
Spark scheduler and needs no code here.

Two grouping modes:

- ``compat=True`` (default): byte-exact reference semantics — global
  lexicographic sort + distinct-line round-robin routing. Costs a
  count + sort of the distinct map-output lines; use for golden parity.
- ``compat=False``: the 100 TB path — hash-partition on the tab-key
  with ONE shuffle (``repartitionAndSortWithinPartitions``); identical
  reduce results for key-based reducers (all shipped reference
  workloads), but line→file assignment differs from the golden splits.

Scale posture: no ``collect`` anywhere; the sort is Spark's
range-partitioned external sort (spill-backed — the analog of the
reference's heapq k-way merge under its tested 1 MB bound); the
per-file subprocess framing in the map stage matches the reference
exactly and parallelizes per file.
"""

from __future__ import annotations

import itertools
import operator
import os
import shlex
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

from pyspark import RDD, SparkContext
from pyspark.rdd import portable_hash
from pyspark.sql import SparkSession


@dataclass
class JobSpec:
    """A MapReduce job, mirroring the reference's new_manager_job dict
    (mapreduce/submit.py:68-76; defaults from submit.py:24-56).

    Executables may carry arguments — the reference's grep mapper takes
    an optional query term (tests/testdata/exec/grep_map.py:13-18) —
    either as an argv list (``["grep_map.py", "apple"]``, unambiguous)
    or as a shell-style string (``"grep_map.py apple"``, split with
    shlex)."""

    input_directory: str
    output_directory: str
    mapper_executable: str | list[str]
    reducer_executable: str | list[str]
    num_mappers: int = 4
    num_reducers: int = 1


def _cmd(executable: str | list[str] | tuple[str, ...]) -> str:
    """Build the shell command for an executable spec.

    A list/tuple is treated as argv tokens (each quoted); a string is
    shlex-split first, so ``"grep_map.py apple pie"`` runs the mapper
    with two arguments. Paths containing spaces must use the list form.
    """
    parts = (
        list(executable)
        if isinstance(executable, (list, tuple))
        else shlex.split(str(executable))
    )
    return " ".join(shlex.quote(p) for p in parts)


def round_robin_partition(files: list[str], num_tasks: int) -> list[list[str]]:
    """F2: sorted file *i* → task ``i % num_tasks``.

    (reference: mapreduce/manager/__main__.py:402-423). Metadata-level
    parity only — task grouping affects scheduling, never results,
    because each file is piped through its own subprocess regardless.
    """
    tasks: list[list[str]] = [[] for _ in range(max(1, num_tasks))]
    for i, f in enumerate(sorted(files)):
        tasks[i % max(1, num_tasks)].append(f)
    return tasks


def _make_sort_key():
    # The reference sorts newline-TERMINATED strings (readlines() then
    # sort(); heapq.merge of those runs). "a" vs "a\tb" order flips if
    # compared bare, so the trailing newline is part of the sort key.
    # Returned as a locally-defined closure so cloudpickle ships it BY
    # VALUE: a module-level function would be pickled by reference and
    # executors would need this package importable (it is not, when the
    # driver runs from outside the repo).
    def _sort_key(line: str) -> str:
        return line + "\n"

    return _sort_key


def _pipe_per_file(sc: SparkContext, files: list[str], executable: str | list[str]) -> RDD:
    """Map stage: one subprocess per input file (per-file framing).

    ``sc.textFile(f).coalesce(1).pipe(cmd)`` = read the file, feed its
    lines to the executable's stdin, one element per stdout line —
    exactly the reference worker's per-file Popen/communicate loop.

    ``checkCode=True`` so a nonzero exit FAILS the task (instead of
    silently truncating its output) and Spark's task re-execution —
    F13, the reference manager's dead-worker reassignment — kicks in.
    """
    cmd = _cmd(executable)
    rdds = [sc.textFile(f, 1).coalesce(1).pipe(cmd, checkCode=True) for f in files]
    if not rdds:
        return sc.emptyRDD()
    return sc.union(rdds)


#: Characters Hadoop's path resolution treats specially: textFile's
#: path string is comma-split into multiple paths, then each is a glob.
_HADOOP_PATH_SPECIALS = ",{}[]*?"


def _safe_input_paths(files: list[str]) -> tuple[list[str], str | None]:
    """Route file paths containing Hadoop glob/comma metacharacters
    through temp symlinks with safe names.

    ``sc.textFile("a,b.txt")`` reads two nonexistent paths, and
    ``log[1].txt`` is a character-class glob — the reference worker
    opens files directly and handles any name, so parity requires the
    detour. Returns (paths, tempdir-to-clean or None); the symlinks
    must outlive the job's action, so the caller cleans up after the
    sink completes.
    """
    import tempfile

    safe: list[str] = []
    tmpdir: str | None = None
    for f in files:
        if any(ch in f for ch in _HADOOP_PATH_SPECIALS):
            if tmpdir is None:
                tmpdir = tempfile.mkdtemp(prefix="mr_safe_inputs_")
            link = os.path.join(tmpdir, f"input{len(safe):05d}")
            os.symlink(os.path.abspath(f), link)
            safe.append(link)
        else:
            safe.append(f)
    return safe, tmpdir


def run_job(
    spark: SparkSession,
    input_directory: str,
    output_directory: str,
    mapper_executable: str | list[str],
    reducer_executable: str | list[str],
    num_mappers: int = 4,
    num_reducers: int = 1,
    compat: bool = True,
) -> list[str]:
    """Run a full map → group → reduce → sink job; returns output paths.

    Synchronous (the Spark action IS the job); multi-job queueing,
    load balancing and fault recovery are the Spark scheduler's.
    """
    sc = spark.sparkContext
    # Skip Hadoop marker/hidden files ('_SUCCESS', '.*.crc') — Hadoop
    # input formats ignore them, and piping them would corrupt results.
    files = sorted(
        str(p)
        for p in Path(input_directory).glob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )
    files, tmpdir = _safe_input_paths(files)
    try:
        return _run_job_stages(
            sc,
            files,
            output_directory,
            mapper_executable,
            reducer_executable,
            num_reducers,
            compat,
        )
    finally:
        # The symlink detour (Hadoop-metachar file names) lives until
        # the sink's action has consumed every input.
        if tmpdir is not None:
            shutil.rmtree(tmpdir, ignore_errors=True)


def _run_job_stages(
    sc: SparkContext,
    files: list[str],
    output_directory: str,
    mapper_executable: str | list[str],
    reducer_executable: str | list[str],
    num_reducers: int,
    compat: bool,
) -> list[str]:
    mapped = _pipe_per_file(sc, files, mapper_executable)
    sorted_lines = group_stage(mapped, num_reducers, compat)

    # F7: one reducer subprocess per reduce partition, sorted lines on
    # stdin — partition i becomes outputfile(i+1).
    reduced = sorted_lines.pipe(_cmd(reducer_executable), checkCode=True)

    return _sink_numbered(reduced, output_directory)


def group_stage(mapped: RDD, num_reducers: int, compat: bool = True) -> RDD:
    """Group stage: map-output lines -> ``num_reducers`` partitions,
    each sorted by ``line + "\\n"``; partition i feeds reducer i."""
    n = max(1, num_reducers)
    sort_key = _make_sort_key()
    if compat:
        # Global dense rank over distinct lines (sorted), then route
        # line -> rank % n. Each distinct line is counted once and
        # re-emitted count times, so the mapper output is evaluated
        # ONCE: a second evaluation (a join back against the ranks)
        # would re-run every mapper, and a non-deterministic mapper's
        # lines would then match no rank and vanish silently.
        routed = (
            mapped.map(lambda line: (line, 1))
            .reduceByKey(operator.add)
            .sortBy(lambda kv: sort_key(kv[0]))
            .zipWithIndex()
            .flatMap(
                lambda kvr: itertools.repeat(
                    ((kvr[1] % n, sort_key(kvr[0][0])), kvr[0][0]), kvr[0][1]
                )
            )
        )
    else:
        # One-shuffle path: hash the tab-separated key. Sorting by the
        # full line keeps identical keys adjacent (keys contain no tab),
        # which is all a sort-contract reducer (`uniq -c`) needs.
        routed = mapped.map(
            lambda line: (
                (portable_hash(line.split("\t", 1)[0]) % n, sort_key(line)),
                line,
            )
        )
    grouped = routed.repartitionAndSortWithinPartitions(
        numPartitions=n, partitionFunc=lambda k: k[0]
    )
    return grouped.map(lambda kv: kv[1], preservesPartitioning=True)


def _sink_numbered(rdd: RDD, output_directory: str) -> list[str]:
    """F8 sink: overwrite the output dir; part-i → outputfile(i+1).
    Shares the prepare/rename sequence with the DataFrame sink
    (sources/text.py) so the naming semantics can't drift."""
    from ..sources.text import collect_numbered_outputs, prepare_numbered_sink

    out, staging = prepare_numbered_sink(output_directory)
    rdd.saveAsTextFile(str(staging))
    return collect_numbered_outputs(out, staging)


def submit(spark: SparkSession, spec: JobSpec, compat: bool = True) -> list[str]:
    """F15 job-submission API: run a JobSpec, return the output paths."""
    return run_job(spark, compat=compat, **asdict(spec))
