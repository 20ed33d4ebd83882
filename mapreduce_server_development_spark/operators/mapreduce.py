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

Spark mapping — no line leaves the JVM, so no PySpark Python worker
runs during a job. Map: per file, the JVM ``textFile(f, 1).coalesce(1)
.pipe(argv)`` (``PipedRDD``: one subprocess per partition, elements on
stdin, one element per stdout line), the files' RDDs unioned. Group:
that ``JavaRDD[String]`` as a ``Dataset[String]``, ``repartition(n,
route)``, ``sortWithinPartitions(value || '\\n')``. Reduce: back to a
``JavaRDD[String]`` piped through the reducer; partition i becomes
``outputfile(i+1)``. A nonzero exit fails the task, so Spark's task
re-execution (F13) applies; the rest of the reference's operational
plane (FIFO job queue, load balancing, heartbeats — SURVEY §2.1
F9-F14) is the Spark scheduler and needs no code here.

Two grouping modes (the route column):

- ``compat=True`` (default): byte-exact reference semantics.
  ``dense_rank() over (order by value || '\\n')`` numbers the distinct
  lines; rank k's route is the BIGINT key that Spark's hash partitioner
  sends to partition ``(k-1) % n`` (``_route_keys``).
- ``compat=False``: route on the tab-key
  ``substring_index(value, '\\t', 1)``. Identical reduce results for
  key-based reducers (all shipped reference workloads), but line→file
  assignment differs from the golden splits.

Scale posture: no ``collect``. The compat rank is one window with no
PARTITION BY: every line funnels through a single sorted, spill-backed
window task — the same single-process merge the reference Manager does
(heapq k-way merge). A range-partitioned rank (``functions/prefix.py``)
measured slower on a fresh process's first job and no faster warm.
``compat=False`` keeps every stage parallel (SCALE.md).
"""

from __future__ import annotations

import os
import shlex
import shutil
from dataclasses import asdict, dataclass
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


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


def _argv(executable: str | list[str] | tuple[str, ...]) -> list[str]:
    """The argv for an executable spec.

    A list/tuple is taken token by token; a string is shlex-split, so
    ``"grep_map.py apple pie"`` runs the mapper with two arguments. No
    shell runs the command, so every token reaches the process verbatim.
    """
    if isinstance(executable, (list, tuple)):
        return [str(p) for p in executable]
    return shlex.split(str(executable))


def _pipe(jrdd, executable: str | list[str]):
    """Pipe each partition of a JVM ``JavaRDD[String]`` through one
    subprocess (``PipedRDD``, UTF-8 both ways). A nonzero exit FAILS
    the task instead of silently truncating its output."""
    return jrdd.pipe(_argv(executable), {}, False, 8192, "UTF-8")


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


def _pipe_per_file(sc: SparkContext, files: list[str], executable: str | list[str]):
    """Map stage: one subprocess per input file (per-file framing).

    ``textFile(f, 1).coalesce(1)`` keeps each file one partition, so
    each pipe invocation reads exactly one file on stdin — the
    reference worker's per-file Popen/communicate loop.
    """
    if not files:
        return sc._jsc.emptyRDD()
    rdds = sc._gateway.new_array(sc._jvm.org.apache.spark.api.java.JavaRDD, len(files))
    for i, f in enumerate(files):
        rdds[i] = _pipe(sc._jsc.textFile(f, 1).coalesce(1), executable)
    return sc._jsc.union(rdds)


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
    # Skip Hadoop marker/hidden files ('_SUCCESS', '.*.crc') — Hadoop
    # input formats ignore them, and piping them would corrupt results.
    files = sorted(
        str(p)
        for p in Path(input_directory).glob("*")
        if p.is_file() and not p.name.startswith((".", "_"))
    )
    files, tmpdir = _safe_input_paths(files)
    sc = spark.sparkContext
    n = max(1, num_reducers)
    strings = sc._jvm.org.apache.spark.sql.Encoders.STRING()
    try:
        mapped = _pipe_per_file(sc, files, mapper_executable)
        lines = spark._jsparkSession.createDataset(mapped.rdd(), strings).toDF()
        grouped = group_stage(DataFrame(lines, spark), n, compat)
        sorted_lines = getattr(grouped._jdf, "as")(strings).javaRDD()
        if sorted_lines.getNumPartitions() < n:
            # AQE plans an empty group stage as a 0-partition scan, but
            # the reference runs every reducer, on empty stdin if need be.
            sorted_lines = sc._jsc.parallelize([], n)
        # F7: one reducer subprocess per reduce partition, sorted lines
        # on stdin — partition i becomes outputfile(i+1).
        return _sink_numbered(_pipe(sorted_lines, reducer_executable), output_directory)
    finally:
        # The symlink detour (Hadoop-metachar file names) lives until
        # the sink's action has consumed every input.
        if tmpdir is not None:
            shutil.rmtree(tmpdir, ignore_errors=True)


_M32 = 0xFFFFFFFF


def _murmur3_long(x: int, seed: int = 42) -> int:
    """Spark SQL's ``hash(CAST(x AS BIGINT))``: Murmur3_x86_32
    ``hashLong`` with the SQL seed 42, as a signed 32-bit int."""

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (32 - r))) & _M32

    def mix(h: int, k: int) -> int:
        k = rotl((k * 0xCC9E2D51) & _M32, 15) * 0x1B873593 & _M32
        return (rotl(h ^ k, 13) * 5 + 0xE6546B64) & _M32

    x &= 0xFFFFFFFFFFFFFFFF
    h = mix(mix(seed, x & _M32), x >> 32) ^ 8
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & _M32
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h & 0x80000000 else h


def _route_keys(n: int) -> list[int]:
    """Key i is the smallest long that ``repartition(n, key)`` sends to
    partition i: Spark's hash partitioner is ``pmod(hash(key), n)``."""
    keys: dict[int, int] = {}
    x = 0
    while len(keys) < n:
        keys.setdefault(_murmur3_long(x) % n, x)
        x += 1
    return [keys[i] for i in range(n)]


def group_stage(lines: DataFrame, num_reducers: int, compat: bool = True) -> DataFrame:
    """Group stage: a ``value`` column of map-output lines ->
    ``num_reducers`` partitions, each sorted by ``value || '\\n'``;
    partition i feeds reducer i."""
    n = max(1, num_reducers)
    # The reference sorts newline-TERMINATED strings (readlines() then
    # sort(); heapq.merge of those runs): "a" vs "a\tb" order flips if
    # compared bare. Spark compares strings as UTF-8 bytes, which is
    # code point order, like Python's str.
    sort_key = F.concat("value", F.lit("\n"))
    if compat:
        # Rank and route come from the same row, so the mapper runs
        # once: joining lines back to their ranks would re-run it, and
        # a nondeterministic mapper's lines would match no rank.
        # The route keys must be BIGINT: an INT literal hashes
        # differently, and output files would silently swap contents.
        # A window cannot sit inside repartition(), hence withColumn.
        keys = F.array(*(F.lit(k).cast("long") for k in _route_keys(n)))
        rank = F.dense_rank().over(Window.orderBy(sort_key))
        route = F.element_at(keys, ((rank - 1) % n + 1).cast("int"))
    else:
        # Sorting by the full line keeps identical keys adjacent (keys
        # hold no tab), which is all a sort-contract reducer needs.
        route = F.substring_index("value", "\t", 1)
    routed = lines.withColumn("route", route).repartition(n, "route")
    return routed.sortWithinPartitions(sort_key).select("value")


def _sink_numbered(jrdd, output_directory: str) -> list[str]:
    """F8 sink: overwrite the output dir; part-i → outputfile(i+1).
    Shares the prepare/rename sequence with the DataFrame sink
    (sources/text.py) so the naming semantics can't drift."""
    from ..sources.text import collect_numbered_outputs, prepare_numbered_sink

    out, staging = prepare_numbered_sink(output_directory)
    jrdd.saveAsTextFile(str(staging))
    return collect_numbered_outputs(out, staging)


def submit(spark: SparkSession, spec: JobSpec, compat: bool = True) -> list[str]:
    """F15 job-submission API: run a JobSpec, return the output paths."""
    return run_job(spark, compat=compat, **asdict(spec))
