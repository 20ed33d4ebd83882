"""Shared measurement pieces: the run sandbox, statistics, spans and the
Spark status-store reader every workload uses."""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path
from statistics import median

#: A tail percentile is reported only with at least this many samples above it.
TAIL_BEYOND = 10
TAIL_GRID = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started (Linux /proc),
    so set-up time includes interpreter start and imports."""
    fields = Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat(5)
    btime = next(
        int(line.split()[1])
        for line in Path("/proc/stat").read_text().splitlines()
        if line.startswith("btime ")
    )
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def adopt_orphans() -> None:
    """Make this process the child subreaper (Linux ``prctl``), so that a
    descendant whose parent exits first -- the daemon's JVM, PySpark's
    worker daemons -- is re-parented here rather than to init, and
    ``reap_descendants`` can still find and wait for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    """Processes below this one in the process tree, zombies included: a
    JVM's main thread shows as a zombie until its last thread has ended,
    and only then can it be reaped."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while we looked
        children.setdefault(int(fields[1]), []).append(int(d.name))
    out, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            todo.append(pid)
            out.append(pid)
    return out


def _reap_zombies() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace_s: float = 30.0) -> list[int]:
    """Wait until every descendant process has exited, killing those
    still alive after ``grace_s`` seconds; returns the pids killed."""
    import signal

    deadline = time.monotonic() + grace_s
    killed: list[int] = []
    while True:
        _reap_zombies()
        alive = _descendants()
        if not alive:
            return killed
        if time.monotonic() > deadline + 10:
            return killed  # SIGKILL sent; nothing more can be done
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed.extend(p for p in alive if p not in killed)
        time.sleep(0.05)


class Sandbox:
    """Keeps every file the run and its children write inside the checkout.

    Temp files (Python, the JVM, Spark block managers, the daemon's
    runtime dir) go to a per-process directory removed by ``close``;
    traces go to ``trace_dir`` and are kept."""

    def __init__(self, root: Path) -> None:
        run_dir = root / "perfbench" / ".run"
        self.tmp = run_dir / "tmp" / str(os.getpid())
        self.trace_dir = run_dir / "traces"
        self.tmp.mkdir(parents=True, exist_ok=True)
        self.trace_dir.mkdir(parents=True, exist_ok=True)
        os.environ.update(
            TMPDIR=str(self.tmp),
            SPARK_LOCAL_DIRS=str(self.tmp / "spark"),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            # local[nproc]: one Spark process using every core this run may use.
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        )
        os.environ.pop("XDG_RUNTIME_DIR", None)

    def close(self) -> None:
        shutil.rmtree(self.tmp, ignore_errors=True)


def tail_percentile(n: int) -> float:
    """Highest percentile of ``TAIL_GRID`` whose nearest-rank value still
    has ``TAIL_BEYOND`` samples above it. Below ``2 * TAIL_BEYOND``
    samples not even the median qualifies, and the maximum (100) is used."""
    for p in TAIL_GRID:
        if n - _rank(p, n) >= TAIL_BEYOND:
            return p
    return 100.0


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of percentile ``p`` among ``n`` samples
    (rounded first, so 99.9 % of 10 000 is rank 9990, not 9991)."""
    return max(1, math.ceil(round(p * n / 100, 9)))


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    return sorted(xs)[_rank(p, len(xs)) - 1]


def more_passes(passes: list[float], seconds: float) -> bool:
    """After the cold pass, measure whole warm passes until their time
    reaches ``seconds``."""
    return len(passes) < 2 or sum(passes[1:]) < seconds


def end_to_end(setup_s: float, passes: list[float], op_times: list[float],
               attempted: int, failed: int) -> tuple[dict, dict]:
    """The six end-to-end metrics from one run's samples.

    ``passes[0]`` is the cold pass and ``op_times`` the warm operations;
    a run cut short in its cold pass reports the cold pass for both.
    Returns (metrics, notes), where notes give the tail percentile and
    the sample counts behind the medians."""
    warm = passes[1:] or passes[:1]
    op_times = op_times or warm
    p = tail_percentile(len(op_times))
    metrics = {
        "setup_s": setup_s,
        "cold_pass_s": passes[0],
        "pass_s": median(warm),
        "op_p50_s": median(op_times),
        "op_tail_s": percentile(op_times, p),
        "ok_frac": 1.0 - failed / attempted,
    }
    notes = {"op_tail_percentile": p, "warm_ops": len(op_times),
             "warm_passes": len(warm)}
    return metrics, notes


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans (epoch seconds), written once when the run ends.

    Disabled tracers record nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int | None:
        if not self.enabled:
            return None
        self.spans.append(Span(len(self.spans), name, start, end, parent, attrs))
        return len(self.spans) - 1

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.id] = (s.end - s.start) - covered
        return out

    def dump(self, path: Path) -> None:
        selfs = self.self_times()
        path.write_text(json.dumps(
            [{**asdict(s), "self_s": selfs[s.id]} for s in self.spans]
        ))


#: StageData getter -> (total key, scale to the reported unit).
_STAGE_FIELDS = {
    "numTasks": ("tasks", 1),
    "executorRunTime": ("run_s", 1e-3),
    "executorCpuTime": ("cpu_s", 1e-9),
    "inputBytes": ("input_bytes", 1),
    "outputBytes": ("output_bytes", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
    "shuffleFetchWaitTime": ("shuffle_fetch_wait_s", 1e-3),
    "jvmGcTime": ("gc_s", 1e-3),
    "memoryBytesSpilled": ("spill_bytes", 1),
    "diskBytesSpilled": ("spill_bytes", 1),
    "numFailedTasks": ("task_failures", 1),
}


def read_stages(spark, group: str) -> tuple[int, list[dict]]:
    """Jobs and executed stages of one job group, from the status store
    (which Spark keeps with the UI disabled). Stages AQE skipped are left
    out. Each stage dict holds the ``_STAGE_FIELDS`` totals plus its
    peak execution memory and submission/completion times."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = []
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            sd = store.lastStageAttempt(sid)
            if str(sd.status()) == "SKIPPED":
                continue
            st = {"stage_id": sid, "peak_exec_mem_bytes": sd.peakExecutionMemory()}
            for getter, (key, scale) in _STAGE_FIELDS.items():
                st[key] = st.get(key, 0) + getattr(sd, getter)() * scale
            sub, done = sd.submissionTime(), sd.completionTime()
            st["start"] = sub.get().getTime() / 1e3 if sub.isDefined() else None
            st["end"] = done.get().getTime() / 1e3 if done.isDefined() else None
            stages.append(st)
    return len(job_ids), stages


def totals(stages: list[dict]) -> dict:
    """Sum the stage counters; peak memory is the largest stage's."""
    keys = {key for key, _ in _STAGE_FIELDS.values()}
    out = dict.fromkeys(keys, 0)
    out["peak_exec_mem_bytes"] = 0
    for st in stages:
        for key in keys:
            out[key] += st[key]
        out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                         st["peak_exec_mem_bytes"])
    out["stages"] = len(stages)
    return out


def add_stage_spans(tracer: Tracer, stages: list[dict], parent: int | None,
                    prefix: str) -> None:
    for st in stages:
        if st["start"] is not None and st["end"] is not None:
            tracer.add(f"{prefix}.stage", st["start"], st["end"], parent,
                       stage_id=st["stage_id"], tasks=st["tasks"],
                       run_s=st["run_s"])


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def start_session(app_name: str):
    """``get_spark``, then one trivial job and the between-operation
    cleanup. Returns the session and the two set-up times."""
    from mapreduce_server_development_spark.session import get_spark, release_checkpoints

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name)
    t1 = time.perf_counter()
    spark.range(1).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    release_checkpoints(spark)
    return spark, {"session.get_spark_s": t1 - t0,
                   "session.first_job_s": time.perf_counter() - t1}
