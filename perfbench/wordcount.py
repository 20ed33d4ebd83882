"""The ``wordcount`` workload: MapReduce-compat jobs through the daemon.

One client, closed loop: the daemon is launched through the CLI's
``_daemon`` verb on a free port with a private pidfile, each job is a
``new_manager_job`` message (``daemon.send_message``), and a job ends
when the daemon logs ``job complete`` or ``job failed``. A pass is one
job over a corpus made from the seed, with Zipf-distributed words; every
job's output is checked against the generator's counts.

In a traced run each job is also run in-process with ``operators.run_job``
on the same spec, under a job group, to read the MapReduce layer's stages.
"""

from __future__ import annotations

import json
import os
import queue
import random
import shutil
import socket
import subprocess
import sys
import threading
import time
from collections import Counter
from pathlib import Path

from perfbench.measure import (
    Tracer,
    add_stage_spans,
    end_to_end,
    median,
    more_passes,
    read_stages,
    start_session,
    stop_spark,
    totals,
)

WORDS_PER_FILE = 6_000
VOCABULARY = 3_000
ZIPF_S = 1.1
WORDS_PER_LINE = 12
#: Untimed jobs between the cold job and the measured warm jobs: the first
#: job after the cold one still runs ≈15 % slower than later ones.
WARMUP_JOBS = 1
#: A job that has not finished after this long counts as failed and ends the run.
JOB_TIMEOUT_S = 60.0
START_TIMEOUT_S = 90.0


def make_corpus(rng: random.Random, directory: Path, n_files: int) -> Counter:
    """Write ``n_files`` text files of Zipf-distributed words; return the
    exact word counts a word-count job must produce."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab: list[str] = []
    seen: set[str] = set()
    while len(vocab) < VOCABULARY:
        w = "".join(rng.choices(letters, k=rng.randint(2, 9)))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    weights = [1 / (rank + 1) ** ZIPF_S for rank in range(VOCABULARY)]
    counts: Counter = Counter()
    directory.mkdir(parents=True)
    for i in range(n_files):
        words = rng.choices(vocab, weights, k=WORDS_PER_FILE)
        counts.update(words)
        lines = (" ".join(words[j:j + WORDS_PER_LINE])
                 for j in range(0, len(words), WORDS_PER_LINE))
        (directory / f"file{i:02d}.txt").write_text("\n".join(lines) + "\n")
    return counts


def check_output(out_dir: Path, expected: Counter) -> list[str]:
    """Problems with a word-count output directory: every key must appear
    exactly once across the output files, with its exact count."""
    problems = []
    seen: dict[str, str] = {}
    for f in sorted(out_dir.glob("outputfile*")):
        for line in f.read_text().splitlines():
            key, sep, val = line.partition("\t")
            if not sep or not val.isdigit():
                problems.append(f"{f.name}: malformed line {line!r}")
                continue
            if key in seen:
                problems.append(f"{key!r} in both {seen[key]} and {f.name}")
                continue
            seen[key] = f.name
            if int(val) != expected.get(key):
                problems.append(f"{key!r}: count {val}, expected {expected.get(key)}")
    missing = expected.keys() - seen.keys()
    if missing:
        problems.append(f"{len(missing)} keys missing, e.g. {sorted(missing)[:3]}")
    return problems


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


class Daemon:
    """The engine daemon as a child process with a private pidfile."""

    def __init__(self, root: Path, tmp: Path) -> None:
        self.root = root
        self.pidfile = tmp / "daemon.pid"
        self.port = _free_port()
        self.done: queue.Queue[str] = queue.Queue()
        self.proc: subprocess.Popen | None = None

    def start(self) -> float:
        """Launch and wait for the pidfile; returns launch -> pidfile seconds."""
        from mapreduce_server_development_spark import daemon

        t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "mapreduce_server_development_spark.cli",
             "_daemon", "--port", str(self.port), "--pidfile", str(self.pidfile)],
            cwd=self.root, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True,
            env=dict(os.environ, PYTHONPATH=str(self.root)),
        )
        threading.Thread(target=self._read_log, daemon=True).start()
        while (info := daemon.read_pidfile(str(self.pidfile))) is None:
            if self.proc.poll() is not None or time.perf_counter() - t0 > START_TIMEOUT_S:
                raise RuntimeError("daemon did not come up")
            time.sleep(0.02)
        self.token = info["auth"]
        return time.perf_counter() - t0

    def _read_log(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(("job complete", "job failed")):
                self.done.put(line.strip())

    def submit(self, spec: dict) -> float:
        """Send one job; returns the send time in seconds."""
        from mapreduce_server_development_spark import daemon

        t0 = time.perf_counter()
        if not daemon.send_message(self.port, {"message_type": "new_manager_job",
                                               "auth": self.token, **spec}):
            raise RuntimeError("daemon refused the connection")
        return time.perf_counter() - t0

    def wait(self) -> str | None:
        """The job's completion line, or None after ``JOB_TIMEOUT_S``."""
        try:
            return self.done.get(timeout=JOB_TIMEOUT_S)
        except queue.Empty:
            return None

    def shutdown(self) -> bool:
        """Send ``shutdown``; True when the process exited and removed its
        pidfile. Kills it otherwise."""
        from mapreduce_server_development_spark import daemon

        daemon.send_message(self.port, {"message_type": "shutdown", "auth": self.token})
        try:
            self.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.kill()
            return False
        return self.proc.returncode == 0 and not self.pidfile.exists()

    def kill(self) -> None:
        if self.proc is not None and self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()


class InProcess:
    """The traced run's own session, running each job through ``run_job``."""

    def __init__(self) -> None:
        from mapreduce_server_development_spark import session

        self.session = session
        self.spark, self.times = start_session("perfbench-wordcount")
        self.cores = self.spark.sparkContext.defaultParallelism
        self.seq = 0

    def job(self, spec: dict, corpus_bytes: int, tracer: Tracer, root: int,
            layers: Counter, job_layers: list[dict]) -> None:
        from mapreduce_server_development_spark.operators import run_job

        self.seq += 1
        group = f"perfbench.mr.{self.seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, "wordcount")
        t0 = time.time()
        run_job(self.spark, **spec)
        t1 = time.time()
        released = self.session.release_checkpoints(self.spark)
        t2 = time.time()
        jobs, stages = read_stages(self.spark, group)
        span = tracer.add("mapreduce.job", t0, t1, root, jobs=jobs)
        add_stage_spans(tracer, stages, span, "mapreduce")
        tracer.add("session.release", t1, t2, root)
        kind = {"map": [], "group": [], "reduce": []}
        for st in stages:
            k = "map" if st["input_bytes"] else "reduce" if st["output_bytes"] else "group"
            kind[k].append(st)
        t = totals(stages)
        job_layers.append({
            "mapreduce.job_s": t1 - t0,
            "mapreduce.map_run_s": totals(kind["map"])["run_s"],
            "mapreduce.group_run_s": totals(kind["group"])["run_s"],
            "mapreduce.reduce_run_s": totals(kind["reduce"])["run_s"],
            "mapreduce.jobs": jobs,
            "mapreduce.stages": t["stages"],
            "mapreduce.tasks": t["tasks"],
            "mapreduce.shuffle_write_bytes": t["shuffle_write_bytes"],
            "mapreduce.output_bytes": t["output_bytes"],
            "mapreduce.input_read_ratio": t["input_bytes"] / corpus_bytes,
        })
        layers["session.release_s"] += t2 - t1
        layers["session.rdds_released"] += released
        layers["spark.action_s"] += t1 - t0
        layers["spark.jobs"] += jobs
        for key in ("stages", "tasks", "run_s", "cpu_s", "input_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes",
                    "shuffle_fetch_wait_s", "gc_s", "spill_bytes", "task_failures"):
            layers[f"spark.{key}"] += t[key]
        layers["spark.peak_exec_mem_bytes"] = max(
            layers["spark.peak_exec_mem_bytes"], t["peak_exec_mem_bytes"])

    def close(self) -> None:
        stop_spark(self.spark)


def run(root: Path, tmp: Path, seed: int, seconds: float,
        tracer: Tracer) -> tuple[dict, int, int]:
    """Set up (launch the daemon), then run one job per pass while
    ``more_passes`` says so. Returns (metrics, attempted, failed)."""
    n_files = max(4, len(os.sched_getaffinity(0)))  # at least one file per core
    corpus = tmp / "corpus"
    counts = make_corpus(random.Random(seed), corpus, n_files)
    corpus_bytes = sum(f.stat().st_size for f in corpus.iterdir())
    spec = {"input_directory": str(corpus),
            "mapper_executable": str(root / "exec" / "wc_map.py"),
            "reducer_executable": str(root / "exec" / "wc_reduce.py"),
            "num_mappers": n_files, "num_reducers": 4}

    daemon = Daemon(root, tmp)
    inproc = None
    pass_times, pass_layers, job_layers, submit_ms = [], [], [], []
    failed = ran = 0
    clean_exit = False
    try:
        start_s = daemon.start()
        if tracer.enabled:
            inproc = InProcess()
        while more_passes(pass_times, seconds):
            ran += 1
            # Warm-up jobs are checked, but left out of the metrics and spans.
            warmup = 1 < ran <= 1 + WARMUP_JOBS
            tr = Tracer(False) if warmup else tracer
            layers: Counter = Counter()
            out = tmp / f"out{ran}"
            root_start = time.time()
            t0 = time.perf_counter()
            send_s = daemon.submit({**spec, "output_directory": str(out)})
            line = daemon.wait()
            latency = time.perf_counter() - t0
            print(f"perfbench: job {ran} {latency:.3f}s {line}"
                  f"{' (warm-up)' if warmup else ''}", flush=True)
            problems = (["timed out"] if line is None else
                        [line] if line.startswith("job failed") else
                        check_output(out, counts))
            if problems:
                failed += 1
                print(f"perfbench: wordcount job failed: {problems[:3]}", flush=True)
            shutil.rmtree(out, ignore_errors=True)
            span = tr.add("op", root_start, time.time(), None, ok=not problems)
            tr.add("daemon.job", root_start, time.time(), span, submit_ms=send_s * 1e3)
            warm = bool(pass_times)
            if line is None or not warmup:
                pass_times.append(latency)
            if line is None:
                break
            if inproc is not None:
                o0 = time.perf_counter()
                inproc.job({**spec, "output_directory": str(tmp / "out-traced")},
                           corpus_bytes, tr, span, layers,
                           job_layers if warm and not warmup else [])
                layers["trace.overhead_s"] += time.perf_counter() - o0
                if not warmup:
                    tracer.spans[span].end = time.time()  # the op covers its traced rerun
                    pass_layers.append(layers)
                    if warm:
                        submit_ms.append(send_s * 1e3)
        clean_exit = daemon.shutdown()
    finally:
        daemon.kill()
        if inproc is not None:
            inproc.close()
    attempted = ran
    if not clean_exit:
        # The shutdown counts as a failed operation.
        print("perfbench: daemon did not shut down cleanly", flush=True)
        attempted += 1
        failed += 1
    metrics, notes = end_to_end(start_s, pass_times, pass_times[1:], attempted, failed)
    print(f"perfbench: wordcount {json.dumps(notes)}", flush=True)
    if tracer.enabled:
        warm = pass_layers[1:] or pass_layers
        out = {k: median([p[k] for p in warm]) for k in {k for p in warm for k in p}}
        out["spark.core_util"] = median([
            p["spark.run_s"] / (p["spark.action_s"] * inproc.cores) for p in warm])
        for k in job_layers[0] if job_layers else ():
            out[k] = median([j[k] for j in job_layers])
        out.update(inproc.times)
        out["daemon.start_s"] = start_s
        out["daemon.submit_ms"] = median(submit_ms) if submit_ms else 0.0
        out["trace.pass_s"] = median(pass_times[1:] or pass_times)
        out["trace.overhead_frac"] = out["trace.overhead_s"] / out["trace.pass_s"]
        metrics = out
    return metrics, attempted, failed
