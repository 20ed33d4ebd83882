"""Query workloads: registry queries driven to the noop sink, one client,
closed loop, in one ``local[nproc]`` Spark process.

Each pass runs every query of the workload once, in an order shuffled
from the seed; the inputs are the fixture tables under ``data/``. Every
result is checked against the DuckDB-oracle digest in ``expected.json``
outside the timers."""

from __future__ import annotations

import hashlib
import json
import random
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

HERE = Path(__file__).resolve().parent
EXPECTED = HERE / "expected.json"

#: workload -> (fixture directory, queries of one pass)
WORKLOADS = {
    # Iterative graph/ML family. q_betweenness spends most of its time in
    # plan construction, running one small eager-checkpoint job per BFS
    # level, and q_hits one per half-round; q_als_rank1 is the
    # action-bound control. The control goes first, so the cold pass's
    # JVM warm-up lands on the cheaper query. q_hits also sits between
    # the other two in latency, so the median operation is one of its
    # runs rather than a point in the gap between two modes.
    "iterative": (HERE / "data" / "sf0.01",
                  ("q_als_rank1", "q_hits", "q_betweenness")),
}

#: An operation slower than this counts as failed and ends the run.
OP_TIMEOUT_S = 60.0


def digest(rows, cols) -> str:
    """Order-insensitive result digest under the oracle's canonical form."""
    from mapreduce_server_development_spark.oracle_compare import canon_rows

    cols = [c.lower() for c in cols]
    canon = canon_rows([tuple(r) for r in rows], cols)
    return hashlib.sha256(json.dumps([sorted(cols), canon]).encode()).hexdigest()


def _storage_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def _plan(df) -> dict[str, float]:
    """Force physical planning; return Catalyst phase ms from the tracker."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(qe.tracker().phases())
    return {k: phases.get(k).durationMs() for k in phases.keySet()}


class QueryRunner:
    """One Spark session running a workload's queries."""

    def __init__(self, workload: str, seed: int, tracer: Tracer) -> None:
        self.sf_dir, self.names = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.expected = json.loads(EXPECTED.read_text())[workload]
        self.seq = 0
        self.spark = None

    def setup(self) -> dict:
        """Imports, ``start_session``; returns the set-up times and the
        wall-clock time the session became ready."""
        import __spark_entry__
        from mapreduce_server_development_spark import session

        self.session = session
        self.queries = __spark_entry__.queries()
        self.spark, times = start_session("perfbench")
        self.cores = self.spark.sparkContext.defaultParallelism
        return {**times, "ready": time.time()}

    def hygiene(self) -> int:
        self.spark.catalog.clearCache()
        return self.session.release_checkpoints(self.spark)

    def op(self, name: str, layers: Counter) -> tuple[float, bool]:
        """Run one query to the noop sink; returns (latency, ok).

        The latency covers construction and the final action. The
        digest check and the cleanup after it are outside it; the
        cleanup is added to ``layers["pass_extra_s"]``, which the pass
        time includes."""
        sc = self.spark.sparkContext
        self.seq += 1
        gid = f"perfbench.{self.seq}"
        traced = self.tracer.enabled
        root_start = time.time()
        ok = True
        df = None
        t_build = t_plan = t_action = (root_start, root_start)
        phases: dict[str, float] = {}
        # Watchdog: a hung job is cancelled, so the op fails instead of
        # stalling the run.
        watchdog = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        watchdog.start()
        t0 = time.perf_counter()
        try:
            sc.setJobGroup(f"{gid}.build", name)
            b0 = time.time()
            df = self.queries[name](self.spark, str(self.sf_dir))
            t_build = (b0, time.time())
            if traced:
                sc.setJobGroup(f"{gid}.plan", name)
                phases = _plan(df)
                t_plan = (t_build[1], time.time())
            sc.setJobGroup(f"{gid}.action", name)
            df.write.format("noop").mode("overwrite").save()
            t_action = (t_plan[1] if traced else t_build[1], time.time())
        except Exception as e:  # noqa: BLE001 — a failed query is a measured outcome
            print(f"perfbench: {name} failed: {type(e).__name__}: {e}", flush=True)
            ok = False
        finally:
            watchdog.cancel()
        latency = time.perf_counter() - t0
        if latency > OP_TIMEOUT_S:
            print(f"perfbench: {name} exceeded {OP_TIMEOUT_S}s", flush=True)
            ok = False
        if ok:
            sc.setJobGroup(f"{gid}.check", name)
            try:
                got = digest(df.collect(), df.columns)
            except Exception as e:  # noqa: BLE001
                print(f"perfbench: {name} check failed: {type(e).__name__}: {e}",
                      flush=True)
                got = None
            if got != self.expected[name]:
                print(f"perfbench: {name} result digest mismatch", flush=True)
                ok = False
        held = _storage_bytes(self.spark) if traced else 0
        h0 = time.time()
        released = self.hygiene()
        h1 = time.time()
        layers["pass_extra_s"] += h1 - h0
        if traced:
            o0 = time.perf_counter()
            root = self.tracer.add("op", root_start, h1, None, query=name, ok=ok)
            self._trace_op(gid, root, t_build, t_plan, t_action, phases,
                           (h0, h1), layers)
            layers["session.release_s"] += h1 - h0
            layers["session.rdds_released"] += released
            layers["session.checkpoint_bytes"] += held
            layers["trace.overhead_s"] += time.perf_counter() - o0
        return latency, ok

    def _trace_op(self, gid, root, t_build, t_plan, t_action, phases,
                  release, layers: Counter) -> None:
        tr = self.tracer
        build_jobs, build_stages = read_stages(self.spark, f"{gid}.build")
        action_jobs, action_stages = read_stages(self.spark, f"{gid}.action")
        b, a = totals(build_stages), totals(action_stages)
        add_stage_spans(tr, build_stages, tr.add("plans.build", *t_build, root,
                                                 jobs=build_jobs), "plans")
        tr.add("spark.plan", *t_plan, root, phases_ms=phases)
        add_stage_spans(tr, action_stages, tr.add("spark.action", *t_action, root,
                                                  jobs=action_jobs), "spark")
        tr.add("session.release", *release, root)
        layers["plans.build_s"] += t_build[1] - t_build[0]
        layers["plans.build_jobs"] += build_jobs
        layers["plans.build_tasks"] += b["tasks"]
        layers["plans.build_run_s"] += b["run_s"]
        layers["spark.plan_ms"] += sum(phases.values())
        layers["spark.action_s"] += t_action[1] - t_action[0]
        layers["spark.jobs"] += action_jobs
        for key in ("stages", "tasks", "run_s", "cpu_s", "input_bytes",
                    "shuffle_read_bytes", "shuffle_write_bytes",
                    "shuffle_fetch_wait_s"):
            layers[f"spark.{key}"] += a[key]
        # The memory record and task failures cover every stage of the op.
        for key in ("gc_s", "spill_bytes", "task_failures"):
            layers[f"spark.{key}"] += a[key] + b[key]
        layers["spark.peak_exec_mem_bytes"] = max(
            layers["spark.peak_exec_mem_bytes"],
            a["peak_exec_mem_bytes"], b["peak_exec_mem_bytes"])

    def run_pass(self, cold: bool) -> tuple[float, list[float], Counter, int, bool]:
        """One pass: (pass seconds, op latencies, layer totals, failures,
        timed out). The cold pass runs in the workload's order, because its
        first query pays the fresh JVM's warm-up; warm passes run in an
        order shuffled from the seed."""
        order = list(self.names)
        if not cold:
            self.rng.shuffle(order)
        layers: Counter = Counter()
        lat, failed = [], 0
        for name in order:
            seconds, ok = self.op(name, layers)
            print(f"perfbench: {name} {seconds:.3f}s ok={ok}", flush=True)
            lat.append(seconds)
            failed += not ok
            if seconds > OP_TIMEOUT_S:
                return sum(lat) + layers["pass_extra_s"], lat, layers, failed, True
        return sum(lat) + layers["pass_extra_s"], lat, layers, failed, False

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)


def layer_metrics(passes: list[Counter], setup: dict, cores: int,
                  pass_times: list[float]) -> dict[str, float]:
    """Per-layer values: medians over warm passes of per-pass totals."""
    warm = passes[1:] or passes[:1]
    keys = {k for p in warm for k in p} - {"pass_extra_s", "plans.build_run_s"}
    out = {k: median([p[k] for p in warm]) for k in keys}
    out["plans.build_core_util"] = median([
        p["plans.build_run_s"] / (p["plans.build_s"] * cores) if p["plans.build_s"] else 0.0
        for p in warm])
    out["spark.core_util"] = median([
        p["spark.run_s"] / (p["spark.action_s"] * cores) if p["spark.action_s"] else 0.0
        for p in warm])
    out["session.get_spark_s"] = setup["session.get_spark_s"]
    out["session.first_job_s"] = setup["session.first_job_s"]
    out["trace.pass_s"] = median(pass_times[1:] or pass_times)
    out["trace.overhead_frac"] = out["trace.overhead_s"] / out["trace.pass_s"]
    return out


def run(workload: str, seed: int, seconds: float, tracer: Tracer,
        t_process: float) -> tuple[dict, int, int]:
    """Set up, then run the cold pass and warm passes while
    ``more_passes`` says so. Returns (metrics, attempted, failed)."""
    runner = QueryRunner(workload, seed, tracer)
    try:
        setup = runner.setup()
        pass_times, warm_ops, layer_passes = [], [], []
        attempted = failed = 0
        while more_passes(pass_times, seconds):
            t, lat, layers, nfail, timed_out = runner.run_pass(not pass_times)
            pass_times.append(t)
            layer_passes.append(layers)
            if len(pass_times) > 1:
                warm_ops.extend(lat)
            attempted += len(lat)
            failed += nfail
            if timed_out:
                break
    finally:
        runner.close()
    metrics, notes = end_to_end(setup["ready"] - t_process, pass_times,
                                warm_ops, attempted, failed)
    print(f"perfbench: {workload} {json.dumps(notes)}", flush=True)
    if tracer.enabled:
        metrics = layer_metrics(layer_passes, setup, runner.cores, pass_times)
    return metrics, attempted, failed
