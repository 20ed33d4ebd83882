"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is a separate
run that reports the per-layer metrics and writes its spans (with self
times) to ``perfbench/.run/traces/``. Everything else the run prints goes
to stderr; the last stdout line is the result. Exit code 2: bad arguments
or the engine is not importable from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import queries, wordcount  # noqa: E402
from perfbench.measure import (  # noqa: E402
    Sandbox,
    Tracer,
    adopt_orphans,
    process_start_epoch,
    reap_descendants,
)

WORKLOADS = (*queries.WORKLOADS, "wordcount")

E2E_UNITS = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
             "op_p50_s": "s", "op_tail_s": "s", "ok_frac": "fraction"}

#: Per-layer metric -> unit. A traced run reports all of them; a layer that
#: does not run in the workload reports 0.
LAYER_UNITS = {
    "session.get_spark_s": "s", "session.first_job_s": "s",
    "session.release_s": "s", "session.rdds_released": "count",
    "session.checkpoint_bytes": "bytes",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_tasks": "count",
    "plans.build_core_util": "fraction",
    "spark.plan_ms": "ms", "spark.action_s": "s", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.run_s": "s",
    "spark.cpu_s": "s", "spark.core_util": "fraction", "spark.input_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_fetch_wait_s": "s", "spark.gc_s": "s", "spark.spill_bytes": "bytes",
    "spark.peak_exec_mem_bytes": "bytes", "spark.task_failures": "count",
    "mapreduce.job_s": "s", "mapreduce.map_run_s": "s", "mapreduce.group_run_s": "s",
    "mapreduce.reduce_run_s": "s", "mapreduce.jobs": "count",
    "mapreduce.stages": "count", "mapreduce.tasks": "count",
    "mapreduce.shuffle_write_bytes": "bytes", "mapreduce.output_bytes": "bytes",
    "mapreduce.input_read_ratio": "ratio",
    "daemon.start_s": "s", "daemon.submit_ms": "ms",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.overhead_frac": "fraction",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True,
                   help="warm measurement window: after the cold pass, whole "
                        "warm passes run until their time reaches this")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    t_process = process_start_epoch()
    args = parse_args(sys.argv[1:] if argv is None else argv)
    try:
        import mapreduce_server_development_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    # Only the result line goes to the real stdout; the engine's and the
    # JVM's chatter (inherited by child processes too) goes to stderr.
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    # Every process the run starts, and every process those start, is
    # waited for (or killed) before the run ends, on every way out.
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sandbox = Sandbox(ROOT)
    tracer = Tracer(bool(args.trace))
    try:
        if args.workload == "wordcount":
            metrics, attempted, failed = wordcount.run(
                ROOT, sandbox.tmp, args.seed, args.seconds, tracer)
        else:
            metrics, attempted, failed = queries.run(
                args.workload, args.seed, args.seconds, tracer, t_process)
    finally:
        killed = reap_descendants()
        if killed:
            print(f"perfbench: killed leftover processes {killed}", flush=True)
        sandbox.close()
    if tracer.enabled:
        tracer.dump(sandbox.trace_dir / f"{args.workload}-seed{args.seed}.json")
        units = LAYER_UNITS
    else:
        units = E2E_UNITS
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {name: {"value": float(metrics.get(name, 0.0)), "unit": unit}
                    for name, unit in units.items()},
    }
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
