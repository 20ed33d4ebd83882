"""A/B harness: time queries under named arms, each (arm, query) in a
fresh process.

An arm is a dict with three optional keys:

- ``confs``: Spark conf overrides, applied on top of
  ``session.spark_confs()`` by ``get_spark``;
- ``env``: environment overrides for the arm's process
  (``SPARK_GRAFT_WARMUP=1``, ``SPARK_GRAFT_STATE_STORE=rocksdb``, ...);
- ``action``: ``noop`` (the default: the bench's noop sink, every column
  computed JVM-side) or ``foreach`` (RDD foreach: every row crosses into
  Python).

Session confs are fixed per JVM, so each arm runs in a fresh child
process (``python tools/ab.py --child SPEC``), and each query gets its
own child: one JVM running many queries outgrows the status store,
which evicts old stages (``read_stages`` then fails after about 2,000).
The arms alternate per query. The child times ``runs`` runs; each
builds the query and runs its action inside the timer, under its own
job group, and reads jobs, stages, tasks, executor time, GC, shuffle
and spill for that group from the Spark status store
(``perfbench.measure.read_stages``/``totals``), and ``compiles``: how
many classes Spark's codegen compiled during the run, i.e. how many
generated-class cache misses it had. The first run is the
cold run; the printed warm median is over runs 3..N, because inside one
JVM the second run and often the third are still JIT warm-up. After the
timed runs the child collects the result once, outside the timer, and
records the md5 of its canonical rows
(``oracle_compare.canon_rows``). Arms whose digests disagree fail the
experiment: no arm may change a result.

One query per child means an arm never sees another query's classes in
its JVM: an A/B here cannot show pressure on the generated-class cache
between queries (``spark.sql.codegen.cache.maxEntries``, SCALE.md). A
warm run's ``compiles`` shows only what the query itself fails to reuse,
such as literals that change from run to run.

Usage:
    python tools/ab.py EXPERIMENT [--runs N] [query ...]

``EXPERIMENTS`` names each experiment's arms and default queries; the
record is appended to BENCH_AB.json under the experiment's key
(``regression_ab`` appends under each query's own key). The source
fixture is ``SPARK_GRAFT_SF_DIR``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
BOOK = REPO / "BENCH_AB.json"

_MINPART = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
_BY_BYTES = {"spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"}

#: experiment -> (arms, default queries).
EXPERIMENTS: dict[str, tuple[dict[str, dict], list[str]]] = {
    # AQE coalescing: the shipped 256k floor (session.py) against the
    # stock 1m floor, a smaller one, and sizing partitions by bytes
    # rather than by core count.
    "overhead_ab": (
        {
            "base": {},
            "minpart64k": {"confs": {_MINPART: "64k"}},
            "minpart1m": {"confs": {_MINPART: "1m"}},
            "advisory64m": {"confs": {
                **_BY_BYTES, "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
            }},
            "advisory64m_split512m": {"confs": {
                **_BY_BYTES, "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
                "spark.sql.files.maxPartitionBytes": "512m",
            }},
        },
        ["q_simhash_pairs", "q_item_cf", "q_value_anomaly", "q_ivf_kmeans_ann"],
    ),
    # The bench's timed action: noop sink against RDD foreach.
    "bench_action_ab": (
        {"noop": {}, "foreach": {"action": "foreach"}},
        ["q1_pricing_summary", "q6_forecast_revenue", "q_outer_join_agg",
         "q_window_running_sum", "q_item_cf", "q_nb_crossval", "q_doc_fingerprint"],
    ),
    # session.warmup_expressions as a startup hook: cold first runs of
    # the text-dedup family's heaviest chain, with and without it.
    "warmup_hook_ab": (
        {"bare": {}, "hook": {"env": {"SPARK_GRAFT_WARMUP": "1"}}},
        ["q_doc_fingerprint", "q_stream_minhash_dedup"],
    ),
    # Streaming state-store providers (session.state_store_confs).
    "rocksdb_state_store_ab": (
        {"default_hdfs": {}, "rocksdb": {"env": {"SPARK_GRAFT_STATE_STORE": "rocksdb"}}},
        ["q_stream_minhash_dedup", "q_stream_sliding_counts", "q_stream_ivf_assign"],
    ),
    # Bench-regression triage: re-time queries solo, in a fresh session.
    "regression_ab": ({"solo": {}}, []),
}


def compiles(spark) -> int:
    """Classes compiled so far in this JVM: one per generated-class
    cache miss (``CodegenMetrics`` counts every janino compile)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def measure(spark, name: str, build, action: str = "noop") -> dict:
    """Time one run of ``build()`` and its action under a fresh job
    group, then free its cached and checkpointed blocks (outside the
    timer). Returns the wall time, the classes compiled and the group's
    status-store totals."""
    from perfbench.measure import read_stages, totals

    from mapreduce_server_development_spark.session import release_checkpoints

    sc = spark.sparkContext
    group = f"ab.{name}.{time.monotonic_ns()}"
    sc.setJobGroup(group, name)
    try:
        c0 = compiles(spark)
        t0 = time.perf_counter()
        df = build()
        if action == "foreach":
            df.foreach(lambda _: None)
        else:
            df.write.format("noop").mode("overwrite").save()
        sec = time.perf_counter() - t0
        compiled = compiles(spark) - c0
    finally:
        sc._jsc.clearJobGroup()
        spark.catalog.clearCache()
        release_checkpoints(spark)
    jobs, stages = read_stages(spark, group)
    t = totals(stages)
    return {
        "sec": round(sec, 3), "compiles": compiled, "jobs": jobs,
        **{k: t[k] for k in ("stages", "tasks", "spill_bytes", "shuffle_write_bytes",
                             "peak_exec_mem_bytes")},
        **{k: round(t[k], 3) for k in ("run_s", "gc_s")},
    }


def digest(spark, df) -> dict:
    """Row count and md5 of ``df``'s canonical rows, then free blocks."""
    from mapreduce_server_development_spark.oracle_compare import canon_rows
    from mapreduce_server_development_spark.session import release_checkpoints

    rows = df.collect()
    canon = canon_rows(rows, df.columns)
    spark.catalog.clearCache()
    release_checkpoints(spark)
    return {"rows": len(rows), "md5": hashlib.md5(repr(canon).encode()).hexdigest()}


def append_book(book: Path, key: str, entry: dict) -> None:
    """Append ``entry`` under ``key`` in the A/B book: to the key's list,
    or to the ``entries`` list of a record kept as a dict, so every
    earlier record keeps its value."""
    data = json.loads(book.read_text()) if book.exists() else {}
    old = data.setdefault(key, [])
    (old if isinstance(old, list) else old.setdefault("entries", [])).append(entry)
    book.write_text(json.dumps(data, indent=1) + "\n")


def child(spec: dict) -> dict:
    """One arm and one query in this (fresh) process: build the session,
    time the query's runs, digest its result."""
    import __spark_entry__ as entrymod

    from mapreduce_server_development_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="ab", overrides=spec["confs"])
    out = {"session_s": round(time.perf_counter() - t0, 2)}
    name, sf_dir = spec["query"], spec["sf_dir"]
    fn = entrymod.queries()[name]
    try:
        runs = [measure(spark, name, lambda: fn(spark, sf_dir), spec["action"])
                for _ in range(spec["runs"])]
        return {**out, "runs": runs, **digest(spark, fn(spark, sf_dir))}
    except Exception as e:  # noqa: BLE001 - recorded, and fails the compare
        return {**out, "error": f"{type(e).__name__}: {e}"[:300]}


def run_arm(arm: dict, query: str, sf_dir: str, runs: int) -> dict:
    spec = {"confs": arm.get("confs", {}), "action": arm.get("action", "noop"),
            "query": query, "sf_dir": sf_dir, "runs": runs}
    proc = subprocess.run(
        [sys.executable, __file__, "--child", json.dumps(spec)],
        env={**os.environ, **arm.get("env", {})},
        capture_output=True, text=True, timeout=3600, cwd=str(REPO),
    )
    for line in proc.stdout.splitlines():
        if line.startswith("AB_JSON:"):
            return json.loads(line[len("AB_JSON:"):])
    raise RuntimeError(f"arm produced no result (rc={proc.returncode}):\n"
                       f"{proc.stderr[-3000:]}")


def digest_mismatches(results: dict[str, dict]) -> list[str]:
    """Queries whose arms disagree on the result digest (an arm that
    failed a query disagrees with every arm that ran it)."""
    names = {q for res in results.values() for q in res["queries"]}
    return sorted(
        q for q in names
        if len({res["queries"].get(q, {}).get("md5") for res in results.values()}) > 1
    )


def run_ab(arms: dict[str, dict], queries: list[str], sf_dir: str, key: str | None,
           runs: int = 1, book: Path = BOOK) -> dict:
    """Run every arm, append the record to ``book`` under ``key`` (under
    each query's own key when ``key`` is None), and raise if the arms'
    result digests disagree."""
    results = {name: {"queries": {}} for name in arms}
    for q in queries:
        for name, arm in arms.items():
            rec = results[name]["queries"][q] = run_arm(arm, q, sf_dir, runs)
            if "error" in rec:
                print(f"{q} [{name}]: ERROR {rec['error']}", flush=True)
                continue
            last = rec["runs"][-1]
            secs = [r["sec"] for r in rec["runs"]]
            warm = (f" warm median {statistics.median(secs[2:]):.3f}s (runs 3..{len(secs)})"
                    if len(secs) > 2 else "")
            print(f"{q} [{name}]: {secs}s{warm} compiles "
                  f"{[r['compiles'] for r in rec['runs']]} jobs {last['jobs']} "
                  f"stages {last['stages']} tasks {last['tasks']} spill "
                  f"{last['spill_bytes']} rows {rec['rows']} md5 {rec['md5']} "
                  f"(session {rec['session_s']}s)", flush=True)
    mismatches = digest_mismatches(results)
    entry = {"arms": arms, "queries": queries, "sf_dir": sf_dir, "runs": runs,
             "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
             "results": results, "digest_mismatches": mismatches,
             "at": time.strftime("%Y-%m-%d %H:%M:%S")}
    if key:
        append_book(book, key, entry)
    else:
        for q in queries:
            append_book(book, q, {**entry, "queries": [q], "results": {
                a: {**res, "queries": {q: res["queries"][q]}} for a, res in results.items()}})
    if mismatches:
        raise RuntimeError(f"arms disagree on the result of {mismatches}")
    return entry


def main(argv: list[str]) -> int:
    if argv[:1] == ["--child"]:
        print("AB_JSON:" + json.dumps(child(json.loads(argv[1]))), flush=True)
        return 0
    runs = 1
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        del argv[i:i + 2]
    if not argv or argv[0] not in EXPERIMENTS:
        print(f"usage: ab.py {{{'|'.join(EXPERIMENTS)}}} [--runs N] [query ...]")
        return 2
    arms, default = EXPERIMENTS[argv[0]]
    queries = argv[1:] or default
    if not queries:
        print(f"{argv[0]}: name the queries to run")
        return 2
    key = None if argv[0] == "regression_ab" else argv[0]
    run_ab(arms, queries, os.environ["SPARK_GRAFT_SF_DIR"], key, runs)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
