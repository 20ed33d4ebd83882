"""Scale stress: time a query family on its fixture replicated R times.

``replicate`` copies every table of the source fixture R times under
the disjoint-key rule, so growth is linear by construction and any
super-linear cost is the engine's:

- every key space (orders, customers, parts, documents, vectors,
  events, users) is offset per replica by the space's max key + 1, so
  replicas share no key and joins stay within a replica;
- document tokens are prefixed with the replica (``r3_word``), so
  replicas share no vocabulary and cannot manufacture cross-replica
  grams, spans or near-duplicate families;
- embeddings are jittered by 0.003 per replica (near, not exact,
  copies) and event timestamps shifted by 0.123 s per replica (the
  global (type, ts) order interleaves the replicas);
- the fixed-arrival variant keeps replica 0 whole but only the settled
  documents (``hash_bucket("incr", doc_id) < 800``) of the others: the
  settled corpus grows ~R x while the arrival batch stays constant.

R=1 runs on the source fixture itself. Each file is written as
``<table>.parquet/<table>-<replica>.parquet``, which is the layout the
stream readers' leaf globs expect. Per query, the result is collected
once untimed (its row count and digest; this is also the query's JIT
warm-up, and where ``q_exact_substring_incremental_indexed`` builds its
settled-corpus index), then one run to the noop sink is timed, with
jobs, stages, tasks, GC and spill from the status store.

Usage:
    python tools/stress.py FAMILY [R ...]        # default R: 3 10

The source fixture is ``SPARK_GRAFT_SF_DIR``; cap the heap with
``SPARK_GRAFT_DRIVER_MEM`` (the memory family). One record per R is
appended to BENCH_AB.json under the family's key.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time
from pathlib import Path
from typing import NamedTuple

sys.path.insert(0, str(Path(__file__).resolve().parent))
from ab import BOOK, append_book, digest, measure  # noqa: E402


class Family(NamedTuple):
    key: str  # BENCH_AB.json key
    queries: tuple[str, ...]
    arrival: bool = False  # fixed-arrival documents


FAMILIES = {
    # Two-phase distributed row_number/ECDF: linear in rows.
    "rank": Family("stress_rank_family", (
        "q_rfm_segments", "q_value_anomaly", "q_group_percentiles",
        "q_mad_outliers", "q_conversion_lag", "q_changepoint")),
    # Doc-side passes token-linear; the cell family O(n^1.5); PQ linear.
    "data_selection": Family("stress_data_selection", (
        "q_dsir_weights", "q_perplexity_filter", "q_vocab_coverage",
        "q_toxicity_lexicon", "q_epoch_plan", "q_pq_ann", "q_hard_negatives",
        "q_semantic_decontaminate", "q_cluster_balanced_sample")),
    # Chunk-linear / token-linear retrieval and serving passes.
    "retrieval": Family("stress_retrieval", (
        "q_rag_chunks", "q_chunk_dedup", "q_hybrid_rrf", "q_curriculum_order",
        "q_sq8_ann", "q_personalized_pagerank")),
    # Row-linear under disjoint key spaces.
    "robust_eval": Family("stress_robust_eval", (
        "q_hbos_outliers", "q_permutation_test", "q_fisher_exact",
        "q_ransac_trend", "q_adaboost_stumps", "q_kneser_ney", "q_nb_crossval",
        "q_als_rank1", "q_betweenness")),
    # Gram relation token-linear, pair relation cap^2 per duplicated gram.
    "exact_substring": Family("stress_exact_substring", ("q_exact_substring_spans",)),
    "r9": Family("stress_r9_wave", (
        "q_exact_substring_spans", "q_dedup_span_removal", "q_decontaminate_spans",
        "q_stream_decontaminate_spans", "q_nb_learning_curve",
        "q_wasserstein_distance", "q_l_diversity")),
    "r10": Family("stress_r10_wave", (
        "q_dedup_apply", "q_exact_substring_incremental", "q_span_copy_matrix",
        "q_dup_span_length_hist", "q_ivfpq_ann")),
    "r11": Family("stress_r11_wave", ("q_dedup_apply", "q_ivfpq_nprobe_curve")),
    # The indexed twin's cost must not grow with the settled corpus.
    "r11_arrival": Family("stress_r11_wave", (
        "q_exact_substring_incremental", "q_exact_substring_incremental_indexed"),
        arrival=True),
    # The text-dedup family's shared signature chain: token-linear;
    # the streaming dedup's state grows with the corpus.
    "text_dedup": Family("stress_text_dedup", (
        "q_doc_fingerprint", "q_stream_minhash_dedup")),
    # The heaviest queries under a capped heap: completion and spill.
    "memory": Family("memory_stress", (
        "q_hits", "q_edit_distance_pairs", "q_triangle_count",
        "q_embedding_near_dups", "q_simhash_pairs")),
}

#: table -> {key column: key space}.
KEYS = {
    "orders": {"o_orderkey": "order", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part"},
    "customer": {"c_custkey": "customer"},
    "part": {"p_partkey": "part"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
    "events": {"event_id": "event", "user_id": "user"},
}


def settled(doc_id: int) -> bool:
    """``plans.sampling.hash_bucket("incr", doc_id) < 800`` in Python."""
    h = hashlib.md5(f"incr:{doc_id}".encode()).hexdigest()
    return int(h[:4], 16) % 1000 < 800


def _replica(name: str, t, i: int, span: dict[str, int]):
    import pyarrow as pa
    import pyarrow.compute as pc

    def put(col: str, values) -> None:
        nonlocal t
        t = t.set_column(t.schema.get_field_index(col), t.schema.field(col), values)

    for col, space in KEYS[name].items():
        put(col, pc.add(t[col], i * span[space]))
    if name == "documents":
        put("text", pa.array(
            [None if s is None else " ".join(f"r{i}_{w}" for w in s.split(" "))
             for s in t["text"].to_pylist()], t.schema.field("text").type))
    elif name == "embeddings":
        put("embedding", pa.array(
            [None if v is None else [x + i * 0.003 for x in v]
             for v in t["embedding"].to_pylist()], t.schema.field("embedding").type))
    elif name == "events":
        ts = t.schema.field("ts").type
        per_s = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[ts.unit]
        put("ts", pc.add(t["ts"], pa.scalar(round(i * 0.123 * per_s), pa.duration(ts.unit))))
    return t


def replicate(src: str, out: str, r: int, arrival: bool = False) -> dict[str, int]:
    """Write ``r`` disjoint-key replicas of every table of ``src`` under
    ``out`` (see the module docstring); tables without keys (nation,
    region, supplier) are copied once. Returns the rows per table."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from mapreduce_server_development_spark.sources.tables import TABLES

    tables = {name: pq.read_table(f"{src}/{name}.parquet") for name in TABLES}
    span: dict[str, int] = {}
    for name, cols in KEYS.items():
        for col, space in cols.items():
            span[space] = max(span.get(space, 0), pc.max(tables[name][col]).as_py() + 1)
    rows = {}
    for name, t in tables.items():
        Path(f"{out}/{name}.parquet").mkdir(parents=True)
        rows[name] = 0
        for i in range(r if name in KEYS else 1):
            rep = _replica(name, t, i, span) if name in KEYS else t
            if arrival and name == "documents" and i > 0:
                rep = rep.filter([settled(d) for d in rep["doc_id"].to_pylist()])
            pq.write_table(rep, f"{out}/{name}.parquet/{name}-{i:03d}.parquet")
            rows[name] += rep.num_rows
    return rows


def run_family(spark, family: Family, sf_dir: str) -> dict:
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    results = {}
    for name in family.queries:
        fn = queries[name]
        try:
            rec = digest(spark, fn(spark, sf_dir))
            rec.update(measure(spark, name, lambda: fn(spark, sf_dir)))
        except Exception as e:  # noqa: BLE001 - an OOM is a result here
            rec = {"error": f"{type(e).__name__}: {e}"[:300]}
        results[name] = rec
        print(f"  {name}: {rec}", flush=True)
    return results


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in FAMILIES:
        print(f"usage: stress.py {{{'|'.join(FAMILIES)}}} [R ...]")
        return 2
    from mapreduce_server_development_spark.session import get_spark

    family = FAMILIES[argv[0]]
    src = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark(app_name=f"stress-{argv[0]}")
    for r in [int(a) for a in argv[1:]] or [3, 10]:
        with tempfile.TemporaryDirectory(prefix=f"stress_{argv[0]}_x{r}_") as tmp:
            rows = replicate(src, tmp, r, family.arrival) if r > 1 else None
            print(f"{argv[0]} x{r}: {rows or src}", flush=True)
            results = run_family(spark, family, tmp if r > 1 else src)
        append_book(BOOK, family.key, {
            "family": argv[0], "R": r, "sf_dir": src, "rows": rows,
            "fixed_arrival": family.arrival,
            "heap": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "cpus": spark.sparkContext.defaultParallelism,
            "results": results, "at": time.strftime("%Y-%m-%d %H:%M:%S"),
        })
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
