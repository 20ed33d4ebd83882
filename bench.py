"""Benchmark harness: time every registered query, emit ONE JSON line.

Runs each query from ``__spark_entry__.queries()`` against
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints a single JSON line on stdout:

    {"metric": "total_query_seconds", "value": N, "unit": "sec",
     "queries": {"q1_pricing_summary": sec, ...}, "sf": 0.1}

Each query is driven to completion with the built-in no-op sink
(``df.write.format("noop")``, optimization guide §1.4): every column of
every row is computed JVM-side and discarded — nothing is collected to
the driver and nothing crosses the Python row boundary. Rounds 1-10
used ``df.foreach(lambda _: None)``, which converts the result to
RDD[Row] and pickles every output row into Python workers; the r11
action A/B (BENCH_AB.json ``bench_action_ab``) measured that at a flat
~0.15-0.25s per small query (q6 0.35->0.18s, q_window_running_sum
0.51->0.29s, q_outer_join_agg 0.66->0.46s) and ~0 on compute-bound
queries (q_item_cf 5.19 vs 5.26s) — pure measurement-harness cost, not
query cost. Methodology switch recorded in OPTIMIZATION_r11.md with
both before/after numbers.
All Spark chatter goes to stderr; the JSON line is the only stdout.

Measurement discipline (round-10 verdict asks #1/#7; supersedes the
round-8/9 tail-only gating):
- EVERY query is timed twice back-to-back in the sweep — a COLD
  first invocation (``first``) and a WARM second run — so a
  per-query median is never a lone cold sample;
- a fixed control query (q1_pricing_summary) is timed 3x at sweep
  start; the noise gate is FROZEN at 2x that baseline median before
  any gated decision is made (a drifting threshold made the r10
  trim depend on processing order — ADVICE bench.py:194);
- the control is re-timed after every ~25-query sweep segment; a
  control reading over the frozen gate means host noise landed in
  that segment, so the WHOLE segment's runs are discarded (kept in
  ``discarded_runs`` for audit) and the segment is re-run once.
  In r10, 339 queries were timed by a single un-gated cold run and
  a 1.07s -> 3.16s control drift landed straight in the headline
  (official 955.4s vs quiet-host 810.5s on identical code);
- the 10 slowest then get up to FIVE total runs, each tail run
  interleaved with the control and gated against the SAME frozen
  threshold (discard + bounded per-slot retry, auditable);
- every timed run (query or control) carries a global sequence
  number ``seq`` so warm-up slope and noise windows are decodable
  from BENCH_DETAIL alone without knowing run order conventions:
  ``per_query.runs`` / ``control_runs`` entries are ``{"t": sec,
  "seq": n}``;
- the HEADLINE ``queries`` value is the MEDIAN of a query's
  accepted runs; BOTH totals (``value`` = sum of medians,
  ``total_min`` = sum of mins) are emitted, plus ``total_first``
  (sum of cold runs) so the cold premium is attributed explicitly.

Usage: python bench.py [query ...]   # subset by name, default all
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

CONTROL_QUERY = "q1_pricing_summary"
SEGMENT = 25          # sweep queries per control reading
BASELINE_RUNS = 3     # control runs that freeze the gate
TAIL_RUNS = 5         # total runs for the 10 slowest


def _sf_of(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.0


def _median(xs: list[float]) -> float:
    rs = sorted(xs)
    n = len(rs)
    if n % 2:
        return round(rs[n // 2], 2)
    return round((rs[n // 2 - 1] + rs[n // 2]) / 2, 2)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    only = set(sys.argv[1:])

    import __spark_entry__ as entrymod
    from mapreduce_server_development_spark.session import (
        get_spark,
        release_checkpoints,
    )

    queries = entrymod.queries()
    unknown = only - set(queries)
    if unknown:
        # A typo'd name matching nothing would emit total=0 as a valid
        # benchmark line — fail loudly instead.
        print(f"bench: unknown query name(s): {sorted(unknown)}", file=sys.stderr)
        return 2
    spark = get_spark(app_name="bench")

    seq_counter = [0]

    def run_once(name: str) -> tuple[float, int] | None:
        """One timed evaluation; cache cleared OUTSIDE the timer so
        every run starts from the same cold cache. Returns (seconds,
        global sequence number) or None on failure."""
        seq_counter[0] += 1
        seq = seq_counter[0]
        t0 = time.time()
        try:
            # noop sink: full JVM-side evaluation of every column of
            # every row, result discarded (guide §1.4). No driver
            # collect, no Python row boundary.
            queries[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            return round(time.time() - t0, 2), seq
        except Exception as e:  # noqa: BLE001
            print(f"bench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            return None
        finally:
            # A failed query's persisted intermediates must not stay
            # cached and inflate (or deflate) later queries' timings —
            # clear unconditionally, success or failure. clearCache()
            # only empties the SQL CacheManager: eager localCheckpoint
            # blocks (the engine's multi-consumer materializations) are
            # RDD-level and would otherwise accumulate across the ~390-
            # query sweep (disk + GC pressure drifting later timings —
            # r11 ADVICE bench.py:127). Both calls run OUTSIDE the
            # timed window (the return value is computed before this
            # block), and every run still creates and pays for its own
            # checkpoints INSIDE the timer — this is block hygiene, not
            # caching: no run can reuse a previous run's blocks either
            # way (fresh RDDs each invocation).
            spark.catalog.clearCache()
            release_checkpoints(spark)

    # JVM/codegen warmup so the first timed query isn't charged for it.
    # Beyond the generic first-query warmup, exercise the expression
    # chains whole query FAMILIES share — tokenize/shingle/md5 (text
    # dedup) and the array dot product (similarity) — because their
    # interpreted pre-JIT cost otherwise lands on whichever family
    # member happens to run first (measured: the identical batch
    # signature chain runs 5.6s cold vs 0.7s warm; BENCH_AB
    # `q_stream_minhash_dedup_cold_start`).
    warmups = [next(iter(queries))]
    for w in ("q_doc_fingerprint", "q_cosine_topk"):
        if w in queries:
            warmups.append(w)
    # Queries fully executed here record a WARM (not cold) ``first``
    # value — flagged per-query as ``warm_first`` and listed in
    # BENCH_DETAIL's ``warmed`` so round-over-round cold-time
    # comparisons don't misread them.
    warmed = set(warmups)
    for w in warmups:
        try:
            queries[w](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 - warmup is best-effort
            pass
    # Warmup may persist intermediates; the first TIMED query is that
    # same query and would reuse them — clear so query 1 starts from
    # the same cold cache as every other, and free the warm-up's
    # checkpoint blocks as every timed run's are.
    spark.catalog.clearCache()
    release_checkpoints(spark)

    # accepted runs per query: list of (seconds, seq)
    runs: dict[str, list[tuple[float, int]]] = {}
    # first-ever (cold) run per query, even if later discarded.
    first_run: dict[str, float] = {}
    failed: list[str] = []
    discarded_runs: dict[str, list[dict]] = {}
    control_runs: list[dict] = []
    use_control = CONTROL_QUERY in queries and not only

    def _control() -> float | None:
        if not use_control:
            return None
        r = run_once(CONTROL_QUERY)
        if r is None:
            return None
        control_runs.append({"t": r[0], "seq": r[1]})
        return r[0]

    # Freeze the noise gate BEFORE any gated decision: 3 control runs
    # at sweep start, threshold = 2x their median, never updated. The
    # r10 running-median gate drifted upward as noisy controls
    # accumulated, making accept/reject depend on processing order.
    gate_threshold: float | None = None
    if use_control:
        base = [c for c in (_control() for _ in range(BASELINE_RUNS)) if c is not None]
        if base:
            gate_threshold = round(2 * _median(base), 2)

    def _gate_ok(c: float | None) -> bool:
        return c is None or gate_threshold is None or c <= gate_threshold

    def _pair(name: str) -> bool:
        """Cold+warm back-to-back runs; returns False if the cold run
        failed (query marked failed)."""
        a = run_once(name)
        if a is None:
            if name not in runs:
                failed.append(name)
            return False
        first_run.setdefault(name, a[0])
        runs.setdefault(name, []).append(a)
        b = run_once(name)
        if b is not None:
            runs[name].append(b)
        return True

    # Sweep in ~25-query segments, control-gated at segment close. A
    # noisy closing control discards the segment's runs (auditable) and
    # re-runs the segment ONCE; a second noisy control accepts the
    # retry runs flagged gate_failed (bounded — no unbounded retry
    # under sustained host load).
    names = [n for n in queries if not only or n in only]
    segments: list[dict] = []
    for seg_start in range(0, len(names), SEGMENT):
        seg = names[seg_start:seg_start + SEGMENT]
        seg_rec: dict = {"queries": [seg[0], seg[-1]], "n": len(seg)}
        for name in seg:
            _pair(name)
        c = _control()
        seg_rec["control"] = c
        if not _gate_ok(c):
            # host noise landed somewhere in this segment: park every
            # run from it and measure again.
            for name in seg:
                if name in runs and runs[name]:
                    discarded_runs.setdefault(name, []).extend(
                        {"run": t, "seq": s, "control": c, "why": "segment"}
                        for t, s in runs[name]
                    )
                    runs[name] = []
            for name in seg:
                if name not in failed:
                    _pair(name)
            c2 = _control()
            seg_rec["retry_control"] = c2
            if not _gate_ok(c2):
                seg_rec["gate_failed"] = True
        segments.append(seg_rec)

    # Tail trimmed medians + interleaved control: the 10 slowest get
    # up to FIVE total runs, each tail run preceded by the control and
    # gated against the SAME frozen threshold.
    def _med(name: str) -> float:
        return _median([t for t, _ in runs[name]]) if runs.get(name) else 0.0

    tail = sorted((n for n in runs if runs[n]), key=_med, reverse=True)[:10]
    tail_pairs: dict[str, list[tuple[float | None, tuple[float, int]]]] = {
        n: [] for n in tail
    }

    def _tail_run(name: str) -> tuple[float | None, tuple[float, int]] | None:
        c = _control()
        r = run_once(name)
        if r is None:
            return None
        tail_pairs[name].append((c, r))
        runs[name].append(r)
        return (c, r)

    # Interleave ROUNDS across the tail queries (not back-to-back runs
    # of one query) so a transient noise window taints at most one run
    # per query, not one query's whole sample.
    for _ in range(TAIL_RUNS):
        for name in tail:
            if len(runs[name]) >= TAIL_RUNS:
                continue
            # a failed rerun skips THIS query this round, not the
            # round's remaining tail queries
            _tail_run(name)

    # Trim: a tail run is host-noise if its adjacent control exceeded
    # the frozen gate. Re-run each discarded slot (fresh control +
    # query), up to 2 retries per slot.
    for name in tail:
        for c, r in list(tail_pairs[name]):
            if _gate_ok(c):
                continue
            discarded_runs.setdefault(name, []).append(
                {"run": r[0], "seq": r[1], "control": c, "why": "tail"}
            )
            tail_pairs[name].remove((c, r))
            runs[name].remove(r)
            for _ in range(2):  # bounded retry for the slot
                pair = _tail_run(name)
                if pair is None:
                    break
                if _gate_ok(pair[0]):
                    break
                discarded_runs[name].append(
                    {"run": pair[1][0], "seq": pair[1][1],
                     "control": pair[0], "why": "tail"}
                )
                tail_pairs[name].remove(pair)
                runs[name].remove(pair[1])

    accepted = {n: rs for n, rs in runs.items() if rs}
    # Headline per-query seconds: median of accepted runs (>=2 per
    # query — never a lone cold sample).
    timings = {n: _median([t for t, _ in rs]) for n, rs in accepted.items()}
    for n in failed:
        timings[n] = -1.0
    per_query = {
        n: {
            "first": first_run.get(n, rs[0][0]),
            "min": min(t for t, _ in rs),
            "median": _median([t for t, _ in rs]),
            "runs": [{"t": t, "seq": s} for t, s in rs],
            **({"warm_first": True} if n in warmed else {}),
        }
        for n, rs in accepted.items()
    }
    tail_medians = {
        n: {
            "runs": [{"t": t, "seq": s} for t, s in runs[n]],
            "median": _med(n),
            "spread": round(
                max(t for t, _ in runs[n]) - min(t for t, _ in runs[n]), 2
            ),
            "discarded": discarded_runs.get(n, []),
        }
        for n in tail
        if runs.get(n)
    }

    total = round(sum(t for t in timings.values() if t >= 0), 2)
    total_min = round(
        sum(min(t for t, _ in rs) for rs in accepted.values()), 2
    )
    total_first = round(
        sum(first_run.get(n, rs[0][0]) for n, rs in accepted.items()), 2
    )
    control_ts = [c["t"] for c in control_runs]
    sf = _sf_of(sf_dir)
    compact = {"separators": (",", ":")}
    detail = {
        "metric": "total_query_seconds",
        "value": total,
        "unit": "sec",
        "headline": "gated_median_of_cold_plus_warm_runs",
        "total_min": total_min,
        "total_first": total_first,
        "queries": timings,
        "per_query": per_query,
        "warmed": sorted(warmed),
        "segments": segments,
        "segment_size": SEGMENT,
        "tail_medians": tail_medians,
        "tail_runs_target": TAIL_RUNS,
        "discarded_runs": discarded_runs,
        "control_query": CONTROL_QUERY,
        "control_runs": control_runs,
        "gate_threshold": gate_threshold,
        "control_spread": (
            round(max(control_ts) - min(control_ts), 2) if control_ts else None
        ),
        "n_failed": len(failed),
        "failed": sorted(failed),
        "sf": sf,
    }
    # Solo-rerun A/B book (tools/ab.py regression_ab) — embedded so the
    # per-round BENCH_DETAIL snapshot carries the triage evidence.
    ab_path = REPO / "BENCH_AB.json"
    if ab_path.exists():
        try:
            detail["regression_ab"] = json.loads(ab_path.read_text())
        except ValueError:
            pass
    # Full per-query detail: one compact line (may exceed the driver's
    # stdout-tail capture) plus a file copy that always survives.
    # Subset runs (triage) must NOT clobber the full-sweep snapshot the
    # round records depend on.
    if not only:
        (REPO / "BENCH_DETAIL.json").write_text(
            json.dumps(detail, **compact) + "\n"
        )
    print(json.dumps(detail, **compact))
    # Final SHORT summary line: the driver captures only the last ~2000
    # chars of stdout, so the parseable line must come last and stay
    # small — top-20 slowest queries only, full detail in the file above.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:20]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_seconds",
                "value": total,
                "unit": "sec",
                "headline": "gated_median_of_cold_plus_warm_runs",
                "total_min": total_min,
                "total_first": total_first,
                "queries": slowest,
                "n_queries": len(timings),
                # A broken query must never read as a perf win: its -1
                # sentinel drops out of the total, so the failure list
                # rides the driver-visible summary line explicitly.
                "n_failed": len(failed),
                "failed": sorted(failed),
                "gate_threshold": gate_threshold,
                "control_spread": detail["control_spread"],
                "queries_detail": "BENCH_DETAIL.json",
                "sf": sf,
            },
            **compact,
        )
    )
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
