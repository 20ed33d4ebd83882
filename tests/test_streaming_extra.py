"""foreachBatch sink: the production API for arbitrary per-micro-batch
sinks (upserts, multi-table writes) — each batch arrives as a BATCH
DataFrame with an epoch id for idempotent retry handling."""

from __future__ import annotations

from .conftest import SF_SMOKE


def test_foreach_batch_sink(spark, tmp_path):
    import uuid

    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.sources.tables import load_table

    sf = SF_SMOKE
    # availableNow bounded stream over the events parquet
    ev = load_table(spark, sf, "events")
    schema = ev.schema
    src_dir = str(tmp_path / "src")
    ev.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(schema).parquet(src_dir)
    out_dir = str(tmp_path / "out")
    seen = []

    def sink(batch_df, epoch_id):
        # idempotent pattern: write per-epoch directory (re-run of the
        # same epoch overwrites, never duplicates)
        seen.append(epoch_id)
        (batch_df.groupBy("event_type").agg(F.count("*").alias("n"))
         .write.mode("overwrite").parquet(f"{out_dir}/epoch={epoch_id}"))

    q = (stream.writeStream.foreachBatch(sink)
         .trigger(availableNow=True)
         .option("checkpointLocation", str(tmp_path / f"ck-{uuid.uuid4()}"))
         .start())
    q.awaitTermination(120)
    assert seen, "no batch processed"
    got = spark.read.parquet(f"{out_dir}/epoch=*")
    total = got.agg(F.sum("n")).collect()[0][0]
    assert total == ev.count()


def test_stream_partitions_knob_sets_and_restores(spark, monkeypatch):
    """The streaming state-partition context manager pins
    spark.sql.shuffle.partitions for the run and restores the batch
    value afterwards (including on error), honoring the env override."""
    from mapreduce_server_development_spark.plans.streaming_queries import (
        _stream_partitions,
    )

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with _stream_partitions(spark):
        assert spark.conf.get(key) == "8"
    assert spark.conf.get(key) == before

    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "17")
    with _stream_partitions(spark):
        assert spark.conf.get(key) == "17"
    assert spark.conf.get(key) == before

    try:
        with _stream_partitions(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get(key) == before


def test_rocksdb_state_store_env_gate(monkeypatch):
    """SPARK_GRAFT_STATE_STORE=rocksdb selects the built-in RocksDB
    provider with changelog checkpointing; default stays on the
    (A/B-measured faster at fixture scale) HDFS-backed provider. The
    RocksDB class and its JNI jar ship with pyspark, so the flip is
    config-only — asserted end-to-end by the oracle runs; here assert
    the env gate itself."""
    from mapreduce_server_development_spark.session import state_store_confs

    monkeypatch.delenv("SPARK_GRAFT_STATE_STORE", raising=False)
    assert state_store_confs() == {}

    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    confs = state_store_confs()
    assert (
        confs["spark.sql.streaming.stateStore.providerClass"]
        == "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    assert (
        confs[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ]
        == "true"
    )


def test_rocksdb_provider_output_invariance(spark):
    """q_stream_minhash_dedup (the family's heaviest stateful op)
    produces the IDENTICAL row set under the RocksDB state-store
    provider as under the default HDFS-backed one. The RocksDB arm
    runs in a fresh subprocess because the provider class is a
    session-builder conf (SPARK_GRAFT_STATE_STORE env gate); the
    default arm reuses this session. Scale twin: ``tools/ab.py
    rocksdb_state_store_ab`` makes the same result-digest check across
    fresh-process arms on any fixture."""
    import os
    import subprocess
    import sys

    from mapreduce_server_development_spark.plans import QUERIES

    def canon(rows_):
        return sorted(
            "|".join(f"{k}={r[k]!r}" for k in sorted(r.asDict()))
            for r in rows_
        )

    default_rows = canon(
        QUERIES["q_stream_minhash_dedup"](spark, SF_SMOKE).collect()
    )
    child = (
        "import sys, json\n"
        "sys.path.insert(0, %r)\n"
        "import __spark_entry__ as e\n"
        "from mapreduce_server_development_spark.session import get_spark\n"
        "spark = get_spark(app_name='rocksdb-invariance')\n"
        "rows = e.queries()['q_stream_minhash_dedup'](spark, %r).collect()\n"
        "canon = sorted('|'.join(f'{k}={r[k]!r}' for k in sorted(r.asDict()))"
        " for r in rows)\n"
        "print('ROWS_JSON:' + json.dumps(canon))\n"
    ) % (str(__import__("pathlib").Path(__file__).resolve().parent.parent),
         SF_SMOKE)
    env = dict(os.environ, SPARK_GRAFT_STATE_STORE="rocksdb")
    proc = subprocess.run(
        [sys.executable, "-c", child], env=env,
        capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("ROWS_JSON:")]
    assert lines, proc.stderr[-3000:]
    import json as _json
    rocks_rows = _json.loads(lines[0][len("ROWS_JSON:"):])
    assert rocks_rows == default_rows


def test_stream_metrics_progress_rows(spark):
    """q_stream_metrics yields >= 1 per-batch progress row with the
    documented stable schema; the data batch reports its input rows and
    a populated state operator (the watermarked agg keeps state)."""
    from mapreduce_server_development_spark.plans.registry import QUERIES

    df = QUERIES["q_stream_metrics"](spark, SF_SMOKE)
    assert df.schema.simpleString() == (
        "struct<batch_id:bigint,num_input_rows:bigint,"
        "trigger_duration_ms:bigint,state_rows_total:bigint,"
        "state_rows_updated:bigint,watermark:string>"
    )
    rows = df.collect()
    assert rows, "listener captured no progress events"
    data_batches = [r for r in rows if r.num_input_rows > 0]
    assert data_batches, "no batch reported input rows"
    assert any(r.state_rows_total > 0 for r in rows), "state never populated"
    assert all(r.trigger_duration_ms >= 0 for r in rows)


# ---------------------------------------------------------------------------
# Multi-micro-batch replay (round-7 verdict ask #4): drive the REGISTERED
# stateful queries with fixture arrival split across real micro-batches
# (maxFilesPerTrigger=1 over a split fixture), asserting state survives
# batch boundaries and the readout equals the single-batch run.
# ---------------------------------------------------------------------------

import pytest


@pytest.fixture(scope="module")
def split_events_dir(tmp_path_factory):
    """sf0.001 events split into 4 ts-ordered files named
    events-0N.parquet (the source glob matches events*.parquet) with
    increasing mtimes, so availableNow + maxFilesPerTrigger=1 forms 4
    micro-batches arriving in event-time order."""
    import os
    import time

    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("split_events")
    t = pq.read_table("/root/testdata/sf0.001/events.parquet")
    t = t.sort_by("ts")
    n = t.num_rows
    cut = [0, n // 4, n // 2, 3 * n // 4, n]
    now = time.time()
    for i in range(4):
        path = str(d / f"events-0{i}.parquet")
        pq.write_table(t.slice(cut[i], cut[i + 1] - cut[i]), path)
        os.utime(path, (now - 40 + 10 * i, now - 40 + 10 * i))
    return str(d)


def _batch_count(spark, src_dir, monkeypatch):
    """Prove the split fixture + env knob actually yields 4 batches."""
    import uuid

    from mapreduce_server_development_spark.plans.streaming_queries import (
        read_events_stream,
    )

    ev = read_events_stream(spark, src_dir)
    epochs = []

    def sink(bdf, epoch_id):
        epochs.append((epoch_id, bdf.count()))

    q = (
        ev.writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", f"/tmp/ck-{uuid.uuid4().hex}")
        .start()
    )
    q.awaitTermination(180)
    return epochs


def test_split_fixture_yields_multiple_batches(spark, split_events_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    epochs = _batch_count(spark, split_events_dir, monkeypatch)
    assert len([e for e, n in epochs if n > 0]) == 4, epochs
    assert sum(n for _, n in epochs) == 1000


@pytest.mark.parametrize(
    "qname",
    [
        "q_stream_user_state",      # applyInPandasWithState (running count)
        "q_stream_anomaly",         # applyInPandasWithState (ring buffer)
        "q_stream_timed_funnel",    # applyInPandasWithState (state machine)
        "q_stream_session_window",  # watermarked session windows
        "q_stream_hourly_tumbling",
        "q_stream_dedup",           # dropDuplicates state
    ],
)
def test_multi_batch_equals_single_batch(spark, split_events_dir, monkeypatch, qname):
    """State must survive micro-batch boundaries: each registered
    stateful query, run with arrival split across 4 ts-ordered
    micro-batches, must produce EXACTLY the single-batch (and
    oracle-checked) result over the same rows."""
    from mapreduce_server_development_spark.plans import QUERIES

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    monkeypatch.delenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", raising=False)
    single = rows(QUERIES[qname](spark, SF_SMOKE))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    multi = rows(QUERIES[qname](spark, split_events_dir))
    assert multi == single


def test_watermark_expires_windows_mid_stream(spark, split_events_dir, monkeypatch):
    """Append-mode watermarked tumbling windows over the split fixture:
    closed windows must be EMITTED BEFORE the final batch (mid-stream
    watermark expiry), and the total emitted set must equal the batch
    aggregate for every window the final watermark passed."""
    import uuid

    from pyspark.sql import functions as F

    from mapreduce_server_development_spark.plans.streaming_queries import (
        read_events_stream,
    )
    from mapreduce_server_development_spark.sources.tables import load_table

    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    ev = read_events_stream(spark, split_events_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n_events",
        )
    )
    per_epoch: list[tuple[int, list]] = []

    def sink(bdf, epoch_id):
        per_epoch.append((epoch_id, [tuple(r) for r in bdf.collect()]))

    q = (
        agg.writeStream.foreachBatch(sink)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", f"/tmp/ck-{uuid.uuid4().hex}")
        .start()
    )
    q.awaitTermination(300)
    nonempty = [e for e, rs in per_epoch if rs]
    assert len(per_epoch) >= 4
    # mid-stream expiry: some window rows arrive BEFORE the last epoch
    assert nonempty and min(nonempty) < max(e for e, _ in per_epoch), per_epoch
    emitted = sorted(r for _, rs in per_epoch for r in rs)
    # every emitted window is final: it must match the batch aggregate
    batch = load_table(spark, SF_SMOKE, "events")
    expect = {
        (r["hour"], r["event_type"]): r["n_events"]
        for r in (
            batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
                "event_type",
                "n_events",
            )
            .collect()
        )
    }
    assert emitted, "watermark never expired any window"
    for hour, etype, n in emitted:
        assert expect[(hour, etype)] == n
    # no window may be emitted twice (append-mode finality)
    keys = [(h, e) for h, e, _ in emitted]
    assert len(keys) == len(set(keys))


@pytest.fixture(scope="module")
def split_docs_dir(tmp_path_factory):
    """sf0.001 documents split into 4 doc_id-ordered files named
    documents-0N.parquet — id-ordered arrival is the determinism
    contract of the streaming LSH dedup index (first-wins by id)."""
    import os
    import time

    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("split_docs")
    t = pq.read_table("/root/testdata/sf0.001/documents.parquet").sort_by(
        "doc_id"
    )
    n = t.num_rows
    cut = [0, n // 4, n // 2, 3 * n // 4, n]
    now = time.time()
    # The split files live INSIDE a directory named documents.parquet,
    # each file named documents-0N.parquet: the batch reader
    # (load_table -> {dir}/documents.parquet) sees one dataset, while
    # the stream's documents*.parquet leaf glob sees 4 arrival units.
    (d / "documents.parquet").mkdir()
    for i in range(4):
        path = str(d / "documents.parquet" / f"documents-0{i}.parquet")
        pq.write_table(t.slice(cut[i], cut[i + 1] - cut[i]), path)
        os.utime(path, (now - 40 + 10 * i,) * 2)
    return str(d)


def test_stream_minhash_dedup_multi_batch(spark, split_docs_dir, monkeypatch):
    """The streaming LSH index must carry its bucket-min state across
    micro-batch boundaries: a doc arriving in batch 3 must still match
    a bucket occupied in batch 1, reproducing the single-batch
    (oracle-checked) panel exactly."""
    from mapreduce_server_development_spark.plans import QUERIES

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    monkeypatch.delenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", raising=False)
    single = rows(QUERIES["q_stream_minhash_dedup"](spark, SF_SMOKE))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    multi = rows(QUERIES["q_stream_minhash_dedup"](spark, split_docs_dir))
    assert multi == single
    # sanity: the fixture corpus actually contains near-dups to find
    assert sum(r[3] for r in single) > 0  # n_dups column


def test_stream_rag_chunks_multi_batch(spark, split_docs_dir, monkeypatch):
    """Stateless ingest chunking must be batch-boundary-invariant:
    chunk rows produced across 4 micro-batches equal the single-batch
    (oracle-checked) chunk relation exactly — per-row 1->N transforms
    may never observe arrival framing."""
    from mapreduce_server_development_spark.plans import QUERIES

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    monkeypatch.delenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", raising=False)
    single = rows(QUERIES["q_stream_rag_chunks"](spark, SF_SMOKE))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    multi = rows(QUERIES["q_stream_rag_chunks"](spark, split_docs_dir))
    assert multi == single
    assert len(single) > len(set(r[0] for r in single))  # real 1->N fan-out


# ---------------------------------------------------------------------------
# Multi-micro-batch replay, wave 2 (round-8 verdict ask #4): the
# stream-stream join, foreachBatch MV maintenance, sketch-state ops,
# and the remaining events/documents streaming queries. The fixture
# uses the split_docs_dir layout (events.parquet as a DIRECTORY of 4
# ts-ordered arrival files) so load_table() sees one full dataset
# while the stream sees 4 micro-batches; customer.parquet rides along
# for the stream-static joins.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def split_all_dir(tmp_path_factory):
    import os
    import shutil
    import time

    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("split_all")
    t = pq.read_table("/root/testdata/sf0.001/events.parquet").sort_by("ts")
    n = t.num_rows
    cut = [0, n // 4, n // 2, 3 * n // 4, n]
    now = time.time()
    (d / "events.parquet").mkdir()
    for i in range(4):
        path = str(d / "events.parquet" / f"events-0{i}.parquet")
        pq.write_table(t.slice(cut[i], cut[i + 1] - cut[i]), path)
        os.utime(path, (now - 40 + 10 * i,) * 2)
    shutil.copy(
        "/root/testdata/sf0.001/customer.parquet",
        str(d / "customer.parquet"),
    )
    return str(d)


@pytest.mark.parametrize(
    "qname",
    [
        "q_stream_stream_join",     # watermarked interval-join state
        "q_stream_mv",              # foreachBatch versioned-merge MV
        "q_stream_enrich",          # stream-static join (stateless)
        "q_stream_sliding_counts",
        "q_stream_cms_users",       # SUM-merged count-min registers
        "q_stream_hll_users",       # MAX-merged HLL registers
        "q_stream_hourly_hll",      # watermarked windowed HLL
        "q_stream_bloom_members",   # OR-merged bloom words
        "q_stream_kmv_users",       # bottom-k MIN merges
        "q_stream_quantile",        # mergeable quantile sketch
        "q_stream_new_users",       # first-seen dedup state
        "q_stream_ohlc",            # min_by/max_by window aggregates
        "q_stream_rolling_distinct",
        "q_stream_ab_monitor",
        "q_stream_psi",
        "q_stream_burstiness",
        "q_stream_srm",
        "q_stream_deletion_enforcement",  # stream-static tombstones
        "q_stream_conformal",       # broadcast panel + stateless gate
    ],
)
def test_multi_batch_equals_single_batch_wave2(
    spark, split_all_dir, monkeypatch, qname
):
    """Every remaining stateful streaming query: 4 ts-ordered
    micro-batches must produce EXACTLY the single-batch
    (oracle-checked) result — stream-stream join state must pair a
    click from batch 1 with a purchase from batch 3, the MV's
    versioned merge must accumulate across batches, sketch registers
    must merge associatively."""
    from mapreduce_server_development_spark.plans import QUERIES

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    monkeypatch.delenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", raising=False)
    single = rows(QUERIES[qname](spark, SF_SMOKE))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    multi = rows(QUERIES[qname](spark, split_all_dir))
    assert multi == single


@pytest.mark.parametrize("qname", ["q_stream_dsir", "q_stream_toxicity"])
def test_multi_batch_docs_queries(spark, split_docs_dir, monkeypatch, qname):
    from mapreduce_server_development_spark.plans import QUERIES

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    monkeypatch.delenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", raising=False)
    single = rows(QUERIES[qname](spark, SF_SMOKE))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    multi = rows(QUERIES[qname](spark, split_docs_dir))
    assert multi == single


def test_stream_decontaminate_spans_multi_batch(spark, split_docs_dir, monkeypatch):
    """The ingest-time span-contamination screen is stateless against
    a STATIC eval index: 4 micro-batches must reproduce the
    single-batch (oracle-checked) panel exactly."""
    from mapreduce_server_development_spark.plans import QUERIES

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    monkeypatch.delenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", raising=False)
    single = rows(QUERIES["q_stream_decontaminate_spans"](spark, SF_SMOKE))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    multi = rows(QUERIES["q_stream_decontaminate_spans"](spark, split_docs_dir))
    assert multi == single


@pytest.fixture(scope="module")
def split_emb_dir(tmp_path_factory):
    """sf0.001 embeddings split into 4 vec_id-ordered arrival files
    nested inside an embeddings.parquet directory (the split_docs_dir
    convention: batch reader sees one dataset, stream sees 4 arrival
    units)."""
    import os
    import time

    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("split_emb")
    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet").sort_by(
        "vec_id"
    )
    n = t.num_rows
    cut = [0, n // 4, n // 2, 3 * n // 4, n]
    now = time.time()
    (d / "embeddings.parquet").mkdir()
    for i in range(4):
        path = str(d / "embeddings.parquet" / f"embeddings-0{i}.parquet")
        pq.write_table(t.slice(cut[i], cut[i + 1] - cut[i]), path)
        os.utime(path, (now - 40 + 10 * i,) * 2)
    return str(d)


def test_stream_ivf_assign_multi_batch(spark, split_emb_dir, monkeypatch):
    """The ingest-time cell router is stateless per row, so a 4-batch
    replay must equal the single-batch run exactly (and the quantizer
    panel is pinned from the batch table, identical in both)."""
    from mapreduce_server_development_spark.plans import QUERIES

    from .conftest import SF_SMOKE

    def rows(df):
        return sorted((r.cid, r.n_arrivals, r.sum_ccos_e4)
                      for r in df.collect())

    single = rows(QUERIES["q_stream_ivf_assign"](spark, SF_SMOKE))
    monkeypatch.setenv("SPARK_GRAFT_STREAM_MAX_FILES_PER_TRIGGER", "1")
    multi = rows(QUERIES["q_stream_ivf_assign"](spark, split_emb_dir))
    assert multi == single
    assert sum(n for _, n, _ in single) > 0
