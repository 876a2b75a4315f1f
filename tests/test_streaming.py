"""Streaming semantics tests (SURVEY §5.2.3-4): golden batch equivalence,
checkpoint recovery (the reference's failure experiment, kill_worker.sh),
emit-on-sample stateful parity, metrics capture, rate source liveness."""

from __future__ import annotations

import time
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import Window

from flink_wordcount_spark.io import normalize_event_ts, raw_schema, replay
from flink_wordcount_spark.operators.text import word_counts
from flink_wordcount_spark.session import ROCKSDB_STATE, scoped_confs
from flink_wordcount_spark.streaming.metrics import LatencyRecorder, ThroughputListener
from flink_wordcount_spark.streaming.sentences import batch_golden, rate_stream, wordlist
from flink_wordcount_spark.streaming.stateful import emit_on_sample_counts
from flink_wordcount_spark.streaming.wordcount import (
    drain,
    file_replay_wordcount,
    run_to_completion,
)


def _counts_dict(df, key="word", val="cnt"):
    return {r[key]: r[val] for r in df.collect()}


def test_file_replay_equals_batch(spark, sf_dir):
    streamed = run_to_completion(
        file_replay_wordcount(spark, f"{sf_dir}/documents.parquet"), output_mode="complete"
    )
    batch = word_counts(spark.read.parquet(f"{sf_dir}/documents.parquet"))
    assert _counts_dict(streamed) == _counts_dict(batch)


def test_drain_raises_when_a_batch_outlasts_the_deadline(spark, sf_dir, monkeypatch):
    """A micro-batch stuck in a Python worker fails the drain within the
    deadline (stopping the query) instead of hanging its caller."""
    from flink_wordcount_spark.streaming import wordcount

    monkeypatch.setattr(wordcount, "DRAIN_DEADLINE_S", 2)

    @F.udf("string")
    def stuck(text):
        time.sleep(60)
        return text

    stream = replay(spark, f"{sf_dir}/documents.parquet")
    q = wordcount.start_to_memory(
        stream.select(stuck("text").alias("text")), output_mode="append"
    )
    t0 = time.time()
    try:
        with pytest.raises(TimeoutError, match="last progress"):
            wordcount.drain(q)
    finally:
        q.stop()
    assert time.time() - t0 < 45
    assert not q.isActive


def test_generator_is_deterministic(spark):
    a = batch_golden(spark, 200, sentence_size=10).select("sentence").collect()
    b = batch_golden(spark, 200, sentence_size=10).select("sentence").collect()
    assert a == b
    words = set(wordlist())
    for row in a[:20]:
        toks = row.sentence.split(" ")
        assert len(toks) == 10
        assert set(toks) <= words


def test_generator_skew_knob(spark):
    skewed = batch_golden(spark, 500, sentence_size=10, skew_percent=30)
    frac = (
        skewed.select(F.explode(F.split("sentence", " ")).alias("w"))
        .select(F.avg(F.when(F.col("w") == "skew", 1.0).otherwise(0.0)).alias("p"))
        .collect()[0]["p"]
    )
    assert 0.25 < frac < 0.35  # ~30% hot key (RandomSentenceGenerator.java:47-53)


@pytest.mark.parametrize("provider", ["default", "rocksdb"])
def test_checkpoint_recovery(spark, sf_dir, tmp_path, provider):
    """Reference failure experiment: stop the query mid-stream, restart from
    the same checkpoint, final counts equal an uninterrupted run — under
    both the default (HDFS-backed memory) and RocksDB state stores (the
    representative provider at the 355k-word vocabulary's state size)."""
    confs = ROCKSDB_STATE if provider == "rocksdb" else {}
    with scoped_confs(spark, confs):
        src_dir = tmp_path / "src"
        ckpt = str(tmp_path / "ckpt")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        docs.repartition(4).write.parquet(str(src_dir))

        counts = file_replay_wordcount(spark, str(src_dir), max_files_per_trigger=1)
        name1 = f"rec_{uuid.uuid4().hex[:8]}"
        q = (
            counts.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name1)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # let at least one (but not all) micro-batch commit, then "kill the worker"
        deadline = time.time() + 60
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["numInputRows"] > 0:
                break
            time.sleep(0.2)
        q.stop()
        q.awaitTermination(30)

        # restart from the same checkpoint: source replay position is restored
        # (reference analog: RateControlledSourceFunction.restoreState :113-123)
        counts2 = file_replay_wordcount(spark, str(src_dir), max_files_per_trigger=1)
        name2 = f"rec_{uuid.uuid4().hex[:8]}"
        q2 = (
            counts2.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name2)
            .option("checkpointLocation", ckpt)
            .start()
        )
        drain(q2)
        q2.stop()

    final = _counts_dict(spark.table(name2))
    golden = _counts_dict(word_counts(docs))
    assert final == golden


def test_stateful_emit_on_sample(spark, tmp_path):
    """CountWords parity: state updates on every token, emission only at
    sampled rows, emitted cnt == running per-word total at that point."""
    n, size, period = 400, 5, 25
    sent = batch_golden(spark, n, sentence_size=size, sample_period=period)
    # unique per-token sequence so running order is total: seq*size + pos
    toks = sent.select(
        "sample_ts",
        "source_id",
        "seq",
        F.posexplode(F.split("sentence", " ")).alias("pos", "word"),
    ).select(
        "sample_ts",
        "word",
        "source_id",
        (F.col("seq") * size + F.col("pos")).alias("seq"),
    )
    src = str(tmp_path / "tokens")
    toks.write.parquet(src)

    stream = spark.readStream.schema(toks.schema).parquet(src)
    out = run_to_completion(emit_on_sample_counts(stream), output_mode="update")

    # golden: per-word running count at each token, filtered to sampled rows
    w = Window.partitionBy("word").orderBy("seq")
    golden = (
        toks.withColumn("cnt", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_ts").isNotNull())
        .select("word", "cnt", "source_id")
    )
    got = {(r.word, r.cnt, r.source_id) for r in out.collect()}
    want = {(r.word, r.cnt, r.source_id) for r in golden.collect()}
    assert got == want
    assert len(got) > 0  # sampled rows exist (n/period sentences * size tokens)


def test_metrics_capture(spark, tmp_path):
    listener = ThroughputListener()
    spark.streams.addListener(listener)
    try:
        sent = batch_golden(spark, 300, sentence_size=5, sample_period=10)
        src = str(tmp_path / "sent")
        sent.write.parquet(src)
        stream = spark.readStream.schema(sent.schema).parquet(src)

        lat_csv = str(tmp_path / "latency.csv")
        rec = LatencyRecorder(lat_csv)
        q = stream.writeStream.outputMode("append").foreachBatch(rec).start()
        drain(q)
        q.stop()
        q.awaitTermination(30)

        lines = open(lat_csv).read().strip().splitlines()
        assert lines[0] == "sink_id,timestamp,cur_time,latency"
        assert len(lines) >= 2  # 300/10 sampled rows
        sink_id, ts, cur, lat = lines[1].split(",")
        assert int(lat) == int(cur) - int(ts) >= 0

        deadline = time.time() + 15
        while time.time() < deadline and not listener.rows:
            time.sleep(0.2)
        assert any(r["num_input_rows"] > 0 for r in listener.rows)
    finally:
        spark.streams.removeListener(listener)


@pytest.mark.slow
def test_rate_source_liveness(spark):
    """The live rate-controlled source produces counted words (wall-clock
    bounded; determinism is covered by the golden-replay tests)."""
    sent = rate_stream(spark, micro_batch=True, rows_per_batch=200, sentence_size=5)
    counts = sent.select(F.explode(F.split("sentence", " ")).alias("word")).groupBy(
        "word"
    ).count()
    name = f"rate_{uuid.uuid4().hex[:8]}"
    q = counts.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        deadline = time.time() + 45
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["batchId"] >= 2:
                break
            time.sleep(0.3)
        assert spark.table(name).count() > 0
    finally:
        q.stop()


def test_tws_wordcount_or_env_gate(spark, sf_dir):
    """transformWithStateInPandas parity. The 8-round protobuf gate is
    HEALED in this container: tws._ensure_protobuf_runtime points sys.path
    at the pure-Python protobuf bundled with the image's google-cloud-sdk
    and purges jar-poisoned google.* namespace stubs, in the driver and in
    every worker that unpickles the processor. The skip survives only for
    environments with no protobuf runtime anywhere on disk."""
    from flink_wordcount_spark.streaming.tws import tws_available, tws_wordcount
    from flink_wordcount_spark.operators.text import tokenize, word_counts

    if not tws_available():
        pytest.skip("no google.protobuf runtime on this machine (native or "
                    "bundled): transformWithState gated off; "
                    "applyInPandasWithState path covers stateful parity")
    stream = replay(spark, f"{sf_dir}/documents.parquet")
    tokens = tokenize(stream.select(F.col("text").alias("sentence")), "sentence").select("word")
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev_provider = spark.conf.get(provider_key, None)
    with tws_wordcount(tokens) as counted:
        out = run_to_completion(counted, output_mode="update")
    # ADVICE r09: the RocksDB override must not outlive the query
    assert spark.conf.get(provider_key, None) == prev_provider
    got = {r.word: r.cnt for r in out.collect()}
    want = {
        r.word: r.cnt
        for r in word_counts(spark.read.parquet(f"{sf_dir}/documents.parquet")).collect()
    }
    assert got == want


def test_idempotent_sink_exactly_once(spark, tmp_path):
    """Replaying a batch (same batch_id) must not duplicate rows in the
    file target — the exactly-once foreachBatch pattern."""
    from flink_wordcount_spark.streaming.sinks import IdempotentParquetSink

    sent = batch_golden(spark, 100, sentence_size=5, sample_period=10)
    src = str(tmp_path / "src")
    sent.write.parquet(src)

    sink = IdempotentParquetSink(str(tmp_path / "out"))
    stream = spark.readStream.schema(sent.schema).parquet(src)
    q = stream.writeStream.outputMode("append").foreachBatch(sink).start()
    drain(q)
    q.stop()
    q.awaitTermination(30)

    first = sink.read(spark).count()
    assert first == 100
    # simulate a post-recovery replay of batch 0 with different content:
    # the sink must refuse to overwrite the committed batch
    sink(spark.range(5).selectExpr("null sample_ts", "'x' sentence", "1 source_id", "id seq"), 0)
    assert sink.read(spark).count() == first


def test_streaming_session_window_subset_of_batch(spark, sf_dir):
    """session_window under a watermark in a real streaming query: every
    emitted session matches the batch recomputation exactly; sessions still
    within the watermark horizon at end-of-stream stay buffered (append-mode
    contract), so the streamed set is a prefix-closed subset."""
    stream = replay(spark, f"{sf_dir}/events.parquet")
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    name = f"sess_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        drain(q)
        streamed = {(r.user_id, r.session_start): r.n_events for r in spark.table(name).collect()}
    finally:
        q.stop()

    batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .transform(normalize_event_ts)
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )
    golden = {(r.user_id, r.session_start): r.n_events for r in batch.collect()}
    assert streamed  # most sessions closed well before the final watermark
    for k, v in streamed.items():
        assert golden.get(k) == v  # every emitted session is exactly right
    assert len(streamed) >= len(golden) * 0.8


def test_latency_recorder_record_once_and_carry(spark, tmp_path):
    """ADVICE parity fixes pinned: (a) two words sampled at the SAME ts each
    get their own row; (b) update-mode re-emission of a key's old
    max(sample_ts) is suppressed (monotonic floor); (c) the record-once set
    carries across a kill/recover epoch so ALREADY-LOGGED timestamps are not
    re-logged with post-recovery wall-clock — but an IN-FLIGHT pre-kill
    sample (below the old floor, never logged) IS logged after recovery,
    with its honest kill-inflated latency (VERDICT r03 #9)."""
    p1 = str(tmp_path / "lat1.csv")
    rec = LatencyRecorder(p1)

    def batch(rows):
        return spark.createDataFrame(rows, "word string, sample_ts long")

    rec(batch([("alpha", 100), ("beta", 100), ("gamma", None)]), 0)
    rows = open(p1).read().strip().splitlines()[1:]
    assert len(rows) == 2  # same ts, two words -> two rows; null filtered

    # batch 1 re-emits alpha's old ts (update-mode behavior) + one new sample
    rec(batch([("alpha", 100), ("delta", 200)]), 1)
    rows = open(p1).read().strip().splitlines()[1:]
    assert len(rows) == 3  # alpha@100 suppressed, delta@200 logged

    # recovered epoch: a fresh recorder would re-log alpha@100; carry_over
    # must suppress it (logged pre-kill) — but beta@150 was IN FLIGHT at the
    # kill (never logged, though below the old floor of 200) and must appear.
    p2 = str(tmp_path / "lat2.csv")
    rec2 = LatencyRecorder(p2)
    rec2.carry_over(rec)
    rec2(batch([("alpha", 100), ("beta", 150), ("epsilon", 300)]), 0)
    rows2 = open(p2).read().strip().splitlines()[1:]
    logged_ts = sorted(r.split(",")[1] for r in rows2)
    assert logged_ts == ["150", "300"]  # in-flight beta@150 + fresh @300


def test_streaming_upsert_sink_maintains_keyed_table(spark, tmp_path):
    """StreamingUpsertSink: a stream of keyed updates maintains a table with
    last-write-wins per key, snapshot isolation for readers, and replay
    idempotence (the streaming MERGE/CDC shape)."""
    from flink_wordcount_spark.streaming.sinks import StreamingUpsertSink

    sink = StreamingUpsertSink(str(tmp_path / "tbl"), key="k")
    # three micro-batches applied manually (foreachBatch contract)
    sink(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"), 0)
    sink(spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string"), 1)
    got = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # replay of batch 1 (post-recovery): no duplication, same state
    sink(spark.createDataFrame([(2, "ZZZ")], "k int, v string"), 1)
    got = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # replay of an OLDER id after a newer commit: the forward-only _LATEST
    # guard must not point the table backwards to the batch-0 snapshot
    sink(spark.createDataFrame([(1, "stale")], "k int, v string"), 0)
    got = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c")}
    # via a real streaming query: one sink root per query lineage (batch ids
    # are only unique within a checkpoint lineage — see _commit)
    src = str(tmp_path / "src")
    spark.createDataFrame([(3, "C"), (4, "d")], "k int, v string").write.parquet(src)
    sink2 = StreamingUpsertSink(str(tmp_path / "tbl2"), key="k")
    stream = spark.readStream.schema("k int, v string").parquet(src)
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(sink2)
        .start()
    )
    drain(q)
    q.stop()
    q.awaitTermination(30)
    got = {(r.k, r.v) for r in sink2.read(spark).collect()}
    assert got == {(3, "C"), (4, "d")}


def test_observed_metrics_batch_and_stream(spark, sf_dir):
    """df.observe(): pipeline health counters ride the job instead of a
    second scan — the per-batch audit hook a 100 TB ingest uses."""
    from pyspark.sql import Observation

    obs = Observation("doc_audit")
    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("n_chars") <= 0, 1).otherwise(0)).alias("empty_docs"),
        )
    )
    n = d.count()
    assert obs.get["rows"] == n
    assert obs.get["empty_docs"] == 0


def test_streaming_upsert_sink_intra_batch_duplicates(spark, tmp_path):
    """CDC-style batches can carry several updates to one key; with an
    ordering column the sink keeps the last write per key (ADVICE r04 —
    previously both rows survived and broke the keyed-table invariant)."""
    from flink_wordcount_spark.streaming.sinks import StreamingUpsertSink

    sink = StreamingUpsertSink(str(tmp_path / "tbl"), key="k", order_col="lsn")
    sink(
        spark.createDataFrame(
            [(1, "a", 10), (2, "b", 11), (2, "b2", 12), (2, "b3", 13)],
            "k int, v string, lsn int",
        ),
        0,
    )
    got = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert got == {(1, "a"), (2, "b3")}
    # a later batch still upserts over the deduped snapshot
    sink(
        spark.createDataFrame([(1, "A", 20), (1, "A2", 21)], "k int, v string, lsn int"),
        1,
    )
    got = {(r.k, r.v) for r in sink.read(spark).collect()}
    assert got == {(1, "A2"), (2, "b3")}


def test_left_join_flush_sentinels_contract(spark, sf_dir):
    """The outer stream-stream join's drain depends on three staged-file
    invariants: (1) three part files, real data first by mtime (replay
    order), (2) sentinel user_ids are NON-NULL — the equi-join's inferred
    IsNotNull(user_id) is pushed into the scan, and a NULL-user sentinel
    would be source-filtered and never advance the watermark, and
    (3) sentinels are far-future and negative-id so they can be dropped
    post-stream."""
    import os

    from flink_wordcount_spark.plans.streaming_q import _left_join_stream_dir

    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    d = _left_join_stream_dir(spark, sf_dir)
    parts = sorted(p for p in os.listdir(d) if p.endswith(".parquet"))
    assert parts == ["part-00000.parquet", "part-00001.parquet", "part-00002.parquet"]
    mtimes = [os.stat(os.path.join(d, p)).st_mtime for p in parts]
    assert mtimes[0] < mtimes[1] < mtimes[2], "replay order is mtime order"
    flush = spark.read.schema(schema).parquet(os.path.join(d, "part-00001.parquet"))
    rows = {r.event_type: r for r in flush.collect()}
    assert set(rows) == {"view", "purchase"}
    for r in rows.values():
        assert r.user_id is not None and r.user_id < 0
        assert r.event_id < 0
        assert r.ts.year >= 2030
    # the sentinel files conform to the events schema, so replaying the
    # staged directory reads the same schema as the fixture itself
    assert raw_schema(spark, d) == schema
def test_protobuf_bootstrap_purges_jar_poisoned_namespace(tmp_path):
    """The worker-process failure mode, reproduced without Spark: the
    spark-core JAR on sys.path makes `google.protobuf` import as an EMPTY
    namespace package (Java class dirs, no __init__.py); once cached, the
    appended real runtime can never win. _ensure_protobuf_runtime must
    purge the location-less stubs and land a working descriptor import.
    Runs in a subprocess so the poisoned sys.modules never leaks into the
    test session."""
    import glob
    import subprocess
    import sys

    jars = glob.glob("/opt/spark*/jars/spark-core_*.jar")
    if not jars:
        import pytest

        pytest.skip("no spark-core jar on this machine to reproduce with")
    child = f"""
import sys
sys.path.insert(1, {jars[0]!r})
import google.protobuf  # caches the jar's empty namespace stub
assert getattr(google.protobuf, '__file__', None) is None
from flink_wordcount_spark.streaming.tws import _ensure_protobuf_runtime
assert _ensure_protobuf_runtime() is True
from google.protobuf import descriptor
print('HEALED', descriptor.__name__)
"""
    proc = subprocess.run(
        [sys.executable, "-c", child], capture_output=True, text=True, timeout=120,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    assert "HEALED" in proc.stdout


def test_protobuf_heal_scoping(tmp_path):
    """ADVICE r09 scoping contract, reproduced in subprocesses:
    (a) a FAILED heal leaves no process-wide residue — the version-check
    escape hatch env var is set only once the fallback runtime actually
    lands a working descriptor import; (b) the namespace purge touches only
    'google'/'google.protobuf*' stubs, never an unrelated location-less
    PEP-420 parent like google.cloud."""
    import glob
    import subprocess
    import sys

    # (a) failure path: block every google.* import -> heal returns False
    # and the env var stays unset.
    child_fail = """
import importlib.abc
import os
import sys

class Block(importlib.abc.MetaPathFinder):
    def find_spec(self, name, path=None, target=None):
        if name == 'google' or name.startswith('google.'):
            raise ImportError('blocked for test')

sys.meta_path.insert(0, Block())
os.environ.pop('TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK', None)
import flink_wordcount_spark.streaming.tws as tws
assert tws._PROTOBUF_OK is False
assert 'TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK' not in os.environ
print('FAIL-PATH-CLEAN')
"""
    proc = subprocess.run(
        [sys.executable, "-c", child_fail],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    assert "FAIL-PATH-CLEAN" in proc.stdout

    # (b) purge narrowness: with the jar-poisoned stub cached AND a fake
    # location-less google.cloud namespace parent in sys.modules, the heal
    # must succeed without evicting google.cloud.
    jars = glob.glob("/opt/spark*/jars/spark-core_*.jar")
    if not jars:
        import pytest

        pytest.skip("no spark-core jar on this machine to reproduce with")
    child_purge = f"""
import sys
import types
sys.path.insert(1, {jars[0]!r})
import google.protobuf  # caches the jar's empty namespace stub
assert getattr(google.protobuf, '__file__', None) is None
fake_cloud = types.ModuleType('google.cloud')  # location-less, like PEP-420
sys.modules['google.cloud'] = fake_cloud
from flink_wordcount_spark.streaming.tws import _ensure_protobuf_runtime
assert _ensure_protobuf_runtime() is True
assert sys.modules.get('google.cloud') is fake_cloud, 'purge evicted google.cloud'
from google.protobuf import descriptor
print('PURGE-NARROW')
"""
    proc = subprocess.run(
        [sys.executable, "-c", child_purge],
        capture_output=True, text=True, timeout=120, cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-1500:]
    assert "PURGE-NARROW" in proc.stdout


def test_tws_timeout_flush_processor_rearm_contract():
    """TimeoutFlushProcessor keeps ONE live timer per key: each input batch
    deletes the previously-registered expiry (when it moved) and registers
    last_ms + gap; the expired-timer handler emits the rollup once and
    clears state, and a timer racing an already-flushed key emits nothing.
    Driven directly with fakes — the end-to-end value check is the driver
    query; this pins the state/timer bookkeeping the oracle can't see."""
    import pandas as pd

    from flink_wordcount_spark.streaming.tws import TimeoutFlushProcessor

    class FakeState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeHandle:
        def __init__(self, state):
            self._state = state
            self.registered, self.deleted = [], []

        def getValueState(self, name, schema):
            return self._state

        def registerTimer(self, ts):
            self.registered.append(ts)

        def deleteTimer(self, ts):
            self.deleted.append(ts)

    gap = 3_600_000
    state, proc = FakeState(), TimeoutFlushProcessor(gap)
    handle = FakeHandle(state)
    proc.init(handle)

    def batch(ts_s, values):
        return pd.DataFrame(
            {"ts": pd.to_datetime(ts_s), "value": values}
        )

    # batch 1: two events, last at 12:00 -> timer armed at 12:00 + gap
    out = list(proc.handleInputRows((7,), iter([batch(
        ["2024-01-01 11:00:00", "2024-01-01 12:00:00"], [1.0, 2.0])]), None))
    t_noon = int(pd.Timestamp("2024-01-01 12:00:00").value // 1_000_000)
    assert out == [] or all(len(p) == 0 for p in out)
    assert handle.registered == [t_noon + gap] and handle.deleted == []
    # batch 2 advances last_ms -> OLD timer deleted, new one registered
    list(proc.handleInputRows((7,), iter([batch(["2024-01-01 13:30:00"], [4.0])]), None))
    t_1330 = int(pd.Timestamp("2024-01-01 13:30:00").value // 1_000_000)
    assert handle.deleted == [t_noon + gap]
    assert handle.registered[-1] == t_1330 + gap
    # late batch NOT advancing last_ms -> same expiry re-registered, no delete
    list(proc.handleInputRows((7,), iter([batch(["2024-01-01 13:00:00"], [8.0])]), None))
    assert handle.deleted == [t_noon + gap]  # unchanged
    assert handle.registered[-1] == t_1330 + gap
    assert state.get() == (4, 15.0, t_1330)
    # fired timer: emits the rollup once and removes the state
    emitted = pd.concat(list(proc.handleExpiredTimer((7,), None, None)))
    assert emitted.to_dict("records") == [
        {"user_id": 7, "n_events": 4, "total_value": 15.0}
    ]
    assert not state.exists()
    # a timer racing the flushed key emits nothing
    assert list(proc.handleExpiredTimer((7,), None, None)) == []


def test_tws_windowed_count_processor_mapstate_contract():
    """WindowedCountProcessor point-updates one MapState entry PER open
    hourly bucket (never rewrites the whole map), re-arms its single timer
    like TimeoutFlush, and the fired timer emits every (bucket, count)
    entry once then clears both states.  Driven with fakes — the
    end-to-end value check is the driver query (stream_windowed_topk_tws);
    this pins the named-state bookkeeping the oracle can't see."""
    import pandas as pd

    from flink_wordcount_spark.streaming.tws import WindowedCountProcessor

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeMapState:
        def __init__(self):
            self.m = {}
            self.updates = 0

        def containsKey(self, k):
            return k in self.m

        def getValue(self, k):
            return self.m[k]

        def updateValue(self, k, v):
            self.m[k] = v
            self.updates += 1

        def iterator(self):
            return iter(self.m.items())

        def clear(self):
            self.m = {}

    class FakeHandle:
        def __init__(self, wins, last):
            self._wins, self._last = wins, last
            self.registered, self.deleted = [], []

        def getMapState(self, name, key_schema, value_schema):
            return self._wins

        def getValueState(self, name, schema):
            return self._last

        def registerTimer(self, ts):
            self.registered.append(ts)

        def deleteTimer(self, ts):
            self.deleted.append(ts)

    hour = 3_600_000
    wins, last = FakeMapState(), FakeValueState()
    handle = FakeHandle(wins, last)
    proc = WindowedCountProcessor(window_ms=hour, gap_ms=hour)
    proc.init(handle)

    def batch(ts_s):
        return pd.DataFrame({"ts": pd.to_datetime(ts_s)})

    ms = lambda s: int(pd.Timestamp(s).value // 1_000_000)  # noqa: E731

    # batch 1: 3 events across two hourly buckets
    out = list(proc.handleInputRows((("view",)), iter([batch(
        ["2024-01-01 11:10:00", "2024-01-01 11:40:00", "2024-01-01 12:05:00"]
    )]), None))
    assert out == [] or all(len(p) == 0 for p in out)
    h11, h12 = ms("2024-01-01 11:00:00"), ms("2024-01-01 12:00:00")
    assert wins.m == {(h11,): (2,), (h12,): (1,)}
    assert wins.updates == 2  # one point update per touched bucket
    t_1205 = ms("2024-01-01 12:05:00")
    assert handle.registered == [t_1205 + hour] and handle.deleted == []
    # batch 2: increments an EXISTING bucket (point update, not rewrite)
    # and advances last -> old timer deleted, new armed
    list(proc.handleInputRows(("view",), iter([batch(["2024-01-01 12:30:00"])]), None))
    assert wins.m == {(h11,): (2,), (h12,): (2,)}
    assert handle.deleted == [t_1205 + hour]
    assert handle.registered[-1] == ms("2024-01-01 12:30:00") + hour
    # fired timer: emits every bucket once (sorted), clears both states
    emitted = pd.concat(list(proc.handleExpiredTimer(("view",), None, None)))
    assert emitted.to_dict("records") == [
        {"win_start_ms": h11, "event_type": "view", "n": 2},
        {"win_start_ms": h12, "event_type": "view", "n": 2},
    ]
    assert wins.m == {} and not last.exists()
    # a timer racing a flushed key emits nothing
    assert list(proc.handleExpiredTimer(("view",), None, None)) == []


def test_tws_session_path_processor_liststate_contract():
    """SessionPathProcessor emits a closed session only once the WATERMARK
    passes its gap boundary (ADVICE r10: eager per-batch closing let an
    out-of-order event in a later micro-batch belong to an already-emitted
    session); not-yet-finalized sessions stay in the ListState and the
    fired timer flushes the remainder once and clears.  NULL event types
    are skipped in the path.  Driven with fakes — the end-to-end value
    check is the driver query (stream_session_paths_tws)."""
    import pandas as pd

    from flink_wordcount_spark.streaming.tws import SessionPathProcessor

    class FakeTimerValues:
        def __init__(self, wm_ms):
            self._wm = wm_ms

        def getCurrentWatermarkInMs(self):
            return self._wm

    class FakeValueState:
        def __init__(self):
            self.v = None

        def exists(self):
            return self.v is not None

        def get(self):
            return self.v

        def update(self, v):
            self.v = v

        def clear(self):
            self.v = None

    class FakeListState:
        def __init__(self):
            self.items = []

        def get(self):
            return iter(self.items)

        def put(self, new):
            self.items = list(new)

        def clear(self):
            self.items = []

    class FakeHandle:
        def __init__(self, buf, last):
            self._buf, self._last = buf, last
            self.registered, self.deleted = [], []

        def getListState(self, name, schema):
            return self._buf

        def getValueState(self, name, schema):
            return self._last

        def registerTimer(self, ts):
            self.registered.append(ts)

        def deleteTimer(self, ts):
            self.deleted.append(ts)

    buf, last = FakeListState(), FakeValueState()
    handle = FakeHandle(buf, last)
    proc = SessionPathProcessor(gap_ms=1_800_000)
    proc.init(handle)

    def batch(rows):
        return pd.DataFrame(
            {
                "ts": pd.to_datetime([r[0] for r in rows]),
                "event_id": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )

    ms = lambda s: int(pd.Timestamp(s).value // 1_000_000)  # noqa: E731
    # batch 1 (start-of-stream watermark 0): two sessions split by a 2 h
    # gap, but NEITHER is watermark-finalized -> nothing emits, ALL events
    # stay buffered (the eager pre-r11 contract emitted the first here)
    out = list(proc.handleInputRows((7,), iter([batch([
        ("2024-01-01 10:00:00", 1, "view"),
        ("2024-01-01 10:10:00", 2, "purchase"),
        ("2024-01-01 12:30:00", 3, "view"),
    ])]), FakeTimerValues(0)))
    assert out == [] or all(len(p) == 0 for p in out)
    assert len(buf.items) == 3
    assert handle.registered == [ms("2024-01-01 12:30:00") + 1_800_000]
    # batch 2 (watermark now past the first session's 10:40 gap boundary):
    # the first session emits, the rest — including a NULL type and an
    # out-of-order event that sorts before the tail's head — stays
    out = list(proc.handleInputRows((7,), iter([batch([
        ("2024-01-01 12:45:00", 5, None),
        ("2024-01-01 12:20:00", 4, "click"),
    ])]), FakeTimerValues(ms("2024-01-01 12:00:00"))))
    emitted = pd.concat(out)
    assert emitted.to_dict("records") == [
        {"user_id": 7, "path": "view>purchase"}
    ]
    assert [e[2] for e in buf.items] == ["click", "view", None]
    assert handle.deleted == [ms("2024-01-01 12:30:00") + 1_800_000]
    assert handle.registered[-1] == ms("2024-01-01 12:45:00") + 1_800_000
    # fired timer: flushes the remainder once (NULL type skipped), clears
    flushed = pd.concat(list(proc.handleExpiredTimer((7,), None, None)))
    assert flushed.to_dict("records") == [
        {"user_id": 7, "path": "click>view"}
    ]
    assert buf.items == [] and not last.exists()
    assert list(proc.handleExpiredTimer((7,), None, None)) == []

    # the ADVICE r10 divergence case: an out-of-order event in a LATER
    # micro-batch MERGES two sessions the eager contract would already
    # have split-and-emitted.  10:00 / 10:45 split (45 min > 30 min gap);
    # 10:25 arrives next batch, above the watermark, and bridges them.
    buf2, last2 = FakeListState(), FakeValueState()
    proc2 = SessionPathProcessor(gap_ms=1_800_000)
    proc2.init(FakeHandle(buf2, last2))
    out = list(proc2.handleInputRows((8,), iter([batch([
        ("2024-01-01 10:00:00", 1, "a"),
        ("2024-01-01 10:45:00", 2, "b"),
    ])]), FakeTimerValues(0)))
    assert out == [] or all(len(p) == 0 for p in out)
    out = list(proc2.handleInputRows((8,), iter([batch([
        ("2024-01-01 10:25:00", 3, "c"),
    ])]), FakeTimerValues(ms("2024-01-01 10:20:00"))))
    assert out == [] or all(len(p) == 0 for p in out)
    merged = pd.concat(list(proc2.handleExpiredTimer((8,), None, None)))
    # ONE merged session a>c>b — the eager contract emitted 'a' and 'c>b'
    assert merged.to_dict("records") == [{"user_id": 8, "path": "a>c>b"}]
