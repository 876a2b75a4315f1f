"""The ``stream-drain`` workload: replay a seeded sentence file through the
streaming word count until it is drained.

Input: 100,000 sentences of 100 words drawn uniformly (seeded) from the
generator vocabulary, written as one parquet file. Each attempt builds
``file_replay_wordcount`` over it and runs ``run_to_completion`` in complete
mode with the RocksDB state store and a fresh checkpoint directory; the state
stores are unloaded between attempts. Attempt 0 runs in the fresh session and
is published as ``first_pass_s``; attempt 1 is an unpublished warm-up; later
attempts are measured until ``--seconds`` have elapsed (at least
``MIN_ATTEMPTS``). Every attempt's
counts are compared, outside the timed call, with a DuckDB
``regexp_split_to_array`` count of the same file.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from canon import compare
from probes import (
    StatusReader,
    context_layers,
    cpu_times,
    exec_metrics,
    median,
    percentile,
    steal_pct,
    usage,
    usage_since,
)

SENTENCES = 100_000
WORDS_PER_SENTENCE = 100
#: Row groups in the input file: the file source splits a parquet file only
#: at row-group boundaries, so one group would put the whole scan and
#: tokenize stage on a single core.
ROW_GROUPS = 16
MIN_ATTEMPTS = 2
#: Stop after this many attempts even if fewer than MIN_ATTEMPTS succeeded.
MAX_ATTEMPTS = 12
STATE_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    ),
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
    # numTotalStateRows costs a read per write; the count is not used here
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows": "false",
}
_COUNT_SQL = (
    "SELECT w AS word, count(*) AS cnt FROM (SELECT unnest(regexp_split_to_array("
    "sentence, '\\W+')) AS w FROM read_parquet('{path}')) WHERE length(w) > 0 GROUP BY w"
)


def make_input(directory: Path, seed: int) -> Path:
    """Write the seeded sentence file; the library sees only this file."""
    from flink_wordcount_spark.streaming.sentences import wordlist

    vocab = np.array(wordlist(), dtype=object)
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, len(vocab), size=(SENTENCES, WORDS_PER_SENTENCE))
    sentences = [" ".join(row) for row in vocab[idx]]
    directory.mkdir(parents=True)
    path = directory / "part-00000.parquet"
    pq.write_table(pa.table({"sentence": sentences}), path,
                   row_group_size=SENTENCES // ROW_GROUPS)
    return path


class _Progress:
    """Collects streaming progress events (traced runs only)."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802 — Spark API names
                pass

            def onQueryProgress(self, event):  # noqa: N802
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.events = events
        self.listener = Listener()
        spark.streams.addListener(self.listener)


def _stream_layers(attempts: list[list[dict]]) -> dict[str, float]:
    """Batch phases and state-store metrics: time percentiles pooled over the
    data batches of all attempts, counts per attempt (median)."""
    per_attempt = [[e for e in events if e.get("numInputRows", 0) > 0] for events in attempts]
    batches = [b for bs in per_attempt for b in bs]

    def state(b):
        return (b.get("stateOperators") or [{}])[0]

    def per(f):
        return median(sum(f(b) for b in bs) for bs in per_attempt)

    dur = lambda k: [b["durationMs"].get(k, 0) for b in batches]  # noqa: E731
    ops = [state(b) for b in batches]
    custom = lambda k: [o.get("customMetrics", {}).get(k, 0) for o in ops]  # noqa: E731

    return {
        "stream.batches": per(lambda b: 1),
        "stream.trigger_ms_p50": median(dur("triggerExecution")),
        "stream.trigger_ms_p95": percentile(dur("triggerExecution"), 95),
        "stream.addBatch_ms_p50": median(dur("addBatch")),
        "stream.queryPlanning_ms_p50": median(dur("queryPlanning")),
        "stream.walCommit_ms_p50": median(dur("walCommit")),
        "stream.commitOffsets_ms_p50": median(dur("commitOffsets")),
        "stream.latestOffset_ms_p50": median(dur("latestOffset")),
        "source.rows_ingested": per(lambda b: b["numInputRows"]),
        "state.commit_ms_p50": median(o.get("commitTimeMs", 0) for o in ops),
        "state.commit_ms_p99": percentile([o.get("commitTimeMs", 0) for o in ops], 99),
        "state.fileSync_ms_p50": median(custom("rocksdbCommitFileSyncLatencyMs")),
        "state.flush_ms_p50": median(custom("rocksdbCommitFlushLatency")),
        "state.rows_updated": per(lambda b: state(b).get("numRowsUpdated", 0)),
        "state.memory_bytes": max((o.get("memoryUsedBytes", 0) for o in ops), default=0),
    }


def run(spark, seed: int, seconds: int, tracer, work: Path) -> dict:
    from flink_wordcount_spark.streaming.wordcount import (
        file_replay_wordcount,
        run_to_completion,
    )

    import duckdb

    with tracer.span("make_input"):
        path = make_input(work / "input", seed)
    with tracer.span("oracle"):
        want = duckdb.sql(_COUNT_SQL.format(path=path)).df()
    words = int(want["cnt"].sum())
    for k, v in STATE_CONFS.items():
        spark.conf.set(k, v)
    progress = _Progress(spark) if tracer.enabled else None
    reader = StatusReader(spark) if tracer.enabled else None
    unload = spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop
    attempted = failed = 0
    errors: list[str] = []
    attempts: list[dict] = []

    def attempt(i: int) -> dict | None:
        nonlocal attempted, failed
        attempted += 1
        n_events = len(progress.events) if progress else 0
        sink = f"perfbench_drain_{i}"
        start = usage(spark)
        try:
            with tracer.span("attempt", attempt=i) as span:
                t0 = time.perf_counter()
                counts = file_replay_wordcount(spark, str(path.parent), text_col="sentence")
                result = run_to_completion(
                    counts,
                    name=sink,
                    output_mode="complete",
                    shuffle_partitions=0,  # keep the session's parallelism
                    checkpoint_dir=str(work / f"ckpt-{i}"),
                )
                t1 = time.perf_counter()
            used = usage_since(spark, start)
            diff = compare(result.toPandas(), want)
        except Exception as e:  # noqa: BLE001 — one failed op, keep measuring
            failed += 1
            errors.append(f"attempt {i}: {e!r}"[:300])
            return None
        finally:
            unload()
            # the memory sink keeps every result row on the driver heap
            spark.catalog.dropTempView(sink)
        if diff:
            failed += 1
            errors.append(f"attempt {i}: {diff}"[:300])
        rec = {
            "attempt": i,
            "pass_s": t1 - t0,
            **used,
        }
        if progress:
            reader.drain()
            events = progress.events[n_events:]
            rec["events"] = events
            run_ids = {e["runId"] for e in events}
            jobs = [j for r in run_ids for j in reader.jobs(r)]
            rec["layers"] = exec_metrics(reader.exec_stats(jobs), reader,
                                         spark.sparkContext.defaultParallelism)
            for e in events:
                start = _epoch(e["timestamp"])
                tracer.add("batch", start, start + e["durationMs"]["triggerExecution"] / 1000,
                           parent=span["id"], batch=e["batchId"], rows=e["numInputRows"])
        attempts.append(rec)
        return rec

    first = attempt(0)
    attempt(1)  # warm-up, not published
    measured: list[dict] = []
    host0 = cpu_times()
    t_start = time.perf_counter()
    i = 2
    while len(measured) < MIN_ATTEMPTS or time.perf_counter() - t_start < seconds:
        rec = attempt(i)
        i += 1
        if rec:
            measured.append(rec)
        elif i >= MAX_ATTEMPTS:
            break
    host_steal = steal_pct(host0, cpu_times())
    if progress:
        spark.streams.removeListener(progress.listener)

    end_to_end = {
        "first_pass_s": first["pass_s"] if first else 0.0,
        "pass_s": median(r["pass_s"] for r in measured),
        "words_per_s": (words * len(measured) / sum(r["pass_s"] for r in measured)
                        if measured else 0.0),
    }
    per_layer = context_layers(measured, host_steal)
    if progress:
        per_layer.update(_stream_layers([r["events"] for r in measured]))
        for key in measured[0]["layers"]:
            per_layer[key] = median(r["layers"][key] for r in measured)
    detail = {
        "sentences": SENTENCES,
        "words": words,
        "distinct_words": len(want),
        "attempts_measured": len(measured),
        "attempts": [{k: v for k, v in r.items() if k not in ("events", "layers")}
                     for r in attempts],
        "errors": errors,
    }
    if progress:
        detail["layers_per_pass"] = {
            k: [r["layers"][k] for r in measured] for k in measured[0]["layers"]
        }
    return {
        "attempted": attempted,
        "failed": failed,
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "detail": detail,
    }


def _epoch(iso: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
