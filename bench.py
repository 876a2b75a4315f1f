#!/usr/bin/env python3
"""Benchmark driver: headline queries + streaming wordcount throughput.

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., "streaming": {...}}

The streaming section reports words/s through the full reference pipeline
(generator -> tokenizer -> stateful count), comparable to BASELINE.md's
1.25M words/s/worker design point.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from flink_wordcount_spark.plans import QUERIES  # noqa: E402
from flink_wordcount_spark.session import (  # noqa: E402
    LIVE_STATE,
    ROCKSDB_STATE,
    TRACK_ROWS,
    get_spark,
    scoped_confs,
)
from perfbench import probes  # noqa: E402

#: Headline set: the scale-critical shapes (fact-table aggs, multi-join,
#: window, near-dedup, ANN, streaming, Arrow UDF path).
HEADLINE = [
    "wordcount_top100",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "join_range",
    "agg_cube",
    "window_running_sum",
    "ev_session_window",
    "dedup_ngram_jaccard",
    "dedup_minhash_verified",
    "embed_cosine_topk",
    "text_quality",
    "mm_featurize",
    "stream_wordcount_file",
    "q7_volume_shipping",
    "pack_sequences",
    # r07: the flagship curation funnel (VERDICT r06 #5) — previously the
    # most expensive verify query with no bench entry
    "curation_end_to_end",
]

# Streaming throughput workload: sentences x words/sentence (reference
# operating point: 100-word sentences, StatefulWordCount.java:64).
STREAM_SENTENCES = 500_000
SENTENCE_SIZE = 100
#: measured throughput attempts after the discarded JIT pre-pay runs
THROUGHPUT_ATTEMPTS = 3

#: Latency phase: live rate source at the reference operating rate
#: (12,500 sentences/s, StatefulWordCount.java:64), sampled 1-in-1000.
#: 110 s run, percentiles from samples after a 50 s warm-up. The source ramps
#: its rate over the first 15 s (covering stream initialization): without the
#: ramp the source's backdated clock manufactures a ~100k-row startup backlog
#: that a pipeline with ~5% capacity margin takes minutes to drain, so the
#: window reports queue-drain progress instead of steady state (measured:
#: thirds of a 120 s no-ramp run give p50 2.35 s / 1.91 s / 1.86 s). Even
#: with the ramp, a transiently loaded host during startup builds a backlog
#: that a 25 s warm-up doesn't cover (measured: p50 7.0 s at load~3 start vs
#: 1.9 s steady) — the longer window lets the published p50 measure steady
#: state; the full-window numbers stay in the artifact for auditability.
LATENCY_RUN_SEC = 110
LATENCY_WARMUP_SEC = 50

#: the sf0.1 fixture: the headline suite's default scale and the source
#: ``build_sf1`` replicates
SF01 = "/root/testdata/sf0.1"


def materialize(df) -> None:
    """Execute the full plan without driver-side transfer (noop batch sink)."""
    df.write.format("noop").mode("overwrite").save()


def pick(sorted_vals: list, q: float):
    """The sample at fraction ``q`` of an ascending list: index
    ``min(n - 1, int(q * n))``, so ``q=0.5`` is the upper median."""
    return sorted_vals[min(len(sorted_vals) - 1, int(q * len(sorted_vals)))]


def degenerate_window(lat: dict) -> bool:
    """True when a latency window measured a stall, not the operating point.

    A healthy window at trigger T over run R commits ~R/T batches of
    ~rate*T rows each. A stalled window instead shows a few giant batches:
    BENCH_r04 published p50 12,470 ms from exactly 20 batches of ~187k rows
    (~440 expected at 0.25 s trigger over 110 s) because the old guard used
    an absolute ``n < 20`` threshold and the stall passed by one batch.
    Degenerate iff any of:
      - sample count too small for stable percentiles (< 2000),
      - batch count < 25% of ``run_sec / trigger_sec`` (relative, so the
        threshold scales with the configured window instead of hard-coding
        a count a stall can straddle),
      - median batch execution > 4x the trigger interval (batches are
        queueing — percentiles would measure backlog drain).
    """
    cfg = lat.get("config", {})
    batches = cfg.get("batches", {})
    trigger_sec = float(cfg.get("trigger_sec") or 0.25)
    run_sec = float(cfg.get("run_sec") or LATENCY_RUN_SEC)
    expected = run_sec / trigger_sec
    p50_exec = batches.get("trigger_exec_ms_p50")
    return (
        lat.get("n_samples", 0) < 2000
        or batches.get("n", 0) < 0.25 * expected
        or (p50_exec is not None and p50_exec > 4 * trigger_sec * 1000)
    )


def io_stall_window(lat: dict) -> bool:
    """True when a latency window's commit-time cost is a HOST IO stall,
    not engine behavior.  Two regimes:

    - Discrete spikes: commit p99 blown out (> 4x p50) with every spike's
      breakdown ~pure fileSync (flush/compaction/checkpoint ~0) —
      reproducible ~8-90 s fsyncs of a small changelog append on an idle VM
      (observed r5/r6).
    - Elevated baseline: every batch's PER-PARTITION median fileSync
      exceeds 250 ms and dominates the commit median.

    UNITS (r07 finding): ``stateCommit_ms``/``fileSync_ms`` from
    ``customMetrics`` are SUMS across the state partitions, not wall time —
    r6's artifact shows stateCommit 1,904 ms inside a 1,063 ms trigger
    execution, impossible for serial wall time.  A healthy 16-partition
    window at this operating point measures ~2.1 s summed fileSync
    (~130 ms/partition, overlapped in wall time; quiet-machine probe, load
    0.29), so the elevated-baseline test normalizes per partition — an
    un-normalized 250 ms floor would flag every healthy run.  The r07
    tmpfs-vs-disk A/B (commit ratio 0.8, tmpfs NOT faster) additionally
    shows the baseline sum is not raw storage sync; only large
    per-partition excursions are credibly host IO.

    Distinct from degenerate_window (batch starvation): the stream keeps
    pace here, only the durability path blocks."""
    bt = lat.get("config", {}).get("batches", {})
    parts = lat.get("config", {}).get("partitions") or 12
    p50 = bt.get("state_commit_ms_p50") or 0
    sync_p50 = bt.get("fileSync_ms_p50")
    if (
        p50
        and sync_p50 is not None
        and sync_p50 / parts > 250
        and sync_p50 > 0.5 * p50
    ):
        return True
    spikes = bt.get("commit_spikes") or []
    p99 = bt.get("state_commit_ms_p99") or 0
    if not spikes or not p50 or p99 <= 4 * p50:
        return False
    return all(
        (s.get("fileSync_ms") or 0) >= 0.8 * (s.get("stateCommit_ms") or 1)
        for s in spikes
    )


def warm_jvm_for_latency(spark) -> dict:
    """JIT-warm the JVM before the measured latency window (round-5 finding).

    The latency stall published in BENCH_r04 was not plan cost — it was
    HotSpot warm-up: the identical tokenize+agg plan measured 0.97M words/s
    on its first run and 5.9M on its sixth in one JVM (six back-to-back
    runs: 20.6/13.7/8.9/5.2/3.4/3.9 s for the same 20M-word job). A cold
    JVM's live capacity sits BELOW the 1.25M words/s arrival rate, so the
    early batches queue and the whole window measures backlog drain —
    measured cold p50 43.1 s vs 1.8-2.0 s after this warm-up at identical
    config. Two phases:
      1. batch replay of the same operator chain (sentence-gen UDF ->
         tokenize -> hash agg) over ~1M rows — compiles the shared hot
         paths (regex split, UTF8String, hash-agg, Arrow codecs) at full
         volume, which a rate-limited stream cannot do quickly;
      2. one short throwaway stream at the operating config — compiles the
         streaming-specific paths (micro-batch planner, state store JNI,
         update-mode output) and is discarded, because successive streaming
         queries degrade a JVM (loaded state-store caches), so the MEASURED
         window must be the first full-rate window after it.
    On a 1000-executor cluster this is the steady state, not a trick: a
    long-lived job is always JIT-warm; the bench must not bill HotSpot's
    first minute to the engine.
    """
    from flink_wordcount_spark.streaming.sentences import batch_golden
    from flink_wordcount_spark.streaming.wordcount import sampled_counts

    t0 = time.time()
    for _ in range(3):
        g = batch_golden(spark, 300_000, sentence_size=100, sample_period=1000)
        materialize(sampled_counts(g))
    batch_sec = round(time.time() - t0, 1)
    t0 = time.time()
    bench_latency(spark, run_sec=25, warmup_sec=20)  # throwaway, discarded
    # deliberately NO state-store unload here: unloading right before the
    # measured window stalled it in validation (p50 7.2 s vs 2.0-2.3 s with
    # the throwaway's providers left in place); the proven-win unload sites
    # are all AFTER the measured latency window (bench_streaming)
    return {"batch_replay_sec": batch_sec, "throwaway_stream_sec": round(time.time() - t0, 1)}


def _unload_state_stores(spark) -> None:
    """Unload every loaded state-store provider (RocksDB instances, version
    caches, maintenance threads) left behind by a STOPPED streaming query.

    Stopped queries don't unload their providers — they linger until a
    maintenance cycle notices, holding native memory and background
    threads, and each successive streaming phase runs in a more degraded
    JVM. Measured on the 50M-word throughput run: attempts decay 4.7 ->
    1.6 -> 1.1M words/s without this, and climb 5.2 -> 6.9 -> 6.9M with it
    — the mysterious attempt-spread of rounds 3-4 was exactly this.
    StateStore.stop() is the executor-shutdown path; maintenance restarts
    automatically when the next query loads a store."""
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:  # noqa: BLE001 — diagnostics only, never fail the bench
        pass


def _golden_sentences_path(spark) -> str:
    """Materialize (once) the deterministic 50M-word sentence table both
    streaming phases replay (generator parity: seeded, 100-word sentences,
    full vocabulary)."""
    import tempfile

    from flink_wordcount_spark.streaming.sentences import batch_golden, wordlist

    vocab = len(wordlist())
    path = os.path.join(
        tempfile.gettempdir(),
        f"fws_bench_{STREAM_SENTENCES}x{SENTENCE_SIZE}_v{vocab}_g2",
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        batch_golden(
            spark, STREAM_SENTENCES, sentence_size=SENTENCE_SIZE, sample_period=1000
        ).write.mode("overwrite").parquet(path)
    return path


def bench_storage_ab(spark) -> dict:
    """A/B the latency phase's storage dependence: identical short windows
    with the checkpoint/state/changelog tree on tmpfs (/dev/shm) vs the
    default disk tempdir.  Each side publishes p50/p95 plus the commit and
    fileSync medians — the attribution evidence for a stall-flagged round
    (VERDICT r06 #2: the r6 driver artifact's 1-2 s steady fileSync on tiny
    changelog appends was environment-attributed without proof)."""
    out: dict = {}
    shm = "/dev/shm"
    # disk -> tmpfs -> disk again: with a fixed two-window order, JVM/OS
    # warmth systematically favors whichever side runs second and biases
    # the ratio (review r07 — order is load-bearing, same lesson as
    # words_per_sec_attempts_chrono); the ratio is computed from the SECOND
    # disk window (same warmth as the tmpfs window it brackets), and the
    # cold first disk window stays in the artifact as the warm-up control.
    sides = [("disk_cold", None)]
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        sides += [("tmpfs", shm), ("disk", None)]
    else:
        out["tmpfs_unavailable"] = True
        sides += [("disk", None)]
    out["order"] = [name for name, _ in sides]
    for name, base in sides:
        w = bench_latency(spark, run_sec=60, warmup_sec=25, base_dir=base)
        _unload_state_stores(spark)
        bt = w.get("config", {}).get("batches", {})
        out[name] = {
            "p50": w.get("p50"),
            "p95": w.get("p95"),
            "n_samples": w.get("n_samples"),
            "state_commit_ms_p50": bt.get("state_commit_ms_p50"),
            "fileSync_ms_p50": bt.get("fileSync_ms_p50"),
            "n_batches": bt.get("n"),
        }
    d, t = out.get("disk") or {}, out.get("tmpfs") or {}
    if d.get("state_commit_ms_p50") and t.get("state_commit_ms_p50"):
        out["commit_p50_disk_over_tmpfs"] = round(
            d["state_commit_ms_p50"] / max(t["state_commit_ms_p50"], 1), 2
        )
    return out


def bench_streaming_latency(spark) -> dict:
    """Latency + capacity + recovery, in the cleanest possible JVM.

    RocksDB state store explicitly (the documented operating point — a
    fresh subprocess would otherwise default to the HDFS-heap store;
    the warm sweep puts the two within 0.2 s of each other, warm_500ms_16p
    2.29 s vs warm_defaultstore 2.11 s, so this costs little and keeps the
    artifact honest about what it measured). Throughput runs in a SEPARATE
    JVM (run_streaming_isolated): after ~300 micro-batches of latency +
    capacity + recovery work, even unloading state stores between runs no
    longer stabilizes the 50M-word attempts (measured decay 6.5 -> 1.3 ->
    1.0M words/s), while a fresh JVM with per-attempt unloads holds
    5.2 -> 6.9 -> 6.9M.
    """
    path = _golden_sentences_path(spark)
    with scoped_confs(spark, ROCKSDB_STATE):
        jit_warm = warm_jvm_for_latency(spark)
        latency = bench_latency(spark)
        _unload_state_stores(spark)
        # Degenerate-window guard (see degenerate_window): transient host
        # contention during stream init can collapse the measurement to a
        # handful of giant batches, which publishes stall percentiles as if
        # they were steady state (BENCH_r04 shipped p50 12.47 s from exactly
        # 20 backlogged batches where ~440 were expected). One retry with a
        # fresh window; if still degenerate, the artifact keeps the larger
        # sample and flags it honestly.
        if degenerate_window(latency):
            retry = bench_latency(spark)
            _unload_state_stores(spark)
            if not degenerate_window(retry) or retry.get(
                "n_samples", 0
            ) > latency.get("n_samples", 0):
                latency = retry
            if degenerate_window(latency):
                latency["degenerate_window"] = True
        # Host-IO-stall guard (r06): a storage-layer fsync stall (pure
        # fileSync commit spikes, see io_stall_window) poisons the record
        # percentiles through backlog drain without starving batches. One
        # retry; keep the cleaner window by p95 and attach the stalled
        # window's spike evidence so the artifact still shows what happened.
        # Screened on whatever window the degenerate branch ADOPTED (an
        # independent `if`, not elif): a degenerate first window's retry can
        # itself contain the stall and must not be published unflagged.
        if not latency.get("degenerate_window") and io_stall_window(latency):
            first_spikes = latency.get("config", {}).get("batches", {}).get(
                "commit_spikes"
            )
            retry = bench_latency(spark)
            _unload_state_stores(spark)
            if not degenerate_window(retry) and (
                retry.get("p95") or 1 << 30
            ) < (latency.get("p95") or 1 << 30):
                latency = retry
                # evidence must describe the PUBLISHED window (ADVICE r06):
                # re-screen the adopted retry and attach its OWN spikes; the
                # discarded window's evidence stays under its own key
                latency["io_stall_spikes_discarded"] = first_spikes
                if io_stall_window(latency):
                    latency["io_stall_detected"] = True
                    latency["io_stall_spikes"] = latency.get("config", {}).get(
                        "batches", {}
                    ).get("commit_spikes")
            else:
                latency["io_stall_detected"] = True
                latency["io_stall_spikes"] = first_spikes
        # Storage A/B (VERDICT r06 #2): when the published window is
        # stall-flagged, pin the cause — two short windows with the
        # checkpoint/changelog tree on tmpfs (/dev/shm) vs disk.  A clean
        # tmpfs window beside a stalled disk window attributes the latency
        # delta to the sandbox storage layer, not the engine; similar
        # windows would instead indict the engine.  Skipped on clean runs
        # (the A/B costs two extra measurement windows).
        if latency.get("io_stall_detected") or latency.get("degenerate_window"):
            latency["storage_ab"] = bench_storage_ab(spark)
            _unload_state_stores(spark)
        # Margin evidence (VERDICT r04 #7): saturate the live path at 2x the
        # reference rate and report the drained rows/s — deliberately NOT a
        # latency point (a saturated window's percentiles measure queue
        # depth, which is exactly what the degenerate guard exists to
        # flag). Measured r5: ~21k rows/s (~2.1M words/s) vs 12.5k arrival.
        capacity = bench_capacity(spark)
        _unload_state_stores(spark)
        # Capacity-margin floor guard (r09, VERDICT r08 #8): the margin
        # fell 1.71x -> 1.50x in r08, host-attributed but unguarded. Treat
        # margin < 1.3x the reference rate like a stall: one retry with a
        # fresh window, keep the better margin, and flag the artifact if
        # the floor is still breached so the round runs the throughput A/B
        # instead of shipping a silent capacity regression.
        if capacity_margin_low(capacity):
            retry = bench_capacity(spark)
            _unload_state_stores(spark)
            if (retry.get("margin_vs_reference_rate") or 0) > (
                capacity.get("margin_vs_reference_rate") or 0
            ):
                capacity = retry
            capacity["margin_below_floor"] = capacity_margin_low(capacity)
        # Knee probe (r10, VERDICT r09 #7): the 25k window drains ~19k
        # rows/s — but a probe ceiling of 25k caps the measurable margin at
        # 2.0x, so it can't distinguish "saturated at 19k" from "pacing
        # artifact of the offered rate". One more window at 40k offered
        # resolves it: if drained stays flat the knee IS the 25k window's
        # drain rate; if it rises, capacity was above the old probe ceiling
        # and the higher figure is the knee candidate.
        capacity["knee"] = bench_capacity_knee(spark, capacity)
        _unload_state_stores(spark)
        # recovery last within this JVM: restart-to-first-commit is a small
        # timing-sensitive measurement and the unloads keep the JVM sane
        recovery = bench_recovery(spark, path)
    return {
        "latency_ms": latency,
        "jit_warmup": jit_warm,
        "live_capacity": capacity,
        "recovery": recovery,
    }


def adaptive_warmup_rates(
    run_once, max_runs: int = 3, climb_ratio: float = 1.2
) -> list[int]:
    """Discarded JIT pre-pay schedule (VERDICT r10 #7; adaptive r11).

    One discarded run is NOT always enough: r11 window 3 crossed the
    HotSpot cliff DURING the prepay (4.78M discarded, then 9.0-9.96M
    measured), while windows 1-2 measured straight off the cold side.
    Call ``run_once()`` (runs one full-size throughput job, returns its
    words/s) until the rate stops climbing more than ``climb_ratio``
    run-over-run, capped at ``max_runs`` total discarded runs.  The stop
    condition is one-sided on purpose (ADVICE r11): any non-climb — flat,
    mild rise, or even a large DROP (in-JVM variance, not warm-up) — ends
    the prepay; only a >20% rise buys another discarded run, because only
    a rise is evidence the JIT cliff is still being crossed.  Every
    discarded rate is returned (and published) for per-window audit."""
    rates = [run_once()]
    while len(rates) < max_runs:
        rate = run_once()
        still_climbing = rate > rates[-1] * climb_ratio
        rates.append(rate)
        if not still_climbing:
            break
    return rates


def bench_streaming_throughput(spark) -> dict:
    """Words/s through generator -> tokenizer -> stateful running count.

    Matches the reference experiment's own gate (run_job.sh:56): throughput
    is measured WITH checkpointing enabled (Spark commits offsets + state
    per micro-batch — strictly more frequent than Flink's 30 s interval)
    and with the RocksDB state store at the full 355k-word vocabulary.
    Runs in its own JVM; every attempt is followed by a state-store unload
    (_unload_state_stores) — without it attempts decay 4.7 -> 1.6 -> 1.1M
    words/s as orphaned RocksDB providers pile up; with it they hold
    5.2 -> 6.9 -> 6.9M in a fresh JVM. The max is the capability number,
    the MEDIAN is the expected number — both published, plus raw attempts
    (VERDICT r03: a bare 2-attempt spread was unreadable).
    """
    import shutil
    import tempfile

    from flink_wordcount_spark.streaming.sentences import wordlist
    from flink_wordcount_spark.streaming.wordcount import (
        file_replay_wordcount,
        run_to_completion,
    )

    vocab = len(wordlist())
    path = _golden_sentences_path(spark)
    # row-count tracking off: see session.TRACK_ROWS
    rocksdb = {**ROCKSDB_STATE, TRACK_ROWS: "false"}

    def one_run(confs: dict) -> tuple[int, float]:
        ckpt = tempfile.mkdtemp(prefix="fws_bench_ckpt_")
        try:
            with scoped_confs(spark, confs):
                counts = file_replay_wordcount(spark, path, text_col="sentence")
                t0 = time.time()
                result = run_to_completion(
                    counts,
                    output_mode="complete",
                    shuffle_partitions=0,  # keep the session's full parallelism
                    checkpoint_dir=ckpt,
                )
                total = sum(r.cnt for r in result.collect())
                return total, time.time() - t0
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    # JIT pre-pay (VERDICT r10 #7): WARMUP_AB_r10 phase-isolated the
    # 4.0-8.8 M words/s attempt spread to in-JVM HotSpot warm-up — a
    # fresh JVM's FIRST full-size run always lands ~3.7-4.6 M
    # regardless of phase ordering.  One discarded full-size run pays
    # that cliff before anything is measured, so the measured attempts
    # start on the warm side; its rate is published for audit (it
    # should sit at the cold ~4 M level — if it matches the measured
    # attempts instead, the cliff moved and the discard is free).
    def _prepay_once() -> int:
        w, d = one_run(rocksdb)
        _unload_state_stores(spark)
        return round(w / d)

    warm_rates = adaptive_warmup_rates(_prepay_once)
    attempts = []
    for _ in range(THROUGHPUT_ATTEMPTS):
        attempts.append(one_run(rocksdb))
        _unload_state_stores(spark)
    dt_attempts = sorted(d for _, d in attempts)
    total_words, dt = min(attempts, key=lambda a: a[1])
    dt_median = pick(dt_attempts, 0.5)
    # HDFS-backed memory store (Flink analog)
    _, dt_default = one_run(dict.fromkeys(rocksdb))
    return {
        "sentences": STREAM_SENTENCES,
        "sentence_size": SENTENCE_SIZE,
        "vocabulary": vocab,
        "checkpointing": True,
        "state_store": "rocksdb",
        "track_total_rows": False,  # observability metric off: session.TRACK_ROWS
        "words_total": total_words,
        "elapsed_sec": round(dt, 3),
        "words_per_sec_best": round(total_words / dt),
        "words_per_sec_median": round(total_words / dt_median),
        "words_per_sec_attempts": [round(total_words / d) for d in dt_attempts],
        # CHRONOLOGICAL attempt rates (r07): the sorted list above hides
        # whether variation is JIT warm-up (ascending) or in-JVM decay
        # (descending) — r6's verdict read the sorted list as decay with no
        # way to tell.  Order is load-bearing for diagnosing the median.
        "words_per_sec_attempts_chrono": [round(w / d) for w, d in attempts],
        # the discarded JIT pre-pay runs (VERDICT r10 #7; adaptive r11) —
        # first is expected COLD; the list ends once a run stops climbing
        # >20% over its predecessor (drops end it too — see
        # adaptive_warmup_rates' one-sided stop rationale)
        "words_per_sec_jit_warmup_run": warm_rates[0],
        "words_per_sec_jit_warmup_runs": warm_rates,
        "words_per_sec_default_store": round(total_words / dt_default),
        "sentences_per_sec": round(STREAM_SENTENCES / dt),
    }


def bench_streaming(spark) -> dict:
    """Both streaming phases in THIS JVM (fallback path when the subprocess
    isolation of run_streaming_isolated is unavailable)."""
    out = bench_streaming_latency(spark)
    out.update(bench_streaming_throughput(spark))
    return out


CAPACITY_MARGIN_FLOOR = 1.3


def capacity_margin_low(capacity: dict, floor: float = CAPACITY_MARGIN_FLOOR) -> bool:
    """True when the saturation probe's margin over the reference arrival
    rate is below the floor — OR when the probe produced no margin at all
    (an unmeasured margin must not pass the guard silently)."""
    margin = capacity.get("margin_vs_reference_rate")
    return margin is None or margin < floor


def bench_capacity(spark, probe_rate: int = 25000, run_sec: int = 40) -> dict:
    """Live-path capacity via a deliberate saturation probe.

    Drive the full live pipeline (rate source -> sentence UDF -> tokenize ->
    355k-key stateful count, checkpointing on) at 2x the reference rate so
    batches run back-to-back; the drained rows-per-exec-second IS the
    capacity, and capacity / 12,500 is the margin behind the operating
    point's percentiles. Latency percentiles of this window are discarded
    on purpose: a saturated window measures queue depth, not latency.
    """
    lat = bench_latency(
        spark,
        run_sec=run_sec,
        warmup_sec=10,
        rows_per_second=probe_rate,
    )
    batches = lat.get("config", {}).get("batches", {})
    drained = batches.get("rows_per_exec_sec_p50")
    return {
        "probe_rows_per_sec": probe_rate,
        "probe_run_sec": run_sec,
        "drained_rows_per_exec_sec": drained,
        "words_per_sec_capacity": drained * SENTENCE_SIZE if drained else None,
        "margin_vs_reference_rate": (
            round(drained / 12500, 2) if drained else None
        ),
        "n_batches": batches.get("n"),
    }


def bench_capacity_knee(
    spark,
    base_capacity: dict,
    ladder=(40000, 64000, 104000, 168000, 256000, 416000),
    run_sec: int = 40,
) -> dict:
    """Locate the live path's saturation KNEE (VERDICT r09 #7).

    The standing capacity probe offers 2x the reference rate (25k rows/s)
    and reports what drains — but that offered rate is also a ceiling on
    the measurable margin (25k/12.5k = 2.0x), and the first 40k window
    proved the 25k drain (18.1k) was PACING-limited, not saturation (drain
    rose to ~30k at 40k offered and ~51k at 64k — drain tracks ~75-80% of
    the offer until the state-store wall). This climbs a geometric
    offered-rate ladder, one saturated window per rung, stopping at the
    first rung whose drain is within 10% of the previous rung's — that
    flattening IS the knee (expected near the throughput phase's sustained
    words/s: ~4.6M words/s ~ 46k rows/s). ``bounded`` is False when even
    the top rung still climbed (capacity >= the best drain; the artifact
    says so rather than faking a knee). The base 25k point is reused from
    the probe that already ran — no duplicate window."""
    points = [
        {
            "offered_rows_per_sec": base_capacity.get("probe_rows_per_sec"),
            "drained_rows_per_exec_sec": base_capacity.get(
                "drained_rows_per_exec_sec"
            ),
        }
    ]
    flat = None
    measurement_failed = False
    for rate in ladder:
        cap = bench_capacity(spark, probe_rate=rate, run_sec=run_sec)
        _unload_state_stores(spark)
        drained = cap.get("drained_rows_per_exec_sec")
        points.append(
            {"offered_rows_per_sec": rate, "drained_rows_per_exec_sec": drained}
        )
        prev = points[-2]["drained_rows_per_exec_sec"]
        if not (prev and drained):
            # a degenerate rung is a MEASUREMENT failure, not evidence of
            # climbing (review r10): flag it rather than let bounded=False
            # read as "capacity >= best drain" off rungs that never ran
            flat = None
            measurement_failed = True
            break
        flat = drained <= 1.10 * prev
        if flat:
            break  # drain stopped following the offer: knee found
    drains = [p["drained_rows_per_exec_sec"] for p in points]
    knee = max((d for d in drains if d), default=None)
    # uniform shape regardless of outcome (review r10): consumers read
    # knee.bounded without KeyError even when every rung degenerated
    return {
        "points": points,
        # flat=True: the last rung's drain matched the previous rung ->
        # the knee is real saturation. flat=False: still climbing at the
        # top rung; the knee is AT LEAST the best drain. flat=None: a rung
        # failed to measure; see measurement_failed.
        "flat": flat,
        "measurement_failed": measurement_failed,
        "knee_rows_per_exec_sec": knee,
        "knee_words_per_sec": knee * SENTENCE_SIZE if knee else None,
        "knee_margin_vs_reference_rate": (
            round(knee / 12500, 2) if knee else None
        ),
        # None (not False) when a rung failed to measure (ADVICE r10): a
        # consumer reading only the scalar must not mistake a measurement
        # failure for "still climbing = headroom".
        "bounded": None if measurement_failed else bool(flat),
    }


def bench_recovery(spark, golden_path: str) -> dict:
    """The reference's headline experiment (run_job.sh:76-83 + kill_worker.sh):
    kill the job mid-stream, restart from the checkpoint, measure time back
    to the first committed batch and verify exactly-once totals. Here the
    kill is a query stop between micro-batches (single-process analog of
    losing the TaskManager) against the same checkpointed state."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from flink_wordcount_spark.operators.text import tokenize
    from flink_wordcount_spark.streaming.wordcount import (
        drain,
        file_replay_wordcount,
        start_to_memory,
    )

    ckpt_root = tempfile.mkdtemp(prefix="fws_bench_recovery_")
    name = "bench_recovery_counts"

    def start():
        counts = file_replay_wordcount(
            spark, golden_path, text_col="sentence", max_files_per_trigger=4
        )
        return start_to_memory(
            counts, name=name, checkpoint_dir=os.path.join(ckpt_root, "ckpt")
        )

    try:
        q = start()
        deadline = time.time() + 120
        while time.time() < deadline:
            done = [p for p in q.recentProgress if p["numInputRows"] > 0]
            if len(done) >= 2:
                break
            time.sleep(0.2)
        killed_after = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        q.stop()
        q.awaitTermination(30)

        t0 = time.time()
        q = start()
        while time.time() - t0 < 120:
            # any committed batch counts as recovered (a fully-drained source
            # still commits an empty batch after restart)
            if q.recentProgress:
                break
            time.sleep(0.05)
        restart_to_first_commit = time.time() - t0
        drain(q)
        total = spark.table(name).agg(F.sum("cnt")).collect()[0][0]
        q.stop()
        q.awaitTermination(30)

        expected = (
            tokenize(
                spark.read.parquet(golden_path), text_col="sentence", out_col="word"
            ).count()
        )
        return {
            "killed_after_batches": killed_after,
            "restart_to_first_commit_sec": round(restart_to_first_commit, 3),
            "exactly_once_ok": bool(total == expected),
        }
    finally:
        shutil.rmtree(ckpt_root, ignore_errors=True)


def bench_latency(
    spark,
    *,
    trigger_sec: float = 0.5,
    partitions: int = 12,
    extra_confs: dict[str, str] | None = None,
    run_sec: int = LATENCY_RUN_SEC,
    rows_per_second: int = 12500,
    gen_partitions: int = 16,
    warmup_sec: int | None = None,
    base_dir: str | None = None,
) -> dict:
    """Per-sampled-record latency percentiles (DummyLatencyCountingSink
    parity): live rate source -> tokenizer -> update-mode counts carrying
    max(sample_ts) -> LatencyRecorder foreachBatch, checkpointing on.

    Parameterized so scripts/latency_sweep.py can measure each lever
    (trigger interval, state partitions, changelog checkpointing, ...)
    in isolation; bench.py's default operating point is set from that
    sweep's results (see SCALE.md "Latency levers").

    Default trigger is 0.5 s (round 5): in a JIT-warm JVM the live path's
    capacity is ~1.5M words/s vs the 1.25M arrival rate — a ~20% margin.
    At 0.25 s the pipeline sits permanently one batch behind (exec ~1 s >
    trigger), and a single GC pause compounds into a backlog the margin
    takes tens of seconds to drain (measured: p50 2.9 s with a 13 s p95
    tail after one 8.6 s hiccup). At 0.5 s the queue drains between
    triggers and the same window measures p50 1.8 s / p95 2.8 s. Callers
    must run warm_jvm_for_latency first — a cold JVM's capacity is BELOW
    the arrival rate and any trigger setting stalls.
    """
    import shutil
    import tempfile

    from flink_wordcount_spark.streaming.metrics import LatencyRecorder
    from flink_wordcount_spark.streaming.sentences import rate_stream
    from flink_wordcount_spark.streaming.wordcount import sampled_counts

    if warmup_sec is None:
        warmup_sec = min(LATENCY_WARMUP_SEC, max(0, run_sec - 15))
    # RocksDB tuning for the live path: see session.LIVE_STATE
    confs = {**LIVE_STATE, **(extra_confs or {})}
    # Flush pending OS writeback BEFORE the measured stream starts: the
    # warm-up phase writes GBs of parquet whose dirty pages hit their ~30 s
    # expiry right inside the measurement window, and the changelog's small
    # per-commit fsync then queues behind that burst (observed as a
    # reproducible ~8.6 s pure-fileSync commit spike at batch ~40 in
    # otherwise-clean runs). Syncing here charges the cost to setup, where
    # it belongs — steady state then measures only the stream's own IO.
    try:
        os.sync()
    except (AttributeError, OSError):
        pass
    # base_dir relocates the checkpoint/state/changelog tree — the storage
    # A/B (bench_storage_ab) points it at /dev/shm to take the host's disk
    # out of the commit path entirely.
    out_dir = tempfile.mkdtemp(prefix="fws_bench_latency_", dir=base_dir)
    csv_path = os.path.join(out_dir, "latency.csv")
    # 12 state/shuffle partitions (r08, order-controlled interleaved A/B vs
    # 16): record p50 is equal-or-better at every observed load while the
    # summed state-commit cost HALVES (3.3 s -> 1.75 s per batch) — and the
    # per-partition cost itself falls (~210 -> ~146 ms; 10 parts -> ~105 ms),
    # i.e. the cost is concurrent-commit CONTENTION (JNI/IO), not a fixed
    # per-partition API floor, which is why r07's "structural 133 ms"
    # reading was incomplete.  8 starves tokenize+agg parallelism, 32 pays
    # maximal commit contention; 12 keeps batch exec (~0.8 s) under the
    # trigger with the smallest durability tax.
    state_confs = {"spark.sql.shuffle.partitions": str(partitions), **confs}
    with scoped_confs(spark, state_confs):
        sentences = rate_stream(
            spark,
            rows_per_second=rows_per_second,
            num_partitions=gen_partitions,
            micro_batch=False,
            ramp_up_sec=15,  # cover stream init: no manufactured startup backlog
            sentence_size=SENTENCE_SIZE,
            sample_period=1000,
        )
        q = (
            sampled_counts(sentences).writeStream.outputMode("update")
            .foreachBatch(LatencyRecorder(csv_path))
            .option("checkpointLocation", os.path.join(out_dir, "ckpt"))
            .trigger(processingTime=f"{trigger_sec} seconds")
            .start()
        )
        try:
            time.sleep(run_sec)
            raw = q.recentProgress
        finally:
            q.stop()
            q.awaitTermination(30)

    def _one(p: dict) -> dict:
        op = (p.get("stateOperators") or [{}])[0]
        cm = op.get("customMetrics") or {}
        row = {
            "batchId": p["batchId"],
            "numInputRows": p["numInputRows"],
            "triggerExecution_ms": p["durationMs"].get("triggerExecution"),
            "addBatch_ms": p["durationMs"].get("addBatch"),
            "stateCommit_ms": op.get("commitTimeMs"),
        }
        # RocksDB commit-path breakdown (sums across partitions, ms):
        # separates changelog-append cost (fileSync) from RocksDB's
        # own flush/compaction and from snapshot maintenance — the
        # evidence that attributes a commit spike (VERDICT r05 #3).
        for short, key in (
            ("flush_ms", "rocksdbCommitFlushLatency"),
            ("compact_ms", "rocksdbCommitCompactLatency"),
            ("checkpoint_ms", "rocksdbCommitCheckpointLatency"),
            ("fileSync_ms", "rocksdbCommitFileSyncLatencyMs"),
            ("files_copied", "rocksdbFilesCopied"),
        ):
            if key in cm:
                row[short] = cm[key]
        return row

    try:
        raw = [json.loads(p.json) if hasattr(p, "json") else p for p in raw]
        progress = [_one(p) for p in raw if p.get("numInputRows", 0) > 0]
    except Exception:
        progress = []
    rows = [
        line.split(",")
        for line in open(csv_path).read().splitlines()[1:]
        if line
    ]
    shutil.rmtree(out_dir, ignore_errors=True)
    # Steady-state window: the rate source's clock starts at query start
    # (~8 s before the first trigger), and with capacity only ~5% above the
    # arrival rate the startup backlog takes tens of seconds to drain.
    # Headline percentiles come from samples logged after `warmup_sec`;
    # the full-window numbers are published alongside for auditability.
    all_lat = sorted(int(r[3]) for r in rows)
    if rows:
        t0 = min(int(r[2]) for r in rows)
        steady = [r for r in rows if int(r[2]) >= t0 + warmup_sec * 1000]
    else:
        steady = []
    if steady:
        lat = sorted(int(r[3]) for r in steady)
    else:
        lat = all_lat
    cfg = {
        "trigger_sec": trigger_sec,
        "partitions": partitions,
        "gen_partitions": gen_partitions,
        "run_sec": run_sec,
        "warmup_sec": warmup_sec,
        "storage_dir": base_dir or tempfile.gettempdir(),
        "changelog_checkpointing": confs[
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
        ]
        == "true",
        "min_deltas_for_snapshot": int(
            confs.get("spark.sql.streaming.stateStore.minDeltasForSnapshot", "10")
        ),
        "rows_per_second": rows_per_second,
    }
    if progress:
        execs = sorted(
            p["triggerExecution_ms"] for p in progress
            if p["triggerExecution_ms"] is not None
        )
        if execs:
            cfg["batches"] = {
                "n": len(execs),
                "trigger_exec_ms_p50": pick(execs, 0.5),
                "trigger_exec_ms_max": execs[-1],
                "last5": progress[-5:],
            }
            # Commit-time distribution + spike attribution (VERDICT r05 #3):
            # publish stateCommit p50/p99 and, for any batch whose commit
            # exceeds 3x the median, its RocksDB breakdown row — so a spike
            # in the artifact carries its own root-cause evidence.
            commits = sorted(
                p["stateCommit_ms"] for p in progress
                if p.get("stateCommit_ms") is not None
            )
            if commits:
                p50c = pick(commits, 0.5)
                cfg["batches"]["state_commit_ms_p50"] = p50c
                cfg["batches"]["state_commit_ms_p99"] = pick(commits, 0.99)
                # un-truncated: io_stall_window's all() classification must
                # see EVERY spike — a dropped flush-dominated spike behind a
                # fileSync prefix would let an engine spike be excused as
                # host IO (review r06); a window has <= ~200 batches, so the
                # worst-case detail size is bounded anyway
                cfg["batches"]["commit_spikes"] = [
                    p for p in progress
                    if (p.get("stateCommit_ms") or 0) > 3 * max(p50c, 1)
                ]
            # Median per-batch changelog fsync: the elevated-baseline IO
            # detector's input (io_stall_window; VERDICT r06 #2 — the r06
            # driver run paid 1-2 s fileSync on EVERY tiny append, which the
            # spike test alone can't see).
            syncs = sorted(
                p["fileSync_ms"] for p in progress
                if p.get("fileSync_ms") is not None
            )
            if syncs:
                cfg["batches"]["fileSync_ms_p50"] = pick(syncs, 0.5)
            # Live-path capacity evidence (margin over the arrival rate):
            # rows drained per second of batch execution. For saturated
            # batches this IS the capacity; for drained sub-trigger batches
            # it is a lower bound — either way margin = this / arrival rate.
            rates = sorted(
                p["numInputRows"] / (p["triggerExecution_ms"] / 1000.0)
                for p in progress
                if p["triggerExecution_ms"]
            )
            if rates:
                cfg["batches"]["rows_per_exec_sec_p50"] = round(pick(rates, 0.5))
    if not lat:
        return {"n_samples": 0, "config": cfg}

    return {
        "n_samples": len(lat),
        "p50": pick(lat, 0.50),
        "p95": pick(lat, 0.95),
        "p99": pick(lat, 0.99),
        "max": lat[-1],
        "full_window": {
            "n_samples": len(all_lat),
            "p50": pick(all_lat, 0.50),
            "p95": pick(all_lat, 0.95),
        },
        "config": cfg,
    }


#: sf1 spot-run: queries whose semantics scale cleanly under 10x replication.
#: documents replicas are text-mutated (build_sf1) so the near-dup family
#: scales realistically; embedding similarity stays excluded (replicated
#: vectors collapse ANN cells in a way real 10x data would not).
SF1_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "wordcount_top100",
    "agg_cube",
    "window_running_sum",
    "ev_session_window",
    "embed_cosine_topk",
    # r04 additions that scale cleanly under key-shifted replication (no
    # cross-replica pair semantics — dedup/near-dup stays excluded because
    # replicating identical texts manufactures O(replicas^2) artificial
    # pairs that real 10x data would not have)
    "doc_length_histogram",
    "sample_stratified",
    "sketch_hll_shard_merge",
    "curation_quality_gate",
    # r06: the LSH dedup hot path joins the probe — the sf1 documents are now
    # TEXT-MUTATED replicas (see build_sf1), which keeps per-replica dup
    # structure realistic instead of manufacturing O(replicas^2) cross-replica
    # pairs, so the measured scaleup is the engine's, not the layout's.
    "dedup_minhash_verified",
    # r07: the full funnel joins the probe on the same mutated corpus
    # (VERDICT r06 #5) — its near-dup stage shares dedup_minhash_verified's
    # pipeline, so a pair explosion would show here as a superlinear ratio.
    "curation_end_to_end",
    # r07: the 4-band SimHash joins the probe — the banding's pair growth
    # must stay sublinear under the text-mutated replicas (measured: 36k ->
    # 192k pairs for 10x docs; cross-replica mutation pushes Hamming > 8).
    "lsh_simhash64",
    # r07-r11: substring-level span dedup.  The STRING-keyed twin
    # (dedup_shared_spans) was in this probe r07-r11 and is now DEMOTED to
    # oracle-only (VERDICT r10 #3 / What's-wrong #3): once the sf1 leg ran
    # in every window, its median-of-windows ratio settled at 3.53x for
    # 10x data — over the 3x bar, with the cost isolated to the ~60-80 B
    # string span keys, not the plan (span-frequency count + semi-join, no
    # pair term).  The 64-bit-hashed variant below is the declared
    # production path (16 B shuffle rows) and medians 2.50x on the same
    # windows; the string form stays in the catalog as its value-checked
    # oracle twin.  The demotion is recorded here and adjudicated in
    # SCALE.md with the same numbers.
    "dedup_shared_spans_hashed",
    # r08 family representatives: the per-user lead-window rollup (one
    # user_id exchange), the 1-row-broadcast z-scoring fold over 10x
    # vectors (key-shifted replication leaves per-dim stats meaningful —
    # no pair/ANN semantics involved), and the vocab-bounded hapax
    # aggregate over the text-mutated corpus.
    "ev_time_weighted_avg",
    "embed_standardize",
    "text_hapax_ratio",
    # r09 (VERDICT r08 #6): the three r08 operators most likely to misbehave
    # at 10x — the skip-gram pair aggregate (keyed by a real co-occurrence
    # grid that GROWS with vocabulary), the rolling-actives x7 day fan-out
    # (fan-out rows scale linearly with events, state with users x days),
    # and the equi-depth histogram's grid rank over the RAW fact table (the
    # exact workload class behind the retired r07 weak mark).
    "text_skipgram_cooccurrence",
    "ev_rolling_active_users",
    "qa_equi_depth_histogram",
    # r10 (VERDICT r09 #5): the r09 operators join the probe — the
    # attribution self-join (pair fan-out bounded by per-user 24 h
    # activity, which key-shifted replication keeps per-replica), the
    # hashed bag-of-words featurizer (the claimed 100 TB design point:
    # no vocabulary state, should be ~linear), and the nDCG eval (its
    # until-clearCache persisted candidate frame at 10x).
    "ev_attribution_time_decay",
    "text_hashed_bow",
    "retrieval_eval_ndcg",
]

#: r15 (VERDICT r14 "what's wrong" #1 / next-round #3): the single-shot
#: window-sampled ratios above have a same-code per-window spread of ~2x
#: (dedup_shared_spans_hashed: 1.88-3.88 across r14's windows), so a
#: published median that straddles its own 3x alarm bar is noise, not
#: evidence.  These — the heaviest suite query plus the four
#: highest-median-ratio plans — additionally get a CONTROLLED-WARM
#: measurement each window: both scales back-to-back in one JVM,
#: min-of-3 per scale, ratio of the mins.  The warm ratio is the
#: HEADLINE scale-up series (ledgered + medianed across windows like
#: every other headline); the single-shot ratios stay published as
#: context.  r14's controlled experiment (SCALE.md r14): warm ratio for
#: dedup_shared_spans_hashed is ~2.22x where the window-sampled median
#: read 3.0x.
SF1_WARM_QUERIES = [
    "dedup_shared_spans_hashed",
    "q3_shipping_priority",
    "ev_rolling_active_users",
    "dedup_minhash_verified",
    "curation_end_to_end",
]

#: Per-replica key offset for the synthetic sf1 (far above any sf0.1 key).
_SF1_KEY_OFFSET = 10**9

#: Key columns to shift per table so each replica is a self-contained
#: sub-database (joins stay 1:1 with the sf0.1 structure, cardinalities 10x).
_SF1_KEYS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "nation": [],
    "region": [],
}


def build_sf1(spark) -> str:
    """Materialize a synthetic ~sf1 as 10 key-shifted replicas of sf0.1.

    /root/testdata is read-only and has no sf1, so the 10x scaling probe
    (VERDICT r03 #6: are the sf0.1 plans still the right plans at 10x, no
    OOM, roughly linear wall-time?) runs against /tmp. Dimension tables that
    are constant in TPC-H (nation/region) are copied once; everything else
    gets per-replica key offsets so join fan-outs match real scaling.

    ``documents`` replicas additionally get TOKEN-LEVEL TEXT MUTATION
    (VERDICT r05 #5): ~30% of tokens — chosen by a content+position hash, so
    the same text mutates identically — get a per-replica suffix. Within a
    replica the dup structure (exact copies, near-dup pairs) is preserved
    bit-for-bit; ACROSS replicas 3-gram shingle overlap collapses to
    ~0.7^3/(2-0.7^3) ~ 0.2 Jaccard, far under the 0.8 threshold — so the
    10x corpus has a realistic 10x dup rate instead of an O(replicas^2)
    cross-replica pair explosion, and the near-dup family can be probed.
    Cached across runs via _SUCCESS markers.
    """
    import tempfile

    from pyspark.sql import functions as F

    out_root = os.path.join(tempfile.gettempdir(), "fws_sf1_x10_v3")
    # reap superseded cache vintages: each is ~GBs of replicated parquet
    # that nothing reads once the key bumps (review r06)
    import shutil

    for stale in ("fws_sf1_x10", "fws_sf1_x10_v2"):
        shutil.rmtree(os.path.join(tempfile.gettempdir(), stale), ignore_errors=True)
    os.makedirs(out_root, exist_ok=True)
    for name, keys in _SF1_KEYS.items():
        dest = os.path.join(out_root, f"{name}.parquet")
        if os.path.exists(os.path.join(dest, "_SUCCESS")):
            continue
        src = spark.read.parquet(f"{SF01}/{name}.parquet")
        if not keys:
            src.write.mode("overwrite").parquet(dest)
            continue
        replicas = []
        for i in range(10):
            r = src
            for k in keys:
                r = r.withColumn(k, F.col(k) + F.lit(i * _SF1_KEY_OFFSET))
            if name == "documents" and i > 0:
                # deterministic token mutation: suffix tokens whose
                # (content hash + position) lands in 3/10 of the space, plus ALWAYS
                # the first token (a short doc can otherwise escape mutation
                # entirely and stay identical across replicas);
                # alphanumeric suffix keeps it ONE token under \\W+ splits
                r = r.withColumn(
                    "text",
                    F.expr(
                        "concat_ws(' ', transform(split(text, ' '), (t, j) -> "
                        f"CASE WHEN j = 0 OR pmod(hash(t) + j, 10) < 3 THEN concat(t, 'x{i}') "
                        "ELSE t END))"
                    ),
                )
            replicas.append(r)
        out = replicas[0]
        for r in replicas[1:]:
            out = out.unionAll(r)
        out.write.mode("overwrite").parquet(dest)
    return out_root


def bench_sf1(spark) -> dict:
    """10x scaling spot-run: same plans, bigger data. Reports per-query
    seconds plus the ratio to the same query's sf0.1 time (measured fresh
    here so both sides share JVM warmth)."""
    t0 = time.time()
    sf1_dir = build_sf1(spark)
    build_sec = round(time.time() - t0, 3)
    base: dict[str, float] = {}
    big: dict[str, float] = {}
    for name in SF1_QUERIES:
        t0 = time.time()
        materialize(QUERIES[name](spark, SF01))
        base[name] = round(time.time() - t0, 3)
        spark.catalog.clearCache()  # untimed; see run_suite
        t0 = time.time()
        materialize(QUERIES[name](spark, sf1_dir))
        big[name] = round(time.time() - t0, 3)
        spark.catalog.clearCache()
    # r15: controlled-warm ratios (see SF1_WARM_QUERIES).  min-of-3 at each
    # scale, scales back-to-back per query, one JVM — the measurement that
    # adjudicated the r14 shared-spans creep (2.22x warm vs 3.0x
    # window-sampled median on identical code).
    warm_detail: dict[str, dict] = {}
    for name in SF1_WARM_QUERIES:
        b3, g3 = [], []
        for _ in range(3):
            t0 = time.time()
            materialize(QUERIES[name](spark, SF01))
            b3.append(time.time() - t0)
            spark.catalog.clearCache()
        for _ in range(3):
            t0 = time.time()
            materialize(QUERIES[name](spark, sf1_dir))
            g3.append(time.time() - t0)
            spark.catalog.clearCache()
        bmin, gmin = min(b3), min(g3)
        warm_detail[name] = {
            "sf01_min3_sec": round(bmin, 3),
            "sf1_min3_sec": round(gmin, 3),
            "ratio": round(gmin / bmin, 2) if bmin > 0 else None,
        }
    # VERDICT r07 #7: recall at 10x data, not just wall-time — the LSH
    # path's verified pairs vs the exact inverted-index join's on the SAME
    # mutated sf1 corpus.  The exact op is index-based (no pair blowup), so
    # full-corpus ground truth is tractable here; both pair sets are a few
    # thousand rows.  A banded 32-perm/8-band signature misses a pair at
    # similarity s with prob (1 - s^4)^8 — ~1.5% at EXACTLY the 0.8
    # threshold, negligible above it — so recall < 1.0 is expected iff the
    # missed pairs sit on the threshold boundary; the probe records their
    # max Jaccard so that is checkable from the artifact (r08 measured:
    # 2828/2830, both misses at jaccard == 0.80 with 8 shared shingles).
    t0 = time.time()
    exact_rows = QUERIES["dedup_ngram_jaccard"](spark, sf1_dir).collect()
    exact_pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact_rows}
    lsh_pairs = {
        (r["id_a"], r["id_b"])
        for r in QUERIES["dedup_minhash_verified"](spark, sf1_dir)
        .select("id_a", "id_b")
        .collect()
    }
    missed = [j for p, j in exact_pairs.items() if p not in lsh_pairs]
    recall = (
        round(1 - len(missed) / len(exact_pairs), 4) if exact_pairs else None
    )
    # r09 (VERDICT r08 #2): the probe adjudicates ITSELF against banding
    # theory instead of leaving "0.9993, is that broken?" to the reader.
    # With b bands of r rows, a pair at true Jaccard j collides with prob
    # 1 - (1 - j^r)^b; the expected recall over THIS corpus's exact pair
    # set is the mean of that across the measured j's, and the binomial
    # fluctuation around it gives the tolerance. The contract: measured
    # recall >= expected - 3*sigma (floored at 0.002 for tiny-probability
    # tails). Pairs AT the 0.8 threshold carry ~1.5% miss probability by
    # design (p_collide(0.8) ~ 0.985) — the r08 misses were exactly these.
    _B, _R = 8, 4  # must match operators/dedup.py's banding (k=32 perms)
    p_collide = [1 - (1 - j**_R) ** _B for j in exact_pairs.values()]
    expected_recall = (
        round(sum(p_collide) / len(p_collide), 4) if p_collide else None
    )
    sigma = (
        (sum(p * (1 - p) for p in p_collide) ** 0.5) / len(p_collide)
        if p_collide
        else 0.0
    )
    margin = max(3 * sigma, 0.002)
    within = (
        (recall >= expected_recall - margin)
        if recall is not None and expected_recall is not None
        else None
    )
    return {
        "layout": (
            "10 key-shifted replicas of sf0.1 (synthetic sf1); documents "
            "replicas are TEXT-MUTATED per replica (build_sf1) so near-dup "
            "structure is per-replica, not O(replicas^2) cross-replica"
        ),
        "minhash_recall_sf1": {
            "exact_pairs": len(exact_pairs),
            "lsh_verified_pairs": len(lsh_pairs),
            "recall": recall,
            # the probe's own contract (banding math, see comment above):
            # mean collision probability over the exact pair set, the 3-sigma
            # binomial margin, and the pass/fail verdict
            "expected_recall_banding": expected_recall,
            "recall_margin_3sigma": round(margin, 4),
            "within_banding_contract": within,
            "n_missed": len(missed),
            # > 0.8 + epsilon here would mean a REAL defect (bucket cap or
            # plumbing), not banding theory — see comment above
            "missed_max_jaccard": round(max(missed), 4) if missed else None,
            "lsh_false_pairs": len(lsh_pairs - set(exact_pairs)),
            "probe_sec": round(time.time() - t0, 3),
        },
        "build_sec": build_sec,
        "queries_sec": big,
        "sf01_same_jvm_sec": base,
        "scaleup_ratio": {
            n: round(big[n] / base[n], 2) if base[n] > 0 else None
            for n in SF1_QUERIES
        },
        # r15: the headline scale-up series (min-of-3 warm, per scale,
        # back-to-back); scaleup_ratio above is the single-shot context
        "controlled_warm": warm_detail,
        "warm_ratio": {n: d["ratio"] for n, d in warm_detail.items()},
    }


def _window_ledger_update(
    total_sec: float,
    words_median,
    load: float,
    root: Path | None = None,
    sf=None,
    sf1_ratios: dict | None = None,
    sf1_warm_ratios: dict | None = None,
    capacity_margin=None,
    latency: dict | None = None,
    contended: bool | None = None,
    queries: dict | None = None,
    steal_pct: float | None = None,
) -> list[dict]:
    """Append this run to BENCH_WINDOWS.jsonl and return the round's windows.

    Headline policy (r09, VERDICT r08 #2): a single bench invocation is one
    WINDOW; the committed headline is the MEDIAN across the round's windows,
    with the best window demoted to a secondary field — so the published
    number is what a single re-run at similar load actually reproduces,
    instead of the round's luckiest quiet slot. Windows are tagged with the
    round they belong to (1 + the latest BENCH_r*.json the driver has
    recorded), which auto-resets the pool each round without any cleanup
    step; the driver's own run appends to the same pool.

    r11 (VERDICT r10 #2): each window also records the sf1 10x-scaling
    per-query RATIOS, so the published scale claim is the MEDIAN ratio
    across the round's windows under exactly the policy the suite headline
    already follows — a single favorable (or unfavorable) sf1 window can
    no longer be the number SCALE.md quotes.

    r12 (VERDICT r11 #1): each window also records the streaming
    CAPACITY MARGIN (saturation-probe drain rate over the 1.25M words/s
    reference arrival rate), so the 1.3x floor claim is adjudicated on
    the median across windows and is ledger-auditable — r11's breach
    (1.18x in the one recorded window) could be neither confirmed as a
    trend nor dismissed as window noise because the ledger carried no
    per-window margin.

    r13 (VERDICT r12 #2): each window also records the streaming LATENCY
    percentiles (p50/p95/p99 ms), so a percentile drift between rounds
    (r12's +20% p50) is adjudicated on medians-of-windows like every
    other headline instead of single-artifact diffing.  And each window
    records its ``contended`` flag (load still above the quiet threshold
    when the bounded wait expired — VERDICT r12 #5): contended rows stay
    in the ledger but are EXCLUDED from every published median via
    ``quiet_pool``, with the exclusion count published, so one loaded
    window can never drag a round's medians even in a small pool.

    r14 (VERDICT r13 #1/"what's wrong" #1): each window also records the
    PER-QUERY suite times, the last headline series that was still
    single-window — BENCH_r13's ``queries`` map was captured from the
    driver's final (slow) window, so naive round-over-round per-query
    diffs read as regressions when the suite medians differed only ~10%.
    The published ``queries`` field is now the per-query MEDIAN across
    the round's quiet windows, same policy as suite/words/capacity/
    latency; this window's own times stay in BENCH_DETAIL.json.
    """
    import re as _re

    if root is None:
        root = Path(__file__).resolve().parent
    tag = 1 + max(
        (
            int(m.group(1))
            for p in root.glob("BENCH_r*.json")
            if (m := _re.search(r"_r(\d+)\.json$", p.name))
        ),
        default=0,
    )
    lat = latency or {}
    # r16 (VERDICT r15 #6): the scaling leg re-runs the bench at a LOWER
    # core count; window rows therefore record cpus and pool only with
    # same-core rows — an 8-core window must not drag the 32-core medians
    # (rows written before the field existed were all 32-core runs).
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    entry = {
        "round": tag,
        "sf": sf,
        "cpus": cpus,
        "suite_seconds": total_sec,
        "words_per_sec_median": words_median,
        "load_at_start": load,
        "contended": bool(contended) if contended is not None else None,
        "capacity_margin": capacity_margin,
        "latency_p50_ms": lat.get("p50"),
        "latency_p95_ms": lat.get("p95"),
        "latency_p99_ms": lat.get("p99"),
        "sf1_scaleup_ratio": sf1_ratios,
        # r15 (VERDICT r14 #3): the controlled-warm min-of-3 ratios are the
        # HEADLINE scale-up series; the single-shot ratios above stay as
        # window-sampled context.
        "sf1_warm_ratio": sf1_warm_ratios,
        "queries": queries,
        # r16: hypervisor steal share over this window's own duration —
        # audit context only; pool filtering unchanged
        "steal_pct": steal_pct,
    }
    ledger = root / "BENCH_WINDOWS.jsonl"
    windows: list[dict] = []
    try:
        with ledger.open() as f:
            for line in f:
                try:
                    row = json.loads(line)
                except ValueError:
                    continue
                # pool only windows of the same round AND scale: an sf0.01
                # debug run (SPARK_GRAFT_SF_DIR override) must not drag the
                # published sf0.1 median (review r09). Entries written
                # before the sf field existed carry sf=None and pool only
                # with other None-sf runs.
                if (
                    isinstance(row, dict)
                    and row.get("round") == tag
                    and row.get("sf") == sf
                    and row.get("cpus", 32) == cpus
                ):
                    windows.append(row)
    except OSError:
        pass
    with ledger.open("a") as f:
        f.write(json.dumps(entry) + "\n")
    windows.append(entry)
    return windows


def quiet_pool(windows: list[dict]) -> tuple[list[dict], int, bool]:
    """Partition a round's windows into the median pool, the excluded
    count, and an all-contended flag (VERDICT r12 #5): windows whose
    ``contended`` flag is true (the machine's 1-min load was still above
    the quiet threshold when the bounded pre-run wait expired) are kept in
    the ledger for audit but excluded from every published median.  If
    EVERY window was contended the full pool is used — a fully-loaded
    round publishes its honest numbers rather than none — and the THIRD
    return value is True so the artifacts say so explicitly (ADVICE r13:
    exclusion count 0 alone made an all-contended round indistinguishable
    from an all-quiet one).  Rows written before the flag existed (no
    ``contended`` key / None) count as quiet."""
    quiet = [w for w in windows if not w.get("contended")]
    if not quiet:
        return windows, 0, bool(windows)
    return quiet, len(windows) - len(quiet), False


def _median(vals: list) -> float | None:
    vals = [v for v in vals if v is not None]
    if not vals:
        return None
    import statistics

    # consistent 3-decimal rounding regardless of pool parity (review r09:
    # odd pools returned a raw element while even pools rounded)
    return round(statistics.median(vals), 3)


#: Ledger-row fields published as medians across a round's quiet windows.
WINDOW_SCALARS = (
    "suite_seconds",
    "words_per_sec_median",
    "capacity_margin",
    "latency_p50_ms",
    "latency_p95_ms",
    "latency_p99_ms",
)
#: Ledger-row fields holding a per-name map (query -> seconds or ratio).
WINDOW_DICTS = ("queries", "sf1_scaleup_ratio", "sf1_warm_ratio")


def pool_windows(pool: list[dict]) -> dict:
    """The one median-of-windows reducer behind every published median.

    A scalar field maps to the median of its non-None window values.  A dict
    field maps to ``(per-key medians, number of windows carrying the dict)``:
    windows written before the field existed simply don't contribute, and a
    key missing from one window's map doesn't drag the others."""
    out: dict = {f: _median([w.get(f) for w in pool]) for f in WINDOW_SCALARS}
    for f in WINDOW_DICTS:
        maps = [w[f] for w in pool if isinstance(w.get(f), dict)]
        keys = sorted(set().union(*maps))
        out[f] = ({k: _median([m.get(k) for m in maps]) for k in keys}, len(maps))
    return out


def wait_for_quiet_machine(max_wait_sec: int = 120, threshold: float = 2.0) -> dict:
    """A contended sandbox uniformly inflates every timing (BENCH_r03 shipped
    ~3x-inflated numbers that read as a code regression). Wait for the 1-min
    load average to drop below ``threshold`` (bounded), and record the load
    context so the artifact is auditable either way."""
    start_load = probes.loadavg1()
    waited = 0.0
    load = start_load
    while load > threshold and waited < max_wait_sec:
        time.sleep(5)
        waited += 5
        load = probes.loadavg1()
    return {
        "load_at_invoke": round(start_load, 2),
        "load_at_start": round(load, 2),
        "waited_sec": round(waited, 1),
        "contended": load > threshold,
        "nproc": os.cpu_count(),
    }


def run_suite(spark, sf_dir: str) -> dict[str, float]:
    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        materialize(QUERIES[name](spark, sf_dir))
        timings[name] = round(time.time() - t0, 3)
        # outside the timed window: until-clearCache persisted frames from
        # one query must not occupy executor memory during the next
        # (tests/test_persist_contract.py pins this harness behavior)
        spark.catalog.clearCache()
    return timings


def _run_phase_subprocess(flag: str, timeout: int) -> dict:
    import subprocess

    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), flag],
        capture_output=True,
        text=True,
        timeout=timeout,
    )
    for line in reversed(proc.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"no JSON from {flag} subprocess: {proc.stderr[-500:]}")


def run_streaming_isolated(spark) -> dict:
    """Run each streaming phase in its OWN fresh JVM subprocess.

    Two separations, both measured:
    - streaming vs the batch parent: stopped streaming queries leave
      state-store caches on the parent heap; after two suite passes the
      first latency batch takes ~50 s and throughput drops ~2x.
    - latency vs throughput: after the latency phase's ~300 micro-batches,
      even per-attempt state-store unloads no longer stabilize the 50M-word
      throughput runs (decay 6.5 -> 1.3 -> 1.0M words/s); in a fresh JVM
      with unloads they hold 5.2 -> 6.9 -> 6.9M.
    Falls back to in-process if a subprocess fails."""
    try:
        out = _run_phase_subprocess("--streaming-only", 1200)
        out.update(_run_phase_subprocess("--throughput-only", 900))
        out["isolated_jvm"] = True
        return out
    except Exception as ex:  # noqa: BLE001
        sys.stderr.write(f"streaming subprocess failed ({ex}); running in-process\n")
        if spark is None:
            spark = get_spark("bench_streaming_fallback")
            spark.sparkContext.setLogLevel("ERROR")
        out = bench_streaming(spark)
        out["isolated_jvm"] = False
        return out


def streaming_only_main(phase: str) -> int:
    spark = get_spark(f"bench_streaming_{phase}")
    spark.sparkContext.setLogLevel("ERROR")
    fn = bench_streaming_latency if phase == "latency" else bench_streaming_throughput
    print(json.dumps(fn(spark)))
    spark.stop()
    return 0


def main() -> int:
    if "--streaming-only" in sys.argv:
        return streaming_only_main("latency")
    if "--throughput-only" in sys.argv:
        return streaming_only_main("throughput")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF01)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    machine = wait_for_quiet_machine()
    # bursty hypervisor steal (minutes-long 5-20 % storms) that loadavg
    # cannot see: each window records its own steal share for audit
    host0 = probes.cpu_times()
    # Streaming FIRST, in its own JVM, before the batch parent JVM exists:
    # even a stopped parent SparkSession keeps its py4j JVM (and heap)
    # resident in this process, and a resident 100 GB-heap JVM costs the
    # streaming child 2-4x (measured best words/s: 4.8M solo vs 0.8-2.0M
    # beside a parent, latency p50 1.9 s vs 3.1 s).
    streaming = run_streaming_isolated(None)
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM/codegen path once so per-query numbers measure the plan
    QUERIES["wordcount_stats"](spark, sf_dir).collect()

    # Two passes, per-query min: pass 1 pays each plan's JIT/codegen
    # compilation (measured ~4x: text_quality 7.6 s cold vs 0.9 s warm on an
    # idle box).  That cost is paid once only while Spark's compiled-class
    # cache holds the working set: at its default of 100 entries, a second
    # sweep of the whole catalog at sf0.01 recompiled 3,561 of its 3,576
    # first-sweep compilations; with get_spark's 4096 entries it compiled 56
    # (4 cores).  So pass 2's number is the plan's warm cost.  Both raw pass
    # totals are published so the cold-start tax stays auditable.
    timings = run_suite(spark, sf_dir)
    suite_passes = [round(sum(timings.values()), 3)]
    second = run_suite(spark, sf_dir)
    suite_passes.append(round(sum(second.values()), 3))
    timings = {n: min(timings[n], second[n]) for n in timings}

    sf1 = bench_sf1(spark)
    machine["load_at_end"] = round(probes.loadavg1(), 2)
    machine["steal_pct"] = round(probes.steal_pct(host0, probes.cpu_times()), 2)
    total = round(sum(timings.values()), 3)
    # Median-of-windows headline (see _window_ledger_update): `value` is
    # the median suite time across this round's bench runs; this run's own
    # number and the round's best stay published as secondary fields.
    windows = _window_ledger_update(
        total,
        streaming.get("words_per_sec_median"),
        machine.get("load_at_start"),
        sf=float(sf) if sf.replace(".", "").isdigit() else sf,
        sf1_ratios=sf1.get("scaleup_ratio"),
        sf1_warm_ratios=sf1.get("warm_ratio"),
        capacity_margin=(streaming.get("live_capacity") or {}).get(
            "margin_vs_reference_rate"
        ),
        latency=streaming.get("latency_ms") or {},
        contended=machine.get("contended"),
        queries=timings,
        steal_pct=machine.get("steal_pct"),
    )
    # Every published median pools QUIET windows only (VERDICT r12 #5):
    # contended rows stay in the ledger, the medians drop them, and the
    # exclusion count is published beside n_windows.  If the fallback
    # fired (every window contended) the artifacts carry an explicit
    # all_windows_contended flag (ADVICE r13).
    pool, n_contended_excluded, all_contended = quiet_pool(windows)
    pooled = pool_windows(pool)
    # SCALE.md adjudicates the sf1 scale-up ratios (the controlled-warm
    # series is the headline, the single-shot one context) off these
    # medians; windows whose sf1 leg was skipped don't contribute.
    ratios, n_ratio_windows = pooled["sf1_scaleup_ratio"]
    if n_ratio_windows:
        sf1["scaleup_ratio_median_windows"] = ratios
        sf1["n_ratio_windows"] = n_ratio_windows
    warm_ratios, n_warm_windows = pooled["sf1_warm_ratio"]
    if n_warm_windows:
        sf1["warm_ratio_median_windows"] = warm_ratios
        sf1["n_warm_ratio_windows"] = n_warm_windows
    streaming["words_per_sec_median_window_this"] = streaming.get(
        "words_per_sec_median"
    )
    streaming["words_per_sec_median"] = pooled["words_per_sec_median"]
    streaming["words_per_sec_windows"] = [w.get("words_per_sec_median") for w in pool]
    # the 1.3x capacity floor is adjudicated on the median margin; this
    # window's own margin (and its retry/floor flag) stays under live_capacity
    cap_median = pooled["capacity_margin"]
    streaming["capacity_margin_windows"] = [w.get("capacity_margin") for w in pool]
    streaming["capacity_margin_median"] = cap_median
    streaming["capacity_margin_median_below_floor"] = (
        cap_median is None or cap_median < CAPACITY_MARGIN_FLOOR
    )
    for pct in ("p50", "p95", "p99"):
        streaming[f"latency_{pct}_ms_median"] = pooled[f"latency_{pct}_ms"]
    # this run's own per-query times stay in BENCH_DETAIL.json under
    # queries_this_window; with no window carrying the map yet they are
    # also the published map, tagged by n_query_windows == 0
    queries_median, n_query_windows = pooled["queries"]
    if not n_query_windows:
        queries_median = timings
    detail = {
        "metric": "headline_suite_seconds",
        "value": pooled["suite_seconds"],
        "unit": "sec",
        "this_window_seconds": total,
        "best_window_seconds": min(
            w["suite_seconds"] for w in pool if w.get("suite_seconds") is not None
        ),
        "n_windows": len(windows),
        "n_windows_contended_excluded": n_contended_excluded,
        **({"all_windows_contended": True} if all_contended else {}),
        "queries": queries_median,
        "queries_this_window": timings,
        "n_query_windows": n_query_windows,
        "suite_passes": suite_passes,
        "machine": machine,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "sf1": sf1,
        "streaming": streaming,
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
    }
    # Full detail goes to a committed file; stdout gets a compact line.
    # BENCH_r04.json was `parsed: null` because the full dict (sf1 probe,
    # 5 batch-progress dicts, machine context) outgrew the driver's ~2 KB
    # tail capture — the official artifact of the whole round was a
    # truncated string. The driver parses stdout, humans read the file.
    detail_path = Path(__file__).resolve().parent / "BENCH_DETAIL.json"
    detail_path.write_text(json.dumps(detail, indent=2) + "\n")
    print(json.dumps(compact_line(detail)))
    return 0


def _sf1_compact(sf1: dict) -> dict:
    """The two scale-up series for the compact line (VERDICT r14 #3): the
    controlled-warm min-of-3 medians are the headline, the single-shot
    window-sampled medians for the SAME queries ride as context.  Empty
    when the sf1 dict carries no warm ratio."""
    warm = sf1.get("warm_ratio_median_windows") or sf1.get("warm_ratio")
    if not warm:
        return {}
    sampled = sf1.get("scaleup_ratio_median_windows") or {}
    return {
        "sf1_warm_ratio_median": warm,
        "n_sf1_warm_windows": sf1.get("n_warm_ratio_windows", 0),
        "sf1_window_ratio_median_context": {
            n: sampled.get(n) for n in warm if n in sampled
        },
    }


def compact_line(detail: dict) -> dict:
    """Reduce the full bench dict to a driver-parseable line (≤ ~1.5 KB).

    Keeps: headline metric + per-query seconds (the BASELINE.md comparison
    surface — medians across the round's quiet windows as of r14, pool
    size published as n_query_windows), the streaming summary (throughput
    best/median, latency percentiles + degenerate flag, recovery), and
    load context. Everything else (sf1 probe, batch progress, attempt
    lists, suite passes, this window's own per-query times) lives in
    BENCH_DETAIL.json.
    """
    s = detail.get("streaming", {})
    lat = s.get("latency_ms", {})
    rec = s.get("recovery", {})
    lat_compact = {
        k: lat[k] for k in ("p50", "p95", "p99", "n_samples") if k in lat
    }
    # median-of-quiet-windows percentiles (VERDICT r12 #2) ride beside
    # this window's own numbers so the drift story is in one place
    for pct in ("p50", "p95", "p99"):
        med = s.get(f"latency_{pct}_ms_median")
        if med is not None:
            lat_compact[f"{pct}_median"] = med
    if lat.get("degenerate_window"):
        lat_compact["degenerate_window"] = True
    if lat.get("io_stall_detected"):
        lat_compact["io_stall_detected"] = True
    ab = lat.get("storage_ab") or {}
    if ab.get("commit_p50_disk_over_tmpfs") is not None:
        lat_compact["storage_ab_commit_ratio"] = ab["commit_p50_disk_over_tmpfs"]
    machine = detail.get("machine", {})
    return {
        "metric": detail["metric"],
        "value": detail["value"],
        "unit": detail["unit"],
        # median-of-windows policy context: the round's window pool size,
        # this run's own suite time, and the round's best (secondary)
        "this_window_seconds": detail.get("this_window_seconds"),
        "best_window_seconds": detail.get("best_window_seconds"),
        "n_windows": detail.get("n_windows"),
        **(
            {
                "n_windows_contended_excluded": detail[
                    "n_windows_contended_excluded"
                ]
            }
            if detail.get("n_windows_contended_excluded")
            else {}
        ),
        **(
            {"all_windows_contended": True}
            if detail.get("all_windows_contended")
            else {}
        ),
        # per-query MEDIANS across the round's quiet windows (r14); the
        # pool size behind them ALWAYS rides along — n_query_windows == 0
        # is the explicit marker that the fallback fired and `queries` is
        # this single (possibly contended) window's raw timings, not a
        # pooled median (ADVICE r14: the falsy-key omission made that case
        # indistinguishable from a pre-r14 line).
        "queries": detail["queries"],
        "n_query_windows": detail.get("n_query_windows", 0),
        **(_sf1_compact(detail.get("sf1") or {})),
        "sf": detail["sf"],
        "streaming": {
            "words_per_sec_best": s.get("words_per_sec_best"),
            "words_per_sec_median": s.get("words_per_sec_median"),
            "latency_ms": lat_compact,
            "recovery_sec": rec.get("restart_to_first_commit_sec"),
            "exactly_once_ok": rec.get("exactly_once_ok"),
            "capacity_margin": s.get("live_capacity", {}).get(
                "margin_vs_reference_rate"
            ),
            # floor adjudication is on the MEDIAN across this round's
            # windows (VERDICT r11 #1); the single-window flag stays too
            "capacity_margin_median": s.get("capacity_margin_median"),
            **(
                {"capacity_margin_below_floor": True}
                if s.get("live_capacity", {}).get("margin_below_floor")
                else {}
            ),
            **(
                {"capacity_margin_median_below_floor": True}
                if s.get("capacity_margin_median_below_floor")
                else {}
            ),
        },
        "machine": {
            "load_at_start": machine.get("load_at_start"),
            "contended": machine.get("contended"),
        },
        "detail": "BENCH_DETAIL.json",
    }


if __name__ == "__main__":
    raise SystemExit(main())
