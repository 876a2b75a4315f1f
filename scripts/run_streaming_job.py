#!/usr/bin/env python3
"""Streaming word-count job runner — the reference's operational surface.

CLI parameters mirror StatefulWordCount.main (StatefulWordCount.java:36-68)
and run_job.sh: --source-rate (12500), --sentence-size (100), --duration
(60), --sample-period (1000), --parallelism (1), --checkpoint-interval (-1 =
off), plus the failure experiment (--kill-after N: stop the query mid-run
and restart from the checkpoint, run_job.sh:76-83 / kill_worker.sh).

Outputs the reference's metric artifacts: latency CSV
(sink_id,timestamp,cur_time,latency — collect_latencies.sh:9) and a
throughput CSV from the progress listener.

Example:
  python scripts/run_streaming_job.py --duration 20 --source-rate 20000 \
      --checkpoint-interval 5 --kill-after 8 --out-dir /tmp/wc_run
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from flink_wordcount_spark.session import (  # noqa: E402
    LIVE_STATE,
    ROCKSDB_STATE,
    get_spark,
)
from flink_wordcount_spark.streaming.metrics import (  # noqa: E402
    LatencyRecorder,
    ThroughputListener,
)
from flink_wordcount_spark.streaming.sentences import rate_stream  # noqa: E402
from flink_wordcount_spark.streaming.wordcount import sampled_counts  # noqa: E402


def build_query(spark, args, out_dir: Path, epoch: int, prev_latency=None):
    sentences = rate_stream(
        spark,
        rows_per_second=args.source_rate,
        num_partitions=args.parallelism,
        micro_batch=False,
        sentence_size=args.sentence_size,
        sample_period=args.sample_period,
        skew_percent=args.skew_percent,
    )
    counts = sampled_counts(sentences)
    latency = LatencyRecorder(str(out_dir / f"latency_{epoch}.csv"))
    if prev_latency is not None:
        # keep record-once semantics across the kill/recover boundary: keys
        # re-emitted after recovery with a pre-kill max(sample_ts) would
        # otherwise log inflated post-recovery latencies
        latency.carry_over(prev_latency)
    writer = (
        counts.writeStream.outputMode("update")
        .foreachBatch(lambda df, bid: latency(df, bid))
        .trigger(processingTime="1 second")
    )
    if args.checkpoint_interval > 0:
        writer = writer.option("checkpointLocation", str(out_dir / "ckpt"))
    return writer.start(), latency


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    # defaults = reference defaults (StatefulWordCount.java:60-67)
    p.add_argument("--source-rate", type=int, default=12500)
    p.add_argument("--sentence-size", type=int, default=100)
    p.add_argument("--duration", type=int, default=60)
    p.add_argument("--sample-period", type=int, default=1000)
    p.add_argument("--parallelism", type=int, default=1)
    p.add_argument("--checkpoint-interval", type=int, default=-1,
                   help="seconds; <=0 disables checkpointing (reference default)")
    p.add_argument("--skew-percent", type=int, default=0)
    p.add_argument("--kill-after", type=int, default=-1,
                   help="failure experiment: stop the query after N seconds and "
                        "restart from the checkpoint (requires --checkpoint-interval>0)")
    p.add_argument("--out-dir", default="/tmp/wc_run")
    p.add_argument(
        "--state-store",
        choices=["default", "rocksdb"],
        default="default",
        help="rocksdb applies the measured large-state tuning: changelog "
             "checkpointing, snapshot cadence 150, row-count tracking off "
             "(2-4x throughput on update-heavy state; SCALE.md 'Streaming')",
    )
    args = p.parse_args()

    out_dir = Path(args.out_dir)
    out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("streaming_wordcount_job")
    spark.sparkContext.setLogLevel("ERROR")
    if args.state_store == "rocksdb":
        for k, v in {**ROCKSDB_STATE, **LIVE_STATE}.items():
            spark.conf.set(k, v)
    listener = ThroughputListener()
    spark.streams.addListener(listener)

    start = time.time()
    q, latency = build_query(spark, args, out_dir, epoch=0)
    killed = False
    try:
        while time.time() - start < args.duration:
            time.sleep(0.5)
            if (
                not killed
                and args.kill_after > 0
                and args.checkpoint_interval > 0
                and time.time() - start >= args.kill_after
            ):
                # kill_worker.sh analog: hard-stop, then recover from checkpoint
                q.stop()
                q.awaitTermination(30)
                killed = True
                q, latency = build_query(
                    spark, args, out_dir, epoch=1, prev_latency=latency
                )
    finally:
        q.stop()
        q.awaitTermination(30)
        listener.to_csv(str(out_dir / "throughput.csv"))
        spark.streams.removeListener(listener)

    rows = listener.rows
    total = sum(r["num_input_rows"] for r in rows)
    print(
        f"processed {total} sentences (~{total * args.sentence_size} words) in "
        f"{time.time() - start:.1f}s across {len(rows)} micro-batches"
        + (" [recovered from kill]" if killed else "")
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
