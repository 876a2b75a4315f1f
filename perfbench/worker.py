"""One benchmark run inside a fresh process; started by ``run.py``.

Measures ``setup_s`` from the moment ``run.py`` launched this process until
``session.get_spark`` returns, runs the workload, and writes one JSON result
file. With ``--trace DIR`` it also records spans and the per-layer metrics
and writes the spans to ``DIR``.
"""

from __future__ import annotations

import argparse
import json
import os
import time
from pathlib import Path

#: Every per-layer metric with its unit. A metric a workload does not
#: exercise (joins in stream-drain, state in tpch) reads 0.
PER_LAYER_UNITS = {
    "session.import_s": "s",
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "exec.wall_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_busy_share": "ratio",
    "exec.slowest_task_ratio": "ratio",
    "exec.input_bytes": "bytes",
    "exec.input_rows": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "plan.broadcast_joins": "count",
    "plan.sort_merge_joins": "count",
    "plan.shuffled_hash_joins": "count",
    "plan.exchanges": "count",
    "dedup.jaccard_pairs_s": "s",
    "dedup.jaccard_pairs_rows": "count",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_verified": "count",
    "dedup.lsh_precision": "ratio",
    "similarity.topk_s": "s",
    "textstats.quality_s": "s",
    "multimodal.featurize_s": "s",
    "python.rows_sent": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes",
    "stream.batches": "count",
    "stream.trigger_ms_p50": "ms",
    "stream.trigger_ms_p95": "ms",
    "stream.addBatch_ms_p50": "ms",
    "stream.queryPlanning_ms_p50": "ms",
    "stream.walCommit_ms_p50": "ms",
    "stream.commitOffsets_ms_p50": "ms",
    "stream.latestOffset_ms_p50": "ms",
    "source.rows_ingested": "count",
    "state.commit_ms_p50": "ms",
    "state.commit_ms_p99": "ms",
    "state.fileSync_ms_p50": "ms",
    "state.flush_ms_p50": "ms",
    "state.rows_updated": "count",
    "state.memory_bytes": "bytes",
    # CPU seconds per measured pass of the Python driver, JVM and Python
    # workers. Per-layer, not end-to-end: JIT compiler threads are a third to
    # half of it and vary from run to run, so its ten-run spread is too wide
    # for a regression bound.
    "process.pass_cpu_s": "s",
    "jvm.jit_compile_s": "s",
    "jvm.gc_s": "s",
    "jvm.peak_rss_mb": "MB",
    "host.steal_pct": "%",
    "host.loadavg": "load",
    "trace.scrape_s": "s",
    # end-to-end metrics as measured in the traced run; their difference
    # from the untraced run's values is the tracing overhead
    "trace.setup_s": "s",
    "trace.first_pass_s": "s",
    "trace.pass_s": "s",
    "trace.words_per_s": "1/s",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=Path, default=None)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--t0", type=float, required=True)
    a = ap.parse_args()

    import __spark_entry__  # noqa: F401 — part of set-up: pyspark + query catalog
    from flink_wordcount_spark.session import get_spark

    t_import = time.time()
    spark = get_spark("perfbench", cpus=int(os.environ["SPARK_GRAFT_CPUS"]))
    t_ready = time.time()
    setup = {
        "setup_s": t_ready - a.t0,
        "import_s": t_import - a.t0,
        "get_spark_s": t_ready - t_import,
    }
    from probes import jvm_peak_rss_mb
    from spans import NullTracer, Tracer

    run_id = f"{a.workload}-{a.seed}-{os.getpid()}-{int(a.t0)}"
    tracer = Tracer(run_id) if a.trace else NullTracer()
    tracer.add("get_spark", a.t0, t_ready)
    try:
        if a.workload == "tpch":
            import batch

            result = batch.run(spark, a.seed, a.seconds, tracer)
        else:
            import drain

            result = drain.run(spark, a.seed, a.seconds, tracer, Path.cwd())
        peak_rss = jvm_peak_rss_mb(spark)
    finally:
        spark.stop()

    result["setup"] = setup
    result["detail"]["jvm_peak_rss_mb"] = peak_rss
    if a.trace:
        layers = dict.fromkeys(PER_LAYER_UNITS, 0.0)
        layers.update(result["per_layer"])
        layers.update(
            {
                "session.import_s": setup["import_s"],
                "session.get_spark_s": setup["get_spark_s"],
                "jvm.peak_rss_mb": peak_rss,
                "trace.setup_s": setup["setup_s"],
                **{f"trace.{k}": v for k, v in result["end_to_end"].items()},
            }
        )
        unknown = set(layers) - set(PER_LAYER_UNITS)
        if unknown:
            raise KeyError(f"per-layer metrics without a unit: {sorted(unknown)}")
        result["per_layer"] = layers
        result["units"] = PER_LAYER_UNITS
        result["detail"]["trace_file"] = str(
            tracer.dump(a.trace, {"detail": result["detail"], "per_layer": layers})
        )
    a.out.write_text(json.dumps(result, default=float))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
