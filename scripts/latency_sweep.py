#!/usr/bin/env python3
"""Streaming latency lever sweep (VERDICT r03 #4).

Measures end-to-end sampled-record latency (DummyLatencyCountingSink parity,
reference rate 12,500 sentences/s) across the candidate levers, ONE CONFIG
PER JVM — stopped streaming queries leave state-store caches on the heap, so
in-process sweeps degrade monotonically and mis-rank the levers.

Round 5: each JVM is JIT-WARMED (bench.warm_jvm_for_latency) before its
measured window.  The round-4 sweep ran cold JVMs, where live capacity sits
below the arrival rate (0.97M words/s cold vs 5.9M warm for the identical
plan), so its windows measured HotSpot compilation + backlog drain and its
lever rankings were confounded by which config burned warm-up fastest.

Usage:
  python scripts/latency_sweep.py            # full sweep, prints a table
  python scripts/latency_sweep.py --one '<json config>'   # internal: one run

Each config: {"name": ..., "trigger_sec": ..., "partitions": ...,
              "changelog": true/false, "extra": {conf: value}}
Results print as JSON lines; the final line is a summary table (also written
to LATENCY_SWEEP.json at the repo root for SCALE.md).
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

RUN_SEC = 45

CONFIGS = [
    # lever 1: trigger interval around the r05 operating point (0.5 s).
    # Warm capacity is ~1.5M words/s vs 1.25M arrival (~20% margin): 0.25 s
    # leaves the pipeline permanently one batch behind; 1 s pays a larger
    # quantum in p50.
    {"name": "warm_1s_16p", "trigger_sec": 1.0, "partitions": 16,
     "changelog": True, "extra": {}},
    {"name": "warm_500ms_16p", "trigger_sec": 0.5, "partitions": 16,
     "changelog": True, "extra": {}},
    {"name": "warm_250ms_16p", "trigger_sec": 0.25, "partitions": 16,
     "changelog": True, "extra": {}},
    # lever 2: state partitions at the operating trigger
    {"name": "warm_500ms_8p", "trigger_sec": 0.5, "partitions": 8,
     "changelog": True, "extra": {}},
    {"name": "warm_500ms_32p", "trigger_sec": 0.5, "partitions": 32,
     "changelog": True, "extra": {}},
    # lever 3: changelog checkpointing off (full snapshot per commit)
    {"name": "warm_500ms_16p_snapshot", "trigger_sec": 0.5, "partitions": 16,
     "changelog": False, "extra": {}},
    # control: default HDFS-backed store (is RocksDB itself on the floor?)
    {"name": "warm_defaultstore_500ms_16p", "trigger_sec": 0.5,
     "partitions": 16, "changelog": False, "extra": {}, "provider": "default"},
]


def run_one(cfg: dict) -> dict:
    import bench
    from flink_wordcount_spark.session import ROCKSDB_STATE, get_spark, scoped_confs

    spark = get_spark(f"latency_sweep_{cfg['name']}")
    spark.sparkContext.setLogLevel("ERROR")
    extra = dict(cfg.get("extra", {}))
    provider = {} if cfg.get("provider") == "default" else ROCKSDB_STATE
    extra[
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    ] = "true" if cfg.get("changelog") else "false"
    with scoped_confs(spark, provider):
        warm = bench.warm_jvm_for_latency(spark)
        res = bench.bench_latency(
            spark,
            trigger_sec=cfg["trigger_sec"],
            partitions=cfg["partitions"],
            extra_confs=extra,
            run_sec=RUN_SEC,
        )
    res["name"] = cfg["name"]
    res["jit_warmup"] = warm
    spark.stop()
    return res


def main() -> int:
    if len(sys.argv) > 2 and sys.argv[1] == "--one":
        print("SWEEPRESULT " + json.dumps(run_one(json.loads(sys.argv[2]))))
        return 0

    results = []
    for cfg in CONFIGS:
        proc = subprocess.run(
            [sys.executable, __file__, "--one", json.dumps(cfg)],
            capture_output=True, text=True, timeout=600, cwd=str(ROOT),
        )
        line = next(
            (l for l in proc.stdout.splitlines() if l.startswith("SWEEPRESULT ")),
            None,
        )
        if line is None:
            results.append({"name": cfg["name"], "error": proc.stderr[-500:]})
        else:
            results.append(json.loads(line[len("SWEEPRESULT "):]))
        r = results[-1]
        print(json.dumps(r))
    out = {"run_sec_per_config": RUN_SEC, "results": results}
    (ROOT / "LATENCY_SWEEP.json").write_text(json.dumps(out, indent=1))
    print(f"wrote {ROOT / 'LATENCY_SWEEP.json'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
