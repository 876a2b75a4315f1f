"""Executor hard-kill drill: ``kill -9`` a live executor JVM mid-stream.

The reference's failure experiment is ``kill -9`` of a LIVE TaskManager
while the job runs (kill_worker.sh:8-18 — a spare TaskManager is
pre-started, the active one is killed mid-job, the job must recover and
keep exactly-once counts).  ``run_drill`` is the Spark analog:

- a REAL ``local-cluster[2,2,1024]`` session (two genuine executor JVMs
  under a standalone master — the surviving executor plus the master's
  relaunch stand in for Flink's spare TaskManager),
- a checkpointed streaming word count over a 40-file replay,
- ``kill -9`` of one executor JVM after >= 3 committed micro-batches,
- assertions that the query drains to completion and the final counts are
  IDENTICAL to the batch word count over the same files (exactly-once
  under process death, not graceful stop).

Each drill runs in its own subprocess: a second SparkSession with a
different master cannot share the calling JVM (same isolation as
test_packaging's local-cluster test).

Publication policy (VERDICT r11 #1/#3): the kill-to-next-commit seconds
are NOISY (committed history: 3.34 / 3.36 / 6.6 / 7.37 s across four
single runs) — a single run must never be the quoted number.  The round
artifact is written by ``scripts/run_executor_kill.py``, which runs the
drill N >= 3 times in one session and publishes the MEDIAN with the full
run list for spread; the pytest gate (tests/test_executor_kill.py) runs
one drill for the exactly-once assertion and does not publish seconds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO_ROOT = str(Path(__file__).resolve().parents[2])

_CHILD = """
import json, os, subprocess, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F

spark = (SparkSession.builder.master("local-cluster[2,2,1024]")
         .appName("executor-kill-recovery")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

data_dir = os.path.join({tmp!r}, "sentences")
ckpt = os.path.join({tmp!r}, "ckpt")
# deterministic corpus, 40 files -> ~20 micro-batches at 2 files/trigger
(spark.range(0, 20000)
 .select(F.format_string("alpha b%d c%d d%d", F.col("id") % 101,
                         F.col("id") % 13, F.col("id") % 7).alias("sentence"))
 .repartition(40)
 .write.mode("overwrite").parquet(data_dir))

from flink_wordcount_spark.operators.text import tokenize
from flink_wordcount_spark.streaming.wordcount import drain, file_replay_wordcount
counts = file_replay_wordcount(spark, data_dir, text_col="sentence",
                               max_files_per_trigger=2)
q = (counts.writeStream.outputMode("complete").format("memory")
     .queryName("killtest").option("checkpointLocation", ckpt).start())

def committed_batches():
    return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]

deadline = time.time() + 180
while time.time() < deadline and len(committed_batches()) < 3:
    time.sleep(0.2)
assert len(committed_batches()) >= 3, "never reached 3 committed batches"

app_id = spark.sparkContext.applicationId
out = subprocess.run(["pgrep", "-af", "ExecutorBackend"],
                     capture_output=True, text=True)
victims = [int(l.split()[0]) for l in out.stdout.splitlines() if app_id in l]
assert len(victims) >= 2, f"expected 2 live executor JVMs, saw {{victims}}"
last_before = max(committed_batches())
t_kill = time.time()
os.kill(victims[0], 9)  # SIGKILL: no shutdown hooks, the hard death

# kill-to-recovery: first batch COMMITTED after the kill
recovered_batch = None
deadline = time.time() + 240
while time.time() < deadline:
    newer = [b for b in committed_batches() if b > last_before]
    if newer:
        recovered_batch = min(newer)
        break
    time.sleep(0.2)
t_rec = time.time() - t_kill
assert recovered_batch is not None, "no batch committed after the kill"

drain(q)
streamed = {{r["word"]: r["cnt"] for r in spark.table("killtest").collect()}}
q.stop()
batch = {{r["word"]: r["cnt"]
          for r in (tokenize(spark.read.parquet(data_dir),
                             text_col="sentence", out_col="word")
                    .groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
                    .collect())}}
spark.stop()
assert streamed == batch, (
    f"exactly-once violated: {{len(streamed)}} streamed vs {{len(batch)}} "
    f"batch keys; first diffs: "
    f"{{ {{k: (streamed.get(k), batch.get(k)) for k in list(set(streamed) ^ set(batch))[:5]}} }}")
print(json.dumps({{
    "experiment": "kill -9 one executor JVM mid-stream (local-cluster[2,2,1024])",
    "reference_analog": "kill_worker.sh:8-18 (TaskManager hard-kill)",
    "batches_committed_before_kill": last_before + 1,
    "kill_to_next_commit_sec": round(t_rec, 2),
    "exactly_once_ok": True,
    "distinct_words": len(streamed),
}}))
"""


def run_drill(tmp_dir: str, timeout: int = 540) -> dict:
    """Run one hard-kill drill in a fresh subprocess; return its result dict.

    Raises AssertionError with the child's tail output on any failure —
    including an exactly-once violation, which is the drill's entire point.
    """
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO_ROOT, tmp=tmp_dir)],
        capture_output=True,
        text=True,
        cwd=tmp_dir,
        timeout=timeout,
        env=env,
    )
    assert proc.returncode == 0, (proc.stdout + proc.stderr)[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])
