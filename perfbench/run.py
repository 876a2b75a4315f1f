"""Benchmark entry point: one run of one workload, in fresh processes.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Each run starts a fresh
worker process (``perfbench/worker.py``) that builds its own local Spark
session on every core of the host, runs the workload and checks every output
against DuckDB. Every process the run starts is
stopped and reaped before it exits, and its scratch directory (Spark local
dirs, checkpoints, temp files) is removed only after that.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it is
a detail record (seed, per-pass values, host steal and load). The exit code is
0 only when every operation ran and every output matched.
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK_ROOT = ROOT / ".perfbench_work"

WORKLOADS = ("tpch", "stream-drain")
#: Driver heap, pinned well below the RAM of a 15 GB host.
DRIVER_MEM = "4g"
WORKER_TIMEOUT_S = 150
#: Grace period for a finished worker's JVM and Python workers to exit.
REAP_GRACE_S = 20

END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "words_per_s": "1/s",
}


def _become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM, Python daemon workers) so that
    they can be reaped here instead of outliving the run."""
    pr_set_child_subreaper = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: process-group kill below still applies


def _interrupted(signum, frame) -> None:
    raise KeyboardInterrupt(f"signal {signum}")


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _reap_all(deadline: float) -> bool:
    """Reap every child until none is left or the deadline passes."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return True
        if pid == 0:
            if time.time() > deadline:
                return False
            time.sleep(0.05)


def _stop_group(proc: subprocess.Popen) -> None:
    """Wait for the worker's process group to exit; terminate stragglers."""
    pgid = proc.pid
    for sig, grace in ((None, REAP_GRACE_S), (signal.SIGTERM, 5), (signal.SIGKILL, 10)):
        if sig is not None and _group_alive(pgid):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                pass
        if _reap_all(time.time() + grace) and not _group_alive(pgid):
            return
    print(f"perfbench: process group {pgid} did not exit", file=sys.stderr)


def _child_env(work: Path) -> dict[str, str]:
    cores = len(os.sched_getaffinity(0))
    tmp = work / "tmp"
    local = work / "local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        {
            # Python workers import the package from the checkout root.
            "PYTHONPATH": os.pathsep.join(
                p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
            ),
            "PYTHONHASHSEED": "0",
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            # java.io.tmpdir holds RocksDB's native library; -UsePerfData
            # stops the JVM writing hsperfdata outside the run directory
            "PYSPARK_SUBMIT_ARGS": (
                "--conf spark.driver.extraJavaOptions="
                f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
            ),
        }
    )
    return env


def _run_child(args: list[str], work: Path, timeout_s: float, log: Path) -> dict:
    """Run ``worker.py`` with ``args``; return its JSON result file."""
    out = work / f"result-{time.time_ns()}.json"
    env = _child_env(work)
    cmd = [sys.executable, str(HERE / "worker.py"), *args, "--out", str(out)]
    with log.open("ab") as logf:
        t0 = time.time()
        proc = subprocess.Popen(
            [*cmd, "--t0", repr(t0)],
            cwd=work,
            env=env,
            stdout=logf,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=timeout_s)
        except BaseException:
            # a timeout, or SIGTERM/SIGINT to this run: kill the worker's group
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            _stop_group(proc)
    if proc.returncode != 0 or not out.is_file():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        raise RuntimeError(
            f"worker {' '.join(args)} exited with {proc.returncode}:\n" + "\n".join(tail)
        )
    return json.loads(out.read_text())


def run(workload: str, seed: int, seconds: int, trace: bool) -> tuple[dict, dict]:
    WORK_ROOT.mkdir(exist_ok=True)
    work = WORK_ROOT / f"{workload}-{seed}-{os.getpid()}-{time.time_ns()}"
    work.mkdir()
    log = work / "worker.log"
    try:
        args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds)]
        if trace:
            args += ["--trace", str(WORK_ROOT / "traces")]
        result = _run_child(args, work, WORKER_TIMEOUT_S, log)
    except BaseException:
        keep = WORK_ROOT / "failed.log"
        shutil.copyfile(log, keep)
        raise
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result["detail"]["host"] = {
        k: v for k, v in result["per_layer"].items() if k.startswith(("process.", "host.", "jvm."))
    }
    if trace:
        metrics = result["per_layer"]
    else:
        metrics = dict(result["end_to_end"], setup_s=result["setup"]["setup_s"])
    return result, metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "__spark_entry__.py").is_file() or not (
        ROOT / "flink_wordcount_spark"
    ).is_dir():
        print(f"perfbench: no spark-graft checkout at {ROOT}", file=sys.stderr)
        return 2
    _become_subreaper()
    signal.signal(signal.SIGTERM, _interrupted)
    try:
        result, metrics = run(a.workload, a.seed, a.seconds, bool(a.trace))
    except (RuntimeError, subprocess.TimeoutExpired, KeyboardInterrupt) as e:
        print(f"perfbench: {e!r}", file=sys.stderr)
        return 1
    units = result["units"] if a.trace else END_TO_END_UNITS
    correct = result["failed"] == 0
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      **result["detail"]}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
