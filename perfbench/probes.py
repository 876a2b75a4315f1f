"""Measurements read from outside the library: process CPU, host steal and
load, JVM counters, and (traced runs only) Spark's status store.

Nothing here changes what Spark executes; the status-store readers run
between timed calls, after the listener bus has drained.
"""

from __future__ import annotations

import os
import re
import statistics
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_tree_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) of ``root``
    and every live descendant: the Python driver, the JVM and the JVM's
    Python workers."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid, ppid = int(entry), int(fields[1])
        children.setdefault(ppid, []).append(pid)
        # utime, stime, cutime, cstime are fields 14-17 of /proc/<pid>/stat
        ticks[pid] = sum(int(x) for x in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total / _CLK_TCK


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def loadavg1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def jvm_counters(spark) -> tuple[float, float]:
    """(JIT compile seconds, GC seconds) of the driver JVM so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    jit = mf.getCompilationMXBean().getTotalCompilationTime()
    gc = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
    return jit / 1000.0, gc / 1000.0


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def usage(spark) -> tuple:
    """A sample of process-tree CPU, host CPU times and JVM counters."""
    return cpu_tree_s(), cpu_times(), jvm_counters(spark)


def usage_since(spark, start: tuple) -> dict[str, float]:
    """CPU seconds, host steal, JIT and GC seconds since ``start``."""
    cpu, host, jvm = usage(spark)
    return {
        "cpu_s": cpu - start[0],
        "steal_pct": steal_pct(start[1], host),
        "loadavg": loadavg1(),
        "jit_s": jvm[0] - start[2][0],
        "gc_s": jvm[1] - start[2][1],
    }


def context_layers(passes: list[dict], host_steal: float) -> dict[str, float]:
    """Process CPU, ``jvm.*`` and ``host.*`` per-layer metrics over measured
    passes."""
    return {
        "process.pass_cpu_s": median(p["cpu_s"] for p in passes),
        "jvm.jit_compile_s": median(p["jit_s"] for p in passes),
        "jvm.gc_s": median(p["gc_s"] for p in passes),
        "host.steal_pct": host_steal,
        "host.loadavg": median(p["loadavg"] for p in passes),
    }


def median(vals) -> float:
    vals = list(vals)
    return float(statistics.median(vals)) if vals else 0.0


def percentile(vals, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100); 0.0 for no samples."""
    vals = sorted(vals)
    if not vals:
        return 0.0
    rank = max(1, -(-len(vals) * q // 100))
    return float(vals[int(rank) - 1])


# --- Spark status store (traced runs) -------------------------------------

_JOINS = {
    "plan.broadcast_joins": re.compile(r"\bBroadcastHashJoin\b"),
    "plan.sort_merge_joins": re.compile(r"\bSortMergeJoin\b"),
    "plan.shuffled_hash_joins": re.compile(r"\bShuffledHashJoin\b"),
    # a shuffle Exchange; BroadcastExchange and ReusedExchange do not match
    "plan.exchanges": re.compile(r"\bExchange\b"),
}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_ROWS = "number of output rows"


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric ("5,000", "1.5 MiB", or the multi-line
    "total (min, med, max)" form) to a number of rows or bytes."""
    line = text.strip().splitlines()[-1] if text.strip().startswith("total") else text
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE_UNITS.get(m.group(2), 1)


def final_plan_counts(plan_description: str) -> dict[str, int]:
    """Join and exchange counts in the final (post-AQE) physical plan tree."""
    tree = plan_description.split("\n\n", 1)[0]
    tree = tree.split("== Initial Plan ==", 1)[0]
    return {k: len(rx.findall(tree)) for k, rx in _JOINS.items()}


def _opt(o):
    return o.get() if o.isDefined() else None


@dataclass
class ExecStats:
    """Spark execution totals for a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    wall_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_rows: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    longest_stage: tuple = field(default=(0.0, -1, 0))  # (run_s, stage, attempt)

    def add(self, other: "ExecStats") -> None:
        for k in self.__dataclass_fields__:
            if k != "longest_stage":
                setattr(self, k, getattr(self, k) + getattr(other, k))
        self.longest_stage = max(self.longest_stage, other.longest_stage)


def exec_metrics(ex: ExecStats, reader: "StatusReader", cores: int) -> dict[str, float]:
    """The ``exec.*`` per-layer metrics of one pass or attempt."""
    return {
        "exec.wall_s": ex.wall_s,
        "exec.jobs": ex.jobs,
        "exec.stages": ex.stages,
        "exec.tasks": ex.tasks,
        "exec.executor_run_s": ex.executor_run_s,
        "exec.executor_cpu_s": ex.executor_cpu_s,
        "exec.gc_s": ex.gc_s,
        "exec.core_busy_share": (
            ex.executor_run_s / (ex.wall_s * cores) if ex.wall_s > 0 else 0.0
        ),
        "exec.slowest_task_ratio": reader.slowest_task_ratio(ex.longest_stage),
        "exec.input_bytes": ex.input_bytes,
        "exec.input_rows": ex.input_rows,
        "exec.shuffle_write_bytes": ex.shuffle_write_bytes,
        "exec.shuffle_read_bytes": ex.shuffle_read_bytes,
        "exec.spill_bytes": ex.spill_bytes,
    }


class StatusReader:
    """Reads job, stage and SQL-execution data for job groups from the
    driver's status stores."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def drain(self) -> None:
        """Block until every posted listener event has been processed."""
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def exec_stats(self, job_ids: list[int]) -> ExecStats:
        st = ExecStats(jobs=len(job_ids))
        seen: set[int] = set()
        for jid in job_ids:
            job = self._store.job(jid)
            t0, t1 = _opt(job.submissionTime()), _opt(job.completionTime())
            if t0 is not None and t1 is not None:
                st.wall_s += (t1.getTime() - t0.getTime()) / 1000.0
            sids = job.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                if s.status().toString() != "COMPLETE":
                    continue
                st.stages += 1
                st.tasks += s.numCompleteTasks()
                run_s = s.executorRunTime() / 1000.0
                st.executor_run_s += run_s
                st.executor_cpu_s += s.executorCpuTime() / 1e9
                st.gc_s += s.jvmGcTime() / 1000.0
                st.input_bytes += s.inputBytes()
                st.input_rows += s.inputRecords()
                st.shuffle_write_bytes += s.shuffleWriteBytes()
                st.shuffle_read_bytes += s.shuffleReadBytes()
                st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
                st.longest_stage = max(st.longest_stage, (run_s, sid, s.attemptId()))
        return st

    def slowest_task_ratio(self, stage: tuple) -> float:
        """Max over median task duration in one stage (0 if unknown)."""
        _, sid, attempt = stage
        if sid < 0:
            return 0.0
        tasks = self._store.taskList(sid, attempt, 100_000)
        durs = [_opt(tasks.apply(i).duration()) for i in range(tasks.size())]
        durs = [d for d in durs if d is not None]
        med = median(durs)
        return max(durs) / med if durs and med > 0 else 0.0

    def last_execution_id(self) -> int:
        execs = self._sql.executionsList()
        n = execs.size()
        return execs.apply(n - 1).executionId() if n else -1

    def executions_after(self, last_id: int) -> list:
        execs = self._sql.executionsList()
        out = []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= last_id:
                break
            out.append(e)
        return out

    def plan_counts(self, executions: list) -> dict[str, int]:
        totals = dict.fromkeys(_JOINS, 0)
        for e in executions:
            for k, v in final_plan_counts(e.physicalPlanDescription()).items():
                totals[k] += v
        return totals

    def python_io(self, executions: list) -> dict[str, float]:
        """Rows and bytes sent to / received from Python workers, from the
        SQL metrics of every Python node in ``executions``."""
        out = {"python.rows_sent": 0.0, "python.bytes_sent": 0.0,
               "python.bytes_received": 0.0}
        for e in executions:
            eid = e.executionId()
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid)
            metrics = {}
            all_nodes = graph.allNodes()
            for i in range(all_nodes.size()):
                n = all_nodes.apply(i)
                ms = n.metrics()
                named = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    v = _opt(values.get(m.accumulatorId()))
                    if v is not None:
                        named[m.name()] = _metric_value(v)
                metrics[n.id()] = named
            child_of: dict[int, int] = {}
            edges = graph.edges()
            for i in range(edges.size()):
                edge = edges.apply(i)
                child_of.setdefault(edge.toId(), edge.fromId())
            for nid, named in metrics.items():
                if _PY_SENT not in named:
                    continue
                out["python.bytes_sent"] += named[_PY_SENT]
                out["python.bytes_received"] += named.get(_PY_RECV, 0.0)
                child = child_of.get(nid)
                while child is not None and _ROWS not in metrics.get(child, {}):
                    child = child_of.get(child)
                if child is not None:
                    out["python.rows_sent"] += metrics[child][_ROWS]
        return out
