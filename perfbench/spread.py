"""Repeatability check: run the benchmark on several seeds and report, for
every metric, the median and the quartile spread (q3 - q1) / median.

    python3 perfbench/spread.py

Untraced runs use seeds 1..10 on every workload of BENCHMARK.json. Two traced
runs repeat seed 1, check that the exact counts repeat run-for-run and pass-for-pass, and
publish the tracing overhead (traced median minus untraced median of each
end-to-end metric). Bounds and run length come from BENCHMARK.json. Raw
results are written to ``.perfbench_work/spread-<time>.json``.
"""

from __future__ import annotations

import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
RUNS = 10
TRACED = 2
FIRST_SEED = 1
#: Per-layer counts that must repeat exactly across traced runs and passes.
EXACT = (
    "plans.build_jobs",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "plan.broadcast_joins",
    "plan.sort_merge_joins",
    "plan.shuffled_hash_joins",
    "plan.exchanges",
    "dedup.jaccard_pairs_rows",
    "dedup.lsh_candidates",
    "dedup.lsh_verified",
    "python.rows_sent",
    "source.rows_ingested",
    "state.rows_updated",
)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    return {"workload": workload, "seed": seed, "trace": trace, "wall_s": time.time() - t0,
            "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float]:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = [w["name"] for w in bench["workloads"]]
    runs: list[dict] = []
    ok = True
    for w in workloads:
        for seed in range(FIRST_SEED, FIRST_SEED + RUNS):
            runs.append(run_once(w, seed, seconds, 0))
            print(f"{w} seed {seed}: {runs[-1]['wall_s']:.0f} s", file=sys.stderr)
        traced = [run_once(w, FIRST_SEED, seconds, 1) for _ in range(TRACED)]
        runs += traced
        untraced = [r for r in runs if r["workload"] == w and not r["trace"]]
        print(f"\n{w}: {len(untraced)} untraced runs, "
              f"wall {statistics.median(r['wall_s'] for r in untraced):.0f} s median")
        for r in untraced + traced:
            if not r["result"]["correct"]:
                ok = False
                print(f"  seed {r['seed']}: INCORRECT {r['detail'].get('errors')}")
        for name, bound in bounds.items():
            vals = [r["result"]["metrics"][name]["value"] for r in untraced]
            med, sp = spread(vals)
            flag = "ok" if sp <= bound / 3 else (
                "WITHIN BOUND" if sp <= bound else "TOO NOISY")
            ok &= flag != "TOO NOISY"
            line = f"  {name:14s} median {med:14.4f}  spread {sp:6.3f}  bound {bound}  {flag}"
            if traced:
                tmed = statistics.median(
                    t["result"]["metrics"][f"trace.{name}"]["value"] for t in traced)
                line += f"  tracing overhead {tmed - med:+.4f} ({(tmed - med) / med:+.1%})"
            print(line)
        for key in EXACT:
            per_run = [t["result"]["metrics"][key]["value"] for t in traced]
            per_pass = [tuple(t["detail"].get("layers_per_pass", {}).get(key, ())) for t in traced]
            repeat = len(set(per_run)) <= 1 and all(len(set(p)) <= 1 for p in per_pass)
            ok &= repeat
            print(f"  {key:28s} {per_run}  {'repeats' if repeat else 'DIFFERS'}")
    out = ROOT / ".perfbench_work" / f"spread-{int(time.time())}.json"
    out.parent.mkdir(exist_ok=True)
    out.write_text(json.dumps(runs, indent=1))
    print(f"\nraw results: {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
