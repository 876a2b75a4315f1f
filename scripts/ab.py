#!/usr/bin/env python3
"""Interleaved A/B of query builders: equal results, quiet minimums, plans
and stages.

Usage: python scripts/ab.py ARM [ARM ...] [--sf1] [--passes N] [--out FILE]

An ARM is a registered query name or ``path/to/file.py:function``, where
``function(spark, sf_dir)`` returns a DataFrame.  A conf change or a
monkeypatch belongs inside the arm's builder.  An old query shape loads from
history: ``git show <rev>:scripts/<name>.py > /tmp/x.py``, then
``/tmp/x.py:old_shape``.  With one arm this is a plain timing probe.

Method, per scale (sf0.1, plus ``bench.build_sf1``'s synthetic sf1 with
``--sf1``):

- one untimed warm pass per arm collects its rows; every arm's sorted rows
  must equal the first arm's (``equal``), and AQE's final plan of that pass
  gives the ``plan.*`` join and exchange counts;
- ``--passes`` timed passes reverse the arm order on every other pass; each
  run clears the cache untimed, then builds the DataFrame and materializes it
  into the noop sink under its own job group, with the host steal share read
  around it; after the timed wall, untimed, the run's stages are read from
  Spark's status store;
- ``min`` is over all runs, ``quiet_min`` over runs whose steal share is
  below ``QUIET_STEAL_PCT``, and ``exec`` holds the median over runs of each
  ``exec.*`` stage metric (as ``perfbench/run.py --trace 1`` names them).

The ledger is printed (and written to ``--out``).  If any scale's results
differ, the timed passes are skipped and the exit status is 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import subprocess
import sys
import time
from pathlib import Path
from typing import Callable

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from bench import SF01, build_sf1, materialize  # noqa: E402
from flink_wordcount_spark.plans import QUERIES  # noqa: E402
from perfbench import probes  # noqa: E402

#: a run with at least this host steal share (%) was spoiled by the host
QUIET_STEAL_PCT = 5.0


def resolve(arm: str) -> Callable:
    """The builder of a registered query or of ``path/to/file.py:function``."""
    if arm in QUERIES:
        return QUERIES[arm]
    path, _, name = arm.rpartition(":")
    if not path.endswith(".py"):
        raise ValueError(f"arm {arm!r} is neither a query nor file.py:function")
    spec = importlib.util.spec_from_file_location(f"ab_arm_{Path(path).stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return getattr(module, name)


def _commit() -> str | None:
    out = subprocess.run(
        ["git", "describe", "--always", "--dirty", "--exclude=*"],
        cwd=ROOT,
        capture_output=True,
        text=True,
    )
    return out.stdout.strip() or None


def _warm(spark, build: Callable, sf_dir: str) -> tuple[list, dict]:
    """Sorted result rows, and their count with the final plan's
    join/exchange counts."""
    spark.catalog.clearCache()
    df = build(spark, sf_dir)
    rows = sorted(map(tuple, df.collect()), key=repr)
    counts = probes.final_plan_counts(df._jdf.queryExecution().executedPlan().toString())
    return rows, {**counts, "rows": len(rows)}


def _timed(
    spark, build: Callable, sf_dir: str, reader: probes.StatusReader, group: str
) -> tuple[float, float, dict]:
    """Wall seconds, host steal share (%) and ``exec.*`` stage metrics of one
    build + materialize run under job group ``group``."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        host0 = probes.cpu_times()
        t0 = time.perf_counter()
        materialize(build(spark, sf_dir))
        wall = time.perf_counter() - t0
        steal = probes.steal_pct(host0, probes.cpu_times())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    reader.drain()
    stats = reader.exec_stats(reader.jobs(group))
    metrics = probes.exec_metrics(stats, reader, sc.defaultParallelism)
    return round(wall, 3), round(steal, 2), metrics


def run(spark, arms: list[str], sf1: bool, passes: int, sf_dir: str = SF01) -> dict:
    """Warm and compare every arm, then time ``passes`` interleaved passes."""
    if len(set(arms)) != len(arms):
        raise ValueError(f"duplicate arm in {arms}")
    builders = {arm: resolve(arm) for arm in arms}
    base = Path(sf_dir).name
    scales = {base: sf_dir}
    if sf1:
        scales["sf1"] = build_sf1(spark)
    ledger: dict = {
        "commit": _commit(),
        "cpus": spark.sparkContext.defaultParallelism,
        "passes": passes,
        "equal": {},
        "order": [],
        "results": {arm: {} for arm in arms},
    }
    plans = {arm: {} for arm in arms}
    for tag, d in scales.items():
        rows = {}
        for arm, build in builders.items():
            rows[arm], plans[arm][tag] = _warm(spark, build, d)
        ledger["equal"][tag] = all(r == rows[arms[0]] for r in rows.values())
    if not all(ledger["equal"].values()):
        ledger["results"] = plans
        return ledger

    reader = probes.StatusReader(spark)
    runs = {arm: {tag: [] for tag in scales} for arm in arms}
    for p in range(passes):
        order = arms if p % 2 == 0 else arms[::-1]
        ledger["order"].append(order)
        for tag, d in scales.items():
            for arm in order:
                group = f"ab:{p}:{tag}:{arm}"
                runs[arm][tag].append(_timed(spark, builders[arm], d, reader, group))
    for arm in arms:
        res = ledger["results"][arm]
        for tag in scales:
            walls = [w for w, _, _ in runs[arm][tag]]
            quiet = [w for w, s, _ in runs[arm][tag] if s < QUIET_STEAL_PCT]
            execs = [e for _, _, e in runs[arm][tag]]
            keys = execs[0] if execs else ()
            res[tag] = {
                "all": walls,
                "steal_pct": [s for _, s, _ in runs[arm][tag]],
                "min": min(walls, default=None),
                "quiet_min": min(quiet, default=None),
                "n_quiet": len(quiet),
                **plans[arm][tag],
                "exec": {k: probes.median(e[k] for e in execs) for k in keys},
            }
        if sf1:
            q0, q1 = res[base]["quiet_min"], res["sf1"]["quiet_min"]
            res["warm_ratio_quiet"] = round(q1 / q0, 2) if q0 and q1 else None
    return ledger


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("arms", nargs="+", metavar="ARM", help="query name or file.py:function")
    ap.add_argument("--sf1", action="store_true", help="also time the synthetic sf1")
    ap.add_argument("--passes", type=int, default=4, help="timed passes (default 4)")
    ap.add_argument("--out", type=Path, help="also write the ledger here")
    args = ap.parse_args(argv)

    from flink_wordcount_spark.session import get_spark

    spark = get_spark("ab")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ledger = run(spark, args.arms, args.sf1, args.passes)
    finally:
        spark.stop()
    text = json.dumps(ledger, indent=1)
    if args.out:
        args.out.write_text(text + "\n")
    print(text)
    return 0 if all(ledger["equal"].values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
