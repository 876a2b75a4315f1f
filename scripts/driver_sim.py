#!/usr/bin/env python3
"""Simulate the driver's verify pass against __spark_entry__.py.

Usage: python scripts/driver_sim.py [sf_dir] [--limit N] [--names a,b,c]

- sf_dir defaults to /root/testdata/sf0.01.
- Queries run in REGISTRATION order (the driver's order; its verify budget
  truncates at ~50 queries, so order is load-bearing — see plans/__init__.py).
- --limit N verifies only the first N registered queries.
- --names runs an explicit comma-separated subset (registration order kept).
- Writes VERIFY_COST.json (per-query seconds + pass/fail) at the repo root
  so the next round can order registration by verify cost, not just novelty.

Exit code 0 iff everything matches.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from flink_wordcount_spark.oracle import compare  # noqa: E402
from flink_wordcount_spark.session import codegen_compilations, get_spark  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    limit, names_filter, sf_dir = None, None, "/root/testdata/sf0.01"
    while args:
        a = args.pop(0)
        if a == "--limit":
            limit = int(args.pop(0))
        elif a == "--names":
            names_filter = set(args.pop(0).split(","))
        else:
            sf_dir = a
    import __spark_entry__ as e

    spark = get_spark("driver_sim")
    t0 = time.time()
    edf = e.entry(spark)
    n = edf.count()
    schema_ok = len(edf.schema.fields) > 0
    print(f"entry(): {n} rows, schema_ok={schema_ok}, {time.time() - t0:.1f}s")

    qs, oracles = e.queries(), e.oracle_sql()
    run_names = list(qs)
    if names_filter is not None:
        run_names = [x for x in run_names if x in names_filter]
    if limit is not None:
        run_names = run_names[:limit]
    results, failed = {}, []
    for name in run_names:
        # Drop cached relations left by prior queries (curation_end_to_end
        # persists its stage-shared id lists; a lingering InMemoryRelation
        # both pins memory across the ~200-query sweep and freezes the plan
        # it cached under the confs of its FIRST build — ADVICE r07).
        spark.catalog.clearCache()
        t0 = time.time()
        try:
            ok, msg = compare(spark, sf_dir, name, qs[name], oracles.get(name))
        except Exception as ex:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(ex).__name__}: {ex}"
        dt = time.time() - t0
        results[name] = {"ok": ok, "msg": msg, "sec": round(dt, 2)}
        status = "OK " if ok else "FAIL"
        print(f"  {status} {name:<32} {dt:5.1f}s  {msg.splitlines()[0]}")
        if not ok:
            failed.append(name)

    print(f"codegen: {codegen_compilations(spark)} Janino compilations")
    print(json.dumps({"total": len(run_names), "failed": failed}))
    if names_filter is None and limit is None:
        cost = {
            name: {"sec": r["sec"], "ok": r["ok"]}
            for name, r in results.items()
        }
        payload = {
            "sf_dir": sf_dir,
            "total_sec": round(sum(r["sec"] for r in results.values()), 2),
            "queries": cost,
        }
        Path(__file__).resolve().parent.parent.joinpath(
            "VERIFY_COST.json"
        ).write_text(json.dumps(payload, indent=1) + "\n")
    spark.stop()
    return 1 if (n < 0 or failed) else 0


if __name__ == "__main__":
    raise SystemExit(main())
