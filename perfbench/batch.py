"""The ``tpch`` workload: repeated passes over a fixed query mix at sf0.1.

Pass 0 runs in the fresh session and is published as ``first_pass_s``.
Passes 1 and 2 are the warm-up: pass 1 collects each query's result and
compares it with DuckDB running the query's ``oracle_sql()`` on the same
fixture; pass 2 runs like a measured pass but is not published. Passes 3 and
later are measured until ``--seconds`` have elapsed (at least
``MIN_PASSES``). The seed sets the query order of every pass. After each
measured pass, ``wordcount_top100`` runs ``WORDCOUNT_RUNS`` times back to
back, and ``words_per_s`` is the fixture's word count over the median of all
those runs.

A query's time is the call ``queries()[name](spark, dir)`` (the plan build)
plus a noop-sink write of its result. Traced runs also read each query's
jobs, stages and final plan from Spark's status store (outside the timed
calls) and then time the curation operators directly.
"""

from __future__ import annotations

import os
import random
import time
from pathlib import Path

from canon import compare, fixture_conn
from probes import (
    ExecStats,
    StatusReader,
    context_layers,
    cpu_times,
    exec_metrics,
    median,
    steal_pct,
    usage,
    usage_since,
)

#: The read-only sf0.1 fixture (TESTDATA.md); nothing is written there.
SF_DIR = os.environ.get("PERFBENCH_SF_DIR", str(Path.home() / "testdata" / "sf0.1"))
MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q10_returned_items",
    "join_range",
    "agg_cube",
    "window_running_sum",
    "ev_session_window",
    "wordcount_top100",
)
WORDCOUNT = "wordcount_top100"
#: wordcount_top100 runs timed back to back after each measured pass for
#: ``words_per_s``: its one ~0.3 s run per pass is too short for a steady
#: rate, and one block at the end of the run would see only the host's state
#: at that moment instead of the whole measured window.
WORDCOUNT_RUNS = 4
MIN_PASSES = 2
#: Tokens of documents.text under the library's tokenizer (\W+ split, empties dropped).
_WORDS_SQL = (
    "SELECT count(*) FROM (SELECT unnest(regexp_split_to_array(text, '\\W+')) AS w "
    "FROM documents) WHERE length(w) > 0"
)


class _Ops:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str, err: str) -> None:
        self.failed += 1
        if len(self.errors) < 10:
            self.errors.append(f"{what}: {err[:300]}")


def _order(seed: int, pass_no: int) -> list[str]:
    names = list(MIX)
    random.Random(f"{seed}:{pass_no}").shuffle(names)
    return names


def _timed_pass(spark, queries, names, pass_no, ops, tracer, reader):
    """Run one timed pass; returns (per-query seconds, per-query trace data)."""
    times: dict[str, float] = {}
    traced: dict[str, dict] = {}
    sc = spark.sparkContext
    with tracer.span("pass", pass_no=pass_no):
        for name in names:
            ops.attempted += 1
            last_exec = reader.last_execution_id() if reader else -1
            try:
                with tracer.span("query", query=name):
                    if reader:
                        sc.setJobGroup(f"b:{pass_no}:{name}", name)
                    t0 = time.perf_counter()
                    with tracer.span("build", query=name):
                        df = queries[name](spark, SF_DIR)
                    t1 = time.perf_counter()
                    if reader:
                        sc.setJobGroup(f"w:{pass_no}:{name}", name)
                    with tracer.span("write", query=name):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — one failed op, keep measuring
                ops.fail(f"pass {pass_no} {name}", repr(e))
                continue
            finally:
                if reader:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            times[name] = t2 - t0
            if reader:
                traced[name] = _scrape(reader, pass_no, name, t1 - t0, last_exec)
    return times, traced


def _scrape(reader: StatusReader, pass_no: int, name: str, build_s: float,
            last_exec: int) -> dict:
    t0 = time.perf_counter()
    reader.drain()
    build_jobs = reader.jobs(f"b:{pass_no}:{name}")
    write_jobs = reader.jobs(f"w:{pass_no}:{name}")
    ex = reader.exec_stats(build_jobs + write_jobs)
    execs = reader.executions_after(last_exec)
    out = {
        "build_s": build_s,
        "build_jobs": len(build_jobs),
        "exec": ex,
        "plan": reader.plan_counts(execs),
        "python": reader.python_io(execs),
    }
    out["scrape_s"] = time.perf_counter() - t0
    return out


def _check_pass(spark, queries, oracles, names, ops, tracer) -> dict[str, int]:
    """Untimed warm-up pass: collect every result and compare with DuckDB."""
    con = fixture_conn(SF_DIR)
    with tracer.span("check"):
        for name in names:
            ops.attempted += 1
            try:
                got = queries[name](spark, SF_DIR).toPandas()
                want = con.execute(oracles[name]).df()
                diff = compare(got, want)
            except Exception as e:  # noqa: BLE001
                ops.fail(f"check {name}", repr(e))
                continue
            if diff:
                ops.fail(f"check {name}", diff)
        words = con.execute(_WORDS_SQL).fetchone()[0]
    con.close()
    return {"words": int(words)}


def _wordcount_runs(spark, queries, ops, tracer) -> list[float]:
    """Time WORDCOUNT_RUNS runs of the word count (build + noop write)."""
    times: list[float] = []
    with tracer.span("wordcount_runs"):
        for i in range(WORDCOUNT_RUNS):
            ops.attempted += 1
            try:
                t0 = time.perf_counter()
                queries[WORDCOUNT](spark, SF_DIR).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001
                ops.fail(f"wordcount run {i}", repr(e))
    return times


def _pass_layers(traced: dict[str, dict], reader: StatusReader, cores: int) -> dict:
    ex = ExecStats()
    plan: dict[str, int] = {}
    py: dict[str, float] = {}
    for t in traced.values():
        ex.add(t["exec"])
        for k, v in t["plan"].items():
            plan[k] = plan.get(k, 0) + v
        for k, v in t["python"].items():
            py[k] = py.get(k, 0.0) + v
    return {
        "plans.build_s": sum(t["build_s"] for t in traced.values()),
        "plans.build_jobs": sum(t["build_jobs"] for t in traced.values()),
        **exec_metrics(ex, reader, cores),
        **plan,
        **py,
        "trace.scrape_s": sum(t["scrape_s"] for t in traced.values()),
    }


def _operator_probes(spark, tracer, reader: StatusReader) -> dict:
    """Time the curation operators directly on sf0.1 and count their rows."""
    from pyspark.sql import functions as F

    from flink_wordcount_spark.io import table
    from flink_wordcount_spark.operators.dedup import (
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_verified_pairs,
        shingles,
    )
    from flink_wordcount_spark.operators.multimodal import attach_binary, featurize
    from flink_wordcount_spark.operators.similarity import brute_force_topk
    from flink_wordcount_spark.operators.textstats import quality_features

    docs = table(spark, SF_DIR, "documents")
    emb = table(spark, SF_DIR, "embeddings").filter(F.col("embedding").isNotNull())
    out: dict[str, float] = {}

    def timed(name: str, make, count: bool):
        with tracer.span("operator", op=name):
            t0 = time.perf_counter()
            df = make()
            rows = df.count() if count else df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, rows

    out["dedup.jaccard_pairs_s"], out["dedup.jaccard_pairs_rows"] = timed(
        "jaccard_pairs",
        lambda: jaccard_pairs(shingles(docs, "text", "doc_id", n=3), 0.8),
        True,
    )
    _, cands = timed(
        "lsh_candidate_pairs",
        lambda: lsh_candidate_pairs(
            minhash_signatures(shingles(docs, "text", "doc_id", n=3)),
            max_bucket_size=1024,
        ),
        True,
    )
    _, verified = timed(
        "minhash_verified_pairs",
        lambda: minhash_verified_pairs(docs, "text", "doc_id", n=3, threshold=0.8),
        True,
    )
    out["dedup.lsh_candidates"] = cands
    out["dedup.lsh_verified"] = verified
    out["dedup.lsh_precision"] = verified / cands if cands else 0.0
    out["similarity.topk_s"], _ = timed(
        "brute_force_topk",
        lambda: brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5),
        False,
    )
    out["textstats.quality_s"], _ = timed(
        "quality_features",
        lambda: docs.select("doc_id", *quality_features("text")),
        False,
    )
    last_exec = reader.last_execution_id()
    out["multimodal.featurize_s"], _ = timed(
        "featurize",
        lambda: featurize(attach_binary(docs.filter(F.col("text").isNotNull()))),
        False,
    )
    reader.drain()
    out.update(reader.python_io(reader.executions_after(last_exec)))
    return out


def run(spark, seed: int, seconds: int, tracer) -> dict:
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    reader = StatusReader(spark) if tracer.enabled else None
    cores = spark.sparkContext.defaultParallelism
    ops = _Ops()
    passes: list[dict] = []

    def one_pass(pass_no: int) -> dict:
        names = _order(seed, pass_no)
        start = usage(spark)
        t0 = time.perf_counter()
        times, traced = _timed_pass(spark, queries, names, pass_no, ops, tracer, reader)
        wall = time.perf_counter() - t0
        rec = {
            "pass": pass_no,
            "order": names,
            "pass_s": sum(times.values()),
            "wall_s": wall,
            **usage_since(spark, start),
            "query_s": times,
        }
        if reader:
            rec["layers"] = _pass_layers(traced, reader, cores)
            rec["per_query"] = {
                n: {"build_s": t["build_s"], "build_jobs": t["build_jobs"],
                    "stages": t["exec"].stages, "tasks": t["exec"].tasks, **t["plan"]}
                for n, t in traced.items()
            }
        passes.append(rec)
        return rec

    first = one_pass(0)
    t_check = time.perf_counter()
    check = _check_pass(spark, queries, oracles, _order(seed, 1), ops, tracer)
    check_s = time.perf_counter() - t_check
    one_pass(2)
    measured: list[dict] = []
    host0 = cpu_times()
    t_start = time.perf_counter()
    wc_times: list[float] = []
    while len(measured) < MIN_PASSES or time.perf_counter() - t_start < seconds:
        measured.append(one_pass(len(passes) + 1))
        wc_times += _wordcount_runs(spark, queries, ops, tracer)
    host_steal = steal_pct(host0, cpu_times())

    words = check["words"]
    end_to_end = {
        "first_pass_s": first["pass_s"],
        "pass_s": median(p["pass_s"] for p in measured),
        "words_per_s": words / median(wc_times) if wc_times else 0.0,
    }
    per_layer = context_layers(measured, host_steal)
    if reader:
        for key in measured[0]["layers"]:
            per_layer[key] = median(p["layers"][key] for p in measured)
        per_layer.update(_operator_probes(spark, tracer, reader))
    detail = {
        "sf_dir": SF_DIR,
        "passes_measured": len(measured),
        "check_pass_s": check_s,
        "wordcount_s": wc_times,
        "words_in_fixture": words,
        "passes": [{k: v for k, v in p.items() if k != "layers"} for p in passes],
        "errors": ops.errors,
    }
    if reader:
        detail["layers_per_pass"] = {
            k: [p["layers"][k] for p in measured] for k in measured[0]["layers"]
        }
    return {
        "attempted": ops.attempted,
        "failed": ops.failed,
        "end_to_end": end_to_end,
        "per_layer": per_layer,
        "detail": detail,
    }
