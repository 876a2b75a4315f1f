"""Invariants of the text-statistics plans (plans/textstats_q.py) that
must hold on ANY input: the oracle gate pins exact values on the fixture,
these keep a fixture rotation from admitting a formula regression that
happens to hash-match."""

from __future__ import annotations

from flink_wordcount_spark.plans import QUERIES


def test_pii_report_rollup_is_consistent(spark, sf_dir):
    rows = QUERIES["text_pii_redaction_report"](spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    leaf = [r for r in rows if r["gid"] == 0]
    per_source = [r for r in rows if r["gid"] == 1]
    grand = [r for r in rows if r["gid"] == 3]
    assert len(grand) == 1
    # every (source, class) leaf observes every doc of that source once
    assert {r["pii_class"] for r in leaf} == {"email", "ip", "phone"}
    assert sum(r["n_obs"] for r in leaf) == 3 * n_docs
    # rollup levels re-aggregate the leaves exactly
    for ps in per_source:
        mine = [r for r in leaf if r["source"] == ps["source"]]
        assert ps["n_obs"] == sum(r["n_obs"] for r in mine)
        assert ps["n_hits"] == sum(r["n_hits"] for r in mine)
        assert ps["n_docs_affected"] == sum(r["n_docs_affected"] for r in mine)
    g = grand[0]
    assert g["n_obs"] == sum(r["n_obs"] for r in leaf)
    assert g["n_hits"] == sum(r["n_hits"] for r in leaf)
    for r in rows:
        assert 0 <= r["redaction_rate_bp"] <= 10_000
        assert r["redaction_rate_bp"] == (r["n_docs_affected"] * 10_000) // r["n_obs"]
        assert 0 <= r["n_docs_affected"] <= r["n_obs"]


def test_pii_report_rates_vary_by_class(spark, sf_dir):
    """The gated fixture suffix must produce class rates that actually differ
    (an all-10000bp report would mean the gating regressed to the scrub
    fixture's every-doc suffix and the report is vacuous)."""
    rows = QUERIES["text_pii_redaction_report"](spark, sf_dir).collect()
    # ROLLUP(source, pii_class) has no class-only level; derive it from leaves
    leaf = [r for r in rows if r["gid"] == 0]
    agg: dict[str, list[int]] = {}
    for r in leaf:
        a = agg.setdefault(r["pii_class"], [0, 0])
        a[0] += r["n_docs_affected"]
        a[1] += r["n_obs"]
    assert set(agg) == {"email", "ip", "phone"}
    rates = {c: (aff * 10_000) // n for c, (aff, n) in agg.items()}
    assert len(set(rates.values())) >= 2, rates
    assert any(0 < v < 10_000 for v in rates.values()), rates
