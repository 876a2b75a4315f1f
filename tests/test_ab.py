"""scripts/ab.py: arms resolve, results are compared, order alternates, and
the ledger carries every field, stage metrics included."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
from pathlib import Path

import pytest

AB_PATH = Path(__file__).resolve().parents[1] / "scripts" / "ab.py"
_spec = importlib.util.spec_from_file_location("ab", AB_PATH)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

QUERY = "q3_shipping_priority"
PLAN_KEYS = (
    "plan.broadcast_joins",
    "plan.sort_merge_joins",
    "plan.shuffled_hash_joins",
    "plan.exchanges",
)

ARMS_PY = f"""
from flink_wordcount_spark.plans import QUERIES


def same(spark, sf_dir):
    # the same rows through an extra shuffle
    return QUERIES["{QUERY}"](spark, sf_dir).repartition(3)


def fewer(spark, sf_dir):
    return QUERIES["{QUERY}"](spark, sf_dir).limit(1)


def one(spark, sf_dir):
    return spark.range(1)


def two(spark, sf_dir):
    return spark.range(2)
"""


@pytest.fixture
def arms_file(tmp_path):
    path = tmp_path / "arms.py"
    path.write_text(ARMS_PY)
    return path


def test_equal_arms_alternate_and_carry_every_field(spark, sf_dir, arms_file):
    arms = [QUERY, f"{arms_file}:same"]
    ledger = ab.run(spark, arms, sf1=False, passes=2, sf_dir=sf_dir)
    tag = Path(sf_dir).name
    assert ledger["equal"] == {tag: True}
    assert ledger["order"] == [arms, arms[::-1]]
    assert ledger["passes"] == 2 and list(ledger["results"]) == arms
    assert ledger["cpus"] == spark.sparkContext.defaultParallelism
    assert "commit" in ledger
    for arm in arms:
        res = ledger["results"][arm][tag]
        assert len(res["all"]) == len(res["steal_pct"]) == 2
        assert res["min"] == min(res["all"])
        assert 0 <= res["n_quiet"] <= 2
        if res["n_quiet"]:
            assert res["quiet_min"] >= res["min"]
        for k in PLAN_KEYS:
            assert isinstance(res[k], int)
        assert res["exec"]["exec.stages"] >= 1
        assert "warm_ratio_quiet" not in ledger["results"][arm]
    q, same = (ledger["results"][a][tag] for a in arms)
    assert q["rows"] == same["rows"] > 1
    assert same["plan.exchanges"] == q["plan.exchanges"] + 1  # the repartition
    assert same["exec"]["exec.shuffle_write_bytes"] > q["exec"]["exec.shuffle_write_bytes"]


def test_different_result_is_not_equal(spark, sf_dir, arms_file):
    ledger = ab.run(spark, [QUERY, f"{arms_file}:fewer"], sf1=False, passes=2, sf_dir=sf_dir)
    assert ledger["equal"] == {Path(sf_dir).name: False}
    assert ledger["order"] == []  # no timed pass of a wrong answer


def test_cli_exits_nonzero_on_mismatch(arms_file, tmp_path):
    out = tmp_path / "ledger.json"
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(AB_PATH), f"{arms_file}:one", f"{arms_file}:two",
         "--passes", "1", "--out", str(out)],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    assert '"equal"' in out.read_text()
