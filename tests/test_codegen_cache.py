"""The compiled-class cache holds a tpch pass: a warm pass compiles nothing.

Spark's default ``spark.sql.codegen.cache.maxEntries`` (100) is below the
~115 generated classes of one pass of perfbench's tpch mix, so the cache
evicted in a cycle and every warm pass recompiled dozens of classes with
Janino.  ``get_spark`` sizes the cache to the engine's working set.
"""

from __future__ import annotations

import sys
from pathlib import Path

from flink_wordcount_spark.plans import QUERIES
from flink_wordcount_spark.session import codegen_compilations

_PERFBENCH = str(Path(__file__).resolve().parent.parent / "perfbench")
sys.path.insert(0, _PERFBENCH)  # perfbench's modules import their siblings bare
try:
    from batch import MIX
finally:
    sys.path.remove(_PERFBENCH)


def _pass(spark, sf_dir) -> int:
    before = codegen_compilations(spark)
    for name in MIX:
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return codegen_compilations(spark) - before


def test_warm_tpch_pass_compiles_nothing(spark, sf_dir):
    _pass(spark, sf_dir)
    assert _pass(spark, sf_dir) == 0
