"""``session.scoped_confs``: a conf override lasts exactly as long as its
``with`` block, whatever the block does, and an empty override touches
nothing."""

from __future__ import annotations

import pytest

from flink_wordcount_spark.session import scoped_confs

#: set on every session by get_spark
SET_KEY = "spark.sql.shuffle.partitions"
#: set on no session
UNSET_KEY = "spark.graft.test.scopedConf"


def test_restores_a_key_that_had_a_value(spark):
    before = spark.conf.get(SET_KEY)
    with scoped_confs(spark, {SET_KEY: "3"}):
        assert spark.conf.get(SET_KEY) == "3"
    assert spark.conf.get(SET_KEY) == before


def test_unsets_a_key_that_had_no_value(spark):
    assert spark.conf.get(UNSET_KEY, None) is None
    with scoped_confs(spark, {UNSET_KEY: "x"}):
        assert spark.conf.get(UNSET_KEY) == "x"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_none_unsets_for_the_block_only(spark):
    with scoped_confs(spark, {UNSET_KEY: "outer"}):
        with scoped_confs(spark, {UNSET_KEY: None}):
            assert spark.conf.get(UNSET_KEY, None) is None
        assert spark.conf.get(UNSET_KEY) == "outer"
    assert spark.conf.get(UNSET_KEY, None) is None


def test_restores_after_an_exception(spark):
    before = spark.conf.get(SET_KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_confs(spark, {SET_KEY: "3", UNSET_KEY: "x"}):
            raise RuntimeError("boom")
    assert spark.conf.get(SET_KEY) == before
    assert spark.conf.get(UNSET_KEY, None) is None


class _UntouchableSession:
    @property
    def conf(self):
        raise AssertionError("an empty override read the session conf")


def test_empty_override_makes_no_conf_call():
    with scoped_confs(_UntouchableSession(), {}):
        pass
