"""Unit pins for ``pac_spark.loops``: the conf scope and the loop
partition rule, on a fake session so no JVM is needed."""

from __future__ import annotations

import pytest

from pac_spark import loops

_MISSING = object()


class FakeConf:
    """Dict-backed RuntimeConfig: ``get(key, None)`` is None for a key
    that was never set, like Spark's."""

    def __init__(self, **values):
        self.values = dict(values)

    def get(self, key, default=_MISSING):
        if key in self.values:
            return self.values[key]
        if default is _MISSING:
            raise KeyError(key)
        return default

    def set(self, key, value):
        self.values[key] = value

    def unset(self, key):
        self.values.pop(key, None)


class FakeSpark:
    def __init__(self, **values):
        self.conf = FakeConf(**values)


def _session(parts):
    return FakeSpark(**{loops.SHUFFLE_PARTITIONS: parts})


def test_scoped_conf_restores_prior_value():
    spark = FakeSpark(k="16")
    with loops.scoped_conf(spark, "k", 4):
        assert spark.conf.values["k"] == "4"
    assert spark.conf.values == {"k": "16"}


def test_scoped_conf_unsets_a_key_that_was_unset():
    spark = FakeSpark()
    with loops.scoped_conf(spark, "k", "64m"):
        assert spark.conf.values["k"] == "64m"
    assert spark.conf.values == {}


def test_scoped_conf_restores_when_the_body_raises():
    spark = FakeSpark(k="16")
    with pytest.raises(RuntimeError):
        with loops.scoped_conf(spark, "k", 4):
            raise RuntimeError("loop failed")
    assert spark.conf.values == {"k": "16"}


def test_scoped_conf_is_a_noop_for_none():
    spark = FakeSpark(k="16")
    with loops.scoped_conf(spark, "k", None):
        assert spark.conf.values == {"k": "16"}
    assert spark.conf.values == {"k": "16"}
    empty = FakeSpark()
    with loops.scoped_conf(empty, "k", None):
        pass
    assert empty.conf.values == {}


def test_non_integer_session_conf_skips_the_override():
    spark = _session("auto")
    assert loops.session_shuffle_parts(spark) is None
    assert loops.loop_parts(spark, nodes=10**9, edges=10**12) is None
    with loops.scoped_conf(spark, loops.SHUFFLE_PARTITIONS, loops.loop_parts(spark)):
        pass
    assert spark.conf.values == {loops.SHUFFLE_PARTITIONS: "auto"}


def test_loop_parts_floor_scaling_and_session_cap():
    spark = _session("200")
    assert loops.session_shuffle_parts(spark) == 200
    # floor of 4 for small and empty graphs
    assert loops.loop_parts(spark) == 4
    assert loops.loop_parts(spark, nodes=16_000, edges=90_000) == 4
    # ~250k nodes per task, rounded up
    assert loops.loop_parts(spark, nodes=1_250_001) == 6
    # ~1M edge rows per task, rounded up; the larger demand wins
    assert loops.loop_parts(spark, nodes=250_000, edges=7_000_000) == 7
    assert loops.loop_parts(spark, nodes=2_500_000, edges=7_000_000) == 10
    # capped at the session value
    assert loops.loop_parts(spark, edges=10**12) == 200
    assert loops.loop_parts(_session("2"), nodes=10**9) == 2


def test_fits_broadcast_is_rows_times_row_bytes_against_threshold():
    key = "spark.sql.autoBroadcastJoinThreshold"
    spark = FakeSpark(**{key: "4800"})
    assert loops.fits_broadcast(spark, 100)
    assert not loops.fits_broadcast(spark, 101)
    assert not loops.fits_broadcast(FakeSpark(**{key: "-1"}), 1)
    assert loops.fits_broadcast(FakeSpark(**{key: "-1"}), 0)
