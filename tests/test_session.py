"""Engine session: the confs every query relies on are live on the session
``build_session`` returns."""

from __future__ import annotations

from kafkastreamsjavachallenge_spark.session import _RUNTIME_CONFS


def test_session_reads_every_runtime_conf(spark):
    """The builder starts the session with every runtime conf (so they hold
    from the first query on), and the session reads each of them back."""
    launched = spark.sparkContext.getConf()
    assert {k: launched.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
    assert {k: spark.conf.get(k) for k in _RUNTIME_CONFS} == _RUNTIME_CONFS
