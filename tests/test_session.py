"""Session start-up: the one-time warmup runs clean on a real session, and a
warmup failure is logged rather than swallowed."""

import logging

from maxx_spark.session import _warm_session

LOGGER = "maxx_spark.session"


def test_warm_session_logs_nothing(spark, caplog):
    with caplog.at_level(logging.WARNING, logger=LOGGER):
        _warm_session(spark, 4)
    assert [r for r in caplog.records if r.name == LOGGER] == []


def test_warm_session_failure_is_logged(caplog):
    class BrokenSession:
        def range(self, *args, **kwargs):
            raise RuntimeError("no cluster")

    with caplog.at_level(logging.WARNING, logger=LOGGER):
        _warm_session(BrokenSession(), 4)
    records = [r for r in caplog.records if r.name == LOGGER]
    assert len(records) == 1
    assert records[0].levelno == logging.WARNING
    assert records[0].exc_info and records[0].exc_info[0] is RuntimeError
