"""Session construction: the local thread count is validated where the
environment is read, before any Spark builder call."""

import pytest

from precios_nexo_sperant_etl_spark import session


class _NoBuilder:
    @property
    def builder(self):
        raise AssertionError("a Spark session was started")


@pytest.mark.parametrize("raw", ["", "0", "-2", "four", "2.5"])
def test_bad_cpu_env_fails_before_session(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    monkeypatch.setattr(session, "SparkSession", _NoBuilder())
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark()


def test_cpu_default_is_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session.local_cpus() == (session.os.cpu_count() or 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.local_cpus() == 3
    assert session.local_cpus(cpus=2) == 2
