"""Session factory contract: ``$SPARK_GRAFT_CPUS`` is read when a
session is configured, not when the package is imported."""

from __future__ import annotations

from mysql_cdc_redis_spark import session


class _Conf:
    def __init__(self, values: dict[str, str]):
        self.values = values

    def get(self, key: str, default=None):
        return self.values.get(key, default)

    def set(self, key: str, value: str) -> None:
        self.values[key] = value


class _StubSession:
    def __init__(self, values: dict[str, str]):
        self.conf = _Conf(values)


def test_ensure_session_confs_reads_cpus_at_call_time(monkeypatch):
    # the package is already imported; a later env change must still win
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    stub = _StubSession({"spark.sql.shuffle.partitions": "200"})
    session.ensure_session_confs(stub)
    assert stub.conf.values["spark.sql.shuffle.partitions"] == "3"

    # an explicit non-default choice is left alone
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    session.ensure_session_confs(stub)
    assert stub.conf.values["spark.sql.shuffle.partitions"] == "3"


def test_ensure_session_confs_persists_int64_timestamps():
    # a foreign session still on Spark's INT96 default writes INT64 micros
    stub = _StubSession({"spark.sql.parquet.outputTimestampType": "INT96"})
    session.ensure_session_confs(stub)
    assert stub.conf.values["spark.sql.parquet.outputTimestampType"] == "TIMESTAMP_MICROS"
