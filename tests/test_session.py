"""get_spark's defaults, checked against a stub SparkSession (no JVM)."""

import os
from types import SimpleNamespace

from trial_submission_studio_spark import session


class _StubChain:
    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, name):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            sparkContext=SimpleNamespace(setLogLevel=lambda level: None)
        )


def _built_conf(monkeypatch):
    stub = _StubChain()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=stub))
    session.get_spark()
    return stub.conf


def test_default_master_uses_the_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    cpus = len(os.sched_getaffinity(0))
    conf = _built_conf(monkeypatch)
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(cpus)
    assert conf["spark.sql.files.openCostInBytes"] == "1m"


def test_cpus_variable_sets_the_master(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    conf = _built_conf(monkeypatch)
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
