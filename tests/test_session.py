"""Session defaults are read from the host, not assumed."""

import os

from declarativeml_spark.session import default_cpus


def test_default_cpus_is_the_affinity_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))


def test_default_cpus_honours_the_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"
