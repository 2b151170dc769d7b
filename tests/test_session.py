"""Local session defaults: the thread count and default shuffle
partitions come from $SPARK_GRAFT_CPUS, else from the CPUs this
process may run on."""

import os

import pytest

from titan_spark.session import _local_cpus


def test_cpus_default_to_detected(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert _local_cpus() == len(os.sched_getaffinity(0))


def test_cpus_from_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert _local_cpus() == 3


@pytest.mark.parametrize("value", ["abc", "0", "-2", ""])
def test_malformed_cpus_fall_back_to_detected(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.warns(RuntimeWarning, match="not a positive integer"):
        assert _local_cpus() == len(os.sched_getaffinity(0))
