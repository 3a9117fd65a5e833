"""Session defaults derived from the host (``session.host_defaults``)."""

from __future__ import annotations

import os

import pytest

from scotustician_spark import session


def test_host_defaults_follow_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cpus, mem = session.host_defaults()
    assert cpus == len(os.sched_getaffinity(0))
    assert mem.endswith("m")
    mb = int(mem[:-1])
    assert 1024 <= mb <= 24 * 1024
    assert mb <= max(1024, session._mem_total_mb() // 2)


def test_host_defaults_memory_is_bounded(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(session, "_mem_total_mb", lambda: 15 * 1024)
    assert session.host_defaults()[1] == f"{15 * 1024 // 2}m"
    monkeypatch.setattr(session, "_mem_total_mb", lambda: 512)
    assert session.host_defaults()[1] == "1024m"
    monkeypatch.setattr(session, "_mem_total_mb", lambda: 256 * 1024)
    assert session.host_defaults()[1] == f"{24 * 1024}m"


def test_env_overrides_host_defaults(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert session.host_defaults() == (3, "2g")


@pytest.mark.parametrize("bad", ["0", "-2", "four", "", "2.5"])
def test_bad_cpu_override_is_rejected(monkeypatch, bad):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", bad)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.host_defaults()


def test_repartition_for_compute_reads_cpus_at_call_time(spark, monkeypatch):
    """The widening target is read when the operator runs, not when the
    module was imported."""
    narrow = spark.range(0, 10, 1, 1)
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert session.repartition_for_compute(narrow).rdd.getNumPartitions() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert session.repartition_for_compute(narrow).rdd.getNumPartitions() == 5
