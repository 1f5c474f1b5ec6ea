"""Session factory settings that are read from the environment."""

from __future__ import annotations

import os

from jobhouse_spark.session import local_cores


def test_local_cores_reads_env(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cores() == "3"


def test_local_cores_falls_back_to_host_cores(monkeypatch):
    """Unset (or empty), the default is this host's core count — not a
    fixed 32 that oversubscribes small hosts."""
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cores() == str(os.cpu_count())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "")
    assert local_cores() == str(os.cpu_count())
