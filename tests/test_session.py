"""Session factory settings: those read from the environment, and the
driver-side DataFrame debugging the factory turns off."""

from __future__ import annotations

import os

import pyspark.errors.utils as errors_utils
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

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


def test_column_calls_capture_no_call_site(spark, monkeypatch):
    """With DataFrame debugging off, building a Column expression never
    walks the Python stack (nor imports IPython) and makes no origin
    round trips. PySpark caches the flag per process, so the cache is
    reset here: the fixture session's conf decides, not test order."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    calls = []
    capture = errors_utils._capture_call_site
    monkeypatch.setattr(errors_utils, "_capture_call_site",
                        lambda depth: calls.append(depth) or capture(depth))
    monkeypatch.setattr(errors_utils, "_enable_debugging_cache", None)
    expr = F.lit(0)
    for i in range(50):
        expr = expr + F.col("id") * i
    assert spark.range(3).select(expr.alias("x")).collect()[2].x == 2 * sum(range(50))
    assert calls == []


def test_ansi_error_keeps_its_class_without_call_sites(spark):
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        spark.range(1).select((F.col("id") / 0).alias("x")).collect()
