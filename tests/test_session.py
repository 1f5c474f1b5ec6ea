"""Session factory settings: those read from the environment, the
driver-side DataFrame debugging the factory turns off, and the tools
that must build their sessions through it (and that README lists)."""

from __future__ import annotations

import glob
import importlib
import os
import re

import pyspark.errors.utils as errors_utils
import pytest
from pyspark.errors import ArithmeticException
from pyspark.sql import functions as F

from jobhouse_spark.session import driver_memory, local_cores


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


def test_driver_memory_fits_the_host(monkeypatch):
    """Unset (or empty), the heap ceiling is half of this host's RAM, at
    most 48g: never a fixed 48g that outgrows a small host."""
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert driver_memory() == "3g"
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "")
    empty = driver_memory()
    monkeypatch.delenv("SPARK_DRIVER_MEMORY")
    assert driver_memory() == empty
    assert 0 < int(empty.removesuffix("m")) <= min(48 * 1024, ram_mb // 2)


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


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tools_build_sessions_through_get_spark():
    """Every tool but ``driver_sim.py`` (which stands in for the driver's
    own vanilla session) gets its session, cores and heap from
    ``get_spark``: no hand-built builder, no private heap plumbing."""
    tools = os.path.join(REPO, "tools")
    forks = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(tools, "*.py"))
        if os.path.basename(p) != "driver_sim.py"
        and any(m in open(p).read() for m in ("SparkSession.builder", "PYSPARK_SUBMIT_ARGS"))
    )
    assert forks == []


def test_tools_match_readme_and_import():
    """README's tools list names exactly the tools on disk, and each tool
    module imports (no Spark, no ``main()``): a tool nothing runs
    cannot rot unnoticed."""
    on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(REPO, "tools", "*.py"))}
    with open(os.path.join(REPO, "README.md")) as f:
        listed = set(re.findall(r"^tools/(\S+)", f.read(), flags=re.M))
    assert {n for n in listed if not os.path.exists(os.path.join(REPO, "tools", n))} == set()
    assert on_disk - listed == set()
    for name in sorted(on_disk):
        importlib.import_module(f"tools.{name.removesuffix('.py')}")
