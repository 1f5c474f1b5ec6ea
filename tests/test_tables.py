"""Table loading: a path's parquet schema is inferred once per process
and re-inferred when the files under it change; nanos events files are
read without touching the caller's session confs; the scratch dirs that
sink-and-scan queries write are gone when the process exits."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from jobhouse_spark.streaming.jobs import run_to_memory, stream_events
from jobhouse_spark.tables import Tables

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs_while(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn`` starts, read from its own job group."""
    sc = spark.sparkContext
    group = f"jh-tables-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "tables test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_starts_no_job(spark, sf_dir):
    first = Tables(spark, sf_dir)
    first_dtypes = {n: first.load(n).dtypes for n in ("orders", "events")}
    again = {}

    def read_again():
        t = Tables(spark, sf_dir)
        again.update({n: t.load(n) for n in ("orders", "events")})

    assert _jobs_while(spark, read_again) == []
    assert {n: df.dtypes for n, df in again.items()} == first_dtypes
    assert dict(again["events"].dtypes)["ts"].startswith("timestamp")
    assert again["orders"].count() == first.orders.count()


def test_rewritten_file_yields_new_schema(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.range(3).write.parquet(path)
    assert Tables(spark, str(tmp_path)).region.columns == ["id"]
    assert _jobs_while(spark, lambda: Tables(spark, str(tmp_path)).region) == []
    spark.range(3).selectExpr("id", "id * 2 AS twice").write.mode("overwrite").parquet(path)
    region = Tables(spark, str(tmp_path)).region
    assert region.columns == ["id", "twice"]
    assert sorted(r.twice for r in region.collect()) == [0, 2, 4]


def test_nanos_events_read_without_session_conf(spark, tmp_path):
    """TIMESTAMP(NANOS) events come back truncated to microseconds, as
    DuckDB reads them, from both the batch and the stream reader, and
    neither sets ``nanosAsLong`` on the caller's session."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf)
    ns = [1_700_000_000_000_000_000, 1_700_000_000_123_456_789, 1_700_003_600_000_001_000]
    pq.write_table(
        pa.table({
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array(np.array(ns, dtype="datetime64[ns]")),
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": ["view", "click", "view"],
            "value": [1.0, 2.0, 3.0],
            "props": ["{}", "{}", "{}"],
        }),
        str(tmp_path / "events.parquet"),
        version="2.6",
    )
    assert pq.read_schema(str(tmp_path / "events.parquet")).field("ts").type.unit == "ns"
    want = [v // 1000 for v in ns]

    def micros(df):
        return [r.us for r in df.selectExpr("unix_micros(ts) AS us").orderBy("us").collect()]

    assert micros(Tables(spark, str(tmp_path)).events) == want
    assert micros(run_to_memory(stream_events(spark, str(tmp_path)))) == want
    assert spark.conf.get(conf, None) is None


# every registry entry that writes scratch files, and one events stream
_SCRATCH_RUN = """
import re, sys
from jobhouse_spark.queries import all_queries
from jobhouse_spark.session import get_spark
from jobhouse_spark.streaming.jobs import run_to_memory, stream_events
spark, sf = get_spark(app_name="jh_scratch_test"), sys.argv[1]
pat = re.compile(r"(s([2-6]|9|1[0-2]|1[6-9]|20)|t14|a8|l2e)_")
qs = [q for n, q in all_queries().items() if pat.match(n)]
assert len(qs) == 17, [q.name for q in qs]
for q in qs:
    q.fn(spark, sf).collect()
run_to_memory(stream_events(spark, sf)).collect()
"""


def test_scratch_dirs_removed_at_exit(sf_dir, tmp_path):
    """A process that runs the sink-and-scan queries and a stream read
    leaves no ``jh_*`` dir in its temp dir once it exits."""
    env = {**os.environ, "TMPDIR": str(tmp_path), "PYTHONPATH": REPO}
    subprocess.run([sys.executable, "-c", _SCRATCH_RUN, sf_dir], env=env,
                   cwd=tmp_path, check=True, timeout=300)
    assert sorted(p.name for p in tmp_path.iterdir() if p.name.startswith("jh_")) == []
