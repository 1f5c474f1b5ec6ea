"""Loaders for the driver's synthetic parquet tables (TESTDATA.md).

``Tables`` lazily reads each table from an sf dir and caches the
DataFrame handle (not the data). At 100 TB these would be catalog
tables; column pruning + predicate pushdown to the parquet scan is
preserved either way because we return the raw reader output and let
each query select/filter declaratively.

A path read infers its schema once per process: ``_read_parquet``
keeps the inferred ``StructType`` per path, keyed by the size and
mtime of every local file under it and by the parquet inference confs,
and later reads pass it to ``spark.read.schema``. Without a schema
every read starts a one-task inference job, and registry queries build
a fresh ``Tables`` per call.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scratch_dir(tag: str) -> str:
    """A fresh ``jh_<tag>_*`` temp dir, removed when the process exits.
    The one way engine code makes scratch space: sink-and-scan queries
    return lazy frames over what they wrote, so the files must outlive
    the call, but not the process."""
    d = tempfile.mkdtemp(prefix=f"jh_{tag}_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


# session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> (fingerprint, inferred schema); one entry per path read
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def _local_files(path: str) -> tuple:
    """(name, size, st_mtime_ns) of every local file under ``path``;
    empty when nothing under it is on the local file system."""
    paths = [path] if os.path.isfile(path) else [
        os.path.join(root, f) for root, _dirs, files in os.walk(path) for f in files]
    try:
        return tuple(sorted((p, st.st_size, st.st_mtime_ns)
                            for p, st in ((p, os.stat(p)) for p in paths)))
    except OSError:  # a file went away while we listed
        return ()


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the schema inferred by an
    earlier read of the same files under the same confs."""
    files = _local_files(path)
    if not files:
        return spark.read.parquet(path)
    key = (files, tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS))
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == key:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[path] = (key, df.schema)
    return df


def _events_ts_is_nanos(sf_dir: str) -> bool:
    """Whether ``sf_dir``'s events parquet stores ``ts`` as an INT64
    TIMESTAMP(NANOS), read from one file's footer. The parquet column,
    not its arrow type: arrow also reads Spark's INT96 timestamps as
    ``timestamp[ns]``, and Spark reads those as timestamps."""
    import pyarrow.parquet as pa_pq  # noqa: PLC0415

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):
        # multi-file layout (tools/make_scale_data.py): probe any part
        # file — the generator writes a uniform schema
        parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
        if not parts:
            raise FileNotFoundError(
                f"no parquet part files in {path} — truncated corpus "
                f"(interrupted make_scale_data.py run?)"
            )
        path = os.path.join(path, parts[0])
    schema = pa_pq.read_metadata(path).schema
    ts = schema.column(schema.names.index("ts"))
    return ts.physical_type == "INT64" and "timeUnit=nanoseconds" in str(ts.logical_type)


def events_schema(sf_dir: str) -> T.StructType:
    """Explicit schema of ``sf_dir``'s events parquet. ``ts`` is bigint
    where the files store TIMESTAMP(NANOS): Spark cannot read those as
    a timestamp, but reads them as a long under an explicit schema
    without any session conf (inference alone raises
    ``PARQUET_TYPE_ILLEGAL``). Pass the result through ``ts_from_nanos``."""
    ts = T.LongType() if _events_ts_is_nanos(sf_dir) else T.TimestampType()
    return T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("ts", ts, True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), True),
            T.StructField("value", T.DoubleType(), True),
            T.StructField("props", T.StringType(), True),
        ]
    )


def ts_from_nanos(df: DataFrame) -> DataFrame:
    """A bigint (epoch-nanos) ``ts`` as a microsecond timestamp — the
    same truncation DuckDB applies when it coerces ns → µs, so oracle
    comparisons agree. Any other ``ts`` passes through unchanged.

    ASSUMPTION: a bigint ts is epoch-NANOS. The only bigint-ts
    producers are nanos-typed events files read under
    ``events_schema`` (and ``make_scale_data.py`` copies of them); the
    DIV 1000 would misconvert an epoch-µs/-ms bigint (symptom: every
    event lands near 1970)."""
    if dict(df.dtypes).get("ts") != "bigint":
        return df
    return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))


class Tables:
    """Lazy per-table DataFrame accessor: ``Tables(spark, sf_dir).lineitem``."""

    def __init__(self, spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def load(self, name: str) -> DataFrame:
        if name not in TABLE_NAMES:
            raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
        if name not in self._cache:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            if name == "events":
                df = self._load_events(path)
            else:
                df = _read_parquet(self.spark, path)
            self._cache[name] = df
        return self._cache[name]

    def _load_events(self, path: str) -> DataFrame:
        """events.parquet with ``ts`` as a microsecond timestamp. Files
        that store ``ts`` as TIMESTAMP(NANOS) are read under
        ``events_schema`` (``ts`` as a long, no session conf set) and
        converted by ``ts_from_nanos``; micros files are a plain
        ``_read_parquet``."""
        schema = events_schema(self.sf_dir)
        if isinstance(schema["ts"].dataType, T.LongType):
            df = self.spark.read.schema(schema).parquet(path)
        else:
            df = _read_parquet(self.spark, path)
        return ts_from_nanos(df)

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return self.load(name)

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        """Register temp views so SQL-API queries can refer to tables by name."""
        for name in names:
            self.load(name).createOrReplaceTempView(name)
