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

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

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

# session confs that change what parquet schema inference returns
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)

# path -> (fingerprint, inferred schema); one entry per path read
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}


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
            if self.sf_dir.startswith("table:"):
                # catalog-backed resolution: sf_dir "table:<prefix>"
                # resolves each table as spark.table(f"{prefix}{name}")
                # — temp views or managed/external catalog tables. This
                # is how a cluster deployment serves a BUCKETED layout
                # (bucket metadata lives in the catalog, not the files),
                # so every registry query can run unchanged against
                # bucketed tables (tools/bucket_bench.py).
                df = self.spark.table(f"{self.sf_dir[6:]}{name}")
                if name == "events":
                    # a catalog-registered RAW events table may carry ts
                    # as nanos-read-as-bigint (the same reader quirk
                    # _load_events handles on the path branch) — apply
                    # the identical µs coercion so "every registry query
                    # runs unchanged" holds for events too.
                    # ASSUMPTION (shared with _load_events): a bigint ts
                    # is epoch-NANOS. A table registered with epoch-µs
                    # or -ms bigints would be silently shifted to ~1970
                    # — if you register such a table, convert ts to a
                    # real timestamp at registration time instead of
                    # relying on this branch.
                    from pyspark.sql import functions as F  # noqa: PLC0415

                    if dict(df.dtypes).get("ts") == "bigint":
                        df = df.withColumn(
                            "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
                        )
            else:
                path = os.path.join(self.sf_dir, f"{name}.parquet")
                if name == "events":
                    df = self._load_events(path)
                else:
                    df = _read_parquet(self.spark, path)
            self._cache[name] = df
        return self._cache[name]

    def _load_events(self, path: str) -> DataFrame:
        """events.parquet stores ts as TIMESTAMP(NANOS), which the Spark
        parquet reader rejects. Read nanos as long and convert to a
        microsecond timestamp — the same truncation DuckDB applies when
        it coerces ns → µs, so oracle comparisons agree.

        The bigint-means-NANOS assumption is safe here because the only
        bigint-ts producers on the path branch are the driver's
        nanos-typed events.parquet and make_scale_data.py copies of it;
        the DIV 1000 would misconvert an epoch-µs/-ms bigint (symptom:
        every event lands near 1970)."""
        from pyspark.sql import functions as F  # noqa: PLC0415

        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(self.spark, path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        return self.load(name)

    def register_views(self, names: tuple[str, ...] = TABLE_NAMES) -> None:
        """Register temp views so SQL-API queries can refer to tables by name."""
        for name in names:
            self.load(name).createOrReplaceTempView(name)
