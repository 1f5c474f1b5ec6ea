"""Storage-metadata store (reference's Postgres metadata DB,
docker-compose.yml:231-246 + commented load dags/extract_raw_jobs.py:204-249,
and the dedup feedback loop mermaid:33).

Default backend is a parquet table (no database service in this
container); the JDBC path (S6) is the same interface behind an
import-try so a real Postgres plugs in with one option dict.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from jobhouse_spark.operators.dedup import dedup_anti_join
from jobhouse_spark.sources.bronze import STORAGE_METADATA_SCHEMA


class MetadataStore:
    """Append-only store of StorageMetadata rows + the dedup check."""

    def __init__(self, spark: SparkSession, path: str, jdbc_options: dict | None = None):
        self.spark = spark
        self.path = path
        self.jdbc_options = jdbc_options

    def append(self, metadata: DataFrame) -> None:
        if self.jdbc_options is not None:
            (
                metadata.write.format("jdbc")
                .options(**self.jdbc_options)
                .mode("append")
                .save()
            )
            return
        metadata.write.mode("append").parquet(self.path)

    def _exists(self) -> bool:
        """Hadoop-FileSystem existence check — works for any scheme the
        session can reach (file://, s3a://, hdfs://), unlike os.path."""
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return bool(fs.exists(hpath))

    def read(self) -> DataFrame:
        if self.jdbc_options is not None:
            return self.spark.read.format("jdbc").options(**self.jdbc_options).load()
        # Only a MISSING store means "first run" — checked explicitly, not
        # by sniffing error text. A corrupt/unreadable store must raise:
        # silently returning empty would restart dedup history and
        # re-ingest everything.
        if not self._exists():
            return self.spark.createDataFrame([], STORAGE_METADATA_SCHEMA)
        return self.spark.read.parquet(self.path)

    def ingested_batch_ids(self) -> DataFrame:
        return self.read().select("batch_id").distinct()

    def filter_new_postings(self, incoming: DataFrame) -> DataFrame:
        """A15 dedup feedback: drop incoming rows whose ``s3_key`` is
        already recorded in the store.

        The reference's metadata rows carry no posting ids, only s3
        keys, so ``s3_key`` is the one dedup key. ``incoming`` without
        that column raises ``ValueError``: passing it through unfiltered
        would re-ingest the whole history.
        """
        if "s3_key" not in incoming.columns:
            raise ValueError(
                "filter_new_postings needs an 's3_key' column in incoming; "
                f"got {incoming.columns}")
        seen = self.read().select("s3_key").distinct()
        return dedup_anti_join(incoming, seen, "s3_key")
