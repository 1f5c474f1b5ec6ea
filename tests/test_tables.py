"""Table loading: a path's parquet schema is inferred once per process
and re-inferred when the files under it change."""

from __future__ import annotations

import uuid

from jobhouse_spark.tables import Tables


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
    # the first reads infer; events first, because it sets the
    # nanosAsLong conf that is part of every path's key
    first = Tables(spark, sf_dir)
    first_dtypes = {n: first.load(n).dtypes for n in ("events", "orders")}
    again = {}

    def read_again():
        t = Tables(spark, sf_dir)
        again.update({n: t.load(n) for n in ("events", "orders")})

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
