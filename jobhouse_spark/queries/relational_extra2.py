"""Second long-tail batch: RANGE frames, boolean aggregates, ORC."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from jobhouse_spark.queries.registry import dec, dec_sql, fin, fin_sql, register
from jobhouse_spark.tables import Tables, scratch_dir


@register(
    "w3b_range_frame",
    oracle=(
        "SELECT o_custkey, o_orderkey, "
        + fin_sql(
            "SUM(" + dec_sql("o_totalprice") + ") OVER ("
            "PARTITION BY o_custkey ORDER BY o_orderkey "
            "RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)"
        )
        + " AS win_total "
        "FROM orders WHERE o_custkey < 50 ORDER BY o_custkey, o_orderkey"
    ),
    tags=("window",),
)
def w3b_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3b: RANGE frame over a numeric order key — peers by value, not
    row position (contrast with W3's ROWS frame)."""
    o = Tables(spark, sf_dir).orders.filter(F.col("o_custkey") < 50)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-2, Window.currentRow)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            fin(F.sum(dec(F.col("o_totalprice"))).over(w)).alias("win_total"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "g13_boolean_aggs",
    oracle=(
        "SELECT l_returnflag, "
        "CAST(COUNT(*) FILTER (WHERE l_quantity > 45) AS BIGINT) AS n_heavy, "
        "CAST(bool_and(l_quantity > 0) AS BOOLEAN) AS all_positive, "
        "CAST(bool_or(l_discount > 0.09) AS BOOLEAN) AS any_deep_discount "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    ),
    tags=("agg",),
)
def g13_boolean_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G13: count_if / every / any boolean aggregates."""
    l = Tables(spark, sf_dir).lineitem
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.count_if(F.col("l_quantity") > 45).alias("n_heavy"),
            F.every(F.col("l_quantity") > 0).alias("all_positive"),
            F.some(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "s9_orc_roundtrip",
    oracle=(
        "SELECT COUNT(*) AS n, "
        f"{fin_sql('SUM(' + dec_sql('o_totalprice') + ')')} AS sum_price "
        "FROM orders"
    ),
    tags=("scan", "sink"),
)
def s9_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: ORC sink + scan round trip (second columnar format)."""
    o = Tables(spark, sf_dir).orders.select("o_orderkey", "o_totalprice")
    out = scratch_dir("s9")
    o.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.agg(
        F.count("*").alias("n"),
        fin(F.sum(dec(F.col("o_totalprice")))).alias("sum_price"),
    )


@register(
    "j11_join_with_expr_key",
    oracle=(
        "SELECT e.event_type, COUNT(*) AS n FROM events e "
        "JOIN nation n ON CAST(e.user_id % 25 AS INT) = n.n_nationkey "
        "GROUP BY e.event_type ORDER BY e.event_type"
    ),
    tags=("join",),
)
def j11_join_with_expr_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: equi join on a computed key expression (hash of the derived
    column — still a hash join, not BNLJ)."""
    t = Tables(spark, sf_dir)
    e = t.events.withColumn("nk", (F.col("user_id") % 25).cast("int"))
    return (
        e.join(F.broadcast(t.nation), e.nk == t.nation.n_nationkey)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )
