"""Seeded query-grammar differential fuzzing (tools/query_fuzz.py).

The data fuzzer (test_oracle_fuzz) varies the DATA under fixed queries;
this varies the QUERIES: seeded random SQL from the deterministic
Spark∩DuckDB grammar, one text run on both engines, compared with the
driver's canonical hash. The seed block here is a fixed regression net;
tools/query_fuzz.py runs the wide campaigns (results in SCALE.md).
"""

from __future__ import annotations

import pytest

from jobhouse_spark.tables import Tables
from tools.query_fuzz import TABLES, Gen, build_pools, run_campaign

SEED_BLOCKS = [(1, 15), (16, 30), (31, 45)]


@pytest.fixture(scope="module")
def fuzz_env(spark, sf_dir, duck):
    Tables(spark, sf_dir).register_views(tuple(TABLES))
    return build_pools(duck)


@pytest.mark.parametrize(("lo", "hi"), SEED_BLOCKS)
def test_fuzzed_queries_agree(spark, duck, fuzz_env, lo, hi):
    failures = run_campaign(
        spark, duck, fuzz_env, range(lo, hi + 1), verbose=False
    )
    assert not failures, "\n".join(
        f"seed={s}: {why}\n  {sql}" for s, sql, why in failures
    )


def test_generator_is_deterministic(fuzz_env):
    assert [Gen(s, fuzz_env).query() for s in (1, 2, 3)] == [
        Gen(s, fuzz_env).query() for s in (1, 2, 3)
    ]


def test_harness_detects_divergence(spark, duck, fuzz_env):
    """Negative control: a 0-FAIL campaign is only evidence if the
    harness CAN fail. Run one engine on a mutated query (different
    filter constant) and assert the compare reports it."""
    from tests.oracle import compare_frames

    sql = "SELECT COUNT(*) AS c0 FROM orders WHERE o_custkey < 50"
    mutated = sql.replace("< 50", "< 51")
    spark_pdf = spark.sql(sql).toPandas()
    duck_pdf = duck.execute(mutated).fetchdf()
    assert compare_frames(spark_pdf, duck_pdf), (
        "harness failed to flag a mutated query"
    )
