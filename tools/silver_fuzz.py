"""Grammar-v8 differential fuzzing over the SILVER domain tables
(round 12, VERDICT r11 task 5).

Every prior fuzz campaign (v1–v7, ~6,600 seeds) runs on the
TPC-H-shaped fixtures; this one runs on the engine's OWN output — the
silver postings table materialized by the bronze->silver pipeline
(replay fixture v4 -> envelope -> partitioned bronze ->
standardize_postings, jobhouse_gold._silver_v4) plus two derived dims:

  postings   — 18 queryable columns: NULLABLE salary longs (the
               completeness surface jh10 scores), dirty employer/area
               strings, pipeline-parsed timestamps, pub_* date parts
  areas      — per-area rollup (unique string PK)
  employers  — per-employer rollup (unique string PK)

Both engines read the SAME parquet (Spark writes it once; DuckDB views
it via read_parquet), so the differential isolates QUERY semantics over
pipeline-produced data — standardization-dependent divergence (NULL
salary arithmetic, string-PK window orders, timestamp grouping) that
the TPC-H substrate cannot reach. The bronze->silver plumbing itself is
differentially checked by jh9/jh10's raw-JSON oracles.

Since grammar v9 (round 13, VERDICT r12 task 1) the campaign runs the
FULL shape list: the v6/v7 JSON / HOF / interval shapes are spec-driven
and point here at the pipeline's own semi-structured surface —
postings.raw_json is the bronze envelope's raw_content (the exact JSON
silver's from_json parses, with JSON-null salaries), postings.req_lens
a pipeline-derived array<int>. get_json_object path semantics over
engine JSON, HOF null handling, and window/set-op composition over
extracted leaves now get dialect-differential coverage on the silver
universe.

`--enlarge=K` appends K replicated copies (posting_id suffixed,
published_at shifted +i minutes, salary nudged +i) BEFORE the write,
so both engines still read identical bytes — the 30x-style block that
catches cardinality-dependent divergence (spill paths, hash collisions).

Usage:
  python tools/silver_fuzz.py [--n=500] [--seed0=1] [--enlarge=0]
                              [--json=PATH]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 6g).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools import query_fuzz as qf  # noqa: E402

SILVER_TABLES = {
    "postings": {
        "posting_id": "str", "source": "str", "extracted_at": "ts",
        "search_text": "str", "title": "str", "area_name": "str",
        "salary_from": "int", "salary_to": "int", "salary_currency": "str",
        "employer_name": "str", "requirement": "str", "schedule": "str",
        "experience": "str", "employment": "str", "published_at": "ts",
        "salary_mid": "float", "pub_year": "int", "pub_month": "int",
        "pub_day": "int",
        # v9: the PIPELINE-PRODUCED semi-structured surface. raw_json
        # is the bronze envelope's raw_content (the exact JSON the
        # silver from_json parses — salary/employer/area as nested
        # objects, JSON null salaries); req_lens is the requirement's
        # token-length vector (array<int>, never empty by construction
        # of split — so the aggregate([])=0 vs list_sum([])=NULL
        # dialect edge cannot fire; NULL requirement -> NULL array,
        # consistent in both engines).
        "raw_json": "json", "req_lens": "arr",
    },
    "areas": {
        "area_name": "str", "n_postings": "int", "n_employers": "int",
        "avg_salary_mid": "float",
    },
    "employers": {
        "employer_name": "str", "n_postings": "int", "n_areas": "int",
        "first_published": "ts",
    },
}

SILVER_PK = {
    "postings": ("posting_id",),
    "areas": ("area_name",),
    "employers": ("employer_name",),
}

SILVER_FKS = [
    ("postings", "area_name", "areas", "area_name"),
    ("postings", "employer_name", "employers", "employer_name"),
]

# v9 shape bindings over the pipeline surface. Numeric JSON leaves only
# (the shapes SUM/BETWEEN the extracted value); salary leaves are JSON
# null on ~1/5 of rows — NULL extraction, NULL grouping and NULL-skip
# aggregation are exactly the dialect edges worth fuzzing. jk_rng spans
# the RUR salary band so BETWEEN predicates have real selectivity.
SILVER_JSON_SPEC = {
    "table": "postings",
    "jk": [
        ("CAST(get_json_object(postings.raw_json, '$.salary.from') AS INT)",
         "CAST(json_extract_string(postings.raw_json, '$.salary.from') "
         "AS INTEGER)"),
        ("CAST(get_json_object(postings.raw_json, '$.salary.to') AS INT)",
         "CAST(json_extract_string(postings.raw_json, '$.salary.to') "
         "AS INTEGER)"),
    ],
    "pk": "postings.posting_id",   # unique; string order is ASCII-stable
    "part_str": "postings.employer_name",
    "part_str_key": ("postings", "employer_name"),
    "num": "postings.salary_to",
    "ts": "postings.published_at",
    "jk_rng": (30000, 250000),
    "jk_width": (20000, 200000),
}

SILVER_ARR_SPEC = {
    "table": "postings",
    "mv": ("transform(postings.req_lens, x -> CAST(x AS BIGINT))",
           "list_transform(postings.req_lens, x -> CAST(x AS BIGINT))"),
    "pk": "postings.posting_id",
    "pk_mod": "postings.salary_from",  # nullable: NULL%k groups NULL, both
    "label": "postings.pub_day",
    "k_rng": (0, 12),                  # token lengths are 1..~15
    # req_lens length varies by row -> OOB-safe accessor pair
    "idx_rng": (1, 4),
    "elem_fn": ("try_element_at({MV}, {I})", "list_extract({MV}, {I})"),
}

SILVER_IVAL_SPEC = {
    "table": "postings",
    "ts": "postings.published_at",
    "ts_key": ("postings", "published_at"),
    "num": "postings.salary_from",
}


def materialize(spark, root: str, enlarge: int) -> None:
    """Write postings/areas/employers parquet under ``root``."""
    from pyspark.sql import functions as F

    import json as _json

    from jobhouse_spark.queries.jobhouse_gold import (
        AT4,
        FIXTURE4,
        _silver_v4,
    )
    from jobhouse_spark.sources.bronze import envelope_projection
    from jobhouse_spark.sources.rest import (
        PaginatedFetcher,
        items_to_dataframe,
        replay_client,
    )

    silver = _silver_v4(spark).drop("salary_gross")  # bool: out of model
    # the REAL raw_content bytes the silver from_json parsed — replayed
    # through the same envelope path and joined back by posting_id, so
    # the json shapes extract from pipeline JSON, not a re-serialization
    with open(FIXTURE4) as f:
        pages = _json.load(f)
    items = PaginatedFetcher(client=replay_client(pages)).fetch_all(
        "data engineer"
    )
    raw = envelope_projection(
        items_to_dataframe(spark, items), "data engineer", extracted_at=AT4
    ).select("posting_id", F.col("raw_content").alias("raw_json"))
    silver = silver.join(raw, "posting_id").withColumn(
        "req_lens",
        F.transform(F.split(F.col("requirement"), " "), lambda x: F.length(x)),
    )
    if enlarge:
        copies = [silver]
        for i in range(1, enlarge + 1):
            copies.append(
                silver.withColumn(
                    "posting_id", F.concat("posting_id", F.lit(f"_r{i}"))
                )
                .withColumn(
                    "published_at",
                    F.col("published_at") + F.expr(f"INTERVAL {i} MINUTES"),
                )
                .withColumn("salary_from", F.col("salary_from") + F.lit(i))
                .withColumn("salary_mid", F.col("salary_mid") + F.lit(float(i)))
            )
        silver = copies[0]
        for c in copies[1:]:
            silver = silver.unionByName(c)
    silver.write.mode("overwrite").parquet(f"{root}/postings")
    p = spark.read.parquet(f"{root}/postings")
    (
        p.groupBy("area_name").agg(
            F.count("*").alias("n_postings"),
            F.countDistinct("employer_name").alias("n_employers"),
            F.avg("salary_mid").alias("avg_salary_mid"),
        )
        .write.mode("overwrite").parquet(f"{root}/areas")
    )
    (
        p.groupBy("employer_name").agg(
            F.count("*").alias("n_postings"),
            F.countDistinct("area_name").alias("n_areas"),
            F.min("published_at").alias("first_published"),
        )
        .write.mode("overwrite").parquet(f"{root}/employers")
    )


def main() -> None:
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    n = int(opt.get("n", "500"))
    seed0 = int(opt.get("seed0", "1"))
    enlarge = int(opt.get("enlarge", "0"))
    # --shapes=v9 restricts to the six spec-driven JSON/HOF/interval
    # shapes for a DENSE pass over the semi-structured surface (the
    # full list only samples them ~38% of seeds); default = full list
    shapes_opt = opt.get("shapes", "full")

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")
    import duckdb

    from jobhouse_spark.session import get_spark

    spark = get_spark(app_name="silver_fuzz")

    root = tempfile.mkdtemp(prefix="jh_silver_fuzz_")
    materialize(spark, root, enlarge)

    duck = duckdb.connect()
    for t in SILVER_TABLES:
        spark.read.parquet(f"{root}/{t}").createOrReplaceTempView(t)
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{root}/{t}/*.parquet')"
        )

    qf.set_universe(SILVER_TABLES, SILVER_PK, SILVER_FKS,
                    json_spec=SILVER_JSON_SPEC, arr_spec=SILVER_ARR_SPEC,
                    ival_spec=SILVER_IVAL_SPEC)
    pools = qf.build_pools(duck)
    shapes = (["json_path", "interval_arith", "array_hof",
               "win_json", "win_hof", "setop_json"]
              if shapes_opt == "v9" else qf.FULL_SHAPES)
    failures = qf.run_campaign(
        spark, duck, pools, range(seed0, seed0 + n),
        shapes=shapes,
    )
    summary = {
        "metric": "silver_fuzz", "grammar": qf.GRAMMAR_VERSION,
        "universe": "silver", "n": n, "seed0": seed0, "enlarge": enlarge,
        "shapes": shapes_opt,
        "postings_rows": spark.table("postings").count(),
        "pass": n - len(failures), "fail": len(failures),
        "failed_seeds": [s for s, _, _ in failures][:20],
    }
    print(json.dumps(summary))
    out = opt.get("json")
    if out:
        with open(out, "w") as f:
            json.dump(summary, f)
            f.write("\n")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
