"""Round-10 domain Gold marts — the product depth the reference's
architecture promises (docs/Pipeline Architecture.mermaid:26-31, "data
marts + ML features") beyond the jh1/jh2/jh4 basics:

- jh5: vacancy-lifecycle mart COMPOSING the A16 CDC chain (scd2_open +
  chained scd2_apply over daily snapshots) — time-to-fill, repost rate,
  active-days and version counts per employer, derived from the SCD2
  history the engine actually builds. The DuckDB oracle never sees the
  history: it re-derives every lifecycle quantity closed-form from the
  same deterministic snapshot-membership rules, so the CDC machinery is
  differentially checked against an independent derivation.
- jh6: currency-normalized salary mart (salary{from,to,currency,gross}
  per the reference transform dags/extract_raw_jobs.py:172-191) — fixed
  decimal FX table + gross→net factor, exact-decimal discipline end to
  end (scales chosen so every product is exact at DECIMAL(18,4)).
- jh7: skill-extraction mart — tokenize posting requirements (the l4c
  regex-token discipline), match a broadcast skill dimension, per-skill
  demand and normalized-salary stats.

Inputs come from the replay fixture tests/fixtures/hh_pages_v2.json
(generated by tools/make_fixture_v2.py — richer than hh_pages.json:
4 currencies, 4 areas, from-only/to-only ranges, 8-skill requirement
pool) through the full replay→bronze→silver pipeline, exactly like jh4.

Scale shape: the lifecycle mart is the SCD2 join chain (key-shuffled,
closed rows never rejoin) + two hash aggregations; jh6 is a map + one
groupBy; jh7 is a tiny-dimension broadcast expansion + one groupBy —
all the same plan at 100 TB.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jobhouse_spark.queries.registry import dec, fin, fin_sql, register

FIXTURE2 = os.path.normpath(
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..", "..", "tests", "fixtures", "hh_pages_v2.json",
    )
)

AT2 = datetime(2024, 3, 8, 9, 15, 0, tzinfo=timezone.utc)

SKILLS = ["airflow", "dbt", "kafka", "kubernetes", "python", "scala", "spark", "sql"]

_TOKEN_SPLIT = "[^a-z0-9+#]+"

# Shared oracle-side silver rebuild straight from the v2 fixture JSON
# (jh4's pattern): id, employer, area, experience, requirement text,
# salary fields, midpoint, and the currency-normalized net-RUB salary.
# Decimal discipline: mid is .5-grained -> DECIMAL(18,1) exact; FX rates
# are scale-1, the net factor scale-2, so mid*rate is exact at scale 2
# and (mid*rate)*factor exact at scale 4 — no rounding anywhere.
_SILVER2_SQL = f"""
WITH it AS (
  SELECT unnest(items) AS v
  FROM read_json('{FIXTURE2}', format='array')
),
silver AS (
  SELECT
    CAST(v.id AS INT) AS vid,
    v.employer.name AS employer_name,
    v.area.name AS area_name,
    v.experience.id AS experience,
    lower(trim(coalesce(v.snippet.requirement, ''))) AS req,
    v.salary.currency AS currency,
    v.salary.gross AS gross,
    CAST(CASE
      WHEN v.salary."from" IS NOT NULL AND v.salary."to" IS NOT NULL
        THEN (v.salary."from" + v.salary."to") / 2
      WHEN v.salary."from" IS NOT NULL THEN v.salary."from"
      ELSE v.salary."to" END AS DOUBLE) AS salary_mid
  FROM it
),
normed AS (
  SELECT *,
    CAST(
      CAST(
        CAST(salary_mid AS DECIMAL(18,1))
        * (CASE currency
             WHEN 'RUR' THEN CAST(1.0 AS DECIMAL(10,1))
             WHEN 'USD' THEN CAST(90.0 AS DECIMAL(10,1))
             WHEN 'EUR' THEN CAST(100.0 AS DECIMAL(10,1))
             WHEN 'KZT' THEN CAST(0.2 AS DECIMAL(10,1))
           END)
        AS DECIMAL(18,2))
      * (CASE WHEN gross THEN CAST(0.87 AS DECIMAL(10,2))
              ELSE CAST(1.00 AS DECIMAL(10,2)) END)
      AS DECIMAL(18,4)) AS salary_rub_net
  FROM silver
)
"""


def _silver_v2(spark: SparkSession) -> DataFrame:
    """Replay fixture v2 → bronze → silver, cached per session (jh4's
    _silver with the richer fixture)."""
    import json  # noqa: PLC0415

    from jobhouse_spark.silver import standardize_postings  # noqa: PLC0415
    from jobhouse_spark.sources.bronze import (  # noqa: PLC0415
        envelope_projection,
        read_bronze,
        write_bronze_partitioned,
    )
    from jobhouse_spark.sources.rest import (  # noqa: PLC0415
        PaginatedFetcher,
        items_to_dataframe,
        replay_client,
    )

    from jobhouse_spark.queries.ingestion_queries import _session_bronze_root  # noqa: PLC0415

    with open(FIXTURE2) as f:
        pages = json.load(f)
    items = PaginatedFetcher(client=replay_client(pages)).fetch_all("data engineer")
    env = envelope_projection(
        items_to_dataframe(spark, items), "data engineer", extracted_at=AT2
    )
    root = _session_bronze_root(
        "domain_v2", FIXTURE2, lambda r: write_bronze_partitioned(env, r)
    )
    return standardize_postings(read_bronze(spark, root))


def _normalized(silver: DataFrame) -> DataFrame:
    """Currency-normalized net-RUB salary column (exact decimals; Spark
    twin of the oracle's `normed` CTE — intermediate cast to (18,2)
    keeps the product inside DECIMAL(38) with no precision-loss round)."""
    rate = (
        F.when(F.col("salary_currency") == "RUR", F.lit(Decimal("1.0")))
        .when(F.col("salary_currency") == "USD", F.lit(Decimal("90.0")))
        .when(F.col("salary_currency") == "EUR", F.lit(Decimal("100.0")))
        .when(F.col("salary_currency") == "KZT", F.lit(Decimal("0.2")))
        .cast(T.DecimalType(10, 1))
    )
    factor = (
        F.when(F.col("salary_gross"), F.lit(Decimal("0.87")))
        .otherwise(F.lit(Decimal("1.00")))
        .cast(T.DecimalType(10, 2))
    )
    norm = (
        (dec(F.col("salary_mid"), 1) * rate).cast(T.DecimalType(18, 2)) * factor
    ).cast(T.DecimalType(18, 4))
    return silver.withColumn("salary_rub_net", norm)


# ---------------------------------------------------------------------------
# jh5: vacancy-lifecycle mart over the A16 CDC chain
# ---------------------------------------------------------------------------

# Deterministic daily snapshot membership (closed-form in the vacancy
# id, so the oracle re-derives it independently of the SCD2 code path):
#   D1 2024-03-10: every vacancy is live
#   D2 2024-03-11: vid % 3 != 0         (every 3rd posting closes)
#   D3 2024-03-12: (vid%3!=0 AND vid%5!=1)            -- more closures
#                  OR (vid%3==0 AND vid%2==0)          -- reposts
# Content revision: from D2 on, vid % 4 == 1 postings carry rev 'r2'
# (a modification that must version, not close, the key).
_D = ("2024-03-10", "2024-03-11", "2024-03-12")
_END = "2024-03-13"  # horizon for open intervals: day after last snapshot


def _snapshot(silver: DataFrame, day_idx: int) -> DataFrame:
    vid = F.col("posting_id").cast("int")
    if day_idx == 0:
        present = F.lit(True)
    elif day_idx == 1:
        present = vid % 3 != 0
    else:
        present = ((vid % 3 != 0) & (vid % 5 != 1)) | ((vid % 3 == 0) & (vid % 2 == 0))
    rev = (
        F.when((F.lit(day_idx) >= 1) & (vid % 4 == 1), "r2").otherwise("r1")
        if day_idx >= 1
        else F.lit("r1")
    )
    return silver.filter(present).select(
        vid.alias("vacancy_id"),
        F.col("employer_name"),
        rev.alias("rev"),
    )


_JH5_ORACLE = _SILVER2_SQL + f"""
, flags AS (
  SELECT vid, employer_name,
         (vid % 3 <> 0) AS p2,
         ((vid % 3 <> 0 AND vid % 5 <> 1) OR (vid % 3 = 0 AND vid % 2 = 0)) AS p3,
         (vid % 4 = 1) AS modd
  FROM normed),
life AS (
  SELECT vid, employer_name,
         1 + CASE WHEN p2 THEN 1 ELSE 0 END
           + CASE WHEN p3 THEN 1 ELSE 0 END AS active_days,
         CASE WHEN p3 THEN 3 WHEN p2 THEN 2 ELSE 1 END AS span_days,
         NOT p3 AS closed,
         CASE WHEN NOT p3 THEN CASE WHEN p2 THEN 2 ELSE 1 END END AS ttf,
         1 + CASE WHEN p2 AND modd THEN 1 ELSE 0 END
           + CASE WHEN (NOT p2) AND p3 THEN 1 ELSE 0 END AS n_versions,
         ((NOT p2) AND p3) AS reposted
  FROM flags)
SELECT employer_name,
       COUNT(*) AS n_vacancies,
       CAST(SUM(CASE WHEN closed THEN 1 ELSE 0 END) AS BIGINT) AS n_closed,
       CAST(SUM(CASE WHEN reposted THEN 1 ELSE 0 END) AS BIGINT) AS n_reposted,
       CAST(SUM(n_versions) AS BIGINT) AS n_versions,
       CAST(SUM(active_days) AS BIGINT) AS active_days,
       {fin_sql("SUM(CASE WHEN closed THEN ttf END)")}
         / SUM(CASE WHEN closed THEN 1 ELSE 0 END) AS avg_time_to_fill
FROM life GROUP BY 1 ORDER BY 1
"""


@register("jh5_vacancy_lifecycle", oracle=_JH5_ORACLE, tags=("jobhouse", "gold", "cdc"))
def jh5_vacancy_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JH5: vacancy-lifecycle mart from the SCD2 history built by the
    A16 CDC chain (scd2_open @ D1, scd2_apply @ D2, @ D3 over
    deterministic daily snapshots of the v2 replay silver). Per
    employer: vacancies seen, closed count, repost count (presence gap
    in the history), total versions (content modifications), total
    active days (sum of validity-interval lengths, horizon D3+1), and
    average time-to-fill over closed vacancies (posted→final close).
    The oracle derives every number closed-form from the membership
    rules — it never runs the SCD2 code — so this differentially
    verifies the CDC chain end to end."""
    from jobhouse_spark.operators.scd import scd2_apply, scd2_open  # noqa: PLC0415

    sv = _silver_v2(spark)
    attrs = ["employer_name", "rev"]
    # Lineage truncation between chained applies (round 14; same
    # discipline the jh11 chained-incremental rungs pinned): scd2_apply
    # references its history twice (current/closed split) and the batch
    # through a full-outer join read twice (old/new rows), so three
    # lazily-chained applies reference the replay-silver subtree
    # MULTIPLICATIVELY — the r13 physical plan scanned the session
    # bronze directory 12 times. Lazy localCheckpoints materialize each
    # daily snapshot once and the intermediate history once (exactly
    # what a production history table between days does for free),
    # collapsing the plan to one bronze scan per snapshot day.
    snaps = [_snapshot(sv, i).localCheckpoint(eager=False) for i in range(3)]
    hist = scd2_open(snaps[0], _D[0])
    hist = scd2_apply(hist, snaps[1], "vacancy_id", attrs, _D[1]).localCheckpoint(
        eager=False
    )
    hist = scd2_apply(hist, snaps[2], "vacancy_id", attrs, _D[2])

    end = F.lit(_END).cast("date")
    v_end = F.coalesce(F.col("valid_to"), end)
    per_key = hist.groupBy("vacancy_id").agg(
        F.max("employer_name").alias("employer_name"),
        F.count("*").alias("n_versions"),
        F.sum(F.datediff(v_end, F.col("valid_from"))).alias("active_days"),
        F.datediff(F.max(v_end), F.min("valid_from")).alias("span_days"),
        F.max(F.col("valid_to").isNull().cast("int")).alias("is_open"),
        F.max("valid_to").alias("last_close"),
        F.min("valid_from").alias("posted"),
    )
    closed = F.col("is_open") == 0
    life = per_key.select(
        "employer_name",
        "n_versions",
        "active_days",
        closed.cast("int").alias("closed"),
        (F.col("span_days") > F.col("active_days")).cast("int").alias("reposted"),
        F.when(closed, F.datediff("last_close", "posted")).alias("ttf"),
    )
    return (
        life.groupBy("employer_name")
        .agg(
            F.count("*").alias("n_vacancies"),
            F.sum("closed").alias("n_closed"),
            F.sum("reposted").alias("n_reposted"),
            F.sum("n_versions").alias("n_versions"),
            F.sum("active_days").alias("active_days"),
            (fin(F.sum("ttf")) / F.sum("closed")).alias("avg_time_to_fill"),
        )
        .orderBy("employer_name")
    )


# ---------------------------------------------------------------------------
# jh6: currency-normalized salary mart
# ---------------------------------------------------------------------------

_JH6_ORACLE = _SILVER2_SQL + f"""
SELECT area_name, experience,
       COUNT(*) AS n_postings,
       COUNT(salary_rub_net) AS n_with_salary,
       {fin_sql("SUM(salary_rub_net)")} AS sum_salary_rub,
       {fin_sql("SUM(salary_rub_net)")} / COUNT(salary_rub_net) AS avg_salary_rub,
       {fin_sql("MIN(salary_rub_net)")} AS min_salary_rub,
       {fin_sql("MAX(salary_rub_net)")} AS max_salary_rub
FROM normed GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("jh6_salary_currency_mart", oracle=_JH6_ORACLE, tags=("jobhouse", "gold"))
def jh6_salary_currency_mart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JH6: currency-normalized salary mart — salary{from,to,currency,
    gross} (the reference transform's fields, dags/extract_raw_jobs.py:
    172-191) normalized to net RUB via a fixed decimal FX table
    (broadcast-sized dimension expressed as a CASE map) and a gross→net
    factor, aggregated per area × experience band. Exact-decimal end to
    end: scales are chosen so every product is exact at DECIMAL(18,4);
    the average is emitted as exact-decimal-sum ÷ count in DOUBLE so
    both engines perform the identical IEEE division."""
    sv = _normalized(_silver_v2(spark))
    n_sal = F.count("salary_rub_net")
    return (
        sv.groupBy("area_name", "experience")
        .agg(
            F.count("*").alias("n_postings"),
            n_sal.alias("n_with_salary"),
            fin(F.sum("salary_rub_net")).alias("sum_salary_rub"),
            (fin(F.sum("salary_rub_net")) / n_sal).alias("avg_salary_rub"),
            fin(F.min("salary_rub_net")).alias("min_salary_rub"),
            fin(F.max("salary_rub_net")).alias("max_salary_rub"),
        )
        .orderBy("area_name", "experience")
    )


# ---------------------------------------------------------------------------
# jh7: skill-extraction mart
# ---------------------------------------------------------------------------

_SKILL_LIST_SQL = ", ".join(f"'{s}'" for s in SKILLS)

_JH7_ORACLE = _SILVER2_SQL + f"""
, sk AS (SELECT unnest([{_SKILL_LIST_SQL}]) AS skill)
SELECT sk.skill,
       COUNT(*) AS n_postings,
       COUNT(DISTINCT employer_name) AS n_employers,
       COUNT(salary_rub_net) AS n_with_salary,
       {fin_sql("SUM(salary_rub_net)")} AS sum_salary_rub,
       {fin_sql("SUM(salary_rub_net)")} / COUNT(salary_rub_net) AS avg_salary_rub
FROM normed CROSS JOIN sk
WHERE list_contains(string_split_regex(req, '{_TOKEN_SPLIT}'), sk.skill)
GROUP BY 1 ORDER BY 1
"""


@register("jh7_skill_extraction", oracle=_JH7_ORACLE, tags=("jobhouse", "gold", "text"))
def jh7_skill_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JH7: skill-extraction mart — tokenize posting requirement text
    (the l4c regex-token discipline: lowercase, split on
    non-[a-z0-9+#]), match against the skill dimension (tiny, expressed
    as an exploded literal array → Catalyst keeps it JVM-side, no
    shuffle added beyond the final groupBy), and report per-skill
    demand: posting count, distinct employers, and normalized net-RUB
    salary stats composed from the jh6 FX normalization."""
    sv = _normalized(_silver_v2(spark))
    toks = F.split(F.lower(F.trim(F.coalesce(F.col("requirement"), F.lit("")))), _TOKEN_SPLIT)
    matched = (
        sv.select(
            "employer_name",
            "salary_rub_net",
            toks.alias("toks"),
            F.explode(F.array(*[F.lit(s) for s in SKILLS])).alias("skill"),
        )
        .filter(F.array_contains(F.col("toks"), F.col("skill")))
    )
    return (
        matched.groupBy("skill")
        .agg(
            F.count("*").alias("n_postings"),
            F.countDistinct("employer_name").alias("n_employers"),
            F.count("salary_rub_net").alias("n_with_salary"),
            fin(F.sum("salary_rub_net")).alias("sum_salary_rub"),
            (fin(F.sum("salary_rub_net")) / F.count("salary_rub_net")).alias(
                "avg_salary_rub"
            ),
        )
        .orderBy("skill")
    )


# ---------------------------------------------------------------------------
# jh8: employer entity-resolution mart (round 11)
# ---------------------------------------------------------------------------

FIXTURE3 = os.path.normpath(
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..", "..", "tests", "fixtures", "hh_pages_v3.json",
    )
)

AT3 = datetime(2024, 3, 9, 9, 15, 0, tzinfo=timezone.utc)


def _silver_v3(spark: SparkSession) -> DataFrame:
    """Replay fixture v3 (planted dirty employer names,
    tools/make_fixture_v3.py) -> bronze -> silver, session-cached."""
    import json  # noqa: PLC0415

    from jobhouse_spark.silver import standardize_postings  # noqa: PLC0415
    from jobhouse_spark.sources.bronze import (  # noqa: PLC0415
        envelope_projection,
        read_bronze,
        write_bronze_partitioned,
    )
    from jobhouse_spark.sources.rest import (  # noqa: PLC0415
        PaginatedFetcher,
        items_to_dataframe,
        replay_client,
    )

    from jobhouse_spark.queries.ingestion_queries import _session_bronze_root  # noqa: PLC0415

    with open(FIXTURE3) as f:
        pages = json.load(f)
    items = PaginatedFetcher(client=replay_client(pages)).fetch_all("data engineer")
    env = envelope_projection(
        items_to_dataframe(spark, items), "data engineer", extracted_at=AT3
    )
    root = _session_bronze_root(
        "domain_v3", FIXTURE3, lambda r: write_bronze_partitioned(env, r)
    )
    return standardize_postings(read_bronze(spark, root))


# The oracles derive the resolution INDEPENDENTLY: normalization in
# SQL, plain q-gram blocking (df <= 100 — at fixture scale no gram is
# heavy, so this equals exhaustive "levenshtein <= 2" pairing), exact
# levenshtein verify, and — where Spark iterates min-label propagation
# (operators/graph.py) over prefix-filtered candidates — a
# recursive-CTE transitive closure with MIN() label election. Both
# sides compute the same EXACT pair relation by different blocking
# mechanisms, so the differential check covers the mechanisms too.
# ONE copy of the closure logic, shared by the jh8 and jh9 oracles
# (the repo's single-source-of-truth discipline for oracle formulas).


def _resolution_ctes(fixture: str, silver_cols: str) -> str:
    """WITH-clause prefix: fixture -> silver(cols) -> normalized names
    -> q-gram blocked + levenshtein-verified edges -> recursive-CTE
    connected components. Ends with comp(name, canonical)."""
    return f"""
WITH RECURSIVE it AS (
  SELECT unnest(items) AS v
  FROM read_json('{fixture}', format='array')
),
silver AS (
  SELECT {silver_cols}
  FROM it
),
normed AS (
  SELECT *,
    regexp_replace(regexp_replace(lower(trim(employer_name)), '\\s+', ' ', 'g'),
                   ' (llc|ltd|inc|group)$', '') AS norm_name
  FROM silver
),
nodes AS (SELECT DISTINCT norm_name AS name FROM normed WHERE norm_name <> ''),
ng AS (
  SELECT name, unnest(list_distinct(list_transform(
           range(1, length(name) - 2), i -> substr(name, i, 4)))) AS gram
  FROM nodes),
keep AS (SELECT gram FROM ng GROUP BY gram HAVING COUNT(*) <= 100),
cand AS (
  SELECT DISTINCT a.name AS src, b.name AS dst
  FROM ng a JOIN keep k ON a.gram = k.gram JOIN ng b ON b.gram = a.gram
  WHERE a.name < b.name AND abs(length(a.name) - length(b.name)) <= 2),
edges0 AS (SELECT src, dst FROM cand WHERE levenshtein(src, dst) <= 2),
edges AS (SELECT src AS a, dst AS b FROM edges0
          UNION ALL SELECT dst, src FROM edges0),
reach AS (
  SELECT name, name AS lbl FROM nodes
  UNION
  SELECT e.b AS name, r.lbl FROM reach r JOIN edges e ON e.a = r.name
),
comp AS (SELECT name, MIN(lbl) AS canonical FROM reach GROUP BY name)
"""


_JH8_SILVER_COLS = """
    v.employer.name AS employer_name,
    v.area.name AS area_name,
    CAST(CASE
      WHEN v.salary."from" IS NOT NULL AND v.salary."to" IS NOT NULL
        THEN (v.salary."from" + v.salary."to") / 2
      WHEN v.salary."from" IS NOT NULL THEN v.salary."from"
      ELSE v.salary."to" END AS DOUBLE) AS salary_mid
"""

_JH8_ORACLE = _resolution_ctes(FIXTURE3, _JH8_SILVER_COLS) + f"""
SELECT c.canonical AS canonical_employer,
       COUNT(*) AS n_postings,
       CAST(COUNT(DISTINCT n.employer_name) AS BIGINT) AS n_variants,
       CAST(COUNT(DISTINCT n.area_name) AS BIGINT) AS n_areas,
       CAST(COUNT(n.salary_mid) AS BIGINT) AS n_with_salary,
       {fin_sql("SUM(CAST(n.salary_mid AS DECIMAL(18,1)))")}
         / COUNT(n.salary_mid) AS avg_salary_mid
FROM normed n JOIN comp c ON n.norm_name = c.name
GROUP BY 1 ORDER BY 1
"""


@register(
    "jh8_employer_resolution",
    oracle=_JH8_ORACLE,
    tags=("jobhouse", "gold", "entity", "fuzzy"),
)
def jh8_employer_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JH8: employer entity-resolution mart — the Architecture's dedup
    feedback loop (docs/Pipeline Architecture.mermaid:33) applied at
    ENTITY grain: canonicalize dirty employer surface forms ("Aurora
    Analytics" / "Aurora Analytics LLC" / "Auror Analytics" typo) into
    one employer before aggregating, composing j14's q-gram-blocked
    fuzzy join with l15's connected components
    (operators/entity.resolve_entities).

    100 TB shape: normalization is map-only over the corpus; blocking,
    verify and closure run over DISTINCT normalized names (entity
    cardinality, not corpus cardinality); the resulting name->canonical
    map is broadcast back onto the postings, so the corpus is touched
    by exactly one map + one hash aggregation."""
    from jobhouse_spark.operators.entity import (  # noqa: PLC0415
        apply_entity_map,
        normalize_entity_name,
        resolve_entities,
    )

    silver = _silver_v3(spark)
    withn = silver.withColumn(
        "norm_name", normalize_entity_name(F.col("employer_name"))
    )
    mapping = resolve_entities(silver.select(F.col("employer_name").alias("name")))
    return (
        apply_entity_map(withn, mapping)
        .groupBy(F.col("canonical").alias("canonical_employer"))
        .agg(
            F.count("*").alias("n_postings"),
            F.countDistinct("employer_name").alias("n_variants"),
            F.countDistinct("area_name").alias("n_areas"),
            F.count("salary_mid").alias("n_with_salary"),
            (fin(F.sum(dec(F.col("salary_mid"), 1))) / F.count("salary_mid")).alias(
                "avg_salary_mid"
            ),
        )
        .orderBy("canonical_employer")
    )


# ---------------------------------------------------------------------------
# jh9: duplicate-posting (repost) audit mart (round 11)
# ---------------------------------------------------------------------------

FIXTURE4 = os.path.normpath(
    os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "..", "..", "tests", "fixtures", "hh_pages_v4.json",
    )
)

AT4 = datetime(2024, 4, 12, 9, 15, 0, tzinfo=timezone.utc)


def _silver_v4(spark: SparkSession) -> DataFrame:
    """Replay fixture v4 (planted reposts under dirty employer forms,
    tools/make_fixture_v4.py) -> bronze -> silver, session-cached."""
    import json  # noqa: PLC0415

    from jobhouse_spark.silver import standardize_postings  # noqa: PLC0415
    from jobhouse_spark.sources.bronze import (  # noqa: PLC0415
        envelope_projection,
        read_bronze,
        write_bronze_partitioned,
    )
    from jobhouse_spark.sources.rest import (  # noqa: PLC0415
        PaginatedFetcher,
        items_to_dataframe,
        replay_client,
    )

    from jobhouse_spark.queries.ingestion_queries import _session_bronze_root  # noqa: PLC0415

    with open(FIXTURE4) as f:
        pages = json.load(f)
    items = PaginatedFetcher(client=replay_client(pages)).fetch_all("data engineer")
    env = envelope_projection(
        items_to_dataframe(spark, items), "data engineer", extracted_at=AT4
    )
    root = _session_bronze_root(
        "domain_v4", FIXTURE4, lambda r: write_bronze_partitioned(env, r)
    )
    return standardize_postings(read_bronze(spark, root))


_JH9_SILVER_COLS = """
    v.employer.name AS employer_name,
    v.area.name AS area_name,
    v.name AS title,
    v.snippet.requirement AS requirement
"""

# Suffix: per-(canonical, content) copy counts, then per-canonical
# audit stats — all exact integers, hash-checked.
_JH9_ORACLE = _resolution_ctes(FIXTURE4, _JH9_SILVER_COLS) + """
, per_content AS (
  SELECT c.canonical,
         lower(trim(n.title)) || '|' || lower(trim(n.requirement)) AS content_key,
         COUNT(*) AS copies,
         COUNT(DISTINCT n.area_name) AS n_areas
  FROM normed n JOIN comp c ON n.norm_name = c.name
  GROUP BY 1, 2
)
SELECT canonical AS canonical_employer,
       CAST(SUM(copies) AS BIGINT) AS n_postings,
       COUNT(*) AS n_contents,
       CAST(SUM(copies) - COUNT(*) AS BIGINT) AS n_reposts,
       CAST(MAX(copies) AS BIGINT) AS max_copies,
       CAST(SUM(CASE WHEN copies > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_contents,
       CAST(SUM(CASE WHEN n_areas > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_cross_area_contents
FROM per_content GROUP BY 1 ORDER BY 1
"""


@register(
    "jh9_repost_audit",
    oracle=_JH9_ORACLE,
    tags=("jobhouse", "gold", "entity", "dedup"),
)
def jh9_repost_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JH9: duplicate-posting audit — the Architecture's dedup feedback
    loop (docs/Pipeline Architecture.mermaid:33) at POSTING grain,
    composed WITH entity resolution: the same vacancy text re-posted by
    the same company under different dirty surface forms, areas and
    days only groups together after jh8's employer canonicalization,
    which is why the mart must stack both (a raw-name group-by
    undercounts reposts — planted and asserted in
    tests/test_silver_gold.py).

    Per canonical employer: postings, distinct contents, reposts
    (postings - contents), the largest duplicate group, duplicated
    contents, and contents spanning >1 area — the L1 exact-dedup
    content-key discipline (queries/llm_ops.py) applied to the job
    domain.

    100 TB shape: normalization + content key are map-only; the
    name->canonical map (entity cardinality) broadcasts onto the
    corpus; then two hash aggregations — the first keyed on
    (canonical, content_key), high-cardinality but map-side
    combinable, the second on canonical."""
    from jobhouse_spark.operators.entity import (  # noqa: PLC0415
        apply_entity_map,
        normalize_entity_name,
        resolve_entities,
    )

    silver = _silver_v4(spark)
    withn = silver.withColumn(
        "norm_name", normalize_entity_name(F.col("employer_name"))
    ).withColumn(
        "content_key",
        F.concat_ws("|", F.lower(F.trim("title")), F.lower(F.trim("requirement"))),
    )
    mapping = resolve_entities(silver.select(F.col("employer_name").alias("name")))
    per_content = (
        apply_entity_map(withn, mapping)
        .groupBy(F.col("canonical"), F.col("content_key"))
        .agg(
            F.count("*").alias("copies"),
            F.countDistinct("area_name").alias("n_areas"),
        )
    )
    return (
        per_content.groupBy(F.col("canonical").alias("canonical_employer"))
        .agg(
            F.sum("copies").alias("n_postings"),
            F.count("*").alias("n_contents"),
            (F.sum("copies") - F.count("*")).alias("n_reposts"),
            F.max("copies").alias("max_copies"),
            F.sum(F.when(F.col("copies") > 1, 1).otherwise(0)).alias(
                "n_dup_contents"
            ),
            F.sum(F.when(F.col("n_areas") > 1, 1).otherwise(0)).alias(
                "n_cross_area_contents"
            ),
        )
        .orderBy("canonical_employer")
    )


# ---------------------------------------------------------------------------
# jh10: data-quality scorecard (round 11)
# ---------------------------------------------------------------------------

_JH10_AS_OF = "2024-04-12"  # = AT4's date: the DQ run's reference day

# Single-row corpus scorecard, every metric an exact integer. The
# oracle re-derives each one straight from the fixture JSON — it never
# sees silver, so the bronze->silver plumbing (salary parse, timestamp
# parse, nested projection) is inside the check.
_JH10_ORACLE = f"""
WITH it AS (
  SELECT unnest(items) AS v
  FROM read_json('{FIXTURE4}', format='array')
),
s AS (
  SELECT
    v.name AS title,
    v.snippet.requirement AS requirement,
    v.area.name AS area_name,
    v.salary."from" AS sfrom,
    v.salary."to" AS sto,
    v.salary.currency AS currency,
    -- UTC-consistent with the Spark side's to_date(published_at)
    -- under session tz UTC: parse the offset-aware string and take
    -- the UTC calendar date (NOT the local-time string prefix, which
    -- would only agree for fixture hours that don't cross midnight
    -- under the +03:00 offset)
    CAST(strptime(v.published_at, '%Y-%m-%dT%H:%M:%S%z')
         AT TIME ZONE 'UTC' AS DATE) AS pub_date
  FROM it
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN sfrom IS NULL AND sto IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_salary,
       CAST(SUM(CASE WHEN sfrom IS NOT NULL AND sto IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_from_only,
       CAST(SUM(CASE WHEN sfrom IS NULL AND sto IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_to_only,
       CAST(COUNT(*) - COUNT(DISTINCT lower(trim(title)) || '|'
            || lower(trim(requirement))) AS BIGINT) AS n_dup_contents,
       CAST(COUNT(DISTINCT area_name) AS BIGINT) AS n_areas,
       CAST(COUNT(DISTINCT currency) AS BIGINT) AS n_currencies,
       CAST(date_diff('day', MIN(pub_date), DATE '{_JH10_AS_OF}') AS BIGINT)
         AS max_staleness_days
FROM s
"""


@register(
    "jh10_dq_scorecard",
    oracle=_JH10_ORACLE,
    tags=("jobhouse", "gold", "quality"),
)
def jh10_dq_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JH10: data-quality scorecard — the nightly expectations report a
    production silver layer publishes: completeness (missing / partial
    salary ranges, the reference transform's from/to/currency fields,
    dags/extract_raw_jobs.py:172-191), uniqueness (duplicate posting
    contents, jh9's content key), domain cardinalities (areas,
    currencies), and freshness (max staleness vs the DQ run date).
    Every metric is an exact integer; the DuckDB oracle re-derives all
    of them straight from the raw fixture JSON, so the whole
    bronze->silver chain (envelope, JSON parse, salary/timestamp
    typing) sits inside the differential check.

    100 TB shape: one map + ONE hash aggregation over the corpus (the
    distinct-counts are Spark's built-in partial-distinct aggregates);
    publishable per-day by adding the date to the groupBy unchanged."""
    silver = _silver_v4(spark)
    content_key = F.concat_ws(
        "|", F.lower(F.trim("title")), F.lower(F.trim("requirement"))
    )
    return silver.agg(
        F.count("*").alias("n_rows"),
        F.sum(
            (F.col("salary_from").isNull() & F.col("salary_to").isNull()).cast("long")
        ).alias("n_null_salary"),
        F.sum(
            (F.col("salary_from").isNotNull() & F.col("salary_to").isNull()).cast("long")
        ).alias("n_from_only"),
        F.sum(
            (F.col("salary_from").isNull() & F.col("salary_to").isNotNull()).cast("long")
        ).alias("n_to_only"),
        (F.count("*") - F.countDistinct(content_key)).alias("n_dup_contents"),
        F.countDistinct("area_name").alias("n_areas"),
        F.countDistinct("salary_currency").alias("n_currencies"),
        F.datediff(
            F.lit(_JH10_AS_OF).cast("date"), F.min(F.to_date("published_at"))
        ).cast("long").alias("max_staleness_days"),
    )


# ---------------------------------------------------------------------------
# jh11: incremental entity resolution against a stored mapping (round 13)
# ---------------------------------------------------------------------------

# The oracle resolves the FULL name domain (day-1 UNION day-2) from
# scratch with the recursive-CTE derivation — so a hash match IS the
# batch-apply == full-re-resolve equivalence contract: the Spark side
# never re-resolves day-1, it applies the day-2 batch incrementally to
# the stored day-1 mapping.
_JH11_ORACLE = _resolution_ctes(FIXTURE3, _JH8_SILVER_COLS) + """
SELECT name, canonical FROM comp ORDER BY name
"""


@register(
    "jh11_incremental_resolution",
    oracle=_JH11_ORACLE,
    tags=("jobhouse", "gold", "entity", "fuzzy", "incremental"),
)
def jh11_incremental_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JH11: the production daily-ingest shape for entity resolution —
    resolve day-1's employer names fully (the stored canonical map),
    then apply day-2's batch INCREMENTALLY
    (operators/entity.resolve_entities_incremental): a gram index is
    derived from the stored names in memory and probed exactly as
    jh12 probes its stored one — candidate pairs only for
    batch-adjacent names (the batch's one-sided prefix grams broadcast
    against the stored postings plus the batch's own grams), stored
    clusters contracted to their canonicals, closure over the touched
    subgraph only. The split is
    deterministic (posting id % 3), and it genuinely exercises the
    merge path: for some entities day-1 holds only the two typo forms
    (edit distance 3 apart -> two stored clusters) and day-2's base
    form bridges them, relabeling both stored clusters.

    100 TB shape: the stored side contributes one map-only pass (gram
    postings / deletion keys) and a gram-df aggregation — the work jh12
    keeps in tables instead; pairwise work and closure are
    batch-sized, so a daily batch costs the day's
    delta, not a domain rebuild (measured:
    tools/entity_scale_bench.py --incremental)."""
    from jobhouse_spark.operators.entity import (  # noqa: PLC0415
        resolve_entities,
        resolve_entities_incremental,
    )

    day1, batch = jh11_split_inputs(spark)
    stored = resolve_entities(day1)
    return resolve_entities_incremental(batch, stored).orderBy("name")


@register(
    "jh12_indexed_incremental_resolution",
    oracle=_JH11_ORACLE,
    tags=("jobhouse", "gold", "entity", "fuzzy", "incremental", "index"),
)
def jh12_indexed_incremental_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JH12: jh11's daily batch applied through the STORED blocking
    index (operators/entity.EntityGramIndex) instead of re-deriving
    the stored side's gram postings / deletion keys / gram-df from
    scratch — the round-14 step that makes the daily marginal O(batch)
    rather than O(domain). Same oracle as jh11 (DuckDB re-resolves the
    full union from scratch), so a hash match certifies the whole
    chain: indexed apply == plain incremental apply == full
    re-resolve, including the cross-cluster bridge merges in the
    fixture.

    100 TB shape: the index lives in parquet tables between days
    (EntityGramIndex.save/load); the apply broadcasts the batch's
    prefix grams into the candidate joins so the stored postings
    stream map-side with no domain shuffle, and the df snapshot is
    used STALE — exact under the one-sided prefix theorem (measured:
    tools/entity_scale_bench.py --incremental --indexed)."""
    from jobhouse_spark.operators.entity import (  # noqa: PLC0415
        build_entity_index,
        resolve_entities,
        resolve_entities_incremental_indexed,
    )

    day1, batch = jh11_split_inputs(spark)
    stored = resolve_entities(day1)
    index = build_entity_index(day1)
    mapping, _ = resolve_entities_incremental_indexed(batch, stored, index)
    return mapping.orderBy("name")


def jh11_split_inputs(spark: SparkSession) -> tuple[DataFrame, DataFrame]:
    """The jh11 fixture split (day-1 names, day-2 batch), exposed so
    bench.py can time the two phases under SEPARATE keys
    (jh11_day0_resolve / jh11_batch_apply): the single registry-query
    timing mostly measured the day-1 rebuild the incremental operator
    exists to avoid (round-13 verdict task 6)."""
    silver = _silver_v3(spark)
    vid = F.col("posting_id").cast("int")
    day1 = silver.filter(vid % 3 != 0).select(
        F.col("employer_name").alias("name")
    )
    batch = silver.filter(vid % 3 == 0).select(
        F.col("employer_name").alias("name")
    )
    return day1, batch
