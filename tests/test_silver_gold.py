"""The reference's end-to-end intended pipeline (SURVEY §7 Phase 1):
HH fixture → envelope (A5) → bronze (A8) → silver standardize (A17)
→ gold marts (A18). Exact-value assertions."""

from __future__ import annotations

import json
import os
import tempfile
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from jobhouse_spark.silver import (
    gold_daily_mart,
    gold_salary_by_experience,
    standardize_postings,
)
from jobhouse_spark.sources.bronze import (
    envelope_projection,
    read_bronze,
    write_bronze_partitioned,
)
from jobhouse_spark.sources.rest import (
    PaginatedFetcher,
    items_to_dataframe,
    replay_client,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "hh_pages.json")
AT = datetime(2024, 3, 5, 14, 30, 45, tzinfo=timezone.utc)


def _silver(spark):
    with open(FIXTURE) as f:
        pages = json.load(f)
    items = PaginatedFetcher(client=replay_client(pages)).fetch_all("python data engineer")
    env = envelope_projection(
        items_to_dataframe(spark, items), "python data engineer", extracted_at=AT
    )
    root = tempfile.mkdtemp(prefix="jh_sg_")
    write_bronze_partitioned(env, root)
    return standardize_postings(read_bronze(spark, root))


def test_silver_schema_and_values(spark):
    silver = _silver(spark)
    rows = {r.posting_id: r for r in silver.collect()}
    assert len(rows) == 17

    r = rows["1005"]  # vacancy(5): salary 105000..185000, employer 0
    assert r.title == "Data Engineer 5"
    assert r.salary_from == 105000 and r.salary_to == 185000
    assert r.salary_mid == 145000.0
    assert r.employer_name == "Employer 0"
    assert r.area_name == "Moscow"
    assert r.experience == "between1And3"
    assert r.search_text == "python data engineer"
    # published_at: 2024-03-06T10:05:00+0300 → 07:05 UTC
    assert r.published_at == datetime(2024, 3, 6, 7, 5)
    assert (r.pub_year, r.pub_month, r.pub_day) == (2024, 3, 6)

    r4 = rows["1004"]  # vacancy(4): salary is null (i % 4 == 0)
    assert r4.salary_from is None and r4.salary_mid is None


def test_gold_daily_mart(spark):
    silver = _silver(spark)
    mart = gold_daily_mart(silver).collect()
    total = sum(r.n_postings for r in mart)
    assert total == 17
    assert all(r.source == "HH" for r in mart)
    by_day = {(r.pub_year, r.pub_month, r.pub_day): r for r in mart}
    d6 = by_day[(2024, 3, 6)]  # vacancy(5): published 03-06 07:05 UTC
    assert d6.n_postings >= 1 and d6.n_employers >= 1
    # salary-bearing rows only contribute to n_with_salary
    n_salary = sum(r.n_with_salary for r in mart)
    assert n_salary == 12  # 17 minus the 5 multiples of 4 (0,4,8,12,16)


def test_gold_salary_by_experience(spark):
    silver = _silver(spark)
    rows = gold_salary_by_experience(silver).collect()
    assert [r.experience for r in rows] == ["between1And3"]
    r = rows[0]
    assert r.n == 12
    # midpoints are (from+to)/2 = 140000 + i*1000 for the 12 salary rows
    mids = [140000 + i * 1000 for i in range(17) if i % 4 != 0]
    assert r.avg_salary == round(sum(mids) / len(mids), 4)


def test_round10_gold_marts(spark):
    """Third derivation path for the jh5/jh6/jh7 marts (the registry
    oracle is the second): hand-computed totals from the v2 fixture's
    closed-form rules, so a misconception shared by the Spark code and
    the SQL oracle would still be caught here."""
    from jobhouse_spark.queries.jobhouse_gold import (
        jh5_vacancy_lifecycle,
        jh6_salary_currency_mart,
        jh7_skill_extraction,
    )

    jh5 = jh5_vacancy_lifecycle(spark, "unused").collect()
    tot = {c: sum(r[c] for r in jh5) for c in
           ("n_vacancies", "n_closed", "n_reposted", "n_versions", "active_days")}
    # 60 vids 2000-2059; closed = NOT p3 (18); repost = !p2 & p3 (10);
    # versions = 1 + (p2&mod) + (!p2&p3) (80); active = 1+p2+p3 (142)
    assert tot == {"n_vacancies": 60, "n_closed": 18, "n_reposted": 10,
                   "n_versions": 80, "active_days": 142}, tot

    jh6 = jh6_salary_currency_mart(spark, "unused").collect()
    assert sum(r.n_postings for r in jh6) == 60
    assert sum(r.n_with_salary for r in jh6) == 48  # i%5==4 -> no salary
    for r in jh6:
        if r.n_with_salary:
            assert r.min_salary_rub <= r.avg_salary_rub <= r.max_salary_rub

    jh7 = {r.skill: r for r in jh7_skill_extraction(spark, "unused").collect()}
    # every posting lists python (j=0 pick is SKILLS[i%8] — not always
    # python) — instead assert the full dictionary appears and each
    # skill's employer count is bounded by its posting count
    assert set(jh7) == {"airflow", "dbt", "kafka", "kubernetes",
                        "python", "scala", "spark", "sql"}
    for r in jh7.values():
        assert 0 < r.n_employers <= min(r.n_postings, 12)


def test_entity_resolution_planted_variants(spark):
    """Planted-variant proof for operators/entity.resolve_entities: a
    hand-built name set where the expected clusters are known by
    construction — suffix/case/whitespace forms fold via normalization,
    a distance-1 typo folds via the fuzzy edge, and a distance-4
    impostor ("aurora analytica" would be 1, "aurira analytocs" is 2 —
    use a clearly-far name) must NOT merge."""
    from jobhouse_spark.operators.entity import resolve_entities

    names = spark.createDataFrame(
        [
            ("Aurora Analytics",),
            ("Aurora Analytics LLC",),
            ("AURORA  ANALYTICS",),   # case + doubled whitespace
            ("aurora analytics inc",),
            ("Auror Analytics",),     # deletion typo, dist 1
            ("Borealis Systems",),
            ("borealis systems ltd",),
            ("Bxrealis Systems",),    # substitution typo, dist 1
            ("Quasar Shipping",),     # singleton, no edges
        ],
        "name string",
    )
    got = {r["name"]: r["canonical"] for r in resolve_entities(names).collect()}
    # distinct normalized forms: aurora analytics, auror analytics,
    # borealis systems, bxrealis systems, quasar shipping
    assert got == {
        "aurora analytics": "auror analytics",
        "auror analytics": "auror analytics",
        "borealis systems": "borealis systems",
        "bxrealis systems": "borealis systems",
        "quasar shipping": "quasar shipping",
    }, got


def test_apply_entity_map_paths_identical(spark):
    """The adaptive map-back join (operators/entity.apply_entity_map)
    must produce an IDENTICAL mart on both strategies: broadcast
    (threshold above the domain) and shuffle (threshold 0 forces the
    fallback). Also pins that the explicit plan differs — broadcast
    path contains BroadcastHashJoin, the forced-shuffle path does not —
    so the test can't pass vacuously."""
    from jobhouse_spark.operators.entity import (
        apply_entity_map,
        normalize_entity_name,
        resolve_entities,
    )

    corpus = spark.createDataFrame(
        [("Aurora Analytics LLC", 10), ("AURORA  ANALYTICS", 20),
         ("Auror Analytics", 30), ("Borealis Systems", 5),
         ("borealis systems ltd", 7), ("Quasar Shipping", 1)],
        "employer_name string, x int",
    ).withColumn("norm_name", normalize_entity_name(F.col("employer_name")))
    mapping = resolve_entities(
        corpus.select(F.col("employer_name").alias("name"))
    )

    def mart(joined):
        return (
            joined.groupBy(F.col("canonical"))
            .agg(F.count("*").alias("n"), F.sum("x").alias("sum_x"))
            .orderBy("canonical")
        )

    bcast = mart(apply_entity_map(corpus, mapping))
    shuffled = mart(apply_entity_map(corpus, mapping, max_broadcast_entities=0))
    rows_b, rows_s = bcast.collect(), shuffled.collect()
    assert "BroadcastHashJoin" in bcast._jdf.queryExecution().executedPlan().toString()
    assert rows_b == rows_s and len(rows_b) == 3


def test_jh8_employer_resolution(spark):
    """Third derivation path for jh8 (the recursive-CTE oracle is the
    second): closed-form expectations from tools/make_fixture_v3.py —
    10 true entities x 9 postings, 8 distinct surface forms each, and
    the two salary-null bases (i%5==4 <=> i%10 in {4,9})."""
    from jobhouse_spark.queries.jobhouse_gold import jh8_employer_resolution

    rows = jh8_employer_resolution(spark, "unused").collect()
    assert len(rows) == 10
    assert all(r.n_postings == 9 for r in rows)
    assert all(r.n_variants == 8 for r in rows)
    no_salary = [r.canonical_employer for r in rows if r.n_with_salary == 0]
    # bases 4 (ember logistics) and 9 (jupiter telecom); canonical is
    # the lexicographic-min normalized form, which is the typo variant
    assert sorted(no_salary) == ["embe logistics", "jupier telecom"]
    for r in rows:
        assert (r.avg_salary_mid is None) == (r.n_with_salary == 0)


def test_entity_resolution_heavy_gram_grid(spark):
    """The round-11 recall bug, pinned: on a grid corpus (every
    adjective reused by every noun) EVERY gram of a name is shared by
    dozens of entities, so the old df-cap blocking dropped ALL grams
    of some true typo pairs and silently split entities (56 of 10k at
    the 30k-name ladder). Prefix filtering keeps the q*t+1 globally
    rarest grams per name — the AllPairs prefix theorem guarantees the
    pair survives no matter how heavy the shared grams are. 40x40 grid
    -> exactly 1600 clusters of exactly 3 normalized forms."""
    import math

    from pyspark.sql import functions as F

    from jobhouse_spark.operators.entity import resolve_entities
    from tools.entity_scale_bench import make_wordlist

    side = 40
    adjs, nouns = make_wordlist(11, side), make_wordlist(23, side)
    adj_arr = F.array(*[F.lit(w) for w in adjs])
    noun_arr = F.array(*[F.lit(w) for w in nouns])
    base = spark.range(side * side).withColumn(
        "base",
        F.concat(
            F.element_at(adj_arr, (F.col("id") % side + 1).cast("int")),
            F.lit(" "),
            F.element_at(noun_arr, (F.col("id") / side + 1).cast("int")),
        ),
    )
    variants = base.select(
        F.explode(
            F.array(
                F.col("base"),
                F.concat(F.substring("base", 1, 4), F.expr("substring(base, 6)")),
                F.concat(F.substring("base", 1, 2), F.lit("x"),
                         F.expr("substring(base, 4)")),
            )
        ).alias("name")
    )
    got = resolve_entities(variants)
    sizes = got.groupBy("canonical").count().groupBy("count").count().collect()
    assert {(r["count"], r["count(1)"] if "count(1)" in r else r[1])
            for r in sizes} == {(3, side * side)}, sizes


def test_entity_resolution_short_and_straddle_names(spark):
    """Names below gram_len*(max_dist+1) chars can evade q-gram
    blocking entirely ('abcd'/'axcd' share no 4-gram at distance 1) —
    the SymSpell deletion-key stratum must catch them, including a
    pair that STRADDLES the short/long boundary (11 vs 12 chars)."""
    from jobhouse_spark.operators.entity import resolve_entities

    names = spark.createDataFrame(
        [("abcd",), ("axcd",), ("ibm",), ("ibn",),
         ("sap se",), ("sap s",),
         ("abcdefghijk",), ("abcdefghijkl",),   # 11 vs 12: straddle
         ("zzzzzz",)],                          # singleton
        "name string",
    )
    got = {r["name"]: r["canonical"] for r in resolve_entities(names).collect()}
    assert got == {
        "abcd": "abcd", "axcd": "abcd",
        "ibm": "ibm", "ibn": "ibm",
        "sap se": "sap s", "sap s": "sap s",
        "abcdefghijk": "abcdefghijk", "abcdefghijkl": "abcdefghijk",
        "zzzzzz": "zzzzzz",
    }, got


def test_jh9_repost_audit(spark):
    """Third derivation path for jh9 (the recursive-CTE oracle is the
    second): closed-form expectations from tools/make_fixture_v4.py —
    10 true entities x 12 postings with copy counts (3,2,2,2,2,1) per
    employer — and the composition claim: a RAW-name group-by must
    undercount reposts, because copies were planted under different
    dirty surface forms of the same employer."""
    from pyspark.sql import functions as F

    from jobhouse_spark.queries.jobhouse_gold import _silver_v4, jh9_repost_audit

    rows = jh9_repost_audit(spark, "unused").collect()
    assert len(rows) == 10
    for r in rows:
        assert r.n_postings == 12, r
        assert r.n_contents == 6, r
        assert r.n_reposts == 6, r
        assert r.max_copies == 3, r
        assert r.n_dup_contents == 5, r

    # naive baseline: group content copies by RAW employer name —
    # dirt splits the duplicate groups and hides most reposts
    silver = _silver_v4(spark)
    naive = (
        silver.withColumn(
            "content_key",
            F.concat_ws("|", F.lower(F.trim("title")), F.lower(F.trim("requirement"))),
        )
        .groupBy("employer_name", "content_key")
        .agg(F.count("*").alias("copies"))
        .agg(F.sum(F.col("copies") - 1).alias("reposts"))
        .first()
    )
    resolved_reposts = sum(r.n_reposts for r in rows)
    assert resolved_reposts == 60
    assert naive.reposts < resolved_reposts / 2, (
        naive.reposts, resolved_reposts
    )


def test_jh10_dq_scorecard(spark):
    """Closed-form expectations from tools/make_fixture_v4.py: 120
    items, 24 salary-null (i%5==4), 60 duplicate contents (the planted
    copy scheme), 4 areas, 4 currencies, and min published day 04-01
    vs the 04-12 run date."""
    from jobhouse_spark.queries.jobhouse_gold import jh10_dq_scorecard

    r = jh10_dq_scorecard(spark, "unused").first()
    assert r.n_rows == 120
    assert r.n_null_salary == 24
    assert r.n_dup_contents == 60
    assert r.n_areas == 4
    assert r.n_currencies == 4
    assert r.max_staleness_days == 11
    # partial ranges exist on both sides and never overlap full-null
    assert r.n_from_only > 0 and r.n_to_only > 0
    assert r.n_from_only + r.n_to_only + r.n_null_salary < 120


def test_incremental_resolution_bridges_clusters(spark):
    """The hard case (round-12 verdict task 2): a NEW name within
    max_dist of members of TWO existing clusters must merge them —
    both stored clusters relabel to the re-elected minimum. Planted
    geometry: A='aurora analytics', B='aurorx bnalytica' are ed 3
    apart (separate clusters on day 1); the day-2 batch brings
    M='aurorx analytica' with ed(A,M)=2 and ed(M,B)=1 — the bridge."""
    from jobhouse_spark.operators.entity import (
        resolve_entities,
        resolve_entities_incremental,
    )

    day1 = spark.createDataFrame(
        [("Aurora Analytics",), ("Aurora Analytics LLC",),
         ("aurorx bnalytica",), ("Quasar Shipping",)],
        "name string",
    )
    batch = spark.createDataFrame([("AURORX  ANALYTICA",)], "name string")

    stored = resolve_entities(day1)
    got1 = {r["name"]: r["canonical"] for r in stored.collect()}
    # day 1: two separate aurora-ish clusters + a singleton
    assert got1 == {
        "aurora analytics": "aurora analytics",
        "aurorx bnalytica": "aurorx bnalytica",
        "quasar shipping": "quasar shipping",
    }, got1

    updated = resolve_entities_incremental(batch, stored)
    got2 = {r["name"]: r["canonical"] for r in updated.collect()}
    full = {
        r["name"]: r["canonical"]
        for r in resolve_entities(day1.unionByName(batch)).collect()
    }
    assert got2 == full, (got2, full)
    # and the merge actually happened: B relabeled to the new minimum
    assert got2["aurorx bnalytica"] == "aurora analytics"
    assert got2["aurorx analytica"] == "aurora analytics"
    assert got2["quasar shipping"] == "quasar shipping"


def test_incremental_resolution_equals_full_on_split(spark):
    """Randomized (seeded) split-vs-full equivalence on a corpus with
    typo chains, suffix noise, shared tokens, and short names — every
    stratum and the straddle band exercised. Also: an empty batch and
    a batch that only repeats stored names are no-ops."""
    import random

    from pyspark.sql import functions as F

    from jobhouse_spark.operators.entity import (
        resolve_entities,
        resolve_entities_incremental,
    )

    rng = random.Random(1307)
    words = ["aurora", "borealis", "cascade", "delta", "ember",
             "fathom", "granite", "harbor", "iris", "juno"]
    base = [f"{a} {b}" for a in words for b in words[:5]]
    variants = []
    for n in base:
        variants.append(n)
        variants.append(n + " llc")
        chars = list(n)
        i = rng.randrange(len(chars))
        chars[i] = "x" if chars[i] != "x" else "y"
        variants.append("".join(chars))  # 1-sub typo
    variants += ["ab", "abc", "abcd", "abxd", "zq"]  # short stratum
    rng.shuffle(variants)
    cut = len(variants) * 2 // 3
    day1 = spark.createDataFrame([(v,) for v in variants[:cut]], "name string")
    batch = spark.createDataFrame([(v,) for v in variants[cut:]], "name string")

    stored = resolve_entities(day1)
    inc = resolve_entities_incremental(batch, stored)
    full = resolve_entities(day1.unionByName(batch))
    got = sorted(map(tuple, inc.collect()))
    want = sorted(map(tuple, full.collect()))
    assert got == want

    # no-op batches: empty, and stored-names-only
    empty = spark.createDataFrame([], "name string")
    again = resolve_entities_incremental(empty, stored)
    assert sorted(map(tuple, again.collect())) == sorted(
        map(tuple, stored.collect())
    )
    repeat = day1.limit(5)
    again2 = resolve_entities_incremental(repeat, stored)
    assert sorted(map(tuple, again2.collect())) == sorted(
        map(tuple, stored.collect())
    )


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_incremental_resolution_chained_days(spark):
    """Round-13 verdict task 3: production applies one batch per day
    FOREVER — the single-batch equivalence (jh11) is the inductive
    step, but state corruption would COMPOUND across days. Chain K=4
    sequential daily batches, asserting after EVERY apply that the
    evolving stored mapping equals a from-scratch re-resolve of the
    union so far. The planted geometry puts the cluster bridge ACROSS
    days: day-1 creates cluster A ('aurora analytics'), day-2 creates
    cluster B ('aurorx bnalytica', ed 3 from A — provably separate),
    and day-3's 'aurorx analytica' (ed 2 to A, ed 1 to B) must merge
    a day-1-created and a day-2-created cluster — exactly the
    cross-day relabeling a subtly stale stored map would get wrong.
    Day-4 is pure churn + a resubmission, pinning that the merged
    state keeps absorbing ordinary days."""
    from pyspark.sql import functions as F  # noqa: F401

    from jobhouse_spark.operators.entity import (
        resolve_entities,
        resolve_entities_incremental,
    )

    def df(names):
        return spark.createDataFrame([(n,) for n in names], "name string")

    day0 = df(["Quasar Shipping", "Quasar Shipping LLC", "Nimbus Freight"])
    days = [
        ["Aurora Analytics", "Nimbus  FREIGHT"],          # day 1: cluster A
        ["aurorx bnalytica", "Granite Harbor"],           # day 2: cluster B
        ["AURORX  ANALYTICA"],                            # day 3: the bridge
        ["Granite Harbor Ltd", "Quasar Shipping"],        # day 4: churn+resubmit
    ]

    stored = resolve_entities(day0)
    union = day0
    snapshots = []
    for k, batch_names in enumerate(days, start=1):
        batch = df(batch_names)
        stored = resolve_entities_incremental(batch, stored)
        union = union.unionByName(batch)
        got = sorted(map(tuple, stored.collect()))
        want = sorted(map(tuple, resolve_entities(union).collect()))
        assert got == want, f"chained apply diverged from rebuild at day {k}"
        snapshots.append({name: canon for name, canon in got})

    # the bridge really spanned days: separate clusters after day 2,
    # one cluster (relabeled to the re-elected minimum) after day 3
    assert snapshots[1]["aurora analytics"] == "aurora analytics"
    assert snapshots[1]["aurorx bnalytica"] == "aurorx bnalytica"
    assert snapshots[2]["aurorx bnalytica"] == "aurora analytics"
    assert snapshots[2]["aurorx analytica"] == "aurora analytics"
    # day-4 churn didn't disturb the merged cluster, and the
    # resubmitted stored name stayed a no-op
    assert snapshots[3]["aurorx bnalytica"] == "aurora analytics"
    assert snapshots[3]["quasar shipping"] == snapshots[0]["quasar shipping"]
