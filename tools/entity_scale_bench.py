"""Entity-resolution scale ladder (round 11): resolve_entities at
entity cardinalities the jh8 fixture can't reach.

jh8 proves the pipeline hash-exact on 10 entities; this tool proves the
SHAPE at 10^4-10^6 dirty names: generate E synthetic companies
("<adj> <noun>" from two seeded wordlists, pairwise Levenshtein >= 5
within each list, so a distance-2 threshold can never bridge two true
entities even typo-to-typo — the fixture-v3 separation argument at
scale), plant the v3 variant kinds per entity (suffix / case /
whitespace dirt + a deletion typo + a substitution typo, all Spark-side
string surgery, no Python row functions), run
operators/entity.resolve_entities, and assert EXACT recovery:

  - number of clusters == E,
  - every cluster has exactly 3 normalized members
    (clean / deletion-typo / substitution-typo),

then measure the map-back join onto an R-rows-per-name postings corpus.

Why this scales where naive fuzzy matching dies: at E=250k the shared
word grams ("aurb" appears in sqrt(E)*3 names) blow past the df cap and
are dropped as stop-grams; candidate pairs then come ONLY from the
rare combo-specific grams (the adj-tail/space/noun-head boundary
region, which deletion/substitution typos leave intact past the edit
point). The df cap is what keeps the inverted-index join linear-ish —
this ladder measures exactly that mechanism.

`--corpus=zipf` (round 12) swaps the adversarial GRID corpus for a
REALISTIC one: real name corpora are cohort-structured — a power-law
head of brand stems shared by many entities ("Aurora Capital", "Aurora
Consulting", ...) and a long tail of one-off names — not a grid where
every word is shared by sqrt(E) entities. Construction: cohort k gets
``max(1, floor(C * k^-1.1))`` members (capped at 1000); every member
of a cohort shares a two-word brand (A[k%1000] + B[k//1000], the same
pairwise-Levenshtein>=5 separated lists) and is distinguished by a
third word from a separated 1000-list, hash-rotated per cohort so the
tail doesn't concentrate on one token. Separation argument: any two
distinct entities differ in at least one component word by >= 5, so a
distance-2 threshold cannot bridge them even typo-to-typo — exact
recovery stays assertable at any E. The rung records per-stage
candidate-pair counts (resolve_entities stats_out) to establish the
production operating point the adversarial grid's E^1.4 wall
overstates.

Usage:
  python tools/entity_scale_bench.py [--entities=100000] [--rows-per=5]
         [--corpus=grid|zipf] [--json=PATH]
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 12g).

`--incremental=K` (round 13): the production daily-ingest rung. Hold
out K entities' variants as the day-2 batch, fully resolve the rest
(the stored map / day-0 build), apply the batch with
resolve_entities_incremental, and rebuild from scratch on the union as
the honest denominator. Asserts exact recovery AND incremental ==
rebuild row-for-row; reports marginal-vs-rebuild wall ratio.
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def make_wordlist(seed: int, n: int, min_dist: int = 5) -> list[str]:
    """n pronounceable-ish words, pairwise Levenshtein >= min_dist
    (greedy filter over seeded candidates)."""
    rng = random.Random(seed)
    cons, vow = "bcdfghjklmnpqrstvwz", "aeiou"
    words: list[str] = []
    while len(words) < n:
        w = "".join(
            (rng.choice(cons) + rng.choice(vow) for _ in range(rng.randint(4, 5)))
        )
        if all(_levenshtein(w, x) >= min_dist for x in words):
            words.append(w)
    return words


def _zipf_base(spark, F, n_entities: int, c_head: int, open_vocab: bool = False):
    """Cohort-structured corpus: power-law head of shared brands +
    singleton tail; see module docstring. Returns (id, base).

    Brand words are per-cohort pseudo-random 5-syllable CVC strings
    (space 1805^5 ~ 1.9e16): vocabulary cardinality grows WITH the
    corpus, which is the property that separates a real name corpus
    from the adversarial grid — brand-interior grams have df ~ cohort
    size, so prefix buckets stay bounded and candidate volume stays
    near-linear. Cross-cohort separation is probabilistic but
    overwhelming (expected d<=4 brand pairs < 1 at 1M cohorts; a
    collision would break clusters == E and be visible). Within a
    cohort the distinguisher comes from the pairwise-Levenshtein>=5
    separated 1000-list, so same-brand entities are provably
    unbridgeable at distance 2."""
    sizes: list[int] = []
    total, k = 0, 1
    while total < n_entities:
        s = min(1000, max(1, int(c_head * k ** -1.1)))
        if s == 1:
            break  # the rest of the corpus is the singleton tail
        sizes.append(s)
        total += s
        k += 1
    while total > n_entities and sizes:
        trim = min(sizes[-1], total - n_entities)
        sizes[-1] -= trim
        total -= trim
        if sizes[-1] == 0:
            sizes.pop()
    n_tail = n_entities - total
    nn = make_wordlist(37, 1000)
    n_arr = F.array(*[F.lit(w) for w in nn])
    cons, vow = "bcdfghjklmnpqrstvwz", "aeiou"
    cons_arr = F.array(*[F.lit(c) for c in cons])
    vow_arr = F.array(*[F.lit(v) for v in vow])

    def brand(cohort):
        # 5 pseudo-random CVC syllables from the cohort id — pure
        # codegen (hash + element_at), no driver-side vocabulary
        parts = []
        for s in range(5):
            for arr, card, salt in ((cons_arr, 19, s * 3),
                                    (vow_arr, 5, s * 3 + 1),
                                    (cons_arr, 19, s * 3 + 2)):
                idx = F.pmod(F.hash(cohort, F.lit(salt)), F.lit(card)) + 1
                parts.append(F.element_at(arr, idx.cast("int")))
        return F.concat(*parts)

    head = (
        spark.createDataFrame(
            [(i, s) for i, s in enumerate(sizes)], "cohort long, size long"
        )
        .select(
            "cohort",
            F.explode(F.sequence(F.lit(0), F.col("size") - 1)).alias("j"),
        )
    )
    tail = spark.range(n_tail).select(
        (F.lit(len(sizes)) + F.col("id")).alias("cohort"),
        F.lit(0).alias("j"),
    )
    ents = head.unionByName(tail).repartition(32)
    m = (F.col("j") + F.pmod(F.hash("cohort"), F.lit(1000))) % 1000
    closed_dist = F.element_at(n_arr, (m + 1).cast("int"))
    if open_vocab:
        # OPEN distinguisher vocabulary for the singleton tail: a
        # hash-random 3-syllable word per cohort. Exactness argument
        # unchanged — distinguisher separation is only REQUIRED
        # within a cohort (cross-cohort names already differ by the
        # random brand), and singletons have no within-cohort pairs;
        # multi-member cohorts keep the separated 1000-list. This is
        # the realistic regime: tail token df stays O(1) as E grows
        # instead of O(E/1000).
        rand_dist = F.concat(*[
            F.element_at(arr, (F.pmod(F.hash("cohort", F.lit(salt)),
                                      F.lit(card)) + 1).cast("int"))
            for s in range(3)
            for arr, card, salt in ((cons_arr, 19, 100 + s * 3),
                                    (vow_arr, 5, 101 + s * 3),
                                    (cons_arr, 19, 102 + s * 3))
        ])
        dist = F.when(F.col("cohort") < len(sizes), closed_dist) \
            .otherwise(rand_dist)
    else:
        dist = closed_dist
    return ents.select(
        F.monotonically_increasing_id().alias("id"),
        F.concat(brand(F.col("cohort")), F.lit(" "), dist).alias("base"),
    )


def _incremental_rung(spark, F, opt, variants, n_entities, inc_k, n_raw):
    """Day-0 full resolve on E-K entities, then the held-out K
    entities' variants applied incrementally — as ONE day-2 batch by
    default, or as `--chain=N` SEQUENTIAL daily batches (the variants
    of a held-out entity are hash-scattered across the N days, so
    cross-day cluster bridges arise naturally: a day-1 deletion typo
    and a day-2 substitution typo sit in separate stored clusters
    until a later day's clean form merges them). Each batch also
    carries a 1%% resubmission slice of stored names (the no-op
    path). Rebuild-on-union is the denominator; the FINAL mapping must
    equal it row-for-row.

    Pass criterion (ADVICE r13): the GRID corpus is constructed for
    provable exact recovery (clusters == E, every cluster exactly 3
    members) and gates on it; the ZIPF corpus's cross-cohort
    separation is probabilistic (random CVC brands; open-vocab tail
    distinguishers), so its gate is the equivalence contract
    (incremental chain == rebuild) — exact recovery is still computed
    and reported, it just can't spuriously fail the rung on a brand
    collision the resolver handled consistently on both sides."""
    import json as _json
    import shutil as _shutil
    import sys as _sys
    import tempfile as _tempfile
    import time as _time

    from jobhouse_spark.operators.entity import (
        EntityGramIndex,
        _delkey_rows,
        _long_gram_rows,
        build_entity_index,
        normalize_entity_name,
        resolve_entities,
        resolve_entities_incremental,
        resolve_entities_incremental_indexed,
    )

    chain_n = max(1, int(opt.get("chain", "1")))
    # honor --gram-len on ALL THREE resolves (day0 / incremental /
    # rebuild): the zipf ladder's 1M operating point is q=6 — CVC text
    # has only ~5M distinct 6-grams and far fewer 4-grams, so q=4 at
    # 3M nodes drowns in birthday-collision candidates (SCALE.md
    # "Open distinguisher vocabulary"); the r14 first attempt at q=4
    # sat in levenshtein for 50 minutes before its timeout
    gram_len = int(opt.get("gram-len", "4"))

    # freeze the generated ids (zipf uses monotonically_increasing_id,
    # which is plan-layout-dependent) and avoid regenerating the corpus
    # on every action below
    variants = variants.localCheckpoint(eager=True)
    # hash-fraction holdout: ~inc_k of the E entities become the batch;
    # every variant of an entity lands on the same side
    permille = max(1, round(1000 * inc_k / n_entities))
    is_batch = F.pmod(F.hash(F.col("id").cast("string")), F.lit(1000)) < permille
    stored_names = variants.filter(~is_batch).select("name")
    resubmission = variants.filter(
        ~is_batch & (F.col("id") % 100 == 0)
    ).select("name")
    k_actual = variants.filter(is_batch).select("id").distinct().count()

    t0 = _time.perf_counter()
    stored = resolve_entities(stored_names, gram_len=gram_len).persist()
    n_stored = stored.count()
    t_day0 = round(_time.perf_counter() - t0, 1)

    # --indexed=1: bootstrap the stored blocking index once (parquet
    # tables, the production shape), then apply every batch through
    # resolve_entities_incremental_indexed with a STALE df snapshot;
    # each step appends only the batch's delta gram rows (new files in
    # the parquet dirs — the real daily maintenance cost, timed inside
    # the step wall)
    indexed = opt.get("indexed", "0") == "1"
    idx_dir = None
    t_index = None
    if indexed:
        t0 = _time.perf_counter()
        idx_dir = _tempfile.mkdtemp(prefix="jh_entidx_")
        build_entity_index(stored_names, gram_len=gram_len, max_dist=2).save(
            idx_dir
        )
        t_index = round(_time.perf_counter() - t0, 1)

    # apply the held-out work as chain_n sequential daily batches;
    # day assignment is per-VARIANT (hash of the raw name), so one
    # entity's clean/typo forms split across days and later days
    # genuinely merge earlier days' partial clusters
    day_col = F.pmod(F.hash(F.col("name")), F.lit(chain_n))
    step_walls: list[float] = []
    step_sizes: list[int] = []
    step_stats: list[dict] = []
    current = stored
    for d in range(chain_n):
        b = variants.filter(is_batch & (day_col == d)).select("name") \
            .unionAll(resubmission)
        t0 = _time.perf_counter()
        st: dict = {}
        # localCheckpoint, not persist: the resolver references the
        # stored map >=4 times, so chaining un-truncated lineage grows
        # the analyzed logical plan ~4x PER DAY (the r14 first chain
        # run's per-step walls rose 56->99 s while batches SHRANK —
        # pure plan-analysis blowup, same trap ALS/GraphFrames
        # checkpoint against). Production reads the stored map from a
        # parquet table each day, which is what checkpointing models.
        if indexed:
            idx = EntityGramIndex.load(spark, idx_dir)
            nxt, _ = resolve_entities_incremental_indexed(
                b, current, idx, stats_out=st
            )
            nxt = nxt.localCheckpoint(eager=True)
            n_cur = nxt.count()
            # append the batch delta to the stored index tables
            # (anti-join against the PRE-batch domain, like the
            # resolver's own new_nodes; df snapshot left stale)
            new_nodes = (
                b.select(normalize_entity_name(F.col("name")).alias("name"))
                .filter(F.col("name") != "")
                .distinct()
                .join(current.select("name"), "name", "left_anti")
            )
            _long_gram_rows(new_nodes, gram_len, 2).write.mode(
                "append"
            ).parquet(f"{idx_dir}/postings")
            _delkey_rows(new_nodes, gram_len, 2).write.mode(
                "append"
            ).parquet(f"{idx_dir}/delkeys")
        else:
            nxt = resolve_entities_incremental(
                b, current, gram_len=gram_len, stats_out=st
            ).localCheckpoint(eager=True)
            n_cur = nxt.count()
        step_walls.append(round(_time.perf_counter() - t0, 1))
        step_sizes.append(int(st.get("new_nodes", -1)))
        step_stats.append(st)
        if current is not stored:
            current.unpersist()
        current = nxt
    inc, n_inc = current, n_cur
    t_inc = round(sum(step_walls), 1)

    t0 = _time.perf_counter()
    full = resolve_entities(variants.select("name"), gram_len=gram_len).persist()
    n_full = full.count()
    t_rebuild = round(_time.perf_counter() - t0, 1)

    cl = (
        inc.groupBy("canonical").agg(F.count("*").alias("m"))
        .agg(F.count("*").alias("clusters"), F.min("m").alias("mn"),
             F.max("m").alias("mx"))
        .first()
    )
    diff = inc.exceptAll(full).count() + full.exceptAll(inc).count()
    equiv = diff == 0 and n_inc == n_full
    recovery = cl.clusters == n_entities and cl.mn == cl.mx == 3
    is_grid = opt.get("corpus", "grid") != "zipf"
    ok = (equiv and recovery) if is_grid else equiv
    summary = {
        "metric": "entity_incremental_rung",
        "corpus": opt.get("corpus", "grid"),
        "dist_vocab": (opt.get("dist-vocab", "closed")
                       if opt.get("corpus") == "zipf" else None),
        "entities": n_entities,
        "batch_entities": k_actual,
        "chain_days": chain_n,
        "gram_len": gram_len,
        "raw_names": n_raw,
        "stored_nodes": n_stored,
        "union_nodes": n_full,
        "clusters": int(cl.clusters),
        "members_min_max": [int(cl.mn), int(cl.mx)],
        "incremental_stats": (step_stats[0] if chain_n == 1 else step_stats),
        "incremental_equals_rebuild": bool(equiv),
        "exact_recovery": bool(recovery),
        "pass_criterion": "equivalence+recovery" if is_grid else "equivalence",
        **({"indexed": True, "day0_index_wall_s": t_index} if indexed else {}),
        "day0_wall_s": t_day0,
        "incremental_wall_s": t_inc,
        **({"chain_step_walls_s": step_walls,
            "chain_step_new_nodes": step_sizes} if chain_n > 1 else {}),
        "rebuild_wall_s": t_rebuild,
        "marginal_vs_rebuild": round(t_inc / max(t_rebuild, 1e-9), 3),
        # production-fair chain metric: N daily applies vs N daily
        # rebuilds (marginal_vs_rebuild divides the SUM of applies by
        # ONE rebuild, which overstates chain cost by a factor of N)
        **({"marginal_vs_daily_rebuilds":
            round(t_inc / max(chain_n * t_rebuild, 1e-9), 3)}
           if chain_n > 1 else {}),
    }
    print(_json.dumps(summary))
    out = opt.get("json")
    if out:
        with open(out, "w") as f:
            _json.dump(summary, f, indent=1)
    rungs_path = opt.get("append-json")
    if rungs_path:
        try:
            with open(rungs_path) as f:
                doc = _json.load(f)
        except (OSError, ValueError):
            doc = {"rungs": []}
        doc.setdefault("rungs", []).append(summary)
        with open(rungs_path, "w") as f:
            _json.dump(doc, f, indent=1)
    if idx_dir:
        _shutil.rmtree(idx_dir, ignore_errors=True)
    _sys.exit(0 if ok else 1)


def main() -> None:
    opt = {a.split("=")[0][2:]: a.split("=", 1)[1]
           for a in sys.argv[1:] if a.startswith("--") and "=" in a}
    n_entities = int(opt.get("entities", "100000"))
    rows_per = int(opt.get("rows-per", "5"))

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "12g")
    from pyspark.sql import functions as F

    from jobhouse_spark.operators.entity import (
        normalize_entity_name,
        resolve_entities,
    )
    from jobhouse_spark.session import get_spark

    spark = get_spark(app_name="entity_scale_bench")

    corpus = opt.get("corpus", "grid")
    if corpus == "zipf":
        base = _zipf_base(spark, F, n_entities, int(opt.get("zipf-c", "2000")),
                          open_vocab=opt.get("dist-vocab") == "open")
    else:
        side = math.isqrt(n_entities - 1) + 1
        adjs = make_wordlist(11, side)
        nouns = make_wordlist(23, side)
        adj_arr = F.array(*[F.lit(w) for w in adjs])
        noun_arr = F.array(*[F.lit(w) for w in nouns])

        base = (
            spark.range(n_entities)
            .withColumn(
                "base",
                F.concat(
                    F.element_at(adj_arr, (F.col("id") % side + 1).cast("int")),
                    F.lit(" "),
                    F.element_at(noun_arr, (F.col("id") / side + 1).cast("int")),
                ),
            )
        )
    # the fixture-v3 variant kinds, as JVM-side string surgery
    variants = base.select(
        "id",
        F.explode(
            F.array(
                F.col("base"),                                   # clean
                F.concat(F.col("base"), F.lit(" LLC")),          # suffix
                F.concat(F.col("base"), F.lit(" Ltd")),
                F.concat(F.col("base"), F.lit(" Group")),
                F.upper(F.regexp_replace("base", " ", "  ")),    # shouting
                F.concat(F.col("base"), F.lit(" inc")),
                # deletion typo: drop the 5th character
                F.concat(F.substring("base", 1, 4), F.expr("substring(base, 6)")),
                # substitution typo: 3rd character -> 'x'
                F.concat(F.substring("base", 1, 2), F.lit("x"),
                         F.expr("substring(base, 4)")),
            )
        ).alias("name"),
    )
    n_raw = variants.count()

    inc_k = int(opt.get("incremental", "0"))
    if inc_k:
        _incremental_rung(spark, F, opt, variants, n_entities, inc_k, n_raw)
        return

    stage_stats: dict = {}
    gram_len = int(opt.get("gram-len", "4"))
    t0 = time.perf_counter()
    mapping = resolve_entities(
        variants.select("name"),
        gram_len=gram_len,
        stats_out=stage_stats if opt.get("stats", "1") == "1" else None,
    )
    mapping = mapping.persist()
    n_nodes = mapping.count()
    resolve_wall = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    stats = (
        mapping.groupBy("canonical").agg(F.count("*").alias("members"))
        .agg(
            F.count("*").alias("clusters"),
            F.min("members").alias("min_m"),
            F.max("members").alias("max_m"),
        )
        .first()
    )
    verify_wall = round(time.perf_counter() - t0, 1)
    ok = stats.clusters == n_entities and stats.min_m == stats.max_m == 3

    # map-back: R posting rows per raw name join the (normalized ->
    # canonical) map; no manual broadcast hint — measure what AQE picks
    t0 = time.perf_counter()
    postings = (
        variants.crossJoin(spark.range(rows_per).select(F.col("id").alias("r")))
        .select("name", "r")
        .withColumn("norm", normalize_entity_name(F.col("name")))
    )
    mart = (
        postings.join(mapping.withColumnRenamed("name", "mname"),
                      postings["norm"] == F.col("mname"))
        .groupBy("canonical")
        .agg(F.count("*").alias("n_postings"))
        .agg(F.count("*").alias("k"), F.sum("n_postings").alias("rows"))
        .first()
    )
    mapback_wall = round(time.perf_counter() - t0, 1)

    summary = {
        "metric": "entity_scale_bench",
        "corpus": corpus,
        "stage_stats": stage_stats,
        "entities": n_entities,
        "gram_len": gram_len,
        "dist_vocab": opt.get("dist-vocab", "closed") if corpus == "zipf" else None,
        "raw_names": n_raw,
        "distinct_normalized": n_nodes,
        "clusters": int(stats.clusters),
        "members_min_max": [int(stats.min_m), int(stats.max_m)],
        "exact_recovery": bool(ok),
        "resolve_wall_s": resolve_wall,
        "verify_wall_s": verify_wall,
        "mapback_rows": int(mart.rows),
        "mapback_wall_s": mapback_wall,
    }
    print(json.dumps(summary))
    out = opt.get("json")
    if out:
        with open(out, "w") as f:
            json.dump(summary, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
