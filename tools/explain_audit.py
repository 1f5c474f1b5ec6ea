"""Plan audit: assert the physical plans we designed for actually
materialize (SURVEY steering: '.explain the plan and iterate until it's
the plan you'd want').

Checks, per headline query:
- filters are pushed to the parquet scan (PushedFilters non-empty),
- scans read only the referenced columns (ReadSchema width),
- dim joins are broadcast (BroadcastHashJoin, no SortMergeJoin),
- global top-k compiles to TakeOrderedAndProject.

Run: python tools/explain_audit.py   (exit 1 on any violation)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from jobhouse_spark.queries import all_queries
from jobhouse_spark.session import get_spark

# AQE/broadcast decisions are size-dependent: the same audit must hold
# on the scale-ladder layouts, not just the tiny default (pass the data
# dir as argv[1], e.g. /tmp/jh_scale_30x — VERDICT r7 task #4).
_ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
SF_DIR = _ARGS[0] if _ARGS else "/root/testdata/sf0.01"


def plan_of(spark, name: str) -> str:
    df = all_queries()[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def main() -> None:
    spark = get_spark("explain_audit")
    failures: list[str] = []

    def check(cond: bool, msg: str) -> None:
        if not cond:
            failures.append(msg)

    p = plan_of(spark, "g1_groupby_agg")
    check("PushedFilters: [IsNotNull(l_shipdate)" in p, "g1: shipdate filter not pushed")
    check("l_orderkey" not in p.split("ReadSchema")[1][:400], "g1: reads unneeded columns")
    check("HashAggregate" in p, "g1: no hash aggregate")

    p = plan_of(spark, "p2_filter")
    check("GreaterThan(l_quantity,30.0)" in p, "p2: quantity filter not pushed")
    check(
        "struct<l_quantity:double,l_discount:double>" in p,
        "p2: scan wider than 2 columns",
    )

    p = plan_of(spark, "j3_broadcast")
    check(p.count("BroadcastHashJoin") >= 2, "j3: dims not broadcast")
    check("SortMergeJoin" not in p, "j3: unexpected SMJ")

    p = plan_of(spark, "o1_global_sort")
    check("TakeOrderedAndProject" in p, "o1: top-k not fused (global sort!)")

    p = plan_of(spark, "j1_inner_equi")
    check("PushedFilters: [IsNotNull(c_nationkey)]" in p, "j1: join-key null filter not pushed")

    p = plan_of(spark, "w4_topk_per_group")
    check("Window" in p, "w4: no window node")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.MULTILINE))
    check(n_exchanges <= 2, f"w4: {n_exchanges} shuffles (expect window + sort only)")
    # Spark 3.5+ pushes the rank limit below the shuffle — top-3 rows per
    # group leave each map task, not whole groups
    check("WindowGroupLimit" in p, "w4: rank-limit pushdown missing")

    p = plan_of(spark, "q6_forecast_revenue")
    check("PushedFilters" in p and "l_shipdate" in p.split("PushedFilters")[1][:300],
          "q6: shipdate filter not pushed to scan")
    check(
        "l_extendedprice" in p.split("ReadSchema")[1][:300]
        and "l_orderkey" not in p.split("ReadSchema")[1][:300],
        "q6: scan not pruned to the 4 referenced columns",
    )

    p = plan_of(spark, "q19_disjunctive_revenue")
    check("BroadcastHashJoin" in p, "q19: part dim not broadcast")
    check("SortMergeJoin" not in p, "q19: unexpected SMJ on a dim join")

    p = plan_of(spark, "q18_large_volume_customer")
    check("LeftSemi" in p, "q18: IN-subquery not planned as semi join")
    check("TakeOrderedAndProject" in p, "q18: top-100 not fused")

    p = plan_of(spark, "q2_min_cost_supplier")
    check("WindowGroupLimit" in p, "q2: rn=1 argmin missing rank-limit pushdown")

    p = plan_of(spark, "q21_waiting_supplier")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "q21: existence probes fell back to nested-loop join")
    check("LeftSemi" in p and "LeftAnti" in p,
          "q21: EXISTS/NOT EXISTS not planned as semi/anti joins")

    p = plan_of(spark, "sq5_lateral_topk")
    check("WindowGroupLimit" in p,
          "sq5: lateral LIMIT not decorrelated into a rank-limit window")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "sq5: lateral join fell back to nested loop")

    p = plan_of(spark, "j13_null_safe_join")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "j13: null-safe equality not planned as a hash-able join")

    p = plan_of(spark, "f9_variant")
    check("props" in p.split("ReadSchema")[1][:200]
          and "user_id" not in p.split("ReadSchema")[1][:200],
          "f9: variant scan not pruned to (event_type, props)")

    p = plan_of(spark, "l9_rolling_fingerprint")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l9: rolling fingerprint left the JVM")

    p = plan_of(spark, "l11_doc_chunking")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l11: chunking left the JVM")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.MULTILINE))
    check(n_exchanges <= 1, f"l11: {n_exchanges} shuffles (expect final sort only)")

    p = plan_of(spark, "l13_contamination_overlap")
    check("BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "l13: eval shingle set not broadcast")
    check(p.count("transform(") <= 2,
          "l13: shingle expr duplicated into pushed filters "
          "(InferFiltersFromGenerate regression)")

    p = plan_of(spark, "l2b_ngram_jaccard")
    check(p.count("transform(") <= 2,
          "l2b: shingle expr duplicated into pushed filters "
          "(InferFiltersFromGenerate regression)")

    p = plan_of(spark, "l2b2_ngram_jaccard_capped")
    check("ExistingRDD" in p,
          "l2b2: pruned inverted index not materialized "
          "(shingle pipeline would recompute per self-join branch)")
    check("Generate" not in p,
          "l2b2: shingle explode inlined into the self-join branches "
          "(corpus tokenized per consumer)")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.MULTILINE))
    # scale-dependent by design — the plan upgrades two joins from
    # broadcast to SMJ as their build sides outgrow the threshold:
    # sf0.01 = 4 exchanges (2x sizes agg + pair agg + final sort; both
    # joins broadcast), 30x = 6 (+2 shingle shuffles, self-join goes
    # SMJ), 100x = 8 (+2 doc shuffles, the per-doc sizes join goes SMJ
    # too — at real corpus sizes broadcasting one-row-per-doc would
    # OOM, and AQE can still demote it back at runtime). The bound is
    # selected per layout so the default-sf run still catches a
    # plan-branch recompute (the 8-Generate regression the
    # ExistingRDD/Generate checks above also guard) — pinning the
    # loosest rung everywhere would let 4->8 regressions pass silently.
    l2b2_bound = 4 if "testdata" in SF_DIR else (6 if "30x" in SF_DIR else 8)
    check(n_exchanges <= l2b2_bound,
          f"l2b2: {n_exchanges} shuffles (bound {l2b2_bound} for {SF_DIR}; "
          "sizes + self-join + pair agg expected)")
    check("CartesianProduct" not in p, "l2b2: capped self-join degenerated")

    p = plan_of(spark, "l22_chunk_embed_ann")
    check("BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "l22: probes not broadcast into the cell-pruned ANN join")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l22: hashing-trick embedder left the JVM")
    check("CartesianProduct" not in p, "l22: ANN probe fell back to a cross product")

    p = plan_of(spark, "l23_semantic_dedup")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l23: integer cell assignment left the JVM")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "l23: per-cell pair test degenerated to a cross product")
    # the triangle sub-shard keys must survive refactors: without them a
    # hot cell serializes the pair stage (measured 828 s at 30x; AQE
    # cannot see compute-per-pair skew — SCALE.md SemDeDup post-mortem).
    # Match s1#/s2# attribute refs inside the JOIN's key list — not bare
    # substrings ('s1' occurs as a fragment of other attribute/codegen
    # names), and not hashpartitioning (at small sf the stats make the
    # pair join a BroadcastHashJoin with no exchange at all; the keys
    # line is the scale-invariant signature of the sub-sharded join).
    check(re.search(r"keys \[\d+\]: \[[^\]]*\bs1#\d+[^\]]*\bs2#\d+", p) is not None,
          "l23: pair join lost the (cell, s1, s2) sub-shard keys")

    p = plan_of(spark, "l23b_semantic_dedup_scaled")
    # assignment strategy is scale-dependent BY DESIGN: k <= 128 stays
    # pure-JVM expressions; a k-from-N codebook past 8192 components
    # must take the Arrow/numpy path (the CodegenFallback argmin cliff,
    # operators/ann.py). Row-at-a-time Python is wrong at every scale.
    check("BatchEvalPython" not in p,
          "l23b: cell assignment fell back to row-at-a-time Python")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "l23b: per-cell pair test degenerated to a cross product")
    check(re.search(r"keys \[\d+\]: \[[^\]]*\bs1#\d+[^\]]*\bs2#\d+", p) is not None,
          "l23b: pair join lost the (cell, s1, s2) sub-shard keys")

    p = plan_of(spark, "l23c_semantic_dedup_collapsed")
    # the whole point of the collapsed form is ONE quantization pass
    # shared by the group-agg and the replica join — the barrier must
    # materialize (ExistingRDD), not let Catalyst inline micro_vec into
    # every branch; and the rep-level pair stage keeps the sub-sharded
    # join (inherited from semantic_dedup).
    check("ExistingRDD" in p,
          "l23c: quantization barrier gone (micro_vec recomputed per branch)")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "l23c: a join degenerated to a cross product")
    check(re.search(r"keys \[\d+\]: \[[^\]]*\bs1#\d+[^\]]*\bs2#\d+", p) is not None,
          "l23c: rep pair join lost the (cell, s1, s2) sub-shard keys")
    check("BatchEvalPython" not in p,
          "l23c: cell assignment fell back to row-at-a-time Python")

    p = plan_of(spark, "jh4_gold_employer_features")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "jh4: title feature embedder left the JVM")
    check(p.count("HashAggregate") >= 2,
          "jh4: employer rollup lost map-side partial aggregation")

    p = plan_of(spark, "l14_bm25")
    check("SortMergeJoin" not in p, "l14: idf/stats joins not broadcast")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l14: scoring left the JVM")
    # round-14 single-pass contract: one tokenize pass per phase (stats
    # + scoring), no per-term explosion, no corpus-sized groupBy — the
    # r13 shape was 4 scans / 5 exchanges
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    check(n_scans <= 2, f"l14: {n_scans} corpus scans (stats pivot gone)")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.MULTILINE))
    check(n_exchanges <= 2,
          f"l14: {n_exchanges} exchanges (corpus-sized groupBy is back)")

    # --- round-14 single-scan contracts (multi-reference recompute fix) ---
    p = plan_of(spark, "g20_psi_drift")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    check(n_scans <= 1, f"g20: {n_scans} corpus scans (r13 self-joins are back)")
    check("Join" not in p, "g20: joins reappeared (map/HOF grid eval gone)")

    p = plan_of(spark, "e5_dau_wau_stickiness")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    check(n_scans <= 1, f"e5: {n_scans} corpus scans (pair-proxy shape gone)")
    check("Join" not in p, "e5: dau/wau joins reappeared")

    p = plan_of(spark, "l6c_unigram_logprob")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    check(n_scans <= 2,
          f"l6c: {n_scans} corpus scans (stats re-derives the unigram table)")

    p = plan_of(spark, "jh5_vacancy_lifecycle")
    # chained SCD2 applies must truncate lineage between days: without
    # the snapshot/history checkpoints the replay-silver subtree is
    # referenced multiplicatively (12 bronze scans in the r13 plan).
    # Gate on the BRONZE-SOURCE SCAN COUNT (<= one per snapshot day,
    # json or parquet — ADVICE r14), not on the ExistingRDD mechanism:
    # any lineage-truncation implementation (localCheckpoint, cache +
    # materialize, a persisted history table) that yields at most one
    # source read per day passes; a plan that re-scans bronze fails
    # regardless of which truncation nodes it also contains.
    n_source_scans = len(
        re.findall(r"^\(\d+\) Scan (?:json|parquet)", p, re.MULTILINE))
    check(n_source_scans <= 3,
          f"jh5: {n_source_scans} bronze-source scans (> one per "
          "snapshot day — scd2 chain lost its lineage truncation)")

    p = plan_of(spark, "a8b_bronze_hive_pruned")
    check("PartitionFilters" in p and "day" in p.split("PartitionFilters")[1][:200],
          "a8b: day predicate not a partition filter (directory pruning lost)")

    p = plan_of(spark, "l18_pii_redaction")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l18: redaction left the JVM")
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", p, re.MULTILINE))
    check(n_exchanges <= 1, f"l18: {n_exchanges} shuffles (map-only + final sort)")

    p = plan_of(spark, "l20_corpus_ngram_counts")
    check("TakeOrderedAndProject" in p, "l20: top-50 not fused (global sort!)")
    check(p.count("HashAggregate") >= 2,
          "l20: no partial+final aggregate (map-side combine lost)")

    p = plan_of(spark, "l5b_frame_sampling")
    check("ArrowEvalPython" in p or "MapInPandas" in p or "PythonMapInArrow" in p
          or "FlatMapGroupsInPandas" in p or "MapInPandasExec" in p or "mapInPandas" in p.lower(),
          "l5b: frame sampling not an Arrow-batched Python map stage")

    p = plan_of(spark, "l10b_deterministic_sample")
    check("WindowGroupLimit" in p,
          "l10b: per-stratum sample cap missing rank-limit pushdown")

    p = plan_of(spark, "l24_domain_mixture")
    # the scale contract of mixture_select: the rank window partitions
    # on (group, hash-prefix bucket) — NOT group alone, which would be a
    # |domains|-task skewed sort at scale
    check(re.search(r"windowspecdefinition\(_g#\d+, _b#\d+", p) is not None,
          "l24: rank window lost the hash-prefix bucket key (per-domain global sort)")
    # offsets/quota/weights are tiny — all joins broadcast
    check("SortMergeJoin" not in p and "CartesianProduct" not in p,
          "l24: a tiny stats join planned as SMJ/cartesian")
    # bucket_counts barrier: without it the three stat consumers
    # re-scan the corpus (4 scans instead of 2). Count node HEADERS in
    # the details section — the formatted string lists every node twice
    # (tree + details), so a raw substring count double-counts.
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    check(n_scans <= 2, f"l24: {n_scans} corpus scans (stats barrier gone)")

    p = plan_of(spark, "l26_kmeans_refine_checked")
    # both assignment passes must be JVM expressions at small k (the
    # large-k numpy path is ArrowEvalPython by design; row-at-a-time
    # Python is wrong at every scale), and the assignment barrier must
    # hold (one quantization+assignment pass feeding update + reassign)
    check("BatchEvalPython" not in p,
          "l26: assignment fell back to row-at-a-time Python")
    check("ExistingRDD" in p,
          "l26: assignment barrier gone (argmin recomputed per branch)")
    check("SortMergeJoin" not in p and "CartesianProduct" not in p,
          "l26: stats join planned as SMJ/cartesian")

    p = plan_of(spark, "l24b_token_budget_mixture")
    # the cumsum must stay (group, hash-prefix bucket)-partitioned —
    # same scale contract as l24, generalized from ranks to budgets
    check(re.search(r"windowspecdefinition\(_g#\d+, _b#\d+", p) is not None,
          "l24b: cumsum window lost the hash-prefix bucket key")
    check("SortMergeJoin" not in p and "CartesianProduct" not in p,
          "l24b: a tiny stats join planned as SMJ/cartesian")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    check(n_scans <= 2, f"l24b: {n_scans} corpus scans (stats barrier gone)")

    p = plan_of(spark, "l25_curriculum_bins")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l25: difficulty scoring left the JVM")
    # thresholds are ONE row broadcast back; binning must stay map-side
    # (scan + tiny agg = 2 corpus scans, no SMJ, no big-side shuffle
    # beyond the presentation sort)
    check("SortMergeJoin" not in p and "CartesianProduct" not in p,
          "l25: threshold join not a broadcast")
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", p, re.MULTILINE))
    check(n_scans <= 2, f"l25: {n_scans} corpus scans")

    p = plan_of(spark, "l3b2_lsh_checked")
    check("BroadcastHashJoin" in p,
          "l3b2: probe side not broadcast into the bucket join")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l3b2: integer LSH hashing left the JVM")
    check("WindowGroupLimit" in p,
          "l3b2: per-bucket candidate cap missing rank-limit pushdown")

    p = plan_of(spark, "l3c2_ivf_checked")
    check("BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "l3c2: probes not broadcast into the cell-pruned join")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l3c2: integer cell assignment left the JVM")

    p = plan_of(spark, "l27b_ivfpq_topk")
    check("BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "l27b: probes not broadcast into the cell-pruned join")
    check("CartesianProduct" not in p, "l27b: a join degenerated to a cross product")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l27b: PQ encode/reconstruct left the JVM")

    p = plan_of(spark, "l27c_ivfpq_rerank")
    # two broadcasts: probes into the cell join, shortlist into the
    # vector re-fetch — the corpus-side scans must stay map-only
    check(p.count("BroadcastHashJoin") >= 2,
          "l27c: probe/shortlist joins not both broadcast")
    check("SortMergeJoin" not in p and "CartesianProduct" not in p,
          "l27c: re-rank fetch shuffled the corpus")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l27c: PQ scoring left the JVM")

    # --- runtime check: AQE skew-join actually fires -------------------
    # round-10 domain Gold marts + incremental index (fixture-driven, so
    # plan shapes are layout-independent)
    p = plan_of(spark, "jh5_vacancy_lifecycle")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "jh5: SCD2 chain degenerated to a nested-loop join")
    # scd2_apply writes a FULL OUTER join, but each downstream branch
    # filters on one side's presence marker, so Catalyst narrows it to
    # Left/RightOuter per consumer — outer-join elimination working as
    # designed. Assert the narrowing happened (some outer join remains,
    # none of them still FullOuter).
    check("Outer" in p, "jh5: scd2_apply lost its outer merge join")
    check("FullOuter" not in p,
          "jh5: presence-marker outer-join narrowing regressed "
          "(full outer survived into every consumer branch)")

    p = plan_of(spark, "jh6_salary_currency_mart")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "jh6: decimal FX normalization left the JVM")
    check("HashAggregate" in p, "jh6: no hash aggregate")

    p = plan_of(spark, "jh7_skill_extraction")
    check("Generate" in p, "jh7: skill dimension not an exploded literal")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "jh7: tokenizer left the JVM")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "jh7: skill match degenerated to a join")

    p = plan_of(spark, "l27e_ivfpq_index_append")
    check("BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "l27e: probes not broadcast into the stored-index search")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "l27e: ADC scoring left the JVM")

    # round-11 additions: entity-resolution mart + compaction invariance
    p = plan_of(spark, "jh8_employer_resolution")
    check("BroadcastHashJoin" in p,
          "jh8: name->canonical map not broadcast back onto postings")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "jh8: fuzzy blocking degenerated to a cross product")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "jh8: normalization/levenshtein left the JVM")

    p = plan_of(spark, "s17_compaction_invariance")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "s17: content digest left the JVM")
    check("HashAggregate" in p, "s17: no hash aggregate over the digest")

    p = plan_of(spark, "s18_zorder_invariance")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "s18: bin/interleave expressions left the JVM")
    check("HashAggregate" in p, "s18: no hash aggregate over the digest")

    p = plan_of(spark, "s19_manifest_pruned_scan")
    check("PushedFilters" in p and "o_orderkey" in p.split("PushedFilters")[1][:200],
          "s19: residual BETWEEN not pushed into the pruned scan")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "s19: digest left the JVM")

    # jh11 structural audit (round-13 verdict task 5): the incremental
    # resolver's batch-sizedness was enforced by MEASUREMENT only
    # (ENTITY_INC.json); these checks pin the structure so a refactor
    # that re-introduces domain-wide pairwork fails the gate, not the
    # ladder. The closure's eager localCheckpoint truncates the
    # candidate lineage out of the final mapping's plan, so the audit
    # plans the extracted candidate-edge builder directly on a
    # 50-batch / 100k-stored synthetic, over the in-memory index jh11
    # derives from the stored names (entity.py _indexed_candidate_edges
    # docstring documents the contract).
    from pyspark.sql import functions as F  # noqa: PLC0415

    from jobhouse_spark.operators.entity import (  # noqa: PLC0415
        _gram_index,
        _indexed_candidate_edges,
    )

    new_nodes = spark.range(50).select(
        F.concat(F.lit("batch entity name number "),
                 F.col("id").cast("string")).alias("name")
    )
    stored_nodes = spark.range(100_000).select(
        F.concat(F.lit("stored entity name number "),
                 F.col("id").cast("string")).alias("name")
    )
    cand = _indexed_candidate_edges(
        new_nodes, _gram_index(stored_nodes, gram_len=4, max_dist=2)
    )
    p = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")
    )
    n_windows = len(re.findall(r"^\(\d+\) Window$", p, re.M))
    check(n_windows == 1,
          f"jh11: expected exactly ONE prefix-rank window (one-sided "
          f"prefix filter over the BATCH grams), found {n_windows} — "
          f"a second window / windowed self-join means domain-wide "
          f"prefix work")
    check("WindowGroupLimit" in p,
          "jh11: prefix bound (rn <= q*t+1) not pushed as a rank "
          "group-limit — the full gram rank would materialize before "
          "the filter")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "jh11: candidate generation degenerated to a cross product")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "jh11: gram/levenshtein work left the JVM")
    check("levenshtein" in p,
          "jh11: edit-distance verify missing from the candidate plan")
    # the registry query's end-to-end plan (day-1 resolve + apply):
    # no cross products, no Python eval anywhere in the visible plan
    p = plan_of(spark, "jh11_incremental_resolution")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "jh11 query: cross product in the end-to-end plan")
    check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
          "jh11 query: Python eval in the end-to-end plan")
    # shuffle discipline of the shared apply tail (round 14): the
    # stored mapping must reach the relabel join by BROADCAST of the
    # relabel side (not a domain shuffle), and the new-vs-stored
    # anti-join must be the ONLY SortMergeJoin left in the final
    # mapping plan — the contraction joins run against the
    # broadcast-restricted touched subset inside the checkpointed
    # closure input, never against the full domain.
    smj_types = re.findall(
        r"^\(\d+\) SortMergeJoin\n(?:[A-Z][^\n]*\n)*?Join type: (\w+)",
        p, re.M)
    check(smj_types.count("LeftAnti") <= 1 and
          all(t == "LeftAnti" for t in smj_types),
          f"jh11 query: stored-domain shuffle beyond the anti-join — "
          f"SMJ join types {smj_types}")
    check(re.search(
        r"^\(\d+\) BroadcastHashJoin\n(?:[A-Z][^\n]*\n)*?"
        r"Join type: LeftOuter", p, re.M) is not None,
          "jh11 query: relabel join not broadcast (stored mapping "
          "would shuffle on canonical)")

    # jh12 structural audit (round 14): the INDEXED incremental
    # resolver's contract is stronger than jh11's — the stored side's
    # derivations must be SCANNED from the index tables, not
    # recomputed, and the batch side must be broadcast into both
    # candidate joins so the stored postings/delkeys are never
    # shuffled. Audited with a parquet-backed index (the production
    # shape) so the plan shows what a real deployment runs.
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from jobhouse_spark.operators.entity import (  # noqa: PLC0415
        EntityGramIndex,
        build_entity_index,
    )

    idx_dir = tempfile.mkdtemp(prefix="jh_audit_idx_")
    try:
        build_entity_index(stored_nodes, gram_len=4, max_dist=2).save(idx_dir)
        idx = EntityGramIndex.load(spark, idx_dir)
        cand = _indexed_candidate_edges(new_nodes, idx)
        p = cand._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")
        )
        n_windows = len(re.findall(r"^\(\d+\) Window$", p, re.M))
        check(n_windows == 1,
              f"jh12: expected exactly ONE prefix-rank window (batch "
              f"grams only), found {n_windows}")
        check("WindowGroupLimit" in p,
              "jh12: prefix bound not pushed as a rank group-limit")
        check(p.count("BroadcastHashJoin") >= 2,
              "jh12: batch side not broadcast into both candidate "
              "joins — the stored postings/delkeys would shuffle")
        n_scans = len(re.findall(r"Scan parquet", p))
        check(n_scans >= 3,
              f"jh12: expected the postings/delkeys/gram_df to be "
              f"parquet SCANS (>=3), found {n_scans} — a domain "
              f"derivation is being recomputed instead of read")
        check("CartesianProduct" not in p
              and "BroadcastNestedLoopJoin" not in p,
              "jh12: candidate generation degenerated to a cross "
              "product")
        check("BatchEvalPython" not in p and "ArrowEvalPython" not in p,
              "jh12: gram/levenshtein work left the JVM")
        check("levenshtein" in p,
              "jh12: edit-distance verify missing")
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    p = plan_of(spark, "jh9_repost_audit")
    check("BroadcastHashJoin" in p,
          "jh9: name->canonical map not broadcast onto postings")
    check("CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
          "jh9: resolution degenerated to a cross product")
    check(p.count("HashAggregate") >= 2,
          "jh9: per-content + per-employer aggregations not both hash aggs")

    # SCALE.md claims skew-split handling; prove it on a 90%-hot-key join
    # with thresholds shrunk so local data volumes qualify as skewed.
    from pyspark.sql import functions as F  # noqa: PLC0415

    skew_confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in skew_confs}
    try:
        for k, v in skew_confs.items():
            spark.conf.set(k, v)
        fact = (
            spark.range(300_000)
            .withColumn(
                "k",
                F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000),
            )
            .withColumn("pad", F.concat_ws("", *[F.lit("xxxxxxxx")] * 8))
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # global agg (not groupBy(k)): a downstream requirement of
        # hashpartitioning(k) would forbid splitting the join's partitions
        j = fact.join(dim, "k").agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        j.collect()
        exec_plan = j._jdf.queryExecution().executedPlan().toString()
        check("skew=true" in exec_plan,
              "skew: AQE did not split the hot partition (no skew=true in final plan)")
        check("isFinalPlan=true" in exec_plan, "skew: adaptive plan not finalized")
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    # --- round-15: registry-wide source-scan ceilings (verdict task 7) ---
    # The r14 round's biggest find (multi-reference recompute: l14 4
    # scans, g20 5, jh5 12) was caught by a ONE-OFF sweep with
    # tools/explain_dump.py; this promotes it into the gate. Every
    # registry entry's plan may contain at most the number of source
    # scans (parquet/json/csv/text headers) pinned in
    # tools/scan_ceilings.json — the counts of the audited round-15
    # shapes, reviewed against each query's declared inputs (self-joins
    # and two-pass stats legitimately count twice). A new query without
    # a ceiling fails the gate: declare the expected scan count when
    # registering. Regenerate after an intentional shape change with
    #   python tools/explain_audit.py --write-ceilings
    # (and review the diff — a count that went UP is the regression
    # class this gate exists for). sf0.01-only: ceilings are
    # layout-reviewed there; scale runs audit the named checks above.
    if SF_DIR == "/root/testdata/sf0.01" and not os.environ.get(
        "JH_SKIP_SCAN_SWEEP"
    ):
        import json  # noqa: PLC0415

        ceil_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                 "scan_ceilings.json")
        scan_re = re.compile(r"^\(\d+\) Scan (?:parquet|json|csv|text)", re.M)
        qs = all_queries()
        counts: dict[str, int] = {}
        for name in sorted(qs):
            try:
                counts[name] = len(scan_re.findall(plan_of(spark, name)))
            except Exception as exc:  # noqa: BLE001 - record, keep sweeping
                failures.append(f"scan sweep: {name} failed to plan: {exc}")
        if "--write-ceilings" in sys.argv:
            with open(ceil_path, "w") as fh:
                json.dump(counts, fh, indent=1, sort_keys=True)
            print(f"wrote {ceil_path} ({len(counts)} entries)")
        else:
            with open(ceil_path) as fh:
                ceilings = json.load(fh)
            missing = [n for n in counts if n not in ceilings]
            check(not missing,
                  f"scan sweep: entries without a declared ceiling "
                  f"(add to tools/scan_ceilings.json): {missing}")
            for name, n in counts.items():
                if name in ceilings and n > ceilings[name]:
                    failures.append(
                        f"scan sweep: {name} has {n} source scans > "
                        f"ceiling {ceilings[name]} — a consumer is "
                        f"re-executing an input subtree "
                        f"(multi-reference recompute)")

    if failures:
        print("PLAN AUDIT FAILED:")
        for f in failures:
            print(" -", f)
        sys.exit(1)
    print("plan audit: all checks passed")


if __name__ == "__main__":
    main()
