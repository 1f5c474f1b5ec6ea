"""Entity resolution — canonicalize dirty surface forms of the same
real-world entity (employer names, brand strings, author fields).

This is the reference's dedup feedback loop
(`/root/reference/docs/Pipeline Architecture.mermaid:33`) applied at
ENTITY grain rather than posting grain: the first real Silver problem
of any job-market feed is that "Yandex", "Yandex LLC" and "Yandeks"
must count as one employer before any per-employer mart is meaningful.

Pipeline (all deterministic, so a SQL oracle can replay it exactly):

1. NORMALIZE: lowercase, trim, collapse whitespace, strip a trailing
   legal suffix (llc/ltd/inc/group). Catches the bulk of variation for
   free — no pairwise work at all.
2. BLOCK: q-gram inverted index over the distinct normalized names
   (j14's discipline, queries/joins.py:365) — candidate pairs only for
   names sharing a 4-gram, stop-grams above a document-frequency cap
   dropped, |length delta| <= max_dist Levenshtein lower-bound
   prefilter. Never a cross product.
3. VERIFY: exact ``levenshtein() <= max_dist`` on the surviving pairs.
4. CLUSTER: transitive closure of the verified pair graph via
   min-label propagation (operators/graph.connected_components) —
   string labels; the canonical form is the lexicographic minimum
   normalized name of each component, an exact deterministic election.

Scale shape at 100 TB: everything downstream of step 1 runs on the
DISTINCT normalized names — entity cardinality (millions), not corpus
cardinality (billions of rows). The gram join shuffles on the gram
key, the closure converges in O(component diameter) rounds (near-dup
name clusters are almost always stars around one true name, so 2-3
rounds), and the final name->canonical map is small enough to
broadcast back onto the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from jobhouse_spark.materialize import materialize_barrier
from jobhouse_spark.operators.graph import connected_components

LEGAL_SUFFIX_RE = r" (llc|ltd|inc|group)$"


def normalize_entity_name(col: Column) -> Column:
    """Lowercase, trim, collapse internal whitespace, strip one
    trailing legal suffix. Same regex semantics in DuckDB (RE2) and
    Spark (java.util.regex) for this pattern class."""
    n = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.regexp_replace(n, LEGAL_SUFFIX_RE, "")


def apply_entity_map(
    df: DataFrame,
    mapping: DataFrame,
    df_key: str = "norm_name",
    map_key: str = "name",
    max_broadcast_entities: int = 2_000_000,
    entity_count: int | None = None,
) -> DataFrame:
    """Map-back join of a ``name -> canonical`` mapping onto a corpus,
    with an adaptive join strategy: BROADCAST when the entity domain
    is small enough (the common case — millions of short strings, a
    few tens of MB), plain shuffle join past ``max_broadcast_entities``
    so the operator stays safe for arbitrary entity domains instead of
    risking a driver/executor OOM on an unconditional broadcast.

    ``entity_count``: pass the known mapping cardinality to skip the
    probe; otherwise a LIMIT-bounded count decides — it never counts
    past threshold+1 rows, so the probe cost is capped by the
    threshold, not the domain.

    Both paths produce an identical mart — pinned by
    tests/test_silver_gold.py::test_apply_entity_map_paths_identical.
    """
    if entity_count is None:
        entity_count = mapping.limit(max_broadcast_entities + 1).count()
    side = F.broadcast(mapping) if entity_count <= max_broadcast_entities else mapping
    return df.join(side, df[df_key] == mapping[map_key])


def _grams(name_col: str, gram_len: int) -> F.Column:
    # sequence(1, L-gram_len+1) ascending only when L >= gram_len;
    # Spark's sequence DESCENDS when start > stop, so short names must
    # yield an empty array (the j14 guard, queries/joins.py:394).
    return F.when(
        F.length(name_col) >= gram_len,
        F.array_distinct(
            F.expr(
                f"transform(sequence(1, length({name_col}) - {gram_len - 1}), "
                f"i -> substring({name_col}, i, {gram_len}))"
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _deletion_keys(name_col: str, max_dist: int) -> Column:
    """SymSpell deletion neighborhood: every string reachable from the
    name by deleting up to ``max_dist`` characters, built with nested
    JVM-side array transforms (no Python row functions). Exactness:
    ed(a, b) <= t  =>  del_t(a) INTERSECT del_t(b) != empty."""
    cur = f"array({name_col})"
    for _ in range(max_dist):
        one_del = (
            "transform(sequence(1, length(s)), "
            "j -> concat(substring(s, 1, j - 1), substring(s, j + 1)))"
        )
        cur = (
            f"array_distinct(concat({cur}, "
            f"flatten(transform({cur}, s -> {one_del}))))"
        )
    return F.expr(cur)


def _long_gram_rows(nodes: DataFrame, gram_len: int, max_dist: int) -> DataFrame:
    """Long-stratum gram postings (name, gram) for the q-gram filter."""
    short_bound = gram_len * (max_dist + 1)
    return nodes.filter(F.length("name") >= short_bound).select(
        "name", F.explode(_grams("name", gram_len)).alias("gram")
    )


def _delkey_rows(nodes: DataFrame, gram_len: int, max_dist: int) -> DataFrame:
    """Short-stratum SymSpell deletion keys (name, k). The stratum
    extends max_dist past the gram bound so a pair that STRADDLES the
    boundary (|len delta| <= max_dist) is generated by the deletion
    keys."""
    short_bound = gram_len * (max_dist + 1)
    return nodes.filter(F.length("name") < short_bound + max_dist).select(
        "name", F.explode(_deletion_keys("name", max_dist)).alias("k")
    )


def _normalized_nodes(names: DataFrame, name_col: str) -> DataFrame:
    """The resolvers' node set: distinct, non-empty normalized names."""
    return (
        names.select(normalize_entity_name(F.col(name_col)).alias("name"))
        .filter(F.col("name") != "")
        .distinct()
    )


def resolve_entities(
    names: DataFrame,
    name_col: str = "name",
    gram_len: int = 4,
    max_dist: int = 2,
    max_iterations: int = 20,
    stats_out: dict | None = None,
) -> DataFrame:
    """Return ``(name, canonical)`` — one row per DISTINCT input name,
    already normalized; ``canonical`` is the lexicographic minimum
    normalized name of the connected component under the
    "levenshtein <= max_dist" pair rule. The pair generation is EXACT
    (no blocking false negatives), by two strata:

    - LONG names (>= gram_len * (max_dist+1) chars, where the q-gram
      count-filtering bound holds): ED-Join-style PREFIX FILTERING.
      Grams are globally ordered by (document frequency asc, gram asc)
      and each name indexes only its ``gram_len * max_dist + 1``
      rarest grams; any pair within edit distance ``max_dist`` shares
      >= (gram count - gram_len*max_dist) grams, so their prefixes
      must intersect (the AllPairs prefix theorem). This is what a
      plain df-cap CANNOT do at scale: common word endings put every
      shared gram of some true pairs over the cap and silently split
      entities (measured: 56 of 10k entities at 30k names, round 11) —
      prefix filtering keeps exactly the discriminative grams instead,
      and heavy grams stay out of prefixes by construction, which is
      also what bounds the per-gram bucket join.
    - SHORT names (below the bound, where edit operations can destroy
      EVERY shared gram — 'abcd' vs 'axcd' share no 4-gram at ed 1):
      SymSpell deletion-neighborhood keys (delete <= max_dist chars;
      two names within ed t always share a deletion variant). The
      ~C(L,2) key expansion is confined to the short stratum, which is
      alphabet-bounded and tiny in real entity data.

    Both strata verify with exact ``levenshtein() <= max_dist`` before
    the min-label transitive closure. ``names`` may contain duplicates
    and raw (un-normalized) strings; callers join the result back on
    ``normalize_entity_name(raw)``.

    Scale: every stage runs on DISTINCT normalized names; the prefix
    join shuffles on the gram key with bucket sizes bounded by prefix
    membership; exactness at cardinality is asserted by
    tools/entity_scale_bench.py (E entities -> exactly E clusters).

    ``stats_out``: pass a dict to receive per-stage volume counters
    (nodes, strata sizes, candidate pairs per stratum, verified edges,
    prefix-bucket size max/p99). Counting forces extra jobs — bench
    instrumentation only, leave None in production pipelines.
    """
    prefix_len = gram_len * max_dist + 1

    nodes = _normalized_nodes(names, name_col)

    ng = _long_gram_rows(nodes, gram_len, max_dist)
    gram_df = ng.groupBy("gram").agg(F.count("*").alias("df"))
    w = Window.partitionBy("name").orderBy(F.asc("df"), F.asc("gram"))
    prefix = (
        ng.join(gram_df, "gram")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("name", "gram")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand_long = (
        a.join(b, "gram")
        .filter(F.col("a.name") < F.col("b.name"))
        .filter(
            F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name"))) <= max_dist
        )
        .select(F.col("a.name").alias("src"), F.col("b.name").alias("dst"))
        .distinct()
    )

    # straddle-band pairs may come from both strata —
    # connected_components dedupes edges
    sk = _delkey_rows(nodes, gram_len, max_dist)
    sa = sk.alias("a")
    sb = sk.alias("b")
    cand_short = (
        sa.join(sb, "k")
        .filter(F.col("a.name") < F.col("b.name"))
        .select(F.col("a.name").alias("src"), F.col("b.name").alias("dst"))
        .distinct()
    )

    if stats_out is not None:
        nodes = nodes.persist()
        cand_long = cand_long.persist()
        cand_short = cand_short.persist()
        bucket = (
            prefix.groupBy("gram").agg(F.count("*").alias("n"))
            .agg(
                F.max("n").alias("mx"),
                F.expr("percentile_approx(n, 0.99)").alias("p99"),
            )
            .first()
        )
        stats_out.update(
            nodes=nodes.count(),
            # every long name has a gram, every short one a deletion key
            long_names=ng.select("name").distinct().count(),
            short_names=sk.select("name").distinct().count(),
            cand_long=cand_long.count(),
            cand_short=cand_short.count(),
            prefix_bucket_max=int(bucket.mx) if bucket.mx is not None else 0,
            prefix_bucket_p99=int(bucket.p99) if bucket.p99 is not None else 0,
        )

    edges = cand_long.unionAll(cand_short).filter(
        F.levenshtein("src", "dst") <= max_dist
    )
    if stats_out is not None:
        edges = edges.persist()
        stats_out["edges"] = edges.count()
    try:
        comp = connected_components(
            nodes, edges, node_col="name", max_iterations=max_iterations
        )
    finally:
        # stats-mode caches released here: connected_components'
        # output is localCheckpoint-truncated (graph.py:77), so the
        # returned mapping no longer references these lineages —
        # without the release, every stats-instrumented run leaked
        # four cached relations for the life of the session
        # (round-12 verdict persist-sweep).
        if stats_out is not None:
            for cached in (nodes, cand_long, cand_short, edges):
                cached.unpersist()
    # connected_components normalizes its output columns to (node, component)
    return comp.select(
        F.col("node").alias("name"), F.col("component").alias("canonical")
    )


# ---------------------------------------------------------------------------
# Incremental resolution against a stored mapping (round 13)
# ---------------------------------------------------------------------------


def resolve_entities_incremental(
    batch_names: DataFrame,
    stored_mapping: DataFrame,
    name_col: str = "name",
    gram_len: int = 4,
    max_dist: int = 2,
    max_iterations: int = 20,
    stats_out: dict | None = None,
) -> DataFrame:
    """Resolve a batch of new dirty names AGAINST a stored canonical
    mapping (the production daily-ingest shape) and return the UPDATED
    full mapping. EXACT equivalence contract:

        resolve_entities_incremental(batch, resolve_entities(old))
            == resolve_entities(old UNION batch)

    including the hard case where one new name BRIDGES two existing
    clusters: both clusters (and all their stored members) collapse to
    one canonical, re-elected as the lexicographic minimum over the
    merged membership. Pinned by tests/test_silver_gold.py (planted
    bridge) and tests/test_property.py (randomized split-vs-full).

    Why this is exact without re-resolving the domain:

    - ONE-SIDED prefix filtering. The AllPairs prefix theorem is
      usually applied with both sides' prefixes drawn from one global
      gram ordering — which an incremental run cannot have, since the
      stored side's ordering predates the batch. But the theorem holds
      one-sided: if ed(a,b) <= t then a and b mismatch on <= q*t
      grams, so the q*t+1 grams of ANY prefix of a cannot all be
      missing from b's FULL gram set. Joining prefix(new) against the
      full gram postings of (old UNION new) therefore generates every
      true pair involving a new name, for ANY prefix ordering — the
      ordering is only a bucket-size knob (df-ascending over the stored
      names keeps heavy grams out of prefixes, same as the batch
      resolver).
    - OLD-OLD pairs need not be considered: the stored mapping is
      exact, so two old names in different clusters are > max_dist
      apart — no new old-old edge can exist, and old-old edges inside
      a cluster are already closed. The union closure thus equals the
      closure of (stored cluster relation UNION new edges).
    - CLUSTER CONTRACTION: each old endpoint of a new edge is replaced
      by its stored canonical, and connected components run over the
      TOUCHED subgraph only (new names + touched canonicals). The
      component minimum over {new names, old canonicals} equals the
      minimum over the full merged membership, because each stored
      canonical IS the minimum of its cluster — so canonical election
      matches the full re-resolve exactly.

    Marginal cost: this is :func:`resolve_entities_incremental_indexed`
    over a gram index derived from the stored names on the spot — one
    map pass over them (gram postings / deletion keys — no pairwise
    work) and a gram-df aggregation — then candidate joins whose
    broadcast side is the batch; verify + closure touch only
    batch-adjacent pairs. The full rebuild's domain-wide candidate
    join, verify, and iterative closure are all avoided
    (tools/entity_scale_bench.py --incremental measures the ratio). A
    recurring daily apply keeps the index in tables instead
    (``build_entity_index`` once, then the indexed resolver), which
    drops the O(domain) derivation as well.

    ``stored_mapping``: (name, canonical) as produced by
    ``resolve_entities`` — names already normalized. ``batch_names``
    may be raw (they are normalized here) and may repeat stored names
    (dropped — already resolved). Precondition, inherited from the
    indexed resolver: ``batch_names`` is a daily delta (broadcast-sized,
    its prefix grams and deletion keys are broadcast into the candidate
    joins); for a domain-sized batch use resolve_entities.

    Chained (day-after-day) application: truncate the returned
    mapping's lineage between applications (write it to a table, or
    ``localCheckpoint``) — this function references ``stored_mapping``
    several times, so feeding day k's un-truncated output in as day k+1's
    stored map grows the analyzed logical plan several-fold per day and
    plan-analysis time comes to dominate (measured: per-step walls
    rose 56.6->98.7 s over 5 chained days at 1M entities while batch
    sizes SHRANK; flat once checkpointed — ENTITY_INC.json). In
    production the stored map lives in a parquet table between days,
    which truncates lineage for free.
    """
    # the stored names are already normalized: index them as they are
    # (build_entity_index would normalize them a second time)
    index = _gram_index(stored_mapping.select("name"), gram_len, max_dist)
    return resolve_entities_incremental_indexed(
        batch_names, stored_mapping, index, max_iterations, name_col, stats_out
    )[0]


def _apply_verified_edges(
    new_nodes: DataFrame,
    edges_new: DataFrame,
    stored_mapping: DataFrame,
    stats_out: dict | None,
    max_iterations: int,
) -> DataFrame:
    """Tail of the incremental resolver: contract old
    endpoints to their stored canonicals, run the closure over the
    touched subgraph, relabel merged clusters. Exactness argument in
    resolve_entities_incremental's docstring.

    Shuffle discipline (round 14): a LEFT join's big preserved side
    cannot be broadcast, so joining the verified edges against the
    full stored mapping twice (src/dst contraction) and once more for
    the relabel would shuffle the stored DOMAIN three times per apply.
    Instead the mapping is first restricted to the TOUCHED endpoint
    names with a broadcast inner join (the mapping side streams
    map-side, no exchange), the outer contraction joins run
    small-vs-small, and the relabel side is explicitly broadcast —
    leaving the new-vs-stored anti-join as the only stored-domain
    shuffle in the whole apply (verified in the physical plan: the
    relabel join is a BroadcastHashJoin, the anti-join the single
    remaining SortMergeJoin). At the 1M local rung the per-day wall is
    unchanged (~33 s — dominated by materializing the updated 3M-row
    mapping, a cost production pays as the daily table write); the
    win is structural: two domain-wide exchanges per apply exist in
    the old plan and not in this one, which is what matters when the
    domain is 100M+ names and the shuffle crosses a network."""
    # materialize the verified edges once: referenced three times
    # below, and their candidate-generation lineage is the expensive
    # part; batch-sized, so the barrier is small
    edges_new = materialize_barrier(edges_new)
    # ---- contract old endpoints to their stored canonical ----
    endpoints = (
        edges_new.select(F.col("src").alias("name"))
        .unionAll(edges_new.select(F.col("dst").alias("name")))
        .distinct()
    )
    m_touched = stored_mapping.join(F.broadcast(endpoints), "name")
    msrc = m_touched.select(
        F.col("name").alias("src"), F.col("canonical").alias("src_canon")
    )
    mdst = m_touched.select(
        F.col("name").alias("dst"), F.col("canonical").alias("dst_canon")
    )
    edges_c = (
        edges_new.join(msrc, "src", "left")
        .join(mdst, "dst", "left")
        .select(
            F.coalesce("src_canon", "src").alias("src"),
            F.coalesce("dst_canon", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    if stats_out is not None:
        edges_c = edges_c.persist()
        new_nodes = new_nodes.persist()
        stats_out.update(
            new_nodes=new_nodes.count(), contracted_edges=edges_c.count()
        )

    touched = (
        edges_c.select(F.col("src").alias("node"))
        .unionAll(edges_c.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes_c = new_nodes.select(F.col("name").alias("node")).unionByName(
        touched
    ).distinct()

    try:
        comp = connected_components(
            nodes_c,
            edges_c.select("src", "dst"),
            node_col="node",
            max_iterations=max_iterations,
        )
    finally:
        if stats_out is not None:
            edges_c.unpersist()
            new_nodes.unpersist()

    # new names -> their component label
    new_rows = comp.join(
        new_nodes.select(F.col("name")), comp["node"] == F.col("name")
    ).select(F.col("name"), F.col("component").alias("canonical"))
    # touched old clusters whose label changed -> relabel every member
    relabel = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("old_canonical"),
        F.col("component").alias("new_canonical"),
    )
    rb = F.broadcast(relabel)
    updated_old = (
        stored_mapping.join(
            rb, stored_mapping["canonical"] == rb["old_canonical"], "left"
        )
        .select(
            F.col("name"),
            F.coalesce("new_canonical", "canonical").alias("canonical"),
        )
    )
    return updated_old.unionByName(new_rows)


# ---------------------------------------------------------------------------
# Stored blocking index (round 14): make the daily marginal O(batch)
# ---------------------------------------------------------------------------


class EntityGramIndex:
    """Persistable blocking-index state for
    :func:`resolve_entities_incremental_indexed`.

    Deriving the stored side's gram postings, deletion keys, and
    gram-df aggregate from the stored names on EVERY batch (what
    ``resolve_entities_incremental`` does) is an O(stored-domain)
    explode + aggregate that dominates the daily wall once the domain
    is large (measured at 1M entities: ~42 s/day of which the
    batch-adjacent work is a fraction — ENTITY_INC.json). This class
    stores those three derivations as data so a daily apply pays
    O(batch) to update them instead of O(domain) to recompute them:

    - ``postings`` (gram, name): long-stratum q-gram postings,
    - ``delkeys`` (k, name): short-stratum deletion-neighborhood keys,
    - ``gram_df`` (gram, df): document-frequency SNAPSHOT used only to
      RANK a new name's grams when choosing its q*t+1-gram prefix.

    Exactness under staleness (the design point): the one-sided prefix
    theorem holds for ANY prefix ordering, so a stale df snapshot
    changes WHICH grams probe the postings — i.e. candidate-set size —
    never whether a true match is found. ``updated()`` therefore
    appends postings/delkeys (REQUIRED for exactness of later batches)
    but leaves ``gram_df`` stale by default; refresh it periodically
    via ``refresh_df=True`` (an O(gram-vocabulary) merge) purely as a
    candidate-pruning tune-up — the same rebuild-vs-rebalance contract
    the IVF-PQ retrain rung measures (SCALE.md).

    In production each DataFrame lives in a parquet table (``save`` /
    ``load``); daily appends are new files, so lineage truncates for
    free and the update cost is the batch's own gram rows.
    """

    def __init__(
        self,
        postings: DataFrame,
        delkeys: DataFrame,
        gram_df: DataFrame,
        gram_len: int = 4,
        max_dist: int = 2,
    ) -> None:
        self.postings = postings
        self.delkeys = delkeys
        self.gram_df = gram_df
        self.gram_len = gram_len
        self.max_dist = max_dist

    def updated(
        self, new_nodes: DataFrame, refresh_df: bool = False
    ) -> "EntityGramIndex":
        """Index covering the stored domain UNION ``new_nodes``
        (normalized, deduped, non-stored names — the resolver's
        ``new_nodes``). O(batch): two batch-sized explodes unioned
        onto the stored tables. ``refresh_df=True`` additionally
        merges the batch's gram counts into the df snapshot
        (O(gram-vocabulary) — optional, see class docstring)."""
        new_long = _long_gram_rows(new_nodes, self.gram_len, self.max_dist)
        gram_df = self.gram_df
        if refresh_df:
            gram_df = (
                gram_df.unionByName(
                    new_long.groupBy("gram").agg(
                        F.count("*").cast("long").alias("df")
                    )
                )
                .groupBy("gram")
                .agg(F.sum("df").alias("df"))
            )
        return EntityGramIndex(
            self.postings.unionByName(new_long),
            self.delkeys.unionByName(
                _delkey_rows(new_nodes, self.gram_len, self.max_dist)
            ),
            gram_df,
            self.gram_len,
            self.max_dist,
        )

    def save(self, path: str) -> None:
        """Write the three tables + params under ``path`` (parquet)."""
        spark = self.postings.sparkSession
        self.postings.write.mode("overwrite").parquet(f"{path}/postings")
        self.delkeys.write.mode("overwrite").parquet(f"{path}/delkeys")
        self.gram_df.write.mode("overwrite").parquet(f"{path}/gram_df")
        spark.createDataFrame(
            [(self.gram_len, self.max_dist)], "gram_len int, max_dist int"
        ).write.mode("overwrite").parquet(f"{path}/meta")

    @classmethod
    def load(cls, spark, path: str) -> "EntityGramIndex":
        meta = spark.read.parquet(f"{path}/meta").first()
        return cls(
            spark.read.parquet(f"{path}/postings"),
            spark.read.parquet(f"{path}/delkeys"),
            spark.read.parquet(f"{path}/gram_df"),
            int(meta.gram_len),
            int(meta.max_dist),
        )


def build_entity_index(
    names: DataFrame,
    gram_len: int = 4,
    max_dist: int = 2,
    name_col: str = "name",
) -> EntityGramIndex:
    """Build the blocking index over a raw name domain (normally the
    names the stored mapping was resolved from; they are normalized
    here). One O(domain) pass, paid once at bootstrap instead of once
    per day. Normalization strips one legal suffix per pass, so it is
    not idempotent: the stored form "acme llc" of "Acme LLC LLC" would
    be indexed as "acme"."""
    return _gram_index(_normalized_nodes(names, name_col), gram_len, max_dist)


def _gram_index(nodes: DataFrame, gram_len: int, max_dist: int) -> EntityGramIndex:
    """EntityGramIndex over already-normalized distinct names."""
    postings = _long_gram_rows(nodes, gram_len, max_dist)
    return EntityGramIndex(
        postings,
        _delkey_rows(nodes, gram_len, max_dist),
        postings.groupBy("gram").agg(F.count("*").cast("long").alias("df")),
        gram_len,
        max_dist,
    )


def resolve_entities_incremental_indexed(
    batch_names: DataFrame,
    stored_mapping: DataFrame,
    index: EntityGramIndex,
    max_iterations: int = 20,
    name_col: str = "name",
    stats_out: dict | None = None,
) -> tuple[DataFrame, EntityGramIndex]:
    """Incremental resolution (exactness argument in
    :func:`resolve_entities_incremental`, which calls this with an
    index derived on the spot) with the stored side's derivations read
    from an :class:`EntityGramIndex` — the daily marginal becomes
    O(batch) + one streamed pass over the stored postings (no domain
    explode, no domain gram-df aggregate, no domain window).

    Returns ``(mapping, updated_index)`` — the index covering the
    union domain, ready for the next day (stale df; see
    EntityGramIndex). Truncate BOTH between chained applications
    (write to tables / localCheckpoint — see the lineage note in
    resolve_entities_incremental).

    Exactness: identical output to a full re-resolve of the union, for
    any index covering the stored names and built with the
    ``max_dist`` the stored mapping was resolved with (the index's
    ``max_dist`` is the edit distance this apply verifies at). The
    only degree of freedom the index introduces is WHICH q*t+1 grams
    form each new name's probe prefix (ranked by the stale df
    snapshot, unseen grams ranked rarest at df=0) — and the one-sided
    prefix theorem guarantees every true match is found under ANY
    prefix choice; the levenshtein verify then makes the edge set
    equal to the set of true batch-adjacent pairs regardless of
    candidate-set differences.
    Pinned by tests/test_entity_index.py (stored index == index derived
    on the spot == rebuild, chained, and through a parquet round-trip).

    Plan shape (the 100 TB contract, asserted by tools/explain_audit.py):
    the batch side is explicitly broadcast into both candidate joins,
    so the stored postings/delkeys stream map-side with NO shuffle of
    the stored domain; the only stored-domain shuffles left are the
    single-column contraction joins, which bucketing the stored tables
    by name would co-locate on a real cluster. Contract: ``batch_names``
    is a daily delta (broadcast-sized); for a domain-sized batch use
    resolve_entities.
    """
    new_nodes = _normalized_nodes(batch_names, name_col).join(
        stored_mapping.select("name"), "name", "left_anti"
    )
    edges_new = _indexed_candidate_edges(new_nodes, index)
    mapping = _apply_verified_edges(
        new_nodes, edges_new, stored_mapping, stats_out, max_iterations
    )
    return mapping, index.updated(new_nodes)


def _indexed_candidate_edges(
    new_nodes: DataFrame, index: EntityGramIndex
) -> DataFrame:
    """Verified batch-adjacent edges probed against the STORED index.
    Module-level so tools/explain_audit.py can assert the structural
    contract on the exact plan the resolver executes (jh11 with an
    index derived in memory, jh12 with a parquet-backed one):
    the stored derivations are SCANNED (no domain explode / aggregate
    / window in the plan), the batch side is broadcast into both
    candidate joins (BroadcastHashJoin — the stored postings/delkeys
    are never shuffled), exactly one prefix-rank window over the batch
    grams, no CartesianProduct/BNLJ, no Python eval."""
    gram_len, max_dist = index.gram_len, index.max_dist
    prefix_len = gram_len * max_dist + 1

    # ---- long stratum: prefix ranked by the STALE df snapshot ----
    new_long = _long_gram_rows(new_nodes, gram_len, max_dist)
    w = Window.partitionBy("name").orderBy(F.asc("df"), F.asc("gram"))
    new_prefix = (
        new_long.join(index.gram_df, "gram", "left")
        .withColumn("df", F.coalesce("df", F.lit(0)))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("name", "gram")
    )
    # the probe side unions the batch's own grams so new-new pairs
    # (two names first seen today) are still found
    probe = index.postings.unionByName(new_long)
    a = F.broadcast(new_prefix).alias("a")
    b = probe.alias("b")
    cand_long = (
        a.join(b, "gram")
        .filter(F.col("a.name") != F.col("b.name"))
        .filter(
            F.abs(F.length(F.col("a.name")) - F.length(F.col("b.name")))
            <= max_dist
        )
        .select(
            F.least(F.col("a.name"), F.col("b.name")).alias("src"),
            F.greatest(F.col("a.name"), F.col("b.name")).alias("dst"),
        )
        .distinct()
    )

    # ---- short stratum: deletion keys, batch vs stored-union-batch ----
    new_sk = _delkey_rows(new_nodes, gram_len, max_dist)
    sa = F.broadcast(new_sk).alias("a")
    sb = index.delkeys.unionByName(new_sk).alias("b")
    cand_short = (
        sa.join(sb, "k")
        .filter(F.col("a.name") != F.col("b.name"))
        .select(
            F.least(F.col("a.name"), F.col("b.name")).alias("src"),
            F.greatest(F.col("a.name"), F.col("b.name")).alias("dst"),
        )
        .distinct()
    )

    return cand_long.unionAll(cand_short).filter(
        F.levenshtein("src", "dst") <= max_dist
    )
