"""The closed-loop workloads, driven through the engine's public
functions. Each workload has:

- ``setup()``: the program's bootstrap work (inside ``setup_s``),
- ``op(i)``: one unit of work, the same size every time,
- ``observe(i, traced)``: in traced runs only, called after op ``i``'s
  span has closed, under a job group of its own, so the benchmark's own
  counting never lands in an op's counters; for a traced op it stores
  per-op values for the per-layer metrics in ``extras``,
- ``check(ops)``: verifies outputs after the timed window and returns the
  indices of ops whose outputs are wrong.

Every call into an engine layer sits in ``self.t.span(<layer metric>)``.
Engine modules are imported inside the methods: the engine reads its
deployment settings from the environment when imported, and run.py pins
them first.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from datetime import datetime

import numpy as np
from pyspark.sql import functions as F

from perfbench import gen

PANELS = ("q3_shipping_priority", "q5_local_supplier_volume", "q6_forecast_revenue",
          "q18_large_volume_customer", "g1_groupby_agg", "j1_inner_equi",
          "w4_topk_per_group", "o1_global_sort", "l14_bm25", "l3_cosine_topk",
          "t2_tumbling_window")


class Workload:
    warmup_ops = 1

    def __init__(self, inputs: str, work: str, seed: int):
        self.inputs = inputs
        self.work = work
        self.seed = seed
        self.extras: dict[int, dict] = {}
        self.spark = self.t = None

    def attach(self, spark, tracer) -> None:
        self.spark, self.t = spark, tracer

    def prepare(self) -> None:
        """Load generated inputs into memory (before the setup clock)."""

    def setup(self) -> None:
        """Bootstrap work of the program."""

    def warmup(self) -> None:
        for i in range(self.warmup_ops):
            self.op(-1 - i)

    def op(self, i: int) -> None:
        raise NotImplementedError

    def observe(self, i: int, traced: bool) -> None:
        """Per-layer values of op ``i`` that the spans do not give."""

    def exhausted(self) -> bool:
        """True when the generated inputs hold no further op."""
        return False

    def check(self, ops: list[int]) -> tuple[set[int], dict]:
        raise NotImplementedError


# ---------------------------------------------------------------------------
class AnalystMix(Workload):
    """One op = one dashboard refresh: 11 registry panels over the
    generated star schema, each forced with a noop write."""

    def setup(self) -> None:
        from jobhouse_spark.queries import all_queries

        qs = all_queries()
        order = np.random.default_rng([self.seed, 10]).permutation(len(PANELS))
        self.panels = [qs[PANELS[int(k)]] for k in order]
        self.outputs = {}

    def warmup(self) -> None:
        # the warm-up refresh collects each panel instead of a noop write;
        # check() compares these frames with the DuckDB oracle
        for q in self.panels:
            self.outputs[q.name] = q.fn(self.spark, self.inputs).toPandas()

    def op(self, i: int) -> None:
        for q in self.panels:
            with self.t.span(f"queries.{q.name}"):
                with self.t.span("queries.build"):
                    df = q.fn(self.spark, self.inputs)
                with self.t.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()

    def check(self, ops: list[int]) -> tuple[set[int], dict]:
        from tests.oracle import compare_frames, duckdb_connect

        duck = duckdb_connect(self.inputs)
        bad = {}
        for q in self.panels:
            problems = compare_frames(self.outputs[q.name], duck.execute(q.oracle).fetchdf())
            if problems:
                bad[q.name] = problems
        duck.close()
        # every refresh runs the same plans, so one wrong panel fails them all
        return (set(ops) if bad else set()), {"mismatched_panels": bad}


# ---------------------------------------------------------------------------
def _normalize(name: str) -> str:
    """Python twin of operators.entity.normalize_entity_name."""
    n = re.sub(r"\s+", " ", name.strip(" ").lower())
    return re.sub(r" (llc|ltd|inc|group)$", "", n)


def _read(path: str, columns: list[str]):
    """A parquet table the engine wrote, read without Spark."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pandas()


def _dates(df) -> list[str]:
    return [f"{y:04d}-{m:02d}-{d:02d}" for y, m, d in
            zip(df["pub_year"], df["pub_month"], df["pub_day"])]


def _dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs) / 2**20


class DailyEtl(Workload):
    """One op = one simulated day of the reference's Airflow DAG: fetch,
    envelope, metadata dedup, bronze, silver, incremental employer
    resolution against yesterday's stored map and gram index, gold; then
    the day's document batch through ``CorpusDedup``."""

    MAX_DIST = 1
    warmup_ops = 0   # the day-0 bootstrap runs the same landing, silver and gold code

    def prepare(self) -> None:
        self.docs = CorpusDedup(self.inputs, self.work)
        self.pages = []
        for d in range(gen.ETL_DAYS + 1):
            with open(os.path.join(self.inputs, f"day{d}.json")) as fh:
                self.pages.append(json.load(fh))
        with open(os.path.join(self.inputs, "truth.json")) as fh:
            self.truth = json.load(fh)
        self.root = os.path.join(self.work, "lake")
        shutil.rmtree(self.root, ignore_errors=True)
        self.day = 0
        self.op_day: dict[int, int] = {}
        self.fetched: dict[int, tuple[list[dict], list[float]]] = {}
        self.lake_mb: dict[int, float] = {}

    def _path(self, kind: str, day: int | None = None) -> str:
        return os.path.join(self.root, kind if day is None else f"{kind}_day{day}")

    def _at(self, day: int) -> datetime:
        return datetime.fromisoformat(gen.etl_date(day)[0] + "T12:00:00")

    def _land(self, items: list[dict], day: int, dedup: bool) -> None:
        """Envelope, metadata dedup + append, bronze write."""
        from jobhouse_spark.metadata_store import MetadataStore
        from jobhouse_spark.silver import standardize_postings
        from jobhouse_spark.sources.bronze import (
            envelope_projection,
            read_bronze_day_slice,
            write_bronze_partitioned,
        )
        from jobhouse_spark.sources.rest import items_to_dataframe

        at = self._at(day)
        with self.t.span("sources.to_df"):
            env = envelope_projection(items_to_dataframe(self.spark, items), gen.ETL_SEARCH,
                                      extracted_at=at)
        incoming = env.select(
            "*", F.concat(F.lit("HH/"), F.col("posting_id")).alias("s3_key"),
            F.lit(f"{gen.ETL_SEARCH}_{at:%Y%m%d_%H%M%S}").alias("batch_id"),
            F.col("extracted_at").alias("created_at"),
            F.md5(F.col("raw_content")).alias("etag"))
        store = MetadataStore(self.spark, self._path("metadata"))
        with self.t.span("metadata_store.filter_new"):
            new = (store.filter_new_postings(incoming) if dedup else incoming
                   ).localCheckpoint(eager=True)
        with self.t.span("metadata_store.append"):
            store.append(new.select("source", "batch_id", "s3_key", "created_at", "etag"))
        with self.t.span("sources.bronze_write"):
            write_bronze_partitioned(new.select(*env.columns), self._path("bronze"))
        with self.t.span("silver.write"):
            standardize_postings(read_bronze_day_slice(
                self.spark, self._path("bronze"), day=gen.etl_date(day)[1])
            ).write.mode("append").parquet(self._path("silver"))

    def _lake_mb(self) -> float:
        """Size of the append-only tables (bronze, metadata, silver, gold)."""
        return sum(_dir_mb(self._path(k)) for k in
                   ("bronze", "metadata", "silver", "gold_daily", "gold_employers"))

    def _silver_day(self, day: int):
        return self.spark.read.parquet(self._path("silver")).filter(
            F.col("extracted_at") == F.lit(self._at(day)))

    def _gold(self, day: int) -> None:
        from jobhouse_spark.operators.entity import apply_entity_map, normalize_entity_name
        from jobhouse_spark.silver import gold_daily_mart

        with self.t.span("silver.gold_refresh"):
            silver = self._silver_day(day)
            gold_daily_mart(silver).write.mode("append").parquet(self._path("gold_daily"))
            apply_entity_map(
                silver.withColumn("norm_name", normalize_entity_name(F.col("employer_name"))),
                self.spark.read.parquet(self._path("map", day)),
            ).groupBy("pub_year", "pub_month", "pub_day", "canonical").agg(
                F.count("*").alias("n_postings")
            ).write.mode("append").parquet(self._path("gold_employers"))

    def setup(self) -> None:
        """Day 0: a backfill landed without the fetcher, then the full
        resolution and the gram index the daily apply reads."""
        from jobhouse_spark.operators.entity import build_entity_index, resolve_entities

        # the closure runs inside the entity operators: span it where they call it
        import jobhouse_spark.operators.entity as ent

        cc = ent.connected_components

        def spanned_cc(*a, **k):
            with self.t.span("operators.graph.cc"):
                return cc(*a, **k)
        ent.connected_components = spanned_cc
        self._land([it for p in self.pages[0] for it in p["items"]], 0, dedup=False)
        with self.t.span("operators.entity.bootstrap"):
            names = self._silver_day(0).select(F.col("employer_name").alias("name"))
            resolve_entities(names, max_dist=self.MAX_DIST).write.parquet(self._path("map", 0))
            build_entity_index(self.spark.read.parquet(self._path("map", 0)),
                               max_dist=self.MAX_DIST).save(self._path("index", 0))
        self._gold(0)
        self.docs.setup(self.spark, self.t)

    def op(self, i: int) -> None:
        from jobhouse_spark.sources.rest import PaginatedFetcher, RateLimiter, replay_client

        self.day += 1
        day = self.day
        self.op_day[i] = day
        waits: list[float] = []

        def sleep(s: float) -> None:
            waits.append(s)
            time.sleep(s)

        with self.t.span("sources.fetch"):
            items = PaginatedFetcher(client=replay_client(self.pages[day]),
                                     limiter=RateLimiter(7, 1.0, sleep=sleep)
                                     ).fetch_all(gen.ETL_SEARCH)
        self.fetched[i] = (items, waits)
        self._land(items, day, dedup=True)
        with self.t.span("operators.entity.apply"):
            mapping, index = self._resolve(day)
            mapping.write.parquet(self._path("map", day))
        with self.t.span("operators.entity.index_write"):
            index.save(self._path("index", day))
        self._gold(day)
        for kind in ("map", "index"):
            shutil.rmtree(self._path(kind, day - 2), ignore_errors=True)
        self.docs.op(i)

    def _resolve(self, day: int, stats: dict | None = None):
        from jobhouse_spark.operators.entity import (
            EntityGramIndex,
            resolve_entities_incremental_indexed,
        )

        return resolve_entities_incremental_indexed(
            self._silver_day(day).select(F.col("employer_name").alias("name")),
            self.spark.read.parquet(self._path("map", day - 1)),
            EntityGramIndex.load(self.spark, self._path("index", day - 1)),
            stats_out=stats)

    def observe(self, i: int, traced: bool) -> None:
        self.lake_mb[i] = self._lake_mb()
        if not traced:
            return
        day = self.op_day[i]
        items, waits = self.fetched[i]
        # the work sizes come from a second, stats-only call: passing
        # stats_out persists and counts two relations, so the op itself
        # runs the plan an untraced op runs
        stats: dict = {}
        self._resolve(day, stats)
        index_mb = _dir_mb(self._path("index", day))
        written = (self.lake_mb[i] - self.lake_mb[i - 1]
                   + _dir_mb(self._path("map", day)) + index_mb)
        silver = _read(self._path("silver"), ["extracted_at"])["extracted_at"]
        n_new = int((silver.dt.strftime("%Y-%m-%d") == gen.etl_date(day)[0]).sum())
        self.extras[i] = {
            "sources.fetch_wait_s": sum(waits),
            "metadata_store.new_ratio": n_new / len(items),
            "operators.entity.new_nodes": stats["new_nodes"],
            "operators.entity.contracted_edges": stats["contracted_edges"],
            "operators.entity.index_mb": index_mb,
            "silver.rows": len(silver),
            "sources.bronze_mb": _dir_mb(self._path("bronze")),
            "_written_mb": written,
            "_fetched_mb": sum(len(json.dumps(it)) for it in items) / 2**20,
            **self.docs.observe(i),
        }

    def exhausted(self) -> bool:
        return self.day >= gen.ETL_DAYS or self.docs.exhausted()

    def bucket_max(self) -> int:
        return self.docs.bucket_max()

    def check(self, ops: list[int]) -> tuple[set[int], dict]:
        """Every op builds on the lake, map, index and document index that
        the bootstrap and the earlier ops left, so a wrong output of day d
        fails every op from day d on, and a wrong output of the bootstrap
        (day 0) fails every op."""
        last = self.day
        expected = self.truth["expected_new"]
        bad_days: set[int] = set()
        detail: dict = {}
        silver = _read(self._path("silver"), ["extracted_at"])
        silver = silver["extracted_at"].dt.strftime("%Y-%m-%d").value_counts().to_dict()
        gold = _read(self._path("gold_daily"), ["pub_year", "pub_month", "pub_day", "n_postings"])
        gold = dict(zip(_dates(gold), gold["n_postings"]))
        emp = _read(self._path("gold_employers"),
                    ["pub_year", "pub_month", "pub_day", "canonical", "n_postings"])
        emp["d"] = _dates(emp)
        emp = emp.groupby("d").agg(n=("n_postings", "sum"), e=("canonical", "nunique"))
        for d in range(last + 1):
            date = gen.etl_date(d)[0]
            got = [silver.get(date), gold.get(date)] + (
                emp.loc[date].tolist() if date in emp.index else [None, None])
            want = [expected[d]] * 3 + [self.truth["employers_per_day"][d]]
            if got != want:
                bad_days.add(d)
                detail.setdefault("count_mismatch", {})[date] = [got, want]
        # exact employer recovery: clusters of the final map == true employers
        truth: dict[str, tuple[int, int]] = {}
        for form, (e, first) in self.truth["surface"].items():
            n = _normalize(form)
            if first <= last and (n not in truth or first < truth[n][1]):
                truth[n] = (e, first)
        m = _read(self._path("map", last), ["name", "canonical"])
        mapping = dict(zip(m["name"], m["canonical"]))
        missing = set(truth) - set(mapping)
        extra = set(mapping) - set(truth)
        by_canon: dict[str, set[int]] = {}
        by_emp: dict[int, set[str]] = {}
        for n, c in mapping.items():
            if n in truth:
                by_canon.setdefault(c, set()).add(truth[n][0])
                by_emp.setdefault(truth[n][0], set()).add(c)
        wrong = {n for n, c in mapping.items() if n in truth and
                 (len(by_canon[c]) > 1 or len(by_emp[truth[n][0]]) > 1)}
        if missing or extra or wrong:
            # the final map is the product of the bootstrap and every apply;
            # an error in it cannot be pinned to one day
            bad_days.add(0)
            detail["entity"] = {"missing": len(missing), "extra": len(extra),
                                "wrong": len(wrong),
                                "sample": sorted(missing | wrong | extra)[:5]}
        bad_batch, detail["docs"] = self.docs.check(ops)
        return {i for i in ops if (bad_days and self.op_day[i] >= min(bad_days))
                or (bad_batch is not None and self.docs.op_batch[i] >= bad_batch)}, detail


# ---------------------------------------------------------------------------
class CorpusDedup:
    """The document-curation stage of a ``daily_etl`` op: one incoming
    batch gets an exact-hash drop against the seen hashes, near-dup pairs
    against the stored LSH index, connected components to pick survivors,
    and the survivors appended to the index."""

    THRESHOLD = 0.7     # tests/test_similarity.py pins recall >= 0.9 here
    MIN_RECALL = 0.9

    def __init__(self, inputs: str, work: str):
        self.inputs = inputs
        with open(os.path.join(inputs, "docs_truth.json")) as fh:
            self.truth = json.load(fh)
        self.root = os.path.join(work, "corpus")
        shutil.rmtree(self.root, ignore_errors=True)
        self.batch = -1
        self.op_batch: dict[int, int] = {}

    def _p(self, name: str) -> str:
        return os.path.join(self.root, name)

    def setup(self, spark, tracer) -> None:
        from jobhouse_spark.operators.similarity import minhash_index

        self.spark, self.t = spark, tracer
        base = self.spark.read.parquet(os.path.join(self.inputs, "base.parquet"))
        with self.t.span("operators.similarity.bootstrap"):
            sigs, feats = minhash_index(base)
            sigs.write.parquet(self._p("sigs"))
            feats.write.parquet(self._p("feats"))
        with self.t.span("operators.dedup.bootstrap"):
            base.select(F.md5("text").alias("h")).write.parquet(self._p("hashes"))

    def op(self, i: int) -> None:
        from jobhouse_spark.operators.dedup import dedup_anti_join
        from jobhouse_spark.operators.graph import connected_components
        from jobhouse_spark.operators.similarity import minhash_incremental_pairs, minhash_index

        self.batch += 1
        b = self.batch
        self.op_batch[i] = b
        read = self.spark.read.parquet
        batch = read(os.path.join(self.inputs, f"batch{b}.parquet"))
        with self.t.span("operators.dedup.exact"):
            kept = dedup_anti_join(batch.withColumn("h", F.md5("text")), read(self._p("hashes")),
                                   "h").localCheckpoint(eager=True)
        with self.t.span("operators.similarity.pairs"):
            pairs = minhash_incremental_pairs(kept, read(self._p("sigs")), read(self._p("feats")),
                                              jaccard_threshold=self.THRESHOLD)
            pairs.write.parquet(self._p(f"out/pairs{b}"))
        with self.t.span("operators.graph.cc"):
            edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
            nodes = kept.select(F.col("doc_id").alias("node")).unionByName(
                edges.select(F.col("src").alias("node"))).distinct()
            comp = connected_components(nodes, edges)
            decisions = kept.join(comp, kept["doc_id"] == comp["node"]).select(
                "doc_id", "text", "h", (F.col("node") == F.col("component")).alias("survives")
            ).localCheckpoint(eager=True)
            decisions.select("doc_id", "survives").write.parquet(self._p(f"out/decisions{b}"))
        with self.t.span("operators.similarity.index_append"):
            sigs, feats = minhash_index(decisions.filter("survives"))
            sigs.write.mode("append").parquet(self._p("sigs"))
            feats.write.mode("append").parquet(self._p("feats"))
            decisions.select("h").write.mode("append").parquet(self._p("hashes"))

    def observe(self, i: int) -> dict:
        """Per-layer values of op ``i``, read back from its output files."""
        b = self.op_batch[i]
        n_in = self.truth[b]["n"]
        kept = len(_read(self._p(f"out/decisions{b}"), ["doc_id"]))
        return {
            "operators.similarity.pairs_out": len(_read(self._p(f"out/pairs{b}"), ["doc_a"])),
            "operators.dedup.exact_drop_ratio": (n_in - kept) / n_in,
            "operators.similarity.recall": self._recall(b),
        }

    def exhausted(self) -> bool:
        return self.batch + 1 >= gen.DEDUP_BATCHES

    def bucket_max(self) -> int:
        """Largest (band, signature) bucket of the stored index."""
        return self.spark.read.parquet(self._p("sigs")).groupBy("band_idx", "sig").count(
        ).agg(F.max("count")).first()[0]

    def _recall(self, b: int) -> float:
        planted = {tuple(p) for p in self.truth[b]["near_pairs"]}
        pairs = _read(self._p(f"out/pairs{b}"), ["doc_a", "doc_b"])
        found = set(zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()))
        return len(planted & found) / len(planted)

    def check(self, ops: list[int]) -> tuple[int | None, dict]:
        """The first batch of ``ops`` whose output is wrong (None if all are
        right), and what was wrong."""
        bad, detail = None, {}
        for b in sorted(self.op_batch[i] for i in ops):
            t = self.truth[b]
            rows = _read(self._p(f"out/decisions{b}"), ["doc_id", "survives"])
            dropped_exact = t["n"] - len(rows)
            near_ids = {p[1] for p in t["near_pairs"]}
            false_drops = [d for d in rows.loc[~rows["survives"], "doc_id"].tolist()
                           if d not in near_ids]
            recall = self._recall(b)
            if dropped_exact != t["exact"] or recall < self.MIN_RECALL or false_drops:
                bad = b if bad is None else bad
                detail[b] = {"exact_dropped": dropped_exact, "want": t["exact"],
                             "recall": recall, "false_drops": false_drops[:5]}
        return bad, detail


WORKLOADS = {"analyst_mix": AnalystMix, "daily_etl": DailyEtl}
