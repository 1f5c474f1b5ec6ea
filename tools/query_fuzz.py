"""Query-grammar differential fuzzing (SQLsmith-style, seeded).

The registry checks 184 HAND-WRITTEN query pairs; tests/test_oracle_fuzz.py
varies the DATA under them. This tool varies the QUERIES: a seeded
generator emits random SQL from a grammar restricted to the
deterministic Spark-AND-DuckDB dialect (the same §2.C discipline the
registry obeys — decimal-cast accumulation, exact-average form, explicit
aliases, no engine-private functions), runs the ONE SQL text on both
engines over the same TPC-H parquet, and compares with the driver's
canonical value-hash (tests.oracle.compare_frames).

What this buys beyond the registry: coverage of the COMBINATORIAL
expression space — predicate nestings, join chains, group-key/aggregate
mixes, window + filter interactions, set-ops, scalar subqueries — where
a Catalyst rewrite (constant folding, predicate pushdown through joins,
rank-limit pushdown, subquery decorrelation) could silently change
semantics. Every query is planned by Catalyst with all optimizations
on; a mismatch means an optimizer-visible semantics bug, not a typo in
a hand-written oracle.

Dialect-intersection rules (each excludes a known cross-engine trap):
- every output column gets an explicit ``cN`` alias (name-compare);
- no raw DATE outputs (engines disagree on date-vs-midnight rendering;
  timestamps round-trip identically);
- SUM/AVG over DOUBLE go through CAST(x AS DECIMAL(18,4)) accumulation;
  AVG is the exact form CAST(SUM(dec)/COUNT AS DOUBLE) — fp-order-free;
- division only by nonzero constants (ANSI Spark and DuckDB both raise
  on /0 — but raise DIFFERENTLY, and a fuzzer asserts agreement);
- ORDER BY only inside window specs, always over a unique total order
  (group keys + primary key), explicit NULLS placement;
- string ops stay ASCII (LIKE prefix/suffix of sampled values).

Usage:
  python tools/query_fuzz.py [sf_dir] [--n=300] [--seed0=1] [--json=PATH]
Exit 0 iff every seed matches. Writes a one-line JSON summary.
Cores from $SPARK_GRAFT_CPUS (default: all), heap from
$SPARK_DRIVER_MEMORY (default 4g).
"""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# ---------------------------------------------------------------------------
# schema model
# ---------------------------------------------------------------------------

# bump when the grammar changes: campaign results are only comparable
# within one grammar version (same seed → same query)
# v4 adds: ROLLUP/CUBE subtotal grids, deterministic global top-k
# (ORDER BY expr + pk tiebreak LIMIT — TakeOrderedAndProject territory),
# LAG/LEAD over verified-unique PK orders, LEFT JOIN + right-key IS NULL
# scans (anti-join rewrites, join-condition-vs-filter semantics), and
# integer-exact UNION ALL re-aggregation.
# v5 adds the frame/grouping-set/set-op surface (where frame-boundary
# ties and NULL grouping slots hide engine disagreement): explicit ROWS
# BETWEEN frames over verified total orders, RANGE BETWEEN value frames
# (deterministic under ties — peers share a frame — which is exactly
# the tie surface worth fuzzing), fuzzer-generated GROUPING SETS with
# CAST(GROUPING(k) AS INTEGER) slot markers, multi-column set-ops
# including INTERSECT ALL / EXCEPT ALL, and the events table.
# v6 opens the SEMI-STRUCTURED surface (VERDICT r9 task 5): JSON path
# extraction over events.props, interval arithmetic + date_trunc over
# timestamps, and nested array HOFs over embeddings.embedding. The
# JSON and array function NAMES differ between the engines
# (get_json_object/transform/size vs json_extract_string/
# list_transform/len), so v6 introduces DIALECT-PAIR generation: a
# shape may return (spark_sql, duck_sql) built from ONE template with
# per-engine leaf snippets — the rng decisions (and therefore the
# query semantics) are identical, only the function spellings differ.
# Array elements quantize to exact milli-unit BIGINTs (the micro_vec
# discipline at DECIMAL(12,3)) so every HOF result is integer-exact;
# date_trunc results are CAST AS TIMESTAMP on both sides (DuckDB
# returns DATE for day-and-coarser units, Spark always TIMESTAMP).
# v7 COMPOSES the v5 window surface with the v6 semi-structured leaves
# (VERDICT r10 task 4) — the corner neither opens alone: window
# functions whose PARTITION BY / ORDER BY / operand is a JSON-extracted
# value (win_json), ranking and running sums OVER array-HOF results
# (win_hof — the HOF sits inside the window ORDER BY), and set-ops
# whose branch outputs are extracted JSON values (setop_json, incl.
# the ALL bag variants). All three are dialect-pair shapes.
# v8 adds the SILVER UNIVERSE (VERDICT r11 task 5, tools/silver_fuzz.py):
# `set_universe()` points the same generator at the engine's OWN silver
# output — a postings table materialized by the bronze->silver pipeline
# (jobhouse_gold._silver_v4) plus two derived dims (areas, employers),
# all read from the SAME parquet by both engines. Nullable salary
# longs, dirty employer/area strings and pipeline-produced timestamps
# are the substrate where standardization-dependent divergence would
# hide; the silver campaign restricts to GENERIC_SHAPES (the v6/v7
# json/hof/interval shapes hardcode events/embeddings). v8 also
# respells FLOAT literals in e-notation (see Gen.constant): silver
# seed 19 proved a plain 17-digit literal types DECIMAL(17,11) in
# DuckDB, whose decimal->double cast can land 1 ULP off the
# correctly-rounded double Spark parses directly — a boundary
# constant sampled FROM a stored double then compares unequal to its
# own source row in DuckDB only. The shape list matches v7, but the
# literal respelling means v8 seeds are not text-identical to v7's.
# v9 (round 13, VERDICT r12 task 1) parameterizes the v6/v7 JSON / HOF
# / interval shapes by universe: the shapes read JSON_SPEC / ARR_SPEC /
# IVAL_SPEC module globals (defaulting to the historical
# events.props / embeddings.embedding / events.ts bindings) instead of
# hardcoding those tables, so the silver campaign can point them at
# PIPELINE-PRODUCED JSON (postings.raw_json, the bronze envelope's
# to_json output) and a pipeline-derived array column
# (postings.req_lens). Spec-driven knobs (extract paths, numeric
# ranges, OOB-safe element access) mean v9 seeds are not
# RNG-compatible with v8's — campaigns are versioned in the ledger.
GRAMMAR_VERSION = 9

TABLES: dict[str, dict[str, str]] = {
    "lineitem": {
        "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
        "l_linenumber": "int", "l_quantity": "float",
        "l_extendedprice": "float", "l_discount": "float", "l_tax": "float",
        "l_returnflag": "str", "l_linestatus": "str", "l_shipdate": "ts",
    },
    "orders": {
        "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
        "o_totalprice": "float", "o_orderdate": "ts", "o_orderpriority": "str",
    },
    "customer": {
        "c_custkey": "int", "c_name": "str", "c_nationkey": "int",
        "c_acctbal": "float", "c_mktsegment": "str",
    },
    "part": {
        "p_partkey": "int", "p_name": "str", "p_brand": "str",
        "p_type": "str", "p_size": "int", "p_retailprice": "float",
    },
    "supplier": {
        "s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
        "s_acctbal": "float",
    },
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "region": {"r_regionkey": "int", "r_name": "str"},
    # the LLM-corpus table: long multilingual text stresses the string
    # function surface (LENGTH/LOWER/UPPER/TRIM/SUBSTR, LIKE over CJK)
    "documents": {
        "doc_id": "int", "text": "str", "lang": "str",
        "source": "str", "n_chars": "int",
    },
    # v5: the event-stream table — high-cardinality user_id partitions
    # and a dense numeric value column, the natural frame-fuzz substrate
    # v6: + props, a JSON document column ("json" type: only the
    # json_path shape touches it, via dialect-pair extraction leaves)
    "events": {
        "event_id": "int", "ts": "ts", "user_id": "int",
        "event_type": "str", "value": "float", "props": "json",
    },
    # v6: the vector table — "arr" is only touched by the array_hof
    # shape (dialect-pair HOF leaves); generic shapes see the scalars
    "embeddings": {"vec_id": "int", "embedding": "arr", "label": "int"},
}

# pk: unique total-order key(s) per table (window ORDER BY safety)
PK: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey", "l_linenumber"),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
    "nation": ("n_nationkey",),
    "region": ("r_regionkey",),
    "documents": ("doc_id",),
    "events": ("event_id",),
    "embeddings": ("vec_id",),
}

# FK graph: (left_table, left_col, right_table, right_col)
FKS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]

# ---------------------------------------------------------------------------
# data-derived constant pools (computed once per sf_dir, via DuckDB;
# only SQL TEXT depends on them, so both engines see identical queries)
# ---------------------------------------------------------------------------


def build_pools(duck) -> dict:
    """Constant pools per (table, column), plus the data-verified set of
    tables whose PK columns are actually unique (under key "_unique_pk").
    The synthetic lineitem has duplicate (l_orderkey, l_linenumber)
    pairs, so order-SENSITIVE window functions (ROW_NUMBER, running SUM)
    would be under-specified there — any engine disagreement would be
    legitimate tie-order freedom, not a bug. RANK stays safe everywhere
    (tie-stable). Verified per sf_dir, not assumed."""
    unique_pk = set()
    for t, pk in PK.items():
        key = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in pk)
        n, d = duck.execute(
            f"SELECT COUNT(*), COUNT(DISTINCT ({key})) FROM {t}"
        ).fetchone()
        if n == d:
            unique_pk.add(t)
    pools: dict = {"_unique_pk": unique_pk, "_ascii": set()}
    for t, cols in TABLES.items():
        for c, ty in cols.items():
            if ty in ("int", "float"):
                rows = duck.execute(
                    f"SELECT quantile_disc({c}, [0.1, 0.35, 0.5, 0.65, 0.9]) "
                    f"FROM {t}"
                ).fetchone()[0]
                pools[(t, c)] = [repr(float(v)) if ty == "float" else str(int(v))
                                 for v in rows if v is not None]
            elif ty == "str":
                rows = duck.execute(
                    f"SELECT DISTINCT {c} FROM {t} WHERE {c} IS NOT NULL "
                    f"ORDER BY {c} LIMIT 8"
                ).fetchall()
                pools[(t, c)] = [r[0].replace("'", "''") for r in rows]
                # UPPER/LOWER are only cross-engine-stable on ASCII
                # (JVM full case mapping vs utf8proc per-codepoint:
                # e.g. ß→SS vs ß) — verify, don't assume
                n_non_ascii = duck.execute(
                    f"SELECT COUNT(*) FROM {t} WHERE "
                    f"regexp_matches({c}, '[^\\x00-\\x7F]')"
                ).fetchone()[0]
                if n_non_ascii == 0:
                    pools.setdefault("_ascii", set()).add((t, c))
            elif ty == "ts":
                rows = duck.execute(
                    f"SELECT quantile_disc({c}, [0.2, 0.5, 0.8]) FROM {t}"
                ).fetchone()[0]
                pools[(t, c)] = [str(v)[:19] for v in rows if v is not None]
    return pools


# ---------------------------------------------------------------------------
# generator
# ---------------------------------------------------------------------------


# the v7 shape list, verbatim — the default universe's seed mapping
# depends on this exact sequence
FULL_SHAPES = ["agg", "agg", "distinct", "window",
               "setop", "scalar_sub", "having",
               "exists_sub", "in_sub",
               "rollup", "topk", "lag", "antijoin",
               "union_reagg",
               # v5 surface
               "frame_rows", "frame_range",
               "grouping_sets", "setop_multi",
               # v6 surface (dialect-pair shapes)
               "json_path", "json_path",
               "interval_arith", "interval_arith",
               "array_hof", "array_hof",
               # v7 composition surface (dialect-pair)
               "win_json", "win_json",
               "win_hof", "win_hof",
               "setop_json"]

# universe-agnostic shapes: everything that reads only TABLES/PK/FKS
# (kept for campaigns that want only the universe-agnostic core; since
# v9 the v6/v7 shapes are spec-driven and run on any universe that
# provides JSON_SPEC/ARR_SPEC/IVAL_SPEC bindings via set_universe)
GENERIC_SHAPES = ["agg", "agg", "distinct", "window",
                  "setop", "scalar_sub", "having",
                  "exists_sub", "in_sub",
                  "rollup", "topk", "lag", "antijoin",
                  "union_reagg",
                  "frame_rows", "frame_range",
                  "grouping_sets", "setop_multi"]


# ---------------------------------------------------------------------------
# v9 shape bindings: which tables/columns carry the JSON document, the
# array column, and the interval-arithmetic substrate. Defaults are the
# historical v6/v7 events/embeddings bindings; silver_fuzz re-points
# them at pipeline-produced columns. Every expression here is a FULL
# "table.column"-qualified snippet (or a (spark, duck) dialect pair).
# ---------------------------------------------------------------------------

JSON_SPEC = {
    "table": "events",
    # (path template applied to the json column, (spark, duck) pair);
    # list — the generator samples one path per query. Every path must
    # extract a NUMERIC leaf (the shapes SUM/MIN/MAX and BETWEEN it).
    "jk": [("CAST(get_json_object(events.props, '$.k') AS INT)",
            "CAST(json_extract_string(events.props, '$.k') AS INTEGER)")],
    "pk": "events.event_id",          # data-verified unique total order
    "part_str": "events.event_type",  # string partition-key column
    "part_str_key": ("events", "event_type"),  # pools key for constants
    "num": "events.user_id",          # numeric modulo partition column
    "ts": "events.ts",
    # numeric range the extracted leaf lives in: BETWEEN predicates
    # sample lo from it, width from jk_width (0 width -> degenerate)
    "jk_rng": (0, 60),
    "jk_width": (5, 50),
}

ARR_SPEC = {
    "table": "embeddings",
    # (spark, duck) pair for the quantized element-array expression
    "mv": ("transform(embeddings.embedding, x -> CAST(CAST(CAST(x "
           "AS DOUBLE) AS DECIMAL(12,3)) * 1000 AS BIGINT))",
           "list_transform(embeddings.embedding, x -> CAST(CAST("
           "CAST(x AS DOUBLE) AS DECIMAL(12,3)) * 1000 AS BIGINT))"),
    "pk": "embeddings.vec_id",
    # numeric expression usable under % for synthetic group keys (the
    # pk itself when numeric; a numeric column when the pk is a string)
    "pk_mod": "embeddings.vec_id",
    "label": "embeddings.label",
    # element-threshold range for filter(x > k)
    "k_rng": (-300, 300),
    # index range + OOB-safe accessor pair: embeddings vectors are
    # fixed 16-dim so plain element_at is in-bounds by construction;
    # variable-length universes must use (try_element_at, list_extract)
    "idx_rng": (1, 16),
    "elem_fn": ("element_at({MV}, {I})", "list_extract({MV}, {I})"),
}

IVAL_SPEC = {
    "table": "events",
    "ts": "events.ts",
    "ts_key": ("events", "ts"),  # pools key for timestamp constants
    "num": "events.user_id",     # checksum operand (nullable is fine:
                                 # SUM skips NULLs in both engines)
}


def set_universe(tables, pk, fks, json_spec=None, arr_spec=None,
                 ival_spec=None):
    """Swap the generator's table universe (v8) and, since v9, the
    v6/v7 shape bindings: the Gen machinery reads the module globals,
    so a campaign over a different substrate (e.g. the silver domain
    tables) re-points them before build_pools. Callers must also pass
    a compatible ``shapes`` list to Gen. Returns the PREVIOUS
    (tables, pk, fks, json_spec, arr_spec, ival_spec) so in-process
    callers (tests) can restore the default universe in a finally."""
    global TABLES, PK, FKS, JSON_SPEC, ARR_SPEC, IVAL_SPEC  # noqa: PLW0603
    prev = (TABLES, PK, FKS, JSON_SPEC, ARR_SPEC, IVAL_SPEC)
    TABLES, PK, FKS = tables, pk, fks
    if json_spec is not None:
        JSON_SPEC = json_spec
    if arr_spec is not None:
        ARR_SPEC = arr_spec
    if ival_spec is not None:
        IVAL_SPEC = ival_spec
    return prev


def restore_universe(prev) -> None:
    """Undo set_universe (accepts both the v8 3-tuple and v9 6-tuple)."""
    global TABLES, PK, FKS, JSON_SPEC, ARR_SPEC, IVAL_SPEC  # noqa: PLW0603
    TABLES, PK, FKS = prev[:3]
    if len(prev) > 3:
        JSON_SPEC, ARR_SPEC, IVAL_SPEC = prev[3:]


class Gen:
    def __init__(self, seed: int, pools, shapes=None):
        self.r = random.Random(seed * 1_000_003 + 17)
        self.pools = pools
        self.shapes = shapes or FULL_SHAPES

    # -- scope: a FROM clause with typed, qualified columns ------------
    def scope(self, max_joins: int = 2):
        r = self.r
        t0 = r.choice(list(TABLES))
        frm = [t0]
        cols = [(t0, c, ty) for c, ty in TABLES[t0].items()]
        sql = t0
        for _ in range(r.randrange(max_joins + 1)):
            cands = [fk for fk in FKS
                     if (fk[0] in frm) != (fk[2] in frm)]  # extend the chain
            if not cands:
                break
            lt, lc, rt, rc = r.choice(cands)
            new = rt if rt not in frm else lt
            kind = r.choice(["JOIN", "JOIN", "JOIN", "LEFT JOIN"])
            sql += f" {kind} {new} ON {lt}.{lc} = {rt}.{rc}"
            frm.append(new)
            cols += [(new, c, ty) for c, ty in TABLES[new].items()]
        return sql, frm, cols

    def col(self, cols, types=("int", "float", "str", "ts")):
        cand = [x for x in cols if x[2] in types]
        t, c, ty = self.r.choice(cand)
        return f"{t}.{c}", ty, (t, c)

    def constant(self, key, ty) -> str:
        pool = self.pools.get(key) or []
        if not pool:
            return {"int": "0", "float": "0.0", "str": "''",
                    "ts": "TIMESTAMP '1995-01-01 00:00:00'"}[ty]
        v = self.r.choice(pool)
        if ty == "str":
            return f"'{v}'"
        if ty == "ts":
            return f"TIMESTAMP '{v}'"
        if ty == "float" and "e" not in v:
            # e-notation forces a DOUBLE literal in BOTH engines. A
            # plain high-precision literal is DECIMAL(17,11) in DuckDB,
            # whose decimal->double cast can land 1 ULP off the
            # correctly-rounded value Spark parses directly — so a
            # boundary constant sampled FROM a stored double (silver
            # campaign, seed 19) compares unequal to its own source
            # row in DuckDB only. Grammar-v8 contract lesson.
            return f"{v}e0"
        return v

    # -- predicates ----------------------------------------------------
    def simple_pred(self, cols) -> str:
        r = self.r
        e, ty, key = self.col(cols)
        kind = r.choice(["cmp", "cmp", "between", "in", "null", "like"])
        if kind == "like" and ty != "str":
            kind = "cmp"
        if kind == "in" and ty == "ts":
            kind = "between"
        if kind == "cmp":
            op = r.choice(["=", "<>", "<", "<=", ">", ">="])
            return f"{e} {op} {self.constant(key, ty)}"
        if kind == "between":
            a, b = self.constant(key, ty), self.constant(key, ty)
            return f"{e} BETWEEN least({a}, {b}) AND greatest({a}, {b})"
        if kind == "in":
            n = r.randint(1, 3)
            vals = ", ".join(self.constant(key, ty) for _ in range(n))
            return f"{e} IN ({vals})"
        if kind == "null":
            return f"{e} IS {r.choice(['NULL', 'NOT NULL'])}"
        # like: prefix/suffix/contains of a sampled value fragment
        pool = self.pools.get(key) or ["x"]
        v = r.choice(pool)
        frag = v[: min(12, max(1, len(v) // 2))] if v else "x"
        pat = r.choice([f"{frag}%", f"%{frag}", f"%{frag}%"])
        return f"{e} LIKE '{pat}'"

    def pred(self, cols, depth: int = 2) -> str:
        r = self.r
        if depth <= 0 or r.random() < 0.4:
            p = self.simple_pred(cols)
            return f"NOT ({p})" if r.random() < 0.1 else p
        op = r.choice(["AND", "OR"])
        return f"({self.pred(cols, depth - 1)} {op} {self.pred(cols, depth - 1)})"

    # -- expressions ---------------------------------------------------
    def num_expr(self, cols) -> str:
        r = self.r
        if r.random() < 0.12 and any(x[2] == "str" for x in cols):
            s, _, _ = self.col(cols, ("str",))
            return f"LENGTH({s})"
        e, ty, key = self.col(cols, ("int", "float"))
        form = r.choice(["plain", "plain", "arith", "case", "coalesce"])
        if form == "plain":
            return e
        if form == "arith":
            op = r.choice(["+", "-", "*", "/"])
            k = r.choice(["2", "3", "7", "10"]) if op in ("*", "/") else (
                self.constant(key, ty))
            return f"({e} {op} {k})"
        if form == "case":
            return (f"(CASE WHEN {self.simple_pred(cols)} THEN {e} "
                    f"ELSE {self.constant(key, ty)} END)")
        return f"COALESCE({e}, 0)"

    def group_key(self, cols) -> str:
        r = self.r
        e, ty, key = self.col(cols, ("int", "str", "ts"))
        if ty == "ts":
            part = r.choice(["YEAR", "MONTH"])
            return f"EXTRACT({part} FROM {e})"
        if ty == "str" and r.random() < 0.4:
            forms = ["TRIM({e})", f"SUBSTR({{e}}, 1, {r.randint(1, 5)})"]
            if key in self.pools["_ascii"]:
                forms += ["LOWER({e})", "UPPER({e})"]
            return r.choice(forms).format(e=e)
        return e

    # Exact-decimal SUM operand, magnitude-bounded. v6 generator
    # contract lesson #4 (seed 7034 at 30x): the replicated corpora
    # carry 1e8-per-copy key offsets, so SUM(CAST(key AS DECIMAL))
    # reaches ~2.6e16 at 30x — past 2^53, where the final CAST AS
    # DOUBLE is no longer value-preserving and Spark/DuckDB round the
    # same exact decimal to ADJACENT doubles (1-ULP representation
    # divergence, not an engine bug). A decimal modulus keeps every
    # operand < 1e6, so group sums stay inside the double-exact range
    # at every rung (6e8 rows x 1e6 = 6e14 < 2^53) while the
    # accumulate-exactly-then-convert-once contract stays fuzzed.
    def dec_sum_operand(self, e: str) -> str:
        return f"(CAST({e} AS DECIMAL(18,4)) % 1000003)"

    def agg(self, cols) -> str:
        r = self.r
        kind = r.choice(["count_star", "count", "count_distinct", "minmax",
                         "sum", "sum", "exact_avg"])
        if kind == "count_star":
            return "COUNT(*)"
        if kind == "count":
            e, _, _ = self.col(cols)
            return f"COUNT({e})"
        if kind == "count_distinct":
            e, _, _ = self.col(cols, ("int", "str"))
            return f"COUNT(DISTINCT {e})"
        if kind == "minmax":
            e, _, _ = self.col(cols)
            return f"{r.choice(['MIN', 'MAX'])}({e})"
        e = self.num_expr(cols)
        dec = self.dec_sum_operand(e)
        if kind == "sum":
            # final cast to DOUBLE = the registry's fin() rule: DuckDB's
            # fetchdf renders DECIMAL as float ('915.0' vs Spark's
            # Decimal('915.0000')) and NULL-decimal as NaN — the double
            # form is representation-identical on both clients
            return f"CAST(SUM({dec}) AS DOUBLE)"
        # exact average: decimal accumulation, one final double division
        return f"CAST(CAST(SUM({dec}) AS DOUBLE) / NULLIF(COUNT({e}), 0) AS DOUBLE)"

    # -- query templates ----------------------------------------------
    def query(self) -> str:
        r = self.r
        shape = r.choice(self.shapes)
        if shape in ("agg", "having"):
            frm, _, cols = self.scope()
            keys = [self.group_key(cols) for _ in range(r.randrange(3))]
            keys = list(dict.fromkeys(keys))
            aggs = [self.agg(cols) for _ in range(r.randint(1, 3))]
            sel = [f"{k} AS c{i}" for i, k in enumerate(keys)]
            sel += [f"{a} AS c{len(keys) + i}" for i, a in enumerate(aggs)]
            q = f"SELECT {', '.join(sel)} FROM {frm}"
            if r.random() < 0.8:
                q += f" WHERE {self.pred(cols)}"
            if keys:
                q += " GROUP BY " + ", ".join(
                    str(i + 1) for i in range(len(keys)))
                if shape == "having":
                    q += f" HAVING COUNT(*) >= {r.randint(1, 3)}"
            return q
        if shape == "distinct":
            frm, _, cols = self.scope()
            outs = list(dict.fromkeys(
                self.group_key(cols) for _ in range(r.randint(1, 3))))
            sel = ", ".join(f"{e} AS c{i}" for i, e in enumerate(outs))
            return f"SELECT DISTINCT {sel} FROM {frm} WHERE {self.pred(cols)}"
        if shape == "window":
            t = r.choice([t for t in TABLES if len(TABLES[t]) >= 3])
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            key = self.group_key(cols)
            order = ", ".join(f"{t}.{k} ASC NULLS FIRST" for k in PK[t])
            # order-sensitive functions only where the PK order is a
            # verified total order (see build_pools); RANK is tie-stable
            if t in self.pools["_unique_pk"]:
                fn = r.choice(["ROW_NUMBER()", "RANK()",
                               f"SUM({self.dec_sum_operand(self.num_expr(cols))})"])
            else:
                fn = "RANK()"
            frame = ("" if fn in ("ROW_NUMBER()", "RANK()") else
                     " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
            pks = ", ".join(f"{t}.{k} AS pk{i}" for i, k in enumerate(PK[t]))
            wexpr = f"{fn} OVER (PARTITION BY {key} ORDER BY {order}{frame})"
            if fn.startswith("SUM"):
                wexpr = f"CAST({wexpr} AS DOUBLE)"  # fin() rule, see agg()
            inner = (f"SELECT {key} AS c0, {pks}, {wexpr} AS w "
                     f"FROM {t} WHERE {self.pred(cols)}")
            lim = r.randint(2, 5)
            if fn in ("ROW_NUMBER()", "RANK()"):
                return f"SELECT * FROM ({inner}) sub WHERE w <= {lim}"
            return f"SELECT * FROM ({inner}) sub"
        if shape == "setop":
            t = r.choice(list(TABLES))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            e = self.group_key(cols)
            op = r.choice(["INTERSECT", "EXCEPT", "UNION", "UNION ALL"])
            return (f"SELECT {e} AS c0 FROM {t} WHERE {self.pred(cols)} "
                    f"{op} SELECT {e} AS c0 FROM {t} WHERE {self.pred(cols)}")
        if shape in ("exists_sub", "in_sub"):
            # correlated EXISTS / IN over an FK edge — exercises
            # Catalyst's decorrelation into semi/anti joins (and
            # DuckDB's into its own flattened form); keys are non-null
            # on both sides so NOT IN keeps set semantics
            lt, lc, rt, rc = r.choice(FKS)
            outer, inner, ok, ik = ((lt, rt, lc, rc) if r.random() < 0.5
                                    else (rt, lt, rc, lc))
            ocols = [(outer, c, ty) for c, ty in TABLES[outer].items()]
            icols = [(inner, c, ty) for c, ty in TABLES[inner].items()]
            ipred = self.pred(icols, depth=1)
            neg = r.choice(["", "NOT "])
            if shape == "exists_sub":
                sub = (f"SELECT 1 FROM {inner} WHERE {inner}.{ik} = "
                       f"{outer}.{ok} AND {ipred}")
                where = f"{neg}EXISTS ({sub})"
            else:
                sub = f"SELECT {inner}.{ik} FROM {inner} WHERE {ipred}"
                where = f"{outer}.{ok} {neg}IN ({sub})"
            agg = self.agg(ocols)
            q = f"SELECT COUNT(*) AS c0, {agg} AS c1 FROM {outer} WHERE {where}"
            if r.random() < 0.5:
                q += f" AND {self.pred(ocols, depth=1)}"
            return q
        if shape == "rollup":
            # subtotal grids: both engines expand grouping sets to the
            # same row set (subtotal slots are NULL); hash-compare is
            # order-insensitive so the grid needs no presentation sort.
            # Two DISTINCT key expressions required — duplicate keys in
            # a ROLLUP would test expression dedup, not grouping.
            # NO WHERE clause — grammar-contract lesson #2 (seed 9036,
            # v4 bring-up): over EMPTY input the () grouping set
            # legitimately diverges — DuckDB/Postgres/the standard emit
            # one grand-total row, Spark's Expand-based grouping-sets
            # implementation emits zero rows — so a random predicate
            # that happens to filter everything is an engine-semantics
            # trap, not a bug in either engine. Full-table grids keep
            # the input provably non-empty; predicates are exercised by
            # every other shape.
            # SINGLE table — lesson #3 (seed 44): when the two rollup
            # keys are linked by a join equality (n_regionkey =
            # r_regionkey), DuckDB's optimizer propagates the
            # equivalence into the subtotal rows — the {(k1)} set
            # renders k2 with k1's VALUE — where Spark's Expand puts
            # the standard NULL slot. No join, no provable equivalence,
            # no divergence.
            t = r.choice(list(TABLES))
            frm, cols = t, [(t, c, ty) for c, ty in TABLES[t].items()]
            k1, k2 = self.group_key(cols), self.group_key(cols)
            # keys must be STRUCTURALLY distinct, not just textually:
            # an identity wrapper (COALESCE(k, k)) is optimizer-
            # transparent and risks the same equivalence-propagation
            # divergence as lesson #3 — re-roll until the keys differ
            for _ in range(32):
                if k2 != k1:
                    break
                k2 = self.group_key(cols)
            if k1 == k2:  # theoretical only: every table has >=2 key forms
                k2 = "'_all_'"  # constant key — distinct, not derived from k1
            op = r.choice(["ROLLUP", "CUBE"])
            aggs = [self.agg(cols) for _ in range(r.randint(1, 2))]
            sel = [f"{k1} AS c0", f"{k2} AS c1"]
            sel += [f"{a} AS c{2 + i}" for i, a in enumerate(aggs)]
            return (f"SELECT {', '.join(sel)} FROM {frm} "
                    f"GROUP BY {op}({k1}, {k2})")
        if shape == "topk":
            # deterministic global top-k: sort key extended with the PK
            # so the selected SET is a total-order prefix — the shape
            # that must compile to TakeOrderedAndProject in Spark
            t = r.choice(list(TABLES))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            e, _, _ = self.col(cols, ("int", "float"))
            d = r.choice(["ASC", "DESC"])
            pks = ", ".join(f"{t}.{k} AS pk{i}" for i, k in enumerate(PK[t]))
            pk_ord = ", ".join(f"{t}.{k} ASC" for k in PK[t])
            q = (f"SELECT {e} AS c0, {pks} FROM {t} "
                 f"WHERE {self.pred(cols)} "
                 f"ORDER BY {e} {d} NULLS LAST, {pk_ord} LIMIT {r.randint(3, 40)}")
            return q
        if shape == "lag":
            # LAG/LEAD need a verified total order (same contract as the
            # order-sensitive window functions): PK order within an
            # always-true partition key, typed default for the edges
            t = r.choice(sorted(self.pools["_unique_pk"]))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            key = self.group_key(cols)
            e, ty, keycol = self.col(cols, ("int", "str"))
            fn = r.choice(["LAG", "LEAD"])
            off = r.randint(1, 3)
            default = self.constant(keycol, ty)
            order = ", ".join(f"{t}.{k} ASC NULLS FIRST" for k in PK[t])
            pks = ", ".join(f"{t}.{k} AS pk{i}" for i, k in enumerate(PK[t]))
            wexpr = (f"{fn}({e}, {off}, {default}) OVER "
                     f"(PARTITION BY {key} ORDER BY {order})")
            return (f"SELECT {key} AS c0, {pks}, {wexpr} AS w "
                    f"FROM {t} WHERE {self.pred(cols)}")
        if shape == "antijoin":
            # LEFT JOIN with an extra join-side predicate, then a
            # right-key IS NULL scan: the optimizer must keep the
            # ON-clause predicate on the join (not push it as a filter,
            # which would change which rows are "unmatched") and may
            # rewrite the whole thing to an anti join
            lt, lc, rt, rc = r.choice(FKS)
            lcols = [(lt, c, ty) for c, ty in TABLES[lt].items()]
            rcols = [(rt, c, ty) for c, ty in TABLES[rt].items()]
            on_extra = self.simple_pred(rcols)
            agg = self.agg(lcols)
            q = (f"SELECT COUNT(*) AS c0, {agg} AS c1 FROM {lt} "
                 f"LEFT JOIN {rt} ON {lt}.{lc} = {rt}.{rc} AND {on_extra} "
                 f"WHERE {rt}.{rc} IS NULL")
            if r.random() < 0.5:
                q += f" AND {self.pred(lcols, depth=1)}"
            return q
        if shape == "union_reagg":
            # re-aggregation over UNION ALL branches: INTEGER-only inner
            # aggregates (COUNT) so the outer SUM is exact regardless of
            # combine order — the fp-free form of partial/final agg
            t = r.choice(list(TABLES))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            key = self.group_key(cols)
            b1 = (f"SELECT {key} AS c0, COUNT(*) AS n FROM {t} "
                  f"WHERE {self.pred(cols, depth=1)} GROUP BY 1")
            b2 = (f"SELECT {key} AS c0, COUNT(*) AS n FROM {t} "
                  f"WHERE {self.pred(cols, depth=1)} GROUP BY 1")
            return (f"SELECT c0, CAST(SUM(n) AS BIGINT) AS c1, "
                    f"COUNT(*) AS c2 FROM ({b1} UNION ALL {b2}) u GROUP BY c0")
        if shape == "frame_rows":
            # explicit ROWS BETWEEN frames: row-positional, so
            # order-SENSITIVE — only over a verified total order (the
            # data-checked PK, same contract as ROW_NUMBER). Exact
            # aggregates (decimal SUM / COUNT / MIN/MAX) keep the frame
            # value engine-identical at every boundary offset.
            t = r.choice(sorted(self.pools["_unique_pk"]))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            key = self.group_key(cols)
            order = ", ".join(f"{t}.{k} ASC NULLS FIRST" for k in PK[t])
            pks = ", ".join(f"{t}.{k} AS pk{i}" for i, k in enumerate(PK[t]))
            lo = r.choice(["UNBOUNDED PRECEDING",
                           f"{r.randint(1, 5)} PRECEDING", "CURRENT ROW"])
            hi = (r.choice(["CURRENT ROW", f"{r.randint(1, 5)} FOLLOWING",
                            "UNBOUNDED FOLLOWING"])
                  if lo != "CURRENT ROW" else f"{r.randint(1, 5)} FOLLOWING")
            kind = r.choice(["sum", "count", "minmax"])
            if kind == "sum":
                fn = f"SUM({self.dec_sum_operand(self.num_expr(cols))})"
            elif kind == "count":
                fn = f"COUNT({self.num_expr(cols)})"
            else:
                e, _, _ = self.col(cols, ("int", "float"))
                fn = f"{r.choice(['MIN', 'MAX'])}({e})"
            w = (f"{fn} OVER (PARTITION BY {key} ORDER BY {order} "
                 f"ROWS BETWEEN {lo} AND {hi})")
            if kind == "sum":
                w = f"CAST({w} AS DOUBLE)"  # fin() rule, see agg()
            return (f"SELECT {key} AS c0, {pks}, {w} AS w "
                    f"FROM {t} WHERE {self.pred(cols)}")
        if shape == "frame_range":
            # RANGE value frames: peers (tied order values) share one
            # frame, so the result is deterministic WITHOUT a unique
            # order — which makes tie handling itself the fuzzed
            # surface (a positional implementation would diverge on
            # every tie). Single numeric sort key (offset frames
            # require one); NULL order rows filtered — the standard
            # leaves NULL-peer frame placement effectively
            # implementation-defined, so it's a trap, not a bug signal.
            t = r.choice(list(TABLES))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            ocol, _, _ = self.col(cols, ("int",))
            key = self.group_key(cols)
            pks = ", ".join(f"{t}.{k} AS pk{i}" for i, k in enumerate(PK[t]))
            lo = r.choice(["UNBOUNDED PRECEDING",
                           f"{r.choice(['1', '5', '10', '100'])} PRECEDING"])
            hi = r.choice(["CURRENT ROW",
                           f"{r.choice(['1', '5', '10', '100'])} FOLLOWING"])
            d = r.choice(["ASC", "DESC"])
            kind = r.choice(["sum", "count", "minmax"])
            if kind == "sum":
                fn = f"SUM({self.dec_sum_operand(self.num_expr(cols))})"
            elif kind == "count":
                fn = "COUNT(*)"
            else:
                e, _, _ = self.col(cols, ("int", "float"))
                fn = f"{r.choice(['MIN', 'MAX'])}({e})"
            w = (f"{fn} OVER (PARTITION BY {key} ORDER BY {ocol} {d} "
                 f"RANGE BETWEEN {lo} AND {hi})")
            if kind == "sum":
                w = f"CAST({w} AS DOUBLE)"
            return (f"SELECT {key} AS c0, {pks}, {ocol} AS oc, {w} AS w "
                    f"FROM {t} WHERE {ocol} IS NOT NULL")
        if shape == "grouping_sets":
            # fuzzer-generated GROUPING SETS with GROUPING() slot
            # markers — the NULL-slot disambiguation surface. Plain
            # COLUMN keys only: GROUPING(expr) argument matching is the
            # cross-engine-fragile part (derived keys are rollup's
            # job). The full key tuple is ALWAYS a member so every
            # selected key is grouped-somewhere (both engines reject a
            # never-grouped select column). Full-table, no WHERE —
            # grammar-contract lesson #2: over EMPTY input Spark's
            # Expand emits zero rows where the standard emits the ()
            # grand-total row.
            t = r.choice(list(TABLES))
            cands = [c for c, ty in TABLES[t].items() if ty in ("int", "str")]
            ks = r.sample(cands, min(len(cands), r.randint(2, 3)))
            extra = [*[(k,) for k in ks], ()]
            sets = [tuple(ks)] + r.sample(extra, r.randint(1, len(extra)))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            aggs = [self.agg(cols) for _ in range(r.randint(1, 2))]
            sel = [f"{t}.{k} AS c{i}" for i, k in enumerate(ks)]
            sel += [f"CAST(GROUPING({t}.{k}) AS INTEGER) AS g{i}"
                    for i, k in enumerate(ks)]
            sel += [f"{a} AS a{i}" for i, a in enumerate(aggs)]
            sets_sql = ", ".join(
                "(" + ", ".join(f"{t}.{k}" for k in s) + ")" for s in sets)
            return (f"SELECT {', '.join(sel)} FROM {t} "
                    f"GROUP BY GROUPING SETS ({sets_sql})")
        if shape == "setop_multi":
            # multi-column set-ops incl. the ALL variants (bag
            # semantics): EXCEPT ALL / INTERSECT ALL are where
            # hash-dedup vs multiset-counting implementations diverge;
            # multi-column rows make the row-equality definition
            # (NULL-safe, per-column) part of the surface
            t = r.choice(list(TABLES))
            cols = [(t, c, ty) for c, ty in TABLES[t].items()]
            outs = list(dict.fromkeys(
                self.group_key(cols) for _ in range(r.randint(2, 3))))
            sel = ", ".join(f"{e} AS c{i}" for i, e in enumerate(outs))
            op = r.choice(["INTERSECT", "EXCEPT", "UNION",
                           "UNION ALL", "INTERSECT ALL", "EXCEPT ALL"])
            return (f"SELECT {sel} FROM {t} WHERE {self.pred(cols)} "
                    f"{op} SELECT {sel} FROM {t} WHERE {self.pred(cols)}")
        if shape == "json_path":
            # JSON path extraction over JSON_SPEC's document column —
            # the dialect corner: same path, same CAST, different
            # function names. The extracted leaf is numeric (possibly
            # NULL: both engines skip NULLs in SUM/MIN/MAX and group
            # NULL keys together), so aggregates hash identically.
            sp = JSON_SPEC
            jt = sp["table"]
            cols = [(jt, c, ty) for c, ty in TABLES[jt].items()]
            jk = r.choice(sp["jk"])
            key = r.choice([
                sp["part_str"],
                f"({sp['num']} % {r.choice([3, 7, 10])})",
                f"EXTRACT(MONTH FROM {sp['ts']})",
                "{JK}",  # group directly by the extracted value
            ])
            lo = r.randint(*sp["jk_rng"])
            hi = lo + r.randint(*sp["jk_width"])
            where = r.choice([
                f"{{JK}} BETWEEN {lo} AND {hi}",
                f"{{JK}} {r.choice(['<', '>=', '<>'])} "
                f"{r.randint(*sp['jk_rng'])}",
                self.pred(cols, depth=1),
            ])
            aggs = ["COUNT(*) AS c1",
                    "CAST(SUM({JK}) AS BIGINT) AS c2",
                    f"{r.choice(['MIN', 'MAX'])}({{JK}}) AS c3"]
            tmpl = (f"SELECT {key} AS c0, {', '.join(aggs)} FROM {jt} "
                    f"WHERE {where} GROUP BY 1")
            return (tmpl.replace("{JK}", jk[0]), tmpl.replace("{JK}", jk[1]))
        if shape == "interval_arith":
            # interval arithmetic + date_trunc (SHARED text: both
            # engines parse INTERVAL n UNIT and date_trunc(unit, ts));
            # date_trunc is CAST AS TIMESTAMP because DuckDB returns
            # DATE for day-and-coarser units where Spark returns
            # TIMESTAMP — v6 generator contract lesson #1
            sp = IVAL_SPEC
            it = sp["table"]
            cols = [(it, c, ty) for c, ty in TABLES[it].items()]
            n1, u1 = r.randint(1, 72), r.choice(["MINUTE", "HOUR", "DAY"])
            sign = r.choice(["+", "-"])
            shifted = f"({sp['ts']} {sign} INTERVAL {n1} {u1})"
            key = r.choice([
                f"CAST(date_trunc('{r.choice(['hour', 'day', 'month'])}', "
                f"{shifted}) AS TIMESTAMP)",
                f"EXTRACT({r.choice(['YEAR', 'MONTH', 'DAY', 'HOUR'])} "
                f"FROM {shifted})",
            ])
            c = self.constant(sp["ts_key"], "ts")
            n2, u2 = r.randint(1, 10), r.choice(["HOUR", "DAY"])
            where = (f"{sp['ts']} {r.choice(['>=', '<'])} "
                     f"{c} {r.choice(['+', '-'])} INTERVAL {n2} {u2}")
            if r.random() < 0.4:
                where += f" AND {self.pred(cols, depth=1)}"
            aggs = ["COUNT(*) AS c1",
                    f"CAST(SUM(CAST({sp['num']} AS DECIMAL(18,4)) % 1000003) "
                    "AS DOUBLE) AS c2"]
            return (f"SELECT {key} AS c0, {', '.join(aggs)} FROM {it} "
                    f"WHERE {where} GROUP BY 1")
        if shape == "array_hof":
            # nested array HOFs over embeddings.embedding, quantized to
            # exact milli-unit BIGINTs (DECIMAL(12,3) cast — the shared
            # micro_vec rounding rule) so sums/filters/extractions are
            # integer-exact: per-element |x| <= ~1000 milli-units, so
            # sum-of-squares <= 64e6 per row and the per-group SUM stays
            # far inside the 2^53 double-exact range at every rung
            ap = ARR_SPEC
            at = ap["table"]
            mv = ap["mv"]
            k = r.randint(*ap["k_rng"])
            i = r.randint(*ap["idx_rng"])
            elem = (ap["elem_fn"][0].replace("{I}", str(i)),
                    ap["elem_fn"][1].replace("{I}", str(i)))
            scalar = r.choice([
                ("CAST(aggregate({MV}, CAST(0 AS BIGINT), "
                 "(acc, x) -> acc + x) AS BIGINT)",
                 "CAST(list_sum({MV}) AS BIGINT)"),
                ("CAST(aggregate({MV}, CAST(0 AS BIGINT), "
                 "(acc, x) -> acc + x * x) AS BIGINT)",
                 "CAST(list_sum(list_transform({MV}, x -> x * x)) "
                 "AS BIGINT)"),
                (f"CAST(size(filter({{MV}}, x -> x > {k})) AS BIGINT)",
                 f"CAST(len(list_filter({{MV}}, x -> x > {k})) AS BIGINT)"),
                elem,
                ("array_max({MV})", "list_max({MV})"),
                ("array_min({MV})", "list_min({MV})"),
            ])
            s_scalar = scalar[0].replace("{MV}", mv[0])
            d_scalar = scalar[1].replace("{MV}", mv[1])
            pk_c = ap["pk"].split(".")[1]
            lb_c = ap["label"].split(".")[1]
            cols = [(at, pk_c, TABLES[at][pk_c]),
                    (at, lb_c, TABLES[at][lb_c])]
            if r.random() < 0.5:
                # per-row form over the PK
                where = self.pred(cols, depth=1)
                tmpl = (f"SELECT {ap['pk']} AS pk0, {{SC}} AS c0 "
                        f"FROM {at} WHERE {where}")
            else:
                key = r.choice([ap["label"],
                                f"({ap['pk_mod']} % {r.choice([5, 9])})"])
                tmpl = (f"SELECT {key} AS c0, COUNT(*) AS c1, "
                        "CAST(SUM({SC}) AS BIGINT) AS c2, "
                        "MIN({SC}) AS c3, MAX({SC}) AS c4 "
                        f"FROM {at} GROUP BY 1")
            return (tmpl.replace("{SC}", s_scalar),
                    tmpl.replace("{SC}", d_scalar))
        if shape == "win_json":
            # v7: window functions COMPOSED with JSON extraction — the
            # partition key, the rank filter, even the running-sum
            # operand come from events.props. Deterministic because
            # event_id is a data-verified unique total order (else the
            # tie-stable RANK is the only order-sensitive fn used) and
            # the extracted value is integer-exact.
            sp = JSON_SPEC
            jt = sp["table"]
            jk = r.choice(sp["jk"])
            part = r.choice([
                f"({{JK}} % {r.choice([3, 5, 7])})",
                sp["part_str"],
            ])
            uniq = jt in self.pools["_unique_pk"]
            fns = ["RANK()"]
            if uniq:
                fns += ["ROW_NUMBER()",
                        "SUM(CAST({JK} AS DECIMAL(18,4)))"]
            fn = r.choice(fns)
            frame = ("" if not fn.startswith("SUM") else
                     " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW")
            order = (f"{{JK}} ASC NULLS FIRST, {sp['pk']} ASC"
                     if fn == "RANK()" and r.random() < 0.5
                     else f"{sp['pk']} ASC NULLS FIRST")
            w = f"{fn} OVER (PARTITION BY {part} ORDER BY {order}{frame})"
            if fn.startswith("SUM"):
                w = f"CAST({w} AS DOUBLE)"
            lo = r.randint(*sp["jk_rng"])
            where = r.choice([
                f"{{JK}} BETWEEN {lo} AND {lo + r.randint(*sp['jk_width'])}",
                f"{sp['part_str']} {r.choice(['=', '<>'])} "
                f"{self.constant(sp['part_str_key'], 'str')}",
            ])
            inner = (f"SELECT {part} AS c0, {sp['pk']} AS pk0, "
                     f"{{JK}} AS jv, {w} AS w FROM {jt} WHERE {where}")
            if fn in ("ROW_NUMBER()", "RANK()"):
                tmpl = f"SELECT * FROM ({inner}) sub WHERE w <= {r.randint(2, 6)}"
            else:
                tmpl = f"SELECT * FROM ({inner}) sub"
            return (tmpl.replace("{JK}", jk[0]), tmpl.replace("{JK}", jk[1]))
        if shape == "win_hof":
            # v7: the array-HOF scalar INSIDE the window clause — rank
            # vectors by an aggregate of their own elements within a
            # label partition (ORDER BY hof, pk: total order), or run
            # an exact running sum of the HOF value along the PK. Any
            # engine disagreement in HOF evaluation ORDER or null
            # handling now perturbs rank/frame placement, not just a
            # scalar column.
            ap = ARR_SPEC
            at = ap["table"]
            mv = ap["mv"]
            k = r.randint(*ap["k_rng"])
            scalar = r.choice([
                ("CAST(aggregate({MV}, CAST(0 AS BIGINT), "
                 "(acc, x) -> acc + x) AS BIGINT)",
                 "CAST(list_sum({MV}) AS BIGINT)"),
                (f"CAST(size(filter({{MV}}, x -> x > {k})) AS BIGINT)",
                 f"CAST(len(list_filter({{MV}}, x -> x > {k})) AS BIGINT)"),
                ("array_max({MV})", "list_max({MV})"),
            ])
            s_sc = scalar[0].replace("{MV}", mv[0])
            d_sc = scalar[1].replace("{MV}", mv[1])
            part = r.choice([ap["label"],
                             f"({ap['pk_mod']} % {r.choice([4, 8])})"])
            d = r.choice(["ASC", "DESC"])
            uniq = at in self.pools["_unique_pk"]
            if not uniq or r.random() < 0.6:
                w = (f"RANK() OVER (PARTITION BY {part} ORDER BY "
                     f"{{SC}} {d} NULLS LAST, {ap['pk']} ASC)")
                tail = f" WHERE w <= {r.randint(2, 5)}" if r.random() < 0.5 else ""
            else:
                w = ("CAST(SUM(CAST({SC} AS DECIMAL(18,4))) OVER "
                     f"(PARTITION BY {part} ORDER BY {ap['pk']} "
                     "ASC NULLS FIRST ROWS BETWEEN UNBOUNDED PRECEDING "
                     "AND CURRENT ROW) AS DOUBLE)")
                tail = ""
            inner = (f"SELECT {part} AS c0, {ap['pk']} AS pk0, "
                     f"{{SC}} AS hv, {w} AS w FROM {at}")
            tmpl = f"SELECT * FROM ({inner}) sub{tail}"
            return (tmpl.replace("{SC}", s_sc), tmpl.replace("{SC}", d_sc))
        if shape == "setop_json":
            # v7: set-ops over EXTRACTED values (incl. ALL bag
            # variants) — row equality is now defined over a computed
            # JSON leaf, so extraction-normalization differences
            # (whitespace, int-vs-string) that a plain projection
            # would hide become row-identity differences here.
            sp = JSON_SPEC
            jt = sp["table"]
            jk = r.choice(sp["jk"])
            sel = r.choice([
                f"{{JK}} AS c0, {sp['part_str']} AS c1",
                f"{{JK}} AS c0, ({sp['num']} % {r.choice([5, 11])}) AS c1",
                f"({{JK}} % 10) AS c0, EXTRACT(MONTH FROM {sp['ts']}) AS c1",
            ])
            op = r.choice(["INTERSECT", "EXCEPT", "UNION", "UNION ALL",
                           "INTERSECT ALL", "EXCEPT ALL"])
            lo1 = r.randint(*sp["jk_rng"])
            lo2 = r.randint(*sp["jk_rng"])
            w1 = f"{{JK}} BETWEEN {lo1} AND {lo1 + r.randint(*sp['jk_width'])}"
            w2 = r.choice([
                f"{{JK}} BETWEEN {lo2} AND {lo2 + r.randint(*sp['jk_width'])}",
                f"{sp['part_str']} = "
                f"{self.constant(sp['part_str_key'], 'str')}",
            ])
            tmpl = (f"SELECT {sel} FROM {jt} WHERE {w1} "
                    f"{op} SELECT {sel} FROM {jt} WHERE {w2}")
            return (tmpl.replace("{JK}", jk[0]), tmpl.replace("{JK}", jk[1]))
        # scalar_sub: uncorrelated scalar subquery in the predicate
        frm, _, cols = self.scope(max_joins=1)
        e, ty, _ = self.col(cols, ("int", "float"))
        t2 = r.choice(list(TABLES))
        cols2 = [(t2, c, ty2) for c, ty2 in TABLES[t2].items()]
        e2, _, _ = self.col(cols2, ("int", "float"))
        sub = f"SELECT {r.choice(['MIN', 'MAX'])}({e2}) FROM {t2}"
        if r.random() < 0.5:
            sub += f" WHERE {self.simple_pred(cols2)}"
        agg = self.agg(cols)
        return (f"SELECT COUNT(*) AS c0, {agg} AS c1 FROM {frm} "
                f"WHERE {e} {r.choice(['<', '>='])} ({sub})")


# ---------------------------------------------------------------------------
# harness
# ---------------------------------------------------------------------------


def run_campaign(spark, duck, pools, seeds, verbose=True, row_cap=None,
                 skipped_large=None, shapes=None):
    """row_cap: at scale-ladder dirs, a random group key can be a
    primary key, making the result CORPUS-SIZED (seed 1023 at 30x:
    GROUP BY o_orderkey = 45M groups, which is a collect-compare
    harness limit, not an engine bug — the engines still agree, you
    just can't toPandas 45M rows into the fuzz driver). With a cap,
    the harness pre-counts via DuckDB (a cheap aggregate) and SKIPS
    over-cap seeds, recording them in skipped_large (a list) so the
    campaign JSON reports them instead of silently dropping them."""
    from tests.oracle import compare_frames  # noqa: PLC0415

    failures = []
    for seed in seeds:
        q = Gen(seed, pools, shapes).query()
        # v6 dialect-pair shapes return (spark_sql, duck_sql) — same
        # rng decisions, per-engine function spellings (see GRAMMAR
        # docstring); plain shapes return one shared string
        spark_sql, sql = (q, q) if isinstance(q, str) else q
        if row_cap is not None:
            try:
                n = duck.execute(
                    f"SELECT COUNT(*) FROM ({sql}) _q"
                ).fetchone()[0]
            except Exception as ex:  # noqa: BLE001
                failures.append((seed, sql, f"duckdb precount error: {ex}"))
                continue
            if n > row_cap:
                if skipped_large is not None:
                    skipped_large.append(seed)
                if verbose:
                    print(f"skip seed={seed} ({n} rows > cap {row_cap})")
                continue
        try:
            spark_pdf = spark.sql(spark_sql).toPandas()
        except Exception as ex:  # noqa: BLE001
            failures.append((seed, spark_sql, f"spark error: {ex}"))
            if verbose:
                print(f"FAIL seed={seed} spark error\n  {spark_sql}\n  {ex}")
            continue
        try:
            duck_pdf = duck.execute(sql).fetchdf()
        except Exception as ex:  # noqa: BLE001
            failures.append((seed, sql, f"duckdb error: {ex}"))
            if verbose:
                print(f"FAIL seed={seed} duckdb error\n  {sql}\n  {ex}")
            continue
        problems = compare_frames(spark_pdf, duck_pdf)
        if problems:
            failures.append((seed, sql, "; ".join(problems)))
            if verbose:
                print(f"FAIL seed={seed} mismatch\n  {sql}\n  {problems}")
        elif verbose and seed % 25 == 0:
            print(f"ok   seed={seed} ({len(spark_pdf)} rows)")
    return failures


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    n = int(next((a.split("=")[1] for a in sys.argv if a.startswith("--n=")),
                 "300"))
    seed0 = int(next((a.split("=")[1] for a in sys.argv
                      if a.startswith("--seed0=")), "1"))
    out = next((a.split("=", 1)[1] for a in sys.argv
                if a.startswith("--json=")), None)
    cap = next((int(a.split("=")[1]) for a in sys.argv
                if a.startswith("--cap=")), None)

    from jobhouse_spark.session import get_spark
    from jobhouse_spark.tables import Tables
    from tests.oracle import duckdb_connect

    # scale-ladder campaigns need a real heap: full-table grids over a
    # replicated corpus collect into the fuzz driver for the compare
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    spark = get_spark(app_name="query_fuzz")
    Tables(spark, sf_dir).register_views(tuple(TABLES))
    duck = duckdb_connect(sf_dir)
    pools = build_pools(duck)

    seeds = range(seed0, seed0 + n)
    skipped_large: list[int] = []
    failures = run_campaign(spark, duck, pools, seeds, row_cap=cap,
                            skipped_large=skipped_large)
    summary = {
        "metric": "query_fuzz", "grammar": GRAMMAR_VERSION,
        "sf_dir": sf_dir, "n": n, "seed0": seed0,
        "pass": n - len(failures) - len(skipped_large),
        "fail": len(failures),
        "failed_seeds": [s for s, _, _ in failures][:20],
        "skipped_over_cap": skipped_large, "row_cap": cap,
    }
    print(json.dumps(summary))
    if out:
        with open(out, "w") as f:
            json.dump(summary, f)
            f.write("\n")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
