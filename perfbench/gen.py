"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, GEN_VERSION): the same seed
gives byte-identical inputs. ``ensure`` writes each workload's inputs once
under ``<work>/inputs/v<GEN_VERSION>/<workload>/seed<n>/`` and reuses them
on later runs, so generation never runs inside a measured window.

- ``analyst_mix``: TPC-H-shaped star schema plus events, documents and
  embeddings, with the column names and parquet types of the engine's
  synthetic tables (FIXTURES.md), at ``ANALYST_SF``.
- ``daily_etl``: HH.ru vacancy pages (item shape of
  tests/fixtures/hh_pages_v4.json) for a bootstrap day and ``ETL_DAYS``
  daily pulls. Employers come in zipf cohorts that share a brand word;
  postings name them through the nine surface-form kinds of
  tests/fixtures/hh_pages_v3.json (clean, legal suffix, case and
  whitespace dirt, one deletion and one substitution typo). A share of
  each day's items are reposts of earlier vacancies (same id), which the
  metadata store must drop.
  Alongside, a base document corpus and ``DEDUP_BATCHES`` daily document
  batches with planted exact copies and one-word-edit near copies of
  base docs.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np

GEN_VERSION = 5

# ---- analyst_mix --------------------------------------------------------
ANALYST_SF = 0.05
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PWORDS = ["large", "hot", "ring", "bolt", "steel", "green", "tiny", "nut",
           "frame", "blue", "brass", "pipe"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_DOC_WORDS = ("a batch part spark line column order small sort fast value "
              "scan hash slow group agg filter big key window row table "
              "stream merge data query vector join index plan").split()
_LANGS = ["en", "de", "fr", "es", "zh", "ru"]

# ---- daily_etl ----------------------------------------------------------
ETL_DAYS = 6                # days available after the bootstrap day
ETL_PER_PAGE = 100         # HH API page-size maximum
ETL_PAGES_PER_DAY = 10
ETL_BOOT_POSTINGS = 2_000
ETL_BOOT_EMPLOYERS = 1_000
# assumed, not measured: the repository holds no multi-day pull (NOTES.md)
ETL_NEW_EMPLOYER_SHARE = 0.10   # of a day's fresh postings
ETL_REPOST_SHARE = 0.20         # of a day's items, re-listed earlier vacancies
# surface form of an employer's later postings: one of the nine variant
# kinds, equally likely, that tools/make_fixture_v3.py cycles through for
# tests/fixtures/hh_pages_v3.json (and v4): clean twice, three legal
# suffixes, lower case + " inc", upper case with doubled spaces, a
# deletion typo, a substitution typo. 2 of 9 are typos.
_FORM_KINDS = ("clean", "clean", " LLC", " Ltd", " Group", "lower_inc", "shout",
               "deletion", "substitution")
ETL_SEARCH = "data engineer"
_AREAS = ["Moscow", "Saint Petersburg", "Kazan", "Novosibirsk", "Remote"]
_SECTORS = ["analytics", "logistics", "robotics", "payments", "genomics",
            "security", "telecom", "retail", "aviation", "mining", "insurance",
            "education", "media", "energy", "shipping", "consulting",
            "hospitality", "pharma", "textiles", "catering"]  # pairwise >= 4 edits
_TITLES = ["Data Engineer", "Senior Data Engineer", "ETL Developer",
           "Analytics Engineer", "Platform Engineer", "BI Developer"]
_SCHEDULES = [("fullDay", "Full day"), ("remote", "Remote"), ("flexible", "Flexible")]
_EXPERIENCE = [("noExperience", "No experience"), ("between1And3", "1-3 years"),
               ("between3And6", "3-6 years"), ("moreThan6", "6+ years")]
_EMPLOYMENT = [("full", "Full time"), ("part", "Part time"), ("project", "Project")]

# ---- daily_etl document batches ------------------------------------------
# the duplicate shares are assumed, not measured (NOTES.md)
DEDUP_BASE_DOCS = 5_000
DEDUP_BATCH_DOCS = 2_000
DEDUP_BATCHES = 6
DEDUP_WORDS_PER_DOC = (40, 80)
DEDUP_VOCAB = 50_000
DEDUP_EXACT_SHARE = 0.05
DEDUP_NEAR_SHARE = 0.10


def _pseudo_words(rng: np.random.Generator, n: int, syllables: tuple[int, int]) -> list[str]:
    """n distinct consonant-vowel-consonant words."""
    cons, vow = np.array(list("bcdfghjklmnpqrstvwz")), np.array(list("aeiou"))
    out: set[str] = set()
    while len(out) < n:
        m = 2 * (n - len(out)) + 8
        syl = np.char.add(np.char.add(cons[rng.integers(0, 19, (m, syllables[1]))],
                                      vow[rng.integers(0, 5, (m, syllables[1]))]),
                          cons[rng.integers(0, 19, (m, syllables[1]))])
        ks = rng.integers(syllables[0], syllables[1] + 1, m)
        for row, k in zip(syl, ks):
            if len(out) < n:
                out.add("".join(row[:k]))
    return sorted(out)


# ---------------------------------------------------------------------------
# analyst_mix
# ---------------------------------------------------------------------------
def analyst_tables(seed: int, out: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 1])
    sf = ANALYST_SF
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_events, n_docs, n_emb = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), 1_000
    ts_us = pa.timestamp("us")

    def write(name: str, cols: dict, schema: list[tuple[str, pa.DataType]]) -> None:
        arrays = [pa.array(cols[c], type=t) for c, t in schema]
        pq.write_table(pa.Table.from_arrays(arrays, names=[c for c, _ in schema]),
                       os.path.join(out, f"{name}.parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, lo: int, hi: int, n: int) -> np.ndarray:
        return np.datetime64(start, "us") + rng.integers(lo, hi, n).astype("timedelta64[D]")

    write("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS},
          [("r_regionkey", pa.int32()), ("r_name", pa.string())])
    write("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": np.arange(25, dtype=np.int32) % 5},
          [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())])
    write("customer", {"c_custkey": np.arange(n_cust),
                       "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                       "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                       "c_acctbal": money(-999, 9999, n_cust),
                       "c_mktsegment": rng.choice(_SEGMENTS, n_cust)},
          [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
           ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())])
    write("supplier", {"s_suppkey": np.arange(n_supp),
                       "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                       "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                       "s_acctbal": money(-999, 9999, n_supp)},
          [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
           ("s_acctbal", pa.float64())])
    pw = rng.choice(_PWORDS, (n_part, 2))
    write("part", {"p_partkey": np.arange(n_part),
                   "p_name": [f"{a} {b}" for a, b in pw],
                   "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                   "p_type": rng.choice(_PTYPES, n_part),
                   "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                   "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)},
          [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
           ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())])
    odate = days("1995-01-01", 0, 2400, n_ord)
    write("orders", {"o_orderkey": np.arange(n_ord),
                     "o_custkey": rng.integers(0, n_cust, n_ord),
                     "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
                     "o_totalprice": money(1000, 500_000, n_ord),
                     "o_orderdate": odate,
                     "o_orderpriority": rng.choice(_PRIORITIES, n_ord)},
          [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
           ("o_totalprice", pa.float64()), ("o_orderdate", ts_us),
           ("o_orderpriority", pa.string())])
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    write("lineitem", {"l_orderkey": okey,
                       "l_partkey": rng.integers(0, n_part, n_li),
                       "l_suppkey": rng.integers(0, n_supp, n_li),
                       "l_linenumber": lnum.astype(np.int32),
                       "l_quantity": qty,
                       "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
                       "l_discount": rng.integers(0, 11, n_li) / 100.0,
                       "l_tax": rng.integers(0, 9, n_li) / 100.0,
                       "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                       "l_linestatus": rng.choice(["O", "F"], n_li),
                       "l_shipdate": np.repeat(odate, lines)
                       + rng.integers(1, 122, n_li).astype("timedelta64[D]")},
          [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
           ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
           ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
           ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
           ("l_linestatus", pa.string()), ("l_shipdate", ts_us)])
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * 86_400 * 10**6, n_events).astype("timedelta64[us]"))
    write("events", {"event_id": np.arange(n_events), "ts": ev_ts,
                     "user_id": rng.integers(0, int(15_000 * sf), n_events),
                     "event_type": rng.choice(_EVENT_TYPES, n_events),
                     "value": money(0.01, 500, n_events),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]},
          [("event_id", pa.int64()), ("ts", ts_us), ("user_id", pa.int64()),
           ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])
    texts = [" ".join(rng.choice(_DOC_WORDS, int(k)))
             for k in rng.integers(10, 100, n_docs)]
    write("documents", {"doc_id": np.arange(n_docs), "text": texts,
                        "lang": rng.choice(_LANGS, n_docs),
                        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
                        "n_chars": np.array([len(t) for t in texts])},
          [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
           ("source", pa.string()), ("n_chars", pa.int64())])
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    write("embeddings", {"vec_id": np.arange(n_emb), "embedding": list(emb),
                         "label": rng.integers(0, 10, n_emb).astype(np.int32)},
          [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
           ("label", pa.int32())])
    return {"sf": sf, "lineitem_rows": n_li, "orders_rows": n_ord, "events_rows": n_events}


# ---------------------------------------------------------------------------
# daily_etl
# ---------------------------------------------------------------------------
def _typo(rng: np.random.Generator, name: str, kind: str) -> str:
    """A deletion or a substitution at a random letter position (edit
    distance 1 from the normalized name)."""
    pos = [i for i, ch in enumerate(name) if ch.isalpha()]
    i = int(rng.choice(pos))
    if kind == "deletion":
        return name[:i] + name[i + 1:]
    alt = [c for c in "abcdefghijklmnopqrstuvwxyz" if c != name[i].lower()]
    return name[:i] + str(rng.choice(alt)) + name[i + 1:]


def etl_days(seed: int, out: str) -> dict:
    """Writes day<k>.json (a list of HH page payloads) for k = 0..ETL_DAYS
    and truth.json: each surface form's [employer id, first day], and per
    day the expected new-posting and distinct-employer counts."""
    rng = np.random.default_rng([seed, 2])
    per_day = ETL_PAGES_PER_DAY * ETL_PER_PAGE
    n_new_emp = int(per_day * (1 - ETL_REPOST_SHARE) * ETL_NEW_EMPLOYER_SHARE)
    n_emp = ETL_BOOT_EMPLOYERS + n_new_emp * ETL_DAYS
    # zipf cohorts: cohort k holds ~40*k^-1.1 employers sharing a brand,
    # each with its own sector word (sector words are >= 4 edits apart,
    # so no two employers' typo forms come within one edit of each other)
    sizes, k = [], 1
    while sum(sizes) < n_emp:
        sizes.append(max(1, min(len(_SECTORS), int(40 * k ** -1.1))))
        k += 1
    brands = _pseudo_words(rng, len(sizes), (4, 4))
    bases = [f"{brands[c]} {_SECTORS[s]}" for c, size in enumerate(sizes)
             for s in rng.permutation(len(_SECTORS))[:size]][:n_emp]
    bases = [bases[int(i)] for i in rng.permutation(len(bases))]
    typos = [{k: _typo(rng, b.title(), k) for k in ("deletion", "substitution")}
             for b in bases]
    # employer popularity: zipf weights over a shuffled order
    weight = 1.0 / np.arange(1, n_emp + 1) ** 0.8
    rng.shuffle(weight)

    surface: dict[str, list[int]] = {}
    introduced: list[int] = []
    next_new = ETL_BOOT_EMPLOYERS
    posted: list[dict] = []
    expected_new: list[int] = []
    employers_per_day: list[int] = []
    typo_n = 0
    next_id = 5_000_000
    for day in range(ETL_DAYS + 1):
        if day == 0:
            fresh_n, repost_n = ETL_BOOT_POSTINGS, 0
            new_emps = list(range(ETL_BOOT_EMPLOYERS))
        else:
            repost_n = int(per_day * ETL_REPOST_SHARE)
            fresh_n = per_day - repost_n
            new_emps = list(range(next_new, next_new + n_new_emp))
            next_new += n_new_emp
        known = np.array(introduced) if introduced else np.array([], dtype=int)
        n_known = fresh_n - len(new_emps)
        if len(known):
            p = weight[known] / weight[known].sum()
            emp_ids = list(rng.choice(known, n_known, p=p)) + new_emps
        else:
            emp_ids = list(rng.choice(new_emps, n_known)) + new_emps
        first_time = set(new_emps)
        introduced.extend(new_emps)
        items = []
        for e in emp_ids:
            e = int(e)
            base = bases[e]
            # an employer's first posting uses a clean form, so its two
            # typos (two edits apart) both meet the clean form
            kind = "clean" if e in first_time else _FORM_KINDS[int(rng.integers(0, 9))]
            first_time.discard(e)
            if kind == "clean":
                form = base.title()
            elif kind == "lower_inc":
                form = base.lower() + " inc"
            elif kind == "shout":
                form = base.upper().replace(" ", "  ")
            elif kind in typos[e]:
                form = typos[e][kind]
            else:
                form = base.title() + kind
            if form not in surface:
                surface[form] = [e, day]
            typo_n += kind in typos[e]
            items.append(_hh_item(rng, next_id, day, form, e))
            next_id += 1
        posted_today = list(items)
        employers_per_day.append(len(set(emp_ids)))
        if repost_n:
            for j in rng.choice(len(posted), repost_n, replace=False):
                items.append(posted[int(j)])
        order = rng.permutation(len(items))
        items = [items[int(j)] for j in order]
        posted.extend(posted_today)
        expected_new.append(len(posted_today))
        per_page = len(items) if day == 0 else ETL_PER_PAGE
        n_pages = max(1, -(-len(items) // per_page))
        pages = [{"pages": n_pages, "page": p, "found": len(items), "per_page": per_page,
                  "items": items[p * per_page:(p + 1) * per_page]} for p in range(n_pages)]
        with open(os.path.join(out, f"day{day}.json"), "w") as fh:
            json.dump(pages, fh)
    with open(os.path.join(out, "truth.json"), "w") as fh:
        json.dump({"surface": surface, "expected_new": expected_new,
                   "employers_per_day": employers_per_day}, fh)
    fresh_total = sum(expected_new)
    return {"postings_per_day": per_day, "pages_per_day": ETL_PAGES_PER_DAY,
            "employers": n_emp,
            "new_employer_share": n_new_emp / (per_day - int(per_day * ETL_REPOST_SHARE)),
            "typo_share": typo_n / fresh_total,
            "repost_share": int(per_day * ETL_REPOST_SHARE) / per_day}


def etl_date(day: int) -> tuple[str, str]:
    """(ISO date, two-digit day of month) of simulated day ``day``."""
    d = np.datetime64("2024-05-01") + np.timedelta64(day, "D")
    return str(d), str(d)[8:10]


def _hh_item(rng: np.random.Generator, vid: int, day: int, employer: str, emp_id: int) -> dict:
    date, _ = etl_date(day)
    lo = int(rng.integers(60, 300)) * 1000
    salary = None if rng.random() < 0.2 else {
        "from": lo, "to": None if rng.random() < 0.5 else lo + 50_000,
        "currency": "RUR", "gross": bool(rng.random() < 0.5)}
    area = int(rng.integers(0, len(_AREAS)))
    sch = _SCHEDULES[int(rng.integers(0, len(_SCHEDULES)))]
    exp = _EXPERIENCE[int(rng.integers(0, len(_EXPERIENCE)))]
    emp = _EMPLOYMENT[int(rng.integers(0, len(_EMPLOYMENT)))]
    return {
        "id": str(vid),
        "name": f"{_TITLES[vid % len(_TITLES)]} {vid}",
        "published_at": f"{date}T{9 + vid % 9:02d}:{vid % 60:02d}:00+0300",
        "area": {"id": str(area + 1), "name": _AREAS[area]},
        "salary": salary,
        "employer": {"id": str(emp_id), "name": employer},
        "snippet": {"requirement": f"Own pipeline {vid % 997} for team {vid % 31}",
                    "responsibility": "Design and operate data pipelines"},
        "schedule": {"id": sch[0], "name": sch[1]},
        "experience": {"id": exp[0], "name": exp[1]},
        "employment": {"id": emp[0], "name": emp[1]},
        "alternate_url": f"https://hh.example/vacancy/{vid}",
    }


# ---------------------------------------------------------------------------
# daily_etl document batches
# ---------------------------------------------------------------------------
def corpus(seed: int, out: str) -> dict:
    """Writes base.parquet, batch<k>.parquet and docs_truth.json (per batch:
    planted exact-copy count and planted (source, copy) near-dup pairs)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    vocab = np.array(_pseudo_words(rng, DEDUP_VOCAB, (2, 3)))

    def fresh(n: int) -> list[list[str]]:
        lens = rng.integers(DEDUP_WORDS_PER_DOC[0], DEDUP_WORDS_PER_DOC[1] + 1, n)
        return [list(vocab[rng.integers(0, len(vocab), int(k))]) for k in lens]

    def write(name: str, ids, docs) -> None:
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array([" ".join(d) for d in docs])}),
                       os.path.join(out, f"{name}.parquet"))

    base = fresh(DEDUP_BASE_DOCS)
    write("base", np.arange(DEDUP_BASE_DOCS), base)
    exact_pool = list(range(DEDUP_BASE_DOCS))   # ids whose text is indexed
    texts = {i: d for i, d in enumerate(base)}
    truth = []
    next_id = DEDUP_BASE_DOCS
    n_exact = int(DEDUP_BATCH_DOCS * DEDUP_EXACT_SHARE)
    n_near = int(DEDUP_BATCH_DOCS * DEDUP_NEAR_SHARE)
    for b in range(DEDUP_BATCHES):
        docs, kinds = [], []
        for src in rng.choice(exact_pool, n_exact, replace=False):
            docs.append(list(texts[int(src)]))
            kinds.append(("exact", int(src)))
        for src in rng.choice(DEDUP_BASE_DOCS, n_near, replace=False):
            d = list(base[int(src)])
            j = int(rng.integers(0, len(d)))
            d[j] = str(vocab[int(rng.integers(0, len(vocab)))])
            docs.append(d)
            kinds.append(("near", int(src)))
        new_docs = fresh(DEDUP_BATCH_DOCS - n_exact - n_near)
        docs.extend(new_docs)
        kinds.extend(("fresh", -1) for _ in new_docs)
        order = rng.permutation(len(docs))
        ids = np.arange(next_id, next_id + len(docs))
        near_pairs = []
        for new_id, j in zip(ids, order):
            kind, src = kinds[int(j)]
            if kind == "near":
                near_pairs.append([src, int(new_id)])
            elif kind == "fresh":
                texts[int(new_id)] = docs[int(j)]
                exact_pool.append(int(new_id))
        write(f"batch{b}", ids, [docs[int(j)] for j in order])
        truth.append({"exact": n_exact, "near_pairs": near_pairs,
                      "first_id": int(ids[0]), "n": len(docs)})
        next_id += len(docs)
    with open(os.path.join(out, "docs_truth.json"), "w") as fh:
        json.dump(truth, fh)
    return {"vocab_size": DEDUP_VOCAB, "base_docs": DEDUP_BASE_DOCS,
            "batch_docs": DEDUP_BATCH_DOCS, "exact_dup_share": n_exact / DEDUP_BATCH_DOCS,
            "near_dup_share": n_near / DEDUP_BATCH_DOCS}


def daily_inputs(seed: int, out: str) -> dict:
    return {**etl_days(seed, out), **corpus(seed, out)}


GENERATORS = {"analyst_mix": analyst_tables, "daily_etl": daily_inputs}


def ensure(workload: str, seed: int, work: str, keep: int = 4) -> tuple[str, dict]:
    """Return (input dir, generator summary), generating on first use.
    Keeps the ``keep`` most recently used seeds of each workload."""
    parent = os.path.join(work, "inputs", f"v{GEN_VERSION}", workload)
    os.makedirs(parent, exist_ok=True)
    for x in os.listdir(parent):   # left by a generator that did not finish
        if ".part" in x and not os.path.exists(f"/proc/{x.rsplit('.part', 1)[1]}"):
            shutil.rmtree(os.path.join(parent, x), ignore_errors=True)
    d = os.path.join(parent, f"seed{seed}")
    done = os.path.join(d, "_summary.json")
    if not os.path.exists(done):
        part = f"{d}.part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        summary = GENERATORS[workload](seed, part)
        with open(os.path.join(part, "_summary.json"), "w") as fh:
            json.dump(summary, fh)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(part, d)
    os.utime(d)
    old = sorted((os.path.join(parent, x) for x in os.listdir(parent) if ".part" not in x),
                 key=os.path.getmtime)[:-keep]
    for x in old:
        shutil.rmtree(x, ignore_errors=True)
    with open(done) as fh:
        return d, json.load(fh)
