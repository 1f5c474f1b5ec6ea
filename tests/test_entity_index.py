"""EntityGramIndex + resolve_entities_incremental_indexed (round 14).

The indexed resolver's exactness claim: identical output to the
plain incremental resolver and to a full re-resolve of the union,
for ANY df snapshot staleness — the one-sided prefix theorem makes
prefix CHOICE a performance knob, never a recall one. These tests pin
that three ways (randomized split, planted cross-day bridge chain,
parquet round-trip mid-chain), plus the no-op batches.
"""

import random

import pytest

from jobhouse_spark.operators.entity import (
    EntityGramIndex,
    build_entity_index,
    resolve_entities,
    resolve_entities_incremental,
    resolve_entities_incremental_indexed,
)


def _df(spark, names):
    return spark.createDataFrame([(n,) for n in names], "name string")


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture(scope="module")
def corpus():
    """Typo chains, suffix noise, shared tokens, short names — every
    stratum and the straddle band exercised (same generator shape as
    tests/test_silver_gold.py::test_incremental_resolution_equals_full_on_split,
    different seed so the two tests don't share a split)."""
    rng = random.Random(1407)
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
        variants.append("".join(chars))
    variants += ["ab", "abc", "abcd", "abxd", "zq"]
    rng.shuffle(variants)
    return variants


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_indexed_equals_plain_and_rebuild(spark, corpus):
    cut = len(corpus) * 2 // 3
    day1 = _df(spark, corpus[:cut])
    batch = _df(spark, corpus[cut:])

    stored = resolve_entities(day1)
    idx = build_entity_index(day1, gram_len=4, max_dist=2)
    indexed, idx2 = resolve_entities_incremental_indexed(batch, stored, idx)
    plain = resolve_entities_incremental(batch, stored)
    full = resolve_entities(day1.unionByName(batch))

    got = _rows(indexed)
    assert got == _rows(plain)
    assert got == _rows(full)

    # the updated index covers the union domain: applying a SECOND
    # batch against it must equal the plain path against the same state
    batch2 = _df(spark, corpus[:8])  # resubmissions + their typo forms
    nxt, _ = resolve_entities_incremental_indexed(batch2, indexed, idx2)
    assert _rows(nxt) == _rows(resolve_entities_incremental(batch2, indexed))


def test_index_defaults_to_resolver_max_dist(spark):
    """An index built with defaults applies a batch at the resolvers'
    edit distance (2): both edit-distance-2 typos merge, as in a full
    re-resolve."""
    day1 = _df(spark, ["northwind trading company", "acme"])
    batch = _df(spark, ["northwind tradinq compamy", "acxy"])
    indexed, _ = resolve_entities_incremental_indexed(
        batch, resolve_entities(day1), build_entity_index(day1)
    )
    got = _rows(indexed)
    assert got == _rows(resolve_entities(day1.unionByName(batch)))
    assert dict(got) == {
        "acme": "acme",
        "acxy": "acme",
        "northwind tradinq compamy": "northwind trading company",
        "northwind trading company": "northwind trading company",
    }


def test_incremental_indexes_stored_names_unchanged(spark):
    """Normalization strips one legal suffix per pass, so "Acme LLC LLC"
    is stored as "acme llc". The plain apply must index that stored
    form, not a second normalization of it ("acme"), or the typo
    "acme llx" misses it."""
    day1 = _df(spark, ["Acme LLC LLC"])
    batch = _df(spark, ["acme llx"])
    got = _rows(resolve_entities_incremental(batch, resolve_entities(day1)))
    assert got == _rows(resolve_entities(day1.unionByName(batch)))
    assert got == [("acme llc", "acme llc"), ("acme llx", "acme llc")]


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_indexed_noop_batches(spark, corpus):
    day1 = _df(spark, corpus[: len(corpus) // 2])
    stored = resolve_entities(day1)
    idx = build_entity_index(day1, gram_len=4, max_dist=2)

    empty = spark.createDataFrame([], "name string")
    again, idx_same = resolve_entities_incremental_indexed(empty, stored, idx)
    assert _rows(again) == _rows(stored)
    # empty batch appends nothing to the index
    assert idx_same.postings.count() == idx.postings.count()
    assert idx_same.delkeys.count() == idx.delkeys.count()

    repeat, _ = resolve_entities_incremental_indexed(day1.limit(5), stored, idx)
    assert _rows(repeat) == _rows(stored)


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_indexed_chained_bridge_with_parquet_roundtrip(spark, tmp_path):
    """The K=4 cross-day bridge chain of
    test_incremental_resolution_chained_days, through the INDEXED path
    with a stale df snapshot throughout — and the index + mapping
    round-tripped through parquet between day 2 and day 3 (the
    production shape: both live in tables between days), so the bridge
    merge is computed from RELOADED state."""
    day0 = _df(spark, ["Quasar Shipping", "Quasar Shipping LLC",
                       "Nimbus Freight"])
    days = [
        ["Aurora Analytics", "Nimbus  FREIGHT"],
        ["aurorx bnalytica", "Granite Harbor"],
        ["AURORX  ANALYTICA"],                     # bridges day-1 and day-2
        ["Granite Harbor Ltd", "Quasar Shipping"],
    ]

    stored = resolve_entities(day0)
    idx = build_entity_index(day0, gram_len=4, max_dist=2)
    union = day0
    snapshots = []
    for k, batch_names in enumerate(days, start=1):
        batch = _df(spark, batch_names)
        stored, idx = resolve_entities_incremental_indexed(batch, stored, idx)
        union = union.unionByName(batch)
        got = _rows(stored)
        want = _rows(resolve_entities(union))
        assert got == want, f"indexed chain diverged from rebuild at day {k}"
        snapshots.append(dict(got))
        if k == 2:
            idx.save(str(tmp_path / "idx"))
            stored.write.mode("overwrite").parquet(str(tmp_path / "map"))
            idx = EntityGramIndex.load(spark, str(tmp_path / "idx"))
            stored = spark.read.parquet(str(tmp_path / "map"))
            assert (idx.gram_len, idx.max_dist) == (4, 2)

    assert snapshots[1]["aurorx bnalytica"] == "aurorx bnalytica"
    assert snapshots[2]["aurorx bnalytica"] == "aurora analytics"
    assert snapshots[2]["aurorx analytica"] == "aurora analytics"
    assert snapshots[3]["quasar shipping"] == snapshots[0]["quasar shipping"]
