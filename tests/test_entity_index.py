"""EntityGramIndex + resolve_entities_incremental_indexed (round 14).

The indexed resolver's exactness claim: identical output to the
plain incremental resolver and to a full re-resolve of the union,
for ANY df snapshot staleness — the one-sided prefix theorem makes
prefix CHOICE a performance knob, never a recall one. These tests pin
that three ways (randomized split, planted cross-day bridge chain,
parquet round-trip mid-chain), plus the no-op batches and the
refresh_df merge path.
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


@pytest.mark.campaign  # round-15 verdict task 1: driver verify-window
def test_index_refresh_df_is_equivalence_preserving(spark, corpus):
    """refresh_df=True merges batch gram counts into the snapshot —
    a candidate-pruning tune-up that must not change results, and the
    merged snapshot must equal a from-scratch rebuild of the df
    aggregate over the union domain."""
    from pyspark.sql import functions as F

    cut = len(corpus) * 2 // 3
    day1 = _df(spark, corpus[:cut])
    batch = _df(spark, corpus[cut:])
    stored = resolve_entities(day1)
    idx = build_entity_index(day1, gram_len=4, max_dist=2)

    # resolver's new_nodes = normalized batch minus stored names
    new_nodes = (
        resolve_entities(batch).select("name")
        .join(stored.select("name"), "name", "left_anti")
    )
    fresh = idx.updated(new_nodes, refresh_df=True)
    stale = idx.updated(new_nodes, refresh_df=False)

    rebuilt = build_entity_index(
        day1.unionByName(batch), gram_len=4, max_dist=2
    )
    assert _rows(fresh.gram_df) == _rows(rebuilt.gram_df)
    assert _rows(fresh.postings) == _rows(rebuilt.postings)
    assert _rows(stale.postings) == _rows(rebuilt.postings)

    # and a next-day apply is identical under either snapshot
    probe = _df(spark, corpus[:6])
    m1, _ = resolve_entities_incremental_indexed(
        probe, resolve_entities(day1.unionByName(batch)), fresh
    )
    m2, _ = resolve_entities_incremental_indexed(
        probe, resolve_entities(day1.unionByName(batch)), stale
    )
    assert _rows(m1) == _rows(m2)


def test_index_defaults_match_resolver_distance(spark):
    """``build_entity_index`` with default arguments must index at the
    resolvers' default distance (2): a batch name at distance EXACTLY 2
    from a stored name joins that stored cluster, in both strata —
    ``granitx harbxr`` (long) and ``zxrbx`` (short)."""
    day1 = _df(spark, ["Granite Harbor", "Granite Harbor LLC",
                       "Cascade Delta", "Zorba", "Juno"])
    batch = _df(spark, ["granitx harbxr", "zxrbx", "Nimbus Freight"])

    stored = resolve_entities(day1)
    idx = build_entity_index(day1)
    assert idx.max_dist == 2
    indexed, _ = resolve_entities_incremental_indexed(batch, stored, idx)

    got = _rows(indexed)
    assert got == _rows(resolve_entities(day1.unionByName(batch)))
    canon = dict(got)
    assert canon["granitx harbxr"] == "granite harbor"
    assert canon["zxrbx"] == canon["zorba"]


def test_banded_levenshtein_verify_matches_plain(spark):
    """The verify filter (thresholded ``levenshtein(src, dst, t) >= 0``)
    keeps exactly the pairs the plain ``levenshtein <= t`` keeps, on
    seeded random pairs with multibyte characters (2-, 3- and 4-byte
    UTF-8) and edit distances on both sides of every threshold."""
    from pyspark.sql import functions as F

    from jobhouse_spark.operators.entity import _within_dist

    rng = random.Random(2203)
    alphabet = "abcxyz éжд日本\U0001F600"

    def word(n):
        return "".join(rng.choice(alphabet) for _ in range(n))

    def edited(s, k):
        chars = list(s)
        for _ in range(k):
            op = rng.randrange(3)
            i = rng.randrange(len(chars) + 1)
            if op == 0:
                chars.insert(i, rng.choice(alphabet))
            elif chars and op == 1:
                chars.pop(min(i, len(chars) - 1))
            elif chars:
                chars[min(i, len(chars) - 1)] = rng.choice(alphabet)
        return "".join(chars)

    pairs = []
    for _ in range(4000):
        a = word(rng.randrange(0, 12))
        b = word(rng.randrange(0, 12)) if rng.random() < 0.2 else edited(
            a, rng.randrange(0, 6))
        pairs.append((a, b))
    df = spark.createDataFrame(pairs, "src string, dst string")

    plain = F.levenshtein("src", "dst")
    aggs = []
    for t in (1, 2, 3):
        kept = _within_dist(t)
        aggs += [
            F.sum((kept != (plain <= t)).cast("int")).alias(f"diff{t}"),
            F.sum((plain == t).cast("int")).alias(f"at{t}"),
            F.sum((plain == t + 1).cast("int")).alias(f"past{t}"),
        ]
    r = df.agg(*aggs).first()
    for t in (1, 2, 3):
        assert r[f"diff{t}"] == 0, f"banded verify disagrees at t={t}"
        # the set straddles each bound, so agreement is not vacuous
        assert r[f"at{t}"] > 50 and r[f"past{t}"] > 50, r


def test_indexed_apply_reads_the_batch_once(spark, tmp_path):
    """The day's new-name batch is evaluated once and checkpointed, so
    the plans handed back — the updated mapping and the updated index's
    postings and delkeys — read those blocks and never the batch's
    source relation."""
    day1 = _df(spark, ["Granite Harbor", "Cascade Delta", "Zorba",
                       "Aurora Analytics"])
    src = str(tmp_path / "batch_src")
    _df(spark, ["granite harbxr", "Nimbus Freight", "zorbx", "ab"]) \
        .write.parquet(src)
    batch = spark.read.parquet(src)
    assert any(src in f for f in batch.inputFiles())

    stored = resolve_entities(day1)
    idx = build_entity_index(day1)
    mapping, idx2 = resolve_entities_incremental_indexed(batch, stored, idx)
    for name, df in (("mapping", mapping), ("postings", idx2.postings),
                     ("delkeys", idx2.delkeys)):
        assert not any(src in f for f in df.inputFiles()), name

    assert _rows(mapping) == _rows(resolve_entities(day1.unionByName(batch)))
