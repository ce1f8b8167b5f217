"""SCD2 builder/lookup and deterministic sampling invariants."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from deftunes_spark.ext.sampling import (
    hash_sample,
    stratified_sample,
    train_test_split,
)
from deftunes_spark.ext.scd import scd2_from_log

BASE = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def change_log(spark):
    rows = [
        # user 1: A → A (collapse) → B → A
        (1, BASE, "A"),
        (1, BASE + dt.timedelta(days=1), "A"),
        (1, BASE + dt.timedelta(days=2), "B"),
        (1, BASE + dt.timedelta(days=5), "A"),
        # user 2: single state, with a NULL attr change
        (2, BASE, None),
        (2, BASE + dt.timedelta(days=3), "C"),
    ]
    return spark.createDataFrame(rows, ["uid", "ts", "state"])


def test_scd2_versions(change_log):
    out = scd2_from_log(change_log, "uid", "ts", ["state"]).collect()
    by_key = {(r.uid, r.version): r for r in out}
    assert len(out) == 5  # consecutive duplicate collapsed
    v1 = by_key[(1, 1)]
    assert v1.state == "A" and v1.valid_from == BASE
    assert v1.valid_to == BASE + dt.timedelta(days=2)
    v3 = by_key[(1, 3)]
    assert v3.state == "A" and v3.valid_to is None  # open version
    assert by_key[(2, 1)].state is None  # NULL is a real state
    assert by_key[(2, 2)].state == "C"


@pytest.fixture(scope="module")
def ids(spark):
    return spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(5000)], ["id", "grp"]
    )


def test_hash_sample_deterministic_and_sized(ids):
    a = {r.id for r in hash_sample(ids, "id", 0.2).collect()}
    b = {r.id for r in hash_sample(ids, "id", 0.2).collect()}
    assert a == b  # pure function of the data
    assert 0.15 < len(a) / 5000 < 0.25
    # different salt → a (nearly) independent draw
    c = {r.id for r in hash_sample(ids, "id", 0.2, salt="v2").collect()}
    assert c != a


def test_sample_nesting(ids):
    """A smaller fraction is a strict subset of a larger one — the
    property that lets you grow a sample without resampling."""
    small = {r.id for r in hash_sample(ids, "id", 0.05).collect()}
    big = {r.id for r in hash_sample(ids, "id", 0.3).collect()}
    assert small <= big


def test_split_is_partition(ids):
    out = train_test_split(ids, "id", 0.25).collect()
    assert len(out) == 5000
    frac = sum(1 for r in out if r.split == "test") / 5000
    assert 0.2 < frac < 0.3


def test_stratified_fractions(ids):
    out = stratified_sample(
        ids, "grp", {"g0": 1.0, "g1": 0.2, "g2": 0.0}, "id"
    )
    by_grp = {
        r.grp: r.n
        for r in out.groupBy("grp").agg(F.count("*").alias("n")).collect()
    }
    assert by_grp.get("g0") == 1667  # 100% kept
    assert by_grp.get("g2") is None  # 0% kept
    assert 200 < by_grp.get("g1", 0) < 500


def test_shuffle_shards_deterministic_and_balanced(ids):
    from deftunes_spark.ext.sampling import shuffle_shards

    a = {
        (r.id): (r.shard, r.shard_pos)
        for r in shuffle_shards(ids, "id", n_shards=4).collect()
    }
    b = {
        (r.id): (r.shard, r.shard_pos)
        for r in shuffle_shards(
            ids.repartition(13), "id", n_shards=4
        ).collect()
    }
    assert a == b  # partitioning-invariant
    counts = {}
    for s, _ in a.values():
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) == {0, 1, 2, 3}
    assert max(counts.values()) < 2 * min(counts.values())
    # Positions are a dense 1..n_s ranking inside each shard.
    for s in counts:
        ps = sorted(p for sh, p in a.values() if sh == s)
        assert ps == list(range(1, counts[s] + 1))
    # A different seed is a genuinely different permutation.
    c = {
        (r.id): (r.shard, r.shard_pos)
        for r in shuffle_shards(ids, "id", n_shards=4, seed="ep2").collect()
    }
    assert c != a


def test_leakage_safe_split_no_pair_straddles(spark):
    """THE property the operator exists for: no near-dup edge crosses
    the train/test boundary, while singletons still split ~f."""
    from pyspark.sql import functions as F

    from deftunes_spark.ext.sampling import leakage_safe_split

    # 3 duplicate clusters (sizes 4, 3, 2) + 91 singletons.
    rows = [(i,) for i in range(100)]
    df = spark.createDataFrame(rows, "id long")
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    out = leakage_safe_split(df, pairs, "id", test_fraction=0.3)
    got = {r.id: (r.cluster, r.split) for r in out.collect()}
    assert len(got) == 100
    # Every member of each cluster shares cluster id AND side.
    for members in ([0, 1, 2, 3], [10, 11, 12], [20, 21]):
        assert len({got[m] for m in members}) == 1
        assert got[members[0]][0] == min(members)
    # Singletons are their own cluster.
    assert got[50] == (50, got[50][1])
    # Both sides populated at f=0.3 over 100 rows (deterministic).
    sides = {s for _, s in got.values()}
    assert sides == {"train", "test"}
    # Deterministic across recomputation and partitioning.
    again = {
        r.id: (r.cluster, r.split)
        for r in leakage_safe_split(
            df.repartition(7), pairs, "id", test_fraction=0.3
        ).collect()
    }
    assert again == got


def test_source_overlap_known_sets(spark):
    """Hand-computable overlap: two groups sharing exactly half their
    shingles, a third disjoint."""
    from deftunes_spark.ext.curation import source_overlap

    mk = lambda toks: " ".join(toks)
    # Unigram shingles (n=1) make set algebra exact.
    df = spark.createDataFrame(
        [
            ("A", mk(["w1", "w2", "w3", "w4"])),
            ("B", mk(["w3", "w4", "w5", "w6"])),
            ("C", mk(["z1", "z2"])),
        ],
        "source string, text string",
    )
    out = {
        (r.group_a, r.group_b): r
        for r in source_overlap(df, "source", "text", n=1).collect()
    }
    ab = out[("A", "B")]
    assert (ab.n_shared, ab.n_a, ab.n_b) == (2, 4, 4)
    assert abs(ab.containment - 0.5) < 1e-9
    assert abs(ab.jaccard - 2 / 6) < 1e-6  # output rounds to 6dp
    # Disjoint pairs produce NO row (inner join) — absence is the
    # correct signal, not a 0-row.
    assert ("A", "C") not in out and ("B", "C") not in out
