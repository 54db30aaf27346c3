"""connected_components_star (large-star/small-star, Kiveris et al.)
must be result-identical to the min-label-propagation operator on every
topology — including the high-diameter chain that motivates it."""

import random

import pytest

from grebi_spark.operators import groups
from grebi_spark.operators.groups import (
    connected_components,
    connected_components_star,
)


def _labels(df):
    return sorted((r["id"], r["component"]) for r in df.collect())


def _compare(spark, pairs):
    """Three-way differential: star CC, the broadcast label round (every
    fixture here is far below the byte guard) and the shuffle-join round
    (forced by a zero guard) must label every vertex identically."""
    e = spark.createDataFrame(pairs, ["src", "dst"])
    got = _labels(connected_components_star(e))
    want = _labels(connected_components(e))
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(groups, "_CC_BCAST_MAX_BYTES", 0)
        shuffled = _labels(connected_components(e))
    assert got == want == shuffled and len(got) > 0


def test_chain_high_diameter(spark):
    # a 120-node path: the worst case for plain label propagation, the
    # motivating case for the star algorithm
    pairs = [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(119)]
    _compare(spark, pairs)


def test_two_cliques_and_a_bridge(spark):
    a = [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
    b = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    _compare(spark, a + b + [("a0", "b0")])


def test_star_topology(spark):
    _compare(spark, [("hub", f"leaf{i:02d}") for i in range(30)])


def test_random_graph_many_components(spark):
    rnd = random.Random(42)
    nodes = [f"v{i:03d}" for i in range(150)]
    pairs = [
        (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(130)
    ]
    pairs = [(a, b) for a, b in pairs if a != b]
    _compare(spark, pairs)


def test_build_groups_star_matches_label(spark):
    from grebi_spark.operators.groups import build_groups

    pairs = [("grebi:x", "OTHER:1"), ("OTHER:1", "http://ex/1"),
             ("biolink:y", "OTHER:2")]
    e = spark.createDataFrame(pairs, ["src", "dst"])
    got = sorted(map(tuple, build_groups(e, algorithm="star").collect()))
    want = sorted(map(tuple, build_groups(e, algorithm="label").collect()))
    assert got == want and len(got) > 0


def test_non_ascii_ids_are_sized_in_bytes(spark):
    # five two-character ids, each 3-4 bytes in UTF-8: a guard at the
    # character count (24 per row + 2 × 2 chars) must take the shuffle
    # round, because the labels are larger than that in bytes
    pairs = [("é1", "ü2"), ("ü2", "三3"), ("α4", "β5"), ("β5", "é1")]
    _compare(spark, pairs)
    e = spark.createDataFrame(pairs, ["src", "dst"])
    real = groups.F.broadcast
    for guard, broadcasts in ((groups._CC_BCAST_MAX_BYTES, True), (24 * 5 + 20, False)):
        calls = []
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(groups.F, "broadcast", lambda df: calls.append(1) or real(df))
            mp.setattr(groups, "_CC_BCAST_MAX_BYTES", guard)
            connected_components(e).collect()
        assert bool(calls) is broadcasts
