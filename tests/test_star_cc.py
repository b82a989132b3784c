"""Equivalence grouping against an independent truth: ``connected_components``
and ``build_groups`` must give exactly what a plain-Python union-find gives
on the same edges — on a high-diameter chain, two cliques joined by a
bridge, a star, and a random graph with many components."""

import random

import pytest

from grebi_spark.operators.groups import build_groups, connected_components

from .test_properties import py_id_score


def _union_find(pairs):
    """vertex -> its component's member set, by union-find."""
    parent: dict[str, str] = {}

    def find(v):
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict[str, list[str]] = {}
    for v in list(parent):
        members.setdefault(find(v), []).append(v)
    return {v: ms for ms in members.values() for v in ms}


def _chain():
    # a 120-node path: the worst case for label propagation
    return [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(119)]


def _two_cliques_and_a_bridge():
    a = [(f"a{i}", f"a{j}") for i in range(5) for j in range(i + 1, 5)]
    b = [(f"b{i}", f"b{j}") for i in range(4) for j in range(i + 1, 4)]
    return a + b + [("a0", "b0")]


def _star():
    return [("hub", f"leaf{i:02d}") for i in range(30)]


def _random_graph():
    rnd = random.Random(42)
    nodes = [f"v{i:03d}" for i in range(150)]
    pairs = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(130)]
    return [(a, b) for a, b in pairs if a != b]


def _mixed_prefixes():
    # ids from every readability class, so canonical election matters
    return [
        ("grebi:x", "OTHER:1"),
        ("OTHER:1", "http://ex/1"),
        ("biolink:y", "OTHER:2"),
        ("plainname", "OTHER:3"),
        ("OTHER:3", "http://ex/3"),
    ]


FIXTURES = {
    "chain": _chain,
    "two_cliques_and_a_bridge": _two_cliques_and_a_bridge,
    "star": _star,
    "random": _random_graph,
    "mixed_prefixes": _mixed_prefixes,
}


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_connected_components_matches_union_find(spark, fixture):
    pairs = FIXTURES[fixture]()
    e = spark.createDataFrame(pairs, ["src", "dst"])
    got = sorted((r["id"], r["component"]) for r in connected_components(e).collect())
    want = sorted((v, min(ms)) for v, ms in _union_find(pairs).items())
    assert got == want and len(got) > 0


@pytest.mark.parametrize("fixture", sorted(FIXTURES))
def test_build_groups_matches_union_find(spark, fixture):
    pairs = FIXTURES[fixture]()
    e = spark.createDataFrame(pairs, ["src", "dst"])
    got = sorted((r["id"], r["group_id"]) for r in build_groups(e).collect())
    want = sorted(
        (v, min(ms, key=lambda m: (py_id_score(m), m)))
        for v, ms in _union_find(pairs).items()
    )
    assert got == want and len(got) > 0
