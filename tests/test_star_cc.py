"""Equivalence grouping against an independent truth: ``connected_components``
and ``build_groups`` must give exactly what a plain-Python union-find gives
on the same edges — on high-diameter chains (in path order and shuffled),
two cliques joined by a bridge, a star, and a random graph with many
components."""

import random

import pytest
from pyspark.sql import functions as F

from grebi_spark.config import SubgraphConfig
from grebi_spark.operators.groups import build_groups, connected_components

from .test_http_api import _job_id_after_marker
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
    # a 120-node path with its ids in path order
    return [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(119)]


def _shuffled_chain(n, seed):
    # a path whose vertex ids are not in path order: the minimum id sits
    # somewhere in the middle, so it must travel both ways along the path
    order = [f"c{i:04d}" for i in range(n)]
    random.Random(seed).shuffle(order)
    return list(zip(order, order[1:]))


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
    "shuffled_chain_120": lambda: _shuffled_chain(120, 1),
    "shuffled_chain_2000": lambda: _shuffled_chain(2000, 2),
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


def test_self_loop_only_vertex_is_dropped(spark):
    # seed groups become star pairs (a, a), (a, b) and (c, c); self-loops
    # carry no equivalence, so c is in no group
    config = SubgraphConfig(additional_equivalence_groups=(("a", "a", "b"), ("c", "c")))
    e = spark.createDataFrame([("x:1", "x:2")], ["src", "dst"])
    got = sorted((r["id"], r["group_id"]) for r in build_groups(e, config).collect())
    assert got == [("a", "a"), ("b", "a"), ("x:1", "x:1"), ("x:2", "x:1")]


def test_component_is_sparks_min_on_non_ascii_ids(spark):
    # UTF-16 order puts U+1D538 (a surrogate pair) before U+FF5A; Spark
    # compares UTF-8 bytes, i.e. code points. The component must be the
    # id Spark's own min picks.
    members = {
        "one": ["𝔸:1", "ｚ:1", "é:1", "z:1"],
        "two": ["𝔸:2", "ｚ:2"],
    }
    pairs = [(a, b) for ids in members.values() for a, b in zip(ids, ids[1:])]
    got = {
        r["id"]: r["component"]
        for r in connected_components(spark.createDataFrame(pairs, ["src", "dst"])).collect()
    }
    spark_min = {
        r["key"]: r["m"]
        for r in spark.createDataFrame(
            [(k, i) for k, ids in members.items() for i in ids], ["key", "id"]
        )
        .groupBy("key")
        .agg(F.min("id").alias("m"))
        .collect()
    }
    assert got == {i: spark_min[k] for k, ids in members.items() for i in ids}


# measured with 4 shuffle partitions: one job collects the pairs, three
# (adaptive query stages) run the canonical election and its join back
MAX_GROUP_JOBS = 4


def _jobs_to_collect_groups(spark, pairs) -> int:
    sc = spark.sparkContext
    e = spark.createDataFrame(pairs, ["src", "dst"])
    before = _job_id_after_marker(sc)
    assert build_groups(e).collect()
    return _job_id_after_marker(sc) - before - 1


def test_build_groups_job_count_does_not_grow_with_diameter(spark):
    """The Spark jobs of one grouping are the pair collect plus the
    canonical election, whatever the graph's diameter: a 2 000-vertex
    shuffled path costs what two bridged cliques cost."""
    small = _jobs_to_collect_groups(spark, _two_cliques_and_a_bridge())
    long = _jobs_to_collect_groups(spark, _shuffled_chain(2000, 2))
    assert long == small
    assert 1 <= small <= MAX_GROUP_JOBS
