"""Transitive closure against hand-written pair sets — on chains (deep),
shallow DAGs, and cyclic graphs."""

from __future__ import annotations

from grebi_spark.plans.closure import transitive_closure


def _pairs(df):
    return sorted((r["ancestor"], r["descendant"]) for r in df.collect())


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["src", "dst"])


def test_chain_depth_10(spark):
    # 1→2→…→11: depth 10 needs four doubling rounds
    e = _edges(spark, [(str(i), str(i + 1)) for i in range(1, 11)])
    got = _pairs(transitive_closure(e))
    want = sorted(
        (str(a), str(d)) for d in range(1, 11) for a in range(d + 1, 12)
    )
    assert got == want


def test_shallow_wide(spark):
    # two-level star: root ← m1..m3 ← leaves
    pairs = [(f"m{i}", "root") for i in range(3)] + [
        (f"l{i}{j}", f"m{i}") for i in range(3) for j in range(4)
    ]
    e = _edges(spark, pairs)
    got = _pairs(transitive_closure(e))
    want = sorted(
        [("root", f"m{i}") for i in range(3)]
        + [(f"m{i}", f"l{i}{j}") for i in range(3) for j in range(4)]
        + [("root", f"l{i}{j}") for i in range(3) for j in range(4)]
    )
    assert got == want


def test_cycle_terminates(spark):
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    got = _pairs(transitive_closure(e))
    # full closure of a 3-cycle: every ordered pair incl. self-loops
    want = sorted((x, y) for x in "abc" for y in "abc")
    assert got == want
