"""Q4 — transitive closure / variable-length paths.

The reference delegates `[:R*1..]` to Neo4j (notebooks/ic_scores.ipynb:
descendant counts → IC scores). Here the closure is path doubling:
round k holds every pair reachable in ≤ 2^k hops, so a depth-D graph
converges in ⌈log2 D⌉ self-joins instead of D edge-joins. Each round is
one shuffle join + one distinct over the pair set; round trips, not
data volume, dominate iterative jobs (each extra round is a full
scheduling + shuffle barrier). Every round cuts lineage with
localCheckpoint, so round N plans cost the same as round 1, and the
loop stops early on cyclic inputs (the pair set stops growing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables


def transitive_closure(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 30,
) -> DataFrame:
    """All (ancestor, descendant) pairs reachable via 1..max_depth hops.

    ``edges`` rows are child→parent (src=child, dst=parent); output rows
    are (ancestor, descendant).
    """
    paths = (
        edges.select(F.col(src).alias("descendant"), F.col(dst).alias("ancestor"))
        .distinct()
        .localCheckpoint()
    )
    n = paths.count()
    reach = 1
    while reach < max_depth:
        step = paths.select(
            F.col("descendant").alias("__mid"), F.col("ancestor").alias("ancestor")
        )
        grown = (
            paths.select("descendant", F.col("ancestor").alias("__mid"))
            .join(step, "__mid")
            .select("descendant", "ancestor")
            .unionAll(paths)
            .distinct()
            .localCheckpoint()
        )
        m = grown.count()
        if m == n:  # no new pairs: full closure reached (handles cycles)
            return paths
        paths, n = grown, m
        reach *= 2
    return paths


def part_tree_descendant_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IC-score-style descendant counts over a deterministic hierarchy:
    part k's parent is k/2 (a binary tree over the part keys). Counts
    distinct descendants for ancestors with key < 8 — the
    `(anc)<-[:broad_match*1..]-(sub)` + count(DISTINCT sub) shape."""
    p = load_tables(spark, sf_dir, ("part",))["part"]
    keys = p.select(F.col("p_partkey").cast("long").alias("k"))
    edges = (
        keys.filter(F.col("k") >= 1)
        .select(F.col("k").alias("src"), (F.col("k") / 2).cast("long").alias("dst"))
    )
    closure = transitive_closure(edges)
    return (
        closure.filter(F.col("ancestor") < 8)
        .groupBy("ancestor")
        .agg(F.countDistinct("descendant").alias("n_descendants"))
        .select(F.col("ancestor").cast("long").alias("ancestor"), "n_descendants")
        .orderBy("ancestor")
    )


ORACLE_PART_TREE = """
WITH RECURSIVE up(descendant, ancestor) AS (
  SELECT p_partkey::bigint, (p_partkey // 2)::bigint FROM part WHERE p_partkey >= 1
  UNION
  SELECT u.descendant, (u.ancestor // 2)::bigint
  FROM up u WHERE u.ancestor >= 1
)
SELECT ancestor, count(DISTINCT descendant) AS n_descendants
FROM up
WHERE ancestor < 8
GROUP BY ancestor
ORDER BY ancestor
"""


QUERIES = {
    "part_tree_descendant_counts": part_tree_descendant_counts,
}
ORACLES = {
    "part_tree_descendant_counts": ORACLE_PART_TREE,
}
