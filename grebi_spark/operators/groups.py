"""N3 — equivalence grouping: connected components + canonical-id election.

Connected components are computed as the reference computes them
(02_assign_ids/grebi_identifiers2groups/src/main.rs:24-158): one
union-find over all identifier pairs. The pairs are collected to the
driver in one Spark job, the union-find runs there over int codes, and
the (id, component) table goes back as one frame. Memory: the driver
holds the pair list and one code per distinct id, as the reference holds
its union-find in RAM (nextflow/codon_nextflow.config:3-6). The job
count does not depend on the graph: a distributed propagation loop needs
rounds that grow with the diameter, each a few Spark jobs, and a build is
bound by job latency, not data.

Canonical id per component = argmin by the reference's readability score
(grebi:* wins, then biolink:*, then CURIE-ish, then most-alphabetic —
main.rs:163-193) — implemented as a pure column expression.
"""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import SubgraphConfig


def id_score(col: Column) -> Column:
    """Lower is better; mirrors grebi_identifiers2groups::id_score."""
    curie_like = col.contains(":") & ~col.startswith("http")
    alpha_count = F.length(F.regexp_replace(col, "[^A-Za-z]", ""))
    return (
        F.when(col.startswith("grebi:"), F.lit(-2147483648))
        .when(col.startswith("biolink:"), F.lit(-2147483648 + 1000))
        .otherwise(F.when(curie_like, F.lit(-1000)).otherwise(F.lit(0)) - alpha_count)
    )


def _union_find_roots(edges: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(src, dst) edges → (ids, roots): the sorted distinct ids of the
    non-self-loop edges, and for each id the code (index into ``ids``) of
    its component's minimum id.

    One collect of the pairs, then union-find on the driver with path
    halving, always linking the larger root under the smaller. Every
    link and every halving step moves a parent to a smaller code, so
    ``parent[i] <= i`` throughout and one ascending pass compresses every
    vertex straight onto its root, which is the component's minimum code.
    """
    pairs = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).toPandas()
    n_pairs = len(pairs)
    # sorted codes: code order is code-point order, the order Spark's
    # min uses on (UTF-8 byte-compared) strings
    codes, ids = pd.factorize(
        pd.concat([pairs["src"], pairs["dst"]], ignore_index=True), sort=True
    )
    parent = list(range(len(ids)))
    for a, b in zip(codes[:n_pairs].tolist(), codes[n_pairs:].tolist()):
        while parent[a] != a:
            parent[a] = a = parent[parent[a]]
        while parent[b] != b:
            parent[b] = b = parent[parent[b]]
        if a < b:
            parent[b] = a
        elif b < a:
            parent[a] = b
    for i in range(len(parent)):
        parent[i] = parent[parent[i]]
    return np.asarray(ids, dtype=object), np.asarray(parent, dtype=np.int64)


def _components_frame(spark, ids: np.ndarray, roots: np.ndarray) -> DataFrame:
    return spark.createDataFrame(
        pd.DataFrame({"id": ids, "component": ids[roots]}),
        "id string, component string",
    )


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) undirected edges → (id, component) with component = the
    min vertex id (by string order) in each component. Self-loops are
    dropped, so a vertex with no other edge does not appear."""
    return _components_frame(edges.sparkSession, *_union_find_roots(edges))


def build_groups(
    identifier_edges: DataFrame,
    config: SubgraphConfig | None = None,
    clique_warn_size: int = 50,
) -> DataFrame:
    """→ (id, group_id): every alias mapped to its clique's canonical id.

    Seed groups from config (which may merge *property names* —
    ebi_full_monarch.json:35-43) are added as extra edges. Only ids that
    belong to a ≥2-member group appear (the reference emits only such
    groups; singletons map to themselves downstream).
    """
    edges = identifier_edges
    spark = identifier_edges.sparkSession
    if config and config.additional_equivalence_groups:
        seed_pairs = [
            (g[0], other) for g in config.additional_equivalence_groups for other in g[1:]
        ]
        seeds = spark.createDataFrame(seed_pairs, ["src", "dst"])
        edges = edges.unionAll(seeds)

    ids, roots = _union_find_roots(edges)
    if len(roots) and np.bincount(roots).max() > clique_warn_size:
        # the reference's correctness canary (main.rs:131-133); stderr —
        # stdout carries perfbench's JSON result
        print(
            f"WARNING: equivalence group(s) larger than {clique_warn_size} members detected",
            file=sys.stderr,
        )
    comps = _components_frame(spark, ids, roots)
    canon = (
        comps.withColumn("score", id_score(F.col("id")))
        .groupBy("component")
        .agg(F.min_by("id", F.struct(F.col("score"), F.col("id"))).alias("group_id"))
    )
    return comps.join(canon, "component").select("id", "group_id")
