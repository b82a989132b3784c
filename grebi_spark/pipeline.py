"""End-to-end graph build: the whole reference Nextflow DAG
(nextflow/01_create_subgraph.nf:14-70) as one Spark job graph.

Stages → transformations; the reference's four global barriers (group
build, sort, merge, index — SURVEY.md §3.1) become shuffles; its NFS JSONL
handoffs become (optional) Parquet checkpoints; its in-RAM mapping tables
become joins.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame

from .config import SubgraphConfig
from .operators.assign_ids import assign_ids, lift_types
from .operators.groups import build_groups
from .operators.identifiers import extract_identifiers, identifier_pairs
from .operators.index import GraphIndex, build_index
from .operators.materialise import (
    display_types,
    edge_summary,
    materialise_edges,
)
from .operators.merge import merge_nodes, node_table
from .operators.normalise import PrefixMap, normalise_prefixes


@dataclass
class BuiltGraph:
    groups: DataFrame      # (id, group_id)
    merged: DataFrame      # MERGED long form
    nodes: DataFrame       # node-level header (node_id, datasources, ...)
    edges: DataFrame       # EDGE rows
    index: GraphIndex
    display_types: DataFrame
    edge_summary: DataFrame


def build_graph(
    ingested: list[DataFrame],
    config: SubgraphConfig,
    prefix_map: PrefixMap | None = None,
) -> BuiltGraph:
    """ingested: one long-form DataFrame per datasource (stage-01 outputs).

    Each stage ends at a barrier, as in the reference, where every
    Nextflow stage writes its output to disk before the next starts
    (nextflow/01_create_subgraph.nf:14-70): an eager
    ``localCheckpoint``. Besides avoiding recompute, this TRUNCATES PLAN
    LINEAGE — without it each stage's logical tree embeds every upstream
    stage's tree (edges ⊃ merged ⊃ assigned ⊃ CC-loop ⊃ per-source
    melts), and Catalyst re-analyses that combinatorially-growing tree
    on every downstream action: planning time, not IO, becomes the
    bottleneck. At cluster scale the blocks live on executor local
    storage (memory then disk), the standard barrier for
    iterative/multi-stage jobs; for restartability across job failures
    build a ``GraphState`` instead (incremental.build_graph_stateful) and
    persist it to durable Parquet (incremental.save_state_version).
    """
    if prefix_map:
        ingested = [normalise_prefixes(df, prefix_map) for df in ingested]
    all_rows = reduce(DataFrame.unionByName, ingested)

    # stage 02: identifiers → equivalence groups → id assignment
    identifiers = extract_identifiers(all_rows, config)
    groups = build_groups(identifier_pairs(identifiers), config)
    groups = groups.localCheckpoint(eager=True)
    assigned = assign_ids(all_rows, groups, config)
    assigned = lift_types(assigned, config)

    # stage 03: merge
    merged = merge_nodes(assigned, config).localCheckpoint(eager=True)
    nodes = node_table(merged)

    # stage 04: index
    index = build_index(merged)
    meta = index.metadata.localCheckpoint(eager=True)

    # stage 05: materialise
    edges = materialise_edges(merged, meta, config).localCheckpoint(eager=True)
    dtypes = display_types(meta, index.type_counts)
    summary = edge_summary(edges, meta)

    return BuiltGraph(
        groups=groups,
        merged=merged,
        nodes=meta,
        edges=edges,
        index=index,
        display_types=dtypes,
        edge_summary=summary,
    )


def register_views(graph: BuiltGraph, spark) -> None:
    """Expose the built graph as SQL views — the engine's native query mode
    (replacing the reference's stage 08 Cypher-over-Neo4j)."""
    graph.merged.createOrReplaceTempView("graph_props")
    graph.nodes.createOrReplaceTempView("graph_nodes")
    graph.edges.createOrReplaceTempView("graph_edges")
    graph.groups.createOrReplaceTempView("graph_groups")
    graph.index.metadata.createOrReplaceTempView("graph_meta")
