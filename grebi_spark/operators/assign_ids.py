"""N4 — id assignment + global string rewrite, and N5 — type lifting.

Reference: 02_assign_ids/grebi_assign_ids/src/main.rs:61-178 — per entity,
collect its aliases (sorted set → deterministic first id), map through the
groups table to the canonical ``grebi:nodeId``, emit ``grebi:sourceIds``,
and rewrite **every string occurrence** — property values *and* property
keys — to its group's canonical id.

Spark design: the groups table is a 2-column DataFrame; every rewrite is a
left join + coalesce. At small scale Catalyst broadcasts it automatically;
at 100 TB the same plan degrades gracefully to a shuffle join — strictly
better than the reference, which loads the whole table into RAM in every
materialise task (grebi_shared/src/load_metadata_mapping_table.rs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SubgraphConfig
from .identifiers import extract_identifiers


def _rewrite_via_groups(df: DataFrame, groups: DataFrame, col: str) -> DataFrame:
    g = groups.select(
        F.col("id").alias(f"__{col}_id"), F.col("group_id").alias(f"__{col}_gid")
    )
    return (
        df.join(g, df[col] == g[f"__{col}_id"], "left")
        .withColumn(col, F.coalesce(F.col(f"__{col}_gid"), F.col(col)))
        .drop(f"__{col}_id", f"__{col}_gid")
    )


def assign_ids(
    nodes_long: DataFrame,
    groups: DataFrame,
    config: SubgraphConfig,
) -> DataFrame:
    """Long-form ingested rows → rows keyed by canonical ``node_id``.

    Output columns: subgraph, datasource, node_id, source_ids
    (sorted array), prop_key (group-rewritten), value (group-rewritten),
    value_props.
    """
    # 1. per-entity alias set → node id (deterministic min alias, then
    #    canonicalised through groups; all aliases of an entity are in the
    #    same group by construction of the equivalence graph)
    aliases = extract_identifiers(nodes_long, config)
    entity_ids = aliases.groupBy("datasource", "entity_id").agg(
        F.array_sort(F.collect_set("id")).alias("source_ids"),
        F.min("id").alias("first_id"),
    )
    g = groups.select(F.col("id").alias("__gid_in"), F.col("group_id").alias("__gid_out"))
    entity_ids = (
        entity_ids.join(g, entity_ids.first_id == g.__gid_in, "left")
        .withColumn("node_id", F.coalesce("__gid_out", "first_id"))
        .drop("__gid_in", "__gid_out", "first_id")
    )

    rows = nodes_long.join(entity_ids, ["datasource", "entity_id"], "inner")
    # 2. rewrite values and property keys through the groups table
    #    (property names are data — main.rs:121-129)
    rows = _rewrite_via_groups(rows, groups, "value")
    rows = _rewrite_via_groups(rows, groups, "prop_key")
    return rows.select(
        "subgraph",
        "datasource",
        "node_id",
        "source_ids",
        "prop_key",
        "value",
        "value_props",
    )


def lift_types(assigned: DataFrame, config: SubgraphConfig) -> DataFrame:
    """N5 — add configured ontology superclasses found in
    ``ols:directAncestor`` to ``grebi:type``
    (02_assign_ids/grebi_superclasses2types/src/main.rs:33-150).

    Long-form implementation: for each node, any directAncestor value that
    is in the configured superclass list yields an extra
    (node, grebi:type, ancestor) row; merge-stage dedup keeps sets tidy.
    """
    if not config.type_superclasses:
        return assigned
    lifted = (
        assigned.filter(
            (F.col("prop_key") == "ols:directAncestor")
            & F.col("value").isin(list(config.type_superclasses))
        )
        .select(
            "subgraph",
            "datasource",
            "node_id",
            "source_ids",
            F.lit("grebi:type").alias("prop_key"),
            "value",
            F.lit(None).cast("string").alias("value_props"),
        )
        .distinct()
    )
    return assigned.unionByName(lifted)
