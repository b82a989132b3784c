"""J4 — global index aggregates + the node metadata side table.

Reference: one streaming pass computing per-prop counts, per-reified-prop
counts, per-type counts, the distinct name set, the distinct id set, and a
metadata.jsonl side table (04_index/grebi_index/src/main.rs:45-245).

Spark design: four small aggregate jobs over one cached merged DataFrame —
each is a map-side-combined hash aggregate; no custom code.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..schema import VALUE_PROPS
from .merge import node_table

NAME_PROPS = ("grebi:name", "grebi:synonym")


@dataclass
class GraphIndex:
    prop_counts: DataFrame      # (prop_key, n_values)
    edge_prop_counts: DataFrame # (prop_key, n_values) inside reified values
    type_counts: DataFrame      # (type, n_nodes)
    names: DataFrame            # (name) distinct
    ids: DataFrame              # (id) distinct — every source id
    metadata: DataFrame         # (node_id, subgraph, datasources, source_ids, types, names)


def prop_counts_of(merged: DataFrame) -> DataFrame:
    """(prop_key, n_values) row counts."""
    return merged.groupBy("prop_key").agg(F.count("*").alias("n_values"))


def edge_prop_counts_of(merged: DataFrame) -> DataFrame:
    """(prop_key, n_values) over reified value_props keys."""
    return (
        merged.filter(F.col("value_props").isNotNull())
        .select(
            F.explode(F.map_keys(F.from_json("value_props", VALUE_PROPS))).alias(
                "prop_key"
            )
        )
        .groupBy("prop_key")
        .agg(F.count("*").alias("n_values"))
    )


def type_counts_of(merged: DataFrame) -> DataFrame:
    """(type, n_nodes) — distinct (node_id, type) within the frame."""
    return (
        merged.filter(F.col("prop_key") == "grebi:type")
        .select("node_id", F.col("value").alias("type"))
        .distinct()
        .groupBy("type")
        .agg(F.count("*").alias("n_nodes"))
    )


def node_metadata(merged: DataFrame) -> DataFrame:
    """The per-node header frame."""
    node_names = (
        merged.filter(F.col("prop_key").isin(list(NAME_PROPS)))
        .groupBy("node_id")
        .agg(F.array_sort(F.collect_set("value")).alias("names"))
    )
    return (
        node_table(merged)
        .join(node_names, "node_id", "left")
        .withColumn("names", F.coalesce("names", F.array().cast("array<string>")))
        .select("node_id", "subgraph", "datasources", "source_ids", "types", "names")
    )


def build_index(merged: DataFrame) -> GraphIndex:
    names = (
        merged.filter(F.col("prop_key").isin(list(NAME_PROPS)))
        .select(F.col("value").alias("name"))
        .distinct()
    )
    ids = merged.select(F.explode("source_ids").alias("id")).distinct()
    return GraphIndex(
        prop_counts=prop_counts_of(merged),
        edge_prop_counts=edge_prop_counts_of(merged),
        type_counts=type_counts_of(merged),
        names=names,
        ids=ids,
        metadata=node_metadata(merged),
    )


def summary_json(index: GraphIndex, subgraph_name: str) -> dict:
    """The summary.json document the reference writes per subgraph
    (04_index/grebi_index/src/main.rs:214-232) and its summary service
    serves as ``{subgraph: summary}``
    (grebi_summary_service/.../GrebiSummarySvc.java:23-38).

    The count frames hold one row per distinct prop key / type — tiny at
    any data scale — so collecting to a driver-side dict is the right
    boundary between the distributed aggregate and the serving layer."""

    def count_map(df: DataFrame, key: str, n: str) -> dict:
        return {r[key]: {"count": r[n]} for r in df.collect()}

    return {
        "subgraph_name": subgraph_name,
        "entity_props": count_map(index.prop_counts, "prop_key", "n_values"),
        "edge_props": count_map(index.edge_prop_counts, "prop_key", "n_values"),
        "types": count_map(index.type_counts, "type", "n_nodes"),
    }
