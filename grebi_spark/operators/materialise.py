"""J5–J8 — edge materialisation, _refs denormalisation, displayType,
edge summary cube.

Reference: 05_materialise/grebi_materialise/src/main.rs —
  J5  every non-``grebi:`` property value that *is the id of an existing
      node* becomes an edge (:146-221, 265-438); the existence check is a
      RAM hash-map probe (:286,312) = a semi-join; excluded edge types and
      self-referential excludes are filters (:288,315); edge id =
      deterministic sha1 of the edge body (:424-432).
  J6  _refs: every id-valued string gets the referenced node's metadata
      embedded (:197-219, 394-407) — explode → join node_meta → re-group.
  J7  displayType = the node's *rarest* type by global count (:164-188).
  J8  edge summary: count by (fromTypeSig, edgeType, toTypeSig, dsSig)
      (:70-82, 409-422).

Spark design notes (100 TB): the existence probe is an inner join against
the slim metadata table — broadcast when it fits, AQE falls back to a
shuffle join when it does not (the reference *requires* it to fit in every
task's RAM: 64–96 GB tasks). The sha1 edge id is computed from the same
logical fields so reruns are byte-identical (required for reproducible
bulk loads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import SubgraphConfig


def materialise_edges(
    merged: DataFrame,
    node_meta: DataFrame,
    config: SubgraphConfig | None = None,
) -> DataFrame:
    """Merged long rows → EDGE rows."""
    cand = merged.filter(~F.col("prop_key").startswith("grebi:"))
    if config and config.exclude_edges:
        cand = cand.filter(~F.col("prop_key").isin(list(config.exclude_edges)))
    if config and config.exclude_self_referential_edges:
        cand = cand.filter(
            ~(
                F.col("prop_key").isin(list(config.exclude_self_referential_edges))
                & (F.col("value") == F.col("node_id"))
            )
        )
    targets = node_meta.select(F.col("node_id").alias("to_id"))
    edges = cand.join(targets, cand.value == targets.to_id, "inner")
    edge_body = F.concat_ws(
        "\u001f",
        F.col("prop_key"),
        F.col("subgraph"),
        F.col("node_id"),
        F.col("value"),
        F.coalesce(F.col("value_props"), F.lit("")),
        F.array_join(F.col("datasources"), ","),
    )
    return edges.select(
        F.sha1(edge_body).alias("edge_id"),
        F.col("prop_key").alias("edge_type"),
        "subgraph",
        F.col("node_id").alias("from_id"),
        "to_id",
        "datasources",
        F.col("source_ids").alias("from_source_ids"),
        "value_props",
    )


def display_types(node_meta: DataFrame, type_counts: DataFrame) -> DataFrame:
    """J7 — (node_id, display_type): the node's rarest type globally.

    argmin over (count, type) — ties broken by type name, matching the
    reference's stable iteration order.
    """
    per_type = node_meta.select("node_id", F.explode("types").alias("type"))
    return (
        per_type.join(F.broadcast(type_counts), "type", "left")
        .groupBy("node_id")
        .agg(
            F.min_by("type", F.struct(F.col("n_nodes"), F.col("type"))).alias(
                "display_type"
            )
        )
    )


def attach_refs(
    entities: DataFrame,
    node_meta: DataFrame,
    id_cols: tuple[str, ...],
    value_col: str | None = "value",
) -> DataFrame:
    """J6 — _refs: for every referenced node id appearing in ``id_cols`` /
    ``value_col``, attach a map node_id → metadata struct.

    Implementation: explode candidate strings, inner-join the slim
    metadata table, regroup to a map per entity — the denormalisation the
    reference does with an in-RAM lookup per string (:197-219).
    """
    key = entities.columns[0]
    cand_cols = [F.col(c) for c in id_cols] + (
        [F.col(value_col)] if value_col and value_col in entities.columns else []
    )
    cands = entities.select(
        F.col(key).alias("__ref_key"),
        F.explode(F.array_distinct(F.array(*cand_cols))).alias("__ref_id"),
    ).filter(F.col("__ref_id").isNotNull())
    meta = node_meta.select(
        F.col("node_id").alias("__ref_id"),
        F.struct("datasources", "types", "names").alias("__ref_meta"),
    )
    refs = (
        cands.join(meta, "__ref_id", "inner")
        .groupBy("__ref_key")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_set(F.struct("__ref_id", "__ref_meta")))
            ).alias("_refs")
        )
    )
    return entities.join(
        refs, entities[key] == refs.__ref_key, "left"
    ).drop("__ref_key")


def edge_summary(edges: DataFrame, node_meta: DataFrame) -> DataFrame:
    """J8 — the 4-key edge summary count:
    (from type signature, edge type, to type signature, datasources
    signature) → count, where a signature is the sorted comma-joined list
    (:443-452). Plain hash aggregate."""
    sig = lambda c: F.array_join(F.array_sort(c), ",")  # noqa: E731
    from_meta = node_meta.select(
        F.col("node_id").alias("from_id"), F.col("types").alias("from_types")
    )
    to_meta = node_meta.select(
        F.col("node_id").alias("to_id"), F.col("types").alias("to_types")
    )
    return (
        edges.join(from_meta, "from_id")
        .join(to_meta, "to_id")
        .groupBy(
            sig(F.col("from_types")).alias("from_sig"),
            F.col("edge_type"),
            sig(F.col("to_types")).alias("to_sig"),
            sig(F.col("datasources")).alias("ds_sig"),
        )
        .agg(F.count("*").alias("n_edges"))
    )
