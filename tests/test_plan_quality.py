"""Physical-plan quality gates — correctness tests for the *plans*, not
the results: the merge partial-aggregates map-side, and the incremental
verbs and serving-store refreshes only ever probe the corpus with
broadcast delta-sized sets. A regression here means a stage silently got
a corpus-shuffling plan.
"""

import contextlib
import io

from pyspark.sql import functions as F


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_merge_has_partial_aggregation(spark):
    """The merge groupBy must partial-aggregate map-side (the k-way-merge
    replacement relies on it at scale)."""
    from grebi_spark.config import SubgraphConfig
    from grebi_spark.operators.merge import merge_nodes
    from grebi_spark.schema import INGESTED

    rows = spark.createDataFrame(
        [("s", "d", "e:1", "grebi:type", "T", None)], INGESTED
    ).withColumnRenamed("entity_id", "node_id").withColumn(
        "source_ids", F.array(F.lit("e:1"))
    )
    merged = merge_nodes(rows.select(
        "subgraph", "datasource", "node_id", "source_ids", "prop_key", "value", "value_props"
    ), SubgraphConfig())
    plan = plan_of(merged, mode="simple")
    # two-phase aggregate: partial_ (map-side) then final
    assert "partial_" in plan or "ObjectHashAggregate" in plan


def test_incremental_verbs_never_shuffle_the_corpus(spark, sf_dir):
    """The delta-maintenance contract (incremental.py module docstring):
    every corpus-sized table in the maintained graph is only ever probed
    by BROADCAST delta-sized sets. A SortMergeJoin anywhere in the
    maintained tables' plans means a corpus shuffle crept back in —
    exactly the regression that made the first delta path 2.5× slower
    than a from-scratch rebuild at the 64× soak."""
    from grebi_spark.incremental import add_datasource, build_graph_stateful
    from grebi_spark.plans.parity import PARITY_CONFIG, _star_graph_long

    customers, nations, regions = _star_graph_long(spark, sf_dir)
    state = build_graph_stateful([customers, nations], PARITY_CONFIG)
    s2 = add_datasource(state, regions)
    for part in ("groups", "merged", "edges", "nodes"):
        plan = plan_of(getattr(s2.graph, part))
        assert "SortMergeJoin" not in plan, part
        assert "BroadcastHashJoin" in plan, part
    # the refcounted id/name count tables: broadcast-left-join upsert +
    # broadcast-anti fresh-key leg over the stored (checkpointed) table
    for part in ("ids", "names"):
        plan = plan_of(getattr(s2.graph.index, part))
        assert "SortMergeJoin" not in plan, part


def test_serving_delta_paths_never_shuffle_the_corpus(spark, sf_dir):
    """The serving-tier refresh inherits the verbs' no-corpus-shuffle
    contract: the KV delta tables (node/alias/edge upserts) and the Solr
    delta doc sets are rendered from delta frames and broadcast-semi
    probes of the stored tables only — a SortMergeJoin in any of their
    plans means a serving refresh pays a corpus shuffle per dump."""
    from grebi_spark.incremental import add_datasource, build_graph_stateful
    from grebi_spark.plans.parity import PARITY_CONFIG, _star_graph_long
    from grebi_spark.sinks.kv import kv_alias_table, kv_edge_table, kv_node_table
    from grebi_spark.sinks.solr_jsonl import solr_delta_docs

    customers, nations, regions = _star_graph_long(spark, sf_dir)
    state = build_graph_stateful([customers, nations], PARITY_CONFIG)
    s2 = add_datasource(state, regions)
    d = s2.last_delta

    kv_frames = {
        "kv_nodes": kv_node_table(d["merged_delta"]),
        "kv_aliases": kv_alias_table(d["meta_delta"]),
        "kv_edges": kv_edge_table(d["new_edge_rows"]),
        "kv_removed_edges": d["removed_edge_ids"],
    }
    for name, df in kv_frames.items():
        assert "SortMergeJoin" not in plan_of(df), name
    solr = solr_delta_docs(s2)
    for name, df in solr.items():
        plan = plan_of(df)
        assert "SortMergeJoin" not in plan, name

    # the EXECUTED core refresh writes exactly these delta frames (one
    # new segment + tombstones); the live reader's only join is an
    # anti-join against the delta-sized tombstone union, and it must be
    # a broadcast, never a corpus shuffle
    import tempfile

    from grebi_spark.sinks.solr_jsonl import (
        build_solr_core,
        read_solr_core,
        refresh_solr_core,
    )

    root = tempfile.mkdtemp(prefix="grebi_solr_gate_")
    build_solr_core(state.graph.merged, state.graph.nodes, state.graph.edges, root)
    refresh_solr_core(spark, s2, root)
    live_plan = plan_of(read_solr_core(spark, root, "nodes"))
    assert "SortMergeJoin" not in live_plan
    assert "BroadcastHashJoin" in live_plan and "LeftAnti" in live_plan
