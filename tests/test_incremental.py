"""Incremental update correctness: folding a datasource into a built
graph must produce EXACTLY the graph a from-scratch build over the
union of sources produces — groups, merged rows, node headers, edges,
display types, and edge summary all value-identical.

The added source (sssom) links two pre-existing cliques (the ols/kgx
mondo group and the efo id), so the test exercises the hard case:
clique fusion with canonical-id change and re-merge of absorbed nodes.
"""

import pytest

from grebi_spark.incremental import add_datasource, build_graph_stateful
from grebi_spark.operators.normalise import PrefixMap
from grebi_spark.pipeline import build_graph
from grebi_spark.sources.jsonl import JsonlTransform, jsonl_to_nodes, kgx_edges_to_nodes
from grebi_spark.sources.tsv import tsv_to_nodes

from . import fixtures as FX
from .test_pipeline import CONFIG, _lines_df


def _sources(spark):
    hgnc_wide = spark.createDataFrame(FX.HGNC_TSV_ROWS, FX.HGNC_COLUMNS)
    hgnc = tsv_to_nodes(hgnc_wide, "hgnc", array_delimiter=r"\|")
    impc = jsonl_to_nodes(
        _lines_df(spark, FX.jsonl(FX.IMPC_JSONL)),
        "impc",
        transform=JsonlTransform(
            rename_fields=(("mgiGeneAccessionId", "id"),),
            inject_type="impc:MouseGene",
            key_prefix="impc:",
        ),
    )
    kgx_e = kgx_edges_to_nodes(
        spark.read.json(spark.sparkContext.parallelize(FX.jsonl(FX.KGX_EDGES_JSONL))),
        "monarch",
    )
    kgx_n = jsonl_to_nodes(
        _lines_df(spark, FX.jsonl(FX.KGX_NODES_JSONL)),
        "monarch",
        transform=JsonlTransform(
            rename_fields=(("category", "grebi:type"), ("name", "grebi:name")),
        ),
    )
    ols = jsonl_to_nodes(_lines_df(spark, FX.jsonl(FX.OLS_JSONL)), "ols")
    # a node in its OWN clique that references efo:0000537 by value:
    # exercises cross-clique reference invalidation — the sssom add must
    # rewrite this value to the fused canonical (and materialise the
    # edge), removal must revert it, update must move it
    refsrc = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [
                    {
                        "id": "ref:1",
                        "grebi:type": ["ref:Annotation"],
                        "ref:about": ["efo:0000537"],
                    }
                ]
            ),
        ),
        "refsrc",
    )
    sssom = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [
                    {
                        "id": "mondo:0005044",
                        "skos:exactMatch": ["efo:0000537"],
                        "sssom:mapping_justification": ["semapv:ManualMappingCuration"],
                    }
                ]
            ),
        ),
        "sssom",
    )
    return [hgnc, impc, kgx_e, kgx_n, ols, refsrc], sssom


def _canon(df):
    def cell(v):
        if isinstance(v, list):
            return tuple(v)
        return v

    return sorted(tuple(cell(v) for v in row) for row in df.collect())


PM = PrefixMap({"http://purl.obolibrary.org/obo/MONDO_": "mondo:"})


@pytest.fixture(scope="module")
def tri(spark):
    """One shared build set for all three incremental verbs. Full builds
    are the dominant test cost, and the scratch baseline of one verb is
    exactly another verb's input state, so three builds serve all three:

      state_base = stateful(base)          — add's input; remove's scratch
      state_plus = stateful(base + sssom)  — add's scratch; remove/update's input
      scratch_v2 = build(base + sssom_v2)  — update's scratch
    """
    from grebi_spark.incremental import remove_datasource, update_datasource

    base_sources, sssom = _sources(spark)
    sssom_v2 = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [
                    {
                        "id": "mondo:0001134",
                        "skos:exactMatch": ["efo:0000537"],
                        "sssom:mapping_justification": [
                            "semapv:ManualMappingCuration"
                        ],
                    }
                ]
            ),
        ),
        "sssom",
    )
    state_base = build_graph_stateful(base_sources, CONFIG, prefix_map=PM)
    state_plus = build_graph_stateful(base_sources + [sssom], CONFIG, prefix_map=PM)
    inc = add_datasource(state_base, sssom, prefix_map=PM, with_stats=True)
    reduced = remove_datasource(state_plus, "sssom", with_stats=True)
    upd = update_datasource(
        state_plus, "sssom", sssom_v2, prefix_map=PM, with_stats=True
    )
    scratch_v2 = build_graph(base_sources + [sssom_v2], CONFIG, prefix_map=PM)
    return {
        "add": (state_plus.graph, inc),
        "remove": (state_base.graph, reduced),
        "update": (scratch_v2, upd),
        # raw inputs for the chain / persistence tests, so they reuse
        # these builds instead of paying their own
        "state_base": state_base,
        "sources": base_sources,
        "sssom": sssom,
    }


@pytest.fixture(scope="module")
def graphs(tri):
    return tri["add"]


@pytest.mark.parametrize(
    "part",
    ["groups", "merged", "nodes", "edges", "display_types", "edge_summary"],
)
def test_incremental_equals_full_rebuild(graphs, part):
    full, inc = graphs
    assert _canon(getattr(inc.graph, part)) == _canon(getattr(full, part)), part


def test_incremental_fuses_pre_existing_cliques(graphs):
    _full, inc = graphs
    groups = {r["id"]: r["group_id"] for r in inc.graph.groups.collect()}
    # the added sssom row linked efo:0000537 into the mondo clique
    assert groups["efo:0000537"] == "mondo:0005044"


def test_add_delta_inputs_are_delta_sized(graphs):
    """The verdict-#4 gate: the delta stages must re-merge ONLY the
    affected clique's rows, not the corpus — asserted via the recorded
    input row counts of the delta path."""
    full, inc = graphs
    stats = inc.delta_stats
    total = inc.graph.merged.count()
    # affected after fusion: the mondo clique plus the ref:1 clique that
    # REFERENCES the re-canonicalised efo id; the delta re-merge must
    # process exactly those rows, nothing else
    expected = full.merged.filter(
        full.merged.node_id.isin(["mondo:0005044", "ref:1"])
    ).count()
    assert stats["n_delta_rows"] == expected
    assert 0 < stats["n_delta_rows"] < total
    assert 0 < stats["n_removed_rows"] < total


def test_add_rewrites_cross_clique_reference(graphs):
    """ref:1 sits in its own clique but references efo:0000537 by value;
    folding in sssom re-canonicalises efo:0000537 → mondo:0005044, so the
    incremental path must rewrite ref:1's stored value and materialise
    the now-resolvable edge (a full rebuild does both via assign_ids)."""
    import pyspark.sql.functions as SF

    _full, inc = graphs
    vals = [
        r["value"]
        for r in inc.graph.merged.filter(
            (SF.col("node_id") == "ref:1") & (SF.col("prop_key") == "ref:about")
        ).collect()
    ]
    assert vals == ["mondo:0005044"]
    assert (
        inc.graph.edges.filter(
            (SF.col("from_id") == "ref:1") & (SF.col("to_id") == "mondo:0005044")
        ).count()
        == 1
    )


@pytest.fixture(scope="module")
def removal_graphs(tri):
    """Retiring sssom must SPLIT the fused clique back apart, with
    efo:0000537 re-elected as its own canonical, every sssom row gone,
    and ref:1's cross-clique reference REVERTED to efo:0000537."""
    scratch, reduced = tri["remove"]
    return scratch, reduced.graph


@pytest.mark.parametrize(
    "part",
    ["groups", "merged", "nodes", "edges", "display_types", "edge_summary"],
)
def test_remove_equals_full_rebuild(removal_graphs, part):
    scratch, reduced = removal_graphs
    assert _canon(getattr(reduced, part)) == _canon(getattr(scratch, part)), part


def test_remove_splits_clique_and_drops_source(removal_graphs):
    _scratch, reduced = removal_graphs
    groups = {r["id"]: r["group_id"] for r in reduced.groups.collect()}
    # the sssom link was the only bridge: efo:0000537 must no longer map
    # into the mondo clique
    assert groups.get("efo:0000537") != "mondo:0005044"
    # and no merged row may carry sssom provenance anymore
    import pyspark.sql.functions as SF

    assert (
        reduced.merged.filter(SF.array_contains("datasources", "sssom")).count() == 0
    )
    # cross-clique reference reverted: ref:1's value must be the raw
    # efo id again (no longer a node → its edge vanishes with it)
    vals = [
        r["value"]
        for r in reduced.merged.filter(
            (SF.col("node_id") == "ref:1") & (SF.col("prop_key") == "ref:about")
        ).collect()
    ]
    assert vals == ["efo:0000537"]
    assert reduced.edges.filter(SF.col("from_id") == "ref:1").count() == 0


@pytest.fixture(scope="module")
def update_graphs(tri):
    """Replace sssom v1 (efo:0000537 ↔ mondo:0005044) with a v2 that maps
    the SAME efo id to a DIFFERENT disease (mondo:0001134): one
    update_datasource call must both split the old fusion and fuse the
    new one, and the result must equal a from-scratch build over
    base + v2 — including moving ref:1's reference to the new canonical."""
    return tri["update"]


@pytest.mark.parametrize(
    "part",
    ["groups", "merged", "nodes", "edges", "display_types", "edge_summary"],
)
def test_update_equals_full_rebuild(update_graphs, part):
    scratch, upd = update_graphs
    assert _canon(getattr(upd.graph, part)) == _canon(getattr(scratch, part)), part


def test_update_moves_link_and_stays_delta_sized(update_graphs):
    scratch, upd = update_graphs
    groups = {r["id"]: r["group_id"] for r in upd.graph.groups.collect()}
    # the replacement moved the efo link from 0005044 to 0001134
    assert groups["efo:0000537"] == "mondo:0001134"
    assert groups.get("mondo:0005044", "mondo:0005044") != "mondo:0001134"
    # fused remove∘add still touches only the two mondo cliques' rows
    stats = upd.delta_stats
    total = upd.graph.merged.count()
    assert 0 < stats["n_delta_rows"] < total
    assert 0 < stats["n_removed_rows"] < total
    # cross-clique reference moved with the link
    import pyspark.sql.functions as SF

    vals = [
        r["value"]
        for r in upd.graph.merged.filter(
            (SF.col("node_id") == "ref:1") & (SF.col("prop_key") == "ref:about")
        ).collect()
    ]
    assert vals == ["mondo:0001134"]


def test_verb_chain_and_degenerate_verbs(spark, tri):
    """Chained maintenance (add → remove → re-add) must equal the
    from-scratch build over the FINAL source set, and the degenerate
    verbs — adding an empty source, removing an unknown datasource —
    must be value-identity no-ops (they exercise the empty-delta path
    end to end: empty CC, empty re-merge, zero count deltas)."""
    from grebi_spark.incremental import add_datasource, remove_datasource

    state = tri["state_base"]
    sssom = tri["sssom"]
    refsrc = tri["sources"][5]  # the ref:1 annotation source (see _sources)
    plus_graph, _ = tri["add"]  # from-scratch build over base + sssom

    s_e = add_datasource(state, sssom.limit(0), prefix_map=PM)
    assert _canon(s_e.graph.merged) == _canon(state.graph.merged)
    assert _canon(s_e.graph.edges) == _canon(state.graph.edges)

    s_n = remove_datasource(state, "no-such-source")
    assert _canon(s_n.graph.merged) == _canon(state.graph.merged)
    assert _canon(s_n.graph.edges) == _canon(state.graph.edges)

    s1 = add_datasource(state, sssom, prefix_map=PM)
    s2 = remove_datasource(s1, "refsrc")
    s3 = add_datasource(s2, refsrc, prefix_map=PM)
    for part in ("groups", "merged", "nodes", "edges"):
        assert _canon(getattr(s3.graph, part)) == _canon(
            getattr(plus_graph, part)
        ), part


def test_state_roundtrips_disk_and_resumes_maintenance(spark, tri, tmp_path):
    """save_state → load_state must reproduce the graph value-for-value,
    and a verb applied to the RELOADED state must land on the same graph
    as the live chain — maintenance across sessions (the state's
    checkpoint blocks die with the JVM; Parquet is the durable form)."""
    from grebi_spark.incremental import load_state, remove_datasource, save_state

    base_graph, _ = tri["remove"]  # build over base sources only
    _, live = tri["add"]  # the incrementally-maintained base+sssom state

    path = str(tmp_path / "state")
    save_state(live, path)
    reloaded = load_state(spark, path)
    for part in ("groups", "merged", "nodes", "edges"):
        assert _canon(getattr(reloaded.graph, part)) == _canon(
            getattr(live.graph, part)
        ), part
    assert reloaded.config == live.config

    # removing the added source from the RELOADED state must return to
    # the base build exactly — the reloaded counts resume additively
    on_reloaded = remove_datasource(reloaded, "sssom")
    for part in ("merged", "edges"):
        assert _canon(getattr(on_reloaded.graph, part)) == _canon(
            getattr(base_graph, part)
        ), part


def test_compact_state_preserves_values_and_flattens_plans(spark, tri):
    """compact_state must be a value-identity that resets the chained
    pass-through plans to flat checkpoint scans (no joins left in the
    maintained tables' plans), and maintenance must continue on the
    compacted state."""
    import contextlib
    import io

    from grebi_spark.incremental import compact_state, remove_datasource

    base_graph, _ = tri["remove"]
    _, live = tri["add"]
    compacted = compact_state(live)
    for part in ("groups", "merged", "nodes", "edges"):
        assert _canon(getattr(compacted.graph, part)) == _canon(
            getattr(live.graph, part)
        ), part
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        compacted.graph.merged.explain(mode="simple")
    assert "Join" not in buf.getvalue()  # flat scan, chain gone
    on_compacted = remove_datasource(compacted, "sssom")
    assert _canon(on_compacted.graph.merged) == _canon(base_graph.merged)


def test_compact_state_resets_partition_inflation(spark, tri):
    """Every verb's unions SUM their children's partition counts, so a
    long verb chain inflates each maintained table to thousands of
    near-empty partitions — and a bare localCheckpoint keeps the
    inflated layout, so fold latency degrades into task-scheduling
    overhead (measured 6× over 30 folds before the fix). compact_state
    must coalesce each table back to the session's shuffle-partition
    setting."""
    from grebi_spark.incremental import compact_state

    _, live = tri["add"]
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    compacted = compact_state(live)
    for part in ("groups", "merged", "nodes", "edges"):
        got = getattr(compacted.graph, part).rdd.getNumPartitions()
        assert got <= nparts, f"{part}: {got} partitions after compaction"
    assert compacted.rows.rdd.getNumPartitions() <= nparts


def test_refresh_kv_store_equals_rebuild(tri, tmp_path):
    """Serving-tier maintenance: after an incremental verb, refreshing
    the EXECUTED sqlite KV store with the verb's last_delta must leave
    every table (nodes, aliases, edges) content-identical to a
    from-scratch build_kv_store of the new state — the same
    value-identity-vs-rebuild contract the graph-side verbs carry,
    extended to the serving artifact."""
    import sqlite3

    from grebi_spark.sinks.kv import build_kv_store, refresh_kv_store

    state_base = tri["state_base"]
    _scratch, inc = tri["add"]  # the post-add maintained state

    db = str(tmp_path / "maint.sqlite")
    build_kv_store(
        state_base.graph.merged, state_base.graph.nodes, db,
        shards=2, edges=state_base.graph.edges,
    )
    counts = refresh_kv_store(inc, db, shards=2)
    assert counts["nodes"] > 0 and counts["deleted_nodes"] > 0

    fresh = str(tmp_path / "fresh.sqlite")
    build_kv_store(
        inc.graph.merged, inc.graph.nodes, fresh,
        shards=2, edges=inc.graph.edges,
    )

    def dump(path):
        con = sqlite3.connect(path)
        out = {
            t: sorted(con.execute(f"SELECT * FROM {t}").fetchall())
            for t in ("kv", "alias", "node", "edge")
        }
        con.close()
        return out

    assert dump(db) == dump(fresh)

    # a from-scratch state carries no delta: refresh must refuse loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="last_delta"):
        refresh_kv_store(state_base, db)


def test_solr_delta_equals_rebuild(tri):
    """The search-core twin of the KV refresh: applying solr_delta_docs
    (delete by id + upsert by id, Solr's native maintenance verbs) to
    the PRE-verb docs must reproduce the from-scratch docs of the new
    state exactly — including re-rendered docs of unchanged-graph nodes
    whose <prop>_names embed a changed clique's names."""
    import pyspark.sql.functions as SF

    from grebi_spark.sinks.solr_jsonl import (
        solr_delta_docs,
        solr_edge_docs,
        solr_node_docs,
    )

    state_base = tri["state_base"]
    _scratch, inc = tri["add"]

    def js(df):
        return sorted(
            r[0]
            for r in df.select(
                SF.to_json(SF.struct(*sorted(df.columns)))
            ).collect()
        )

    delta = solr_delta_docs(inc)

    old_docs = solr_node_docs(state_base.graph.merged, state_base.graph.nodes)
    up_ids = {
        r["grebi__nodeId"]
        for r in delta["node_upserts"].select("grebi__nodeId").collect()
    }
    del_ids = {r["grebi__nodeId"] for r in delta["node_deletions"].collect()}
    kept = old_docs.filter(
        ~SF.col("grebi__nodeId").isin(list(up_ids | del_ids))
    )
    applied = sorted(js(kept) + js(delta["node_upserts"]))
    assert applied == js(solr_node_docs(inc.graph.merged, inc.graph.nodes))
    # the backward-propagation case really occurs: some upserted doc's
    # node is NOT in the re-merged delta (it only embeds changed names)
    delta_ids = {
        r["node_id"]
        for r in inc.last_delta["merged_delta"].select("node_id").distinct().collect()
    }
    assert up_ids - delta_ids, "expected a names-embed-only re-render"

    old_edges = solr_edge_docs(state_base.graph.edges)
    up_e = delta["edge_upserts"]
    up_e_ids = {r["grebi__edgeId"] for r in up_e.select("grebi__edgeId").collect()}
    del_e = {r["grebi__edgeId"] for r in delta["edge_deletions"].collect()}
    # order-independence contract: the sets are disjoint, so a consumer
    # may delete after (or concurrently with) upserting
    assert up_e_ids.isdisjoint(del_e)
    kept_e = old_edges.filter(
        ~SF.col("grebi__edgeId").isin(list(up_e_ids | del_e))
    )
    applied_e = sorted(js(kept_e) + js(up_e))
    assert applied_e == js(solr_edge_docs(inc.graph.edges))


def test_stream_maintenance_refreshes_serving_store_per_fold(spark, sf_dir, tmp_path):
    """The END-TO-END continuous loop: dump lands → streaming fold grows
    the graph (add_datasource in foreachBatch) → the SERVING store is
    refreshed with that fold's delta — per micro-batch. After two dumps
    land across two availableNow drains of one checkpoint, the sqlite KV
    must be table-for-table identical to a from-scratch build of the
    final state: the whole pipeline, graph and serving tier both, is
    maintained delta-wise."""
    import json
    import sqlite3

    from grebi_spark.incremental import build_graph_stateful
    from grebi_spark.plans.parity import PARITY_CONFIG, _star_graph_long
    from grebi_spark.sinks.kv import build_kv_store, refresh_kv_store
    from grebi_spark.sources import pysource

    pysource.register(spark)
    customers, nations, regions = _star_graph_long(spark, sf_dir)
    holder = {"state": build_graph_stateful([customers], PARITY_CONFIG)}
    db = str(tmp_path / "serving.sqlite")
    build_kv_store(
        holder["state"].graph.merged, holder["state"].graph.nodes, db,
        shards=2, edges=holder["state"].graph.edges,
    )

    d = tmp_path / "dumps"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def land(df, name):
        with open(d / f"{name}.jsonl", "w") as fh:
            for r in df.collect():
                fh.write(json.dumps(r.asDict()) + "\n")

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        holder["state"] = add_datasource(
            holder["state"], batch_df.localCheckpoint()
        )
        refresh_kv_store(holder["state"], db, shards=2)

    def drain():
        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(customers.schema)
            .option("path", str(d))
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(nations, "geo_nations")
    drain()
    land(regions, "geo_regions")
    drain()

    fresh = str(tmp_path / "fresh.sqlite")
    g = holder["state"].graph
    build_kv_store(g.merged, g.nodes, fresh, shards=2, edges=g.edges)

    def dump(path):
        con = sqlite3.connect(path)
        out = {
            t: sorted(con.execute(f"SELECT * FROM {t}").fetchall())
            for t in ("kv", "alias", "node", "edge")
        }
        con.close()
        return out

    maintained, rebuilt = dump(db), dump(fresh)
    assert maintained == rebuilt
    assert len(maintained["kv"]) > 0 and len(maintained["edge"]) > 0


def test_refresh_kv_store_after_remove(tri, tmp_path):
    """The deletions-dominant refresh: retiring a datasource vanishes
    its source-only entities and splits fused cliques — the refreshed
    store must drop the vanished ids and re-render the split cliques,
    landing table-for-table identical to a from-scratch build of the
    reduced state."""
    import sqlite3

    from grebi_spark.sinks.kv import build_kv_store, refresh_kv_store

    plus_graph, _inc = tri["add"]  # the pre-remove (fused) graph
    _scratch, reduced = tri["remove"]

    db = str(tmp_path / "maint.sqlite")
    build_kv_store(
        plus_graph.merged, plus_graph.nodes, db,
        shards=2, edges=plus_graph.edges,
    )
    counts = refresh_kv_store(reduced, db, shards=2)
    assert counts["deleted_nodes"] > 0

    fresh = str(tmp_path / "fresh.sqlite")
    build_kv_store(
        reduced.graph.merged, reduced.graph.nodes, fresh,
        shards=2, edges=reduced.graph.edges,
    )

    def dump(path):
        con = sqlite3.connect(path)
        out = {
            t: sorted(con.execute(f"SELECT * FROM {t}").fetchall())
            for t in ("kv", "alias", "node", "edge")
        }
        con.close()
        return out

    assert dump(db) == dump(fresh)


def test_refresh_kv_store_after_update(tri, tmp_path):
    """update = remove∘add fused in ONE _delta_finish pass — its single
    last_delta must carry the complete serving delta: the refreshed
    store equals a from-scratch build of the replaced-source state."""
    import sqlite3

    from grebi_spark.sinks.kv import build_kv_store, refresh_kv_store

    plus_graph, _inc = tri["add"]  # the pre-update graph (base + sssom)
    _scratch_v2, upd = tri["update"]

    db = str(tmp_path / "maint.sqlite")
    build_kv_store(
        plus_graph.merged, plus_graph.nodes, db,
        shards=2, edges=plus_graph.edges,
    )
    refresh_kv_store(upd, db, shards=2)

    fresh = str(tmp_path / "fresh.sqlite")
    build_kv_store(
        upd.graph.merged, upd.graph.nodes, fresh,
        shards=2, edges=upd.graph.edges,
    )

    def dump(path):
        con = sqlite3.connect(path)
        out = {
            t: sorted(con.execute(f"SELECT * FROM {t}").fetchall())
            for t in ("kv", "alias", "node", "edge")
        }
        con.close()
        return out

    assert dump(db) == dump(fresh)


def test_stream_maintenance_survives_driver_restart(spark, sf_dir, tmp_path):
    """The DURABILITY half of the continuous loop: the stream checkpoint
    resumes file offsets, but the maintained GraphState lives in driver
    memory — a restarted maintenance job must reload it with load_state
    and keep folding. Simulated restart: fold dump 1 → save_state →
    'new driver' load_state → drain the SAME checkpoint (only dump 2 is
    fresh) → the resumed state's merged profile equals a from-scratch
    build over all sources."""
    import json

    from grebi_spark.incremental import (
        add_datasource,
        build_graph_stateful,
        load_state,
        save_state,
    )
    from grebi_spark.pipeline import build_graph
    from grebi_spark.plans.parity import PARITY_CONFIG, _star_graph_long
    from grebi_spark.sources import pysource

    pysource.register(spark)
    customers, nations, regions = _star_graph_long(spark, sf_dir)
    d = tmp_path / "dumps"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    statedir = str(tmp_path / "state")

    def land(df, name):
        with open(d / f"{name}.jsonl", "w") as fh:
            for r in df.collect():
                fh.write(json.dumps(r.asDict()) + "\n")

    def drain(holder):
        def fold(batch_df, batch_id):
            if not batch_df.isEmpty():
                holder["state"] = add_datasource(
                    holder["state"], batch_df.localCheckpoint()
                )

        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(customers.schema)
            .option("path", str(d))
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # driver #1: initial build, fold the first dump, persist, "crash"
    h1 = {"state": build_graph_stateful([customers], PARITY_CONFIG)}
    land(nations, "geo_nations")
    drain(h1)
    save_state(h1["state"], statedir)

    # driver #2: reload the durable state, resume the SAME checkpoint
    h2 = {"state": load_state(spark, statedir)}
    land(regions, "geo_regions")
    drain(h2)

    def profile(merged):
        import pyspark.sql.functions as SF

        return sorted(
            tuple(r)
            for r in merged.groupBy("node_id")
            .agg(SF.count("*").alias("n"))
            .collect()
        )

    scratch = build_graph([customers, nations, regions], PARITY_CONFIG)
    assert profile(h2["state"].graph.merged) == profile(scratch.merged)

def test_executed_solr_core_refresh_equals_rebuild(spark, tri, tmp_path):
    """The EXECUTED search core (segment/tombstone layout): build from
    the pre-verb state, refresh with the verb's delta, and the live
    read-back must equal a from-scratch core of the new state exactly —
    nodes and edges both. The refresh writes ONLY a new segment +
    tombstones: every pre-existing segment file is bit-untouched (the
    delta-sized-write contract, Lucene's immutable-segment shape)."""
    import os

    import pyspark.sql.functions as SF

    from grebi_spark.sinks.solr_jsonl import (
        build_solr_core,
        compact_solr_core,
        core_db_path,
        read_solr_core,
        refresh_solr_core,
    )

    state_base = tri["state_base"]
    _scratch, inc = tri["add"]

    root = str(tmp_path / "core")
    build_solr_core(
        state_base.graph.merged, state_base.graph.nodes, state_base.graph.edges, root
    )
    before = {}
    for dirpath, _dirs, files in os.walk(f"{root}/nodes/segments"):
        for f in files:
            p = os.path.join(dirpath, f)
            before[p] = (os.path.getmtime(p), os.path.getsize(p))

    counts = refresh_solr_core(spark, inc, root)
    assert counts["node_upserts"] > 0

    # old segment files bit-untouched
    for p, sig in before.items():
        assert os.path.exists(p) and (
            os.path.getmtime(p),
            os.path.getsize(p),
        ) == sig, f"refresh rewrote a sealed segment file: {p}"

    def js(df):
        return sorted(
            r[0]
            for r in df.select(SF.to_json(SF.struct(*sorted(df.columns)))).collect()
        )

    scratch_root = str(tmp_path / "scratch_core")
    build_solr_core(inc.graph.merged, inc.graph.nodes, inc.graph.edges, scratch_root)
    for kind in ("nodes", "edges"):
        assert js(read_solr_core(spark, root, kind)) == js(
            read_solr_core(spark, scratch_root, kind)
        ), f"refreshed {kind} core != from-scratch core"

    # the serving file: every table equals the from-scratch one
    import sqlite3

    def dump(r):
        con = sqlite3.connect(core_db_path(r))
        out = {
            t: sorted(con.execute(f"SELECT * FROM {t}").fetchall(), key=repr)
            for t in ("doc", "name", "field", "post", "suggest", "stats")
        }
        con.close()
        return out

    served = dump(root)
    assert served == dump(scratch_root)
    assert all(served.values())

    # a search served from the refreshed core equals one from scratch:
    # name-match filter + type facet, the search_nodes shape
    def serve(r):
        docs = read_solr_core(spark, r, "nodes")
        hits = docs.filter(
            SF.exists("grebi__name", lambda n: SF.lower(n).contains("o"))
        )
        return sorted(
            (row["t"], row["n"])
            for row in hits.select(SF.explode("grebi__type").alias("t"))
            .groupBy("t")
            .agg(SF.count("*").alias("n"))
            .collect()
        )

    assert serve(root) == serve(scratch_root)

    # compaction folds segments and preserves content exactly
    live_before = js(read_solr_core(spark, root, "nodes"))
    merged_away = compact_solr_core(spark, root)
    assert merged_away >= 1
    assert js(read_solr_core(spark, root, "nodes")) == live_before
    # refresh still works on a compacted core (next seg = 1)
    with __import__("pytest").raises(ValueError, match="last_delta"):
        refresh_solr_core(spark, tri["state_base"], root)


def test_solr_refresh_requires_existing_core(spark, tri, tmp_path):
    from grebi_spark.sinks.solr_jsonl import refresh_solr_core

    _scratch, inc = tri["add"]
    with __import__("pytest").raises(ValueError, match="no core"):
        refresh_solr_core(spark, inc, str(tmp_path / "nowhere"))
