"""Incremental update correctness: folding a datasource into a built
graph must produce EXACTLY the graph a from-scratch build over the
union of sources produces — groups, merged rows, node headers, edges,
display types, and edge summary all value-identical.

The added source (sssom) links two pre-existing cliques (the ols/kgx
mondo group and the efo id), so the test exercises the hard case:
clique fusion with canonical-id change and re-merge of absorbed nodes.
"""

import os

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
    inc = add_datasource(state_base, sssom, prefix_map=PM)
    reduced = remove_datasource(state_plus, "sssom")
    upd = update_datasource(state_plus, "sssom", sssom_v2, prefix_map=PM)
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


def test_update_moves_link_and_stays_delta_sized(tri, update_graphs):
    scratch, upd = update_graphs
    groups = {r["id"]: r["group_id"] for r in upd.graph.groups.collect()}
    # the replacement moved the efo link from 0005044 to 0001134
    assert groups["efo:0000537"] == "mondo:0001134"
    assert groups.get("mondo:0005044", "mondo:0005044") != "mondo:0001134"
    # the update's effect stays confined to the two mondo cliques and
    # the ref:1 node that references the moved id: every other node's
    # merged rows are exactly the pre-update graph's
    import pyspark.sql.functions as SF

    plus_graph, _ = tri["add"]  # the pre-update graph (base + sssom v1)
    touched = ["mondo:0005044", "mondo:0001134", "ref:1"]

    def rest(g):
        return _canon(g.merged.filter(~SF.col("node_id").isin(touched)))

    assert rest(upd.graph) == rest(plus_graph)
    assert upd.graph.merged.count() > len(rest(upd.graph)) > 0
    # cross-clique reference moved with the link
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


def test_successive_verbs_keep_rows_flat_and_equal_rebuild(spark):
    """Five successive verbs (add, update, remove, add, update) on one
    state: after every verb the retained rows are a flat checkpoint scan
    with at most ``spark.sql.shuffle.partitions`` partitions — the
    lineage and partition growth behind the old delta fold's
    out-of-memory failures cannot build up — and the final graph equals
    a from-scratch build of the same rows."""
    import contextlib
    import io

    import pyspark.sql.functions as SF

    from grebi_spark.incremental import remove_datasource, update_datasource

    from .test_state_versions import _tiny_sources

    a, b = _tiny_sources(spark)
    b_half = b.filter(SF.col("prop_key") != "t:rel")
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    state = build_graph_stateful([a], CONFIG)
    for verb in (
        lambda s: add_datasource(s, b),
        lambda s: update_datasource(s, "srcb", b_half),
        lambda s: remove_datasource(s, "srcb"),
        lambda s: add_datasource(s, b),
        lambda s: update_datasource(s, "srcb", b_half),
    ):
        state = verb(state)
        assert state.rows.rdd.getNumPartitions() <= nparts
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            state.rows.explain(mode="simple")
        assert "Union" not in buf.getvalue() and "Filter" not in buf.getvalue()

    scratch = build_graph_stateful([a, b_half], CONFIG)
    for part in ("groups", "merged", "nodes", "edges", "display_types",
                 "edge_summary"):
        assert _canon(getattr(state.graph, part)) == _canon(
            getattr(scratch.graph, part)
        ), part


def test_compact_state_preserves_values_and_flattens_plans(spark, tri):
    """Every verb compacts the state it returns (there is no separate
    compaction step): the retained rows are a flat checkpoint scan (no
    union, filter or join of the input state's plan left), the graph is
    value-identical to the from-scratch build, and maintenance continues
    on the compacted state."""
    import contextlib
    import io

    from grebi_spark.incremental import remove_datasource

    base_graph, _ = tri["remove"]
    plus_graph, live = tri["add"]
    for part in ("groups", "merged", "nodes", "edges"):
        assert _canon(getattr(live.graph, part)) == _canon(
            getattr(plus_graph, part)
        ), part
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        live.rows.explain(mode="simple")
    plan = buf.getvalue()
    for op in ("Join", "Union", "Filter"):
        assert op not in plan, f"{op} left in the retained rows' plan"
    on_compacted = remove_datasource(live, "sssom")
    assert _canon(on_compacted.graph.merged) == _canon(base_graph.merged)


def test_compact_state_resets_partition_inflation(spark, tri):
    """A verb's union SUMs its children's partition counts, so without
    compaction a long verb chain inflates the retained rows to thousands
    of near-empty partitions and fold latency degrades into
    task-scheduling overhead. Every verb must coalesce the rows back to
    the session's shuffle-partition setting, however many verbs ran."""
    from grebi_spark.incremental import add_datasource, remove_datasource

    _, live = tri["add"]
    sssom = tri["sssom"]
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    state = live
    for _ in range(2):
        state = add_datasource(remove_datasource(state, "sssom"), sssom, prefix_map=PM)
        got = state.rows.rdd.getNumPartitions()
        assert got <= nparts, f"{got} row partitions after a verb chain"
    assert live.rows.rdd.getNumPartitions() <= nparts
    assert _canon(state.graph.merged) == _canon(live.graph.merged)


def _kv_dump(path):
    import sqlite3

    con = sqlite3.connect(path)
    out = {
        t: sorted(con.execute(f"SELECT * FROM {t}").fetchall())
        for t in ("kv", "alias", "node", "edge")
    }
    con.close()
    return out


def _kv_swap_equals_fresh(before, after, tmp_path):
    """Serve ``before``'s KV store, rebuild it at the same path from
    ``after`` (the swap refresh), and compare every table with a fresh
    build of ``after``."""
    from grebi_spark.sinks.kv import build_kv_store

    db = str(tmp_path / "maint.sqlite")
    build_kv_store(before.merged, before.nodes, db, shards=2, edges=before.edges)
    build_kv_store(after.merged, after.nodes, db, shards=2, edges=after.edges)
    fresh = str(tmp_path / "fresh.sqlite")
    build_kv_store(after.merged, after.nodes, fresh, shards=2, edges=after.edges)
    assert _kv_dump(db) == _kv_dump(fresh)
    assert not (tmp_path / "maint.sqlite.tmp").exists()


def test_refresh_kv_store_equals_rebuild(tri, tmp_path):
    """Serving-tier maintenance: after a verb, rebuilding the EXECUTED
    sqlite KV store at its served path must leave every table (nodes,
    aliases, edges) content-identical to a from-scratch build of the new
    graph — no row of the old store survives the swap."""
    _kv_swap_equals_fresh(tri["state_base"].graph, tri["add"][1].graph, tmp_path)


def test_stream_maintenance_refreshes_serving_store_per_fold(spark, sf_dir, tmp_path):
    """The END-TO-END continuous loop: dump lands → streaming fold grows
    the graph (add_datasource in foreachBatch) → the SERVING store is
    rebuilt at its served path — per micro-batch. After two dumps land
    across two availableNow drains of one checkpoint, the sqlite KV must
    be table-for-table identical to a from-scratch build of the final
    state: graph and serving tier are maintained together."""
    import json

    from grebi_spark.incremental import build_graph_stateful
    from grebi_spark.plans.parity import PARITY_CONFIG, _star_graph_long
    from grebi_spark.sinks.kv import build_kv_store
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
        g = holder["state"].graph
        build_kv_store(g.merged, g.nodes, db, shards=2, edges=g.edges)

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

    maintained, rebuilt = _kv_dump(db), _kv_dump(fresh)
    assert maintained == rebuilt
    assert len(maintained["kv"]) > 0 and len(maintained["edge"]) > 0


def test_refresh_kv_store_after_remove(tri, tmp_path):
    """The deletions-dominant refresh: retiring a datasource vanishes
    its source-only entities and splits fused cliques — the refreshed
    store must drop the vanished ids and re-render the split cliques,
    landing table-for-table identical to a from-scratch build of the
    reduced state."""
    plus_graph, _inc = tri["add"]  # the pre-remove (fused) graph
    _kv_swap_equals_fresh(plus_graph, tri["remove"][1].graph, tmp_path)


def test_refresh_kv_store_after_update(tri, tmp_path):
    """The refreshed store after an update equals a from-scratch build
    of the replaced-source state."""
    plus_graph, _inc = tri["add"]  # the pre-update graph (base + sssom)
    _kv_swap_equals_fresh(plus_graph, tri["update"][1].graph, tmp_path)


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
    """The EXECUTED search core: build it from the pre-verb state, then
    rebuild it at the same root from the verb's graph (the swap
    refresh). Its docs and every table of its serving file must equal a
    from-scratch core of the new state — nodes and edges both — and a
    search served from it must equal one served from scratch."""
    import sqlite3

    import pyspark.sql.functions as SF

    from grebi_spark.sinks.solr_jsonl import (
        build_solr_core,
        core_db_path,
        read_solr_core,
    )

    state_base = tri["state_base"]
    _scratch, inc = tri["add"]

    root = str(tmp_path / "core")
    build_solr_core(
        state_base.graph.merged, state_base.graph.nodes, state_base.graph.edges, root
    )
    build_solr_core(inc.graph.merged, inc.graph.nodes, inc.graph.edges, root)
    assert not os.path.exists(core_db_path(root) + ".tmp")

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


def test_store_rebuild_is_atomic_for_readers(tri, tmp_path):
    """Rebuilding served stores is a swap: a reader thread looping
    kv_store_get, search_core_docs and suggest_core_docs while both
    stores are rebuilt from the verb's graph gets, on every request, the
    old graph's answer or the new one's — never an exception (a missing
    file) or a half-loaded store."""
    import threading

    from grebi_spark.sinks.kv import build_kv_store, kv_store_get
    from grebi_spark.sinks.solr_jsonl import (
        build_solr_core,
        search_core_docs,
        suggest_core_docs,
    )

    def build(g, root):
        kv, core = os.path.join(root, "kv.sqlite"), os.path.join(root, "core")
        build_kv_store(g.merged, g.nodes, kv, shards=2, edges=g.edges)
        build_solr_core(g.merged, g.nodes, g.edges, core)
        return kv, core

    def ask(kv, core):
        return (
            kv_store_get(kv, ["efo:0000537", "mondo:0005044", "ref:1"]),
            search_core_docs(core, "mondo")[0],
            suggest_core_docs(core, "h"),
        )

    old, new = tri["state_base"].graph, tri["add"][1].graph
    want_new = ask(*build(new, str(tmp_path / "new")))
    kv, core = build(old, str(tmp_path / "served"))
    want_old = ask(kv, core)
    assert want_old != want_new

    seen, errors, stop = [], [], threading.Event()

    def reader():
        while not stop.is_set():
            try:
                seen.append(ask(kv, core))
            except Exception as exc:  # noqa: BLE001 — asserted below
                errors.append(exc)

    t = threading.Thread(target=reader)
    t.start()
    try:
        assert build(new, str(tmp_path / "served")) == (kv, core)
        n = len(seen)
        while len(seen) < n + 5 and t.is_alive():
            stop.wait(0.05)
    finally:
        stop.set()
        t.join(timeout=60)
    assert not t.is_alive()
    assert errors == []
    # each store is swapped on its own, so each answer (not the tuple)
    # is the old graph's or the new one's
    for i in range(3):
        assert all(a[i] in (want_old[i], want_new[i]) for a in seen), i
    assert seen[0] == want_old and seen[-1] == want_new
