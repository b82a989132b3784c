"""make_release: one call produces the reference's complete serving
handoff — Neo4j CSVs + import argv + index DDL, Solr JSONL cores +
schema + import plan, the executed KV store, summary.json, and a
manifest — and every artifact is readable/consistent."""

import json
import os

from grebi_spark.pipeline import build_graph
from grebi_spark.release import make_release
from grebi_spark.sinks.kv import kv_store_get

from .test_pipeline import CONFIG
from .test_state_versions import _tiny_sources


def test_make_release_end_to_end(spark, tmp_path):
    a, b = _tiny_sources(spark)
    graph = build_graph([a, b], CONFIG)
    out = str(tmp_path / "rel")
    manifest = make_release(graph, out, name="star")

    # manifest counts agree with the graph
    assert manifest["n_nodes"] == graph.nodes.count() == 3
    assert manifest["n_edges"] == graph.edges.count() == 1

    # neo4j: CSV parts exist and the argv references every part file
    parts = [
        p for p in manifest["artifacts"] if p.startswith("neo4j/nodes/part-")
    ]
    assert parts
    argv = manifest["neo4j_import_argv"]
    sh = open(os.path.join(out, "neo4j", "import_command.sh")).read()
    assert argv[0:4] == ["neo4j-admin", "database", "import", "full"]
    assert all(a in sh for a in argv)
    ddl = open(os.path.join(out, "neo4j", "create_indexes.cypher")).read()
    assert "CREATE INDEX node_id" in ddl

    # solr: docs parse as JSON, schema + import plan present
    ndocs = spark.read.json(os.path.join(out, "solr", "nodes"))
    assert ndocs.count() == 3
    schema = json.load(open(os.path.join(out, "solr", "schema.json")))
    assert any(f["name"] == "grebi__name" for f in schema)
    reqs = json.load(open(os.path.join(out, "solr", "import_requests.json")))
    assert reqs["grebi_nodes"][-1]["params"] == {"commit": "true"}

    # kv: executed point read returns the node document
    got = kv_store_get(os.path.join(out, "kv", "store.sqlite"), ["x:1"])
    assert "x:1" in got and "one" in got["x:1"]

    # summary: the served document matches the index frames
    summary = json.load(open(os.path.join(out, "summary.json")))
    assert summary["subgraph_name"] == "star"
    assert summary["types"]["t:A"]["count"] == 2

    # manifest lists every artifact it promises
    for p in ("summary.json", "metadata.json", "kv/store.sqlite"):
        assert p in manifest["artifacts"], p


def test_refresh_release_after_verb(spark, tmp_path):
    """A verb's graph refreshes the release in place: make_release on it
    into the same directory swaps in the KV store and the search core
    and rewrites the summary and the manifest."""
    from grebi_spark.incremental import add_datasource, build_graph_stateful
    from grebi_spark.sinks.solr_jsonl import read_solr_core

    a, b = _tiny_sources(spark)
    st1 = build_graph_stateful([a], CONFIG)
    out = str(tmp_path / "rel")
    make_release(st1.graph, out, name="star")
    st2 = add_datasource(st1, b)
    make_release(st2.graph, out, name="star")

    # the executed stores serve the post-verb graph
    got = kv_store_get(os.path.join(out, "kv", "store.sqlite"), ["x:3"])
    assert "x:3" in got and "three" in got["x:3"]
    live = read_solr_core(spark, os.path.join(out, "solr", "core"), "nodes")
    assert live.count() == st2.graph.nodes.count() == 3

    # summary + manifest reflect the refreshed graph
    summary = json.load(open(os.path.join(out, "summary.json")))
    assert summary["types"]["t:B"]["count"] == 1
    manifest = json.load(open(os.path.join(out, "metadata.json")))
    assert manifest["n_nodes"] == 3
    assert manifest["refreshes"] == 1
    # the recounted KV rows reconcile against the refreshed store
    assert manifest["n_kv_rows"] >= 3


def test_multi_subgraph_release_and_service_map(spark, tmp_path):
    """The reference's top-level driver loop (scripts/dataload.py:13-16)
    end to end: TWO config-driven subgraphs → one make_multi_release
    root → the root metadata lists both, each subgraph has a full
    release directory, and one facade serves both — /subgraphs,
    /summaries across them, and per-subgraph /search from each
    subgraph's OWN maintained core."""
    import urllib.request

    from grebi_spark.config import SubgraphConfig
    from grebi_spark.release import make_multi_release, release_server

    def write_ds(name, rows):
        d = tmp_path / name
        d.mkdir()
        (d / "data.jsonl").write_text(
            "\n".join(json.dumps(r) for r in rows) + "\n"
        )
        cfg = tmp_path / f"{name}.yaml"
        cfg.write_text(
            f"name: {name}\nenabled: true\ningests:\n"
            f"  - globs: [\"{d}/*.jsonl\"]\n"
            f"    command: 'grebi_transform_jsonl'\n"
        )
        return str(cfg)

    genes_cfg = write_ds(
        "genes",
        [
            {"id": "g:1", "grebi:type": ["t:Gene"], "grebi:name": ["alpha"]},
            {"id": "g:2", "grebi:type": ["t:Gene"], "grebi:name": ["beta"]},
        ],
    )
    drugs_cfg = write_ds(
        "drugs",
        [{"id": "d:1", "grebi:type": ["t:Drug"], "grebi:name": ["gamma"]}],
    )

    out = str(tmp_path / "multirel")
    cfg = SubgraphConfig(identifier_props=("id",), exclude_edges=("id",))
    result = make_multi_release(
        spark,
        {
            "genes_kg": {"config": cfg, "datasource_configs": [genes_cfg]},
            "drugs_kg": {"config": cfg, "datasource_configs": [drugs_cfg]},
        },
        out,
    )
    meta = json.load(open(os.path.join(out, "metadata.json")))
    assert meta["subgraphs"] == ["drugs_kg", "genes_kg"]
    assert meta["releases"]["genes_kg"]["n_nodes"] == 2
    assert meta["releases"]["drugs_kg"]["n_nodes"] == 1
    for name in ("genes_kg", "drugs_kg"):
        sub = json.load(open(os.path.join(out, name, "metadata.json")))
        assert sub["subgraph_name"] == name

    srv = release_server(result["graphs"], out).start()
    try:
        def get(path):
            with urllib.request.urlopen(
                f"http://127.0.0.1:{srv.port}{path}", timeout=120
            ) as r:
                return json.loads(r.read())

        assert get("/api/v1/subgraphs") == ["drugs_kg", "genes_kg"]
        summaries = get("/api/v1/summaries")
        assert set(summaries) == {"drugs_kg", "genes_kg"}
        assert summaries["genes_kg"]["subgraph_name"] == "genes_kg"
        # per-subgraph search serves from each subgraph's own core
        hits = get("/api/v1/subgraphs/genes_kg/search?q=alpha")
        assert [e["node_id"] for e in hits["elements"]] == ["g:1"]
        assert get("/api/v1/subgraphs/drugs_kg/search?q=alpha")["numElements"] == 0
        hits = get("/api/v1/subgraphs/drugs_kg/search?q=gamma")
        assert [e["node_id"] for e in hits["elements"]] == ["d:1"]
        # KV-backed resolve works per subgraph
        assert get("/api/v1/subgraphs/genes_kg/resolve/g:2")
    finally:
        srv.stop()
