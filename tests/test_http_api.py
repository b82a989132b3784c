"""HTTP API facade: the reference's REST routes (GrebiApi.java:57-228)
served over the test graph, hit through a real socket with urllib."""

import json
import urllib.request

import pytest

from grebi_spark.api.http_api import GrebiApiServer

from .test_graph_queries import graph  # noqa: F401  (module fixture)


@pytest.fixture(scope="module")
def server(graph):  # noqa: F811
    srv = GrebiApiServer({"main": graph}).start()
    yield srv
    srv.stop()


def _get(srv, path):
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}{path}", timeout=120
        ) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:  # 4xx/5xx still carry a JSON body
        return e.code, json.loads(e.read())


def test_stats_and_subgraphs(server):
    st, body = _get(server, "/api/v1/stats")
    assert st == 200 and body["main"]["nodes"] > 5 and body["main"]["edges"] > 5
    st, body = _get(server, "/api/v1/subgraphs")
    assert body == ["main"]
    st, body = _get(server, "/api/v1/subgraphs/main")
    assert body["nodes"] > 5


def test_node_document(server):
    st, doc = _get(server, "/api/v1/subgraphs/main/nodes/mondo:0005044")
    assert st == 200
    assert doc["grebi:nodeId"] == "mondo:0005044"
    assert "hypertensive disorder" in doc["grebi:name"]
    assert doc["grebi:datasources"]
    st, _ = _get(server, "/api/v1/subgraphs/main/nodes/nope:404")
    assert st == 404


def test_edge_pages(server):
    st, body = _get(
        server, "/api/v1/subgraphs/main/nodes/mondo:0005044/incoming_edges?size=5"
    )
    assert st == 200 and body["numElements"] >= 1
    assert all(e["edge_type"] for e in body["elements"])
    st, out = _get(
        server, "/api/v1/subgraphs/main/nodes/mondo:0005044/outgoing_edges?size=5"
    )
    assert st == 200
    # paging: size=1 returns exactly one element
    st, one = _get(
        server, "/api/v1/subgraphs/main/nodes/mondo:0005044/incoming_edges?size=1"
    )
    assert one["numElements"] == 1


def test_search_and_facets(server):
    st, body = _get(
        server, "/api/v1/subgraphs/main/search?q=hypertensive&facet=types"
    )
    assert st == 200 and body["numElements"] >= 1
    assert body["elements"][0]["node_id"] == "mondo:0005044"
    assert "facetFieldsToCounts" in body and body["facetFieldsToCounts"]["types"]


def test_suggest_and_resolve(server):
    st, names = _get(server, "/api/v1/subgraphs/main/suggest?q=hyper")
    assert st == 200 and any(n.lower().startswith("hyper") for n in names)
    st, rows = _get(server, "/api/v1/subgraphs/main/resolve/mp:0002169")
    assert st == 200 and len(rows) == 1
    # the DataFrame fallback serves the SAME document shape as the
    # KV-backed path (test_kv_backed_resolve): full stored JSON
    assert rows[0]["node_id"] and rows[0]["properties"]


@pytest.mark.parametrize(
    "route",
    ["search?q=hyper&", "nodes/mondo:0005044/incoming_edges?",
     "nodes/mondo:0005044/outgoing_edges?"],
)
@pytest.mark.parametrize("param", ["page=abc", "size=1.5", "page=-1", "size=-3"])
def test_bad_paging_is_a_400(server, route, param):
    st, body = _get(server, f"/api/v1/subgraphs/main/{route}{param}")
    assert st == 400 and "non-negative integer" in body["error"]


def test_page_size_is_capped(server, monkeypatch):
    import grebi_spark.api.http_api as api

    assert api.MAX_PAGE_SIZE >= 10  # perfbench asks for 10-row pages
    st, body = _get(server, "/api/v1/subgraphs/main/search?q=e&size=2147483647&page=3")
    assert st == 200
    monkeypatch.setattr(api, "MAX_PAGE_SIZE", 1)
    st, body = _get(
        server, "/api/v1/subgraphs/main/nodes/mondo:0005044/incoming_edges?size=5"
    )
    assert st == 200 and body["numElements"] == 1
    st, body = _get(server, "/api/v1/subgraphs/main/search?q=e&size=5")
    assert st == 200 and body["numElements"] == 1


def test_server_error_does_not_echo_exception_text(server, monkeypatch, capfd):
    import grebi_spark.api.http_api as api

    def boom(graph):
        raise RuntimeError("secret /internal/path detail")

    monkeypatch.setattr(api, "graph_stats", boom)
    st, body = _get(server, "/api/v1/stats")
    assert st == 500 and body == {"error": "internal server error"}
    assert "secret /internal/path detail" in capfd.readouterr().err


def test_unknown_routes(server):
    st, _ = _get(server, "/api/v1/bogus")
    assert st == 404
    st, _ = _get(server, "/api/v1/subgraphs/absent/search?q=x")
    assert st == 404


@pytest.fixture(scope="module")
def search_server(spark):
    """A purpose-built graph for the reference's search-filter
    semantics: one obsolete term (ols:isObsolete=true), two datasources,
    mixed types — enough to exercise -field negation, the obsolete
    default, and multi-select facet counts."""
    import json as _json

    from grebi_spark.config import SubgraphConfig
    from grebi_spark.pipeline import build_graph
    from grebi_spark.sources.jsonl import jsonl_to_nodes

    rows = [
        {"id": "t:1", "grebi:type": "ols:Class", "grebi:name": ["alpha term"]},
        {"id": "t:2", "grebi:type": "ols:Class", "grebi:name": ["alpha synonym"],
         "ols:isObsolete": "true"},
        {"id": "t:3", "grebi:type": "hgnc:Gene", "grebi:name": ["alpha gene"]},
    ]
    df = spark.createDataFrame([(_json.dumps(r),) for r in rows], ["value"])
    ga = jsonl_to_nodes(df, "dsA")
    rows_b = [
        {"id": "t:4", "grebi:type": "hgnc:Gene", "grebi:name": ["alpha beta"]},
    ]
    gb = jsonl_to_nodes(
        spark.createDataFrame([(_json.dumps(r),) for r in rows_b], ["value"]), "dsB"
    )
    g = build_graph([ga, gb], SubgraphConfig(exclude_edges=("id",)))
    srv = GrebiApiServer({"main": g}).start()
    yield srv
    srv.stop()


def test_search_excludes_obsolete_by_default(search_server):
    st, body = _get(search_server, "/api/v1/subgraphs/main/search?q=alpha")
    assert st == 200
    ids = {e["node_id"] for e in body["elements"]}
    assert "t:2" not in ids and {"t:1", "t:3", "t:4"} <= ids
    # includeObsoleteEntries=true drops the default -ols:isObsolete
    st, body = _get(
        search_server,
        "/api/v1/subgraphs/main/search?q=alpha&includeObsoleteEntries=true",
    )
    assert "t:2" in {e["node_id"] for e in body["elements"]}


def test_search_negative_filter_param(search_server):
    # -datasources=dsB : the Solr -field:(...) negation via query param
    st, body = _get(
        search_server, "/api/v1/subgraphs/main/search?q=alpha&-datasources=dsB"
    )
    assert st == 200
    ids = {e["node_id"] for e in body["elements"]}
    assert "t:4" not in ids and {"t:1", "t:3"} <= ids


def test_search_multiselect_facet_excludes_own_filter(search_server):
    # filter types=hgnc:Gene while faceting on types: the page narrows
    # to genes but the types facet keeps the counts the user could
    # still select ({!tag}/{!ex} multi-select semantics)
    st, body = _get(
        search_server,
        "/api/v1/subgraphs/main/search?q=alpha&facet=types&types=hgnc:Gene",
    )
    assert st == 200
    ids = {e["node_id"] for e in body["elements"]}
    assert ids == {"t:3", "t:4"}
    fc = body["facetFieldsToCounts"]["types"]
    assert fc["hgnc:Gene"] == 2 and fc["ols:Class"] == 1  # t:2 obsolete-excluded
    # an UNfaceted filter narrows the facet counts too (no tag to exclude)
    st, body = _get(
        search_server,
        "/api/v1/subgraphs/main/search?q=alpha&facet=types&datasources=dsA",
    )
    fc = body["facetFieldsToCounts"]["types"]
    assert fc == {"hgnc:Gene": 1, "ols:Class": 1}


@pytest.fixture(scope="module")
def kv_server(graph, tmp_path_factory):  # noqa: F811
    """The same facade pointed at an EXECUTED sqlite KV store: resolve
    serves pure point reads (no Spark on the hot path) and edge pages
    hydrate each edge's stored JSON — the production serving wiring."""
    from grebi_spark.sinks.kv import build_kv_store

    db = str(tmp_path_factory.mktemp("kv") / "store.sqlite")
    build_kv_store(graph.merged, graph.nodes, db, shards=2, edges=graph.edges)
    srv = GrebiApiServer({"main": graph}, kv_stores={"main": db}).start()
    yield srv
    srv.stop()


def test_kv_backed_resolve(kv_server):
    # node id straight from the store
    st, rows = _get(kv_server, "/api/v1/subgraphs/main/resolve/mondo:0005044")
    assert st == 200 and len(rows) == 1
    assert rows[0]["node_id"] == "mondo:0005044" and rows[0]["properties"]
    # alias resolves through the alias table to the merged node
    st, rows = _get(kv_server, "/api/v1/subgraphs/main/resolve/mp:0002169")
    assert st == 200 and len(rows) == 1 and rows[0]["node_id"]
    # miss -> empty, not an error
    st, rows = _get(kv_server, "/api/v1/subgraphs/main/resolve/nope:404")
    assert st == 200 and rows == []


def test_kv_backed_edge_page_hydration(kv_server):
    st, body = _get(
        kv_server, "/api/v1/subgraphs/main/nodes/mondo:0005044/incoming_edges?size=5"
    )
    assert st == 200 and body["numElements"] >= 1
    for e in body["elements"]:
        # every page row carries its KV-stored edge document, keyed back
        assert e["edge"]["edge_id"] == e["edge_id"]
        assert e["edge"]["edge_type"] == e["edge_type"]
        assert e["edge"]["from_id"] == e["from_id"]
        assert e["edge"]["to_id"] == "mondo:0005044"


def test_summary_routes_match_index_aggregates(server, graph):  # noqa: F811
    """The /summary document (GrebiSummarySvc.java:23-38) must carry
    EXACTLY J4's index aggregates — recomputed here independently from
    the merged frame via the index helpers."""
    from grebi_spark.operators.index import (
        edge_prop_counts_of,
        prop_counts_of,
        type_counts_of,
    )

    st, doc = _get(server, "/api/v1/subgraphs/main/summary")
    assert st == 200
    assert doc["subgraph_name"] == "main"
    want_props = {
        r["prop_key"]: r["n_values"] for r in prop_counts_of(graph.merged).collect()
    }
    assert {k: v["count"] for k, v in doc["entity_props"].items()} == want_props
    want_types = {
        r["type"]: r["n_nodes"] for r in type_counts_of(graph.merged).collect()
    }
    assert {k: v["count"] for k, v in doc["types"].items()} == want_types
    want_edge = {
        r["prop_key"]: r["n_values"]
        for r in edge_prop_counts_of(graph.merged).collect()
    }
    assert {k: v["count"] for k, v in doc["edge_props"].items()} == want_edge
    assert want_props and want_types  # non-degenerate fixture

    # the summary service's root shape: every subgraph keyed by name
    st, all_docs = _get(server, "/api/v1/summaries")
    assert st == 200 and set(all_docs) == {"main"}
    assert all_docs["main"] == doc


@pytest.fixture(scope="module")
def core_stack(spark):
    """A maintained search core fronting the facade: graph state s1 →
    build_solr_core → server configured with solr_cores. The test then
    FOLDS a verb and refreshes the core — /search must change with no
    frame rebuild (the reference's read path: GrebiApi queries Solr,
    the incrementally refreshed store, GrebiApi.java:185-227)."""
    import tempfile

    from grebi_spark.incremental import build_graph_stateful
    from grebi_spark.sinks.solr_jsonl import build_solr_core

    from .test_pipeline import CONFIG
    from .test_state_versions import _tiny_sources

    a, b = _tiny_sources(spark)
    s1 = build_graph_stateful([a], CONFIG)
    root = tempfile.mkdtemp(prefix="grebi_core_api_")
    build_solr_core(s1.graph.merged, s1.graph.nodes, s1.graph.edges, root)
    srv = GrebiApiServer(
        {"main": s1.graph}, solr_cores={"main": root}
    ).start()
    yield {"srv": srv, "s1": s1, "b": b, "root": root}
    srv.stop()


def test_core_backed_search_matches_frame_backed(core_stack):
    """Value identity: the core-served /search and /suggest responses
    must equal the frame-served ones over the same graph."""
    frame_srv = GrebiApiServer({"main": core_stack["s1"].graph}).start()
    try:
        for path in (
            "/api/v1/subgraphs/main/search?q=one&facet=types",
            "/api/v1/subgraphs/main/search?q=x:&size=5",
            "/api/v1/subgraphs/main/suggest?q=t",
        ):
            st_c, core_body = _get(core_stack["srv"], path)
            st_f, frame_body = _get(frame_srv, path)
            assert (st_c, core_body) == (st_f, frame_body), path
    finally:
        frame_srv.stop()


def test_fold_plus_core_refresh_changes_search_without_frame_rebuild(
    spark, core_stack
):
    """The serving loop: before the fold the core doesn't know x:3;
    after add_datasource + refresh_solr_core the SAME server (still
    holding the OLD s1 frames) serves it — proving /search reads the
    maintained executed core, not the frames — and the refreshed answer
    is value-identical to a frame-backed server over the folded graph."""
    from grebi_spark.incremental import add_datasource
    from grebi_spark.sinks.solr_jsonl import refresh_solr_core

    srv = core_stack["srv"]
    st, body = _get(srv, "/api/v1/subgraphs/main/search?q=three")
    assert st == 200 and body["numElements"] == 0

    s2 = add_datasource(core_stack["s1"], core_stack["b"])
    refresh_solr_core(spark, s2, core_stack["root"])

    st, body = _get(srv, "/api/v1/subgraphs/main/search?q=three")
    assert st == 200 and body["numElements"] == 1
    assert body["elements"][0]["node_id"] == "x:3"

    frame_srv = GrebiApiServer({"main": s2.graph}).start()
    try:
        _, frame_body = _get(frame_srv, "/api/v1/subgraphs/main/search?q=three")
        assert body == frame_body
        # suggest follows the refreshed core too
        _, names = _get(srv, "/api/v1/subgraphs/main/suggest?q=thr")
        _, fnames = _get(frame_srv, "/api/v1/subgraphs/main/suggest?q=thr")
        assert names == fnames == ["three"]
    finally:
        frame_srv.stop()


def test_core_search_bm25_ranking(spark):
    """rank=bm25 serves Lucene's actual relevance model from the
    maintained core: hand-computed Okapi scores over a 2-doc corpus
    (names 'one', 'two'; dl=1, avgdl=1, so the per-term weight reduces
    to the idf: ln((N - df + .5)/(df + .5) + 1) = ln 2 ≈ 0.6931).
    Own core root: the shared core_stack is mutated by the refresh
    test. Filter semantics stay shared with the default ranking."""
    import tempfile

    from grebi_spark.incremental import build_graph_stateful
    from grebi_spark.sinks.solr_jsonl import build_solr_core

    from .test_pipeline import CONFIG
    from .test_state_versions import _tiny_sources

    a, _b = _tiny_sources(spark)
    s1 = build_graph_stateful([a], CONFIG)
    root = tempfile.mkdtemp(prefix="grebi_core_bm25_")
    build_solr_core(s1.graph.merged, s1.graph.nodes, s1.graph.edges, root)
    srv = GrebiApiServer({"main": s1.graph}, solr_cores={"main": root}).start()
    try:
        st, body = _get(
            srv, "/api/v1/subgraphs/main/search?q=one&rank=bm25"
        )
        assert st == 200 and body["numElements"] == 1
        el = body["elements"][0]
        assert el["node_id"] == "x:1"
        assert abs(el["score"] - 0.6931) < 1e-9  # round(ln 2, 4)

        # both terms hit: equal scores, node_id tiebreak
        st, body = _get(
            srv, "/api/v1/subgraphs/main/search?q=one+two&rank=bm25"
        )
        assert st == 200 and body["numElements"] == 2
        assert [e["node_id"] for e in body["elements"]] == ["x:1", "x:2"]
        assert body["elements"][0]["score"] == body["elements"][1]["score"]

        # WHOLE_FIELD filters apply to the BM25 path too (shared
        # _apply_core_filters): negating x:1's name drops it — and,
        # Lucene semantics, the filter does NOT change x:2's score
        # (BM25 statistics come from the index, not the filtered set)
        unfiltered_x2 = body["elements"][1]["score"]
        st, body = _get(
            srv,
            "/api/v1/subgraphs/main/search?q=one+two&rank=bm25"
            "&-grebi:name=one",
        )
        assert st == 200
        assert [e["node_id"] for e in body["elements"]] == ["x:2"]
        assert body["elements"][0]["score"] == unfiltered_x2

        # no matching term: empty page, not an error
        st, body = _get(
            srv, "/api/v1/subgraphs/main/search?q=zzz&rank=bm25"
        )
        assert st == 200 and body["numElements"] == 0
    finally:
        srv.stop()
