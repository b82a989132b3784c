"""HTTP API facade: the reference's REST routes (GrebiApi.java:57-228)
served from the built KV store and search core of the test graph, hit
through a real socket with urllib. The frame implementations in
plans.graph_queries are the oracles every store-backed answer must
equal value for value."""

import json
import os
import urllib.request
from collections import Counter

import pytest
from pyspark.sql import functions as F

from grebi_spark.api.http_api import GrebiApiServer
from grebi_spark.plans.graph_queries import (
    incoming_edges,
    outgoing_edges,
    search_nodes,
    suggest,
)
from grebi_spark.sinks.kv import build_kv_store
from grebi_spark.sinks.solr_jsonl import build_solr_core

from .test_graph_queries import graph  # noqa: F401  (module fixture)


def _build_stores(g, root) -> tuple[str, str]:
    """(KV store path, search core root) built from ``g`` under ``root``."""
    kv, core = os.path.join(root, "kv.sqlite"), os.path.join(root, "core")
    build_kv_store(g.merged, g.nodes, kv, shards=2, edges=g.edges)
    build_solr_core(g.merged, g.nodes, g.edges, core)
    return kv, core


def _serve(g, kv, core) -> GrebiApiServer:
    return GrebiApiServer(
        {"main": g}, kv_stores={"main": kv}, solr_cores={"main": core}
    ).start()


@pytest.fixture(scope="module")
def stores(graph, tmp_path_factory):  # noqa: F811
    return _build_stores(graph, str(tmp_path_factory.mktemp("stores")))


@pytest.fixture(scope="module")
def server(graph, stores):  # noqa: F811
    srv = _serve(graph, *stores)
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
    # the full stored JSON document of the merged node
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


def _job_id_after_marker(sc) -> int:
    """Run a one-task marker job and return its id. Job ids are handed
    out in sequence, so two markers one id apart bracket no other job."""
    sc.setJobGroup("request-path-probe", "marker")
    try:
        sc.parallelize([1], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup("request-path-probe"))


def test_store_routes_run_no_spark_jobs(spark, server):
    """api.<route>.jobs_per_request = 0: one request per store-backed
    route of the serve mix starts no Spark job."""
    base = "/api/v1/subgraphs/main"
    paths = (
        f"{base}/resolve/mp:0002169",
        f"{base}/nodes/mondo:0005044",
        f"{base}/nodes/mondo:0005044/incoming_edges?size=5",
        f"{base}/nodes/mondo:0005044/outgoing_edges?size=5",
        f"{base}/search?q=hyper&facet=types",
        f"{base}/search?q=hypertensive+disorder&rank=bm25",
        f"{base}/suggest?q=hyp",
    )
    sc = spark.sparkContext
    before = _job_id_after_marker(sc)
    for path in paths:
        st, body = _get(server, path)
        assert st == 200 and body, path
    assert _job_id_after_marker(sc) == before + 1
    # no job without a group started after the first marker; older ids
    # are not compared, because the status store evicts its oldest jobs
    # (spark.ui.retainedJobs) whenever a new one pushes it over the limit
    assert not [j for j in sc.statusTracker().getJobIdsForGroup(None) if j > before]


def _frame_node_documents(g) -> dict[str, dict]:
    """Oracle: every node document rendered from the frames — header,
    then each property's sorted distinct values (header keys win)."""
    docs = {
        r["node_id"]: {
            "grebi:nodeId": r["node_id"],
            "grebi:datasources": list(r["datasources"] or []),
            "grebi:type": list(r["types"] or []),
            "grebi:name": list(r["names"] or []),
        }
        for r in g.nodes.collect()
    }
    for r in (
        g.merged.groupBy("node_id", "prop_key")
        .agg(F.array_sort(F.collect_set("value")).alias("values"))
        .collect()
    ):
        docs[r["node_id"]].setdefault(r["prop_key"], list(r["values"]))
    return docs


def test_node_documents_match_frames(server, graph):  # noqa: F811
    want = _frame_node_documents(graph)
    assert len(want) > 5
    for node_id, doc in want.items():
        st, got = _get(server, f"/api/v1/subgraphs/main/nodes/{node_id}")
        assert (st, got) == (200, doc), node_id
    st, _ = _get(server, "/api/v1/subgraphs/main/nodes/nope:404")
    assert st == 404


def test_edge_pages_match_frames(server, graph):  # noqa: F811
    """Edge pages equal the frame pages row for row: the busiest
    node's edges sharing one type (ties on edge_type), page > 0, the
    type= filter, and each row's stored edge document."""
    counts = Counter(
        (r["to_id"], r["edge_type"])
        for r in graph.edges.select("to_id", "edge_type").collect()
    )
    (node, etype), n = counts.most_common(1)[0]
    assert n >= 2  # a tie on edge_type to break
    out_node = graph.edges.groupBy("from_id").count().orderBy(
        F.desc("count"), "from_id"
    ).first()["from_id"]
    cases = []
    for frame_fn, route, nid in (
        (incoming_edges, "incoming_edges", node),
        (outgoing_edges, "outgoing_edges", out_node),
    ):
        for page, size, typ in ((0, 2, None), (1, 2, None), (0, 10, etype), (5, 10, None)):
            cases.append((frame_fn, route, nid, page, size, typ))
    for frame_fn, route, nid, page, size, typ in cases:
        q = f"page={page}&size={size}" + (f"&type={typ}" if typ else "")
        st, body = _get(server, f"/api/v1/subgraphs/main/nodes/{nid}/{route}?{q}")
        assert st == 200
        want = [
            r.asDict(recursive=True)
            for r in frame_fn(graph, nid, page=page, size=size, edge_type=typ).collect()
        ]
        got = body["elements"]
        for e in got:
            edge = e.pop("edge")
            assert edge["edge_id"] == e["edge_id"]
            assert (edge["from_id"], edge["to_id"])[route == "incoming_edges"] == nid
        assert got == want, (route, nid, q)


@pytest.mark.parametrize("q", ["hyper", "", "BRCA", "zzz"])
def test_suggest_matches_frames(server, graph, q):  # noqa: F811
    st, names = _get(server, f"/api/v1/subgraphs/main/suggest?q={q}")
    assert st == 200
    assert names == [r["name"] for r in suggest(graph, q).collect()]


def test_missing_store_raises_and_creates_nothing(graph, stores, tmp_path):  # noqa: F811
    from grebi_spark.sinks.kv import kv_store_get
    from grebi_spark.sinks.solr_jsonl import core_db_path, search_core_docs

    missing = str(tmp_path / "absent.sqlite")
    with pytest.raises(FileNotFoundError):
        kv_store_get(missing, ["x:1"])
    with pytest.raises(FileNotFoundError):
        search_core_docs(str(tmp_path / "absent_core"), "x")
    assert not os.path.exists(missing)
    assert not os.path.exists(core_db_path(str(tmp_path / "absent_core")))
    kv, core = stores
    for kv_stores, solr_cores in (({}, {"main": core}), ({"main": kv}, {}),
                                  ({"main": missing}, {"main": core})):
        with pytest.raises(ValueError, match="'main'"):
            GrebiApiServer({"main": graph}, kv_stores=kv_stores, solr_cores=solr_cores)


@pytest.fixture(scope="module")
def search_stack(spark, tmp_path_factory):
    """A purpose-built graph for the reference's search-filter
    semantics: one obsolete term (ols:isObsolete=true), two datasources,
    mixed types — enough to exercise -field negation, the obsolete
    default, and multi-select facet counts — plus non-ASCII names, and
    four names of two tokens sharing 'alpha' (tied BM25 scores)."""
    import json as _json

    from grebi_spark.config import SubgraphConfig
    from grebi_spark.pipeline import build_graph
    from grebi_spark.sources.jsonl import jsonl_to_nodes

    rows = [
        {"id": "t:1", "grebi:type": "ols:Class",
         "grebi:name": ["alpha term", "Ärger ΣΑΣ İx"]},
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
    kv, core = _build_stores(g, str(tmp_path_factory.mktemp("search_stores")))
    srv = _serve(g, kv, core)
    yield {"srv": srv, "g": g, "core": core}
    srv.stop()


@pytest.fixture(scope="module")
def search_server(search_stack):
    return search_stack["srv"]


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


SEARCH_CASES = [
    dict(q="alpha", facet_fields=("types", "datasources")),
    dict(q="alpha", facet_fields=("types",), filters=(("types", ("hgnc:Gene",), False),)),
    dict(q="alpha", filters=(("datasources", ("dsB",), True),)),
    dict(q="alpha", exclude_obsolete=False, facet_fields=("types",)),
    dict(q="a", type_filter="ols:Class", page=0, size=1),
    dict(q="a", page=1, size=2),
    dict(q="t:", filters=(("grebi:name", ("alpha gene",), True),)),
    dict(q="ärger σας i̇x"),
    dict(q="ΣΑΣ"),
    dict(q=""),
]


@pytest.mark.parametrize("case", SEARCH_CASES, ids=lambda c: repr(c))
def test_search_matches_frames(search_stack, case):
    """/search from the core equals search_nodes over the frames: page
    rows and facet counts, including negation, the obsolete switch,
    type=, paging and non-ASCII case folding."""
    from grebi_spark.sinks.solr_jsonl import search_core_docs

    g = search_stack["g"]
    kw = {k: v for k, v in case.items() if k != "q"}
    page_df, facets = search_nodes(g, case["q"], **kw)
    want = [r.asDict(recursive=True) for r in page_df.collect()]
    want_facets = {
        f: {r["value"]: r["count"] for r in df.collect()} for f, df in facets.items()
    }
    rows, got_facets = search_core_docs(search_stack["core"], case["q"], **kw)
    assert rows == want
    assert got_facets == want_facets


def test_suggest_matches_frames_non_ascii(search_stack):
    from grebi_spark.sinks.solr_jsonl import suggest_core_docs

    g = search_stack["g"]
    for q in ("ÄR", "är", "", "alpha ", "İ"):
        want = [r["name"] for r in suggest(g, q).collect()]
        assert suggest_core_docs(search_stack["core"], q) == want, q
    assert suggest_core_docs(search_stack["core"], "ÄR") == ["Ärger ΣΑΣ İx"]


def _bm25_oracle(spark, g, core, terms, page=0, size=10, **kw):
    """The BM25 page recomputed in Spark: scores from bm25_core_docs over
    the core's live docs, the docs the filters keep from search_nodes
    (q="" keeps every node), score desc then node_id."""
    from grebi_spark.sinks.solr_jsonl import bm25_core_docs, read_solr_core

    scores = {
        r["node_id"]: r["score"]
        for r in bm25_core_docs(read_solr_core(spark, core), terms).collect()
    }
    kept, _ = search_nodes(g, "", size=10**6, **kw)
    rows = [
        {"node_id": r["node_id"], "types": r["types"], "names": r["names"],
         "score": scores[r["node_id"]]}
        for r in kept.collect()
        if r["node_id"] in scores
    ]
    rows.sort(key=lambda r: (-r["score"], r["node_id"]))
    return rows[page * size:(page + 1) * size]


def test_bm25_matches_spark_recompute(spark, search_stack):
    """rank=bm25 from the stored postings equals the Spark recompute:
    tied scores in node_id order, duplicate terms, punctuation-only q,
    paging, and filters that narrow the page but leave scores as they
    are; facets count the matching docs the filters keep."""
    from grebi_spark.sinks.solr_jsonl import search_core_docs_bm25

    g, core = search_stack["g"], search_stack["core"]
    rows, _ = search_core_docs_bm25(core, "alpha")
    assert rows == _bm25_oracle(spark, g, core, ("alpha",))
    # t:3 and t:4 tie (one name of two tokens each), node_id breaks it;
    # t:1's second name makes its doc longer
    assert [r["node_id"] for r in rows] == ["t:3", "t:4", "t:1"]
    assert rows[0]["score"] == rows[1]["score"] > rows[2]["score"]

    full, _ = search_core_docs_bm25(core, "alpha beta gene")
    assert full == _bm25_oracle(spark, g, core, ("alpha", "beta", "gene"))
    dup, _ = search_core_docs_bm25(core, "alpha alpha beta GENE beta")
    assert dup == full
    second, _ = search_core_docs_bm25(core, "alpha beta gene", page=1, size=2)
    assert second == _bm25_oracle(
        spark, g, core, ("alpha", "beta", "gene"), page=1, size=2
    )

    neg = (("datasources", ("dsB",), True),)
    narrowed, facets = search_core_docs_bm25(
        core, "alpha beta gene", filters=neg, facet_fields=("types",)
    )
    assert narrowed == _bm25_oracle(
        spark, g, core, ("alpha", "beta", "gene"), filters=neg
    )
    scores = {r["node_id"]: r["score"] for r in full}
    assert narrowed and all(r["score"] == scores[r["node_id"]] for r in narrowed)
    assert facets == {"types": dict(Counter(t for r in narrowed for t in r["types"]))}

    for q in ("", "!!! --- ???"):
        rows, facets = search_core_docs_bm25(core, q, facet_fields=("types",))
        assert rows == [] and facets == {"types": {"hgnc:Gene": 2, "ols:Class": 1}}


def test_kv_backed_resolve(server):
    # node id straight from the store
    st, rows = _get(server, "/api/v1/subgraphs/main/resolve/mondo:0005044")
    assert st == 200 and len(rows) == 1
    assert rows[0]["node_id"] == "mondo:0005044" and rows[0]["properties"]
    # alias resolves through the alias table to the merged node
    st, rows = _get(server, "/api/v1/subgraphs/main/resolve/mp:0002169")
    assert st == 200 and len(rows) == 1 and rows[0]["node_id"]
    # miss -> empty, not an error
    st, rows = _get(server, "/api/v1/subgraphs/main/resolve/nope:404")
    assert st == 200 and rows == []


def test_kv_backed_edge_page_hydration(server):
    st, body = _get(
        server, "/api/v1/subgraphs/main/nodes/mondo:0005044/incoming_edges?size=5"
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
    """The stores of graph state s1 fronting the facade. The fold test
    then FOLDS a verb and rebuilds both stores in place — every
    store-backed route must change with no frame rebuild (the
    reference's read path: GrebiApi queries Solr and RocksDB,
    GrebiApi.java:185-227)."""
    import tempfile

    from grebi_spark.incremental import build_graph_stateful

    from .test_pipeline import CONFIG
    from .test_state_versions import _tiny_sources

    a, b = _tiny_sources(spark)
    s1 = build_graph_stateful([a], CONFIG)
    kv, root = _build_stores(s1.graph, tempfile.mkdtemp(prefix="grebi_core_api_"))
    srv = _serve(s1.graph, kv, root)
    yield {"srv": srv, "s1": s1, "b": b, "root": root, "kv": kv}
    srv.stop()


def _frame_search(g, q, **kw) -> dict:
    page_df, facets = search_nodes(g, q, **kw)
    body = {"page": kw.get("page", 0), "elements": [
        r.asDict(recursive=True) for r in page_df.collect()
    ]}
    body["numElements"] = len(body["elements"])
    if facets:
        body["facetFieldsToCounts"] = {
            f: {r["value"]: r["count"] for r in df.collect()}
            for f, df in facets.items()
        }
    return body


def test_core_backed_search_matches_frame_backed(core_stack):
    """Value identity: the core-served /search and /suggest responses
    equal the frame answers over the same graph."""
    g, srv = core_stack["s1"].graph, core_stack["srv"]
    st, body = _get(srv, "/api/v1/subgraphs/main/search?q=one&facet=types")
    assert (st, body) == (200, _frame_search(g, "one", facet_fields=("types",)))
    st, body = _get(srv, "/api/v1/subgraphs/main/search?q=x:&size=5")
    assert (st, body) == (200, _frame_search(g, "x:", size=5))
    st, names = _get(srv, "/api/v1/subgraphs/main/suggest?q=t")
    assert (st, names) == (200, [r["name"] for r in suggest(g, "t").collect()])


def test_fold_plus_core_refresh_changes_search_without_frame_rebuild(
    spark, core_stack
):
    """The serving loop: before the fold the stores don't know x:3;
    after add_datasource and a rebuild of both stores at their served
    paths the SAME server (still holding the OLD s1 frames) serves it on
    every route — search, suggest, node page, both edge pages — proving
    each reads the swapped-in stores, not the frames, and every
    refreshed answer is value-identical to the frames of the folded
    graph."""
    from grebi_spark.incremental import add_datasource

    srv = core_stack["srv"]
    base = "/api/v1/subgraphs/main"
    st, body = _get(srv, f"{base}/search?q=three")
    assert st == 200 and body["numElements"] == 0
    assert _get(srv, f"{base}/nodes/x:3")[0] == 404
    assert _get(srv, f"{base}/nodes/x:1/incoming_edges")[1]["numElements"] == 0

    s2 = add_datasource(core_stack["s1"], core_stack["b"])
    g2 = s2.graph
    # the same paths the server reads: each store is swapped in place
    assert _build_stores(g2, os.path.dirname(core_stack["kv"])) == (
        core_stack["kv"], core_stack["root"]
    )

    st, body = _get(srv, f"{base}/search?q=three")
    assert st == 200 and body["numElements"] == 1
    assert body["elements"][0]["node_id"] == "x:3"
    assert body == _frame_search(g2, "three")
    _, names = _get(srv, f"{base}/suggest?q=thr")
    assert names == [r["name"] for r in suggest(g2, "thr").collect()] == ["three"]

    st, doc = _get(srv, f"{base}/nodes/x:3")
    assert st == 200 and doc == _frame_node_documents(g2)["x:3"]
    for route, nid, frame_fn in (("incoming_edges", "x:1", incoming_edges),
                                 ("outgoing_edges", "x:3", outgoing_edges)):
        _, body = _get(srv, f"{base}/nodes/{nid}/{route}")
        for e in body["elements"]:
            e.pop("edge")
        want = [r.asDict(recursive=True) for r in frame_fn(g2, nid, size=10).collect()]
        assert body["elements"] == want and len(want) == 1, route


def test_core_search_bm25_ranking(spark, core_stack):
    """rank=bm25 serves Lucene's actual relevance model from the
    maintained core: hand-computed Okapi scores over a 2-doc corpus
    (names 'one', 'two'; dl=1, avgdl=1, so the per-term weight reduces
    to the idf: ln((N - df + .5)/(df + .5) + 1) = ln 2 ≈ 0.6931).
    Own stores over the shared s1 state: the core_stack stores are
    refreshed by the fold test. Filter semantics stay shared with the
    default ranking."""
    import tempfile

    g = core_stack["s1"].graph
    kv, root = _build_stores(g, tempfile.mkdtemp(prefix="grebi_core_bm25_"))
    srv = _serve(g, kv, root)
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
        # _filter_conds): negating x:1's name drops it — and, Lucene
        # semantics, the filter does NOT change x:2's score (BM25
        # statistics come from the index, not the filtered set)
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
