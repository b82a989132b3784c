"""HTTP API facade — the reference's REST surface
(grebi_api/src/main/java/uk/ac/ebi/grebi/GrebiApi.java:57-228) served
over built graphs with the Python standard library only.

Route parity (reference file:line):

========================================================  =============
``GET /api/v1/stats``                                     GrebiApi:57
``GET /api/v1/subgraphs``                                 GrebiApi:61
``GET /api/v1/subgraphs/{s}``                             GrebiApi:65
``GET /api/v1/subgraphs/{s}/nodes/{id}``                  GrebiApi:69
``GET .../nodes/{id}/incoming_edges?page=&size=``         GrebiApi:81
``GET .../nodes/{id}/outgoing_edges?page=&size=``         GrebiApi:129
``GET /api/v1/subgraphs/{s}/search?q=&page=&size=&facet`` GrebiApi:185
``GET /api/v1/subgraphs/{s}/suggest?q=``                  GrebiApi:228
``GET /api/v1/subgraphs/{s}/resolve/{id}``                grebi_resolver_service
``GET /api/v1/summaries``                                 GrebiSummarySvc:34
``GET /api/v1/subgraphs/{s}/summary``                     GrebiSummarySvc:23-38
========================================================  =============

Scope note: the reference serves these from Solr/Neo4j/RocksDB builds;
this facade serves them from the engine's artifacts where an executed
store exists — /search and /suggest read the MAINTAINED segment/
tombstone search core when one is configured (``solr_cores``, matching
GrebiApi's Solr-backed read path), /resolve and edge hydration read the
executed sqlite KV (``kv_stores``, the resolver-service shape) — and
falls back to the built DataFrames otherwise (the correct shape for an
analytics cluster's driver-side endpoint: each request runs a bounded
Spark job with page-sized limits and broadcast-probe lookups). The
HANDLER semantics — scoring, paging, facets, hydration — are the same
engine functions either way, suite-asserted value-identical.

Stdlib-only by design (http.server + ThreadingHTTPServer): the
container has no web framework, and the surface is nine GET routes.
"""

from __future__ import annotations

import json
import sys
import threading
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from pyspark.sql import functions as F

from ..pipeline import BuiltGraph
from ..plans.graph_queries import (
    graph_stats,
    incoming_edges,
    search_nodes,
)


def outgoing_edges(
    graph: BuiltGraph, node_id: str, page: int = 0, size: int = 20,
    edge_type: str | None = None,
):
    """Q8 mirror of incoming_edges (GrebiApi.java:129-176): the edges
    FROM a node, hydrated with the target node's header."""
    e = graph.edges.filter(F.col("from_id") == node_id)
    if edge_type:
        e = e.filter(F.col("edge_type") == edge_type)
    to_meta = graph.nodes.select(
        F.col("node_id").alias("to_id"),
        F.col("names").alias("to_names"),
        F.col("types").alias("to_types"),
    )
    return (
        e.join(to_meta, "to_id", "left")
        .select("edge_id", "edge_type", "to_id", "to_names", "to_types", "datasources")
        .orderBy("edge_type", "to_id", "edge_id")
        .offset(page * size)
        .limit(size)
    )


def suggest(graph: BuiltGraph, q: str, size: int = 10):
    """Autocomplete over node names (GrebiApi.java:228 → the Solr
    autocomplete core the engine exports via sinks/solr_jsonl):
    case-insensitive prefix on any name, shortest-first like the
    reference's suggester ranking."""
    ql = (q or "").lower()
    return (
        graph.nodes.select(F.explode("names").alias("name"))
        .filter(F.lower(F.col("name")).startswith(ql))
        .distinct()
        .orderBy(F.length("name"), "name")
        .limit(size)
    )


def node_document(graph: BuiltGraph, node_id: str) -> dict | None:
    """The full node document (GrebiApi.java:69-80's Solr lookup):
    header + every property as key -> [values]."""
    hdr = graph.nodes.filter(F.col("node_id") == node_id).collect()
    if not hdr:
        return None
    h = hdr[0].asDict()
    props = (
        graph.merged.filter(F.col("node_id") == node_id)
        .groupBy("prop_key")
        .agg(F.array_sort(F.collect_set("value")).alias("values"))
        .collect()
    )
    doc = {
        "grebi:nodeId": node_id,
        "grebi:datasources": list(h.get("datasources") or []),
        "grebi:type": list(h.get("types") or []),
        "grebi:name": list(h.get("names") or []),
    }
    for r in props:
        doc.setdefault(r["prop_key"], list(r["values"]))
    return doc


def resolve_documents(graph: BuiltGraph, alias_id: str) -> list[dict]:
    """DataFrame-served twin of the KV resolve path, SAME response
    shape: the stored JSON documents ({node_id, subgraph, properties}
    for nodes, the edge row for edge ids), built from the exact
    kv_node_table/kv_edge_table serializers — so /resolve clients see
    one schema whether or not the subgraph has a KV store configured."""
    from ..sinks.kv import kv_edge_table, kv_node_table

    ids = (
        graph.nodes.filter(
            (F.col("node_id") == alias_id)
            | F.array_contains("source_ids", alias_id)
        ).select("node_id")
    )
    docs = [
        json.loads(r["json"])
        for r in kv_node_table(
            graph.merged.join(F.broadcast(ids), "node_id", "left_semi")
        ).collect()
    ]
    if not docs:  # maybe an edge id — the KV store serves those too
        docs = [
            json.loads(r["json"])
            for r in kv_edge_table(
                graph.edges.filter(F.col("edge_id") == alias_id)
            ).collect()
        ]
    return docs


def summary_document(subgraph: str, graph: BuiltGraph) -> dict:
    """The per-subgraph summary JSON the reference's summary service
    serves (GrebiSummarySvc.java:23-38) — rendered by the J4 exporter
    (operators.index.summary_json), so route and export artifact can
    never drift apart."""
    from ..operators.index import summary_json

    return summary_json(graph.index, subgraph)


# the largest page any paged route serves; a larger ``size`` is cut to it
MAX_PAGE_SIZE = 100
# Spark's OFFSET/LIMIT take 32-bit ints
_MAX_ROW = 2**31 - 1


class BadRequest(ValueError):
    """A client error, answered with 400 and this message."""


def _paging(query: dict[str, list[str]]) -> tuple[int, int]:
    """``(page, size)`` from the query string: non-negative integers,
    ``size`` capped at ``MAX_PAGE_SIZE``."""
    got = []
    for key, default in (("page", "0"), ("size", "10")):
        raw = (query.get(key) or [default])[0]
        try:
            value = int(raw)
        except ValueError:
            value = -1
        if value < 0:
            raise BadRequest(f"{key} must be a non-negative integer")
        got.append(value)
    page, size = got[0], min(got[1], MAX_PAGE_SIZE)
    if (page + 1) * size > _MAX_ROW:
        raise BadRequest("page * size is out of range")
    return page, size


def _rows(df) -> list[dict]:
    return [r.asDict(recursive=True) for r in df.collect()]


def _page_envelope(rows: list[dict], page: int, size: int) -> dict:
    # GrebiFacetedResultsPage's shape: elements + paging echo
    return {"page": page, "numElements": len(rows), "elements": rows}


class GrebiApiServer:
    """Serve one or more built graphs. ``port=0`` binds an ephemeral
    port (exposed as ``.port`` after ``start()``)."""

    def __init__(
        self,
        graphs: dict[str, BuiltGraph],
        host: str = "127.0.0.1",
        port: int = 0,
        kv_stores: dict[str, str] | None = None,
        solr_cores: dict[str, str] | None = None,
    ):
        """``kv_stores`` maps subgraph name → a sqlite store built by
        ``sinks.kv.build_kv_store``. When present for a subgraph, the
        resolve route serves from PURE point reads against that store
        (the reference's resolver-service shape: RocksDB multiGet, no
        query engine on the hot path) and edge pages hydrate each
        edge's stored JSON from it — the production serving wiring the
        module docstring promises, exercised behind this flag.

        ``solr_cores`` maps subgraph name → an executed search-core root
        (``sinks.solr_jsonl.build_solr_core`` / ``refresh_solr_core``).
        When present, /search and /suggest serve from the MAINTAINED
        core's live documents — the reference's actual read path
        (GrebiApi.java:185-227 queries Solr, the incrementally refreshed
        store, never the graph build): a maintenance fold +
        ``refresh_solr_core`` changes what /search returns with no frame
        rebuild. Responses are value-identical to the frame-backed
        handlers (suite-asserted); subgraphs without a core fall back to
        the frames."""
        self.graphs = graphs
        self.kv_stores = kv_stores or {}
        self.solr_cores = solr_cores or {}
        self._host, self._port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    def _core_docs(self, subgraph: str):
        """Live documents of the subgraph's maintained core, re-resolved
        per request so a refresh between requests is immediately
        visible (the segment list is the core's publication point)."""
        root = self.solr_cores.get(subgraph)
        if not root:
            return None
        from ..sinks.solr_jsonl import read_solr_core

        spark = self.graphs[subgraph].nodes.sparkSession
        return read_solr_core(spark, root)

    # --- routing -----------------------------------------------------

    def handle(self, path: str, query: dict[str, list[str]]):
        """Route one GET; returns (status, json-serialisable body)."""
        g1 = lambda k, d=None: (query.get(k) or [d])[0]  # noqa: E731
        parts = [unquote(p) for p in path.strip("/").split("/")]
        if parts[:2] != ["api", "v1"]:
            return 404, {"error": "not found"}
        rest = parts[2:]
        if rest == ["stats"]:
            return 200, {
                s: {r["entity"]: r["n"] for r in _rows(graph_stats(g))}
                for s, g in self.graphs.items()
            }
        if rest == ["subgraphs"]:
            return 200, sorted(self.graphs)
        if rest == ["summaries"]:
            # the summary service's `/` shape: every subgraph's summary
            # document keyed by name (GrebiSummarySvc.java:34-38)
            return 200, {
                s: summary_document(s, g) for s, g in self.graphs.items()
            }
        if rest == ["collections"]:
            # reference: configured collections of datasources; serve the
            # datasource universe per subgraph
            return 200, {
                s: sorted(
                    r["d"]
                    for r in _rows(
                        g.nodes.select(
                            F.explode("datasources").alias("d")
                        ).distinct()
                    )
                )
                for s, g in self.graphs.items()
            }
        if len(rest) >= 2 and rest[0] == "subgraphs":
            g = self.graphs.get(rest[1])
            if g is None:
                return 404, {"error": f"no subgraph {rest[1]!r}"}
            tail = rest[2:]
            if not tail:
                return 200, {r["entity"]: r["n"] for r in _rows(graph_stats(g))}
            if tail == ["summary"]:
                return 200, summary_document(rest[1], g)
            if tail == ["search"]:
                page, size = _paging(query)
                # every non-reserved query param is a WHOLE_FIELD filter
                # (GrebiApi.java:199-211); a leading "-" negates it, and
                # includeObsoleteEntries drops the default obsolete
                # exclusion (GrebiApi.java:198's -ols:isObsolete)
                reserved = {
                    "q", "page", "size", "exactMatch",
                    "includeObsoleteEntries", "lang", "facet", "type",
                    "rank",
                }
                filters = tuple(
                    (k.lstrip("-"), tuple(vs), k.startswith("-"))
                    for k, vs in query.items()
                    if k not in reserved
                )
                # one kwargs dict feeds BOTH read paths, so the
                # value-identity contract between them cannot drift on
                # a parameter change that misses one branch
                kw = dict(
                    page=page,
                    size=size,
                    type_filter=g1("type"),
                    facet_fields=tuple(query.get("facet", [])),
                    filters=filters,
                    exclude_obsolete=g1("includeObsoleteEntries", "false")
                    != "true",
                )
                core_docs = self._core_docs(rest[1])
                if core_docs is not None:
                    # rank=bm25 serves Lucene's actual relevance model
                    # (Okapi BM25 over the live core's names), scored
                    # from the core's STORED postings index (index_root)
                    # — no per-request corpus tokenize; default stays
                    # the id/name boost ladder. Both share the same
                    # filter/facet semantics (_apply_core_filters).
                    from ..sinks.solr_jsonl import (
                        search_core_docs,
                        search_core_docs_bm25,
                    )

                    if g1("rank") == "bm25":
                        page_df, facets = search_core_docs_bm25(
                            core_docs,
                            g1("q", ""),
                            index_root=self.solr_cores.get(rest[1]),
                            **kw,
                        )
                    else:
                        page_df, facets = search_core_docs(
                            core_docs, g1("q", ""), **kw
                        )
                else:
                    page_df, facets = search_nodes(g, g1("q", ""), **kw)
                body = _page_envelope(_rows(page_df), page, size)
                if facets:
                    body["facetFieldsToCounts"] = {
                        f: {r["value"]: r["count"] for r in _rows(df)}
                        for f, df in facets.items()
                    }
                return 200, body
            if tail == ["suggest"]:
                core_docs = self._core_docs(rest[1])
                if core_docs is not None:
                    from ..sinks.solr_jsonl import suggest_core_docs

                    return 200, [
                        r["name"]
                        for r in _rows(suggest_core_docs(core_docs, g1("q", "")))
                    ]
                return 200, [r["name"] for r in _rows(suggest(g, g1("q", "")))]
            if len(tail) == 2 and tail[0] == "resolve":
                kv = self.kv_stores.get(rest[1])
                if kv:
                    from ..sinks.kv import kv_store_get

                    got = kv_store_get(kv, [tail[1]])
                    return 200, [
                        json.loads(v) for v in got.values()
                    ]
                return 200, resolve_documents(g, tail[1])
            if len(tail) >= 2 and tail[0] == "nodes":
                node_id = tail[1]
                if len(tail) == 2:
                    doc = node_document(g, node_id)
                    return (200, doc) if doc else (404, {"error": "no such node"})
                page, size = _paging(query)
                if tail[2] == "incoming_edges":
                    rows = _rows(
                        incoming_edges(g, node_id, page=page, size=size,
                                       edge_type=g1("type"))
                    )
                    self._hydrate_edges(rest[1], rows)
                    return 200, _page_envelope(rows, page, size)
                if tail[2] == "outgoing_edges":
                    rows = _rows(
                        outgoing_edges(g, node_id, page=page, size=size,
                                       edge_type=g1("type"))
                    )
                    self._hydrate_edges(rest[1], rows)
                    return 200, _page_envelope(rows, page, size)
        return 404, {"error": "not found"}

    def _hydrate_edges(self, subgraph: str, rows: list[dict]) -> None:
        """Edge-page hydration from the built KV: each page row gains
        the edge's stored JSON document (``edge`` key), a multiGet of
        page-size ids — the reference hydrates edge pages from its KV
        build the same way (nextflow/01_create_subgraph.nf:309-312)."""
        kv = self.kv_stores.get(subgraph)
        if not kv or not rows:
            return
        from ..sinks.kv import kv_store_get

        got = kv_store_get(kv, [r["edge_id"] for r in rows])
        for r in rows:
            doc = got.get(r["edge_id"])
            if doc is not None:
                r["edge"] = json.loads(doc)

    # --- server lifecycle --------------------------------------------

    def start(self) -> "GrebiApiServer":
        api = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib naming)
                u = urlparse(self.path)
                try:
                    status, body = api.handle(u.path, parse_qs(u.query))
                except BadRequest as exc:
                    status, body = 400, {"error": str(exc)}
                except Exception:
                    # the exception text stays in the server's log: it
                    # can carry paths and plan fragments
                    traceback.print_exc(file=sys.stderr)
                    status, body = 500, {"error": "internal server error"}
                data = json.dumps(body).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

            def log_message(self, *a):  # quiet
                pass

        self._httpd = ThreadingHTTPServer((self._host, self._port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
