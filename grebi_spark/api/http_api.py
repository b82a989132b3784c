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

Scope note: like the reference, which serves from its RocksDB and Solr
builds and never from the ETL engine, every store-backed route reads
the subgraph's built stores with plain sqlite reads — no Spark job runs
on the request path. Node pages, edge pages and /resolve read the KV
store (``sinks.kv.build_kv_store``); /search (boost ladder or
``rank=bm25``) and /suggest read the executed search core
(``sinks.solr_jsonl.build_solr_core``). Rebuilding either store swaps a
new file onto its path, so a maintenance verb shows on the next request
without restarting the server. Each route has that one
read path; the frame implementations in ``plans.graph_queries`` are the
oracles the suite checks the stores against. /stats, /collections and
the summary routes aggregate the built frames.

Stdlib-only by design (http.server + ThreadingHTTPServer): the
container has no web framework, and the surface is a dozen GET routes.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import traceback
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, unquote, urlparse

from ..pipeline import BuiltGraph
from ..plans.graph_queries import graph_datasources, graph_stats
from ..sinks import kv as kv_store
from ..sinks import solr_jsonl as search_core


def summary_document(subgraph: str, graph: BuiltGraph) -> dict:
    """The per-subgraph summary JSON the reference's summary service
    serves (GrebiSummarySvc.java:23-38) — rendered by the J4 exporter
    (operators.index.summary_json), so route and export artifact can
    never drift apart."""
    from ..operators.index import summary_json

    return summary_json(graph.index, subgraph)


# the largest page any paged route serves; a larger ``size`` is cut to it
MAX_PAGE_SIZE = 100
# the largest row offset a page may start at (a 32-bit row number)
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
    """Serve one or more built graphs from their stores. ``port=0``
    binds an ephemeral port (exposed as ``.port`` after ``start()``)."""

    def __init__(
        self,
        graphs: dict[str, BuiltGraph],
        host: str = "127.0.0.1",
        port: int = 0,
        kv_stores: dict[str, str] | None = None,
        solr_cores: dict[str, str] | None = None,
    ):
        """``kv_stores`` maps every subgraph name → its sqlite store,
        built with edges by ``sinks.kv.build_kv_store``: /resolve, node
        pages and edge pages read it (the reference's resolver-service
        shape: RocksDB point reads, no query engine on the hot path).

        ``solr_cores`` maps every subgraph name → its executed search
        core root (``sinks.solr_jsonl.build_solr_core``): /search and
        /suggest read the core's serving file, the reference's actual
        read path (GrebiApi.java:185-227 queries Solr, never the graph
        build) — a maintenance verb followed by a rebuild of both stores
        changes what every store-backed route returns with no frame
        rebuild. A subgraph without both stores raises ValueError."""
        self.graphs = graphs
        self.kv_stores = kv_stores or {}
        self.solr_cores = solr_cores or {}
        for name in graphs:
            kv, core = self.kv_stores.get(name), self.solr_cores.get(name)
            if not kv or not os.path.isfile(kv):
                raise ValueError(f"subgraph {name!r} has no KV store")
            if not core or not os.path.isfile(search_core.core_db_path(core)):
                raise ValueError(f"subgraph {name!r} has no search core")
        self._host, self._port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

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
                s: sorted(r["d"] for r in _rows(graph_datasources(g)))
                for s, g in self.graphs.items()
            }
        if len(rest) >= 2 and rest[0] == "subgraphs":
            subgraph = rest[1]
            g = self.graphs.get(subgraph)
            if g is None:
                return 404, {"error": f"no subgraph {subgraph!r}"}
            kv, core = self.kv_stores[subgraph], self.solr_cores[subgraph]
            tail = rest[2:]
            if not tail:
                return 200, {r["entity"]: r["n"] for r in _rows(graph_stats(g))}
            if tail == ["summary"]:
                return 200, summary_document(subgraph, g)
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
                # rank=bm25 serves Lucene's relevance model (Okapi BM25
                # over the live core's names); the default is the
                # id/name boost ladder. Both share the filter semantics.
                search = (
                    search_core.search_core_docs_bm25
                    if g1("rank") == "bm25"
                    else search_core.search_core_docs
                )
                rows, facets = search(
                    core,
                    g1("q", ""),
                    page=page,
                    size=size,
                    type_filter=g1("type"),
                    facet_fields=tuple(query.get("facet", [])),
                    filters=filters,
                    exclude_obsolete=g1("includeObsoleteEntries", "false")
                    != "true",
                )
                body = _page_envelope(rows, page, size)
                if facets:
                    body["facetFieldsToCounts"] = facets
                return 200, body
            if tail == ["suggest"]:
                return 200, search_core.suggest_core_docs(core, g1("q", ""))
            if len(tail) == 2 and tail[0] == "resolve":
                got = kv_store.kv_store_get(kv, [tail[1]])
                return 200, [json.loads(v) for v in got.values()]
            if len(tail) >= 2 and tail[0] == "nodes":
                node_id = tail[1]
                if len(tail) == 2:
                    doc = kv_store.kv_node_document(kv, node_id)
                    return (200, doc) if doc else (404, {"error": "no such node"})
                direction = {
                    "incoming_edges": "incoming", "outgoing_edges": "outgoing"
                }.get(tail[2])
                if len(tail) == 3 and direction:
                    page, size = _paging(query)
                    rows = kv_store.kv_edge_page(
                        kv, node_id, direction, page=page, size=size,
                        edge_type=g1("type"),
                    )
                    return 200, _page_envelope(rows, page, size)
        return 404, {"error": "not found"}

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
