"""One-call release build — the complete serving handoff in one
directory.

The reference's DAG ends in exactly this set of artifacts per subgraph
release: the Neo4j bulk-import CSVs + the `neo4j-admin database import
full` command + index DDL (07_create_db/neo4j/neo4j_import.dockersh,
create_indexes.cypher), the Solr JSONL cores + import request plan
(07_create_db/solr/solr_import.dockerpy), the id→object KV store
(07_create_db/rocksdb/grebi_make_rocks), and the per-subgraph
summary.json (04_index/grebi_index/src/main.rs:214-232) — but spread
across Nextflow processes and Slurm scripts. ``make_release`` composes
the already-tested sinks into that directory, plus a release manifest
(metadata.json) recording counts and layout, so "run the engine, hand
the directory to serving" is one call.

Scale shape: nothing here adds a computation — every artifact is one
of the existing sink writes over the built graph's frames (each
individually plan-gated/oracle-checked); the summary and manifest are
the only driver-side collects, both bounded by distinct prop/type
counts, never by data size.

Maintenance has one writer: after a maintenance verb
(``incremental.add_datasource`` and friends) returns a new graph,
``make_release`` on that graph into the same directory rewrites every
artifact, and the executed stores are swapped in atomically under a
running server.
"""

from __future__ import annotations

import json
import os

from .operators.index import summary_json
from .pipeline import BuiltGraph
from .sinks.kv import build_kv_store
from .sinks.neo4j_csv import (
    INDEX_STATEMENTS,
    import_command,
    node_prop_universe,
    write_neo4j_csvs,
)
from .sinks.solr_jsonl import (
    build_solr_core,
    solr_import_requests,
    solr_schema_fields,
    write_solr_jsonl,
)


def make_release(
    graph: BuiltGraph,
    out_dir: str,
    name: str = "graph",
    kv_shards: int = 4,
) -> dict:
    """Write the full serving release under ``out_dir`` and return its
    manifest::

        out_dir/
          neo4j/{nodes,edges,id_nodes,id_edges}/part-*.csv
          neo4j/import_command.sh       # exact neo4j-admin argv
          neo4j/create_indexes.cypher   # the reference's index DDL
          solr/{nodes,edges,autocomplete}/part-*   (JSONL docs)
          solr/schema.json              # add-field requests
          solr/import_requests.json     # the bulk-load request plan
          solr/core/                    # EXECUTED search core
          kv/store.sqlite               # executed id→object store
          summary.json                  # the summary service's document
          metadata.json                 # counts + layout (the manifest)

    A release is maintained by running ``make_release`` again, on the
    graph a maintenance verb returned, into the same ``out_dir``: the
    executed halves (KV store + search core) are built beside their
    serving files and swapped in with ``os.replace``, so a server over
    this directory (``release_server``) answers from the new graph on
    its next request. The manifest's ``refreshes`` counts those
    rebuilds.
    """
    neo4j_dir = os.path.join(out_dir, "neo4j")
    solr_dir = os.path.join(out_dir, "solr")
    kv_dir = os.path.join(out_dir, "kv")
    os.makedirs(kv_dir, exist_ok=True)

    write_neo4j_csvs(graph.merged, graph.nodes, graph.edges, neo4j_dir)
    cmd = import_command(neo4j_dir)
    import shlex
    import stat

    sh_path = os.path.join(neo4j_dir, "import_command.sh")
    with open(sh_path, "w") as fh:
        fh.write("#!/bin/sh\nexec " + " ".join(shlex.quote(a) for a in cmd) + "\n")
    os.chmod(sh_path, os.stat(sh_path).st_mode | stat.S_IXUSR | stat.S_IXGRP)
    with open(os.path.join(neo4j_dir, "create_indexes.cypher"), "w") as fh:
        fh.write(";\n".join(INDEX_STATEMENTS) + ";\n")

    write_solr_jsonl(
        graph.merged, graph.nodes, graph.edges, graph.index.names, solr_dir
    )
    with open(os.path.join(solr_dir, "schema.json"), "w") as fh:
        json.dump(solr_schema_fields(node_prop_universe(graph.merged)), fh)
    reqs = {
        core: solr_import_requests(solr_dir, core)
        for core in ("grebi_nodes", "grebi_edges", "grebi_autocomplete")
    }
    with open(os.path.join(solr_dir, "import_requests.json"), "w") as fh:
        json.dump(reqs, fh)

    build_solr_core(
        graph.merged, graph.nodes, graph.edges, os.path.join(solr_dir, "core")
    )

    db_path = os.path.join(kv_dir, "store.sqlite")
    n_kv = build_kv_store(
        graph.merged, graph.nodes, db_path, shards=kv_shards, edges=graph.edges
    )

    summary = summary_json(graph.index, name)
    with open(os.path.join(out_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh)

    meta_path = os.path.join(out_dir, "metadata.json")
    refreshes = 0
    if os.path.exists(meta_path):  # a rebuild of an existing release
        with open(meta_path) as fh:
            refreshes = json.load(fh).get("refreshes", 0) + 1
    manifest = {
        "subgraph_name": name,
        "n_nodes": graph.nodes.count(),
        "n_edges": graph.edges.count(),
        "n_kv_rows": n_kv,
        "n_prop_keys": len(summary["entity_props"]),
        "n_types": len(summary["types"]),
        "refreshes": refreshes,
        "neo4j_import_argv": cmd,
        "solr_import_requests": {k: len(v) for k, v in reqs.items()},
        "artifacts": _artifact_listing(out_dir),
    }
    with open(meta_path, "w") as fh:
        json.dump(manifest, fh, indent=1)
    return manifest


def _artifact_listing(out_dir: str) -> list[str]:
    return sorted(
        {
            os.path.relpath(os.path.join(dp, f), out_dir)
            for dp, _dns, fns in os.walk(out_dir)
            for f in fns
            if not f.endswith((".crc", "_SUCCESS"))
        }
        | {"metadata.json"}  # the manifest lists itself
    )


def make_multi_release(
    spark,
    subgraphs: dict[str, dict],
    out_dir: str,
    kv_shards: int = 4,
) -> dict:
    """Multi-subgraph release orchestration — the reference's top-level
    driver loop (scripts/dataload.py:13-16 iterates GREBI_CONFIG's
    ``subgraphs`` and launches one build DAG per name) as one call:
    every subgraph builds from its own datasource configs + engine
    config into ``out_dir/<name>/`` (a full ``make_release`` each), and
    a root ``metadata.json`` records the subgraph universe — the
    handoff a multi-graph service map loads.

    ``subgraphs`` maps name → spec with:
      * ``config``: the subgraph's SubgraphConfig;
      * ``datasource_configs``: datasource YAML paths (the reference's
        configs/datasource_configs shape, run through S13's driver); and/or
      * ``sources``: already-ingested long-row DataFrames.

    Returns {"metadata", "manifests", "graphs"} — feed ``graphs`` +
    ``out_dir`` to ``release_server`` to serve every subgraph from its
    own release artifacts."""
    from .pipeline import build_graph
    from .sources.datasources import load_datasource_config, run_ingest_job

    os.makedirs(out_dir, exist_ok=True)
    releases, graphs = {}, {}
    for name in sorted(subgraphs):
        spec = subgraphs[name]
        sources = list(spec.get("sources") or [])
        for cfg_path in spec.get("datasource_configs", ()):
            for job in load_datasource_config(cfg_path):
                sources.append(run_ingest_job(spark, job, subgraph=name))
        graph = build_graph(sources, spec["config"])
        releases[name] = make_release(
            graph, os.path.join(out_dir, name), name=name, kv_shards=kv_shards
        )
        graphs[name] = graph
    metadata = {
        "subgraphs": sorted(subgraphs),
        "releases": {
            n: {"n_nodes": m["n_nodes"], "n_edges": m["n_edges"]}
            for n, m in releases.items()
        },
    }
    with open(os.path.join(out_dir, "metadata.json"), "w") as fh:
        json.dump(metadata, fh, indent=1)
    return {"metadata": metadata, "manifests": releases, "graphs": graphs}


def release_server(graphs: dict, out_dir: str, **kwargs):
    """The facade over a (multi-)release root: each subgraph's /search
    and /suggest serve its executed search core, /resolve, node and edge
    pages its executed KV store — one service map across every
    subgraph (``/summaries`` aggregates them, GrebiSummarySvc.java:34).
    A subgraph whose release lacks either store raises ValueError.
    Call ``.start()`` on the result."""
    from .api.http_api import GrebiApiServer

    return GrebiApiServer(
        graphs,
        kv_stores={
            name: os.path.join(out_dir, name, "kv", "store.sqlite")
            for name in graphs
        },
        solr_cores={
            name: os.path.join(out_dir, name, "solr", "core") for name in graphs
        },
        **kwargs,
    )
