"""grebi_spark — the GrEBI knowledge-graph pipeline in PySpark.

A from-scratch rebuild of EBISPOT/GrEBI (a Rust/Nextflow batch ETL
pipeline plus Neo4j, Solr and RocksDB serving stores) re-expressed as
declarative Spark DataFrame transformations: ingest sources, build
equivalence cliques, merge them, index, materialise edges, export to the
serving stores, serve the REST routes, and fold new datasources into a
built graph.

Package layout
--------------
- ``session``      SparkSession builder (local threads and heap sized to
                   the machine unless set by env)
- ``config``       SubgraphConfig — identifier props, equivalence seeds,
                   excludes
- ``schema``       canonical long-form (EAV) entity schema + helpers
- ``sources``      scans: TSV, JSONL transforms, KGX, SSSOM, RDF, OLS,
                   GWAS, Reactome, XML, SQLite, and the ``grebi_jsonl``
                   Python data source (batch + stream)
- ``operators``    pipeline stages: normalise, identifiers, groups
                   (connected components), assign_ids, merge, index,
                   materialise
- ``pipeline``     ``build_graph``: the stages wired into one build
- ``incremental``  add / update / remove a datasource on a built graph,
                   versioned state snapshots
- ``sinks``        Neo4j CSV pivot, Solr JSONL + executed search core,
                   sqlite key-value store
- ``release``      build + export + serve a release directory
- ``api``          the REST routes over a built graph and its stores
- ``plans``        query surface: graph queries, Cypher read/write,
                   transitive closure, query-file runner, and the DuckDB
                   parity queries the test suite hash-checks
- ``fsutil``       versioned-directory publication and locking
"""

__version__ = "0.1.0"
