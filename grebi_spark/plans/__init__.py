"""Query surface over a built graph.

``graph_queries`` — the reference's notebook/REST queries (pattern
matches, IC scores, search with facets, edge pages, subgraphAll).
``cypher`` / ``cypher_write`` — the Cypher subset the reference's
queries/*.cypher and notebooks use, read and SET/DELETE.
``closure``  — variable-length paths / transitive closure (Q4).
``runner``   — stage 08: run a directory of query files.
``parity``   — the pipeline itself (ingest → merge → materialise →
equivalence groups, Cypher, KV, search, incremental verbs) run on the
relational harness tables, so every operator is hash-checked against a
plain-SQL DuckDB oracle.
"""
