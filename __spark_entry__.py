"""Query registry of the package: the entry points an outside harness calls.

``entry(spark)`` — the merged-node profile of the star graph built by
the GrEBI pipeline operators (``plans.parity.graph_merge_nodes``) on
sf0.001.
``queries()`` — the GrEBI-surface parity queries (ingest, merge,
groups, edges, Neo4j pivot, Cypher, KV, search, incremental verbs) plus
the transitive-closure descendant counts, one callable per query.
``oracle_sql()`` — the DuckDB SQL each is hash-checked against.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from grebi_spark.plans import closure as _closure
from grebi_spark.plans import parity as _parity

_MODULES = (_parity, _closure)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on the sf0.001 harness tables: melt → assign →
    merge, then per merged node its property count and provenance."""
    return _parity.graph_merge_nodes(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _MODULES:
        out.update(mod.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _MODULES:
        out.update(mod.ORACLES)
    return out


def skipped() -> dict[str, str]:
    """Queries unregistered by an environment gate, with the reason.
    No retained query is gated; the function stays for callers that
    use it."""
    return {}
