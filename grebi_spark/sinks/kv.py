"""K6 — the id→object resolution table (RocksDB replacement).

Reference: 07_create_db/rocksdb/grebi_make_rocks/src/main.rs:32-78 — key =
nodeId/edgeId, value = the whole JSON line; bulk-loaded then compacted.

Spark design: a parquet table sorted+bucketed by id. Point lookups at
serve time either (a) hit this table with a pushed-down id predicate
(parquet min/max pruning on the sorted key makes it a near-point read),
or (b) bulk-load it into any external KV store. ``resolve`` implements
the resolver-service semantics (multiGet incl. alias resolution) as one
broadcast join.

The served store is (b) executed: ``build_kv_store`` bulk-loads a sqlite
file that also holds the node header and the indexed edge endpoints, and
the API reads /resolve, node pages and edge pages from it with plain
sqlite reads (``kv_store_get``, ``kv_node_document``, ``kv_edge_page``).
"""

from __future__ import annotations

import json
import os
import sqlite3
import threading
from contextlib import closing
from urllib.parse import quote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.merge import merged_to_wide


def kv_node_table(merged: DataFrame) -> DataFrame:
    """(id, json) — one row per node, value = full merged-node JSON."""
    wide = merged_to_wide(merged)
    return wide.select(
        F.col("node_id").alias("id"),
        F.to_json(F.struct("node_id", "subgraph", "properties")).alias("json"),
    )


def kv_alias_table(node_meta: DataFrame) -> DataFrame:
    """(alias, node_id) — every sourceId resolves to its merged node
    (the Id-node star in Neo4j / resolver-service lookup, Q5)."""
    return node_meta.select(
        F.explode("source_ids").alias("alias"), "node_id"
    ).distinct()


def kv_node_header(node_meta: DataFrame) -> DataFrame:
    """(node_id, names, types, datasources) — the node header the
    serving store answers node pages and edge-page endpoints from, each
    array as its JSON text."""
    return node_meta.select(
        "node_id",
        *[F.to_json(c).alias(c) for c in ("names", "types", "datasources")],
    )


def kv_edge_table(edges: DataFrame) -> DataFrame:
    """(id, edge_type, from_id, to_id, json) — one row per materialised
    edge, value = the full edge JSON, with the endpoint columns an edge
    page is range-scanned by. The reference bulk-loads edges next to
    nodes into the same store (nextflow/01_create_subgraph.nf:309-312
    loads the edge summary alongside; grebi_shared/src/lib.rs:26-49
    keys both by their id line), so the resolver can hydrate an edge id
    without touching the graph DB."""
    return edges.select(
        F.col("edge_id").alias("id"),
        "edge_type",
        "from_id",
        "to_id",
        F.to_json(
            F.struct(
                "edge_id", "edge_type", "subgraph", "from_id", "to_id", "datasources"
            )
        ).alias("json"),
    )


def write_kv(
    merged: DataFrame,
    node_meta: DataFrame,
    out_dir: str,
    buckets: int = 64,
    edges: DataFrame | None = None,
) -> None:
    """Persist sorted-by-key for pruning-friendly point reads."""
    kv_node_table(merged).repartitionByRange(buckets, "id").sortWithinPartitions(
        "id"
    ).write.mode("overwrite").parquet(f"{out_dir}/nodes_kv")
    kv_alias_table(node_meta).repartitionByRange(buckets, "alias").sortWithinPartitions(
        "alias"
    ).write.mode("overwrite").parquet(f"{out_dir}/alias_kv")
    if edges is not None:
        kv_edge_table(edges).repartitionByRange(buckets, "id").sortWithinPartitions(
            "id"
        ).write.mode("overwrite").parquet(f"{out_dir}/edges_kv")


def resolve(
    spark: SparkSession, ids: list[str], kv_dir: str
) -> DataFrame:
    """multiGet with alias resolution: ids may be any source id, node
    id, or (when the store was written with edges) an edge id — edge
    hits come back with alias == node_id == the edge id, same shape.

    The edges_kv probe goes through the Spark reader (AnalysisException
    on absence), not a driver-local ``os.path`` check: ``kv_dir`` may be
    any Hadoop-compatible URI (hdfs://, s3a://) that the driver's local
    filesystem cannot see — a local-FS probe would silently skip edge
    resolution on exactly the deployments that need it."""
    probe = spark.createDataFrame([(i,) for i in ids], ["alias"])
    alias_kv = spark.read.parquet(f"{kv_dir}/alias_kv")
    nodes_kv = spark.read.parquet(f"{kv_dir}/nodes_kv")
    resolved = alias_kv.join(F.broadcast(probe), "alias")
    out = resolved.join(nodes_kv, resolved.node_id == nodes_kv.id).select(
        "alias", "node_id", "json"
    )
    try:
        edges_kv = spark.read.parquet(f"{kv_dir}/edges_kv")
    except Exception:  # store written without edges (write_kv edges=None)
        edges_kv = None
    if edges_kv is not None:
        out = out.unionByName(
            edges_kv.join(F.broadcast(probe), edges_kv["id"] == probe["alias"]).select(
                "alias", F.col("id").alias("node_id"), "json"
            )
        )
    return out


# the serving store's tables, each with its columns in shard order
_KV_TABLES = {
    "kv": "id TEXT, json TEXT",
    "alias": "alias TEXT, node_id TEXT",
    "node": "node_id TEXT, names TEXT, types TEXT, datasources TEXT",
    "edge": "id TEXT, edge_type TEXT, from_id TEXT, to_id TEXT, json TEXT",
}
_KV_SCHEMA = (
    "CREATE TABLE kv (id TEXT PRIMARY KEY, json TEXT)",
    "CREATE TABLE alias (alias TEXT, node_id TEXT)",
    "CREATE TABLE node (node_id TEXT PRIMARY KEY, names TEXT, types TEXT,"
    " datasources TEXT)",
    "CREATE TABLE edge (id TEXT PRIMARY KEY, edge_type TEXT, from_id TEXT,"
    " to_id TEXT, json TEXT)",
)
# created after the bulk load: an edge page is one range scan of these
_KV_INDEXES = (
    "CREATE INDEX alias_idx ON alias (alias)",
    "CREATE INDEX edge_in ON edge (to_id, edge_type, from_id, id)",
    "CREATE INDEX edge_out ON edge (from_id, edge_type, to_id, id)",
)


def _write_shards(
    stage: str, tag: str, tables: dict[str, str], df: DataFrame, rows_of=None
) -> None:
    """Executor-side sqlite shard write (the per-ingest-job SST-file
    analogue). Each partition streams into its own shard db under an
    attempt-unique tmp name, atomic-rename on success: a retried or
    speculative attempt can never collide with (or corrupt) a completed
    shard, and the merge only ever sees complete files — same protocol
    as the grebi_jsonl writer. Last completed attempt wins; partition
    content is deterministic, so any winner is correct.

    ``tables`` maps each table of the shard to its column spec;
    ``rows_of(row)`` yields the ``(table, values)`` pairs one input row
    becomes — by default the row itself, into the single table."""
    if rows_of is None:
        (only,) = tables

        def rows_of(r):
            return ((only, tuple(r)),)

    inserts = {
        t: f"INSERT INTO {t} VALUES ({', '.join(['?'] * len(cols.split(',')))})"
        for t, cols in tables.items()
    }

    def write(it):
        import os as _os
        import sqlite3 as sq

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        tmp = f"{stage}/shard-{tag}-{pid:05d}.tmp-{ctx.taskAttemptId()}"
        con = sq.connect(tmp)
        for t, cols in tables.items():
            con.execute(f"CREATE TABLE {t} ({cols})")
        pending = {t: [] for t in tables}
        for r in it:
            for t, values in rows_of(r):
                rows = pending[t]
                rows.append(values)
                if len(rows) >= 4096:
                    con.executemany(inserts[t], rows)
                    rows.clear()
        for t, rows in pending.items():
            con.executemany(inserts[t], rows)
        con.commit()
        con.close()
        _os.replace(tmp, f"{stage}/shard-{tag}-{pid:05d}.sqlite")
        return iter(())

    df.rdd.mapPartitions(write).count()


def _load_shards(con, stage: str, tag: str, tables) -> None:
    """Append every completed ``tag`` shard under ``stage`` to ``con``'s
    tables of the same names. ATTACH is not allowed inside a
    transaction, so each shard is committed before it is detached."""
    import glob

    for f in sorted(glob.glob(f"{stage}/shard-{tag}-*.sqlite")):
        con.execute("ATTACH DATABASE ? AS s", (f,))
        for t in tables:
            con.execute(f"INSERT INTO {t} SELECT * FROM s.{t}")
        con.commit()
        con.execute("DETACH DATABASE s")


def _kv_frames(merged, node_meta, edges, shards: int) -> dict[str, DataFrame]:
    """Each serving table's rows, range-partitioned and sorted by key;
    no ``edge`` rows without ``edges``."""
    frames = {
        "kv": kv_node_table(merged),
        "alias": kv_alias_table(node_meta),
        "node": kv_node_header(node_meta),
    }
    if edges is not None:
        frames["edge"] = kv_edge_table(edges)
    return {
        t: df.repartitionByRange(shards, df.columns[0]).sortWithinPartitions(
            df.columns[0]
        )
        for t, df in frames.items()
    }


def build_kv_store(
    merged: DataFrame,
    node_meta: DataFrame,
    db_path: str,
    shards: int = 8,
    edges: DataFrame | None = None,
) -> int:
    """K6 final mile, EXECUTED: the reference bulk-loads the node KV
    into RocksDB and compacts it (07_create_db/rocksdb/grebi_make_rocks/
    src/main.rs:32-78: key = id, value = the whole JSON line;
    ``prepare_for_bulk_load`` then ``compact_range``). This container
    has no RocksDB, but the stdlib's sqlite3 is the same serving shape —
    an embedded single-file B-tree KV — so the build actually RUNS here,
    not just generates artifacts for an absent binary.

    Besides the id→JSON tables (``kv``, ``alias``, ``edge``) the store
    holds what node and edge pages are served from: the ``node`` header
    table and the ``edge`` table's endpoint columns, indexed
    ``(to_id, edge_type, from_id, id)`` and ``(from_id, edge_type,
    to_id, id)`` — the edge-page order.

    Distributed bulk load, Spark-first: each table is range-partitioned
    and sorted by key, each partition streams its rows into its own
    shard db on the executor (the analogue of per-ingest-job SST files),
    and the driver's compaction pass ATTACHes the shards into ONE
    serving file in key order, indexes it and VACUUMs (compact_range).
    The file is built at ``<db_path>.tmp`` and moved onto ``db_path``
    with ``os.replace``, so rebuilding a served store is a swap: a
    reader opens the old file or the new one, never a missing or
    half-loaded one (``open_store`` reopens on the inode change).
    Local/shared-FS constraint as for every embedded store. Returns the
    number of node rows loaded."""
    import shutil

    os.makedirs(os.path.dirname(db_path) or ".", exist_ok=True)
    stage = f"{db_path}.shards"
    shutil.rmtree(stage, ignore_errors=True)  # incl. stale .tmp-* attempts
    os.makedirs(stage, exist_ok=True)

    frames = _kv_frames(merged, node_meta, edges, shards)
    for table, df in frames.items():
        _write_shards(stage, table, {table: _KV_TABLES[table]}, df)

    # compaction: merge shards in key order into a new file, then swap
    # it onto the serving path (readers hold the old file or the new)
    tmp = f"{db_path}.tmp"
    if os.path.exists(tmp):
        os.remove(tmp)
    with closing(sqlite3.connect(tmp)) as con:
        for ddl in _KV_SCHEMA:
            con.execute(ddl)
        for table in frames:
            _load_shards(con, stage, table, [table])
        for ddl in _KV_INDEXES:
            con.execute(ddl)
        con.commit()
        con.execute("VACUUM")  # the compact_range step
        n = con.execute("SELECT count(*) FROM kv").fetchone()[0]
    os.replace(tmp, db_path)
    shutil.rmtree(stage, ignore_errors=True)  # shards merged; drop them
    return n


# --- the serving read path: pure sqlite reads, no Spark -------------------

_readers = threading.local()


def open_store(path: str) -> sqlite3.Connection:
    """This thread's read-only connection to the sqlite store at
    ``path``. ``mode=ro`` makes a wrong path raise instead of creating
    an empty file. The connection is reopened when the file changes on
    disk (a rebuilt store is swapped in as a new file)."""
    st = os.stat(path)  # FileNotFoundError for a missing store
    key = (st.st_ino, st.st_mtime_ns)
    cons = _readers.__dict__.setdefault("cons", {})
    hit = cons.get(path)
    if hit is not None:
        if hit[0] == key:
            return hit[1]
        hit[1].close()
    con = sqlite3.connect(f"file:{quote(os.path.abspath(path))}?mode=ro", uri=True)
    cons[path] = (key, con)
    return con


def kv_store_get(db_path: str, ids: list[str]) -> dict[str, str]:
    """Serving-side multiGet with alias resolution — the resolver
    service's read path (grebi_resolver_service semantics, same contract
    as ``resolve``) executed as PURE point reads against the built
    store: no Spark session anywhere near the hot path, which is the
    entire reason the reference serves from a KV build."""
    con = open_store(db_path)
    out: dict[str, str] = {}
    for i in ids:
        row = con.execute("SELECT json FROM kv WHERE id = ?", (i,)).fetchone()
        if row is None:
            row = con.execute(
                "SELECT json FROM edge WHERE id = ?", (i,)
            ).fetchone()
        if row is None:
            hit = con.execute(
                "SELECT node_id FROM alias WHERE alias = ? LIMIT 1", (i,)
            ).fetchone()
            if hit:
                row = con.execute(
                    "SELECT json FROM kv WHERE id = ?", (hit[0],)
                ).fetchone()
        if row:
            out[i] = row[0]
    return out


def _json_or_none(text: str | None):
    return None if text is None else json.loads(text)


def kv_node_document(db_path: str, node_id: str) -> dict | None:
    """The full node document (GrebiApi.java:69-80): the header, then
    every stored property as key -> its sorted distinct values (a
    header key is not overwritten by a property of the same name).
    ``None`` when the store has no such node."""
    row = open_store(db_path).execute(
        "SELECT n.datasources, n.types, n.names, kv.json FROM node n"
        " LEFT JOIN kv ON kv.id = n.node_id WHERE n.node_id = ?",
        (node_id,),
    ).fetchone()
    if row is None:
        return None
    datasources, types, names, stored = row
    doc = {
        "grebi:nodeId": node_id,
        "grebi:datasources": _json_or_none(datasources) or [],
        "grebi:type": _json_or_none(types) or [],
        "grebi:name": _json_or_none(names) or [],
    }
    props = json.loads(stored)["properties"] if stored else {}
    for key, values in props.items():
        doc.setdefault(
            key, sorted({v["value"] for v in values if v.get("value") is not None})
        )
    return doc


def kv_edge_page(
    db_path: str,
    node_id: str,
    direction: str,
    page: int = 0,
    size: int = 20,
    edge_type: str | None = None,
) -> list[dict]:
    """One page of a node's ``incoming`` or ``outgoing`` edges
    (GrebiApi.java:81-176) in ``(edge_type, other end, edge_id)`` order,
    each with the other end's names and types and the stored edge
    document (``edge``): one range scan of the edge index, joined to the
    node header."""
    near, far = {"incoming": ("to_id", "from_id"),
                 "outgoing": ("from_id", "to_id")}[direction]
    end = far[:-3]
    where, args = f"e.{near} = ?", [node_id]
    if edge_type:
        where += " AND e.edge_type = ?"
        args.append(edge_type)
    rows = open_store(db_path).execute(
        f"SELECT e.id, e.edge_type, e.{far}, n.names, n.types, e.json"
        f" FROM edge e LEFT JOIN node n ON n.node_id = e.{far}"
        f" WHERE {where} ORDER BY e.edge_type, e.{far}, e.id"
        " LIMIT ? OFFSET ?",
        (*args, size, page * size),
    ).fetchall()
    out = []
    for edge_id, etype, other, names, types, stored in rows:
        edge = json.loads(stored)
        out.append({
            "edge_id": edge_id,
            "edge_type": etype,
            far: other,
            f"{end}_names": _json_or_none(names),
            f"{end}_types": _json_or_none(types),
            "datasources": edge.get("datasources"),
            "edge": edge,
        })
    return out
