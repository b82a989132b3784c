"""Graph maintenance: fold a new datasource into a built graph (add),
retire one (remove), or replace one in place (update), and keep
versioned snapshots of the maintained state.

Each verb is a rebuild from the state's retained rows — the normalised
long rows of every ingested source:

* ``add_datasource`` rebuilds from ``rows ∪ new_rows``;
* ``remove_datasource`` from the rows without that datasource;
* ``update_datasource`` from both.

The new rows are coalesced to ``spark.sql.shuffle.partitions`` and
checkpointed before ``build_graph`` runs on them, so lineage and
partition counts stay flat however many verbs a state has seen. A verb
therefore equals a from-scratch build over the same rows by
construction (asserted by ``tests/test_incremental.py`` and the
``incremental_*`` oracle parity queries, plans/parity.py).

The serving stores follow by rebuilding them from the new graph
(``sinks.kv.build_kv_store``, ``sinks.solr_jsonl.build_solr_core``, or
``release.make_release`` for a whole release directory). Each writes a
temporary file and moves it onto the serving path with ``os.replace``,
so a running server answers from the new graph on its next request.

Why rebuild instead of folding deltas: on the benchmark's corpus a
delta fold ran 243–372 Spark jobs per verb where a rebuild runs ~110,
took 2–4× as long, and ran out of memory in a 2 GB driver by its second
or third verb at 1× and 10× the corpus alike (CHANGES.md,
``scripts_dev/soak_maintain.py``). The reference has the same shape:
any input change re-runs the whole Nextflow DAG.
"""

from __future__ import annotations

import dataclasses
import json
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import SubgraphConfig
from .operators.index import GraphIndex
from .operators.normalise import PrefixMap, normalise_prefixes
from .pipeline import BuiltGraph, build_graph


@dataclass
class GraphState:
    """A built graph plus the retained rows every verb rebuilds from."""

    rows: DataFrame  # normalised long rows, union of every ingested source
    graph: BuiltGraph
    config: SubgraphConfig


def _rebuild(rows: DataFrame, config: SubgraphConfig) -> GraphState:
    """Flatten ``rows`` (coalesce to the shuffle-partition setting, then
    an eager checkpoint) and build the graph over them."""
    nparts = int(rows.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    rows = rows.coalesce(nparts).localCheckpoint()
    return GraphState(rows=rows, graph=build_graph([rows], config), config=config)


def build_graph_stateful(
    ingested: list[DataFrame],
    config: SubgraphConfig,
    prefix_map: PrefixMap | None = None,
) -> GraphState:
    """Full build that also retains the rows the verbs rebuild from."""
    if prefix_map:
        ingested = [normalise_prefixes(df, prefix_map) for df in ingested]
    return _rebuild(reduce(DataFrame.unionByName, ingested), config)


def add_datasource(
    state: GraphState,
    new_rows: DataFrame,
    prefix_map: PrefixMap | None = None,
) -> GraphState:
    """Fold one new datasource's long rows into the graph."""
    if prefix_map:
        new_rows = normalise_prefixes(new_rows, prefix_map)
    return _rebuild(state.rows.unionByName(new_rows), state.config)


def remove_datasource(state: GraphState, datasource: str) -> GraphState:
    """Retire one datasource: its rows leave, so cliques it bridged
    split and entities only it declared vanish."""
    rows = state.rows.filter(F.col("datasource") != datasource)
    return _rebuild(rows, state.config)


def update_datasource(
    state: GraphState,
    datasource: str,
    new_rows: DataFrame,
    prefix_map: PrefixMap | None = None,
) -> GraphState:
    """Replace one datasource's rows — the verb a pipeline runs on every
    refreshed dump: same source name, new rows."""
    if prefix_map:
        new_rows = normalise_prefixes(new_rows, prefix_map)
    rows = state.rows.filter(F.col("datasource") != datasource)
    return _rebuild(rows.unionByName(new_rows), state.config)


# ---------------------------------------------------------------------------
# Durable state: maintenance across sessions. The in-session GraphState is
# backed by localCheckpoint blocks that die with the JVM; a real pipeline
# builds today and folds in a refreshed dump next week, so the maintained
# state must round-trip disk. (The reference has the same shape by
# accident: every Nextflow stage hard-persists its output to NFS.)
# ---------------------------------------------------------------------------

_STATE_FRAMES = (
    "rows",
    "groups",
    "merged",
    "nodes",
    "edges",
    "prop_counts",
    "edge_prop_counts",
    "type_counts",
    "names",
    "ids",
    "display_types",
    "edge_summary",
)


def _state_frames_dict(state: GraphState) -> dict[str, DataFrame]:
    """The durable frames of a GraphState, by frame name."""
    g = state.graph
    return {
        "rows": state.rows,
        "groups": g.groups,
        "merged": g.merged,
        "nodes": g.nodes,
        "edges": g.edges,
        "prop_counts": g.index.prop_counts,
        "edge_prop_counts": g.index.edge_prop_counts,
        "type_counts": g.index.type_counts,
        "names": g.index.names,
        "ids": g.index.ids,
        "display_types": g.display_types,
        "edge_summary": g.edge_summary,
    }


def _config_from_raw(raw: dict) -> SubgraphConfig:
    return SubgraphConfig(
        name=raw["name"],
        identifier_props=tuple(raw["identifier_props"]),
        additional_equivalence_groups=tuple(
            tuple(g) for g in raw["additional_equivalence_groups"]
        ),
        type_superclasses=tuple(raw["type_superclasses"]),
        exclude_props=tuple(raw["exclude_props"]),
        exclude_edges=tuple(raw["exclude_edges"]),
        exclude_self_referential_edges=tuple(
            raw["exclude_self_referential_edges"]
        ),
    )


def save_state(state: GraphState, path: str) -> None:
    """Persist the maintained state as flat Parquet tables under
    ``path``: one directory per frame plus the config as JSON.

    Not transactional across frames: a crash mid-save leaves a mixed
    snapshot. ``save_state_version`` writes each snapshot to a fresh
    version directory and publishes it by switching a pointer."""
    spark = state.rows.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for name, df in _state_frames_dict(state).items():
        df.coalesce(nparts).write.mode("overwrite").parquet(f"{path}/{name}")
    cfg = json.dumps(dataclasses.asdict(state.config))
    spark.createDataFrame([(cfg,)], ["config_json"]).coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/config")


def load_state(spark, path: str) -> GraphState:
    """Reload a ``save_state`` directory into a maintenance-ready
    GraphState: every frame becomes a plain Parquet scan."""
    raw = json.loads(spark.read.json(f"{path}/config").collect()[0]["config_json"])
    rd = {n: spark.read.parquet(f"{path}/{n}") for n in _STATE_FRAMES}
    index = GraphIndex(
        prop_counts=rd["prop_counts"],
        edge_prop_counts=rd["edge_prop_counts"],
        type_counts=rd["type_counts"],
        names=rd["names"],
        ids=rd["ids"],
        metadata=rd["nodes"],
    )
    graph = BuiltGraph(
        groups=rd["groups"],
        merged=rd["merged"],
        nodes=rd["nodes"],
        edges=rd["edges"],
        index=index,
        display_types=rd["display_types"],
        edge_summary=rd["edge_summary"],
    )
    return GraphState(rows=rd["rows"], graph=graph, config=_config_from_raw(raw))


# --- versioned snapshots -----------------------------------------------------
#
# A snapshot VERSION is one ``save_state`` directory (v1, v2, …) under a
# root, published through fsutil's claim → _COMMITTED → CURRENT chain:
# a crash mid-save leaves the previous version serving, rollback is a
# pointer swap, and prune deletes every version directory but CURRENT's.


def save_state_version(state: GraphState, root: str) -> str:
    """Persist the state as a new version under ``root`` and publish it:
    claim the next version directory, write it with ``save_state``, then
    land its _COMMITTED marker and swing the root's CURRENT pointer
    (fsutil.publish_version). A bad dump is undone by ``rollback_state``
    — a pointer swap — instead of a rebuild. Returns the published
    version name."""
    from .fsutil import claim_version, publish_version

    spark = state.rows.sparkSession
    # CAS claim: concurrent snapshot publishers get disjoint directories
    vname = claim_version(spark, root)
    save_state(state, f"{root}/{vname}")
    publish_version(spark, root, vname)
    return vname


def load_state_current(spark, root: str) -> GraphState:
    """Reload whichever snapshot version ``root``'s CURRENT pointer
    serves (falling back to the highest committed version, then to a
    flat unversioned layout — fsutil.resolve_version_dir)."""
    from .fsutil import resolve_version_dir

    return load_state(spark, resolve_version_dir(spark, root))


def load_state_version(spark, root: str, vname: str) -> GraphState:
    """Reload a SPECIFIC published snapshot version (time travel): any
    committed version under ``root`` stays readable until
    ``prune_state_versions`` — the input to version diffing and to
    serving a pinned historical release."""
    from .fsutil import fs_of

    jvm, fs = fs_of(spark, root)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(f"{root}/{vname}/_COMMITTED")):
        raise ValueError(f"{root}/{vname} is not a committed snapshot")
    return load_state(spark, f"{root}/{vname}")


def state_version_diff(spark, root: str, va: str, vb: str) -> DataFrame:
    """What changed between two published snapshots — the release diff
    an operator reads BEFORE deciding to roll back: every merged triple
    added or removed going ``va`` → ``vb``, as
    (status, node_id, prop_key, value) rows. Triple-granular, SET
    semantics: each side is the DISTINCT triple projection, so a triple
    served under several value_props/provenance variants counts once —
    losing one variant while another survives is not a removal (the
    diff answers "what does vb serve that va didn't, and vice versa").
    A canonical flip, a reference rewrite, or a vanished entity each
    show up as concrete rows rather than a count drift. Both sides are
    plain Parquet scans of the two version directories; the diff is two
    set-difference shuffles, corpus-bounded exactly once each."""
    def triples(v: str) -> DataFrame:
        return (
            load_state_version(spark, root, v)
            .graph.merged.select("node_id", "prop_key", "value")
            .distinct()
        )
    a, b = triples(va), triples(vb)
    return (
        b.exceptAll(a).selectExpr("'added' AS status", "*")
        .unionByName(a.exceptAll(b).selectExpr("'removed' AS status", "*"))
    )


def rollback_state(spark, root: str) -> str:
    """Undo the most recent published snapshot: swing CURRENT back to
    the previous committed version. Pointer-only — no table is read,
    copied, or deleted, so the rolled-back version's files stay intact
    for in-flight readers and a later roll-FORWARD (re-publish) stays
    possible until ``prune_state_versions``. Returns the version now
    serving."""
    from .fsutil import rollback_version

    return rollback_version(spark, root)


def prune_state_versions(
    spark, root: str, claim_grace_sec: float = 600.0, report: bool = False
):
    """Delete every snapshot version except CURRENT's — run once old
    readers are drained. Returns the number of version directories
    removed, or with ``report=True`` a dict of the versions removed and
    the in-flight claims spared.

    A version directory holds all of its own files, so sparing an
    in-flight publisher's claimed directory (``claim_grace_sec``,
    fsutil.prune_versions_report) spares everything it has written."""
    from .fsutil import prune_versions_report

    removed, spared = prune_versions_report(
        spark, root, claim_grace_sec=claim_grace_sec
    )
    if report:
        return {"versions_removed": removed, "spared_claims": spared}
    return removed
