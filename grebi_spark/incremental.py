"""Incremental graph maintenance: fold a new datasource into an
already-built graph (add), retire one (remove), or replace one in place
(update) without re-running grouping + merge + index + materialise over
unchanged cliques.

The reference rebuilds the whole graph for any input change (the
Nextflow DAG has no incremental path — every run re-ingests, re-groups
with a 300 GB union-find, and re-merges everything). Here the update is
scoped to the *affected* cliques end to end:

1. **Groups**: new identifier pairs can only touch cliques that share an
   id with them, so CC re-runs over (new pairs ∪ the affected cliques'
   star edges) only — delta-sized — and every other clique keeps its
   exact ``(id, group_id)`` rows, canonical included. Removal re-groups
   only the touched cliques' remaining raw pairs, same shape.
2. **Affected cliques** = components containing at least one identifier
   from the changed datasource. Memberships only grow on add and only
   split on remove, so a clique with no changed id is exactly its old
   self, canonical id included.
2b. **Reference invalidation**: cliques whose rows REFERENCE (by value
   or property key) an id whose canonical mapping changed join the
   affected set — assign_ids rewrites those strings through the groups
   table, so passing them through verbatim would leave stale canonicals
   (``_expand_affected_for_references``).
3. **Re-merge** only the affected cliques, from the retained
   pre-assignment rows, with a groups table REDUCED to the ids those
   rows can mention — the whole re-merge is delta × delta.
4. **Delta index**: the count side tables (prop counts, reified-prop
   counts, type counts, and the refcounted name/id sets) are maintained
   ADDITIVELY — aggregate the removed and re-merged rows only, then
   merge the per-key deltas into the stored counts with one broadcast
   left join (stored keys) plus one broadcast anti (new keys); the
   stored table is scanned, never shuffled. The node-header table is
   node-granular: drop the affected canonicals, append the re-merged
   cliques' headers.
5. **Delta materialise**: new edges =
   (old edges whose from-node is unchanged and whose target survives)
   ∪ (re-merged clique rows ⋈ ALL node ids)
   ∪ (unchanged rows ⋈ NEWLY-BORN node ids only)
   — the two materialise joins broadcast their delta-sized side; the old
   edge set passes through behind two broadcast anti-joins. The
   edge-summary cube is maintained additively the same way,
   re-aggregating only edges that touch an affected canonical on either
   endpoint.

**Shuffle budget per verb** (the 100 TB contract): every join in the
delta path pairs a corpus-sized table with a broadcast delta-sized set —
broadcast hints are explicit because the delta frames are
``localCheckpoint``-backed, whose unknown statistics would otherwise
default the initial plan to a corpus shuffle join. The only shuffles are
delta-sized (the delta CC, the re-merge aggregation, the delta count
aggregations). The corpus tables (merged, edges, groups, headers, the
refcounted id/name counts) are scanned map-side a bounded number of
times and are NOT eagerly re-materialised: the pass-through halves stay
lazy unions over the previous state's checkpointed tables, which is
exactly the copy-on-write layout a bucketed-Parquet deployment gets by
rewriting only affected partitions.

``display_types`` is maintained delta-wise too: a changed GLOBAL type
count can legally flip the display type of an untouched node, but only
of nodes CARRYING a changed type — so the recompute is restricted to
(nodes with any changed type ∪ re-merged cliques), candidate-sized in
the common case and legitimately corpus-wide only when a ubiquitous
type's count changed.

Equivalence with a from-scratch build over the union of sources is the
correctness contract, asserted by ``tests/test_incremental.py`` and by
the ``incremental_*`` oracle parity queries (plans/parity.py); the same
tests assert the delta paths' materialise inputs are delta-sized.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .config import SubgraphConfig
from .operators.assign_ids import assign_ids, lift_types
from .operators.groups import build_groups
from .operators.identifiers import extract_identifiers, identifier_pairs
from .operators.index import (
    GraphIndex,
    edge_prop_counts_of,
    id_counts_of,
    name_counts_of,
    node_metadata,
    prop_counts_of,
    type_counts_of,
)
from .operators.materialise import display_types, edge_summary, materialise_edges
from .operators.merge import merge_nodes
from .operators.normalise import PrefixMap, normalise_prefixes
from .pipeline import BuiltGraph, build_graph


@dataclass
class IndexCounts:
    """Refcounted name/id side state (the counts behind GraphIndex's
    distinct name/id sets — needed so removals can decrement instead of
    forcing a corpus re-distinct). At scale: two stored keyed tables."""

    name_counts: DataFrame  # (name, n)
    id_counts: DataFrame    # (id, n)


@dataclass
class FrameLevel:
    """One verb's effect on one durable frame — the unit a MANIFEST
    snapshot persists instead of rewriting the frame. Two shapes:

    * row frames (rows/groups/merged/nodes/edges/display_types):
      ``dels`` = per-column key sets removing matching rows from every
      EARLIER level, then ``adds`` appends new rows — the
      segment+tombstone (merge-on-read) layout Iceberg/Delta use.
    * count frames (the six refcounted/aggregate side tables): ``agg``
      = signed per-key deltas; the frame is the per-key SUM of all
      levels, keys summing to ≤0 vanish.

    Every frame here is delta-sized by the verb's own shuffle budget
    (module docstring) — persisting a level writes the fold's delta
    and NOTHING corpus-sized."""

    adds: DataFrame | None = None
    dels: list[tuple[str, DataFrame]] = field(default_factory=list)
    agg: DataFrame | None = None


@dataclass
class GraphState:
    """A built graph plus the retained pre-assignment rows and count
    side tables that make incremental updates possible (at scale:
    bucketed Parquet tables)."""

    rows: DataFrame  # normalised long rows, union of every ingested source
    graph: BuiltGraph
    config: SubgraphConfig
    counts: IndexCounts | None = None
    delta_stats: dict = field(default_factory=dict)  # diagnostics of the last update
    # delta frames of the LAST verb (empty for a from-scratch build):
    # retired/vanished canonicals, re-merged rows + metadata, new edge
    # rows, removed edge ids. All delta-sized (the pinned frames the verb
    # already materialised — keeping them costs nothing); downstream
    # maintenance of SERVING artifacts (sinks.kv.refresh_kv_store) uses
    # them to upsert only the changed cliques instead of rebuilding.
    # Not persisted by save_state and dropped by compact_state: refresh
    # derived stores before either.
    last_delta: dict = field(default_factory=dict)
    # manifest-snapshot provenance: the versioned root/version this state
    # was loaded from (or last saved to), plus the per-frame FrameLevels
    # of every verb applied SINCE — what save_state_version persists as a
    # delta-sized snapshot instead of a full-corpus rewrite.
    base_root: str | None = None
    base_version: str | None = None
    pending: dict = field(default_factory=dict)  # frame -> list[FrameLevel]


def _pin(df: DataFrame) -> DataFrame:
    """Eagerly materialise a DELTA-SIZED intermediate and cut its lineage.

    ``cache()`` keeps the full logical plan behind the cached data, so a
    frame reused by several downstream branches re-inlines its whole
    subtree into every consumer — across the 4-5 levels of derived frames
    in one update the composed plan's *tree* expansion of the shared DAG
    grows exponentially (observed: driver OOM inside plan stringification
    on a toy fixture). ``localCheckpoint`` replaces the plan with the
    materialised rows, keeping every consumer's plan linear. All pinned
    frames are delta-sized (affected canonicals, member ids, changed
    rows); at 100 TB these are exactly the stored side tables a
    maintenance job would persist between stages."""
    return df.localCheckpoint()


def build_graph_stateful(
    ingested: list[DataFrame],
    config: SubgraphConfig,
    prefix_map: PrefixMap | None = None,
) -> GraphState:
    """Full build that also retains the incremental-update state."""
    if prefix_map:
        ingested = [normalise_prefixes(df, prefix_map) for df in ingested]
    rows = reduce(DataFrame.unionByName, ingested)
    return GraphState(rows=rows, graph=build_graph(ingested, config), config=config)


def _ensure_counts(state: GraphState) -> IndexCounts:
    """Bootstrap the refcounted name/id state from the built graph on
    first incremental use (one corpus pass, then maintained forever)."""
    if state.counts is None:
        merged = state.graph.merged
        state.counts = IndexCounts(
            name_counts=name_counts_of(merged).localCheckpoint(),
            id_counts=id_counts_of(merged).localCheckpoint(),
        )
    return state.counts


def _apply_count_delta(
    old: DataFrame, removed: DataFrame, added: DataFrame, keys: list[str], n: str
) -> DataFrame:
    """new = old − removed + added, per key (``_apply_count_delta_parts``
    for the full contract); returns just the updated frame."""
    return _apply_count_delta_parts(old, removed, added, keys, n)[0]


def _apply_count_delta_parts(
    old: DataFrame, removed: DataFrame, added: DataFrame, keys: list[str], n: str
) -> tuple[DataFrame, DataFrame]:
    """new = old − removed + added, per key; keys that hit zero vanish.

    ``removed``/``added`` aggregate DELTA-SIZED frames, so the update is
    broadcast and the stored table is never shuffled: one broadcast left
    join covers every stored key map-side, and the genuinely new keys
    arrive via a broadcast anti against the (delta-sized) hit key set —
    the merge a bucketed layout runs as a local upsert.

    Returns ``(new, signed_delta)``: the second element is the pinned
    per-key net change — (keys…, n) with n signed — which IS the fold's
    durable FrameLevel for this count table (new ≡ per-key sum of
    old ∪ signed_delta, dropping keys ≤ 0), so a manifest snapshot
    persists the delta without touching the stored table."""
    upd = (
        removed.select(*keys, (-F.col(n)).alias(n))
        .unionByName(added)
        .groupBy(*keys)
        .agg(F.sum(n).alias("__dn"))
        .localCheckpoint()  # delta-sized; feeds all three joins below
    )
    merged_old = (
        old.join(F.broadcast(upd), keys, "left")
        .select(
            *keys,
            (F.col(n) + F.coalesce(F.col("__dn"), F.lit(0))).alias(n),
        )
        .filter(F.col(n) > 0)
    )
    hit = old.join(F.broadcast(upd.select(*keys)), keys, "left_semi").select(*keys)
    fresh = (
        upd.join(F.broadcast(hit), keys, "left_anti")
        .select(*keys, F.col("__dn").alias(n))
        .filter(F.col(n) > 0)
    )
    signed = upd.select(*keys, F.col("__dn").alias(n))
    return merged_old.unionByName(fresh), signed


def _delta_finish(
    state: GraphState,
    groups: DataFrame,
    all_rows: DataFrame,
    unchanged: DataFrame,
    removed_old: DataFrame,
    merged_delta: DataFrame,
    with_stats: bool = False,
    member_ids: DataFrame | None = None,
    extra_levels: dict | None = None,
) -> GraphState:
    """Shared tail of add/remove/update: given the clique-granular split
    of the old merged frame (``unchanged`` passes through, ``removed_old``
    is retired) and the re-merged delta, produce the new GraphState with
    DELTA index + materialise stages (module docstring, steps 4-5).

    ``member_ids`` (the clique split's probe set) and ``extra_levels``
    (the verb-specific rows/groups FrameLevels) feed the PENDING ledger:
    every frame's durable delta for this fold, consumed by
    ``save_state_version`` to write a delta-sized manifest snapshot."""
    config = state.config
    counts = _ensure_counts(state)
    old = state.graph

    # Materialise the two delta frames FIRST: every eager job below
    # (count deltas, metadata, edge legs) reads one of them, and without
    # this barrier each job would re-run the re-merge chain from scratch.
    # ``unchanged`` stays LAZY — it is a broadcast anti over the previous
    # state's tables, i.e. a map-side scan, and checkpointing it would
    # copy the corpus on every verb.
    merged_delta = merged_delta.localCheckpoint()
    removed_old = removed_old.localCheckpoint()
    merged = unchanged.unionByName(merged_delta)

    # canonical-id bookkeeping: R = retired canonicals, born/vanished =
    # node ids that appear/disappear (all delta-sized, pinned — each
    # feeds several joins below as a broadcast side)
    R = _pin(removed_old.select("node_id").distinct())
    new_canons = _pin(merged_delta.select("node_id").distinct())
    vanished = _pin(R.join(F.broadcast(new_canons), "node_id", "left_anti"))
    born = _pin(new_canons.join(F.broadcast(R), "node_id", "left_anti"))

    # -- delta index: additive counts + node-granular metadata ----------
    # the first three stored tables are key-cardinality-sized (small);
    # the refcounted name/id tables are corpus-sized and stay LAZY —
    # their update chain is map-side over the previous checkpointed state
    prop_counts, prop_signed = _apply_count_delta_parts(
        old.index.prop_counts,
        prop_counts_of(removed_old),
        prop_counts_of(merged_delta),
        ["prop_key"],
        "n_values",
    )
    prop_counts = prop_counts.localCheckpoint()
    edge_prop_counts, eprop_signed = _apply_count_delta_parts(
        old.index.edge_prop_counts,
        edge_prop_counts_of(removed_old),
        edge_prop_counts_of(merged_delta),
        ["prop_key"],
        "n_values",
    )
    edge_prop_counts = edge_prop_counts.localCheckpoint()
    type_counts, type_signed = _apply_count_delta_parts(
        old.index.type_counts,
        type_counts_of(removed_old),
        type_counts_of(merged_delta),
        ["type"],
        "n_nodes",
    )
    type_counts = type_counts.localCheckpoint()
    name_counts, name_signed = _apply_count_delta_parts(
        counts.name_counts,
        name_counts_of(removed_old),
        name_counts_of(merged_delta),
        ["name"],
        "n",
    )
    id_counts, id_signed = _apply_count_delta_parts(
        counts.id_counts,
        id_counts_of(removed_old),
        id_counts_of(merged_delta),
        ["id"],
        "n",
    )
    meta_delta = _pin(node_metadata(merged_delta))
    meta = old.nodes.join(F.broadcast(R), "node_id", "left_anti").unionByName(
        meta_delta
    )

    # -- delta materialise (module docstring step 5) --------------------
    Rf = R.withColumnRenamed("node_id", "from_id")
    Vt = vanished.withColumnRenamed("node_id", "to_id")
    kept = (
        old.edges.join(F.broadcast(Rf), "from_id", "left_anti")
        .join(F.broadcast(Vt), "to_id", "left_anti")
        .select(*old.edges.columns)  # the USING joins front the join keys
    )
    delta_edges = materialise_edges(F.broadcast(merged_delta), meta, config)
    born_edges = materialise_edges(unchanged, F.broadcast(born), config)
    new_edge_rows = delta_edges.unionByName(born_edges).localCheckpoint()
    edges = kept.unionByName(new_edge_rows)

    # -- delta edge summary: re-aggregate only edges touching R ---------
    # dropped-from-summary = every old edge with an endpoint in R
    # (vanished ⊆ R and persisting ⊆ R, so this covers both); edges to a
    # PERSISTING affected canonical stay in the edge set but their
    # to-node's types may have changed, so they are re-added against the
    # new metadata alongside the genuinely new edge rows.
    Rt = R.withColumnRenamed("node_id", "to_id")
    e_fromR = old.edges.join(F.broadcast(Rf), "from_id", "left_semi")
    e_toR_only = old.edges.join(F.broadcast(Rf), "from_id", "left_anti").join(
        F.broadcast(Rt), "to_id", "left_semi"
    )
    persisting_t = (
        R.join(F.broadcast(new_canons), "node_id", "left_semi")
        .withColumnRenamed("node_id", "to_id")
    )
    kept_touch = old.edges.join(F.broadcast(Rf), "from_id", "left_anti").join(
        F.broadcast(persisting_t), "to_id", "left_semi"
    )
    sig_keys = ["from_sig", "edge_type", "to_sig", "ds_sig"]
    summary, summary_signed = _apply_count_delta_parts(
        old.edge_summary,
        edge_summary(e_fromR.unionByName(e_toR_only), old.nodes, small_edges=True),
        edge_summary(new_edge_rows.unionByName(kept_touch), meta, small_edges=True),
        sig_keys,
        "n_edges",
    )
    summary = summary.localCheckpoint()

    # -- delta display types --------------------------------------------
    # display(n) = argmin over (global count(t), t) for t ∈ types(n), so
    # only nodes carrying a type whose GLOBAL count changed — plus the
    # re-merged cliques — can flip; everything else passes through. This
    # replaces the per-verb corpus explode+shuffle with a candidate-sized
    # one (worst case — a ubiquitous type's count changed — legitimately
    # degrades to the full pass, because all those argmin inputs changed).
    changed_types = _pin(
        type_counts_of(removed_old)
        .select("type")
        .unionAll(type_counts_of(merged_delta).select("type"))
        .distinct()
    )
    cand_ids = (
        meta.select("node_id", F.explode("types").alias("type"))
        .join(F.broadcast(changed_types), "type", "left_semi")
        .select("node_id")
        .distinct()
    )
    recompute_ids = _pin(cand_ids.unionAll(new_canons).distinct())
    dt_tomb = recompute_ids.unionAll(R).distinct()
    dt_adds = display_types(
        meta.join(F.broadcast(recompute_ids), "node_id", "left_semi"),
        type_counts,
    )
    dtypes = old.display_types.join(
        F.broadcast(dt_tomb), "node_id", "left_anti"
    ).unionByName(dt_adds)

    index = GraphIndex(
        prop_counts=prop_counts,
        edge_prop_counts=edge_prop_counts,
        type_counts=type_counts,
        names=name_counts.select("name"),
        ids=id_counts.select("id"),
        metadata=meta,
    )
    graph = BuiltGraph(
        groups=groups,
        merged=merged,
        nodes=meta,
        edges=edges,
        index=index,
        display_types=dtypes,
        edge_summary=summary,
    )
    stats = {}
    if with_stats:
        stats = {
            "n_delta_rows": merged_delta.count(),
            "n_removed_rows": removed_old.count(),
            "n_born_nodes": born.count(),
            "n_vanished_nodes": vanished.count(),
            "n_new_edge_rows": new_edge_rows.count(),
        }
    # removed edges = exactly what `kept` anti-joined away, as ids —
    # reusing the e_fromR probe the summary delta already built, so the
    # 'edges leaving a retired canonical' predicate lives in ONE place.
    # Lazy: broadcast semi probes over the old (checkpointed) edge table,
    # map-side scans paid only if a serving-store refresh consumes them.
    removed_edge_ids = (
        e_fromR.select("edge_id")
        .unionAll(
            old.edges.join(F.broadcast(Vt), "to_id", "left_semi").select("edge_id")
        )
        .distinct()
    )
    # -- pending ledger: this fold's durable FrameLevels -----------------
    # Every frame here is one of the delta frames the verb already
    # materialised (or a lazy broadcast probe over them) — persisting a
    # level writes delta-sized data only. The clique-granular splits
    # above are EXACTLY segment+tombstone semantics: e.g. the new merged
    # frame ≡ (old merged − node_ids ∈ member_ids) ∪ merged_delta.
    pending = {k: list(v) for k, v in state.pending.items()}
    for fname, levels in (extra_levels or {}).items():
        pending.setdefault(fname, []).extend(levels)
    fold_levels = {
        "merged": FrameLevel(adds=merged_delta, dels=[("node_id", member_ids)]),
        "nodes": FrameLevel(adds=meta_delta, dels=[("node_id", R)]),
        "edges": FrameLevel(
            adds=new_edge_rows,
            dels=[("from_id", R), ("to_id", vanished)],
        ),
        "display_types": FrameLevel(adds=dt_adds, dels=[("node_id", dt_tomb)]),
        "prop_counts": FrameLevel(agg=prop_signed),
        "edge_prop_counts": FrameLevel(agg=eprop_signed),
        "type_counts": FrameLevel(agg=type_signed),
        "name_counts": FrameLevel(agg=name_signed),
        "id_counts": FrameLevel(agg=id_signed),
        "edge_summary": FrameLevel(agg=summary_signed),
    }
    for fname, level in fold_levels.items():
        pending.setdefault(fname, []).append(level)
    return GraphState(
        rows=all_rows,
        graph=graph,
        config=config,
        counts=IndexCounts(name_counts=name_counts, id_counts=id_counts),
        delta_stats=stats,
        last_delta={
            "retired": R,
            "vanished": vanished,
            "merged_delta": merged_delta,
            "meta_delta": meta_delta,
            "new_edge_rows": new_edge_rows,
            "removed_edge_ids": removed_edge_ids,
        },
        base_root=state.base_root if member_ids is not None else None,
        base_version=state.base_version if member_ids is not None else None,
        pending=pending,
    )


def _affected_of(groups_delta: DataFrame, member_ids: DataFrame) -> DataFrame:
    """Affected canonicals under the new mapping: the re-grouped delta
    components' canonicals ∪ the member ids the delta left as singletons
    (which map to themselves). All-delta, broadcast anti for the misses."""
    return _pin(
        groups_delta.select(F.col("group_id").alias("node_id"))
        .unionAll(
            member_ids.join(
                F.broadcast(groups_delta.select("id")), "id", "left_anti"
            ).select(F.col("id").alias("node_id"))
        )
        .distinct()
    )


def _canons_of(ids: DataFrame, groups: DataFrame) -> DataFrame:
    """Canonicals of an id set under an EXISTING mapping: ids found in
    ``groups`` map to their group_id; misses map to themselves
    (singletons). ``ids`` is delta-sized and broadcast both ways; the
    stored groups table is only semi-probed, never shuffled. Returns a
    distinct ``node_id`` column, ``.localCheckpoint()``-pinned."""
    hit = groups.join(F.broadcast(ids), "id", "left_semi").localCheckpoint()
    return (
        hit.select(F.col("group_id").alias("node_id"))
        .unionAll(
            ids.join(F.broadcast(hit.select("id")), "id", "left_anti").select(
                F.col("id").alias("node_id")
            )
        )
        .distinct()
    )


def _expand_affected_for_references(
    scan_rows: DataFrame,
    old_groups: DataFrame,
    groups: DataFrame,
    affected: DataFrame,
    member_ids: DataFrame,
    config: SubgraphConfig,
) -> tuple[DataFrame, DataFrame]:
    """Cross-clique reference invalidation.

    ``assign_ids`` rewrites every VALUE and PROP KEY through the groups
    table (02_assign_ids/.../main.rs:121-129), so a row in an otherwise
    unaffected clique that references an id whose canonical mapping just
    changed would be stale if passed through verbatim — its stored value
    still points at the OLD canonical. The rewrite cannot be patched in
    place on the merged rows (after a clique split, one old canonical
    maps back to several raw ids — the inverse is ambiguous), so the
    referencing cliques are folded into the affected set and re-merged
    from their raw rows. Their grouping is untouched, which also means
    no second-order propagation is possible: one pass reaches fixpoint.

    Scale shape: the remap set (ids in touched cliques whose mapping
    changed) is delta-sized, so every step is a map-side scan against a
    broadcast side — the old/new groups tables are semi-scanned down to
    the member set before the comparison, and the corpus row scan probes
    the broadcast remap. At rest, a value→entity inverted index turns
    even that scan into a point lookup."""
    mb = F.broadcast(member_ids)
    om = old_groups.join(mb, "id", "left_semi").select(
        "id", F.col("group_id").alias("__old_gid")
    )
    nm = groups.join(mb, "id", "left_semi").select(
        "id", F.col("group_id").alias("__new_gid")
    )
    remap = (
        member_ids.join(F.broadcast(om), "id", "left")
        .join(F.broadcast(nm), "id", "left")
        .filter(
            F.coalesce("__old_gid", F.col("id"))
            != F.coalesce("__new_gid", F.col("id"))
        )
        .select("id")
    )
    remap = _pin(remap)
    ref_entities = (
        scan_rows.join(F.broadcast(remap), scan_rows.value == remap.id, "left_semi")
        .unionByName(
            scan_rows.join(
                F.broadcast(remap), scan_rows.prop_key == remap.id, "left_semi"
            )
        )
        .select("datasource", "entity_id")
        .distinct()
    )
    ref_rows = scan_rows.join(
        F.broadcast(ref_entities), ["datasource", "entity_id"], "left_semi"
    )
    ref_ids = _pin(extract_identifiers(ref_rows, config).select("id").distinct())
    ref_canons = _canons_of(ref_ids, groups)
    affected = _pin(affected.unionByName(ref_canons).distinct())
    member_ids = _pin(
        member_ids.unionAll(
            groups.join(
                F.broadcast(ref_canons),
                groups.group_id == ref_canons.node_id,
                "left_semi",
            ).select("id")
        )
        .unionAll(ref_canons.select(F.col("node_id").alias("id")))
        .distinct()
    )
    return affected, member_ids


def _split_old_merged(
    old_merged: DataFrame, member_ids: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Split the old merged frame clique-granularly: a row is retired iff
    its node id — an OLD canonical — lies in an affected old clique, and
    old cliques are disjoint id sets, so membership of the (delta-sized)
    ``member_ids`` set is an exact test: an affected clique's canonical
    is one of its members, and no unaffected clique contains a member id
    (a shared id would have made it affected). Both halves are broadcast
    semi/anti map-side scans; the old corpus is never shuffled."""
    m = member_ids.select(F.col("id").alias("node_id"))
    unchanged = old_merged.join(F.broadcast(m), "node_id", "left_anti")
    removed_old = old_merged.join(F.broadcast(m), "node_id", "left_semi")
    return unchanged, removed_old


def _remerge(
    all_rows: DataFrame,
    member_ids: DataFrame,
    groups: DataFrame,
    config: SubgraphConfig,
) -> DataFrame:
    """Re-merge the touched entities' rows (module docstring step 3),
    every stage delta-scoped: the touched-entity restriction is a pair of
    broadcast semi-joins over the corpus rows, and ``assign_ids`` gets a
    groups table REDUCED to the ids the changed rows can mention — their
    values, their property keys, and the member set (an entity's aliases
    all lie inside its own affected clique) — so its three rewrite joins
    are delta × delta instead of delta × corpus."""
    touched_entities = (
        extract_identifiers(all_rows, config)
        .join(F.broadcast(member_ids), "id", "left_semi")
        .select("datasource", "entity_id")
        .distinct()
    )
    changed_rows = _pin(
        all_rows.join(
            F.broadcast(touched_entities), ["datasource", "entity_id"], "left_semi"
        )
    )
    need = (
        changed_rows.select(F.col("value").alias("id"))
        .unionAll(changed_rows.select(F.col("prop_key").alias("id")))
        .unionAll(member_ids.select("id"))
        .distinct()
    )
    groups_small = _pin(groups.join(F.broadcast(need), "id", "left_semi"))
    return merge_nodes(
        lift_types(assign_ids(changed_rows, groups_small, config), config), config
    )


def _grow_groups(
    old_groups: DataFrame, new_ids: DataFrame, config: SubgraphConfig
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The ADD half of incremental grouping → (groups, groups_delta,
    member_ids).

    New pairs can only touch cliques sharing an id with them, so CC runs
    over new pairs ∪ star edges of the AFFECTED old cliques only; every
    other clique keeps its exact rows via a broadcast anti pass-through.
    ``build_groups`` re-adds config seed edges; the delta output is
    restricted to the member set so unaffected seed cliques are not
    re-emitted (a seed edge bridging outside the member set would have
    made its endpoints old co-members — i.e. affected)."""
    ids_new = _pin(new_ids.select("id").distinct())
    aff_old = _canons_of(ids_new, old_groups)
    member_ids = _pin(
        old_groups.join(
            F.broadcast(aff_old), old_groups.group_id == aff_old.node_id, "left_semi"
        )
        .select("id")
        .unionAll(aff_old.select(F.col("node_id").alias("id")))
        .unionAll(ids_new.select("id"))
        .distinct()
    )
    old_star_aff = (
        old_groups.join(F.broadcast(member_ids), "id", "left_semi")
        .select(F.col("group_id").alias("src"), F.col("id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    groups_delta = _pin(
        build_groups(identifier_pairs(new_ids).unionAll(old_star_aff), config).join(
            F.broadcast(member_ids), "id", "left_semi"
        )
    )
    groups = old_groups.join(F.broadcast(member_ids), "id", "left_anti").unionAll(
        groups_delta
    )
    return groups, groups_delta, member_ids


def add_datasource(
    state: GraphState,
    new_rows: DataFrame,
    prefix_map: PrefixMap | None = None,
    with_stats: bool = False,
) -> GraphState:
    """Fold one new datasource's long rows into the built graph,
    re-merging only the cliques its identifiers touch."""
    config = state.config
    if prefix_map:
        new_rows = normalise_prefixes(new_rows, prefix_map)
    old_groups = state.graph.groups

    # -- 1+2. delta-scoped incremental grouping + affected cliques ------
    new_ids = extract_identifiers(new_rows, config)
    groups, groups_delta, member_ids = _grow_groups(old_groups, new_ids, config)
    affected = _affected_of(groups_delta, member_ids)
    # the groups frame was split on the PRE-expansion member set (the
    # reference expansion below re-merges rows but never re-groups) —
    # capture it as the groups FrameLevel's tombstone
    member_pre = member_ids

    # -- 2b. cross-clique reference invalidation ------------------------
    # (scan the OLD corpus only: every new-source entity's clique is
    # already affected by construction)
    affected, member_ids = _expand_affected_for_references(
        state.rows, old_groups, groups, affected, member_ids, config
    )

    # -- 3. re-merge affected cliques from pre-assignment rows ----------
    all_rows = state.rows.unionByName(new_rows)
    merged_delta = _remerge(all_rows, member_ids, groups, config)
    unchanged, removed_old = _split_old_merged(state.graph.merged, member_ids)

    # -- 4+5. delta index + materialise over the clique-granular split --
    return _delta_finish(
        state,
        groups,
        all_rows,
        unchanged,
        removed_old,
        merged_delta,
        with_stats,
        member_ids=member_ids,
        extra_levels={
            "rows": [FrameLevel(adds=new_rows)],
            "groups": [FrameLevel(adds=groups_delta, dels=[("id", member_pre)])],
        },
    )


def _regroup_after_removal(
    state: GraphState, remaining: DataFrame, removed: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The removal half of the grouping update: returns (groups,
    affected canonicals under the NEW mapping, member ids of the
    affected old cliques, the re-grouped delta rows).

    Correctness rests on two closure facts:

    * *Affected cliques* = old components containing any identifier the
      retired source's rows mention (singletons included via
      coalesce-to-self). Components only ever split on removal — the
      remaining pair set is a subset — so an unaffected clique keeps its
      exact membership AND canonical id; its old merged rows pass
      through untouched, and they contain no retired-source data
      (any entity with a retired-source row contributes that row's
      identifiers, which marks its clique affected).
    * *Re-grouping is local*: every identifier of a remaining entity
      that touches an affected clique lies inside affected cliques (its
      within-entity pairs glued them into one old component), so the CC
      over the touched entities' remaining pairs reproduces exactly the
      from-scratch components — no pair can reach outside the affected
      set. Seed-equivalence edges (config) are re-applied; a seed clique
      the delta re-emits unchanged dedups against the retained mapping.
    """
    config = state.config
    old_groups = state.graph.groups

    removed_ids = _pin(extract_identifiers(removed, config).select("id").distinct())
    affected_old = _canons_of(removed_ids, old_groups)
    member_ids = _pin(
        old_groups.join(
            F.broadcast(affected_old),
            old_groups.group_id == affected_old.node_id,
            "left_semi",
        )
        .select("id")
        .unionAll(affected_old.select(F.col("node_id").alias("id")))
        .distinct()
    )

    rem_ids = extract_identifiers(remaining, config)
    touched_entities = (
        rem_ids.join(F.broadcast(member_ids), "id", "left_semi")
        .select("datasource", "entity_id")
        .distinct()
    )
    touched_pairs = identifier_pairs(
        rem_ids.join(
            F.broadcast(touched_entities), ["datasource", "entity_id"], "left_semi"
        )
    )
    # build_groups re-adds the config seed edges; restrict its output to
    # affected members so an UNaffected seed clique is not re-emitted as
    # the seed-only sub-component (its retained rows already map it, and
    # a shrunken re-election could conflict). A delta component can never
    # mix member and non-member ids — the bridging seed edge would have
    # made them one old component, i.e. all members.
    groups_delta = _pin(
        build_groups(touched_pairs, config).join(
            F.broadcast(member_ids), "id", "left_semi"
        )
    )
    groups = old_groups.join(F.broadcast(member_ids), "id", "left_anti").unionAll(
        groups_delta
    )
    # affected canonicals under the NEW mapping: split cliques yield
    # several canonicals; member ids that vanished from the delta map to
    # themselves
    affected_new = _affected_of(groups_delta, member_ids)
    return groups, affected_new, member_ids, groups_delta


def remove_datasource(
    state: GraphState, datasource: str, with_stats: bool = False
) -> GraphState:
    """Retire one datasource from the built graph — the hard inverse of
    ``add_datasource``: dropping a source's identifier pairs can SPLIT a
    clique into several components, each needing a fresh canonical
    election and re-merge, and entities that existed only in the retired
    source must vanish entirely. (Correctness argument:
    ``_regroup_after_removal``.)"""
    config = state.config
    remaining = state.rows.filter(F.col("datasource") != datasource)
    removed = state.rows.filter(F.col("datasource") == datasource)

    groups, affected, member_ids, groups_delta = _regroup_after_removal(
        state, remaining, removed
    )
    member_pre = member_ids  # the groups split's probe set (pre-expansion)
    affected, member_ids = _expand_affected_for_references(
        remaining, state.graph.groups, groups, affected, member_ids, config
    )

    merged_delta = _remerge(remaining, member_ids, groups, config)
    unchanged, removed_old = _split_old_merged(state.graph.merged, member_ids)

    spark = state.rows.sparkSession
    ds_key = spark.createDataFrame([(datasource,)], ["datasource"])
    return _delta_finish(
        state,
        groups,
        remaining,
        unchanged,
        removed_old,
        merged_delta,
        with_stats,
        member_ids=member_ids,
        extra_levels={
            "rows": [FrameLevel(dels=[("datasource", ds_key)])],
            "groups": [FrameLevel(adds=groups_delta, dels=[("id", member_pre)])],
        },
    )


def update_datasource(
    state: GraphState,
    datasource: str,
    new_rows: DataFrame,
    prefix_map: PrefixMap | None = None,
    with_stats: bool = False,
) -> GraphState:
    """Replace one datasource's rows in place — remove ∘ add FUSED so
    the expensive clique-granular stages (re-merge, delta index, delta
    materialise) run ONCE over the union of both phases' affected
    cliques, instead of paying two full delta passes. The grouping
    update runs its two cheap halves (split re-convergence, then
    delta-scoped growth over the replacement's pairs).

    This is the maintenance verb a real pipeline runs on every refreshed
    dump: same source name, new rows."""
    config = state.config
    if prefix_map:
        new_rows = normalise_prefixes(new_rows, prefix_map)
    remaining = state.rows.filter(F.col("datasource") != datasource)
    removed = state.rows.filter(F.col("datasource") == datasource)
    all_rows = remaining.unionByName(new_rows)

    # -- grouping phase 1: split on removal (delta-scoped CC) -----------
    g1, _affected_r, member_r, groups_delta_r = _regroup_after_removal(
        state, remaining, removed
    )

    # -- grouping phase 2: delta-scoped growth on the replacement -------
    new_ids = extract_identifiers(new_rows, config)
    groups, groups_delta2, member_a = _grow_groups(g1, new_ids, config)

    # union of both phases' member sets: phase-1 members whose cliques
    # the replacement re-fused re-merge once, under the FINAL mapping
    member_ids = _pin(member_a.unionAll(member_r.select("id")).distinct())
    # the members' final grouped rows: phase-2 delta ∪ the phase-1 delta
    # rows phase 2 did not supersede (ids outside phase 2's member set)
    g1_delta_rest = g1.join(F.broadcast(member_r), "id", "left_semi").join(
        F.broadcast(member_a), "id", "left_anti"
    )
    affected = _affected_of(
        groups_delta2.unionAll(g1_delta_rest), member_ids
    )
    affected, member_ids = _expand_affected_for_references(
        remaining, state.graph.groups, groups, affected, member_ids, config
    )

    # -- single re-merge over the union of both phases' cliques ---------
    merged_delta = _remerge(all_rows, member_ids, groups, config)
    unchanged, removed_old = _split_old_merged(state.graph.merged, member_ids)

    spark = state.rows.sparkSession
    ds_key = spark.createDataFrame([(datasource,)], ["datasource"])
    return _delta_finish(
        state,
        groups,
        all_rows,
        unchanged,
        removed_old,
        merged_delta,
        with_stats,
        member_ids=member_ids,
        extra_levels={
            "rows": [FrameLevel(adds=new_rows, dels=[("datasource", ds_key)])],
            # one groups level per grouping phase: split (phase 1), then
            # growth (phase 2) — read-time folding reproduces
            # ((old − m_r) ∪ Δ_r − m_a) ∪ Δ₂ ≡ the final groups frame
            "groups": [
                FrameLevel(adds=groups_delta_r, dels=[("id", member_r)]),
                FrameLevel(adds=groups_delta2, dels=[("id", member_a)]),
            ],
        },
    )


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
    "name_counts",
    "id_counts",
    "display_types",
    "edge_summary",
)


def _state_frames_dict(state: GraphState) -> dict[str, DataFrame]:
    """The twelve durable frames of a GraphState, by frame name."""
    counts = _ensure_counts(state)
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
        "name_counts": counts.name_counts,
        "id_counts": counts.id_counts,
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


def _assemble_state(rd: dict[str, DataFrame], config: SubgraphConfig) -> GraphState:
    """GraphState from a frame-name → DataFrame mapping (shared by the
    flat and manifest loaders)."""
    index = GraphIndex(
        prop_counts=rd["prop_counts"],
        edge_prop_counts=rd["edge_prop_counts"],
        type_counts=rd["type_counts"],
        names=rd["name_counts"].select("name"),
        ids=rd["id_counts"].select("id"),
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
    return GraphState(
        rows=rd["rows"],
        graph=graph,
        config=config,
        counts=IndexCounts(
            name_counts=rd["name_counts"], id_counts=rd["id_counts"]
        ),
    )


def save_state(state: GraphState, path: str) -> None:
    """Persist the maintained state as flat Parquet tables under
    ``path`` — the durable form of the checkpoint-backed side tables,
    one directory per frame plus the config as JSON. The portable,
    single-snapshot layout; ``save_state_version`` is the versioned
    MANIFEST layout (delta-sized saves, bucketed node-keyed frames).

    Not transactional across frames: a crash mid-save leaves a mixed
    snapshot. Write each snapshot to a fresh directory and publish by
    switching a pointer (or use a table format with atomic commits)."""
    import dataclasses
    import json as _json

    frames = _state_frames_dict(state)
    nparts = int(
        state.rows.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    for name in _STATE_FRAMES:
        # bound the file count: a long verb sequence inflates partition
        # counts (see compact_state), and writing one near-empty file
        # per inflated partition makes the snapshot thousands of files
        frames[name].coalesce(nparts).write.mode("overwrite").parquet(
            f"{path}/{name}"
        )
    spark = state.rows.sparkSession
    cfg = _json.dumps(dataclasses.asdict(state.config))
    spark.createDataFrame([(cfg,)], ["config_json"]).coalesce(1).write.mode(
        "overwrite"
    ).json(f"{path}/config")


def load_state(spark, path: str) -> GraphState:
    """Reload a ``save_state`` directory into a maintenance-ready
    GraphState: every frame becomes a plain Parquet scan (with real
    statistics, so the delta verbs' broadcast probes need no hints to
    stay map-side), and the refcounted count tables resume additively
    where the saving session left off."""
    import json as _json

    raw = _json.loads(
        spark.read.json(f"{path}/config").collect()[0]["config_json"]
    )
    rd = {n: spark.read.parquet(f"{path}/{n}") for n in _STATE_FRAMES}
    return _assemble_state(rd, _config_from_raw(raw))


# --- manifest snapshots ------------------------------------------------------
#
# A snapshot VERSION is a MANIFEST — a per-frame list of FrameLevel
# entries pointing at immutable data directories under <root>/data/ —
# not a directory of fresh frame copies. Saving after a fold writes ONLY
# the fold's delta files (the pending FrameLevels) plus a new manifest;
# every unchanged data file is SHARED across versions by reference — the
# Iceberg/Delta snapshot shape on plain Parquet. Contrast the reference:
# its only release mechanism rewrites every store from scratch
# (nextflow/01_create_subgraph.nf:289-500).
#
# Node-keyed corpus frames (merged / nodes / edges) are written BUCKETED
# in full saves (bucketBy via an external table, files kept in the data
# pool): a reloaded state's node-keyed joins then plan with no Exchange
# on the bucketed side (tests/test_state_versions.py plan gate), which
# at 100 TB deletes the probe shuffle from every delta verb against
# reloaded state.

_AGG_FRAMES: dict[str, tuple[list[str], str]] = {
    "prop_counts": (["prop_key"], "n_values"),
    "edge_prop_counts": (["prop_key"], "n_values"),
    "type_counts": (["type"], "n_nodes"),
    "name_counts": (["name"], "n"),
    "id_counts": (["id"], "n"),
    "edge_summary": (["from_sig", "edge_type", "to_sig", "ds_sig"], "n_edges"),
}

_BUCKET_KEYS = {"merged": "node_id", "nodes": "node_id", "edges": "from_id"}
N_STATE_BUCKETS = 16  # tests; a 100 TB graph would use O(10k) buckets


def _write_text(spark, path: str, text: str) -> None:
    from .fsutil import fs_of

    jvm, fs = fs_of(spark, path)
    out = fs.create(jvm.org.apache.hadoop.fs.Path(path), True)
    out.write(bytearray(text.encode()))
    out.close()


def _read_text(spark, path: str) -> str | None:
    from .fsutil import fs_of

    jvm, fs = fs_of(spark, path)
    p = jvm.org.apache.hadoop.fs.Path(path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode()
    finally:
        stream.close()


def _try_read_manifest(spark, vdir: str) -> dict | None:
    import json as _json

    text = _read_text(spark, f"{vdir}/manifest.json")
    return _json.loads(text) if text else None


def _bucket_table_name(root: str, relpath: str) -> str:
    import hashlib

    return "grebi_snap_" + hashlib.md5(f"{root}/{relpath}".encode()).hexdigest()[:16]


def _write_bucketed_seg(df: DataFrame, root: str, relpath: str, key: str) -> dict:
    """One immutable BUCKETED segment: written through an external table
    (files land at the segment path, the catalog entry is dropped — the
    files are the artifact), repartitioned by the bucket key first so
    each bucket is one file. Returns the manifest bucket spec the reader
    uses to re-register the table."""
    spark = df.sparkSession
    name = _bucket_table_name(root, relpath)
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        df.repartition(N_STATE_BUCKETS, key)
        .write.format("parquet")
        .bucketBy(N_STATE_BUCKETS, key)
        .sortBy(key)
        .option("path", f"{root}/{relpath}")
        .mode("overwrite")
        .saveAsTable(name)
    )
    spark.sql(f"DROP TABLE IF EXISTS {name}")  # external: files stay
    return {"key": key, "n": N_STATE_BUCKETS, "ddl": df.schema.toDDL()}


def _read_bucketed_seg(spark, root: str, relpath: str, bucket: dict) -> DataFrame:
    """Reopen a bucketed segment AS a bucketed table (re-registering the
    external table from the manifest's spec): downstream joins keyed on
    the bucket key then read co-located buckets with no Exchange.

    The catalog entry is transient — created, resolved, dropped —
    mirroring ``_write_bucketed_seg``: ``spark.table`` analyzes eagerly
    (the returned DataFrame holds the resolved bucketed relation), and
    a permanent entry would dangle at a deleted LOCATION after
    compaction/prune removes the segment. The location path is escaped
    for the SQL string literal.

    The name is unique PER CALL (uuid suffix on the segment digest):
    concurrent loads of the same segment are real (the HTTP facade's
    ThreadingHTTPServer serving while a maintenance loop reloads, two
    threads calling load_state_version), and a shared deterministic
    name would let one call's DROP land between another's CREATE and
    ``spark.table`` — AnalysisException on a healthy segment."""
    import uuid as _uuid

    name = f"{_bucket_table_name(root, relpath)}_{_uuid.uuid4().hex[:12]}"
    loc = f"{root}/{relpath}".replace("\\", "\\\\").replace("'", "\\'")
    spark.sql(
        f"CREATE TABLE {name} ({bucket['ddl']}) USING parquet "
        f"CLUSTERED BY ({bucket['key']}) SORTED BY ({bucket['key']}) "
        f"INTO {bucket['n']} BUCKETS LOCATION '{loc}'"
    )
    df = spark.table(name)  # eager analysis pins the resolved relation
    spark.sql(f"DROP TABLE IF EXISTS {name}")  # external: files stay
    return df


def _frame_from_levels(spark, root: str, fname: str, levels: list[dict]) -> DataFrame:
    """Fold a frame's manifest levels back into one DataFrame.

    Row frames: level i's tombstones anti-join (broadcast, delta-sized)
    the union of levels < i, then level i's segment appends — the
    merge-on-read plan; chain length = folds since the last full version
    (``compact_state_versions`` resets it to 1). Count frames: per-key
    SUM over the base counts plus every signed delta, keys ≤ 0 vanish;
    a single level reads as a plain scan."""
    def scan(path: str, ddl: str | None) -> DataFrame:
        # manifest-recorded schema: no inference job, and an EMPTY
        # segment (a bucketed writer emits no file at all for an empty
        # frame) still reads as a typed empty scan
        reader = spark.read.schema(ddl) if ddl else spark.read
        return reader.parquet(f"{root}/{path}")

    if fname in _AGG_FRAMES:
        keys, n = _AGG_FRAMES[fname]
        parts = [scan(lv["agg"], lv.get("ddl")) for lv in levels]
        if len(parts) == 1:
            return parts[0]
        return (
            reduce(DataFrame.unionByName, parts)
            .groupBy(*keys)
            .agg(F.sum(n).alias(n))
            .filter(F.col(n) > 0)
        )
    df, cols = None, None
    for lv in levels:
        if df is not None:
            for d in lv.get("dels", []):
                col, path, ddl = d[0], d[1], (d[2] if len(d) > 2 else None)
                df = df.join(F.broadcast(scan(path, ddl)), col, "left_anti")
        seg = lv.get("seg")
        if seg:
            if lv.get("bucket") and df is None and len(levels) == 1:
                sdf = _read_bucketed_seg(spark, root, seg, lv["bucket"])
            else:
                sdf = scan(seg, lv.get("ddl") or (lv.get("bucket") or {}).get("ddl"))
            cols = cols or sdf.columns
            df = sdf if df is None else df.unionByName(sdf)
    # the USING anti-joins front their key column; restore base order
    return df.select(*cols) if cols else df


def _compose_levels(levels: list[FrameLevel]) -> FrameLevel:
    """Fold a frame's pending FrameLevels (one per verb since the last
    snapshot) into ONE level, so a snapshot after N folds writes ~12
    artifacts instead of N×12 and the version's read chain grows by one
    level per SNAPSHOT rather than per fold.

    Algebra: (old − T₁ + A₁) − T₂ + A₂ ≡ old − (T₁ ∪ T₂) +
    ((A₁ − T₂) + A₂) — tombstones union per column, earlier adds pass
    through the later tombstones' anti-joins (all delta × delta).
    Signed count levels just concatenate (the read sums them)."""
    if len(levels) == 1:
        return levels[0]
    if levels[0].agg is not None:
        return FrameLevel(
            agg=reduce(DataFrame.unionByName, [lv.agg for lv in levels])
        )
    adds: DataFrame | None = None
    dels: dict[str, DataFrame] = {}
    for lv in levels:
        for col, keys_df in lv.dels:
            keys = keys_df.select(F.col(keys_df.columns[0]).alias(col))
            if adds is not None:
                adds = adds.join(F.broadcast(keys), col, "left_anti")
            dels[col] = keys if col not in dels else dels[col].unionByName(keys)
        if lv.adds is not None:
            adds = lv.adds if adds is None else adds.unionByName(lv.adds)
    return FrameLevel(adds=adds, dels=list(dels.items()))


def _write_level(
    root: str, fname: str, vname: str, j: int, lv: FrameLevel
) -> dict:
    """Persist one pending FrameLevel's data files (all delta-sized) and
    return its manifest entry. mode=overwrite: a crashed uncommitted
    save may have left an orphan directory under the same name."""
    if lv.agg is not None:
        rel = f"data/{fname}/agg-{vname}-{j}"
        lv.agg.coalesce(4).write.mode("overwrite").parquet(f"{root}/{rel}")
        return {"agg": rel, "ddl": lv.agg.schema.toDDL()}
    dels = []
    for col, keys_df in lv.dels:
        rel = f"data/{fname}/del-{vname}-{j}-{col}"
        keys = keys_df.select(F.col(keys_df.columns[0]).alias(col))
        keys.coalesce(4).write.mode("overwrite").parquet(f"{root}/{rel}")
        dels.append([col, rel, keys.schema.toDDL()])
    entry: dict = {"dels": dels, "seg": None}
    if lv.adds is not None:
        rel = f"data/{fname}/seg-{vname}-{j}"
        lv.adds.coalesce(8).write.mode("overwrite").parquet(f"{root}/{rel}")
        entry["seg"] = rel
        entry["ddl"] = lv.adds.schema.toDDL()
    return entry


def _write_full_level(
    frames: dict[str, DataFrame], root: str, fname: str, vname: str, nparts: int
) -> dict:
    """Persist one frame in FULL as a fresh base segment (node-keyed
    frames bucketed, count frames as absolute agg bases)."""
    df = frames[fname]
    if fname in _AGG_FRAMES:
        rel = f"data/{fname}/agg-{vname}-full"
        df.coalesce(nparts).write.mode("overwrite").parquet(f"{root}/{rel}")
        return {"agg": rel, "ddl": df.schema.toDDL()}
    rel = f"data/{fname}/seg-{vname}-full"
    if fname in _BUCKET_KEYS:
        bucket = _write_bucketed_seg(df, root, rel, _BUCKET_KEYS[fname])
        return {"seg": rel, "dels": [], "bucket": bucket}
    df.coalesce(nparts).write.mode("overwrite").parquet(f"{root}/{rel}")
    return {"seg": rel, "dels": [], "ddl": df.schema.toDDL()}


def save_state_version(state: GraphState, root: str) -> str:
    """Durable snapshot with ATOMIC publication and DELTA-SIZED cost:
    persist the state as a new MANIFEST version (v1, v2, …) under
    ``root`` and publish it by landing its _COMMITTED marker + swinging
    the root's CURRENT pointer — the same blue/green layout the durable
    ANN index uses (fsutil).

    When the state derives from this root's current version by folds
    (``load_state_current`` → verbs), the save writes ONLY the pending
    FrameLevels — each fold's delta segments, tombstone key sets, and
    signed count deltas — and a manifest that SHARES every other data
    file with the base version by reference. Snapshot cost tracks the
    fold's delta, not the corpus. A from-scratch or foreign state falls
    back to a full base write (node-keyed frames bucketed).

    Operational shape at 100 TB: every maintenance fold checkpoints for
    the price of its own delta, and a BAD DUMP is undone by
    ``rollback_state`` — an O(1) pointer swap — instead of re-running
    the reference's full-rebuild pipeline (the reference's only recovery
    story for a bad release is rebuilding the graph from the surviving
    dumps, nextflow/01_create_subgraph.nf re-runs the world). Returns
    the published version name."""
    import dataclasses
    import json as _json

    from .fsutil import claim_version, publish_version

    spark = state.rows.sparkSession
    # CAS claim: concurrent snapshot publishers get disjoint directories
    vname = claim_version(spark, root)
    base_manifest = None
    if state.base_root == root and state.base_version:
        base_manifest = _try_read_manifest(spark, f"{root}/{state.base_version}")
    if base_manifest is not None:
        frames = {k: list(v) for k, v in base_manifest["frames"].items()}
        for fname, levels in state.pending.items():
            lv = _compose_levels(levels)
            frames[fname].append(_write_level(root, fname, vname, 0, lv))
        cfg = base_manifest["config_json"]
    else:
        fdict = _state_frames_dict(state)
        nparts = int(
            spark.conf.get("spark.sql.shuffle.partitions", "32")
        )
        frames = {
            fname: [_write_full_level(fdict, root, fname, vname, nparts)]
            for fname in _STATE_FRAMES
        }
        cfg = _json.dumps(dataclasses.asdict(state.config))
    _write_text(
        spark,
        f"{root}/{vname}/manifest.json",
        _json.dumps({"config_json": cfg, "frames": frames}),
    )
    publish_version(spark, root, vname)
    state.base_root, state.base_version, state.pending = root, vname, {}
    return vname


def _load_manifest_state(spark, root: str, vname: str) -> GraphState:
    import json as _json

    man = _try_read_manifest(spark, f"{root}/{vname}")
    config = _config_from_raw(_json.loads(man["config_json"]))
    rd = {
        f: _frame_from_levels(spark, root, f, man["frames"][f])
        for f in _STATE_FRAMES
    }
    st = _assemble_state(rd, config)
    st.base_root, st.base_version = root, vname
    return st


def load_state_current(spark, root: str) -> GraphState:
    """Reload whichever snapshot version ``root``'s CURRENT pointer
    serves (falling back to the highest committed version, then to a
    flat pre-versioning layout — fsutil.resolve_version_dir)."""
    from .fsutil import resolve_version_dir

    vdir = resolve_version_dir(spark, root)
    if _try_read_manifest(spark, vdir) is not None and vdir != root:
        return _load_manifest_state(spark, root, vdir.rsplit("/", 1)[-1])
    return load_state(spark, vdir)


def load_state_version(spark, root: str, vname: str) -> GraphState:
    """Reload a SPECIFIC published snapshot version (time travel): any
    committed version under ``root`` stays readable until
    ``prune_state_versions`` — the input to version diffing and to
    serving a pinned historical release."""
    from .fsutil import fs_of

    jvm, fs = fs_of(spark, root)
    P = jvm.org.apache.hadoop.fs.Path
    if not fs.exists(P(f"{root}/{vname}/_COMMITTED")):
        raise ValueError(f"{root}/{vname} is not a committed snapshot")
    if _try_read_manifest(spark, f"{root}/{vname}") is not None:
        return _load_manifest_state(spark, root, vname)
    return load_state(spark, f"{root}/{vname}")  # pre-manifest layout


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


def _segment_vname(segname: str) -> str | None:
    """The publishing version a data-segment directory belongs to —
    segment names embed it by construction (``seg-<vname>-…``,
    ``del-<vname>-…-<col>``, ``agg-<vname>-…``, ``_write_level`` /
    ``_write_full_level``). None for a name outside that vocabulary."""
    parts = segname.split("-")
    if (
        len(parts) >= 2
        and parts[0] in ("seg", "del", "agg")
        and parts[1].startswith("v")
        and parts[1][1:].isdigit()
    ):
        return parts[1]
    return None


def prune_state_versions(
    spark, root: str, claim_grace_sec: float = 600.0, report: bool = False
):
    """Delete every snapshot version except CURRENT's — run once old
    readers are drained. Returns the number of version directories
    removed (or, with ``report=True``, a dict with the versions removed,
    the orphan data segments swept, and the in-flight claims spared —
    the observability a 100 TB operator wants from a GC pass).

    With manifest versions this is a REACHABILITY sweep, not a directory
    delete: version directories hold only manifests, and data files are
    shared across versions, so after dropping the retired manifests every
    data directory referenced by NO retained manifest is garbage and is
    deleted (the Iceberg expire-snapshots shape). Files the kept version
    references are never touched — time-travel reads of the kept version
    stay isolated across the prune.

    CONCURRENT-PUBLISHER safety: ``save_state_version`` writes its data
    segments BEFORE its manifest lands (the longest phase of a save), so
    an in-flight publisher's fresh ``seg-/del-/agg-<vname>-*`` dirs are
    referenced by NO committed manifest yet. The grace window therefore
    protects BOTH halves of such a save: ``prune_versions_report``
    spares the claimed-but-uncommitted version DIRECTORY, and the data
    sweep here skips every segment whose name embeds a spared claim's
    vname (segment names encode their publisher by construction) — the
    publisher then commits a manifest whose files all still exist. Safe
    by default (600 s grace); pass ``claim_grace_sec=0`` only when the
    operator knows no save is in flight."""
    from .fsutil import (
        fs_of,
        hadoop_ls,
        prune_versions_report,
        resolve_version_dir,
    )

    removed, spared = prune_versions_report(
        spark, root, claim_grace_sec=claim_grace_sec
    )
    spared_set = set(spared)
    kept = _try_read_manifest(spark, resolve_version_dir(spark, root))
    if kept is None:
        # pre-manifest layout: directory prune was complete
        return (
            {"versions_removed": removed, "orphan_segments_removed": 0,
             "spared_claims": spared}
            if report
            else removed
        )
    referenced = set()
    for levels in kept["frames"].values():
        for lv in levels:
            for key in ("seg", "agg"):
                if lv.get(key):
                    referenced.add(lv[key])
            for d in lv.get("dels", []):
                referenced.add(d[1])
    jvm, fs = fs_of(spark, root)
    orphans = 0
    for frame_dir in hadoop_ls(spark, f"{root}/data", dirs_only=True):
        fname = frame_dir.getPath().getName()
        for seg in hadoop_ls(spark, frame_dir.getPath(), dirs_only=True):
            segname = seg.getPath().getName()
            rel = f"data/{fname}/{segname}"
            if rel in referenced or _segment_vname(segname) in spared_set:
                continue  # kept-manifest file, or an in-flight save's
            fs.delete(seg.getPath(), True)
            orphans += 1
    if report:
        return {
            "versions_removed": removed,
            "orphan_segments_removed": orphans,
            "spared_claims": spared,
        }
    return removed


def compact_state_versions(spark, root: str) -> str:
    """Rewrite the CURRENT version as a fresh FULL base (one segment per
    frame, node-keyed frames re-bucketed) and publish it — the major
    compaction that resets every frame's level chain to length 1. Run it
    every N folds or when merge-on-read amplification shows; a following
    ``prune_state_versions`` then reclaims the superseded delta files.
    Values are untouched (suite-asserted)."""
    st = load_state_current(spark, root)
    st.base_root = st.base_version = None  # force the full-base path
    return save_state_version(st, root)


def state_chain_length(spark, root: str) -> int:
    """The CURRENT version's longest frame level chain — the
    merge-on-read amplification metric (levels folded since the last
    full base). 1 means a freshly-compacted (or first) snapshot; 0
    means a pre-manifest flat layout."""
    from .fsutil import resolve_version_dir

    m = _try_read_manifest(spark, resolve_version_dir(spark, root))
    if m is None:
        return 0
    return max(len(levels) for levels in m["frames"].values())


def maintain_state_versions(
    spark, root: str, max_chain: int = 8
) -> str | None:
    """AUTO-compaction policy (the ``compact_ann_index`` max_files
    shape, applied to snapshot level chains): every ``save_state_version``
    appends one level per touched frame, so the merge-on-read reload
    plan grows one anti-join per fold; when CURRENT's longest chain
    exceeds ``max_chain``, rewrite it as a fresh full base
    (``compact_state_versions``) — resetting reload cost to one bucketed
    scan per frame — else no-op. Call it after each snapshot in a
    maintenance loop; values are untouched (suite-asserted) and the
    superseded delta files become reclaimable by the next
    ``prune_state_versions`` (left to the operator: readers of old
    versions must drain first). Returns the compacted version name, or
    None when the chain is within bounds."""
    if state_chain_length(spark, root) <= max_chain:
        return None
    return compact_state_versions(spark, root)


def compact_state(state: GraphState) -> GraphState:
    """Flatten the pass-through chains a SEQUENCE of verbs builds up.

    Each verb leaves the unchanged half of every corpus table as a lazy
    broadcast-anti over the previous state's tables — LSM-style levels:
    correct at any depth, but after many verbs every scan re-applies the
    whole chain. One corpus materialisation per table resets every chain
    to a flat checkpoint scan; run it every N verbs, or when scan
    amplification shows. The durable form of the same operation is
    ``save_state`` (write) + ``load_state`` (reopen) — at rest this is
    the compaction a bucketed layout runs by rewriting its levels.

    Compaction also resets PARTITION COUNTS: every verb's unions sum
    their children's partitions (union preserves partitioning), so a
    long verb sequence inflates each table to thousands of near-empty
    partitions and fold time becomes task-scheduling overhead — a
    localCheckpoint alone flattens the LINEAGE but keeps the inflated
    layout (measured: 50 sequential folds grew stages from 160 to
    2200+ tasks and fold latency 6×). Each table is therefore coalesced
    back to the session's shuffle-partition setting before the
    checkpoint — a narrow (no-shuffle) repair, a no-op when the count
    is already sane."""
    counts = _ensure_counts(state)
    g = state.graph
    nparts = int(
        g.merged.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )

    def _flat(df: DataFrame) -> DataFrame:
        return df.coalesce(nparts).localCheckpoint()

    merged = _flat(g.merged)
    nodes = _flat(g.nodes)
    edges = _flat(g.edges)
    groups = _flat(g.groups)
    name_counts = _flat(counts.name_counts)
    id_counts = _flat(counts.id_counts)
    type_counts = _flat(g.index.type_counts)
    index = GraphIndex(
        prop_counts=_flat(g.index.prop_counts),
        edge_prop_counts=_flat(g.index.edge_prop_counts),
        type_counts=type_counts,
        names=name_counts.select("name"),
        ids=id_counts.select("id"),
        metadata=nodes,
    )
    graph = BuiltGraph(
        groups=groups,
        merged=merged,
        nodes=nodes,
        edges=edges,
        index=index,
        display_types=_flat(g.display_types),
        edge_summary=_flat(g.edge_summary),
    )
    return GraphState(
        rows=_flat(state.rows),
        graph=graph,
        config=state.config,
        counts=IndexCounts(name_counts=name_counts, id_counts=id_counts),
        # compaction changes plans, not values: the manifest provenance
        # (and the pending FrameLevels, themselves checkpoint-backed)
        # stay valid relative to the same base version
        base_root=state.base_root,
        base_version=state.base_version,
        pending={k: list(v) for k, v in state.pending.items()},
    )
