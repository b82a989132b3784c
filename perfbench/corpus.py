"""Seeded synthetic GrEBI-shaped corpus plus its ground truth.

The corpus is a set of per-datasource INGESTED parquet files (the
long-form ``grebi_spark.schema.INGESTED`` shape: one row per property
value of one source entity) describing ``n_concepts`` concepts seen by
``n_sources`` datasources.

It carries the features that make grouping and merging do real work:

* cross-source ``owl:sameAs`` / ``skos:exactMatch`` links, so every
  concept is a clique of ids from several sources;
* a few chains of links (concept k -> concept k+1 -> ...), which join
  cliques into longer chains and deepen connected components; their
  number and length are fixed, so every seed needs the same depth;
* a few hub identifiers shared by many concepts (``grebi:equivalentTo``),
  which create mega-cliques past the reference's 50-member warning;
* reference-valued properties (``biolink:related_to``) that become edges;
* reified values (non-null ``value_props``) on some references and
  descriptions;
* names drawn from a small vocabulary, so search and suggest match.

The ground truth is computed independently of Spark: a Python union-find
over every entity's alias set gives the cliques, the canonical id per
clique follows the engine's id score, and from those the expected node
count, edge set, alias -> node map, names and degrees follow.

Run as a script to write a corpus and print its size:
``python3 perfbench/corpus.py --seed 1 --out /tmp/corpus``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
from dataclasses import dataclass, field

SUBGRAPH = "main"
IDENTIFIER_PROPS = ("id", "grebi:equivalentTo", "owl:sameAs", "skos:exactMatch")
REF_PROP = "biolink:related_to"
NAME_PROPS = ("grebi:name", "grebi:synonym")

# base source prefixes, most alphabetic first: the canonical id of a
# clique is its most alphabetic CURIE, so the first present source wins
BASE_PREFIXES = ("mondo", "ncit", "omim", "efo", "hp", "doid", "mesh", "umls")
TYPES = ("biolink:Disease", "biolink:Gene", "biolink:PhenotypicFeature")
WORDS = (
    "acute", "benign", "cardiac", "dermal", "early", "familial", "genetic",
    "hepatic", "immune", "juvenile", "kinase", "lymph", "muscular", "neural",
    "ocular", "renal", "spinal", "thyroid", "vascular", "syndrome", "disease",
    "deficiency", "atrophy", "dystrophy",
)

# sources describing concept k: PRESENT_CYCLE[k % 6] (mean 2.5)
PRESENT_CYCLE = (1, 2, 2, 3, 3, 4)

INGESTED_FIELDS = (
    ("subgraph", False),
    ("datasource", False),
    ("entity_id", False),
    ("prop_key", False),
    ("value", True),
    ("value_props", True),
)


@dataclass(frozen=True)
class CorpusSpec:
    n_concepts: int = 1200
    n_sources: int = 4
    n_chains: int = 8
    chain_len: int = 4            # concepts per chain
    n_hubs: int = 2
    hub_members: int = 60         # concepts sharing one hub identifier


def id_score(i: str) -> int:
    """The engine's canonical-id score (lower wins), re-implemented from
    the reference's rule: grebi:* first, then biolink:*, then CURIE-like
    ids by descending count of letters, then other ids."""
    if i.startswith("grebi:"):
        return -2147483648
    if i.startswith("biolink:"):
        return -2147483648 + 1000
    alpha = len(re.sub("[^A-Za-z]", "", i))
    curie = ":" in i and not i.startswith("http")
    return (-1000 if curie else 0) - alpha


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def add(self, x: str) -> None:
        self.parent.setdefault(x, x)

    def find(self, x: str) -> str:
        root = x
        while self.parent[root] != root:
            root = self.parent[root]
        while self.parent[x] != root:
            self.parent[x], x = root, self.parent[x]
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


@dataclass
class Entity:
    datasource: str
    entity_id: str
    props: list[tuple[str, str, str | None]]  # (prop_key, value, value_props)

    def aliases(self) -> set[str]:
        out = {self.entity_id}
        out.update(v for k, v, _ in self.props if k in IDENTIFIER_PROPS)
        return out


@dataclass
class Truth:
    """What a correct build of some set of datasources must contain."""

    canon: dict[str, str]                 # alias -> node id
    nodes: set[str]
    names: dict[str, set[str]]            # node id -> names
    edges: set[tuple]                     # (from, prop, to, value_props)
    max_clique: int                       # ids in the largest clique
    out_deg: dict[str, int] = field(default_factory=dict)
    in_deg: dict[str, int] = field(default_factory=dict)

    def search_hits(self, q: str) -> int:
        """Nodes the boost-ladder /search matches: id or a name contains q."""
        ql = q.lower()
        return sum(
            1
            for n in self.nodes
            if ql in n.lower() or any(ql in m.lower() for m in self.names[n])
        )

    def bm25_hits(self, term: str) -> int:
        """Nodes whose names carry the token ``term`` (BM25 match rule)."""
        return sum(
            1
            for n in self.nodes
            if any(term in re.split(r"[^a-z0-9]+", m.lower()) for m in self.names[n])
        )

    def suggest(self, prefix: str, size: int = 10) -> list[str]:
        pl = prefix.lower()
        names = {m for ns in self.names.values() for m in ns if m.lower().startswith(pl)}
        return sorted(names, key=lambda m: (len(m), m))[:size]


def compute_truth(entities: list[Entity]) -> Truth:
    uf = UnionFind()
    for e in entities:
        al = sorted(e.aliases())
        for a in al:
            uf.add(a)
        for a in al[1:]:
            uf.union(al[0], a)
    members: dict[str, list[str]] = {}
    for a in uf.parent:
        members.setdefault(uf.find(a), []).append(a)
    canon_of_root = {
        r: min(ms, key=lambda i: (id_score(i), i)) for r, ms in members.items()
    }
    canon = {a: canon_of_root[uf.find(a)] for a in uf.parent}
    nodes = set(canon_of_root.values())
    names: dict[str, set[str]] = {n: set() for n in nodes}
    edges: set[tuple] = set()
    for e in entities:
        node = canon[e.entity_id]
        for k, v, vp in e.props:
            if k in NAME_PROPS:
                names[node].add(v)
            elif k == REF_PROP and v in canon:
                edges.add((node, k, canon[v], vp))
    out_deg: dict[str, int] = {}
    in_deg: dict[str, int] = {}
    for f, _, t, _ in edges:
        out_deg[f] = out_deg.get(f, 0) + 1
        in_deg[t] = in_deg.get(t, 0) + 1
    return Truth(
        canon=canon,
        nodes=nodes,
        names=names,
        edges=edges,
        max_clique=max(len(ms) for ms in members.values()),
        out_deg=out_deg,
        in_deg=in_deg,
    )


def _local(k: int) -> str:
    return f"{k:07d}"


def _reified(rng: random.Random, key: str) -> str:
    return json.dumps(
        {key: [f"ECO:{rng.randrange(10**6):07d}"]}, sort_keys=True, separators=(",", ":")
    )


def generate_entities(spec: CorpusSpec, seed: int) -> dict[str, list[Entity]]:
    """-> {datasource: entities}."""
    if spec.n_sources > len(BASE_PREFIXES):
        raise ValueError("too many sources for the prefix table")
    rng = random.Random(seed)
    prefixes = BASE_PREFIXES[: spec.n_sources]
    C = spec.n_concepts
    ctype = [rng.choice(TYPES) for _ in range(C)]
    cname = [f"{rng.choice(WORDS)} {rng.choice(WORDS)} {k}" for k in range(C)]
    # How much each concept and entity carries is a fixed function of its
    # position, so every seed gives the same row, entity and link counts
    # (and the same build work); the seed picks which sources, targets,
    # names and types.
    present = [
        sorted(rng.sample(range(spec.n_sources), min(spec.n_sources, PRESENT_CYCLE[k % 6])))
        for k in range(C)
    ]
    # hub membership: disjoint concept ranges, one hub id each
    hub_of: dict[int, str] = {}
    hub_starts = rng.sample(range(0, C - spec.hub_members, spec.hub_members), spec.n_hubs)
    for h, start in enumerate(hub_starts):
        for k in range(start, start + spec.hub_members):
            hub_of[k] = f"hub:HUB{h:04d}"
    # chains: disjoint concept ranges outside the hubs; each concept in
    # a chain but the last links to its successor
    taken = set(hub_of)
    chained: set[int] = set()
    while len(chained) < spec.n_chains * (spec.chain_len - 1):
        start = rng.randrange(C - spec.chain_len)
        span = range(start, start + spec.chain_len)
        if taken.isdisjoint(span):
            taken.update(span)
            chained.update(span[:-1])

    def some_id(k: int) -> str:
        return f"{prefixes[rng.choice(present[k])]}:{_local(k)}"

    # reference targets: Pareto-skewed over the concepts outside hubs in
    # number order (a hub among the most referenced concepts would fold
    # their edges together and make the edge count depend on the seed)
    targets = [k for k in range(C) if k not in hub_of]

    def ref_target(k: int) -> int:
        t = targets[min(int(rng.paretovariate(1.2)) - 1, len(targets) - 1)]
        return t if t != k else targets[-1]

    base: dict[str, list[Entity]] = {f"ds_{p}": [] for p in prefixes}
    for k in range(C):
        for j in present[k]:
            eid = f"{prefixes[j]}:{_local(k)}"
            props: list[tuple[str, str, str | None]] = [
                ("id", eid, None),
                ("grebi:type", ctype[k], None),
                ("grebi:name", cname[k], None),
            ]
            if (k + j) % 10 < 3:
                props.append(("grebi:synonym", f"{rng.choice(WORDS)} {cname[k]}", None))
            # cross-source equivalences: 1-2 other sources' ids for k
            others = [jj for jj in range(spec.n_sources) if jj != j]
            for i, jj in enumerate(rng.sample(others, min(len(others), 1 + (k + j) % 2))):
                key = "owl:sameAs" if (k + j + i) % 2 == 0 else "skos:exactMatch"
                props.append((key, f"{prefixes[jj]}:{_local(k)}", None))
            if k in chained and j == present[k][0]:
                props.append(("skos:exactMatch", some_id(k + 1), None))
            if k in hub_of:
                props.append(("grebi:equivalentTo", hub_of[k], None))
            for i in range(1 + (k + 2 * j) % 3):
                vp = _reified(rng, "evidence") if (k + j + i) % 4 == 0 else None
                props.append((REF_PROP, some_id(ref_target(k)), vp))
            if (k + j) % 5 == 0:
                props.append(
                    ("description", f"note {rng.randrange(1000)}", _reified(rng, "source"))
                )
            base[f"ds_{prefixes[j]}"].append(Entity(f"ds_{prefixes[j]}", eid, props))

    return base


def _write_parquet(entities: list[Entity], path: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols: dict[str, list] = {name: [] for name, _ in INGESTED_FIELDS}
    for e in entities:
        for k, v, vp in e.props:
            cols["subgraph"].append(SUBGRAPH)
            cols["datasource"].append(e.datasource)
            cols["entity_id"].append(e.entity_id)
            cols["prop_key"].append(k)
            cols["value"].append(v)
            cols["value_props"].append(vp)
    # every column typed string, even one that is all null: Spark would
    # read an untyped null column as void and the index stage would fail
    schema = pa.schema([pa.field(n, pa.string(), nullable=nb) for n, nb in INGESTED_FIELDS])
    table = pa.Table.from_pydict(cols, schema=schema)
    pq.write_table(table, path, compression="snappy")
    return table.num_rows


@dataclass
class Corpus:
    spec: CorpusSpec
    seed: int
    base_paths: list[str]
    rows: int
    input_bytes: int
    base: dict[str, list[Entity]]
    _truth: Truth | None = None

    def entities(self) -> list[Entity]:
        return [e for es in self.base.values() for e in es]

    def truth(self) -> Truth:
        """What a correct build of the corpus must contain."""
        if self._truth is None:
            self._truth = compute_truth(self.entities())
        return self._truth


def identifier_pair_count(corpus: Corpus) -> int:
    """Distinct co-identifier edges the grouping stage receives: one star
    per entity from its least alias to each other alias."""
    pairs = set()
    for e in corpus.entities():
        al = sorted(e.aliases())
        pairs.update((al[0], a) for a in al[1:])
    return len(pairs)


def write_corpus(spec: CorpusSpec, seed: int, out_dir: str) -> Corpus:
    os.makedirs(out_dir, exist_ok=True)
    base = generate_entities(spec, seed)
    base_paths, rows = [], 0
    for ds, ents in base.items():
        path = os.path.join(out_dir, f"{ds}.parquet")
        rows += _write_parquet(ents, path)
        base_paths.append(path)
    input_bytes = sum(os.path.getsize(p) for p in base_paths)
    return Corpus(spec, seed, base_paths, rows, input_bytes, base)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    c = write_corpus(CorpusSpec(), a.seed, a.out)
    t = c.truth()
    print(
        json.dumps(
            {
                "rows": c.rows,
                "entities": sum(len(v) for v in c.base.values()),
                "nodes": len(t.nodes),
                "edges": len(t.edges),
                "aliases": len(t.canon),
                "max_clique": t.max_clique,
            }
        )
    )


if __name__ == "__main__":
    main()
