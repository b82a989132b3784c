"""Subgraph configuration.

Mirrors the semantics of the reference's subgraph config
(configs/subgraph_configs/ebi_full_monarch.json): which properties carry
identity, seed equivalence groups (including *property-name* merging),
ontology superclasses lifted into grebi:type, and exclusion lists.
"""

from __future__ import annotations

import json
from dataclasses import dataclass


@dataclass(frozen=True)
class SubgraphConfig:
    name: str = "default"
    # properties whose values are aliases of the node
    # (ebi_full_monarch.json:5-28)
    identifier_props: tuple[str, ...] = (
        "id",
        "grebi:equivalentTo",
        "owl:sameAs",
        "skos:exactMatch",
    )
    # seed equivalence cliques; note these may merge *property names*
    # (ebi_full_monarch.json:35-43, applied to keys in
    # 02_assign_ids/grebi_assign_ids/src/main.rs:121-129)
    additional_equivalence_groups: tuple[tuple[str, ...], ...] = ()
    # ontology ancestors that, when present in ols:directAncestor, are
    # added to grebi:type (ebi_full_monarch.json:29-34)
    type_superclasses: tuple[str, ...] = ()
    # props dropped at merge time (grebi_merge --exclude-props)
    exclude_props: tuple[str, ...] = ()
    # edge types never materialised (grebi_materialise --exclude)
    exclude_edges: tuple[str, ...] = ()
    # edge types skipped only when from == to (--exclude-self-referential)
    exclude_self_referential_edges: tuple[str, ...] = ()

    @staticmethod
    def from_json(path: str) -> "SubgraphConfig":
        with open(path) as f:
            raw = json.load(f)
        return SubgraphConfig(
            name=raw.get("name", "default"),
            identifier_props=tuple(raw.get("identifier_props", ("id",))),
            additional_equivalence_groups=tuple(
                tuple(g) for g in raw.get("additional_equivalence_groups", ())
            ),
            type_superclasses=tuple(raw.get("type_superclasses", ())),
            exclude_props=tuple(raw.get("exclude_props", ())),
            exclude_edges=tuple(raw.get("exclude_edges", ())),
            exclude_self_referential_edges=tuple(
                raw.get("exclude_self_referential_edges", ())
            ),
        )
