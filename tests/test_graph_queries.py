"""The reference's own Cypher queries (queries/*.cypher, ic_scores
notebook) run against a fixture graph through the graph query layer."""

import json

import pytest

from grebi_spark.config import SubgraphConfig
from grebi_spark.pipeline import build_graph
from grebi_spark.plans.graph_queries import (
    genes_to_diseases_ranked_by_otar_score,
    graph_stats,
    ic_scores,
    mouse_genes_to_human_diseases,
    mouse_phenotypes_by_system,
    resolve_alias,
)
from grebi_spark.sources.jsonl import JsonlTransform, jsonl_to_nodes

from . import fixtures as FX

CONFIG = SubgraphConfig(
    name="fixture",
    identifier_props=("id", "owl:sameAs", "skos:exactMatch", "grebi:equivalentTo"),
    additional_equivalence_groups=(("grebi:name", "ols:label", "impc:name"),),
    exclude_edges=("id",),
)

EXTRA = [
    # gwas SNP: associated with the disease; points at the human gene
    {
        "id": "rs42",
        "grebi:type": "gwas:SNP",
        "gwas:associated_with": [
            {"grebi:value": "mondo:0005044", "grebi:properties": {"gwas:P-VALUE": ["5e-8"]}}
        ],
        "gwas:snpGene": ["hgnc:1101"],
    },
    # evidence linking snp, with variantEffect (for the ranked query)
    {
        "id": "otar_ev_101",
        "grebi:type": "otar:Evidence",
        "otar:snp": ["rs42"],
        "otar:variantEffect": ["missense"],
        "otar:score": ["0.93"],
        "otar:targetId": ["hgnc:1101"],
        "otar:diseaseId": ["mondo:0005044"],
    },
    # phenotype chain: phenotype -> anatomical entity -> system
    {"id": "uberon:heart", "grebi:type": "ols:Class", "ols:label": ["heart"],
     "bfo:part_of": ["uberon:cardio"]},
    {"id": "uberon:cardio", "grebi:type": "ols:Class",
     "ols:label": ["cardiovascular system"],
     "ols:directAncestor": ["uberon:0000467"]},
    {"id": "mp:0002169_link", "grebi:type": "ols:Class",
     "upheno:0000001": ["uberon:heart"], "owl:sameAs": ["mp:0002169"]},
    # the disease also carries its biolink typing (as monarch KGX provides
    # in the real graph) — the reference Cypher queries filter on it
    {"id": "mondo:0005044", "grebi:type": "biolink:Disease"},
    # chemical affecting the gene (notebooks/chemicals_and_diseases.ipynb
    # traverses chemical -[biolink:affects]-> gene <- evidence -> disease)
    {"id": "chebi:6801", "grebi:type": "biolink:ChemicalEntity",
     "grebi:name": ["Metformin"], "biolink:affects": ["hgnc:1101"]},
]


@pytest.fixture(scope="module")
def graph(spark):
    def lines_df(rows):
        return spark.createDataFrame([(json.dumps(r),) for r in rows], ["value"])

    hgnc = jsonl_to_nodes(
        lines_df(
            [
                {"id": "hgnc:1101", "grebi:type": "hgnc:Gene", "hgnc:symbol": ["BRCA2"],
                 "grebi:name": ["BRCA2"]},
            ]
        ),
        "hgnc",
    )
    impc = jsonl_to_nodes(
        lines_df(FX.IMPC_JSONL),
        "impc",
        transform=JsonlTransform(
            rename_fields=(("mgiGeneAccessionId", "id"), ("phenotypes", "biolink:has_phenotype")),
            inject_type="impc:MouseGene",
            key_prefix="impc:",
        ),
    )
    otar = jsonl_to_nodes(
        lines_df(FX.OTAR_JSONL),
        "otar",
        transform=JsonlTransform(inject_type="otar:Evidence", key_prefix="otar:"),
    )
    ols = jsonl_to_nodes(lines_df(FX.OLS_JSONL), "ols")
    kgx_n = jsonl_to_nodes(
        lines_df(FX.KGX_NODES_JSONL),
        "monarch",
        transform=JsonlTransform(
            rename_fields=(("category", "grebi:type"), ("name", "grebi:name"))
        ),
    )
    extra = jsonl_to_nodes(lines_df(EXTRA), "extra")
    return build_graph([hgnc, impc, otar, ols, kgx_n, extra], CONFIG)


def test_mouse_genes_to_human_diseases(graph):
    rows = mouse_genes_to_human_diseases(graph).collect()
    assert len(rows) >= 2
    # ordered by score desc: 0.93 evidences first
    assert rows[0]["score"] >= rows[-1]["score"]
    assert rows[0]["mouse_gene_name"] == "Brca2"
    names = {r["disease_name"] for r in rows}
    assert "hypertensive disorder" in names


def test_genes_to_diseases_ranked(graph):
    rows = genes_to_diseases_ranked_by_otar_score(graph, "mondo:0005044").collect()
    assert len(rows) >= 1
    assert rows[0]["gene_symbol"] == "BRCA2"
    assert rows[0]["variant_effect"] == "missense"
    assert rows[0]["otar_score"] == 0.93
    assert rows[0]["disease_name"] == "hypertensive disorder"


def test_mouse_phenotypes_by_system(graph):
    rows = mouse_phenotypes_by_system(graph).collect()
    assert len(rows) == 1
    assert rows[0]["gene_name"] == "Brca2"
    assert rows[0]["system_name"] == "cardiovascular system"
    assert rows[0]["n_phenotype"] == 1


def test_ic_scores(graph):
    rows = {r["node_id"]: r for r in ic_scores(graph, "ols:directParent").collect()}
    # mondo:0000001 is the root: 2 descendants (0005044, 0001134)
    assert rows["mondo:0000001"]["num_desc"] == 2
    assert rows["mondo:0005044"]["num_desc"] == 1
    assert rows["mondo:0000001"]["ic"] == 0.0
    assert rows["mondo:0005044"]["ic"] > 0


def test_resolve_alias(graph):
    # efo:0000537 was merged into mondo:0005044 via sameAs in EXTRA? no —
    # via the kgx/ols fixtures mondo & efo ids: assert via mp alias instead
    got = resolve_alias(graph, "mp:0002169").collect()
    assert len(got) == 1


def test_graph_stats(graph):
    stats = {r["entity"]: r["n"] for r in graph_stats(graph).collect()}
    assert stats["nodes"] > 5
    assert stats["edges"] > 5


def test_search_nodes(graph):
    from grebi_spark.plans.graph_queries import search_nodes

    page, facets = search_nodes(graph, "hypertensive", facet_fields=("types",))
    rows = page.collect()
    assert len(rows) == 1
    assert rows[0]["node_id"] == "mondo:0005044"
    assert rows[0]["score"] == 900  # name hit, not id hit
    fc = {r["value"]: r["count"] for r in facets["types"].collect()}
    assert fc.get("ols:Class") == 1


def test_incoming_edges_page(graph):
    from grebi_spark.plans.graph_queries import incoming_edges

    rows = incoming_edges(graph, "mondo:0005044").collect()
    types = {r["edge_type"] for r in rows}
    assert "otar:diseaseId" in types
    assert "gwas:associated_with" in types
    # hydration: from-node names present for the evidence edge
    ev = [r for r in rows if r["edge_type"] == "gwas:associated_with"][0]
    assert ev["from_id"] == "rs42"
