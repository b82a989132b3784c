"""End-to-end pipeline golden tests on the FIXTURES.md graph.

Asserts the reference's non-standard semantics (FIXTURES.md §3):
untyped cliques dropped, provenance dedup, edges only to existing nodes,
self-referential exclusion, sorted provenance arrays, deterministic sha1
edge ids across reruns.
"""

import pytest
from pyspark.sql import functions as F

from grebi_spark.config import SubgraphConfig
from grebi_spark.operators.normalise import PrefixMap
from grebi_spark.pipeline import build_graph
from grebi_spark.sources.jsonl import JsonlTransform, jsonl_to_nodes, kgx_edges_to_nodes
from grebi_spark.sources.tsv import tsv_to_nodes

from . import fixtures as FX

CONFIG = SubgraphConfig(
    name="fixture",
    identifier_props=(
        "id",
        "owl:sameAs",
        "skos:exactMatch",
        "grebi:equivalentTo",
        "hgnc:ensembl_gene_id",
    ),
    additional_equivalence_groups=(("grebi:name", "ols:label", "impc:name"),),
    type_superclasses=("mondo:0000001",),
    exclude_props=("ols:iri",),
    exclude_edges=("id",),
    exclude_self_referential_edges=("oboinowl:hasDbXref",),
)


def _lines_df(spark, lines):
    return spark.createDataFrame([(l,) for l in lines], ["value"])


@pytest.fixture(scope="module")
def graph(spark):
    hgnc_wide = spark.createDataFrame(FX.HGNC_TSV_ROWS, FX.HGNC_COLUMNS)
    hgnc = tsv_to_nodes(hgnc_wide, "hgnc", array_delimiter=r"\|")

    impc = jsonl_to_nodes(
        _lines_df(spark, FX.jsonl(FX.IMPC_JSONL)),
        "impc",
        transform=JsonlTransform(
            rename_fields=(("mgiGeneAccessionId", "id"),),
            inject_type="impc:MouseGene",
            key_prefix="impc:",
        ),
    )
    otar = jsonl_to_nodes(
        _lines_df(spark, FX.jsonl(FX.OTAR_JSONL)),
        "otar",
        transform=JsonlTransform(
            inject_type="otar:Evidence",
            key_prefix="otar:",
            value_prefix=(("otar:literature", "pmid:"),),
        ),
    )
    kgx_e = kgx_edges_to_nodes(
        spark.read.json(spark.sparkContext.parallelize(FX.jsonl(FX.KGX_EDGES_JSONL))),
        "monarch",
    )
    kgx_n = jsonl_to_nodes(
        _lines_df(spark, FX.jsonl(FX.KGX_NODES_JSONL)),
        "monarch",
        transform=JsonlTransform(
            rename_fields=(("category", "grebi:type"), ("name", "grebi:name")),
        ),
    )
    # sssom fixture: parsed inline (header handling tested separately)
    sssom = jsonl_to_nodes(
        _lines_df(
            spark,
            FX.jsonl(
                [
                    {
                        "id": "mondo:0005044",
                        "skos:exactMatch": ["efo:0000537"],
                        "sssom:mapping_justification": ["semapv:ManualMappingCuration"],
                    }
                ]
            ),
        ),
        "sssom",
    )
    ols = jsonl_to_nodes(_lines_df(spark, FX.jsonl(FX.OLS_JSONL)), "ols")

    pm = PrefixMap({"http://purl.obolibrary.org/obo/MONDO_": "mondo:"})
    return build_graph([hgnc, impc, otar, kgx_e, kgx_n, sssom, ols], CONFIG, prefix_map=pm)


def test_equivalence_merges_sssom_clique(graph):
    groups = {r["id"]: r["group_id"] for r in graph.groups.collect()}
    # mondo:0005044 ≡ efo:0000537, canonical = mondo (more alphabetic chars)
    assert groups["efo:0000537"] == "mondo:0005044"
    # property-name seed group: ols:label and impc:name fold into grebi:name
    assert groups["ols:label"] == "grebi:name"
    assert groups["impc:name"] == "grebi:name"


def test_merged_node_provenance(graph):
    disease = graph.merged.filter(
        (F.col("node_id") == "mondo:0005044") & (F.col("prop_key") == "grebi:name")
    ).collect()
    # ols:label value arrives via the renamed property key
    values = {r["value"] for r in disease}
    assert "hypertensive disorder" in values
    node = graph.nodes.filter(F.col("node_id") == "mondo:0005044").collect()[0]
    assert node["source_ids"] == sorted(node["source_ids"])
    assert "efo:0000537" in node["source_ids"]
    assert "mondo:0005044" in node["source_ids"]
    dss = set()
    for r in graph.merged.filter(F.col("node_id") == "mondo:0005044").collect():
        dss.update(r["datasources"])
    assert {"ols", "sssom", "otar"} <= dss or {"ols", "sssom"} <= dss


def test_untyped_clique_dropped(graph):
    assert graph.nodes.filter(F.col("node_id") == "dangling:1").count() == 0


def test_type_lifting(graph):
    # mondo:0001134 has directAncestor mondo:0000001 (configured superclass)
    node = graph.nodes.filter(F.col("node_id") == "mondo:0001134").collect()[0]
    assert "mondo:0000001" in node["types"]
    assert "ols:Class" in node["types"]


def test_prefix_normalisation(graph):
    # ols:iri was excluded from merge, but the IRI → CURIE rewrite happens
    # in values generally: check via sssom-free node id space (no http ids)
    assert graph.nodes.filter(F.col("node_id").startswith("http")).count() == 0


def test_edges_only_to_existing_nodes(graph):
    node_ids = {r["node_id"] for r in graph.nodes.collect()}
    for e in graph.edges.collect():
        assert e["to_id"] in node_ids
        assert e["from_id"] in node_ids


def test_expected_edges(graph):
    edges = {(e["from_id"], e["edge_type"], e["to_id"]) for e in graph.edges.collect()}
    assert ("mgi:104537", "impc:humanGeneOrthologues", "hgnc:1101") in edges
    assert ("otar_ev_001", "otar:targetId", "hgnc:1101") in edges
    assert ("otar_ev_001", "otar:diseaseId", "mondo:0005044") in edges
    assert ("mgi:104537", "biolink:has_phenotype", "mp:0002169") in edges
    # self-referential excluded type suppressed
    assert ("mondo:0001134", "oboinowl:hasDbXref", "mondo:0001134") not in edges


def test_reified_edge_props_survive(graph):
    kgx = graph.edges.filter(F.col("edge_type") == "biolink:has_phenotype").collect()
    assert len(kgx) == 1
    assert "infores:impc" in (kgx[0]["value_props"] or "")


def test_deterministic_edge_ids(graph):
    ids1 = sorted(r["edge_id"] for r in graph.edges.collect())
    ids2 = sorted(r["edge_id"] for r in graph.edges.collect())
    assert ids1 == ids2
    assert all(len(i) == 40 for i in ids1)


def test_display_type_is_rarest(graph):
    # mondo:0001134 types: {ols:Class (many nodes), mondo:0000001 (fewer)}
    dt = {
        r["node_id"]: r["display_type"] for r in graph.display_types.collect()
    }
    assert dt["mondo:0001134"] != "ols:Class"


def test_edge_summary_counts(graph):
    total = graph.edge_summary.agg(F.sum("n_edges")).collect()[0][0]
    assert total == graph.edges.count()


def test_mega_clique_100k_aliases_within_memory_bounds(spark):
    """Pathological equivalence clique — 100k entities all aliased to
    one hub id (the reference's >50 warning canary fires, but the
    ENGINE must survive): one hot groupBy key flows through CC,
    canonical election, the J2 provenance merge and node_table. The
    merge's datasource buffers dedup in-buffer (collect_set), so the
    hot key's memory is proportional to DISTINCT provenance, not the
    100k input rows; the inherently-large artifacts (the hub node's
    100k-element source_ids array) are the data model's own output,
    same as the reference's. Wall time is recorded in PERFORMANCE.md;
    this gate asserts completion + exact row-level correctness."""
    import time

    from grebi_spark.pipeline import build_graph

    n = 100_000
    base = spark.range(n)
    eid = F.concat(F.lit("x:"), F.col("id").cast("string"))

    def row(key, val):
        return (
            F.lit("mega").alias("subgraph"),
            F.lit("megads").alias("datasource"),
            eid.alias("entity_id"),
            F.lit(key).alias("prop_key"),
            val.alias("value"),
            F.lit(None).cast("string").alias("value_props"),
        )

    src = (
        base.select(*row("id", eid))
        .unionAll(base.select(*row("id", F.lit("dup:hub"))))
        .unionAll(base.select(*row("grebi:type", F.lit("thing:T"))))
        .unionAll(
            base.select(
                *row(
                    "grebi:name",
                    F.concat(F.lit("name"), (F.col("id") % 100).cast("string")),
                )
            )
        )
    )
    t0 = time.perf_counter()
    g = build_graph([src], SubgraphConfig(exclude_edges=("id",)))
    nodes = g.nodes.collect()
    wall = time.perf_counter() - t0
    # the whole clique fused into ONE canonical node
    assert len(nodes) == 1
    hub = nodes[0]
    assert hub["types"] == ["thing:T"]
    assert hub["datasources"] == ["megads"]
    merged = g.merged
    # provenance dedup: the type row carries ONE datasource entry
    type_row = merged.filter(F.col("prop_key") == "grebi:type").collect()
    assert len(type_row) == 1
    assert type_row[0]["datasources"] == ["megads"]
    # 100 distinct names survive as 100 merged rows
    assert merged.filter(F.col("prop_key") == "grebi:name").count() == 100
    # the global id rewrite maps every alias VALUE to the canonical, so
    # the id rows collapse to ONE merged row whose source_ids provenance
    # carries the full alias set — the inherently-large, data-model-true
    # artifact (one 100k-element array row, not 100k rows)
    id_rows = merged.filter(F.col("prop_key") == "id").collect()
    assert len(id_rows) == 1
    assert len(id_rows[0]["source_ids"]) == n + 1  # aliases + hub id
    assert len(hub["source_ids"]) == n + 1
    print(f"mega-clique 100k: {wall:.1f}s", flush=True)
