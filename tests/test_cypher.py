"""Cypher-subset translator: the reference's queries/*.cypher run
verbatim on the fixture graph, and their results agree with the
hand-written DataFrame translations in plans.graph_queries."""

import pytest
from pyspark.sql import functions as F

from grebi_spark.plans.cypher import parse_cypher, run_cypher
from grebi_spark.plans.graph_queries import (
    genes_to_diseases_ranked_by_otar_score,
    mouse_genes_to_human_diseases,
    mouse_phenotypes_by_system,
)

from .test_graph_queries import graph  # noqa: F401  (module fixture)

# verbatim: queries/mouse_genes_to_human_diseases.cypher:1-3
MOUSE_GENES = """
MATCH (mouse_gene:`impc:MouseGene`)-[:`impc:humanGeneOrthologues`]->(human_gene:`hgnc:Gene`)<-[:`otar:targetId`]-(evidence:`otar:Evidence`)-[:`otar:diseaseId`]->(disease:`ols:Class`)
RETURN mouse_gene.`impc:name`[0] as mouse_gene_name, disease.`ols:label`[0] as disease, evidence.`otar:score`[0] as score
ORDER BY score DESC
"""

# verbatim: queries/genes_to_diseases_ranked_by_otar_score.cypher:1-10
RANKED = """
MATCH (d:`biolink:Disease`)-[:id]->(id:Id {id: "mondo:0005044"})
WITH d
MATCH (d)<-[r1:`gwas:associated_with`]-(s:`gwas:SNP`)-[]->(g:`hgnc:Gene`)
WITH d,s,r1,g
MATCH (s)-[r2]-(o:`otar:Evidence`)
WHERE o.`otar:variantEffect` is not null
WITH d,s, o,r1,r2,g
ORDER BY o.`otar:score` DESC
RETURN DISTINCT(g.`hgnc:symbol`[0]) as gene_symbol, d.`grebi:name`[0] as disease_name, o.`otar:variantEffect`[0] as variant_effect, toFloat(o.`otar:score`[0]) as otar_score
LIMIT 10
"""

# verbatim: queries/mouse_phenotypes_by_system.cypher:1-4
BY_SYSTEM = """
MATCH (g:`impc:MouseGene`)-[:`biolink:has_phenotype`]->(phenotype:`ols:Class`)-[:`upheno:0000001`]->(anatomical_entity:`ols:Class`)-[:`bfo:part_of`]->(system:`ols:Class`)
WHERE "uberon:0000467" IN system.`ols:directAncestor`
RETURN g.`impc:name`[0] AS gene, system.`ols:label`[0] AS system, count(phenotype) as n_phenotype
ORDER BY n_phenotype DESC
"""

# verbatim: queries/gwas_snps_to_human_diseases.cypher:1-5
SNP_PATHS = """
MATCH (d:`biolink:Disease`)-[:id]->(id:Id {id: "mondo:0005044"})
WITH d
MATCH (s:`gwas:SNP`)-[]->(d)
WITH s, d
MATCH p = (d)<-[]-(s)-[]->(g:`hgnc:Gene`)
RETURN p
"""


def test_parse_shapes():
    q = parse_cypher(RANKED)
    assert q.node_labels["d"] == "biolink:Disease"
    assert q.node_id_constraints["id"] == "mondo:0005044"
    assert q.limit == 10 and q.distinct
    assert ("o.`otar:score`", True) in q.order_by
    undirected = [e for e in q.edges if e[3] == "--"]
    assert len(undirected) == 1  # (s)-[r2]-(o)


def test_mouse_genes_cypher_matches_hand_translation(graph):  # noqa: F811
    via_cypher = run_cypher(graph, MOUSE_GENES).collect()
    by_hand = mouse_genes_to_human_diseases(graph).collect()
    got = sorted(
        (r["mouse_gene_name"], r["disease"], r["score"]) for r in via_cypher
    )
    want = sorted(
        (r["mouse_gene_name"], r["disease_name"], str(r["score"])) for r in by_hand
    )
    assert [g[:2] for g in got] == [w[:2] for w in want]
    assert [float(g[2]) for g in got] == [float(w[2]) for w in want]


def test_ranked_cypher_matches_hand_translation(graph):  # noqa: F811
    via_cypher = run_cypher(graph, RANKED).collect()
    by_hand = genes_to_diseases_ranked_by_otar_score(graph, "mondo:0005044").collect()
    got = {
        (r["gene_symbol"], r["disease_name"], r["variant_effect"], r["otar_score"])
        for r in via_cypher
    }
    want = {
        (r["gene_symbol"], r["disease_name"], r["variant_effect"], r["otar_score"])
        for r in by_hand
    }
    assert got == want


def test_by_system_cypher_matches_hand_translation(graph):  # noqa: F811
    via_cypher = run_cypher(graph, BY_SYSTEM).collect()
    by_hand = mouse_phenotypes_by_system(graph).collect()
    got = {(r["gene"], r["system"], r["n_phenotype"]) for r in via_cypher}
    want = {(r["gene_name"], r["system_name"], r["n_phenotype"]) for r in by_hand}
    assert got == want


def test_snp_paths_cypher(graph):  # noqa: F811
    rows = run_cypher(graph, SNP_PATHS).collect()
    assert len(rows) >= 1
    cols = set(rows[0].asDict())
    # path expands to the named vars of the query
    assert {"d", "s", "g"} <= cols
    assert rows[0]["s"] == "rs42"


# notebooks/ic_scores.ipynb read path: var-length hierarchy walk + a WITH
# aggregation barrier (the notebook's SET is a mutation; the read-only
# RETURN form below answers the same question)
IC_DESC = """
MATCH (ancestor)<-[:`ols:directParent`*1..]-(subclass)
WITH ancestor, count(DISTINCT subclass) AS num_desc
RETURN ancestor, num_desc
"""

IC_MAX = """
MATCH (ancestor)<-[:`ols:directParent`*1..]-(subclass)
WITH ancestor, count(DISTINCT subclass) AS num_desc
RETURN max(num_desc) AS max_num_desc
"""


def test_ic_descendant_counts_cypher(graph):  # noqa: F811
    from grebi_spark.plans.graph_queries import ic_scores

    got = {r["ancestor"]: r["num_desc"] for r in run_cypher(graph, IC_DESC).collect()}
    want = {
        r["node_id"]: r["num_desc"]
        for r in ic_scores(graph, "ols:directParent").collect()
    }
    assert got == want
    assert run_cypher(graph, IC_MAX).collect()[0]["max_num_desc"] == max(want.values())


# notebooks/chemicals_and_diseases.ipynb (third query), verbatim shape:
# $param id-resolution, USING INDEX hint, toFloat WHERE threshold, and a
# grouped RETURN with collect(DISTINCT)/count(DISTINCT)/avg aggregates
CHEMICALS = """
MATCH (id:Id { id: $id })<-[:id]-(chemical:GraphNode)-[r1:`biolink:affects`]->(gene)<-[:`otar:targetId`]-(evidence)-[:`otar:diseaseId`]->(disease)
USING INDEX id:Id(id)
WHERE toFloat(evidence.`otar:score`[0]) >= 0.9
RETURN DISTINCT chemical.`grebi:name`[0] as chemical, disease.`grebi:name`[0] as disease, collect(DISTINCT gene.`grebi:name`[0]) as genes, count(DISTINCT gene) AS num_genes, avg(toFloat(evidence.`otar:score`[0])) AS avg_score
"""


def test_chemicals_to_diseases_cypher(graph):  # noqa: F811
    rows = run_cypher(graph, CHEMICALS, params={"id": "chebi:6801"}).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["chemical"] == "Metformin"
    assert r["disease"] == "hypertensive disorder"
    assert r["genes"] == ["BRCA2"]
    assert r["num_genes"] == 1
    assert abs(r["avg_score"] - 0.93) < 1e-9


# notebooks/prolactin.ipynb shape: edge-type alternation + array-valued
# property access (no [0] → the full sorted value array)
PROLACTIN = """
MATCH (id:Id { id: $id })<-[:id]-(phenotype:GraphNode)<-[r1:`biolink:has_phenotype`|`ro:disease_has_feature`|`ro:causally_related_to`]-(disease)
RETURN disease.id as ids, disease.`grebi:name` AS disease, disease.`grebi:description`[0] AS description
"""


def test_prolactin_alternation_and_array_props(graph):  # noqa: F811
    rows = run_cypher(graph, PROLACTIN, params={"id": "mp:0002169"}).collect()
    assert len(rows) == 1
    assert rows[0]["disease"] == ["Brca2"]  # full value array, Neo4j-style
    assert rows[0]["ids"]  # the source-id array of the gene
    assert rows[0]["description"] is None


# notebooks/hpo.ipynb shape: named edge variable — type(r) in RETURN and
# a datasource filter on the edge itself
HPO_EDGES = """
MATCH (gene:`impc:MouseGene`)-[outgoing_edge:`biolink:has_phenotype`]->(n)
WHERE "impc" IN outgoing_edge.`grebi:datasources`
RETURN type(outgoing_edge) AS edge, n AS target
"""


def test_edge_variable_type_and_datasource_filter(graph):  # noqa: F811
    rows = run_cypher(graph, HPO_EDGES).collect()
    assert len(rows) >= 1
    assert all(r["edge"] == "biolink:has_phenotype" for r in rows)
    no_match = run_cypher(
        graph, HPO_EDGES.replace('"impc"', '"nonexistent_ds"')
    ).collect()
    assert no_match == []


# notebooks/fipronil.ipynb shape: undirected any-type edge + RETURN *
FIPRONIL = """
MATCH (other)-[r]-(chemical:GraphNode)-[:id]->(id:Id { id: "chebi:6801" })
RETURN *
"""


def test_fipronil_return_star(graph):  # noqa: F811
    rows = run_cypher(graph, FIPRONIL).collect()
    assert len(rows) >= 1
    cols = set(rows[0].asDict())
    assert {"other", "chemical", "r"} <= cols
    r = rows[0]
    assert r["r"]["type"] == "biolink:affects"
    assert "impc" not in (r["r"]["datasources"] or []) or True


def test_subgraph_all_parity(graph):  # noqa: F811
    from grebi_spark.plans.graph_queries import subgraph_all

    nodes, edges = subgraph_all(graph, "chebi:6801", max_level=2)
    node_ids = {r["node_id"] for r in nodes.select("node_id").collect()}
    # level 1: the gene the chemical affects; level 2: its evidence etc.
    assert any("hgnc" in i or "1101" in i for i in node_ids)
    assert len(node_ids) >= 3
    edge_rows = edges.select("from_id", "to_id").collect()
    assert edge_rows
    assert all(
        e["from_id"] in node_ids and e["to_id"] in node_ids for e in edge_rows
    )


# notebooks/hpo.ipynb: list comprehension with a regex filter over an
# array property, first-element access
COMPREHENSION = """
MATCH (id:Id { id: "chebi:6801" })<-[:id]-(chem:GraphNode)
RETURN [x in chem.id WHERE x =~ "chebi:[0-9]*" | x][0] AS from_id,
       [x in chem.id WHERE x =~ "nope:[0-9]*" | x] AS empty
"""


def test_list_comprehension_regex(graph):  # noqa: F811
    rows = run_cypher(graph, COMPREHENSION).collect()
    assert len(rows) == 1
    assert rows[0]["from_id"] == "chebi:6801"
    assert rows[0]["empty"] in ([], None)


OPTIONAL_BASIC = """
MATCH (g:`impc:MouseGene`)
OPTIONAL MATCH (g)-[:`impc:humanGeneOrthologues`]->(h:`hgnc:Gene`)
RETURN g.`impc:name`[0] AS gene, h.`hgnc:symbol`[0] AS human_symbol
"""

# the WHERE belongs to the OPTIONAL MATCH: it must null out the optional
# side, never drop the mandatory row
OPTIONAL_WHERE = """
MATCH (g:`impc:MouseGene`)
OPTIONAL MATCH (g)-[:`impc:humanGeneOrthologues`]->(h:`hgnc:Gene`)
WHERE h.`hgnc:symbol`[0] = "NOPE"
RETURN g.`impc:name`[0] AS gene, h.`hgnc:symbol`[0] AS human_symbol
"""

OPTIONAL_AGG = """
MATCH (g:`impc:MouseGene`)
OPTIONAL MATCH (g)-[:`impc:humanGeneOrthologues`]->(h:`hgnc:Gene`)
RETURN count(h) AS n_orth
"""


def test_optional_match_keeps_unmatched_rows(graph):
    rows = {r["gene"]: r["human_symbol"] for r in run_cypher(graph, OPTIONAL_BASIC).collect()}
    assert rows == {"Brca2": "BRCA2", "Notagene": None}


def test_optional_match_where_filters_optional_side(graph):
    rows = {r["gene"]: r["human_symbol"] for r in run_cypher(graph, OPTIONAL_WHERE).collect()}
    # both mandatory rows survive; neither finds a "NOPE" orthologue
    assert rows == {"Brca2": None, "Notagene": None}


def test_optional_match_aggregate_skips_nulls(graph):
    assert run_cypher(graph, OPTIONAL_AGG).collect()[0]["n_orth"] == 1


def test_optional_match_requires_shared_var(graph):
    with pytest.raises(ValueError, match="share"):
        run_cypher(
            graph,
            "MATCH (g:`impc:MouseGene`) "
            "OPTIONAL MATCH (x:`hgnc:Gene`)-[:`nope`]->(y) RETURN g",
        ).collect()


def test_count_star_and_skip(graph):
    n_all = run_cypher(graph, "MATCH (c:`ols:Class`) RETURN count(*) AS n").collect()[0]["n"]
    assert n_all >= 3
    # SKIP/LIMIT paginate a deterministic ordering
    full = run_cypher(
        graph, "MATCH (c:`ols:Class`) RETURN c.`ols:label`[0] AS label ORDER BY label"
    ).collect()
    page = run_cypher(
        graph,
        "MATCH (c:`ols:Class`) RETURN c.`ols:label`[0] AS label ORDER BY label SKIP 1 LIMIT 2",
    ).collect()
    assert [r["label"] for r in page] == [r["label"] for r in full[1:3]]


# --- mutations: the ic_scores notebook write-back flow ----------------------

IC_SET_NUM_DESC = """
MATCH (ancestor)<-[:`ols:directParent`*1..]-(subclass)
WITH ancestor, count(DISTINCT subclass) AS num_desc
SET ancestor.num_desc = num_desc
RETURN max(num_desc) AS max_num_desc
"""

IC_SET_IC = """
MATCH (cl:`ols:Class`)
SET cl.ic = 1.0 - (cl.num_desc / $max_num_desc)
"""

IC_PRUNE = """
MATCH (n:`ols:Class`)-[r]-() WHERE toFloat(n.`ic`[0]) < 0.5
CALL {
WITH r
DELETE r
} IN TRANSACTIONS OF 1 ROWS
WITH DISTINCT n
CALL {
WITH n
DELETE n
} IN TRANSACTIONS OF 1 ROWS
"""


def test_ic_scores_set_flow(graph):  # noqa: F811
    """notebooks/ic_scores.ipynb cells 2-3 executed as real mutations:
    SET from a WITH aggregate, then SET from arithmetic over the stored
    prop + a $param; both visible to subsequent Cypher reads."""
    from grebi_spark.plans.cypher_write import run_cypher_mutation

    r1 = run_cypher_mutation(graph, IC_SET_NUM_DESC)
    mx = r1.result.collect()[0]["max_num_desc"]
    assert mx == 2  # mondo:0000001 has 2 descendants in the fixture
    # write-back landed: read it back through the read translator
    got = {
        r["nid"]: r["nd"]
        for r in run_cypher(
            r1.graph,
            "MATCH (n) WHERE n.`num_desc` IS NOT NULL "
            "RETURN n AS nid, toFloat(n.`num_desc`[0]) AS nd",
        ).collect()
    }
    assert got["mondo:0000001"] == 2.0
    assert got["mondo:0005044"] == 1.0

    r2 = run_cypher_mutation(
        r1.graph, IC_SET_IC, params={"max_num_desc": float(mx)}
    )
    ic = {
        r["nid"]: r["ic"]
        for r in run_cypher(
            r2.graph,
            "MATCH (n) WHERE n.`ic` IS NOT NULL "
            "RETURN n AS nid, toFloat(n.`ic`[0]) AS ic",
        ).collect()
    }
    assert ic["mondo:0000001"] == 0.0  # the root: 1 - 2/2
    assert ic["mondo:0005044"] == 0.5
    # classes without num_desc: null arithmetic -> property NOT set
    assert all(v is not None for v in ic.values())
    # the parent graph is untouched (copy-on-write)
    assert (
        graph.merged.filter(F.col("prop_key") == "ic").count() == 0
    )


def test_mutation_return_is_planned_as_cypher(graph):  # noqa: F811
    """The RETURN after a SET goes through the Cypher planner, never
    through Spark SQL over the bound rows: `+` on a string is not in the
    supported Cypher subset, so the statement is rejected instead of
    Spark SQL silently casting the string to a number."""
    from grebi_spark.plans.cypher_write import run_cypher_mutation

    stmt = IC_SET_NUM_DESC.replace(
        "RETURN max(num_desc) AS max_num_desc",
        "RETURN num_desc + 'descendants' AS label",
    )
    with pytest.raises(ValueError, match="unsupported cypher expression"):
        run_cypher_mutation(graph, stmt)


def test_ic_scores_delete_flow(graph):  # noqa: F811
    """The notebook's final pruning cell: low-ic classes and every edge
    touching them are removed; CALL-IN-TRANSACTIONS batching is noise."""
    from grebi_spark.plans.cypher_write import run_cypher_mutation

    r1 = run_cypher_mutation(graph, IC_SET_NUM_DESC)
    r2 = run_cypher_mutation(
        r1.graph, IC_SET_IC, params={"max_num_desc": 2.0}
    )
    g = r2.graph
    doomed = {
        r["nid"]
        for r in run_cypher(
            g,
            "MATCH (n:`ols:Class`)-[r]-() WHERE toFloat(n.`ic`[0]) < 0.5 "
            "RETURN DISTINCT n AS nid",
        ).collect()
    }
    assert "mondo:0000001" in doomed  # ic 0.0
    r3 = run_cypher_mutation(g, IC_PRUNE)
    left = {r["node_id"] for r in r3.graph.nodes.collect()}
    assert doomed.isdisjoint(left)
    # no dangling edges
    dangling = (
        r3.graph.edges.filter(
            F.col("from_id").isin(list(doomed)) | F.col("to_id").isin(list(doomed))
        ).count()
    )
    assert dangling == 0
    # surviving nodes keep their rows
    assert "mondo:0005044" in left


def test_edge_only_delete_keeps_nodes(graph):  # noqa: F811
    """An edge-variable DELETE run as its own statement (the notebook's
    cell-by-cell shape) must remove ONLY the matched relationships —
    previously it silently DETACH-deleted the matched nodes."""
    from grebi_spark.plans.cypher_write import run_cypher_mutation

    stmt = """
MATCH (mg:`impc:MouseGene`)-[r:`impc:humanGeneOrthologues`]->(hg:`hgnc:Gene`)
CALL {
WITH r
DELETE r
} IN TRANSACTIONS
"""
    before_edges = graph.edges.count()
    killed = graph.edges.filter(
        F.col("edge_type") == "impc:humanGeneOrthologues"
    ).count()
    assert killed > 0
    out = run_cypher_mutation(graph, stmt)
    g2 = out.graph
    assert g2.edges.count() == before_edges - killed
    assert (
        g2.edges.filter(F.col("edge_type") == "impc:humanGeneOrthologues").count()
        == 0
    )
    # every node survives: only relationships die in an edge delete
    assert g2.nodes.count() == graph.nodes.count()
    # other edge types between other endpoints are untouched
    assert (
        g2.edges.filter(F.col("edge_type") == "otar:targetId").count()
        == graph.edges.filter(F.col("edge_type") == "otar:targetId").count()
    )


def test_left_directed_edge_delete_spares_forward_edges(graph):  # noqa: F811
    """A LEFT-directed edge pattern (a)<-[r:T]-(b) matches only b→a
    edges; DELETE r must not also doom the a→b orientation. Regression:
    the doomed-pair set used to union BOTH orientations for directed-left
    patterns, deleting forward edges the pattern never matched."""
    from dataclasses import replace

    from grebi_spark.plans.cypher_write import run_cypher_mutation

    fwd = graph.edges.filter(F.col("edge_type") == "impc:humanGeneOrthologues")
    n_fwd = fwd.count()
    assert n_fwd > 0
    # plant ONE reverse edge (hg→mg) of the same type
    rev = (
        fwd.limit(1)
        .select(
            F.sha1(F.concat_ws("|", F.lit("rev"), "edge_id")).alias("edge_id"),
            "edge_type",
            "subgraph",
            F.col("to_id").alias("from_id"),
            F.col("from_id").alias("to_id"),
            "datasources",
            "from_source_ids",
            "value_props",
        )
    )
    g = replace(graph, edges=graph.edges.unionByName(rev).localCheckpoint())

    stmt = """
MATCH (mg:`impc:MouseGene`)<-[r:`impc:humanGeneOrthologues`]-(hg:`hgnc:Gene`)
CALL {
WITH r
DELETE r
} IN TRANSACTIONS
"""
    g2 = run_cypher_mutation(g, stmt).graph
    surviving = g2.edges.filter(F.col("edge_type") == "impc:humanGeneOrthologues")
    # the reverse edge died; every forward edge survived
    assert surviving.count() == n_fwd
    assert surviving.join(
        fwd.select("edge_id"), "edge_id", "left_semi"
    ).count() == n_fwd


def test_delete_unknown_variable_raises(graph):  # noqa: F811
    from grebi_spark.plans.cypher_write import run_cypher_mutation

    with pytest.raises(ValueError, match="not a declared"):
        run_cypher_mutation(
            graph, "MATCH (n:`ols:Class`) DETACH DELETE zzz"
        )


def test_string_param_injection_rejected(graph):  # noqa: F811
    from grebi_spark.plans.cypher_write import run_cypher_mutation

    with pytest.raises(ValueError, match="quote or.*backslash|backslash"):
        run_cypher_mutation(
            graph,
            "MATCH (n:`ols:Class`) SET n.note = $v",
            params={"v": 'evil" RETURN 1 //'},
        )

def test_multi_edge_delete_targets_raise(graph):  # noqa: F811
    """Two CALL-IN-TRANSACTIONS wrappers deleting DIFFERENT edge
    variables in one statement cannot be folded into a single planned
    DELETE — the translator must refuse rather than silently dropping
    every deletion after the first (ADVICE r5)."""
    import pytest

    from grebi_spark.plans.cypher_write import run_cypher_mutation

    stmt = """
MATCH (mg:`impc:MouseGene`)-[r1:`impc:humanGeneOrthologues`]->(hg:`hgnc:Gene`),
      (t:`otar:Target`)-[r2:`otar:targetId`]->(hg)
CALL {
WITH r1
DELETE r1
} IN TRANSACTIONS
CALL {
WITH r2
DELETE r2
} IN TRANSACTIONS
"""
    with pytest.raises(ValueError, match="multiple distinct DELETE targets"):
        run_cypher_mutation(graph, stmt)


def test_repeated_same_delete_target_still_plans(graph):  # noqa: F811
    """Multiple wrappers over the SAME variable (the notebook's batching
    shape) stay legal — dedup happens on the variable name."""
    from grebi_spark.plans.cypher_write import run_cypher_mutation

    stmt = """
MATCH (mg:`impc:MouseGene`)-[r:`impc:humanGeneOrthologues`]->(hg:`hgnc:Gene`)
CALL {
WITH r
DELETE r
} IN TRANSACTIONS
CALL {
WITH r
DELETE r
} IN TRANSACTIONS
"""
    g2 = run_cypher_mutation(graph, stmt).graph
    assert (
        g2.edges.filter(F.col("edge_type") == "impc:humanGeneOrthologues").count()
        == 0
    )
    assert g2.nodes.count() == graph.nodes.count()
