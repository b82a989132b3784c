"""The reference's own analytical queries (queries/*.cypher + the
ic_scores notebook) as library functions over a built graph — the engine's
stage-08 replacement (08_run_queries/run_queries.slurm.py:20-60 ran these
against Neo4j; here Catalyst runs them over the long-form views).

Building blocks:
- ``hop``          one Cypher relationship traversal = edges filter + joins
- ``prop``         ``n.`prop`[0]`` access = first-value lookup on graph_props
- ``node_of_type`` label filter = array_contains on the metadata types

Each query function takes the BuiltGraph (or its registered views) —
they run on *any* graph built by pipeline.build_graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..pipeline import BuiltGraph
from .closure import transitive_closure


def nodes_of_type(graph: BuiltGraph, type_name: str) -> DataFrame:
    """Cypher label filter (a:`T`): nodes whose type set contains T."""
    return graph.nodes.filter(F.array_contains("types", type_name)).select("node_id")


def first_prop(graph: BuiltGraph, prop_key: str, alias: str) -> DataFrame:
    """``n.`p`[0]`` — the first (min) value of a property per node."""
    return (
        graph.merged.filter(F.col("prop_key") == prop_key)
        .groupBy("node_id")
        .agg(F.min("value").alias(alias))
    )


def hop(
    graph: BuiltGraph,
    edge_type: str | None = None,
    from_alias: str = "from_id",
    to_alias: str = "to_id",
    reverse: bool = False,
) -> DataFrame:
    """One relationship traversal; ``reverse`` flips direction
    (Cypher ``<-[]-``). ``edge_type=None`` = any relationship ``-[]-``."""
    e = graph.edges
    if edge_type:
        e = e.filter(F.col("edge_type") == edge_type)
    src, dst = ("to_id", "from_id") if reverse else ("from_id", "to_id")
    return e.select(F.col(src).alias(from_alias), F.col(dst).alias(to_alias))


def resolve_alias(graph: BuiltGraph, alias_id: str) -> DataFrame:
    """(n)-[:id]->(Id {id: $x}) — resolve any source id to merged nodes
    (queries/gwas_snps_to_human_diseases.cypher:1)."""
    return (
        graph.nodes.filter(F.array_contains("source_ids", alias_id))
        .select("node_id")
    )


def mouse_genes_to_human_diseases(graph: BuiltGraph) -> DataFrame:
    """queries/mouse_genes_to_human_diseases.cypher:1-3:
    (impc:MouseGene)-[:impc:humanGeneOrthologues]->(hgnc:Gene)
    <-[:otar:targetId]-(otar:Evidence)-[:otar:diseaseId]->(ols:Class);
    return mouse name, disease label, score ORDER BY score DESC."""
    mouse = nodes_of_type(graph, "impc:MouseGene").select(
        F.col("node_id").alias("mouse")
    )
    h1 = hop(graph, "impc:humanGeneOrthologues", "mouse", "human")
    human = nodes_of_type(graph, "hgnc:Gene").select(F.col("node_id").alias("human"))
    h2 = hop(graph, "otar:targetId", "evidence", "human")
    evidence = nodes_of_type(graph, "otar:Evidence").select(
        F.col("node_id").alias("evidence")
    )
    h3 = hop(graph, "otar:diseaseId", "evidence", "disease")
    disease = nodes_of_type(graph, "ols:Class").select(F.col("node_id").alias("disease"))

    chain = (
        mouse.join(h1, "mouse")
        .join(human, "human")
        .join(h2, "human")
        .join(evidence, "evidence")
        .join(h3, "evidence")
        .join(disease, "disease")
    )
    names = first_prop(graph, "grebi:name", "mouse_gene_name").withColumnRenamed(
        "node_id", "mouse"
    )
    labels = first_prop(graph, "grebi:name", "disease_name").withColumnRenamed(
        "node_id", "disease"
    )
    scores = first_prop(graph, "otar:score", "score").withColumnRenamed(
        "node_id", "evidence"
    )
    return (
        chain.join(names, "mouse", "left")
        .join(labels, "disease", "left")
        .join(scores, "evidence", "left")
        .select(
            "mouse_gene_name",
            F.col("disease").alias("disease_id"),
            "disease_name",
            F.col("score").cast("double").alias("score"),
        )
        .orderBy(F.desc("score"))
    )


def genes_to_diseases_ranked_by_otar_score(
    graph: BuiltGraph, disease_alias: str = "mondo:0005044"
) -> DataFrame:
    """queries/genes_to_diseases_ranked_by_otar_score.cypher:1-10:
    id resolution → (disease)<-[:gwas:associated_with]-(SNP)-[]->(gene),
    SNP -[]-(otar:Evidence) WHERE variantEffect IS NOT NULL,
    ORDER BY toFloat(score) DESC, DISTINCT, LIMIT 10."""
    disease = resolve_alias(graph, disease_alias).select(
        F.col("node_id").alias("disease")
    )
    assoc = hop(graph, "gwas:associated_with", "snp", "disease")
    snps = nodes_of_type(graph, "gwas:SNP").select(F.col("node_id").alias("snp"))
    snp_to_gene = hop(graph, None, "snp", "gene")
    genes = nodes_of_type(graph, "hgnc:Gene").select(F.col("node_id").alias("gene"))
    # (s)-[r2]-(o) — undirected: union both directions
    snp_to_ev = hop(graph, None, "snp", "evidence").unionAll(
        hop(graph, None, "evidence", "snp").select("snp", "evidence")
    )
    evidence = nodes_of_type(graph, "otar:Evidence").select(
        F.col("node_id").alias("evidence")
    )
    veffect = first_prop(graph, "otar:variantEffect", "variant_effect").withColumnRenamed(
        "node_id", "evidence"
    )
    score = first_prop(graph, "otar:score", "otar_score").withColumnRenamed(
        "node_id", "evidence"
    )
    symbol = first_prop(graph, "hgnc:symbol", "gene_symbol").withColumnRenamed(
        "node_id", "gene"
    )
    dname = first_prop(graph, "grebi:name", "disease_name").withColumnRenamed(
        "node_id", "disease"
    )
    return (
        disease.join(assoc, "disease")
        .join(snps, "snp")
        .join(snp_to_gene, "snp")
        .join(genes, "gene")
        .join(snp_to_ev, "snp")
        .join(evidence, "evidence")
        .join(veffect, "evidence")  # inner: IS NOT NULL
        .join(score, "evidence", "left")
        .join(symbol, "gene", "left")
        .join(dname, "disease", "left")
        .select(
            "gene_symbol",
            "disease_name",
            "variant_effect",
            F.col("otar_score").cast("double").alias("otar_score"),
        )
        .distinct()
        .orderBy(F.desc("otar_score"))
        .limit(10)
    )


def mouse_phenotypes_by_system(graph: BuiltGraph) -> DataFrame:
    """queries/mouse_phenotypes_by_system.cypher:1-4: 4-node chain with an
    array-membership WHERE and a grouped count."""
    g = nodes_of_type(graph, "impc:MouseGene").select(F.col("node_id").alias("gene"))
    h1 = hop(graph, "biolink:has_phenotype", "gene", "phenotype")
    h2 = hop(graph, "upheno:0000001", "phenotype", "anat")
    h3 = hop(graph, "bfo:part_of", "anat", "system")
    systems = (
        graph.merged.filter(
            (F.col("prop_key") == "ols:directAncestor")
            & (F.col("value") == "uberon:0000467")
        )
        .select(F.col("node_id").alias("system"))
        .distinct()
    )
    gname = first_prop(graph, "grebi:name", "gene_name").withColumnRenamed(
        "node_id", "gene"
    )
    sname = first_prop(graph, "grebi:name", "system_name").withColumnRenamed(
        "node_id", "system"
    )
    return (
        g.join(h1, "gene")
        .join(h2, "phenotype")
        .join(h3, "anat")
        .join(systems, "system")
        .join(gname, "gene", "left")
        .join(sname, "system", "left")
        .groupBy("gene_name", "system_name")
        .agg(F.count("phenotype").alias("n_phenotype"))
        .orderBy(F.desc("n_phenotype"), "gene_name")
    )


def ic_scores(graph: BuiltGraph, hierarchy_edge: str = "biolink:broad_match") -> DataFrame:
    """notebooks/ic_scores.ipynb: descendant counts via `*1..` closure →
    information content = -log2((num_desc+1) / (max_desc+1))."""
    edges = hop(graph, hierarchy_edge, "src", "dst")  # child -> ancestor
    closure = transitive_closure(edges)
    counts = closure.groupBy("ancestor").agg(
        F.countDistinct("descendant").alias("num_desc")
    )
    max_desc = counts.agg(F.max("num_desc").alias("m"))
    return (
        counts.crossJoin(F.broadcast(max_desc))
        .select(
            F.col("ancestor").alias("node_id"),
            "num_desc",
            F.round(
                -F.log2((F.col("num_desc") + 1) / (F.col("m") + 1)), 6
            ).alias("ic"),
        )
        .orderBy(F.desc("num_desc"), "node_id")
    )


def _filter_nodes(
    nodes: DataFrame, merged: DataFrame, prop: str, values: tuple[str, ...],
    negate: bool,
) -> DataFrame:
    """One WHOLE_FIELD filter (GrebiSolrQuery.java:109-140): keep nodes
    where ``prop`` has ANY of ``values`` (OR within a filter), or drop
    them when negated (the Solr ``-field:(...)`` form). Header arrays
    filter in place; arbitrary props filter through a semi/anti join on
    the merged long table — the scale shape, since a node's property
    set never has to be assembled row-wide to be filtered."""
    vals = list(values)
    if prop in ("types", "datasources"):
        cond = F.arrays_overlap(F.col(prop), F.array(*[F.lit(v) for v in vals]))
        return nodes.filter(~cond if negate else cond)
    hit = (
        merged.filter((F.col("prop_key") == prop) & F.col("value").isin(vals))
        .select("node_id")
        .distinct()
    )
    return nodes.join(hit, "node_id", "left_anti" if negate else "left_semi")


def search_nodes(
    graph: BuiltGraph,
    q: str,
    page: int = 0,
    size: int = 10,
    type_filter: str | None = None,
    facet_fields: tuple[str, ...] = (),
    filters: tuple[tuple[str, tuple[str, ...], bool], ...] = (),
    exclude_obsolete: bool = True,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """Q6 — weighted node search with facets and pagination over the
    built graph (GrebiApi.java:185-227 semantics: id beats name beats
    synonym beats any-field; obsolete/type filters; facet counts
    computed under the same filter).

    Filter semantics match GrebiSolrQuery.constructQuery():

    * ``filters`` = (prop, values, negate): OR within a filter, AND
      across filters, ``negate=True`` is the Solr ``-field`` form
      (GrebiSolrQuery.java:118-121);
    * ``exclude_obsolete`` is the always-on
      ``-ols:isObsolete:("true")`` filter (GrebiApi.java:198), dropped
      when the caller passes ``includeObsoleteEntries``;
    * MULTI-SELECT faceting: filters on faceted fields are tagged and
      facet counts exclude them (the ``{!tag=grebifacet}`` /
      ``{!ex=grebifacet}`` pair, GrebiSolrQuery.java:112-114,141-146)
      — a facet keeps showing the counts a user could still select."""
    ql = q.lower()
    nodes = graph.nodes
    if type_filter:
        nodes = nodes.filter(F.array_contains("types", type_filter))
    id_hit = F.when(F.lower(F.col("node_id")).contains(ql), 1000).otherwise(0)
    name_hit = F.when(
        F.exists("names", lambda n: F.lower(n).contains(ql)), 900
    ).otherwise(0)
    scored = nodes.withColumn("score", id_hit + name_hit).filter(F.col("score") > 0)

    all_filters = list(filters)
    if exclude_obsolete:
        all_filters.append(("ols:isObsolete", ("true",), True))
    # untagged filters apply everywhere; tagged (faceted-prop) filters
    # apply to the page but are EXCLUDED from every facet count
    base = scored
    for prop, values, negate in all_filters:
        if prop not in facet_fields:
            base = _filter_nodes(base, graph.merged, prop, values, negate)
    paged = base
    for prop, values, negate in all_filters:
        if prop in facet_fields:
            paged = _filter_nodes(paged, graph.merged, prop, values, negate)

    page_df = (
        paged.orderBy(F.desc("score"), "node_id")
        .offset(page * size)
        .limit(size)
        .select("node_id", "types", "names", "score")
    )
    facets = {
        f: base.select(F.explode(f).alias("value")).groupBy("value").count()
        for f in facet_fields
        if f in ("types", "datasources")
    }
    return page_df, facets


def incoming_edges(
    graph: BuiltGraph, node_id: str, page: int = 0, size: int = 20,
    edge_type: str | None = None,
) -> DataFrame:
    """Q8 — the incoming-edge page for a node, endpoint-hydrated
    (GrebiApi.java:81-176)."""
    e = graph.edges.filter(F.col("to_id") == node_id)
    if edge_type:
        e = e.filter(F.col("edge_type") == edge_type)
    from_meta = graph.nodes.select(
        F.col("node_id").alias("from_id"),
        F.col("names").alias("from_names"),
        F.col("types").alias("from_types"),
    )
    return (
        e.join(from_meta, "from_id", "left")
        .select("edge_id", "edge_type", "from_id", "from_names", "from_types", "datasources")
        .orderBy("edge_type", "from_id", "edge_id")
        .offset(page * size)
        .limit(size)
    )


def outgoing_edges(
    graph: BuiltGraph, node_id: str, page: int = 0, size: int = 20,
    edge_type: str | None = None,
) -> DataFrame:
    """Q8 mirror of incoming_edges (GrebiApi.java:129-176): the edges
    FROM a node, hydrated with the target node's header."""
    e = graph.edges.filter(F.col("from_id") == node_id)
    if edge_type:
        e = e.filter(F.col("edge_type") == edge_type)
    to_meta = graph.nodes.select(
        F.col("node_id").alias("to_id"),
        F.col("names").alias("to_names"),
        F.col("types").alias("to_types"),
    )
    return (
        e.join(to_meta, "to_id", "left")
        .select("edge_id", "edge_type", "to_id", "to_names", "to_types", "datasources")
        .orderBy("edge_type", "to_id", "edge_id")
        .offset(page * size)
        .limit(size)
    )


def suggest(graph: BuiltGraph, q: str, size: int = 10) -> DataFrame:
    """Q7 — autocomplete over node names (GrebiApi.java:228 → the Solr
    autocomplete core the engine exports via sinks/solr_jsonl):
    case-insensitive prefix on any name, shortest-first like the
    reference's suggester ranking."""
    ql = (q or "").lower()
    return (
        graph.nodes.select(F.explode("names").alias("name"))
        .filter(F.lower(F.col("name")).startswith(ql))
        .distinct()
        .orderBy(F.length("name"), "name")
        .limit(size)
    )


def subgraph_all(
    graph: BuiltGraph, alias_id: str, max_level: int = 2
) -> tuple[DataFrame, DataFrame]:
    """The neighbourhood expansion notebooks/fipronil.ipynb delegates to
    ``apoc.path.subgraphAll(n, {maxLevel:2})``: every node within
    ``max_level`` undirected hops of the resolved seed, plus all edges
    among them. Each level is one frontier join (node-id sets only — the
    metadata hydration join happens once at the end)."""
    seed = resolve_alias(graph, alias_id)
    und = graph.edges.select("from_id", "to_id")
    both = und.unionAll(
        und.select(F.col("to_id").alias("from_id"), F.col("from_id").alias("to_id"))
    )
    nodes = seed
    for _ in range(max_level):
        nxt = (
            nodes.join(both, nodes.node_id == both.from_id)
            .select(F.col("to_id").alias("node_id"))
        )
        nodes = nodes.unionAll(nxt).distinct().localCheckpoint()
    edges = (
        graph.edges.join(
            nodes.withColumnRenamed("node_id", "from_id"), "from_id", "left_semi"
        ).join(nodes.withColumnRenamed("node_id", "to_id"), "to_id", "left_semi")
    )
    return graph.nodes.join(nodes, "node_id", "left_semi"), edges


def graph_stats(graph: BuiltGraph) -> DataFrame:
    """stats.cypher: total node/edge counts."""
    n = graph.nodes.agg(F.count("*").alias("n")).select(
        F.lit("nodes").alias("entity"), "n"
    )
    e = graph.edges.agg(F.count("*").alias("n")).select(
        F.lit("edges").alias("entity"), "n"
    )
    return n.unionAll(e)


def graph_datasources(graph: BuiltGraph) -> DataFrame:
    """The distinct datasources of a graph's nodes."""
    return graph.nodes.select(F.explode("datasources").alias("d")).distinct()
