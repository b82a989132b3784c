"""Pipeline-operator parity queries: run the *actual graph pipeline
operators* (melt → assign → merge → materialise; equivalence grouping) on
relational inputs, with plain-SQL DuckDB oracles.

This is how the graph engine's own operators — not just generic
relational queries — get hash-checked against an independent engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import SubgraphConfig
from ..operators.groups import build_groups
from ..operators.materialise import materialise_edges
from ..operators.merge import node_table
from ..session import load_tables

PARITY_CONFIG = SubgraphConfig(
    name="parity",
    identifier_props=("id",),
    exclude_edges=("id",),
)


def _star_graph_long(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Melt customer/nation/region into the long entity form: the star
    schema viewed as a property graph (c)-[crm:nation]->(n)-[geo:region]->(r)."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))

    def row(ds, eid, key, val):
        return (
            F.lit("star").alias("subgraph"),
            F.lit(ds).alias("datasource"),
            eid.alias("entity_id"),
            F.lit(key).alias("prop_key") if isinstance(key, str) else key.alias("prop_key"),
            val.alias("value"),
            F.lit(None).cast("string").alias("value_props"),
        )

    c = t["customer"]
    cid = F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))
    customers = (
        c.select(*row("crm", cid, "id", cid))
        .unionAll(c.select(*row("crm", cid, "grebi:type", F.lit("crm:Customer"))))
        .unionAll(c.select(*row("crm", cid, "grebi:name", F.col("c_name"))))
        .unionAll(c.select(*row("crm", cid, "crm:segment", F.col("c_mktsegment"))))
        .unionAll(
            c.select(
                *row(
                    "crm",
                    cid,
                    "crm:nation",
                    F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")),
                )
            )
        )
    )
    n = t["nation"]
    nid = F.concat(F.lit("n:"), F.col("n_nationkey").cast("string"))
    nations = (
        n.select(*row("geo", nid, "id", nid))
        .unionAll(n.select(*row("geo", nid, "grebi:type", F.lit("geo:Nation"))))
        .unionAll(n.select(*row("geo", nid, "grebi:name", F.col("n_name"))))
        .unionAll(
            n.select(
                *row(
                    "geo",
                    nid,
                    "geo:region",
                    F.concat(F.lit("r:"), F.col("n_regionkey").cast("string")),
                )
            )
        )
    )
    r = t["region"]
    rid = F.concat(F.lit("r:"), F.col("r_regionkey").cast("string"))
    regions = (
        r.select(*row("geo", rid, "id", rid))
        .unionAll(r.select(*row("geo", rid, "grebi:type", F.lit("geo:Region"))))
        .unionAll(r.select(*row("geo", rid, "grebi:name", F.col("r_name"))))
    )
    return [customers, nations, regions]


# The reference separates graph BUILD (the 01–06 ETL, run once) from
# graph QUERY (08_run_queries against the built Neo4j). Mirror that:
# the built star graph is materialized once per (session, sf_dir) and
# every downstream query reads the artifact — rebuilding the ETL per
# query would be benchmarking the wrong thing. localCheckpoint survives
# spark.catalog.clearCache(), matching "the built graph is on disk".
_MERGED_CACHE: dict[str, DataFrame] = {}


def _merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged long form of the ONE built star graph — since the
    Cypher surface needs the full BuiltGraph anyway, every parity query
    reads from the same single build (one ETL per session+sf, exactly
    the reference's build-once/query-many split)."""
    # applicationId, not id(spark): a restarted session must rebuild, and
    # a recycled object address must never resurrect a dead checkpoint
    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key in _MERGED_CACHE:
        return _MERGED_CACHE[key]
    merged = _built_graph(spark, sf_dir).merged
    _MERGED_CACHE[key] = merged
    return merged


def graph_merge_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt → assign → merge; per node: distinct prop count + provenance."""
    merged = _merged(spark, sf_dir)
    return (
        merged.groupBy("node_id")
        .agg(
            F.count("*").alias("n_props"),
            F.array_join(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("datasources")))),
                ",",
            ).alias("datasources"),
        )
        .orderBy("node_id")
    )


ORACLE_MERGE_NODES = """
WITH long_form AS (
  SELECT 'c:' || c_custkey::varchar AS node_id, 'id' AS prop_key,
         'c:' || c_custkey::varchar AS value, 'crm' AS ds FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:type', 'crm:Customer', 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:name', c_name, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:segment', c_mktsegment, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:nation',
                   'n:' || c_nationkey::varchar, 'crm' FROM customer
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'id', 'n:' || n_nationkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:type', 'geo:Nation', 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:name', n_name, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'geo:region',
                   'r:' || n_regionkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'id', 'r:' || r_regionkey::varchar, 'geo' FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:type', 'geo:Region', 'geo' FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:name', r_name, 'geo' FROM region
), merged AS (
  SELECT node_id, prop_key, value,
         string_agg(DISTINCT ds, ',' ORDER BY ds) AS datasources
  FROM long_form GROUP BY node_id, prop_key, value
)
SELECT node_id, count(*) AS n_props,
       string_agg(DISTINCT datasources, ',' ORDER BY datasources) AS datasources
FROM merged GROUP BY node_id ORDER BY node_id
"""


def graph_edges_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialised edges of the star graph: property values that are ids
    of existing nodes become edges (J5's semi-join-with-payload), counted
    by (edge_type, to_id)."""
    merged = _merged(spark, sf_dir)
    meta = node_table(merged)
    edges = materialise_edges(merged, meta, PARITY_CONFIG)
    return (
        edges.groupBy("edge_type", "to_id")
        .agg(F.count("*").alias("n_edges"))
        .orderBy("edge_type", "to_id")
    )


ORACLE_EDGES_FK = """
SELECT * FROM (
  SELECT 'crm:nation' AS edge_type, 'n:' || n_nationkey::varchar AS to_id,
         count(*) AS n_edges
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_nationkey
  UNION ALL
  SELECT 'geo:region', 'r:' || r_regionkey::varchar, count(*)
  FROM nation JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_regionkey
) ORDER BY edge_type, to_id
"""


def _equiv_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, ("events",))["events"]
    return e.filter(F.col("value") > 180).select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("k:"), F.get_json_object("props", "$.k")).alias("dst"),
    ).distinct()


def equivalence_groups_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The equivalence-grouping operator (N3: distributed connected
    components + canonical-id election) on a real graph: high-value events
    link user vertices to prop-k vertices; every vertex maps to its
    group's canonical id. Oracle: recursive-CTE reachability + the same
    readability score in SQL."""
    groups = build_groups(_equiv_pairs(spark, sf_dir), None)
    return groups.orderBy("id")


ORACLE_EQUIV_GROUPS = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT 'u:' || user_id::varchar AS src,
         'k:' || json_extract_string(props, '$.k') AS dst
  FROM events WHERE value > 180
), sym AS (
  SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
), vertices AS (
  SELECT DISTINCT src AS v FROM sym
), reach AS (
  SELECT v, v AS r FROM vertices
  UNION
  SELECT reach.v, sym.dst AS r FROM reach JOIN sym ON reach.r = sym.src
), comp AS (
  SELECT v AS id, min(r) AS component FROM reach GROUP BY v
), scored AS (
  SELECT id, component,
         (CASE WHEN id LIKE 'grebi:%' THEN -2147483648
               WHEN id LIKE 'biolink:%' THEN -2147482648
               ELSE (CASE WHEN contains(id, ':') AND NOT id LIKE 'http%'
                          THEN -1000 ELSE 0 END)
                    - length(regexp_replace(id, '[^A-Za-z]', '', 'g'))
          END) AS score
  FROM comp
), canon AS (
  SELECT component, id AS group_id,
         row_number() OVER (PARTITION BY component ORDER BY score, id) AS rn
  FROM scored
)
SELECT s.id, c.group_id
FROM scored s JOIN canon c ON s.component = c.component AND c.rn = 1
ORDER BY s.id
"""


def tsv_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 hash-checked: the nation table viewed as a TSV-shaped wide
    frame (id, name, and a '|'-delimited array cell) melted by the TSV
    scanner — per-prop row/entity counts and value extrema. Exercises
    the literal array-delimiter split and empty-field drop against a
    pure-SQL restatement."""
    from ..sources.tsv import tsv_to_nodes

    n = load_tables(spark, sf_dir, ("nation",))["nation"]
    wide = n.select(
        F.concat(F.lit("n:"), F.col("n_nationkey").cast("string")).alias("id"),
        F.col("n_name").alias("name"),
        F.concat(F.col("n_name"), F.lit("|"), F.lower("n_name")).alias("aliases"),
    )
    rows = tsv_to_nodes(wide, "nat", array_delimiter="|")
    return (
        rows.groupBy("prop_key")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("entity_id").alias("n_entities"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("prop_key")
    )


ORACLE_TSV_ROUNDTRIP = """
WITH long_form AS (
  SELECT 'n:' || n_nationkey::varchar AS entity_id, 'id' AS prop_key,
         'n:' || n_nationkey::varchar AS value FROM nation
  UNION ALL
  SELECT 'n:' || n_nationkey::varchar, 'name', n_name FROM nation
  UNION ALL
  SELECT 'n:' || n_nationkey::varchar, 'aliases',
         unnest(string_split(n_name || '|' || lower(n_name), '|'))
  FROM nation
)
SELECT prop_key, count(*) AS n_rows,
       count(DISTINCT entity_id) AS n_entities,
       min(value) AS min_value, max(value) AS max_value
FROM long_form WHERE value IS NOT NULL AND value != ''
GROUP BY prop_key ORDER BY prop_key
"""


def jsonl_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 hash-checked: documents serialised to JSON lines and ingested
    through the generic JSONL transform (rename docId→id, inject type,
    namespace-prefix bare keys) — per-prop counts and value extrema."""
    from ..sources.jsonl import JsonlTransform, jsonl_to_nodes

    d = load_tables(spark, sf_dir, ("documents",))["documents"]
    lines = d.select(
        F.to_json(
            F.struct(
                F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias(
                    "docId"
                ),
                F.col("lang").alias("lang"),
                F.col("source").alias("source"),
            )
        ).alias("value")
    )
    rows = jsonl_to_nodes(
        lines,
        "docs",
        transform=JsonlTransform(
            rename_fields=(("docId", "id"),),
            inject_type="doc:Document",
            key_prefix="doc:",
        ),
    )
    return (
        rows.groupBy("prop_key")
        .agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("entity_id").alias("n_entities"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .orderBy("prop_key")
    )


ORACLE_JSONL_ROUNDTRIP = """
WITH long_form AS (
  SELECT 'doc:' || doc_id::varchar AS entity_id, 'id' AS prop_key,
         'doc:' || doc_id::varchar AS value FROM documents
  UNION ALL SELECT 'doc:' || doc_id::varchar, 'grebi:type', 'doc:Document' FROM documents
  UNION ALL SELECT 'doc:' || doc_id::varchar, 'doc:lang', lang FROM documents
  UNION ALL SELECT 'doc:' || doc_id::varchar, 'doc:source', source FROM documents
)
SELECT prop_key, count(*) AS n_rows,
       count(DISTINCT entity_id) AS n_entities,
       min(value) AS min_value, max(value) AS max_value
FROM long_form
GROUP BY prop_key ORDER BY prop_key
"""


def neo4j_nodes_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 hash-checked: the dynamic-header Neo4j node-CSV pivot over the
    parity star graph. The prop universe is fixed here, so the wide row
    set (``grebi:nodeId:ID``, ``:LABEL``, provenance, one column per
    property) is deterministic and a pure-SQL oracle can rebuild it."""
    from ..sinks.neo4j_csv import neo4j_node_rows

    merged = _merged(spark, sf_dir)
    meta = node_table(merged)
    return neo4j_node_rows(merged, meta).orderBy("grebi:nodeId:ID")


ORACLE_NEO4J_PIVOT = """
SELECT * FROM (
  SELECT 'c:' || c_custkey::varchar AS "grebi:nodeId:ID",
         'GraphNode;crm:Customer' AS ":LABEL",
         'crm' AS "grebi:datasources",
         'c:' || c_custkey::varchar AS "grebi:sourceIds",
         'n:' || c_nationkey::varchar AS "crm:nation",
         c_mktsegment AS "crm:segment",
         NULL AS "geo:region",
         'c:' || c_custkey::varchar AS id
  FROM customer
  UNION ALL
  SELECT 'n:' || n_nationkey::varchar, 'GraphNode;geo:Nation', 'geo',
         'n:' || n_nationkey::varchar, NULL, NULL,
         'r:' || n_regionkey::varchar, 'n:' || n_nationkey::varchar
  FROM nation
  UNION ALL
  SELECT 'r:' || r_regionkey::varchar, 'GraphNode;geo:Region', 'geo',
         'r:' || r_regionkey::varchar, NULL, NULL, NULL,
         'r:' || r_regionkey::varchar
  FROM region
) ORDER BY "grebi:nodeId:ID"
"""


def prefix_normalise_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1 hash-checked: longest-match prefix canonicalisation over
    synthetic CURIEs built from the events props — overlapping prefixes
    ('k' vs 'k1') prove the LONGEST match wins, exactly the reference's
    trie semantics. Oracle: a CASE chain ordered longest-first."""
    from ..operators.normalise import PrefixMap, normalise_prefixes

    e = load_tables(spark, sf_dir, ("events",))["events"]
    long_rows = e.select(
        F.lit("s").alias("subgraph"),
        F.lit("ev").alias("datasource"),
        F.concat(F.lit("k"), F.get_json_object("props", "$.k")).alias("entity_id"),
        F.lit("p").alias("prop_key"),
        F.col("event_type").alias("value"),
        F.lit(None).cast("string").alias("value_props"),
    )
    pm = PrefixMap({"k": "key:", "k1": "keyone:", "cl": "act:cl"})
    out = normalise_prefixes(long_rows, pm)
    return (
        out.groupBy("entity_id")
        .agg(F.count("*").alias("n_rows"), F.min("value").alias("min_value"))
        .orderBy("entity_id")
    )


ORACLE_PREFIX_ROUNDTRIP = """
WITH raw AS (
  SELECT 'k' || json_extract_string(props, '$.k') AS entity_id,
         event_type AS value
  FROM events
), rewritten AS (
  SELECT CASE WHEN starts_with(entity_id, 'k1')
              THEN 'keyone:' || substr(entity_id, 3)
              WHEN starts_with(entity_id, 'cl')
              THEN 'act:cl' || substr(entity_id, 3)
              WHEN starts_with(entity_id, 'k')
              THEN 'key:' || substr(entity_id, 2)
              ELSE entity_id END AS entity_id,
         CASE WHEN starts_with(value, 'k1')
              THEN 'keyone:' || substr(value, 3)
              WHEN starts_with(value, 'cl')
              THEN 'act:cl' || substr(value, 3)
              WHEN starts_with(value, 'k')
              THEN 'key:' || substr(value, 2)
              ELSE value END AS value
  FROM raw
)
SELECT entity_id, count(*) AS n_rows, min(value) AS min_value
FROM rewritten GROUP BY entity_id ORDER BY entity_id
"""


# full BuiltGraph artifact per (session, sf_dir) — the Cypher surface
# queries the BUILT graph, exactly like 08_run_queries hits the built
# Neo4j, never the ETL
_BUILT_CACHE: dict[str, object] = {}


def _built_graph(spark: SparkSession, sf_dir: str):
    from ..pipeline import build_graph

    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _BUILT_CACHE:
        _BUILT_CACHE[key] = build_graph(
            _star_graph_long(spark, sf_dir), PARITY_CONFIG
        )
    return _BUILT_CACHE[key]


def cypher_star_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Cypher surface as a DRIVER-CHECKED query: a verbatim Cypher
    text (the reference's 2-hop + aggregate shape,
    queries/mouse_phenotypes_by_system.cypher:1-4's structure) compiled
    by ``plans.cypher`` and executed against the BUILT star graph —
    customers per region through the (c)-[:crm:nation]->(n)-
    [:geo:region]->(r) chain. The oracle restates the same question
    relationally, so the hash match proves the whole stack: melt →
    assign → merge → materialise → Cypher parse → plan → execute.

    (The full translator runs the reference's own queries/*.cypher in
    tests/test_cypher.py; this entry puts one end-to-end path in the
    oracle suite.)

    Scale shape: each Cypher hop compiles to an edge-filter equi-join
    against the node table (Q1's mapping in SURVEY §2.5) — the same
    plans the hand-written graph queries produce.
    """
    from .cypher import run_cypher

    g = _built_graph(spark, sf_dir)
    return run_cypher(
        g,
        "MATCH (c:`crm:Customer`)-[:`crm:nation`]->(n:`geo:Nation`)"
        "-[:`geo:region`]->(r:`geo:Region`) "
        "RETURN r.`grebi:name`[0] AS region, count(c) AS n_customers "
        "ORDER BY n_customers DESC, region",
    )


ORACLE_CYPHER_STAR = """
SELECT r.r_name AS region, count(*) AS n_customers
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
ORDER BY n_customers DESC, region
"""



def cypher_filter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A second verbatim Cypher in the oracle suite, exercising the
    WHERE translation the first one doesn't: membership over a
    multi-valued property (``"lit" IN v.`prop``` — the
    queries/mouse_phenotypes_by_system.cypher:2 predicate shape) plus a
    1-hop pattern and a count aggregate: how many customers sit in each
    of the two named nations.
    """
    from .cypher import run_cypher

    g = _built_graph(spark, sf_dir)
    return run_cypher(
        g,
        'MATCH (c:`crm:Customer`)-[:`crm:nation`]->(n:`geo:Nation`) '
        'WHERE "NATION_3" IN n.`grebi:name` '
        "RETURN n.`grebi:name`[0] AS nation, count(c) AS n_customers "
        "ORDER BY nation",
    )


ORACLE_CYPHER_FILTER = """
SELECT n.n_name AS nation, count(*) AS n_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE n.n_name = 'NATION_3'
GROUP BY n.n_name
ORDER BY nation
"""


def cypher_set_ic_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cypher MUTATIONS in the oracle suite — the ic_scores notebook
    write-back flow (notebooks/ic_scores.ipynb:36-63) executed for real
    against the built star graph: (1) ``SET ancestor.num_desc`` from a
    var-length-closure WITH aggregate, (2) ``SET cl.ic = 1.0 -
    (cl.num_desc/$max)`` arithmetic over the JUST-WRITTEN property, then
    a read of the stored ic values — so the hash match proves write →
    store → re-read round-trips, not just the read planner. Mutations
    are copy-on-write (plans/cypher_write.py): the session-cached parity
    graph is never modified, so repeated driver runs stay independent.

    The hierarchy is the star graph's own:
    (c)-[:crm:nation]->(n)-[:geo:region]->(r); ancestors are nations
    (descendants = their customers) and regions (descendants = their
    nations + customers)."""
    from .cypher import run_cypher
    from .cypher_write import run_cypher_mutation

    g = _built_graph(spark, sf_dir)
    r1 = run_cypher_mutation(
        g,
        "MATCH (ancestor)<-[*1..]-(subclass) "
        "WITH ancestor, count(DISTINCT subclass) AS num_desc "
        "SET ancestor.num_desc = num_desc "
        "RETURN max(num_desc) AS max_num_desc",
    )
    mx = float(r1.result.collect()[0]["max_num_desc"])
    r2 = run_cypher_mutation(
        r1.graph,
        "MATCH (cl) SET cl.ic = 1.0 - (cl.num_desc / $max_num_desc)",
        params={"max_num_desc": mx},
    )
    read = run_cypher(
        r2.graph,
        "MATCH (n) WHERE n.`ic` IS NOT NULL "
        "RETURN n AS node_id, n.`grebi:name`[0] AS name, "
        "toFloat(n.`num_desc`[0]) AS num_desc, toFloat(n.`ic`[0]) AS ic "
        "ORDER BY node_id",
    )
    return read.select(
        "node_id",
        "name",
        F.col("num_desc").cast("long").alias("num_desc"),
        F.round("ic", 6).alias("ic"),
    )


ORACLE_CYPHER_SET_IC = """
WITH cust AS (
  SELECT 'c:' || c_custkey::varchar AS id,
         'n:' || c_nationkey::varchar AS nat
  FROM customer
), nat AS (
  SELECT 'n:' || n_nationkey::varchar AS id,
         'r:' || n_regionkey::varchar AS reg, n_name FROM nation
), reg AS (
  SELECT 'r:' || r_regionkey::varchar AS id, r_name FROM region
), num_nation AS (
  SELECT nat AS id, count(*) AS nd FROM cust GROUP BY nat
), num_region AS (
  SELECT reg AS id, count(*) AS nd FROM (
    SELECT reg FROM nat
    UNION ALL
    SELECT nat.reg FROM cust JOIN nat ON cust.nat = nat.id
  ) GROUP BY reg
), num_desc AS (
  SELECT * FROM num_nation UNION ALL SELECT * FROM num_region
), mx AS (SELECT max(nd) AS m FROM num_desc)
SELECT d.id AS node_id,
       coalesce(n.n_name, r.r_name) AS name,
       d.nd AS num_desc,
       round(1.0 - (d.nd / (SELECT m FROM mx)::DOUBLE), 6) AS ic
FROM num_desc d
LEFT JOIN nat n ON d.id = n.id
LEFT JOIN reg r ON d.id = r.id
ORDER BY node_id
"""


def _bio_graph_long(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """Melt region/nation/customer into the BIOMEDICAL long form the
    reference's remaining two queries/*.cypher expect — so their
    VERBATIM texts run in the oracle suite against sf data:

    - disease per region (``biolink:Disease``, id ``mondo:000504<r>`` —
      region 4 yields the queries' literal anchor ``mondo:0005044``)
    - gene per nation (``hgnc:Gene``, ``hgnc:symbol GENE_<n>``)
    - SNP per nation (``gwas:SNP``) with ``gwas:associated_with`` →
      its region's disease and ``gwas:mapped_gene`` → its gene
    - evidence per customer (``otar:Evidence``) with ``otar:snp`` →
      its nation's SNP, a fixed-width unique ``otar:score``
      (``0.<custkey zero-padded>`` — lexicographic == numeric, so the
      translator's raw-value ORDER BY and the oracle's float sort pick
      the same top-10), and ``otar:variantEffect`` absent for every 7th
      customer (exercising the IS NOT NULL leg)."""
    t = load_tables(spark, sf_dir, ("customer", "nation", "region"))

    def row(ds, eid, key, val):
        return (
            F.lit("bio").alias("subgraph"),
            F.lit(ds).alias("datasource"),
            eid.alias("entity_id"),
            F.lit(key).alias("prop_key"),
            val.alias("value"),
            F.lit(None).cast("string").alias("value_props"),
        )

    r = t["region"]
    did = F.concat(F.lit("mondo:000504"), F.col("r_regionkey").cast("string"))
    diseases = (
        r.select(*row("mondo", did, "id", did))
        .unionAll(r.select(*row("mondo", did, "grebi:type", F.lit("biolink:Disease"))))
        .unionAll(
            r.select(*row("mondo", did, "grebi:name", F.concat(F.lit("DISEASE_"), F.col("r_name"))))
        )
    )
    n = t["nation"]
    gid = F.concat(F.lit("hgnc:"), F.col("n_nationkey").cast("string"))
    genes = (
        n.select(*row("hgnc", gid, "id", gid))
        .unionAll(n.select(*row("hgnc", gid, "grebi:type", F.lit("hgnc:Gene"))))
        .unionAll(
            n.select(
                *row("hgnc", gid, "hgnc:symbol", F.concat(F.lit("GENE_"), F.col("n_nationkey").cast("string")))
            )
        )
    )
    sid = F.concat(F.lit("snp:"), F.col("n_nationkey").cast("string"))
    snp_did = F.concat(F.lit("mondo:000504"), F.col("n_regionkey").cast("string"))
    snps = (
        n.select(*row("gwas", sid, "id", sid))
        .unionAll(n.select(*row("gwas", sid, "grebi:type", F.lit("gwas:SNP"))))
        .unionAll(n.select(*row("gwas", sid, "gwas:associated_with", snp_did)))
        .unionAll(n.select(*row("gwas", sid, "gwas:mapped_gene", gid)))
    )
    c = t["customer"]
    eid = F.concat(F.lit("otar:"), F.col("c_custkey").cast("string"))
    esnp = F.concat(F.lit("snp:"), F.col("c_nationkey").cast("string"))
    score = F.concat(F.lit("0."), F.lpad(F.col("c_custkey").cast("string"), 6, "0"))
    evidence = (
        c.select(*row("otar", eid, "id", eid))
        .unionAll(c.select(*row("otar", eid, "grebi:type", F.lit("otar:Evidence"))))
        .unionAll(c.select(*row("otar", eid, "otar:snp", esnp)))
        .unionAll(c.select(*row("otar", eid, "otar:score", score)))
        .unionAll(
            c.filter(F.col("c_custkey") % 7 != 0).select(
                *row("otar", eid, "otar:variantEffect", F.col("c_mktsegment"))
            )
        )
    )
    return [diseases, genes, snps, evidence]


_BIO_CACHE: dict[str, object] = {}


def _bio_graph(spark: SparkSession, sf_dir: str):
    from ..pipeline import build_graph

    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _BIO_CACHE:
        _BIO_CACHE[key] = build_graph(
            _bio_graph_long(spark, sf_dir), PARITY_CONFIG
        )
    return _BIO_CACHE[key]


# queries/genes_to_diseases_ranked_by_otar_score.cypher:1-10, verbatim
CYPHER_OTAR_RANKED = """
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

# queries/gwas_snps_to_human_diseases.cypher:1-7, verbatim
CYPHER_SNP_PATHS = """
MATCH (d:`biolink:Disease`)-[:id]->(id:Id {id: "mondo:0005044"})
WITH d
MATCH (s:`gwas:SNP`)-[]->(d)
WITH s, d
MATCH p = (d)<-[]-(s)-[]->(g:`hgnc:Gene`)
RETURN p
"""


def cypher_otar_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's queries/genes_to_diseases_ranked_by_otar_score
    .cypher run VERBATIM through the translator against the built bio
    graph — Id-anchored match, three chained MATCH/WITH hops, an
    undirected leg, IS-NOT-NULL filter, ORDER BY a raw multi-valued
    prop, DISTINCT projection, LIMIT. Scores are unique fixed-width
    decimals so the top-10 row SET is deterministic at every sf."""
    from .cypher import run_cypher

    g = _bio_graph(spark, sf_dir)
    return run_cypher(g, CYPHER_OTAR_RANKED)


ORACLE_CYPHER_OTAR_RANKED = """
SELECT DISTINCT 'GENE_' || c_nationkey::varchar AS gene_symbol,
       'DISEASE_' || r_name AS disease_name,
       c_mktsegment AS variant_effect,
       CAST('0.' || lpad(c_custkey::varchar, 6, '0') AS DOUBLE) AS otar_score
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_regionkey = 4 AND c_custkey % 7 <> 0
ORDER BY otar_score DESC
LIMIT 10
"""


def cypher_snp_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """queries/gwas_snps_to_human_diseases.cypher run VERBATIM: the
    ``p = (...)`` path-assignment + ``RETURN p`` shape — the path
    expands to the query's named node vars (d, s, g) as node ids."""
    from .cypher import run_cypher

    g = _bio_graph(spark, sf_dir)
    return run_cypher(g, CYPHER_SNP_PATHS)


ORACLE_CYPHER_SNP_PATHS = """
SELECT 'mondo:0005044' AS d,
       'snp:' || n_nationkey::varchar AS s,
       'hgnc:' || n_nationkey::varchar AS g
FROM nation WHERE n_regionkey = 4
ORDER BY s
"""


# one EXECUTED sqlite KV store (nodes + aliases + edges) per
# (application, sf_dir) — the serving artifact is built once, exactly
# like the graph it serves
_KV_STORE_CACHE: dict[str, str] = {}


def _kv_store(spark: SparkSession, sf_dir: str) -> str:
    import os
    import tempfile

    from ..sinks.kv import build_kv_store

    key = f"{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _KV_STORE_CACHE:
        g = _built_graph(spark, sf_dir)
        db = os.path.join(tempfile.mkdtemp(prefix="grebi_kv_"), "store.sqlite")
        build_kv_store(g.merged, g.nodes, db, shards=4, edges=g.edges)
        _KV_STORE_CACHE[key] = db
    return _KV_STORE_CACHE[key]


def kv_edge_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K6's EDGE half in the oracle suite: every nation→region edge
    of the built star graph, resolved BY EDGE ID through the executed
    sqlite KV store (distributed shard load → compaction → pure point-
    read multiGet, sinks/kv.py) and returned from the STORED JSON —
    if the store dropped, miskeyed, or corrupted any edge document the
    row set or values diverge from the oracle's relational restatement.
    The reference bulk-loads edges next to nodes into its RocksDB
    (nextflow/01_create_subgraph.nf:309-312) and hydrates edge ids from
    it; this is that read path, executed."""
    import json as _json

    from ..sinks.kv import kv_store_get

    g = _built_graph(spark, sf_dir)
    db = _kv_store(spark, sf_dir)
    ids = [
        r["edge_id"]
        for r in g.edges.filter(F.col("edge_type") == "geo:region")
        .select("edge_id")
        .collect()
    ]
    got = kv_store_get(db, sorted(ids))
    docs = [_json.loads(v) for v in got.values()]
    rows = [
        (d["edge_type"], d["from_id"], d["to_id"], ",".join(d["datasources"]))
        for d in docs
    ]
    return spark.createDataFrame(
        rows, "edge_type string, from_id string, to_id string, datasources string"
    ).orderBy("from_id")


ORACLE_KV_EDGE_RESOLUTION = """
SELECT 'geo:region' AS edge_type,
       'n:' || n_nationkey::varchar AS from_id,
       'r:' || n_regionkey::varchar AS to_id,
       'geo' AS datasources
FROM nation
ORDER BY from_id
"""


def edge_page_outgoing_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8's OUTGOING half in the oracle suite (GrebiApi.java:129-176
    — the /nodes/{id}/outgoing_edges endpoint the HTTP facade serves):
    page 0 of nation n:3's outgoing edges over the BUILT star graph,
    hydrated with the target node's header. Deterministic paging: total
    order (edge_type, to_id, edge_id). The oracle restates hydration
    relationally, so the hash proves build → materialise → page."""
    from .graph_queries import outgoing_edges

    g = _built_graph(spark, sf_dir)
    return outgoing_edges(g, "n:3", page=0, size=10).select(
        "edge_type",
        "to_id",
        F.array_join("to_names", ",").alias("to_names"),
        F.array_join("to_types", ",").alias("to_types"),
    )


ORACLE_EDGE_PAGE_OUTGOING = """
SELECT 'geo:region' AS edge_type,
       'r:' || n.n_regionkey::varchar AS to_id,
       r.r_name AS to_names,
       'geo:Region' AS to_types
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE n.n_nationkey = 3
ORDER BY edge_type, to_id
LIMIT 10
"""


def graph_search_negative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6's NEGATIVE-FILTER semantics in the oracle suite (GrebiSolrQuery.java:
    118-121's ``-field:(...)`` filter + GrebiApi.java:198's always-on
    obsolete exclusion): search the built star graph for id-substring
    'c:11', excluding two market segments (OR within the negated
    filter), page 0 of 10 by (score desc, node_id). The oracle restates
    the same predicate relationally — the hash proves the filter pushes
    through the merged long table (anti-join), not a row-wide pivot."""
    from ..plans.graph_queries import search_nodes

    g = _built_graph(spark, sf_dir)
    page_df, _ = search_nodes(
        g,
        "c:11",
        page=0,
        size=10,
        filters=(("crm:segment", ("BUILDING", "MACHINERY"), True),),
    )
    return page_df.select(
        "node_id",
        F.array_join("names", ",").alias("name"),
        F.col("score").cast("long").alias("score"),
    )


ORACLE_SEARCH_NEGATIVE = """
SELECT 'c:' || c_custkey::varchar AS node_id,
       c_name AS name,
       1000 AS score
FROM customer
WHERE contains('c:' || c_custkey::varchar, 'c:11')
  AND c_mktsegment NOT IN ('BUILDING', 'MACHINERY')
ORDER BY node_id
LIMIT 10
"""


def graph_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 over the BUILT graph (the /suggest endpoint,
    GrebiApi.java:228): case-insensitive name-prefix autocomplete,
    shortest-first with a name tiebreak — the graph-side twin of
    autocomplete_parts (which runs on the parts table)."""
    from .graph_queries import suggest

    g = _built_graph(spark, sf_dir)
    return suggest(g, "NATION_1", size=5)


ORACLE_GRAPH_SUGGEST = """
SELECT n_name AS name FROM nation
WHERE lower(n_name) LIKE 'nation_1%'
ORDER BY length(n_name), n_name
LIMIT 5
"""


# ---------------------------------------------------------------------------
# Incremental maintenance as oracle-checked queries: the add / remove /
# update verbs (incremental.py) produce graphs that must be value-identical
# to a from-scratch build over the resulting source set — so the DuckDB
# oracle IS the from-scratch build, and a hash match proves each verb's
# rebuild from the retained rows end to end.
# Like the Cypher family, the maintained states are built once per
# (session, sf_dir): build-once / query-many.
# ---------------------------------------------------------------------------

INC_CONFIG = SubgraphConfig(
    name="parity-inc",
    identifier_props=("id", "parity:sameAs"),
    exclude_edges=("id", "parity:sameAs"),
)

_INC_CACHE: dict[str, dict] = {}


def _zone_source(
    spark: SparkSession, sf_dir: str, even_only: bool = False
) -> DataFrame:
    """A 'map' datasource declaring one grebi:zone_* entity per region,
    equivalent (parity:sameAs) to the region's node — folding it in must
    FUSE each {zone, region} pair into one clique whose canonical is the
    grebi:-prefixed id, and rewrite every nation's geo:region reference.
    ``even_only`` keeps only even region keys — the update_datasource
    replacement that splits the odd cliques back apart."""
    r = load_tables(spark, sf_dir, ("region",))["region"]
    if even_only:
        r = r.filter(F.col("r_regionkey") % 2 == 0)
    zid = F.concat(F.lit("grebi:zone"), F.col("r_regionkey").cast("string"))
    rid = F.concat(F.lit("r:"), F.col("r_regionkey").cast("string"))

    def row(key, val):
        return (
            F.lit("star").alias("subgraph"),
            F.lit("map").alias("datasource"),
            zid.alias("entity_id"),
            F.lit(key).alias("prop_key"),
            val.alias("value"),
            F.lit(None).cast("string").alias("value_props"),
        )

    return (
        r.select(*row("id", zid))
        .unionAll(r.select(*row("grebi:type", F.lit("geo:Zone"))))
        .unionAll(r.select(*row("parity:sameAs", rid)))
    )


def _inc_states(spark: SparkSession, sf_dir: str) -> dict:
    """The maintained graph states, built once per (session, sf_dir):

    * ``full``  — stateful([customers, nations]) + add(regions): grows the
      graph with a source whose ids are TARGETS of existing references
      (new nodes make existing references resolve into edges).
    * ``geo``   — remove('crm') applied to ``full``: a chain of two
      verbs (the remove runs on an already-maintained state), vanishing
      nodes and shrinking counts.
    * ``fused`` — stateful([c, n, r]) + add(zone aliases) under a config
      whose identifier_props include parity:sameAs: clique FUSION with a
      canonical flip (grebi:* wins election) plus cross-clique reference
      rewrite of every nation's geo:region value.
    * ``upd``   — update_datasource('map', even-only zones) applied to
      ``fused``: one verb must SPLIT the odd cliques back (canonical
      reverts to r:*, references rewritten back), keep the even cliques
      fused, and vanish the odd zone entities — remove∘add fused.
    """
    return {k: _inc_state(spark, sf_dir, k) for k in ("full", "geo", "fused", "upd")}


def _inc_state(spark: SparkSession, sf_dir: str, which: str):
    """One maintained state, built lazily per (session, sf_dir, state) —
    a query sampled cold pays only its own dependency chain (geo needs
    full; upd needs fused), not the whole family."""
    from ..incremental import (
        add_datasource,
        build_graph_stateful,
        remove_datasource,
        update_datasource,
    )

    key = f"{spark.sparkContext.applicationId}:{sf_dir}:{which}"
    if key in _INC_CACHE:
        return _INC_CACHE[key]
    customers, nations, regions = _star_graph_long(spark, sf_dir)
    if which == "base":
        out = build_graph_stateful([customers, nations], PARITY_CONFIG)
    elif which == "full":
        out = add_datasource(_inc_state(spark, sf_dir, "base"), regions)
    elif which == "geo":
        out = remove_datasource(_inc_state(spark, sf_dir, "full"), "crm")
    elif which == "fused":
        state_b = build_graph_stateful([customers, nations, regions], INC_CONFIG)
        out = add_datasource(state_b, _zone_source(spark, sf_dir))
    elif which == "upd":
        out = update_datasource(
            _inc_state(spark, sf_dir, "fused"),
            "map",
            _zone_source(spark, sf_dir, even_only=True),
        )
    else:  # pragma: no cover - caller bug
        raise ValueError(which)
    _INC_CACHE[key] = out
    return out


def _merge_profile(merged: DataFrame) -> DataFrame:
    return (
        merged.groupBy("node_id")
        .agg(
            F.count("*").alias("n_props"),
            F.array_join(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("datasources")))
                ),
                ",",
            ).alias("datasources"),
        )
        .orderBy("node_id")
    )


def incremental_add_merge_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_datasource correctness gate: the grown graph's
    merged profile vs the oracle's from-scratch build over all three
    sources (same SQL as graph_merge_nodes — equality IS the contract)."""
    return _merge_profile(_inc_state(spark, sf_dir, "full").graph.merged)


def incremental_add_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialise gate: adding regions makes every nation's
    geo:region value resolvable, so the grown graph must hold exactly the
    nation→region FK edges next to the customer→nation set."""
    edges = _inc_state(spark, sf_dir, "full").graph.edges
    return (
        edges.groupBy("edge_type", "to_id")
        .agg(F.count("*").alias("n_edges"))
        .orderBy("edge_type", "to_id")
    )


def incremental_remove_merge_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """remove_datasource gate, chained on the incrementally-grown state:
    retiring 'crm' must vanish every customer node and leave the
    geo-only graph — value-identical to never having ingested crm."""
    return _merge_profile(_inc_state(spark, sf_dir, "geo").graph.merged)


ORACLE_INC_REMOVE_MERGE = """
WITH long_form AS (
  SELECT 'n:' || n_nationkey::varchar AS node_id, 'id' AS prop_key,
         'n:' || n_nationkey::varchar AS value, 'geo' AS ds FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:type', 'geo:Nation', 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:name', n_name, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'geo:region',
                   'r:' || n_regionkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'id', 'r:' || r_regionkey::varchar, 'geo' FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:type', 'geo:Region', 'geo' FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:name', r_name, 'geo' FROM region
), merged AS (
  SELECT node_id, prop_key, value,
         string_agg(DISTINCT ds, ',' ORDER BY ds) AS datasources
  FROM long_form GROUP BY node_id, prop_key, value
)
SELECT node_id, count(*) AS n_props,
       string_agg(DISTINCT datasources, ',' ORDER BY datasources) AS datasources
FROM merged GROUP BY node_id ORDER BY node_id
"""


def incremental_remove_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index gate: after the chained add + remove, the maintained
    per-prop counts must equal a fresh aggregation over the surviving
    corpus."""
    pc = _inc_state(spark, sf_dir, "geo").graph.index.prop_counts
    return pc.orderBy("prop_key")


ORACLE_INC_REMOVE_INDEX = """
WITH long_form AS (
  SELECT 'n:' || n_nationkey::varchar AS node_id, 'id' AS prop_key,
         'n:' || n_nationkey::varchar AS value FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:type', 'geo:Nation' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:name', n_name FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'geo:region',
                   'r:' || n_regionkey::varchar FROM nation
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'id', 'r:' || r_regionkey::varchar FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:type', 'geo:Region' FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:name', r_name FROM region
), merged AS (
  SELECT DISTINCT node_id, prop_key, value FROM long_form
)
SELECT prop_key, count(*) AS n_values
FROM merged GROUP BY prop_key ORDER BY prop_key
"""


def incremental_fuse_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hard add: folding in zone aliases FUSES each {zone, region}
    clique (canonical flips to the grebi:* id), and cross-clique
    reference invalidation must rewrite every nation's geo:region value
    and the fused rows' own id/sameAs strings. Full merged triple dump —
    any stale canonical anywhere hash-mismatches."""
    merged = _inc_state(spark, sf_dir, "fused").graph.merged
    return merged.select(
        "node_id",
        "prop_key",
        "value",
        F.array_join("datasources", ",").alias("datasources"),
    ).orderBy("node_id", "prop_key", "value", "datasources")


ORACLE_INC_FUSE_MERGED = """
WITH long_form AS (
  SELECT 'c:' || c_custkey::varchar AS node_id, 'id' AS prop_key,
         'c:' || c_custkey::varchar AS value, 'crm' AS ds FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:type', 'crm:Customer', 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:name', c_name, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:segment', c_mktsegment, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:nation',
                   'n:' || c_nationkey::varchar, 'crm' FROM customer
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'id', 'n:' || n_nationkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:type', 'geo:Nation', 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:name', n_name, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'geo:region',
                   'grebi:zone' || n_regionkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'grebi:zone' || r_regionkey::varchar, 'id',
                   'grebi:zone' || r_regionkey::varchar, 'geo' FROM region
  UNION ALL SELECT 'grebi:zone' || r_regionkey::varchar, 'grebi:type', 'geo:Region', 'geo' FROM region
  UNION ALL SELECT 'grebi:zone' || r_regionkey::varchar, 'grebi:name', r_name, 'geo' FROM region
  UNION ALL SELECT 'grebi:zone' || r_regionkey::varchar, 'id',
                   'grebi:zone' || r_regionkey::varchar, 'map' FROM region
  UNION ALL SELECT 'grebi:zone' || r_regionkey::varchar, 'grebi:type', 'geo:Zone', 'map' FROM region
  UNION ALL SELECT 'grebi:zone' || r_regionkey::varchar, 'parity:sameAs',
                   'grebi:zone' || r_regionkey::varchar, 'map' FROM region
)
SELECT node_id, prop_key, value,
       string_agg(DISTINCT ds, ',' ORDER BY ds) AS datasources
FROM long_form GROUP BY node_id, prop_key, value
ORDER BY node_id, prop_key, value, datasources
"""


def incremental_update_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replace-in-place gate: updating 'map' to even-only zones must,
    in ONE verb, split every odd {zone, region} clique back apart
    (canonical reverts to r:*, every referencing nation's geo:region
    value rewritten back), keep the even cliques fused under grebi:zone*,
    and vanish the odd zone entities. Full merged triple dump — any stale
    canonical in either direction hash-mismatches the from-scratch
    oracle."""
    merged = _inc_state(spark, sf_dir, "upd").graph.merged
    return merged.select(
        "node_id",
        "prop_key",
        "value",
        F.array_join("datasources", ",").alias("datasources"),
    ).orderBy("node_id", "prop_key", "value", "datasources")


ORACLE_INC_UPDATE_MERGED = """
WITH canon AS (
  SELECT r_regionkey AS k, r_name,
         CASE WHEN r_regionkey % 2 = 0
              THEN 'grebi:zone' || r_regionkey::varchar
              ELSE 'r:' || r_regionkey::varchar END AS cid
  FROM region
), long_form AS (
  SELECT 'c:' || c_custkey::varchar AS node_id, 'id' AS prop_key,
         'c:' || c_custkey::varchar AS value, 'crm' AS ds FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:type', 'crm:Customer', 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:name', c_name, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:segment', c_mktsegment, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:nation',
                   'n:' || c_nationkey::varchar, 'crm' FROM customer
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'id', 'n:' || n_nationkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:type', 'geo:Nation', 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:name', n_name, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'geo:region', c.cid, 'geo'
    FROM nation JOIN canon c ON c.k = n_regionkey
  UNION ALL SELECT c.cid, 'id', c.cid, 'geo' FROM canon c
  UNION ALL SELECT c.cid, 'grebi:type', 'geo:Region', 'geo' FROM canon c
  UNION ALL SELECT c.cid, 'grebi:name', c.r_name, 'geo' FROM canon c
  UNION ALL SELECT c.cid, 'id', c.cid, 'map' FROM canon c WHERE c.k % 2 = 0
  UNION ALL SELECT c.cid, 'grebi:type', 'geo:Zone', 'map' FROM canon c WHERE c.k % 2 = 0
  UNION ALL SELECT c.cid, 'parity:sameAs', c.cid, 'map' FROM canon c WHERE c.k % 2 = 0
)
SELECT node_id, prop_key, value,
       string_agg(DISTINCT ds, ',' ORDER BY ds) AS datasources
FROM long_form GROUP BY node_id, prop_key, value
ORDER BY node_id, prop_key, value, datasources
"""


def incremental_persist_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The durable-state gate, driver-visible: save_state → load_state of
    the 'fused' maintained graph, then dump the RELOADED merged frame —
    it must hash-match the same from-scratch DuckDB oracle the live state
    matches, proving the maintained graph round-trips Parquet
    value-for-value (the suite additionally proves maintenance RESUMES
    on the reloaded state)."""
    import tempfile

    from ..incremental import load_state, save_state

    key = f"persist:{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _INC_CACHE:
        path = tempfile.mkdtemp(prefix="grebi_state_")
        save_state(_inc_state(spark, sf_dir, "fused"), path)
        _INC_CACHE[key] = load_state(spark, path)
    merged = _INC_CACHE[key].graph.merged
    return merged.select(
        "node_id",
        "prop_key",
        "value",
        F.array_join("datasources", ",").alias("datasources"),
    ).orderBy("node_id", "prop_key", "value", "datasources")


def state_rollback_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATIONAL undo path, driver-visible: snapshot the maintained
    graph as version v1 (``save_state_version`` — the blue/green layout
    the ANN index publishes through, fsutil), apply a maintenance verb
    and snapshot v2, then ROLL BACK — an O(1) CURRENT-pointer swap that
    moves no data — and reload whatever the pointer now serves. The
    reloaded merged profile must hash-match the same from-scratch oracle
    as the pre-verb graph, proving rollback restores the exact pre-verb
    snapshot value-for-value.

    The verb rolled back here is ``remove_datasource('crm')``: v1 holds
    the full three-source graph, v2 the geo-only remainder, and the
    rolled-back pointer must resurrect every customer node. The
    reference's only recovery from a bad release is re-running the whole
    build over the surviving dumps (the Nextflow DAG has no undo); at
    100 TB this pointer swap replaces that full rebuild. Crash-mid-save
    invisibility, in-flight reader isolation across the swap, and
    roll-forward are suite-tested (tests/test_state_versions.py)."""
    from ..incremental import load_state_current, rollback_state

    key = f"rollback:{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _INC_CACHE:
        root = _version_root(spark, sf_dir)
        rollback_state(spark, root)  # v2 → v1: undo the crm retirement
        _INC_CACHE[key] = load_state_current(spark, root)
    merged = _INC_CACHE[key].graph.merged
    return _merge_profile(merged)


def _version_root(spark: SparkSession, sf_dir: str) -> str:
    """One shared snapshot root per (session, sf_dir): v1 = the full
    three-source graph, v2 = after remove_datasource('crm')."""
    from ..incremental import save_state_version

    key = f"vroot:{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _INC_CACHE:
        import tempfile

        root = tempfile.mkdtemp(prefix="grebi_state_versions_")
        save_state_version(_inc_state(spark, sf_dir, "full"), root)
        save_state_version(_inc_state(spark, sf_dir, "geo"), root)
        _INC_CACHE[key] = root
    return _INC_CACHE[key]


def state_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The release diff an operator reads BEFORE deciding to roll back:
    every merged triple added or removed between two published
    snapshots (v1 = the full three-source graph, v2 = after retiring
    'crm'), triple-granular — a canonical flip, a reference rewrite, or
    a vanished entity shows up as concrete rows, not a count drift.
    Here the whole customer corpus must appear as status='removed' and
    NOTHING may appear as added (retiring crm touches no geo triple) —
    the from-scratch oracle enumerates exactly the customer long form."""
    from ..incremental import state_version_diff as diff

    return diff(spark, _version_root(spark, sf_dir), "v1", "v2").orderBy(
        "status", "node_id", "prop_key", "value"
    )


ORACLE_STATE_VERSION_DIFF = """
SELECT 'removed' AS status, node_id, prop_key, value FROM (
  SELECT 'c:' || c_custkey::varchar AS node_id, 'id' AS prop_key,
         'c:' || c_custkey::varchar AS value FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:type', 'crm:Customer' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:name', c_name FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:segment', c_mktsegment FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:nation',
                   'n:' || c_nationkey::varchar FROM customer
)
ORDER BY status, node_id, prop_key, value
"""


def graph_maintenance_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS graph maintenance: a Structured Streaming job watches a
    dump directory (the reference's operational shape — new datasource
    dumps land on disk and the pipeline folds them in,
    nextflow/01_create_subgraph.nf:86-116 runs one ingest per file);
    each micro-batch is folded into the maintained graph with
    ``add_datasource`` inside ``foreachBatch``. The job is drained TWICE
    against one checkpoint: the nations dump lands and is folded, the
    job stops, the regions dump lands, and the RESTARTED job resumes
    from the committed offset — folding only the new file. The final
    maintained merged profile must hash-match the from-scratch oracle
    over all three sources, proving (a) offset bookkeeping loses and
    duplicates nothing across restarts and (b) chained folds converge to
    the batch build."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..incremental import add_datasource, build_graph_stateful
    from ..sources import pysource

    key = f"maint_stream:{spark.sparkContext.applicationId}:{sf_dir}"
    if key in _INC_CACHE:
        return _INC_CACHE[key]

    pysource.register(spark)
    customers, nations, regions = _star_graph_long(spark, sf_dir)
    holder = {"state": build_graph_stateful([customers], PARITY_CONFIG)}

    base = _tempfile.mkdtemp(prefix="grebi_maint_stream_")
    dumps = _os.path.join(base, "dumps")
    ckpt = _os.path.join(base, "ckpt")
    _os.makedirs(dumps)

    def land(df: DataFrame, name: str) -> None:
        with open(_os.path.join(dumps, f"{name}.jsonl"), "w") as fh:
            for r in df.collect():
                fh.write(_json.dumps(r.asDict()) + "\n")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # crash-replay of an already-folded batch
            return
        holder["state"] = add_datasource(
            holder["state"], batch_df.localCheckpoint()
        )

    def drain() -> None:
        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(customers.schema)
            .option("path", dumps)
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(nations, "geo_nations")
    drain()
    land(regions, "geo_regions")
    drain()  # restart: the committed offset skips the nations dump

    out = _merge_profile(holder["state"].graph.merged).localCheckpoint()
    _INC_CACHE[key] = out
    return out


def _parse_verb_file(name: str) -> tuple[str, str | None]:
    """`<seq>_<verb>[__<datasource>].jsonl` → (verb, datasource).
    Sequence prefixes order the schedule (the fold dispatches files in
    sorted-name order within a batch); add carries its datasource in
    the rows, update/remove name the target in the filename."""
    stem = name.rsplit(".jsonl", 1)[0]
    body = stem.split("_", 1)[1] if "_" in stem and stem.split("_", 1)[0].isdigit() else stem
    parts = body.split("__")
    verb = parts[0]
    if verb not in ("add", "update", "remove"):
        raise ValueError(f"unknown maintenance verb in dump name {name!r}")
    return verb, (parts[1] if len(parts) > 1 else None)


def graph_maintenance_stream_verbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-VERB continuous maintenance: a real refresh directory
    carries replaced and retired dumps, not only new ones, so the
    streaming fold dispatches add / update / remove PER ARRIVING FILE —
    the verb (and for update/remove the target datasource) is encoded
    in the dump's filename, read through the source's ``__file`` column
    (the input_file_name() analogue the grebi_jsonl plugin fills).

    Schedule (restart-resume across one checkpoint, two drains):
    fused-base graph; the zones dump lands (ADD — clique fusion with a
    canonical flip), drained; the job stops; the even-only zones dump
    lands (UPDATE of datasource 'map' — odd cliques must split back),
    and the restarted job folds only the new file. The final merged
    profile hash-matches ORACLE_INC_UPDATE_MERGED — the SAME oracle the
    batch `update` verb matches, proving the streamed mixed-verb chain
    converges to the batch verbs in sequence. The remove verb's
    streamed dispatch is covered by the suite's three-verb schedule."""
    import json as _json
    import os as _os
    import tempfile as _tempfile

    from ..incremental import (
        add_datasource,
        build_graph_stateful,
        remove_datasource,
        update_datasource,
    )
    from ..sources import pysource

    key = f"maint_stream_verbs:{spark.sparkContext.applicationId}:{sf_dir}"
    if key in _INC_CACHE:
        return _INC_CACHE[key]

    pysource.register(spark)
    customers, nations, regions = _star_graph_long(spark, sf_dir)
    holder = {
        "state": build_graph_stateful(
            [customers, nations, regions], INC_CONFIG
        )
    }

    base = _tempfile.mkdtemp(prefix="grebi_maint_verbs_")
    dumps = _os.path.join(base, "dumps")
    ckpt = _os.path.join(base, "ckpt")
    _os.makedirs(dumps)

    def land(df: DataFrame, name: str) -> None:
        with open(_os.path.join(dumps, name), "w") as fh:
            for r in df.collect():
                fh.write(_json.dumps(r.asDict()) + "\n")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():  # crash-replay of an already-folded batch
            return
        names = sorted(
            r["__file"]
            for r in batch_df.select("__file").distinct().collect()
        )
        for fname in names:
            verb, ds = _parse_verb_file(fname)
            rows = (
                batch_df.filter(F.col("__file") == fname)
                .drop("__file")
                .localCheckpoint()
            )
            if verb == "add":
                holder["state"] = add_datasource(holder["state"], rows)
            elif verb == "update":
                holder["state"] = update_datasource(holder["state"], ds, rows)
            else:
                holder["state"] = remove_datasource(holder["state"], ds)

    from pyspark.sql.types import StringType, StructField, StructType

    # copy, don't mutate: StructType.add appends in place, which would
    # leave a phantom __file field on customers' cached schema
    schema = StructType(
        list(customers.schema.fields) + [StructField("__file", StringType())]
    )

    def drain() -> None:
        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(schema)
            .option("path", dumps)
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(_zone_source(spark, sf_dir), "001_add.jsonl")
    drain()
    land(_zone_source(spark, sf_dir, even_only=True), "002_update__map.jsonl")
    drain()  # restart: the committed offset skips the first dump

    out = (
        holder["state"]
        .graph.merged.select(
            "node_id",
            "prop_key",
            "value",
            F.array_join("datasources", ",").alias("datasources"),
        )
        .orderBy("node_id", "prop_key", "value", "datasources")
        .localCheckpoint()
    )
    _INC_CACHE[key] = out
    return out


def kv_refresh_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serving-tier maintenance, driver-visible: build the EXECUTED
    sqlite KV store from the PRE-verb state, rebuild it at the same path
    from the add verb's graph (the swap refresh: a new file moved onto
    the served one), then READ THE REFRESHED STORE BACK and profile the
    stored node documents. The profile must hash-match the same
    from-scratch oracle the graph-side verbs match (ORACLE_MERGE_NODES),
    proving the dump→verb→swap loop end to end INCLUDING the serving
    artifact — the reference likewise rebuilds its RocksDB per release
    (07_create_db/rocksdb/grebi_make_rocks/src/main.rs:32-78)."""
    import sqlite3
    import tempfile

    from ..sinks.kv import build_kv_store

    key = f"kvrefresh:{spark.sparkContext.applicationId}:{sf_dir}"
    if key in _INC_CACHE:
        return _INC_CACHE[key]

    base = _inc_state(spark, sf_dir, "base")  # shared with the 'full' verb
    db = tempfile.mkdtemp(prefix="grebi_kvrefresh_") + "/store.sqlite"
    build_kv_store(
        base.graph.merged, base.graph.nodes, db, shards=4, edges=base.graph.edges
    )
    full = _inc_state(spark, sf_dir, "full")
    build_kv_store(
        full.graph.merged, full.graph.nodes, db, shards=4, edges=full.graph.edges
    )

    con = sqlite3.connect(db)
    rows = con.execute("SELECT id, json FROM kv").fetchall()
    con.close()
    doc_schema = (
        "node_id string, subgraph string, properties "
        "map<string, array<struct<value:string, value_props:string, "
        "datasources:array<string>, source_ids:array<string>>>>"
    )
    parsed = spark.createDataFrame(rows, ["id", "json"]).select(
        F.from_json("json", doc_schema).alias("d")
    )
    out = (
        parsed.select(
            F.col("d.node_id").alias("node_id"),
            F.expr(
                "aggregate(map_values(d.properties), 0, (a, x) -> a + size(x))"
            ).alias("n_props"),
            F.expr(
                "array_join(array_sort(array_distinct(flatten(flatten("
                "transform(map_values(d.properties), "
                "vs -> transform(vs, v -> v.datasources)))))), ',')"
            ).alias("datasources"),
        )
        .orderBy("node_id")
        .localCheckpoint()
    )
    _INC_CACHE[key] = out
    return out


def _refreshed_core_root(spark: SparkSession, sf_dir: str) -> str:
    """One maintained search core per (session, sf_dir): built from the
    PRE-verb 'base' state, then rebuilt at the same root from the add
    verb's graph — the shared serving artifact behind
    ``solr_refresh_roundtrip`` (doc profile) and ``core_search_serving``
    (the /search read path)."""
    import tempfile

    from ..sinks.solr_jsonl import build_solr_core

    key = f"solrcoreroot:{spark.sparkContext.applicationId}:{sf_dir}"
    if key not in _INC_CACHE:
        base = _inc_state(spark, sf_dir, "base")
        root = tempfile.mkdtemp(prefix="grebi_solrcore_")
        build_solr_core(
            base.graph.merged, base.graph.nodes, base.graph.edges, root
        )
        full = _inc_state(spark, sf_dir, "full").graph
        build_solr_core(full.merged, full.nodes, full.edges, root)
        _INC_CACHE[key] = root
    return _INC_CACHE[key]


def core_search_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 SERVED FROM THE MAINTAINED CORE — the reference's actual read
    path (GrebiApi.java:185-227 queries Solr, never the graph build):
    page 1 (size 5) of /search?q=n:1 over the core rebuilt after the add
    verb, id-contains scoring, node_id tiebreak. The facade's /search
    serves exactly this when a core is configured (api.http_api,
    ``solr_cores``); the oracle renders the same page from the
    from-scratch post-verb graph, so a stale serving file or a scoring
    drift hash-mismatches."""
    from ..sinks.solr_jsonl import search_core_docs

    page, _facets = search_core_docs(
        _refreshed_core_root(spark, sf_dir), "n:1", page=1, size=5
    )
    return spark.createDataFrame(
        [
            (r["node_id"], ",".join(r["types"]), ",".join(r["names"]), r["score"])
            for r in page
        ],
        "node_id string, types string, names string, score long",
    )


ORACLE_CORE_SEARCH = """
SELECT node_id, types, names, score FROM (
  SELECT 'n:' || n_nationkey::varchar AS node_id,
         'geo:Nation' AS types, n_name AS names, 1000::bigint AS score
  FROM nation
  WHERE contains('n:' || n_nationkey::varchar, 'n:1')
) ORDER BY score DESC, node_id
LIMIT 5 OFFSET 5
"""


_CORE_BM25_TERMS = ("customer", "united", "east")
_CORE_BM25_TOPK = 15


def core_search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 SERVED FROM THE MAINTAINED CORE'S STORED POSTINGS — Solr's
    actual ranking model (Lucene BM25Similarity) under Lucene's actual
    index-vs-query split: tokenization happens at build time
    (build_solr_core writes the postings and the corpus stats row), and
    this request reads the postings of its terms and ONE stats row from
    the serving sqlite file — no request-time tokenize, no Spark. The
    rebuild after the add verb moved the stats, so the verb's new region
    docs ('MIDDLE EAST' carries the only 'east') participate in matching
    AND in df/avgdl. The oracle recomputes the whole model from the
    from-scratch post-verb doc set — a stale posting or a stale stats
    row shifts scores and hash-mismatches. Reference: GrebiApi's /search delegates ranking to
    Solr (GrebiSolrClient.java:105-147); here the serving tier ranks
    natively from its own index."""
    from ..sinks.solr_jsonl import search_core_docs_bm25

    page, _facets = search_core_docs_bm25(
        _refreshed_core_root(spark, sf_dir),
        " ".join(_CORE_BM25_TERMS),
        size=_CORE_BM25_TOPK,
    )
    return spark.createDataFrame(
        [(r["node_id"], r["score"]) for r in page],
        "node_id string, score double",
    )


ORACLE_CORE_BM25 = f"""
WITH names AS (
  SELECT 'c:' || c_custkey::varchar AS node_id, c_name AS name FROM customer
  UNION ALL
  SELECT 'n:' || n_nationkey::varchar, n_name FROM nation
  UNION ALL
  SELECT 'r:' || r_regionkey::varchar, r_name FROM region
), toks AS (
  SELECT node_id,
         list_filter(string_split_regex(lower(name), '[^a-z0-9]+'),
                     x -> x <> '') AS toks
  FROM names
), lens AS (
  SELECT node_id, length(toks) AS dl FROM toks
), stats AS (
  SELECT count(*) AS n_docs, sum(dl)::bigint AS total_dl FROM lens
), qt AS (
  SELECT node_id,
         unnest(list_filter(toks,
                x -> x IN ('customer', 'united', 'east'))) AS tok
  FROM toks
), tf AS (
  SELECT node_id, tok, count(*) AS tf FROM qt GROUP BY node_id, tok
), df AS (
  SELECT tok, count(*) AS df FROM tf GROUP BY tok
), w AS (
  SELECT tf.node_id, tf.tok,
         ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
         * tf.tf * (1.2 + 1.0)
         / (tf.tf + 1.2 * (1.0 - 0.75
              + 0.75 * lens.dl * stats.n_docs / stats.total_dl)) AS w
  FROM tf
  JOIN df ON tf.tok = df.tok
  JOIN lens ON tf.node_id = lens.node_id
  CROSS JOIN stats
), s AS (
  SELECT node_id,
         round(0.0 + coalesce(sum(CASE WHEN tok = 'customer' THEN w END), 0.0)
                   + coalesce(sum(CASE WHEN tok = 'united'   THEN w END), 0.0)
                   + coalesce(sum(CASE WHEN tok = 'east'     THEN w END), 0.0),
               4) AS score
  FROM w GROUP BY node_id
)
SELECT node_id, score FROM s
ORDER BY score DESC, node_id
LIMIT {_CORE_BM25_TOPK}
"""


def solr_refresh_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-tier maintenance, driver-visible and EXECUTED: build the
    search core (sinks.solr_jsonl.build_solr_core) from the PRE-verb
    state, rebuild it at the same root from the add verb's graph (the
    swap refresh), then READ THE REFRESHED CORE BACK and profile the
    node documents. The profile must hash-match a from-scratch DuckDB
    rendering of the post-verb docs (field count includes the
    ``<prop>_names`` denormalisation, grebi_make_solr/src/main.rs:
    184-203). The reference likewise re-imports the whole core per
    release (07_create_db/solr/solr_import.dockerpy:50-90)."""
    from ..sinks.solr_jsonl import read_solr_core

    key = f"solrrefresh:{spark.sparkContext.applicationId}:{sf_dir}"
    if key in _INC_CACHE:
        return _INC_CACHE[key]

    live = read_solr_core(spark, _refreshed_core_root(spark, sf_dir), "nodes")
    out = (
        live.select(
            F.col("grebi__nodeId").alias("node_id"),
            F.size("fields").cast("long").alias("n_fields"),
            F.array_join("grebi__datasources", ",").alias("datasources"),
        )
        .orderBy("node_id")
        .localCheckpoint()
    )
    _INC_CACHE[key] = out
    return out


# from-scratch doc profile of the post-verb graph: per node the field
# count of its search doc — one field per distinct prop_key plus one
# ``<k>_names`` field per prop whose values reference a named node —
# and the node's datasource set
ORACLE_SOLR_REFRESH = """
WITH long_form AS (
  SELECT 'c:' || c_custkey::varchar AS node_id, 'id' AS prop_key,
         'c:' || c_custkey::varchar AS value, 'crm' AS ds FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:type', 'crm:Customer', 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'grebi:name', c_name, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:segment', c_mktsegment, 'crm' FROM customer
  UNION ALL SELECT 'c:' || c_custkey::varchar, 'crm:nation',
                   'n:' || c_nationkey::varchar, 'crm' FROM customer
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'id', 'n:' || n_nationkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:type', 'geo:Nation', 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'grebi:name', n_name, 'geo' FROM nation
  UNION ALL SELECT 'n:' || n_nationkey::varchar, 'geo:region',
                   'r:' || n_regionkey::varchar, 'geo' FROM nation
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'id', 'r:' || r_regionkey::varchar, 'geo' FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:type', 'geo:Region', 'geo' FROM region
  UNION ALL SELECT 'r:' || r_regionkey::varchar, 'grebi:name', r_name, 'geo' FROM region
), keys AS (
  SELECT DISTINCT node_id, prop_key FROM long_form
), named AS (
  SELECT DISTINCT node_id FROM long_form WHERE prop_key = 'grebi:name'
), refk AS (
  SELECT DISTINCT l.node_id, l.prop_key
  FROM long_form l JOIN named n ON l.value = n.node_id
), nf AS (
  SELECT node_id, count(*) AS base_fields FROM keys GROUP BY node_id
), nr AS (
  SELECT node_id, count(*) AS ref_fields FROM refk GROUP BY node_id
), ds AS (
  SELECT node_id, string_agg(DISTINCT ds, ',' ORDER BY ds) AS datasources
  FROM long_form GROUP BY node_id
)
SELECT nf.node_id,
       nf.base_fields + coalesce(nr.ref_fields, 0) AS n_fields,
       ds.datasources
FROM nf LEFT JOIN nr ON nf.node_id = nr.node_id
JOIN ds ON nf.node_id = ds.node_id
ORDER BY nf.node_id
"""


QUERIES = {
    "graph_maintenance_stream": graph_maintenance_stream,
    "graph_maintenance_stream_verbs": graph_maintenance_stream_verbs,
    "kv_refresh_roundtrip": kv_refresh_roundtrip,
    "solr_refresh_roundtrip": solr_refresh_roundtrip,
    "core_search_serving": core_search_serving,
    "core_search_bm25": core_search_bm25,
    "incremental_add_merge_nodes": incremental_add_merge_nodes,
    "incremental_persist_roundtrip": incremental_persist_roundtrip,
    "state_rollback_roundtrip": state_rollback_roundtrip,
    "state_version_diff": state_version_diff,
    "incremental_update_merged": incremental_update_merged,
    "incremental_add_edges": incremental_add_edges,
    "incremental_remove_merge_nodes": incremental_remove_merge_nodes,
    "incremental_remove_index": incremental_remove_index,
    "incremental_fuse_merged": incremental_fuse_merged,
    "kv_edge_resolution": kv_edge_resolution,
    "edge_page_outgoing_graph": edge_page_outgoing_graph,
    "graph_search_negative": graph_search_negative,
    "graph_suggest": graph_suggest,
    "cypher_star_query": cypher_star_query,
    "cypher_filter_query": cypher_filter_query,
    "cypher_set_ic_scores": cypher_set_ic_scores,
    "cypher_otar_ranked": cypher_otar_ranked,
    "cypher_snp_paths": cypher_snp_paths,
    "graph_merge_nodes": graph_merge_nodes,
    "graph_edges_fk": graph_edges_fk,
    "equivalence_groups_events": equivalence_groups_events,
    "tsv_ingest_roundtrip": tsv_ingest_roundtrip,
    "jsonl_ingest_roundtrip": jsonl_ingest_roundtrip,
    "neo4j_nodes_pivot": neo4j_nodes_pivot,
    "prefix_normalise_roundtrip": prefix_normalise_roundtrip,
}

ORACLES = {
    "graph_maintenance_stream": ORACLE_MERGE_NODES,
    "graph_maintenance_stream_verbs": ORACLE_INC_UPDATE_MERGED,
    "kv_refresh_roundtrip": ORACLE_MERGE_NODES,
    "solr_refresh_roundtrip": ORACLE_SOLR_REFRESH,
    "core_search_serving": ORACLE_CORE_SEARCH,
    "core_search_bm25": ORACLE_CORE_BM25,
    "incremental_add_merge_nodes": ORACLE_MERGE_NODES,
    "incremental_persist_roundtrip": ORACLE_INC_FUSE_MERGED,
    "state_rollback_roundtrip": ORACLE_MERGE_NODES,
    "state_version_diff": ORACLE_STATE_VERSION_DIFF,
    "incremental_update_merged": ORACLE_INC_UPDATE_MERGED,
    "incremental_add_edges": ORACLE_EDGES_FK,
    "incremental_remove_merge_nodes": ORACLE_INC_REMOVE_MERGE,
    "incremental_remove_index": ORACLE_INC_REMOVE_INDEX,
    "incremental_fuse_merged": ORACLE_INC_FUSE_MERGED,
    "kv_edge_resolution": ORACLE_KV_EDGE_RESOLUTION,
    "edge_page_outgoing_graph": ORACLE_EDGE_PAGE_OUTGOING,
    "graph_search_negative": ORACLE_SEARCH_NEGATIVE,
    "graph_suggest": ORACLE_GRAPH_SUGGEST,
    "cypher_star_query": ORACLE_CYPHER_STAR,
    "cypher_filter_query": ORACLE_CYPHER_FILTER,
    "cypher_set_ic_scores": ORACLE_CYPHER_SET_IC,
    "cypher_otar_ranked": ORACLE_CYPHER_OTAR_RANKED,
    "cypher_snp_paths": ORACLE_CYPHER_SNP_PATHS,
    "graph_merge_nodes": ORACLE_MERGE_NODES,
    "graph_edges_fk": ORACLE_EDGES_FK,
    "equivalence_groups_events": ORACLE_EQUIV_GROUPS,
    "tsv_ingest_roundtrip": ORACLE_TSV_ROUNDTRIP,
    "jsonl_ingest_roundtrip": ORACLE_JSONL_ROUNDTRIP,
    "neo4j_nodes_pivot": ORACLE_NEO4J_PIVOT,
    "prefix_normalise_roundtrip": ORACLE_PREFIX_ROUNDTRIP,
}
