"""Source-scan tests: GWAS, RDF n-quads (+reification folding), SQLite,
Reactome, OLS, XML."""

import json
import sqlite3

import pytest
from pyspark.sql import functions as F

from grebi_spark.sources.gwas import gwas_associations_to_nodes, gwas_studies_to_nodes
from grebi_spark.sources.ols import ols_to_nodes
from grebi_spark.sources.rdf import fold_reification, read_nquads, rdf_to_nodes
from grebi_spark.sources.reactome import reactome_to_nodes
from grebi_spark.sources.sqlite import sqlite_to_nodes
from grebi_spark.sources.xmlsrc import xml_entries_to_nodes


def test_gwas_associations(spark):
    df = spark.createDataFrame(
        [
            ("rs123", "efo:0000537, efo:0001360", "5e-8", "1.2", "GCST001", "BRCA2", "ENSG1"),
            ("rs999", "", "1e-6", "0.9", "GCST002", "", ""),
        ],
        ["SNPS", "MAPPED_TRAIT_URI", "P-VALUE", "OR or BETA", "STUDY ACCESSION", "MAPPED_GENE", "SNP_GENE_IDS"],
    )
    rows = gwas_associations_to_nodes(df).collect()
    assoc = [r for r in rows if r["prop_key"] == "gwas:associated_with"]
    assert {(r["entity_id"], r["value"]) for r in assoc} == {
        ("rs123", "efo:0000537"),
        ("rs123", "efo:0001360"),
    }
    vp = json.loads(assoc[0]["value_props"])
    assert vp["gwas:P-VALUE"] == ["5e-8"]
    assert vp["gwas:STUDY ACCESSION"] == ["GCST001"]
    # rs999 still gets id+type rows even with no traits
    assert ("rs999", "gwas:SNP") in {
        (r["entity_id"], r["value"]) for r in rows if r["prop_key"] == "grebi:type"
    }


def test_gwas_header_check(spark):
    bad = spark.createDataFrame([("x",)], ["WRONG"])
    with pytest.raises(ValueError, match="missing expected columns"):
        gwas_associations_to_nodes(bad)


def test_gwas_studies(spark):
    df = spark.createDataFrame(
        [("GCST001", "123456", "breast cancer", "efo:0000537")],
        ["STUDY ACCESSION", "PUBMEDID", "DISEASE/TRAIT", "MAPPED_TRAIT_URI"],
    )
    rows = {(r["prop_key"], r["value"]) for r in gwas_studies_to_nodes(df).collect()}
    assert ("gwas:pubmedId", "pmid:123456") in rows
    assert ("grebi:type", "gwas:Study") in rows


NQ = """\
<http://example.org/A> <http://www.w3.org/2000/01/rdf-schema#label> "gene A" .
<http://example.org/A> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#Class> .
<http://example.org/A> <http://example.org/partOf> <http://example.org/B> .
<http://example.org/B> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#Class> .
_:ax1 <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <http://www.w3.org/2002/07/owl#Axiom> .
_:ax1 <http://www.w3.org/2002/07/owl#annotatedSource> <http://example.org/A> .
_:ax1 <http://www.w3.org/2002/07/owl#annotatedProperty> <http://example.org/partOf> .
_:ax1 <http://www.w3.org/2002/07/owl#annotatedTarget> <http://example.org/B> .
_:ax1 <http://example.org/evidence> "curator stated" .
"""


@pytest.fixture()
def nq_file(tmp_path):
    p = tmp_path / "test.nq"
    p.write_text(NQ)
    return str(p)


def test_read_nquads(spark, nq_file):
    t = read_nquads(spark, nq_file)
    assert t.count() == 9
    labels = t.filter(F.col("p").contains("label")).collect()
    assert labels[0]["o"] == "gene A"


def test_fold_reification(spark, nq_file):
    t = read_nquads(spark, nq_file)
    plain, reified = fold_reification(t)
    r = reified.collect()
    assert len(r) == 1
    assert r[0]["s"] == "http://example.org/A"
    assert r[0]["p"] == "http://example.org/partOf"
    assert r[0]["o"] == "http://example.org/B"
    assert "curator stated" in r[0]["props_json"]
    # axiom triples removed from plain stream
    assert plain.filter(F.col("s").startswith("_:")).count() == 0


def test_rdf_to_nodes(spark, nq_file):
    rows = rdf_to_nodes(spark, nq_file, "testrdf").collect()
    keys = {(r["entity_id"], r["prop_key"]) for r in rows}
    assert ("http://example.org/A", "grebi:type") in keys
    reified = [r for r in rows if r["value_props"] is not None]
    assert len(reified) == 1


TTL = """\
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix ex: <http://example.org/> .

ex:A a owl:Class ;
    rdfs:label "gene A" ;
    ex:partOf ex:B .
ex:B a owl:Class .
[] a owl:Axiom ;
    owl:annotatedSource ex:A ;
    owl:annotatedProperty ex:partOf ;
    owl:annotatedTarget ex:B ;
    ex:evidence "curator stated" .
"""

RDFXML = """\
<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
         xmlns:owl="http://www.w3.org/2002/07/owl#"
         xmlns:ex="http://example.org/">
  <owl:Class rdf:about="http://example.org/A">
    <rdfs:label>gene A</rdfs:label>
    <ex:partOf rdf:resource="http://example.org/B"/>
  </owl:Class>
  <owl:Class rdf:about="http://example.org/B"/>
  <owl:Axiom>
    <owl:annotatedSource rdf:resource="http://example.org/A"/>
    <owl:annotatedProperty rdf:resource="http://example.org/partOf"/>
    <owl:annotatedTarget rdf:resource="http://example.org/B"/>
    <ex:evidence>curator stated</ex:evidence>
  </owl:Axiom>
</rdf:RDF>
"""


def _rdf_rows(spark, path):
    rows = rdf_to_nodes(spark, path, "testrdf").collect()
    return sorted(
        ((r["entity_id"], r["prop_key"], r["value"], r["value_props"]) for r in rows),
        key=lambda t: tuple("" if x is None else x for x in t),
    )


def test_rdf_formats_golden_parity(spark, nq_file, tmp_path):
    """S8: the same graph serialised as N-Quads, Turtle, and RDF/XML
    ingests to IDENTICAL long-form rows (the axiom bnode folds away, so
    no bnode-label divergence survives)."""
    ttl = tmp_path / "g.ttl"
    ttl.write_text(TTL)
    owl = tmp_path / "g.owl"
    owl.write_text(RDFXML)
    expected = _rdf_rows(spark, nq_file)
    assert _rdf_rows(spark, str(ttl)) == expected
    assert _rdf_rows(spark, str(owl)) == expected


NEST_TTL = """\
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix ex: <http://example.org/> .

ex:A a owl:Class ;
    rdfs:subClassOf [ a owl:Restriction ;
        owl:onProperty ex:partOf ;
        owl:someValuesFrom [ a owl:Class ; ex:unionOf ex:B ] ] .
ex:B a owl:Class ; rdfs:label "B" .
ex:C a owl:Class ; ex:meta ex:B .
"""


def test_rdf_bnode_nesting(spark, tmp_path):
    """S8 bnode nesting: blank-node objects fold into inline JSON
    (innermost first), bnode subjects leave the top-level stream
    (grebi_rdf2jsonl main.rs:246-254,388-391)."""
    p = tmp_path / "nest.ttl"
    p.write_text(NEST_TTL)
    rows = rdf_to_nodes(spark, str(p), "t").collect()
    subjects = {r["entity_id"] for r in rows}
    assert not any(s.startswith("_:") for s in subjects)
    sub = [
        r["value"]
        for r in rows
        if r["entity_id"] == "http://example.org/A"
        and r["prop_key"] == "http://www.w3.org/2000/01/rdf-schema#subClassOf"
    ]
    assert len(sub) == 1 and sub[0].startswith("{")
    # inner bnode folded into the outer one's JSON
    assert "unionOf" in sub[0] and "Restriction" in sub[0]


def test_rdf_nest_objects_of_predicate(spark, tmp_path):
    """--nest-objects-of-predicate: IRI objects of the listed predicates
    inline their property map and leave the top level
    (grebi_rdf2jsonl main.rs:160-161)."""
    p = tmp_path / "nest2.ttl"
    p.write_text(NEST_TTL)
    rows = rdf_to_nodes(
        spark, str(p), "t", nest_predicates=("http://example.org/meta",)
    ).collect()
    subjects = {r["entity_id"] for r in rows}
    assert "http://example.org/B" not in subjects  # nested away
    meta = [
        r["value"]
        for r in rows
        if r["entity_id"] == "http://example.org/C"
        and r["prop_key"] == "http://example.org/meta"
    ]
    assert len(meta) == 1 and '"B"' in meta[0]


def test_rdf_gz_and_format_detect(tmp_path):
    from grebi_spark.sources.rdf_convert import detect_format

    assert detect_format("x.nq.gz") == "nquads"
    assert detect_format("x.owl") == "rdfxml"
    assert detect_format("x.ttl") == "turtle"
    assert detect_format("weird.bin") == "nquads"


def test_sqlite(spark, tmp_path):
    db = tmp_path / "t.sqlite"
    con = sqlite3.connect(db)
    con.execute("CREATE TABLE gene (gid INTEGER PRIMARY KEY, symbol TEXT)")
    con.execute(
        "CREATE TABLE protein (pid INTEGER PRIMARY KEY, gene INTEGER REFERENCES gene(gid), name TEXT)"
    )
    con.execute("INSERT INTO gene VALUES (1, 'BRCA2')")
    con.execute("INSERT INTO protein VALUES (10, 1, 'Breast cancer 2')")
    con.commit()
    con.close()
    rows = sqlite_to_nodes(spark, str(db), "db").collect()
    vals = {(r["entity_id"], r["prop_key"], r["value"]) for r in rows}
    assert ("db:gene:1", "symbol", "BRCA2") in vals
    # FK rewritten to referenced row's node id
    assert ("db:protein:10", "gene", "db:gene:1") in vals
    assert ("db:protein:10", "grebi:type", "db:protein") in vals


def test_reactome(spark, tmp_path):
    p = tmp_path / "reactome.jsonl"
    p.write_text(
        "\n".join(
            [
                json.dumps(
                    {
                        "type": "node",
                        "id": 1,
                        "labels": ["Pathway"],
                        "properties": {"displayName": "Apoptosis", "databaseName": "ChEBI", "identifier": "15377"},
                    }
                ),
                json.dumps(
                    {
                        "type": "node",
                        "id": 2,
                        "labels": ["Reaction"],
                        "properties": {"displayName": "step 1", "databaseName": None, "identifier": None},
                    }
                ),
                json.dumps(
                    {
                        "type": "relationship",
                        "label": "hasEvent",
                        "start": 1,
                        "end": 2,
                        "properties": {"order": 1},
                    }
                ),
            ]
        )
    )
    rows = reactome_to_nodes(spark, str(p)).collect()
    vals = {(r["entity_id"], r["prop_key"], r["value"]) for r in rows}
    assert ("reactome:1", "grebi:type", "reactome:Pathway") in vals
    assert ("reactome:1", "grebi:equivalentTo", "chebi:15377") in vals
    rel = [r for r in rows if r["prop_key"] == "reactome:hasEvent"]
    assert rel[0]["value"] == "reactome:2" and '"reactome:order":["1"]' in rel[0]["value_props"]


def test_ols(spark, tmp_path):
    p = tmp_path / "ontologies.json"
    p.write_text(
        json.dumps(
            {
                "ontologies": [
                    {
                        "ontologyId": "mondo",
                        "classes": [
                            {"curie": "mondo:0000001", "label": "disease", "iri": "http://x/1", "isObsolete": False, "directAncestor": []},
                            {"curie": "mondo:0005044", "label": "hypertensive disorder", "iri": "http://x/2", "isObsolete": False, "directAncestor": ["mondo:0000001"]},
                            {"curie": "mondo:9999999", "label": "gone", "iri": "http://x/3", "isObsolete": True, "directAncestor": []},
                        ],
                    }
                ]
            }
        )
    )
    rows = ols_to_nodes(spark, str(p)).collect()
    vals = {(r["entity_id"], r["prop_key"], r["value"]) for r in rows}
    assert ("ols.ontology:mondo", "grebi:type", "ols:Ontology") in vals
    assert ("mondo:0005044", "ols:directAncestor", "mondo:0000001") in vals
    assert ("mondo:0005044", "ols:safeLabel", "hypertensive_disorder") in vals
    # obsolete skipped
    assert not any(r["entity_id"] == "mondo:9999999" for r in rows)


def test_xml(spark, tmp_path):
    p = tmp_path / "entries.xml"
    p.write_text(
        """<entries>
  <entry id="MTBLS1"><field name="title">Study one</field><ref dbname="chebi" dbkey="15377"/></entry>
  <entry id="MTBLC2"><field name="title">Compound</field></entry>
</entries>"""
    )
    rows = xml_entries_to_nodes(
        spark, str(p), "metabolights",
        type_by_prefix={"MTBLS": "metabolights:Study", "MTBLC": "metabolights:Compound"},
    ).collect()
    vals = {(r["entity_id"], r["prop_key"], r["value"]) for r in rows}
    assert ("MTBLS1", "title", "Study one") in vals
    assert ("MTBLS1", "xref", "chebi:15377") in vals
    assert ("MTBLC2", "grebi:type", "metabolights:Compound") in vals


def test_xml_distributed_matches_driver_side(spark, tmp_path):
    """S11 scale path: mapInPandas per-file parse == driver-side parse."""
    from grebi_spark.sources.xmlsrc import xml_files_to_nodes

    files = []
    for i in range(3):
        p = tmp_path / f"part{i}.xml"
        p.write_text(
            f"""<entries>
  <entry id="MTBLS{i}"><field name="title">Study {i}</field><ref dbname="chebi" dbkey="{i}"/></entry>
</entries>"""
        )
        files.append(str(p))
    dist = xml_files_to_nodes(
        spark, files, "metabolights", type_by_prefix={"MTBLS": "metabolights:Study"}
    ).collect()
    driver = [
        r
        for f in files
        for r in xml_entries_to_nodes(
            spark, f, "metabolights", type_by_prefix={"MTBLS": "metabolights:Study"}
        ).collect()
    ]
    assert sorted(map(tuple, dist)) == sorted(map(tuple, driver))
    assert ("default", "metabolights", "MTBLS2", "xref", "chebi:2", None) in set(map(tuple, dist))


def test_nodes_to_edges(spark):
    """S5 grebi_nodes2edges: entity split into a reified edge."""
    from grebi_spark.sources.jsonl import jsonl_to_nodes, nodes_to_edges

    rows = jsonl_to_nodes(
        spark.createDataFrame(
            [(json.dumps({"id": "row1", "geneId": "g:1", "diseaseId": "d:2", "pval": "0.05"}),)],
            ["value"],
        ),
        "assoc",
    )
    edges = nodes_to_edges(rows, "geneId", "diseaseId", "assoc:linked_to").collect()
    assert len(edges) == 1
    e = edges[0]
    assert e["entity_id"] == "g:1"
    assert e["prop_key"] == "assoc:linked_to"
    assert e["value"] == "d:2"
    assert '"pval":["0.05"]' in e["value_props"]


def test_python_datasource_roundtrip(spark, tmp_path):
    """Spark 4 Python DataSource: writer emits one shard per input
    partition, reader plans one InputPartition per file, values survive
    the JSONL roundtrip."""
    from grebi_spark.sources import pysource

    pysource.register(spark)
    out = str(tmp_path / "pyds")
    df = spark.range(0, 100, 1, 3).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("srcX").alias("source"),
        F.length(F.concat(F.lit("text "), F.col("id"))).cast("long").alias("n_chars"),
    )
    df.write.mode("append").format("grebi_jsonl").option("path", out).save()
    import os

    shards = sorted(f for f in os.listdir(out) if f.endswith(".jsonl"))
    assert len(shards) == 3  # one per input partition
    back = (
        spark.read.format("grebi_jsonl")
        .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
        .option("path", out)
        .load()
    )
    # reader parallelism = file count
    assert back.rdd.getNumPartitions() == 3
    got = {r["doc_id"]: r for r in back.collect()}
    assert len(got) == 100
    assert got[7]["text"] == "text 7"
    assert got[7]["n_chars"] == len("text 7")


def test_python_datasource_overwrite_removes_stale_shards(spark, tmp_path):
    """mode('overwrite') must delete a previous write's extra shards: a
    4-partition write followed by a 1-partition overwrite leaves exactly
    one shard — stale part files from the wider write would otherwise be
    silently unioned into later reads. No tmp files survive the commit."""
    import os

    from grebi_spark.sources import pysource

    pysource.register(spark)
    out = str(tmp_path / "pyds_ow")

    def corpus(n_parts):
        return spark.range(0, 20, 1, n_parts).select(
            F.col("id").alias("doc_id"),
            F.lit("t").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("s").alias("source"),
            F.lit(1).cast("long").alias("n_chars"),
        )

    corpus(4).write.mode("append").format("grebi_jsonl").option("path", out).save()
    assert len([f for f in os.listdir(out) if f.endswith(".jsonl")]) == 4
    corpus(1).write.mode("overwrite").format("grebi_jsonl").option("path", out).save()
    files = os.listdir(out)
    assert [f for f in files if f.endswith(".jsonl")] == ["part-00000.jsonl"]
    assert not [f for f in files if ".tmp-" in f]
    back = (
        spark.read.format("grebi_jsonl")
        .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
        .option("path", out)
        .load()
    )
    assert back.count() == 20  # not 40: the stale shards are gone


def test_python_datasource_stream_offset_order_independent(spark, tmp_path):
    """The stream offset is a consumed-name SET: a file that sorts
    BEFORE already-consumed names must still be ingested exactly once
    (a positional offset would re-read the tail and skip the new file)."""
    import json as _json
    import os

    from grebi_spark.sources import pysource

    pysource.register(spark)
    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out_rows = []

    def write_file(name, ids):
        with open(src / name, "w") as fh:
            for i in ids:
                fh.write(
                    _json.dumps(
                        {"doc_id": i, "text": "t", "lang": "en", "source": "s", "n_chars": 1}
                    )
                    + "\n"
                )

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    sink = str(tmp_path / "sink")

    def drain():
        # parquet sink: the one sink that RESUMES from a checkpoint, so
        # the second drain exercises offset recovery for real
        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(schema)
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["doc_id"] for r in spark.read.parquet(sink).collect()}

    write_file("m-middle.jsonl", [1, 2])
    assert drain() == {1, 2}
    # this name sorts BEFORE the consumed one
    write_file("a-early.jsonl", [3])
    got = drain()
    assert got == {1, 2, 3}, got  # 3 ingested once, 1/2 not re-read


def test_python_datasource_append_twice_accumulates(spark, tmp_path):
    """Two append-mode writes with overlapping partition ids must ADD
    shards, not replace the first write's part files (append shard names
    carry a per-write token)."""
    import os

    from grebi_spark.sources import pysource

    pysource.register(spark)
    out = str(tmp_path / "pyds_append")

    def corpus(lo, hi):
        return spark.range(lo, hi, 1, 2).select(
            F.col("id").alias("doc_id"),
            F.lit("t").alias("text"),
            F.lit("en").alias("lang"),
            F.lit("s").alias("source"),
            F.lit(1).cast("long").alias("n_chars"),
        )

    corpus(0, 10).write.mode("append").format("grebi_jsonl").option("path", out).save()
    corpus(10, 20).write.mode("append").format("grebi_jsonl").option("path", out).save()
    shards = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert len(shards) == 4  # 2 partitions x 2 writes, no clobber
    back = (
        spark.read.format("grebi_jsonl")
        .schema("doc_id bigint, text string, lang string, source string, n_chars bigint")
        .option("path", out)
        .load()
    )
    assert back.count() == 20
    assert back.select("doc_id").distinct().count() == 20


def test_stream_reader_legacy_offset_migration(tmp_path):
    """Legacy {"n_files": N} offsets: N=0 migrates exactly; N>0 is
    ambiguous (a post-checkpoint file can sort into the first N, so the
    count→first-N mapping would mark it consumed without reading it) and
    errors by default, resuming only under legacyOffsetPolicy=first_n."""
    import pytest
    from pyspark.sql.types import LongType, StructField, StructType

    from grebi_spark.sources.pysource import GrebiJsonlStreamReader

    d = tmp_path / "stream"
    d.mkdir()
    for i in range(3):
        (d / f"{i:03d}.jsonl").write_text('{"doc_id": %d}\n' % i)
    schema = StructType([StructField("doc_id", LongType())])

    # N=0 is exact under the default policy
    rdr = GrebiJsonlStreamReader(schema, {"path": str(d)})
    rows, end = rdr.read({"n_files": 0})
    assert sorted(r[0] for r in rows) == [0, 1, 2]

    # N>0 is rejected with an actionable error by default
    with pytest.raises(ValueError, match="legacyOffsetPolicy"):
        rdr.read({"n_files": 2})

    # opt-in: the unchanged-directory mapping resumes
    opt = GrebiJsonlStreamReader(
        schema, {"path": str(d), "legacyOffsetPolicy": "first_n"}
    )
    rows, end = opt.read({"n_files": 2})  # legacy: first 2 consumed
    assert [r[0] for r in rows] == [2]
    assert end == {"files": ["000.jsonl", "001.jsonl", "002.jsonl"]}
    # between-offsets replay across formats
    replay = list(opt.readBetweenOffsets({"n_files": 1}, end))
    assert [r[0] for r in replay] == [1, 2]

    # the ambiguity the default guards against: a new early-sorting file
    # would be silently skipped by the first_n mapping
    (d / "0000-late-arrival.jsonl").write_text('{"doc_id": 99}\n')
    rows2, _ = opt.read({"n_files": 2})
    assert 99 not in [r[0] for r in rows2]  # documented first_n hazard


def test_stream_offset_retention_property(tmp_path):
    """Offset retention under ARBITRARY arrival schedules (reader-level,
    hypothesis): land batches of files, read+commit each under
    cleanSource=archive; every row must be ingested exactly once, and
    after every commit the offset must shrink back to the still-visible
    names (bounded by the in-flight batch, never the history)."""
    import json as _json
    import os

    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql.types import LongType, StructField, StructType

    from grebi_spark.sources.pysource import GrebiJsonlStreamReader

    schema = StructType([StructField("doc_id", LongType())])

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(0, 5), min_size=0, max_size=4),
            min_size=1,
            max_size=6,
        )
    )
    def run(schedule):
        import tempfile

        d = tempfile.mkdtemp(prefix="offret_")
        rdr = GrebiJsonlStreamReader(
            schema, {"path": d, "cleanSource": "archive"}
        )
        offset = rdr.initialOffset()
        seen_rows = []
        uid = 0
        for batch in schedule:
            for _ in batch:
                with open(os.path.join(d, f"f{uid:04d}.jsonl"), "w") as fh:
                    fh.write(_json.dumps({"doc_id": uid}) + "\n")
                uid += 1
            rows, offset = rdr.read(offset)
            seen_rows.extend(r[0] for r in rows)
            rdr.commit(offset)
            # after commit+next-read retention, the offset is bounded by
            # what is still visible, not by history
            _, next_offset = rdr.read(offset)
            live = [f for f in os.listdir(d) if f.endswith(".jsonl")]
            assert len(next_offset["files"]) <= len(live) + len(batch)
        assert sorted(seen_rows) == list(range(uid))  # exactly once

    run()


def test_stream_clean_source_bounds_offset_under_soak(tmp_path):
    """The 1,000-file soak: land 1,000 dumps across 10 read+commit
    rounds under cleanSource=archive. Every row folds exactly once, the
    offset never exceeds one round's file count (vs 1,000 names without
    retention), and the watched directory stays bounded — the listing
    cost, the real 100 TB killer for file-tailing sources, stays flat."""
    import json as _json
    import os

    from pyspark.sql.types import LongType, StructField, StructType

    from grebi_spark.sources.pysource import GrebiJsonlStreamReader

    schema = StructType([StructField("doc_id", LongType())])
    d = tmp_path / "soak"
    d.mkdir()
    rdr = GrebiJsonlStreamReader(
        schema, {"path": str(d), "cleanSource": "archive"}
    )
    offset = rdr.initialOffset()
    total = []
    max_offset = 0
    for r in range(10):
        for i in range(100):
            uid = r * 100 + i
            (d / f"f{uid:05d}.jsonl").write_text(
                _json.dumps({"doc_id": uid}) + "\n"
            )
        rows, offset = rdr.read(offset)
        total.extend(x[0] for x in rows)
        rdr.commit(offset)
        _, compacted = rdr.read(offset)
        max_offset = max(max_offset, len(compacted["files"]))
    assert sorted(total) == list(range(1000))
    assert max_offset <= 100  # bounded by a round, not the history
    live = [f for f in os.listdir(d) if f.endswith(".jsonl")]
    assert len(live) == 0  # everything retired into _archive
    assert len(os.listdir(d / "_archive")) == 1000
    # replay across the archive still works (crash-recovery path)
    replay = list(
        rdr.readBetweenOffsets({"files": []}, {"files": ["f00000.jsonl"]})
    )
    assert [r[0] for r in replay] == [0]


def test_stream_clean_source_end_to_end(spark, tmp_path):
    """cleanSource plumbs through a real Structured Streaming job: the
    engine confirms batch durability at the NEXT run's planning for a
    simple stream reader, so each dump is archived by the run after the
    one that folded it; every dump folds exactly once and every
    consumed dump eventually leaves the watched directory."""
    import json as _json
    import os

    from grebi_spark.sources import pysource

    pysource.register(spark)
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"

    def land(name, ids):
        with open(src / name, "w") as fh:
            for i in ids:
                fh.write(
                    _json.dumps(
                        {"doc_id": i, "text": "t", "lang": "en",
                         "source": "s", "n_chars": 1}
                    )
                    + "\n"
                )

    def drain():
        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(schema)
            .option("path", str(src))
            .option("cleanSource", "archive")
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sorted(r["doc_id"] for r in spark.read.parquet(sink).collect())

    land("a.jsonl", [1, 2])
    assert drain() == [1, 2]
    land("b.jsonl", [3])
    assert drain() == [1, 2, 3]
    # run 2 confirmed run 1's durability → a.jsonl retired by now
    assert sorted(os.listdir(src / "_archive")) == ["a.jsonl"]
    assert drain() == [1, 2, 3]  # nothing new; confirms run 2 → retires b
    assert not any(f.endswith(".jsonl") for f in os.listdir(src))
    assert sorted(os.listdir(src / "_archive")) == ["a.jsonl", "b.jsonl"]


def test_stream_reland_after_archive_is_new_data(tmp_path):
    """A consumed-and-ARCHIVED name that reappears in the directory is
    new data and must be ingested again (the documented FileStreamSource
    contract) — regression: the committed offset used to shadow the
    re-landed file, and commit() then retired it unread."""
    import json as _json

    from pyspark.sql.types import LongType, StructField, StructType

    from grebi_spark.sources.pysource import GrebiJsonlStreamReader

    schema = StructType([StructField("doc_id", LongType())])
    d = tmp_path / "reland"
    d.mkdir()
    rdr = GrebiJsonlStreamReader(
        schema, {"path": str(d), "cleanSource": "archive"}
    )
    (d / "a.jsonl").write_text(_json.dumps({"doc_id": 1}) + "\n")
    rows, off = rdr.read(rdr.initialOffset())
    assert [r[0] for r in rows] == [1]
    rdr.commit(off)  # a.jsonl retired into _archive

    # same NAME re-lands with new content
    (d / "a.jsonl").write_text(_json.dumps({"doc_id": 2}) + "\n")
    rows2, off2 = rdr.read(off)
    assert [r[0] for r in rows2] == [2], "re-landed file must be read"
    rdr.commit(off2)
    # retired again; nothing further to read
    rows3, _ = rdr.read(off2)
    assert list(rows3) == []
