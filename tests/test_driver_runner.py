"""S13 datasource-config driver, Q10 batch query runner, K5 schema gen,
J6 _refs attachment."""

import json
import os

from pyspark.sql import functions as F

from grebi_spark.config import SubgraphConfig
from grebi_spark.pipeline import build_graph
from grebi_spark.plans.runner import run_query_files
from grebi_spark.sinks.solr_jsonl import solr_schema_fields
from grebi_spark.sources.datasources import (
    load_datasource_config,
    run_ingest_job,
    transform_from_command,
)

YAML = """
name: HGNC_TEST
enabled: true
ingests:
  - globs: ["{d}/*.jsonl"]
    command: '
      grebi_transform_jsonl
          --json-rename-field hgnc_id:id
          --json-inject-type hgnc:Gene
          --json-inject-key-prefix hgnc:
          --json-inject-value-prefix pubmed_id:pmid:
    '
"""


def test_datasource_driver(spark, tmp_path):
    (tmp_path / "genes.jsonl").write_text(
        json.dumps({"hgnc_id": "hgnc:5", "symbol": "A1BG", "pubmed_id": "123"}) + "\n"
    )
    cfg = tmp_path / "hgnc.yaml"
    cfg.write_text(YAML.format(d=tmp_path))
    jobs = load_datasource_config(str(cfg))
    assert len(jobs) == 1 and jobs[0].datasource == "HGNC_TEST"
    t = transform_from_command(jobs[0].command)
    assert ("hgnc_id", "id") in t.rename_fields
    assert t.inject_type == "hgnc:Gene" and t.key_prefix == "hgnc:"
    rows = {(r["prop_key"], r["value"]) for r in run_ingest_job(spark, jobs[0]).collect()}
    assert ("hgnc:symbol", "A1BG") in rows
    assert ("hgnc:pubmed_id", "pmid:123") in rows
    assert ("grebi:type", "hgnc:Gene") in rows


def test_disabled_config(tmp_path):
    cfg = tmp_path / "off.yaml"
    cfg.write_text("name: OFF\nenabled: false\ningests: []\n")
    assert load_datasource_config(str(cfg)) == []


def test_run_query_files(spark, tmp_path):
    src = spark.createDataFrame(
        [
            ("s", "d", "a:1", "id", "a:1", None),
            ("s", "d", "a:1", "grebi:type", "T", None),
            ("s", "d", "a:1", "rel:to", "b:2", None),
            ("s", "d", "b:2", "id", "b:2", None),
            ("s", "d", "b:2", "grebi:type", "T", None),
        ],
        "subgraph string, datasource string, entity_id string, prop_key string, value string, value_props string",
    )
    graph = build_graph([src], SubgraphConfig(exclude_edges=("id",)))
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "edge_counts.sql").write_text(
        "SELECT edge_type, count(*) AS n FROM graph_edges GROUP BY edge_type"
    )
    (qdir / "broken.sql").write_text("SELECT FROM nothing !!!")
    out = tmp_path / "out"
    results = run_query_files(spark, graph, str(qdir), str(out))
    assert results["edge_counts"] == 1
    assert results["broken"] == -1
    csvs = [f for f in os.listdir(out / "edge_counts") if f.endswith(".csv")]
    assert csvs, "CSV output written"


def test_solr_schema_fields():
    fields = solr_schema_fields(["grebi:name", "otar:score"])
    names = {f["name"] for f in fields}
    assert "grebi__name" in names and "lowercase_otar__score" in names


def test_attach_refs(spark):
    from grebi_spark.operators.index import build_index
    from grebi_spark.operators.materialise import attach_refs
    from grebi_spark.schema import MERGED

    merged = spark.createDataFrame(
        [
            ("g:1", "s", "grebi:type", "Gene", None, ["ds"], ["g:1"]),
            ("g:1", "s", "grebi:name", "BRCA2", None, ["ds"], ["g:1"]),
            ("g:1", "s", "rel:disease", "d:2", None, ["ds"], ["g:1"]),
            ("d:2", "s", "grebi:type", "Disease", None, ["ds"], ["d:2"]),
            ("d:2", "s", "grebi:name", "breast cancer", None, ["ds"], ["d:2"]),
        ],
        MERGED,
    )
    meta = build_index(merged).metadata
    entities = merged.filter(F.col("prop_key") == "rel:disease").select(
        "node_id", "value"
    )
    with_refs = attach_refs(entities, meta, id_cols=("node_id",), value_col="value")
    row = with_refs.collect()[0]
    assert "d:2" in row["_refs"]
    assert row["_refs"]["d:2"]["names"] == ["breast cancer"]


def test_run_cypher_files(spark, tmp_path):
    src = spark.createDataFrame(
        [
            ("s", "d", "a:1", "id", "a:1", None),
            ("s", "d", "a:1", "grebi:type", "T", None),
            ("s", "d", "a:1", "grebi:name", "Alpha", None),
            ("s", "d", "a:1", "rel:to", "b:2", None),
            ("s", "d", "b:2", "id", "b:2", None),
            ("s", "d", "b:2", "grebi:type", "U", None),
        ],
        "subgraph string, datasource string, entity_id string, prop_key string, value string, value_props string",
    )
    graph = build_graph([src], SubgraphConfig(exclude_edges=("id",)))
    qdir = tmp_path / "queries"
    qdir.mkdir()
    (qdir / "names.cypher").write_text(
        "MATCH (a:`T`)-[:`rel:to`]->(b:`U`)\n"
        "RETURN a.`grebi:name`[0] AS name, b AS target\n"
    )
    out = tmp_path / "out"
    results = run_query_files(spark, graph, str(qdir), str(out))
    assert results["names"] == 1
    import glob
    content = "".join(
        open(f).read() for f in glob.glob(str(out / "names" / "*.csv"))
    )
    assert "Alpha" in content and "b:2" in content
