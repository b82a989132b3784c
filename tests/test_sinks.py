"""Sink tests on a hand-built merged graph: Neo4j CSV pivot, Solr JSONL,
KV resolution."""

import json

import pytest
from pyspark.sql import functions as F

from grebi_spark.sinks.kv import kv_alias_table, kv_node_table, resolve, write_kv
from grebi_spark.sinks.neo4j_csv import (
    neo4j_edge_rows,
    neo4j_id_rows,
    neo4j_node_rows,
    node_prop_universe,
)
from grebi_spark.sinks.solr_jsonl import solr_autocomplete_docs, solr_node_docs

MERGED_ROWS = [
    # node_id, subgraph, prop_key, value, value_props, datasources, source_ids
    ("g:1", "s", "grebi:type", "Gene", None, ["dsA"], ["g:1"]),
    ("g:1", "s", "grebi:name", "BRCA2", None, ["dsA", "dsB"], ["g:1", "x:9"]),
    ("g:1", "s", "rel:disease", "d:2", None, ["dsA"], ["g:1"]),
    ("d:2", "s", "grebi:type", "Disease", None, ["dsB"], ["d:2"]),
    ("d:2", "s", "grebi:name", "breast cancer", None, ["dsB"], ["d:2"]),
]


@pytest.fixture(scope="module")
def merged(spark):
    from grebi_spark.schema import MERGED

    return spark.createDataFrame(MERGED_ROWS, MERGED).cache()


@pytest.fixture(scope="module")
def meta(spark, merged):
    from grebi_spark.operators.index import build_index

    return build_index(merged).metadata.cache()


def test_neo4j_nodes(merged, meta):
    keys = node_prop_universe(merged)
    assert "rel:disease" in keys
    rows = {r["grebi:nodeId:ID"]: r for r in neo4j_node_rows(merged, meta, keys).collect()}
    assert rows["g:1"][":LABEL"] == "GraphNode;Gene"
    assert rows["g:1"]["grebi:sourceIds"] == "g:1\x1fx:9"
    assert rows["g:1"]["rel:disease"] == "d:2"
    assert rows["d:2"]["rel:disease"] is None


def test_neo4j_id_star(meta):
    id_nodes, id_edges = neo4j_id_rows(meta)
    assert {r["id:ID"] for r in id_nodes.collect()} == {"g:1", "x:9", "d:2"}
    assert (
        id_edges.filter(
            (F.col(":START_ID") == "g:1") & (F.col(":END_ID") == "x:9")
        ).count()
        == 1
    )


def test_solr_docs_strip_provenance_and_expand_names(merged, meta):
    docs = {r["grebi__nodeId"]: r for r in solr_node_docs(merged, meta).collect()}
    g = docs["g:1"]
    assert g["fields"]["grebi__name"] == ["BRCA2"]
    # the id-valued rel:disease also indexes the referenced node's names
    assert g["fields"]["rel__disease"] == ["d:2"]
    assert g["fields"]["rel__disease_names"] == ["breast cancer"]
    assert g["grebi__type"] == ["Gene"]


def test_autocomplete_docs(spark):
    names = spark.createDataFrame([("Breast Cancer",)], ["name"])
    row = solr_autocomplete_docs(names).collect()[0]
    assert row["label"] == "Breast Cancer"
    assert row["whitespace_edge_label"] == ["breast", "cancer"]


def test_kv_roundtrip(spark, merged, meta, tmp_path):
    out = str(tmp_path / "kv")
    write_kv(merged, meta, out, buckets=2)
    hit = resolve(spark, ["x:9"], out).collect()
    assert len(hit) == 1
    assert hit[0]["node_id"] == "g:1"
    obj = json.loads(hit[0]["json"])
    assert obj["properties"]["grebi:name"][0]["value"] == "BRCA2"


def test_kv_tables(merged, meta):
    assert kv_node_table(merged).count() == 2
    aliases = {r["alias"] for r in kv_alias_table(meta).collect()}
    assert aliases == {"g:1", "x:9", "d:2"}


def test_edge_rows(spark, merged, meta):
    from grebi_spark.config import SubgraphConfig
    from grebi_spark.operators.materialise import materialise_edges

    edges = materialise_edges(merged, meta, SubgraphConfig())
    rows = neo4j_edge_rows(edges).collect()
    assert len(rows) == 1
    assert rows[0][":START_ID"] == "g:1" and rows[0][":END_ID"] == "d:2"
    assert rows[0][":TYPE"] == "rel:disease"


def test_summary_json(merged):
    from grebi_spark.operators.index import build_index, summary_json

    s = summary_json(build_index(merged), "s")
    assert s["subgraph_name"] == "s"
    assert s["entity_props"]["grebi:name"]["count"] == 2
    assert s["entity_props"]["rel:disease"]["count"] == 1
    assert s["types"] == {"Gene": {"count": 1}, "Disease": {"count": 1}}


def test_neo4j_import_command(spark, merged, meta, tmp_path):
    """K3 command generation: the written CSV part files become --nodes/
    --relationships args with the reference's delimiter + sizing flags
    (neo4j_import.dockersh:19-27); index DDL matches
    create_indexes.cypher."""
    from grebi_spark.operators.materialise import materialise_edges
    from grebi_spark.sinks.neo4j_csv import (
        INDEX_STATEMENTS,
        import_command,
        write_neo4j_csvs,
    )
    from grebi_spark.config import SubgraphConfig

    edges = materialise_edges(merged, meta, SubgraphConfig(exclude_edges=("id",)))
    out = str(tmp_path / "neo")
    write_neo4j_csvs(merged, meta, edges, out)
    cmd = import_command(out, threads=8, max_off_heap="4G")
    assert cmd[:4] == ["neo4j-admin", "database", "import", "full"]
    assert any(a.startswith("--nodes=") and "/nodes/part-" in a for a in cmd)
    assert any(a.startswith("--nodes=") and "/id_nodes/part-" in a for a in cmd)
    assert any(
        a.startswith("--relationships=") and "/edges/part-" in a for a in cmd
    )
    assert "--array-delimiter=U+001F" in cmd
    assert "--threads=8" in cmd
    assert "--max-off-heap-memory=4G" in cmd
    assert INDEX_STATEMENTS[0].startswith("CREATE INDEX node_id")
    assert INDEX_STATEMENTS[-1] == "CALL db.awaitIndexes(10800)"


def test_solr_import_requests(spark, merged, meta, tmp_path):
    """Solr bulk-load request plan: one streaming-update per written
    part file plus a final commit (solr_import.dockerpy:50-90)."""
    from grebi_spark.config import SubgraphConfig
    from grebi_spark.operators.materialise import materialise_edges
    from grebi_spark.sinks.solr_jsonl import solr_import_requests, write_solr_jsonl

    edges = materialise_edges(merged, meta, SubgraphConfig(exclude_edges=("id",)))
    names = meta.select(F.explode("names").alias("name")).distinct()
    out = str(tmp_path / "solr")
    write_solr_jsonl(merged, meta, edges, names, out)
    reqs = solr_import_requests(out, "grebi_nodes", port=9999)
    assert reqs[-1]["params"] == {"commit": "true"}
    uploads = reqs[:-1]
    assert uploads and all("/nodes/part-" in r["params"]["stream.file"] for r in uploads)
    assert all(r["url"].endswith("/solr/grebi_nodes/update/json/docs") for r in uploads)


def test_neo4j_csv_adversarial_escaping(spark, tmp_path):
    """K1/K2 escaping golden test against the reference's serializer
    (grebi_make_neo_csv/src/main.rs:341-359): every field is quoted,
    embedded quotes are doubled, and \\n \\r \\t \\ become two-char
    backslash sequences INSIDE the value; 0x1F passes through raw (it is
    the array delimiter, never escaped). Each adversarial value is
    compared field-exact after a CSV round-trip AND byte-exact in the
    raw file against a pure-Python restatement of write_escaped_value."""
    import csv
    import glob

    from grebi_spark.config import SubgraphConfig
    from grebi_spark.operators.index import build_index
    from grebi_spark.operators.materialise import materialise_edges
    from grebi_spark.schema import MERGED
    from grebi_spark.sinks.neo4j_csv import write_neo4j_csvs

    nasty = {
        "comma": "a,b,c",
        "quote": 'say "hi" twice',
        "newline": "line1\nline2",
        "crlf": "cr\r\nlf",
        "tab": "col1\tcol2",
        "backslash": "C:\\temp\\new",
        "unitsep": "x\x1fy",
        "mixed": 'q"\\\n\t,\x1f"end',
    }
    rows = [
        ("n:1", "s", "grebi:type", "Thing", None, ["ds"], ["n:1"]),
    ] + [
        ("n:1", "s", f"p:{k}", v, None, ["ds"], ["n:1"])
        for k, v in sorted(nasty.items())
    ]
    merged = spark.createDataFrame(rows, MERGED)
    meta = build_index(merged).metadata
    edges = materialise_edges(merged, meta, SubgraphConfig(exclude_edges=("id",)))
    out = str(tmp_path / "neo_adv")
    write_neo4j_csvs(merged, meta, edges, out)

    def ref_escape_field(s: str) -> str:
        # write_escaped_value (main.rs:347-359) + the field quoting at
        # :341 — the oracle this test holds the writer to
        out = []
        for ch in s:
            if ch == "\n":
                out.append("\\n")
            elif ch == "\r":
                out.append("\\r")
            elif ch == "\t":
                out.append("\\t")
            elif ch == "\\":
                out.append("\\\\")
            elif ch == '"':
                out.append('""')
            else:
                out.append(ch)
        return '"' + "".join(out) + '"'

    files = sorted(glob.glob(f"{out}/nodes/part-*.csv"))
    assert files
    raw = "".join(open(f, newline="").read() for f in files)
    # 1) byte-exact: every adversarial value appears exactly as the
    # reference serializer would emit it (and no raw newline survives
    # inside any record — escaped files are strictly one line per row)
    for v in nasty.values():
        assert ref_escape_field(v) in raw, v
    header, *records = [ln for ln in raw.split("\n") if ln]
    assert all(ln.count('"') % 2 == 0 for ln in records)
    # 2) field-exact round-trip through an RFC-4180 reader: each field
    # parses back to the escaped payload (what neo4j-admin sees)
    with open(files[0], newline="") as fh:
        parsed = list(csv.reader(fh))
    cols = parsed[0]
    byname = dict(zip(cols, parsed[1]))
    for k, v in nasty.items():
        expect = ref_escape_field(v)[1:-1].replace('""', '"')
        assert byname[f"p:{k}"] == expect, k


def test_kv_store_build_and_serve(spark, merged, meta, tmp_path):
    """K6 executed end-to-end: distributed shard load -> driver
    compaction -> pure-sqlite point reads, values identical to the
    Spark-side resolve() join."""
    import json as _json

    from grebi_spark.sinks.kv import build_kv_store, kv_store_get, resolve, write_kv

    from grebi_spark.operators.materialise import materialise_edges

    edges = materialise_edges(merged, meta)
    edge_ids = [r["edge_id"] for r in edges.collect()]
    assert edge_ids  # rel:disease g:1 -> d:2 materialises

    db = str(tmp_path / "kv" / "store.sqlite")
    n = build_kv_store(merged, meta, db, shards=2, edges=edges)
    assert n == 2  # g:1 and d:2

    got = kv_store_get(db, ["g:1", "x:9", "nope:0"])
    assert set(got) == {"g:1", "x:9"}  # x:9 resolves via alias
    assert _json.loads(got["x:9"])["node_id"] == "g:1"

    # edge-id multiGet: the stored document is the full edge JSON
    egot = kv_store_get(db, edge_ids)
    assert set(egot) == set(edge_ids)
    edoc = _json.loads(egot[edge_ids[0]])
    assert (edoc["from_id"], edoc["edge_type"], edoc["to_id"]) == (
        "g:1",
        "rel:disease",
        "d:2",
    )

    # parity with the Spark-side resolver join over the parquet KV
    out = str(tmp_path / "kvp")
    write_kv(merged, meta, out, edges=edges)
    spark_rows = {
        r["alias"]: r["json"]
        for r in resolve(spark, ["g:1", "x:9"], out).collect()
    }
    assert spark_rows == got
    # Spark-side edge resolution mirrors the sqlite point read
    e_rows = {
        r["alias"]: r["json"]
        for r in resolve(spark, edge_ids, out).collect()
    }
    assert e_rows == egot
