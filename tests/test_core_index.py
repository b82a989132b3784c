"""The BM25 postings of the maintained search core — Lucene's
index-vs-query split (sinks.solr_jsonl): tokenize at build time, serve
/search?rank=bm25 from the stored postings and corpus stats row in the
core's serving sqlite file, never re-tokenizing the corpus per
request. ``bm25_core_docs``, the Spark recompute over the
live docs, is the oracle.

Reference: GrebiApi's /search delegates ranking to Solr, whose Lucene
index holds exactly these artifacts (term dictionary + posting lists +
norms); GrebiSolrClient.java:105-147 is the query side of that split.
"""

import random

import pytest
from pyspark.sql import functions as F

from grebi_spark.incremental import add_datasource, build_graph_stateful
from grebi_spark.sinks.kv import open_store
from grebi_spark.sinks.solr_jsonl import (
    _round_half_up,
    _strict_log,
    bm25_core_docs,
    bm25_core_scores,
    build_solr_core,
    core_db_path,
    read_solr_core,
    search_core_docs_bm25,
)
from grebi_spark.sources.jsonl import jsonl_to_nodes

from . import fixtures as FX
from .test_pipeline import CONFIG, _lines_df

TERMS = ("beta", "gamma")


def _nodes(spark, rows, ds):
    return jsonl_to_nodes(_lines_df(spark, FX.jsonl(rows)), ds)


def _scored_set(df):
    return sorted((r["node_id"], r["score"]) for r in df.collect())


@pytest.fixture(scope="module")
def core(spark, tmp_path_factory):
    """A built-then-refreshed core with controlled names, so every
    corpus statistic the refresh must move is known by construction:
    base = {alpha beta, beta gamma}; the add verb lands {beta delta}
    (df(beta) 2→3, n_docs 2→3, total_dl 4→6 — every score shifts). The
    refresh rebuilds the core at the same root from the verb's graph."""
    a = _nodes(
        spark,
        [
            {"id": "x:1", "grebi:type": ["t:A"], "grebi:name": ["alpha beta"]},
            {"id": "x:2", "grebi:type": ["t:A"], "grebi:name": ["beta gamma"]},
        ],
        "srca",
    )
    b = _nodes(
        spark,
        [{"id": "x:3", "grebi:type": ["t:B"], "grebi:name": ["beta delta"]}],
        "srcb",
    )
    root = str(tmp_path_factory.mktemp("core_index") / "core")
    s1 = build_graph_stateful([a], CONFIG)
    build_solr_core(s1.graph.merged, s1.graph.nodes, s1.graph.edges, root)
    pre = sorted(bm25_core_scores(root, TERMS).items())
    s2 = add_datasource(s1, b)
    build_solr_core(s2.graph.merged, s2.graph.nodes, s2.graph.edges, root)
    return {"root": root, "pre": pre, "graph": s2.graph}


def test_index_scores_equal_query_time_recompute(spark, core):
    """After a refresh, scoring from the STORED postings (and the stats
    row) must equal a from-scratch query-time recompute over the live
    doc set — same formula, same fixed-order sums, value-exact. A stale
    posting or a stale stats row would diverge here."""
    idx = sorted(bm25_core_scores(core["root"], TERMS).items())
    live = read_solr_core(spark, core["root"], "nodes")
    assert idx == _scored_set(bm25_core_docs(live, TERMS))
    assert idx  # non-vacuous: the terms match docs


def test_stale_index_would_serve_wrong_scores(spark, core):
    """The refresh MOVED the statistics: pre-refresh scores differ from
    post-refresh ones (df(beta) 2→3, n_docs 2→3, avgdl shifts), so
    serving from an unrefreshed index is an observable wrongness, not a
    latent one — the reason a refresh rebuilds the stats row with the
    postings."""
    post = sorted(bm25_core_scores(core["root"], TERMS).items())
    assert core["pre"] != post
    # and the stored stats row equals the live corpus exactly
    stats = open_store(core_db_path(core["root"])).execute(
        "SELECT n_docs, total_dl FROM stats"
    ).fetchall()
    live = read_solr_core(spark, core["root"], "nodes")
    toks = F.filter(
        F.split(F.lower(F.array_join("grebi__name", " ")), "[^a-z0-9]+"),
        lambda t: t != "",
    )
    want = live.select(F.size(toks).alias("dl")).agg(
        F.count("*").alias("n"), F.sum("dl").cast("long").alias("dl")
    ).collect()[0]
    assert stats == [(want["n"], want["dl"])]


def test_compaction_rebuilds_index_scores_identical(spark, core):
    """Rebuilding the core from the same graph — the only compaction a
    rebuilt core needs — serves bit-identical scores."""
    before = bm25_core_scores(core["root"], TERMS)
    g = core["graph"]
    build_solr_core(g.merged, g.nodes, g.edges, core["root"])
    assert bm25_core_scores(core["root"], TERMS) == before


def test_request_plan_is_probe_sized(core):
    """Every statement a BM25 request runs probes an index — the
    postings by term, never a scan of the postings or the docs — and
    none tokenizes anything: that work happened at index time."""
    con = open_store(core_db_path(core["root"]))
    sql: list[str] = []
    con.set_trace_callback(sql.append)
    try:
        search_core_docs_bm25(core["root"], "beta gamma")
    finally:
        con.set_trace_callback(None)
    probes = [s for s in sql if "FROM post" in s]
    assert len(probes) == len(TERMS), sql
    for stmt in sql:
        plan = " | ".join(
            r[-1] for r in con.execute("EXPLAIN QUERY PLAN " + stmt).fetchall()
        )
        assert "SCAN post" not in plan and "SCAN doc" not in plan, (stmt, plan)


def test_duplicate_query_terms_deduped(core):
    """'beta beta gamma' must rank exactly like 'beta gamma': repeated
    words in the query box neither double-count their clause nor eat
    the 8-term edismax clause budget (first-seen order kept)."""
    dup, _ = search_core_docs_bm25(core["root"], "beta beta gamma")
    page, _ = search_core_docs_bm25(core["root"], "beta gamma")
    assert dup == page and page


def test_empty_and_punctuation_only_queries_match_nothing(spark, core):
    """A q of only punctuation tokenizes to ZERO terms — a zero-clause
    Lucene query matches nothing and must not error (the facade passes
    the user's q verbatim). Both scorers are total on an empty term
    tuple too."""
    live = read_solr_core(spark, core["root"], "nodes")
    for q in ("", "!!! --- ???"):
        page, _ = search_core_docs_bm25(core["root"], q)
        assert page == []
    assert bm25_core_scores(core["root"], ()) == {}
    assert bm25_core_docs(live, ()).count() == 0


def test_strict_log_is_spark_log(spark):
    """Spark's log is Java's StrictMath.log (fdlibm); the served scores
    compute it in Python bit for bit, over the argument range BM25's
    idf takes and beyond."""
    rng = random.Random(7)
    xs = [
        (rng.randint(0, 10**6) + 0.5) / (rng.randint(0, 10**6) + 0.5) + 1.0
        for _ in range(20000)
    ] + [rng.uniform(1e-300, 1e300) for _ in range(2000)] + [
        1.0, 2.0, 1.0 + 2**-30, 5e-324, 0.5, 3.0e-310,
    ]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r[0] for r in df.select(F.log("x")).collect()]
    assert [_strict_log(x) for x in xs] == got


def test_round_half_up_is_spark_round(spark):
    """Spark rounds a double HALF_UP on its shortest decimal form:
    0.00015 -> 0.0002, where Python's round gives 0.0001."""
    rng = random.Random(11)
    xs = [k / 100000 for k in range(1, 400, 2)] + [
        1.00005, 2.67245, 0.6931471805599453,
    ] + [rng.uniform(0, 20) for _ in range(2000)]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r[0] for r in df.select(F.round("x", 4)).collect()]
    assert [_round_half_up(x, 4) for x in xs] == got
    assert _round_half_up(0.00015, 4) == 0.0002 != round(0.00015, 4)
