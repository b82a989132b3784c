"""K4 — Solr-import JSONL flattening.

Reference: 06_prepare_db_import/grebi_make_solr/src/main.rs:52-219 —
provenance wrappers stripped (each value → its grebi:value only,
:167-206), property keys escaped ``:`` → ``__`` (:208-219), and for
id-valued strings the referenced node's *names* are indexed alongside
(:184-203) so the search core can match edges by endpoint label.
"""

from __future__ import annotations

import json
import math
import os
import re
import sqlite3
import struct
from collections import Counter
from contextlib import closing
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kv import open_store


def solr_key(col):
    return F.regexp_replace(col, ":", "__")


def solr_node_docs(merged: DataFrame, node_meta: DataFrame) -> DataFrame:
    """One flat JSON document per node: grebi__nodeId, grebi__datasources,
    per-prop value arrays (provenance stripped), plus <prop>_names arrays
    holding referenced-node labels."""
    # referenced names: value → names of the node it points to
    ref_names = node_meta.select(
        F.col("node_id").alias("ref_id"), F.col("names").alias("ref_names")
    )
    vals = (
        merged.join(ref_names, merged.value == ref_names.ref_id, "left")
        .select(
            "node_id",
            solr_key(F.col("prop_key")).alias("k"),
            "value",
            F.coalesce("ref_names", F.array().cast("array<string>")).alias("ref_names"),
        )
    )
    per_key = vals.groupBy("node_id", "k").agg(
        F.array_sort(F.collect_set("value")).alias("values"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("ref_names")))).alias(
            "names"
        ),
    )
    entries = per_key.select(
        "node_id",
        F.explode(
            F.when(
                F.size("names") > 0,
                F.array(
                    F.struct(F.col("k"), F.col("values")),
                    F.struct(
                        F.concat(F.col("k"), F.lit("_names")).alias("k"),
                        F.col("names").alias("values"),
                    ),
                ),
            ).otherwise(F.array(F.struct(F.col("k"), F.col("values"))))
        ).alias("e"),
    )
    docs = entries.groupBy("node_id").agg(
        F.map_from_entries(F.array_sort(F.collect_list("e"))).alias("fields")
    )
    return docs.join(node_meta, "node_id").select(
        F.col("node_id").alias("grebi__nodeId"),
        F.col("datasources").alias("grebi__datasources"),
        F.col("types").alias("grebi__type"),
        F.col("names").alias("grebi__name"),
        "fields",
    )


def solr_edge_docs(edges: DataFrame) -> DataFrame:
    return edges.select(
        F.col("edge_id").alias("grebi__edgeId"),
        F.col("edge_type").alias("grebi__type"),
        F.col("from_id").alias("grebi__from"),
        F.col("to_id").alias("grebi__to"),
        F.col("datasources").alias("grebi__datasources"),
        F.col("subgraph").alias("grebi__subgraph"),
    )


def solr_autocomplete_docs(names: DataFrame) -> DataFrame:
    """The autocomplete core: the distinct name list with edge-ngram-ish
    keys (whitespace token prefixes), cf. make_solr_autocomplete_config.py."""
    return names.select(
        F.col("name").alias("label"),
        F.split(F.lower("name"), r"\s+").alias("whitespace_edge_label"),
    )


def solr_schema_fields(prop_keys: list[str]) -> list[dict]:
    """K5 — dynamic Solr schema generation: per property a stored string
    field plus ``str_``/``lowercase_`` copy-fields
    (06_prepare_db_import/make_solr_config.py:33-53). Returned as dicts so
    a serving layer can render schema.xml."""
    fields = []
    for k in sorted(prop_keys):
        sk = k.replace(":", "__")
        fields.append({"name": sk, "type": "string", "multiValued": True, "stored": True})
        fields.append({"name": f"str_{sk}", "type": "string", "copy_of": sk})
        fields.append({"name": f"lowercase_{sk}", "type": "lowercase", "copy_of": sk})
    return fields


# --- the EXECUTED search core ----------------------------------------------
#
# The reference's Solr tier is rebuilt from scratch per release
# (07_create_db/solr/solr_import.dockerpy), and so is this core: the
# node and edge docs are one Parquet segment each (``seg=0``), and a new
# graph is served by building the core again (``build_solr_core``),
# which swaps a new serving file in.
#
# Requests are served from a sqlite file in the core root that holds the
# node docs in the shapes the routes read (Lucene's stored fields,
# term dictionary and postings): ``doc`` (id, Spark-lowered id, types and
# names as JSON, token count), ``name`` (one row per name, Spark-lowered,
# with its length), ``field`` (node_id, field, value) for WHOLE_FIELD
# filters and facets, ``post`` (tok, node_id, tf, dl) BM25 postings with
# the one-row ``stats`` (n_docs, total_dl), and ``suggest``, the distinct
# names. Every lowering and tokenizing happens in Spark at build time, so
# the readers below compare stored strings only.

CORE_DB = "serve.sqlite"

# the serving tables, each with its columns in shard order
_CORE_TABLES = {
    "doc": "node_id TEXT, id_lower TEXT, types TEXT, names TEXT, dl INTEGER",
    "name": "node_id TEXT, name TEXT, name_lower TEXT, len INTEGER",
    "field": "node_id TEXT, field TEXT, value TEXT",
    "post": "tok TEXT, node_id TEXT, tf INTEGER, dl INTEGER",
}
_CORE_SCHEMA = (
    "CREATE TABLE doc (node_id TEXT PRIMARY KEY, id_lower TEXT, types TEXT,"
    " names TEXT, dl INTEGER)",
    "CREATE TABLE name (node_id TEXT, name TEXT, name_lower TEXT, len INTEGER)",
    "CREATE TABLE field (node_id TEXT, field TEXT, value TEXT)",
    "CREATE TABLE post (tok TEXT, node_id TEXT, tf INTEGER, dl INTEGER,"
    " PRIMARY KEY (tok, node_id)) WITHOUT ROWID",
    "CREATE TABLE suggest (name TEXT PRIMARY KEY, name_lower TEXT, len INTEGER)",
    "CREATE TABLE stats (n_docs INTEGER, total_dl INTEGER)",
)
_CORE_INDEXES = (
    "CREATE INDEX name_node ON name (node_id)",
    "CREATE INDEX name_name ON name (name)",
    "CREATE INDEX field_node ON field (node_id, field, value)",
    "CREATE INDEX post_node ON post (node_id)",
    "CREATE INDEX suggest_order ON suggest (len, name)",
)
# the doc header arrays, under names no escaped property key can take
_HEADER_FIELDS = {"types": ":types", "datasources": ":datasources"}


def core_db_path(root: str) -> str:
    """The serving sqlite file of the core at ``root``."""
    return os.path.join(root, CORE_DB)


def _name_tokens():
    """The index-time token rule (the same as the query-time oracle
    ``bm25_core_docs``): lowercase the name field, split on
    non-alphanumeric runs, drop empties."""
    return F.filter(
        F.split(
            F.lower(F.array_join(F.col("grebi__name"), " ")), "[^a-z0-9]+"
        ),
        lambda t: t != "",
    )


def _core_rows(docs: DataFrame) -> DataFrame:
    """Node docs with every string the readers compare lowered or
    tokenized by Spark."""
    return docs.select(
        F.col("grebi__nodeId").alias("node_id"),
        F.lower("grebi__nodeId").alias("id_lower"),
        F.col("grebi__type").alias("types"),
        F.col("grebi__datasources").alias("datasources"),
        F.col("grebi__name").alias("names"),
        F.transform("grebi__name", lambda n: F.lower(n)).alias("names_lower"),
        F.transform("grebi__name", lambda n: F.length(n)).alias("names_len"),
        _name_tokens().alias("toks"),
        "fields",
    )


def _core_table_rows(r):
    """The serving-table rows of one ``_core_rows`` row."""
    node, toks = r["node_id"], r["toks"]
    yield "doc", (
        node, r["id_lower"], json.dumps(r["types"]), json.dumps(r["names"]),
        len(toks),
    )
    for name, lower, n in zip(r["names"], r["names_lower"], r["names_len"]):
        if name is not None:
            yield "name", (node, name, lower, n)
    header = ((f, r[c]) for c, f in _HEADER_FIELDS.items())
    for field, values in (*header, *(r["fields"] or {}).items()):
        for v in values or ():
            yield "field", (node, field, v)
    for tok, tf in Counter(toks).items():
        yield "post", (tok, node, tf, len(toks))


def build_solr_core(merged, node_meta, edges, root: str) -> None:
    """Materialise the executed search core: node and edge docs as
    segment 0, plus the serving sqlite file (``core_db_path``) over the
    node docs. Same doc rendering as the JSONL export (solr_node_docs /
    solr_edge_docs). The serving file is built at ``<path>.tmp`` and
    moved onto its path with ``os.replace``, so rebuilding a served core
    is a swap: a reader sees the old core or the new one, never a
    missing or half-loaded file."""
    import shutil

    from .kv import _load_shards, _write_shards

    spark = merged.sparkSession
    solr_node_docs(merged, node_meta).write.mode("overwrite").parquet(
        f"{root}/nodes/segments/seg=0"
    )
    solr_edge_docs(edges).write.mode("overwrite").parquet(
        f"{root}/edges/segments/seg=0"
    )
    # serve what the core stores: the segment read back is cheaper than
    # re-running the doc-render joins
    db = core_db_path(root)
    stage = f"{db}.shards"
    shutil.rmtree(stage, ignore_errors=True)  # incl. stale .tmp-* attempts
    os.makedirs(stage, exist_ok=True)
    docs = spark.read.parquet(f"{root}/nodes/segments/seg=0")
    _write_shards(stage, "core", _CORE_TABLES, _core_rows(docs), _core_table_rows)
    tmp = f"{db}.tmp"
    if os.path.exists(tmp):
        os.remove(tmp)
    with closing(sqlite3.connect(tmp)) as con:
        for ddl in _CORE_SCHEMA:
            con.execute(ddl)
        _load_shards(con, stage, "core", _CORE_TABLES)
        con.execute(
            "INSERT INTO suggest SELECT name, min(name_lower), min(len)"
            " FROM name GROUP BY name"
        )
        con.execute(
            "INSERT INTO stats SELECT count(*), coalesce(sum(dl), 0) FROM doc"
        )
        for ddl in _CORE_INDEXES:
            con.execute(ddl)
        con.commit()
    os.replace(tmp, db)
    shutil.rmtree(stage, ignore_errors=True)


def read_solr_core(spark, root: str, kind: str = "nodes"):
    """The documents of the core at ``root`` (``kind`` ``nodes`` or
    ``edges``) as a DataFrame. Maintenance and the suite read the core
    this way; requests read the serving sqlite file."""
    return spark.read.parquet(f"{root}/{kind}/segments/seg=0")


# --- the serving read path: pure sqlite reads, no Spark -----------------------


def _filter_conds(
    type_filter: str | None,
    filters: tuple[tuple[str, tuple[str, ...], bool], ...],
    facet_fields: tuple[str, ...],
    exclude_obsolete: bool,
):
    """(base, tagged) SQL conditions on a doc row ``h``, each a
    ``(sql, params)`` pair. WHOLE_FIELD filters (GrebiSolrQuery.java:
    109-140): OR within a filter's values, AND across filters, negation,
    the always-on obsolete exclusion. Multi-select faceting: filters on
    FACETED fields are ``tagged`` — applied to the page, left out of the
    facet counts."""
    base, tagged = [], []
    if type_filter:
        base.append((
            "EXISTS (SELECT 1 FROM field f WHERE f.node_id = h.node_id"
            " AND f.field = ':types' AND f.value = ?)",
            (type_filter,),
        ))
    all_filters = list(filters)
    if exclude_obsolete:
        all_filters.append(("ols:isObsolete", ("true",), True))
    for prop, values, negate in all_filters:
        field = _HEADER_FIELDS.get(prop) or prop.replace(":", "__")
        match = f"f.value IN ({', '.join(['?'] * len(values))})"
        if negate:
            # Spark's arrays_overlap is NULL, not false, for a field
            # holding a null, so the negated filter drops that doc too
            match += " OR f.value IS NULL"
        cond = (
            "EXISTS (SELECT 1 FROM field f WHERE f.node_id = h.node_id"
            f" AND f.field = ? AND ({match}))"
        )
        (tagged if prop in facet_fields else base).append(
            (("NOT " if negate else "") + cond, (field, *values))
        )
    return base, tagged


def _where(conds) -> tuple[str, list]:
    return (
        " AND ".join(c for c, _ in conds) or "1",
        [p for _, ps in conds for p in ps],
    )


def _facet_counts(con, facet_fields, ids_sql: str, params) -> dict:
    """Per faceted header field, value -> count over the doc ids
    ``ids_sql`` selects."""
    return {
        f: dict(
            con.execute(
                f"SELECT value, count(*) FROM field WHERE field = ?"
                f" AND node_id IN ({ids_sql}) GROUP BY value",
                (_HEADER_FIELDS[f], *params),
            ).fetchall()
        )
        for f in facet_fields
        if f in _HEADER_FIELDS
    }


def search_core_docs(
    root: str,
    q: str,
    page: int = 0,
    size: int = 10,
    type_filter: str | None = None,
    facet_fields: tuple[str, ...] = (),
    filters: tuple[tuple[str, tuple[str, ...], bool], ...] = (),
    exclude_obsolete: bool = True,
) -> tuple[list[dict], dict[str, dict]]:
    """Q6 over the served core — the reference's actual read path:
    GrebiApi's /search queries Solr (GrebiApi.java:185-227), not the
    graph build. Same semantics as
    plans.graph_queries.search_nodes (id beats name scoring, WHOLE_FIELD
    filters, the always-on obsolete exclusion, multi-select facets),
    value-identical output, suite-asserted: a substring test is
    ``instr`` on the Spark-lowered strings, each name tested on its own.
    Returns (page rows, facet field -> value -> count)."""
    con = open_store(core_db_path(root))
    ql = (q or "").lower()
    base, tagged = _filter_conds(type_filter, filters, facet_fields, exclude_obsolete)

    def hits(cols: str, conds):
        where, params = _where(conds)
        return (
            f"SELECT {cols} FROM (SELECT d.node_id, d.types, d.names,"
            " CASE WHEN instr(d.id_lower, ?) > 0 THEN 1000 ELSE 0 END"
            " + CASE WHEN d.node_id IN (SELECT node_id FROM name"
            " WHERE instr(name_lower, ?) > 0) THEN 900 ELSE 0 END AS score"
            f" FROM doc d) h WHERE h.score > 0 AND {where}",
            [ql, ql, *params],
        )

    sql, params = hits("h.node_id, h.types, h.names, h.score", base + tagged)
    rows = con.execute(
        f"{sql} ORDER BY h.score DESC, h.node_id LIMIT ? OFFSET ?",
        (*params, size, page * size),
    ).fetchall()
    page_rows = [
        {"node_id": n, "types": json.loads(t), "names": json.loads(m), "score": s}
        for n, t, m, s in rows
    ]
    return page_rows, _facet_counts(con, facet_fields, *hits("h.node_id", base))


def _strict_log(x: float) -> float:
    """Natural log exactly as fdlibm's ``__ieee754_log`` computes it —
    Java's ``StrictMath.log``, which Spark's ``log`` calls. The C
    library's log (Python's ``math.log``) differs from it in the last
    bit for about one argument in twelve."""
    hx = struct.unpack("<q", struct.pack("<d", x))[0] >> 32
    k = 0
    if hx < 0x00100000:  # zero, negative or subnormal
        if x == 0.0:
            return -math.inf
        if hx < 0:
            return math.nan
        k -= 54
        x *= 1.80143985094819840000e16  # 2**54
        hx = struct.unpack("<q", struct.pack("<d", x))[0] >> 32
    if hx >= 0x7FF00000:
        return x + x
    k += (hx >> 20) - 1023
    hx &= 0x000FFFFF
    i = (hx + 0x95F64) & 0x100000
    lo = struct.unpack("<q", struct.pack("<d", x))[0] & 0xFFFFFFFF
    x = struct.unpack("<d", struct.pack("<q", ((hx | (i ^ 0x3FF00000)) << 32) | lo))[0]
    k += i >> 20
    f = x - 1.0
    ln2_hi, ln2_lo = 6.93147180369123816490e-01, 1.90821492927058770002e-10
    dk = float(k)
    if (0x000FFFFF & (2 + hx)) < 3:  # |f| < 2**-20
        if f == 0.0:
            return 0.0 if k == 0 else dk * ln2_hi + dk * ln2_lo
        r = f * f * (0.5 - 0.33333333333333333 * f)
        return f - r if k == 0 else dk * ln2_hi - ((r - dk * ln2_lo) - f)
    s = f / (2.0 + f)
    z = s * s
    i = hx - 0x6147A
    w = z * z
    j = 0x6B851 - hx
    t1 = w * (3.999999999940941908e-01 + w * (2.222219843214978396e-01
                                              + w * 1.531383769920937332e-01))
    t2 = z * (6.666666666666735130e-01 + w * (2.857142874366239149e-01
              + w * (1.818357216161805012e-01 + w * 1.479819860511658591e-01)))
    r = t2 + t1
    if (i | j) > 0:
        hfsq = 0.5 * f * f
        if k == 0:
            return f - (hfsq - s * (hfsq + r))
        return dk * ln2_hi - ((hfsq - (s * (hfsq + r) + dk * ln2_lo)) - f)
    if k == 0:
        return f - s * (f - r)
    return dk * ln2_hi - ((s * (f - r) - dk * ln2_lo) - f)


def _round_half_up(x: float, digits: int) -> float:
    """Spark's ``round`` of a double: HALF_UP on the shortest decimal
    that reads back as ``x`` (Java's ``BigDecimal.valueOf``), where
    Python's ``round`` goes by the binary value (1.00005 -> 1.0)."""
    return float(
        Decimal(repr(x)).quantize(Decimal(1).scaleb(-digits), rounding=ROUND_HALF_UP)
    )


def _query_terms(q: str | None) -> tuple[str, ...]:
    """The query's BM25 terms: the index's token rule, duplicates
    dropped in first-seen order, at most 8 (Solr's edismax clause
    bound)."""
    seen: dict[str, None] = {}
    for t in re.split(r"[^a-z0-9]+", (q or "").lower()):
        if t:
            seen.setdefault(t)
    return tuple(seen)[:8]


def bm25_core_scores(
    root: str, terms: tuple[str, ...], k1: float = 1.2, b: float = 0.75
) -> dict[str, float]:
    """node_id -> Okapi BM25 score, rounded to 4 places, for the live
    docs matching at least one of ``terms`` — read from the stored
    postings and stats row, nothing corpus-proportional per request.
    Value-identical to the Spark recompute ``bm25_core_docs``: per term
    the same expression in the same evaluation order, ``_strict_log``
    for Spark's log, a fixed-order sum over the terms, then Spark's
    HALF_UP rounding. An empty ``terms`` matches nothing."""
    con = open_store(core_db_path(root))
    n_docs, total_dl = con.execute("SELECT n_docs, total_dl FROM stats").fetchone()
    weights: dict[str, list[float]] = {}
    for i, tok in enumerate(terms):
        posting = con.execute(
            "SELECT node_id, tf, dl FROM post WHERE tok = ?", (tok,)
        ).fetchall()
        df = len(posting)
        idf = _strict_log((n_docs - df + 0.5) / (df + 0.5) + 1.0)
        for node, tf, dl in posting:
            w = (
                idf * tf * (k1 + 1.0)
                / (tf + k1 * (1.0 - b + b * dl * n_docs / total_dl))
            )
            weights.setdefault(node, [0.0] * len(terms))[i] = w
    scores = {}
    for node, ws in weights.items():
        s = 0.0
        for w in ws:
            s = s + w
        scores[node] = _round_half_up(s, 4)
    return scores


def search_core_docs_bm25(
    root: str,
    q: str,
    page: int = 0,
    size: int = 10,
    type_filter: str | None = None,
    facet_fields: tuple[str, ...] = (),
    filters: tuple[tuple[str, tuple[str, ...], bool], ...] = (),
    exclude_obsolete: bool = True,
) -> tuple[list[dict], dict[str, dict]]:
    """Q6 over the served core with Lucene's ACTUAL ranking model:
    same WHOLE_FIELD filter / multi-select facet semantics as
    ``search_core_docs``, but relevance is Okapi BM25 over the name
    field (``bm25_core_scores``) instead of the id/name boost ladder.
    The facade serves this under ``/search?...&rank=bm25``. Lucene
    semantics: BM25 statistics come from the whole live corpus, so a
    filter narrows the result set but does not change scores. Facet
    counts cover the matching docs; a query with no terms (only
    punctuation) matches nothing and counts facets over every doc the
    filters keep."""
    con = open_store(core_db_path(root))
    base, tagged = _filter_conds(type_filter, filters, facet_fields, exclude_obsolete)
    terms = _query_terms(q)
    if not terms:
        where, params = _where(base)
        return [], _facet_counts(
            con, facet_fields, f"SELECT h.node_id FROM doc h WHERE {where}", params
        )
    scores = bm25_core_scores(root, terms)
    matched = (
        "h.node_id IN (SELECT value FROM json_each(?))",
        (json.dumps(list(scores)),),
    )
    where, params = _where([matched, *base, *tagged])
    kept = con.execute(
        f"SELECT h.node_id, h.types, h.names FROM doc h WHERE {where}", params
    ).fetchall()
    kept.sort(key=lambda r: (-scores[r[0]], r[0]))
    page_rows = [
        {"node_id": n, "types": json.loads(t), "names": json.loads(m),
         "score": scores[n]}
        for n, t, m in kept[page * size:(page + 1) * size]
    ]
    where, params = _where([matched, *base])
    return page_rows, _facet_counts(
        con, facet_fields, f"SELECT h.node_id FROM doc h WHERE {where}", params
    )


def bm25_core_docs(
    docs: DataFrame,
    terms: tuple[str, ...],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 recomputed in Spark from the core's live documents
    (``read_solr_core``) — the oracle the served scores
    (``bm25_core_scores``) are checked against. Lucene's BM25Similarity,
    Solr's default since Solr 6: df/idf/avgdl come from the whole live
    doc set.

    Token rule (oracle-mirrorable): lowercase the name field, split on
    non-alphanumeric runs, drop empties. All scoring is JVM-side
    aggregates (no UDF); df and the one-row corpus stats broadcast;
    per-doc scores are fixed-order sums of per-term weights (one w row
    per (doc, term)), so parity cannot flip on FP accumulation order.
    Returns (node_id, score) for docs matching ≥1 term — an EMPTY term
    tuple (a query of only punctuation) matches nothing, mirroring a
    Lucene query with zero clauses."""
    if not terms:
        return docs.sparkSession.createDataFrame(
            [], "node_id string, score double"
        )
    toks = F.filter(
        F.split(
            F.lower(F.array_join(F.col("grebi__name"), " ")), "[^a-z0-9]+"
        ),
        lambda t: t != "",
    )
    base = docs.select(
        F.col("grebi__nodeId").alias("node_id"), toks.alias("toks")
    )
    lens = base.select("node_id", F.size("toks").alias("dl"))
    stats = lens.agg(
        F.count("*").alias("n_docs"),
        F.sum("dl").cast("long").alias("total_dl"),
    )
    qt = base.select(
        "node_id",
        F.explode(F.filter(F.col("toks"), lambda t: t.isin(*terms))).alias(
            "tok"
        ),
    )
    tf = qt.groupBy("node_id", "tok").agg(F.count("*").alias("tf"))
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    w = (
        tf.join(F.broadcast(df), "tok")
        .join(lens, "node_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * F.col("tf")
            * (k1 + 1.0)
            / (
                F.col("tf")
                + k1
                * (
                    1.0
                    - b
                    + b * F.col("dl") * F.col("n_docs") / F.col("total_dl")
                )
            ),
        )
    )
    per_term = w.groupBy("node_id").agg(
        *[
            F.coalesce(
                F.sum(F.when(F.col("tok") == t, F.col("w"))), F.lit(0.0)
            ).alias(f"w_{i}")
            for i, t in enumerate(terms)
        ]
    )
    score = F.lit(0.0)
    for i in range(len(terms)):
        score = score + F.col(f"w_{i}")
    return per_term.select("node_id", F.round(score, 4).alias("score"))


def suggest_core_docs(root: str, q: str, size: int = 10) -> list[str]:
    """Q7 autocomplete over the served core's names — the
    engine-side twin of the exported autocomplete core's suggester
    (GrebiApi.java:228): distinct names whose Spark-lowered form starts
    with the lowered ``q``, shortest first, then by name."""
    return [
        r[0]
        for r in open_store(core_db_path(root)).execute(
            "SELECT name FROM suggest WHERE instr(name_lower, ?) = 1"
            " ORDER BY len, name LIMIT ?",
            ((q or "").lower(), size),
        )
    ]


def write_solr_jsonl(
    merged: DataFrame, node_meta: DataFrame, edges: DataFrame, names: DataFrame, out_dir: str
) -> None:
    solr_node_docs(merged, node_meta).write.mode("overwrite").json(f"{out_dir}/nodes")
    solr_edge_docs(edges).write.mode("overwrite").json(f"{out_dir}/edges")
    solr_autocomplete_docs(names).write.mode("overwrite").json(f"{out_dir}/autocomplete")


def solr_import_requests(
    out_dir: str, core: str, port: int = 8983
) -> list[dict]:
    """The bulk-load request plan the reference's import script issues
    (07_create_db/solr/solr_import.dockerpy:50-90): one streaming-update
    GET per written JSONL part file, then a commit — returned as dicts so
    a serving layer (or curl loop) can execute them. Executing needs a
    Solr install; generating the plan is in-engine.

    ``core`` ∈ grebi_nodes / grebi_edges / grebi_autocomplete, mapped to
    the matching written subdirectory."""
    import glob
    import os

    sub = {
        "grebi_nodes": "nodes",
        "grebi_edges": "edges",
        "grebi_autocomplete": "autocomplete",
    }[core]
    base = f"http://localhost:{port}/solr/{core}"
    reqs = [
        {
            "url": f"{base}/update/json/docs",
            "params": {
                "stream.file": f,
                "stream.contentType": "application/json;charset=utf-8",
            },
        }
        for f in sorted(glob.glob(os.path.join(out_dir, sub, "part-*")))
        if not f.endswith(".crc")
    ]
    reqs.append({"url": f"{base}/update", "params": {"commit": "true"}})
    return reqs
