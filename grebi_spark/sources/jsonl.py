"""JSONL node ingest + the generic JSONL transform (reference S4) and
nodes→edges converter (S5), KGX edge ingest (S3).

Reference behaviours re-expressed:
- grebi_transform_jsonl (01_ingest/grebi_transform_jsonl/src/main.rs:10-132):
  field rename, type injection, key prefixing, value prefixing, de-nesting
  ``field.subfield`` into reified values, content-hash ids.
- grebi_ingest_kgx_edges (01_ingest/grebi_ingest_kgx_edges/src/main.rs:41-103):
  {subject, predicate, object, props} → reified value on the subject node.
- grebi_nodes2edges (01_ingest/grebi_nodes2edges/src/main.rs:9-75).

All of these are *row-local* rewrites. The JSON flattening itself runs as an
Arrow-batched ``mapInPandas`` (the dynamic key space needs per-row logic);
every transform option is applied inside the same pass so the whole ingest
is one narrow (shuffle-free) stage per datasource. Downstream everything is
long-form DataFrame ops.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import INGESTED
from . import flatten_entity, render_scalar


@dataclass(frozen=True)
class JsonlTransform:
    """Options of the generic JSONL transform (S4)."""

    rename_fields: tuple[tuple[str, str], ...] = ()  # (from, to)
    inject_type: str | None = None
    # prefix for keys that carry no namespace yet (no ':' and not grebi:)
    key_prefix: str | None = None
    # per-field value prefixes, e.g. {"literature": "pmid:"}
    value_prefix: tuple[tuple[str, str], ...] = ()
    # "field.subfield" pairs de-nested into reified values
    denest: tuple[str, ...] = ()
    # inject id = sha1 of the canonical entity JSON when no id present
    inject_hash_id: bool = False
    id_field: str = "id"


def _apply_transform(obj: dict, t: JsonlTransform) -> dict:
    renames = dict(t.rename_fields)
    vprefix = dict(t.value_prefix)
    out: dict = {}
    for k, v in obj.items():
        k = renames.get(k, k)
        if k in vprefix and v is not None:
            pfx = vprefix[k]
            if isinstance(v, list):
                v = [pfx + render_scalar(x) for x in v if x is not None]
            else:
                v = pfx + render_scalar(v)
        if t.key_prefix and ":" not in k and k != t.id_field:
            k = t.key_prefix + k
        out[k] = v
    if t.inject_type:
        existing = out.get("grebi:type", [])
        if not isinstance(existing, list):
            existing = [existing]
        out["grebi:type"] = existing + [t.inject_type]
    for spec in t.denest:
        fld, sub = spec.split(".", 1)
        key = fld if not t.key_prefix or ":" in fld else t.key_prefix + fld
        v = out.get(key)
        if isinstance(v, dict) and sub in v:
            target = v.pop(sub)
            out[key] = {"grebi:value": target, "grebi:properties": v}
    if t.inject_hash_id and t.id_field not in out:
        body = json.dumps(out, sort_keys=True, separators=(",", ":"))
        out[t.id_field] = hashlib.sha1(body.encode()).hexdigest()
    return out


def jsonl_to_nodes(
    lines: DataFrame,
    datasource: str,
    subgraph: str = "default",
    transform: JsonlTransform | None = None,
    id_field: str = "id",
) -> DataFrame:
    """One-column DataFrame of JSON lines → long-form INGESTED rows."""
    t = transform or JsonlTransform(id_field=id_field)
    col = lines.columns[0]
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(lines.sparkSession)

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            rows = []
            for line in batch[col]:
                if not line or not line.strip():
                    continue
                obj = json.loads(line)
                obj = _apply_transform(obj, t)
                ids = obj.get(t.id_field)
                if isinstance(ids, list):
                    entity_id = render_scalar(ids[0]) if ids else None
                elif ids is not None:
                    entity_id = render_scalar(ids)
                else:
                    entity_id = None
                if entity_id is None:
                    continue
                for prop_key, value, vprops in flatten_entity(obj):
                    rows.append((subgraph, datasource, entity_id, prop_key, value, vprops))
            yield pd.DataFrame(
                rows,
                columns=[
                    "subgraph",
                    "datasource",
                    "entity_id",
                    "prop_key",
                    "value",
                    "value_props",
                ],
            )

    return lines.mapInPandas(parse, schema=INGESTED)


def read_jsonl_nodes(
    spark: SparkSession,
    path: str,
    datasource: str,
    subgraph: str = "default",
    transform: JsonlTransform | None = None,
) -> DataFrame:
    """Read a JSONL file (optionally .gz — Spark decompresses natively,
    replacing the reference's zcat adapters, nextflow:723-738)."""
    return jsonl_to_nodes(spark.read.text(path), datasource, subgraph, transform)


def kgx_edges_to_nodes(
    edges: DataFrame,
    datasource: str,
    subgraph: str = "default",
    subject_col: str = "subject",
    predicate_col: str = "predicate",
    object_col: str = "object",
) -> DataFrame:
    """KGX edge JSONL → node rows carrying reified edge values (S3).

    {subject, predicate, object, <props>} becomes one long-form row
    (entity_id=subject, prop_key=predicate, value=object,
    value_props=the remaining columns) — exactly the reference's
    "node-with-reified-edge" shape but with no pivot: long form is native.
    Pure built-in expressions; stays in whole-stage codegen.
    """
    prop_cols = [
        c for c in edges.columns if c not in (subject_col, predicate_col, object_col)
    ]
    # canonical JSON of {col: [value]} for non-null props, sorted by key
    pairs = F.array(
        *[
            F.when(
                F.col(c).isNotNull(),
                F.concat(
                    F.lit(json.dumps(c) + ":["),
                    F.lit('"'),
                    F.regexp_replace(F.col(c).cast("string"), r'(["\\])', r"\\$1"),
                    F.lit('"]'),
                ),
            )
            for c in sorted(prop_cols)
        ]
    )
    vprops = F.concat(
        F.lit("{"), F.array_join(F.filter(pairs, lambda x: x.isNotNull()), ","), F.lit("}")
    )
    return (
        edges.filter(F.col(subject_col).isNotNull() & F.col(object_col).isNotNull())
        .select(
            F.lit(subgraph).alias("subgraph"),
            F.lit(datasource).alias("datasource"),
            F.col(subject_col).cast("string").alias("entity_id"),
            F.col(predicate_col).cast("string").alias("prop_key"),
            F.col(object_col).cast("string").alias("value"),
            vprops.alias("value_props"),
        )
    )


def nodes_to_edges(
    nodes_long: DataFrame,
    from_field: str,
    to_field: str,
    edge_type: str,
) -> DataFrame:
    """Reference grebi_nodes2edges (S5): split an entity into an edge.

    The entity's ``from_field`` value becomes the new entity id, ``to_field``
    the reified target, and all remaining props become statement metadata.
    Long-form implementation: group the entity's rows, re-emit one reified row.
    """
    keyed = nodes_long.groupBy("subgraph", "datasource", "entity_id").agg(
        F.collect_list(F.struct("prop_key", "value")).alias("props")
    )
    frm = F.filter(F.col("props"), lambda p: p.prop_key == from_field)[0]["value"]
    to = F.filter(F.col("props"), lambda p: p.prop_key == to_field)[0]["value"]
    rest = F.filter(
        F.col("props"), lambda p: (p.prop_key != from_field) & (p.prop_key != to_field)
    )
    rest_sorted = F.array_sort(rest)
    vprops = F.concat(
        F.lit("{"),
        F.array_join(
            F.transform(
                rest_sorted,
                lambda p: F.concat(
                    F.lit('"'),
                    p.prop_key,
                    F.lit('":["'),
                    F.regexp_replace(p.value, r'(["\\])', r"\\$1"),
                    F.lit('"]'),
                ),
            ),
            ",",
        ),
        F.lit("}"),
    )
    return (
        keyed.select(
            "subgraph",
            "datasource",
            frm.alias("entity_id"),
            F.lit(edge_type).alias("prop_key"),
            to.alias("value"),
            vprops.alias("value_props"),
        )
        .filter(F.col("entity_id").isNotNull() & F.col("value").isNotNull())
    )
