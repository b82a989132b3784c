"""Stream-maintenance tests: a ``grebi_jsonl`` stream drained with
availableNow into ``foreachBatch`` folds each landed dump exactly once,
and per-file maintenance verbs leave the graph value-identical to the
same batch verbs."""

from pyspark.sql import functions as F


def test_stream_checkpoint_restart_folds_only_new_files(spark, tmp_path):
    """The continuous-maintenance contract (plans.parity.
    graph_maintenance_stream): draining a grebi_jsonl stream TWICE
    against one checkpoint must fold each dump exactly once — the
    restarted job resumes from the committed offset and sees ONLY the
    files that landed since. (The parity query's oracle hash proves the
    no-LOSS half; the merge's (key,value,datasource) dedup would absorb
    a duplicate fold, so no-DUPLICATE needs this direct check.)"""
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    from grebi_spark.sources import pysource

    pysource.register(spark)
    d = tmp_path / "dumps"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    schema = StructType([StructField("entity_id", StringType())])

    seen: list[list[str]] = []

    def fold(batch_df, batch_id):
        if not batch_df.isEmpty():
            seen.append(sorted(r["entity_id"] for r in batch_df.collect()))

    def drain():
        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(schema)
            .option("path", str(d))
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    (d / "a.jsonl").write_text(json.dumps({"entity_id": "a1"}) + "\n")
    drain()
    # second dump sorts BEFORE the first — offset is a name SET, not a
    # count, so arrival order must not matter
    (d / "0b.jsonl").write_text(json.dumps({"entity_id": "b1"}) + "\n")
    drain()
    drain()  # nothing new: no fold at all

    assert seen == [["a1"], ["b1"]]


def test_stream_mixed_verb_schedule_equals_batch_verbs(spark, sf_dir, tmp_path):
    """Mixed-verb continuous maintenance with restart-resume: a schedule
    of add → (restart) → update + remove, dispatched per arriving file
    by the verb encoded in its name (via the source's __file column),
    must leave the maintained graph VALUE-IDENTICAL to running the same
    batch verbs in sequence — merged rows and edges both."""
    import json

    from grebi_spark.incremental import (
        add_datasource,
        build_graph_stateful,
        remove_datasource,
        update_datasource,
    )
    from grebi_spark.plans.parity import (
        INC_CONFIG,
        _parse_verb_file,
        _star_graph_long,
        _zone_source,
    )
    from grebi_spark.sources import pysource

    pysource.register(spark)
    customers, nations, regions = _star_graph_long(spark, sf_dir)
    zones = _zone_source(spark, sf_dir)
    even_zones = _zone_source(spark, sf_dir, even_only=True)

    holder = {"state": build_graph_stateful([customers, nations, regions], INC_CONFIG)}
    d = tmp_path / "dumps"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    from pyspark.sql.types import StringType, StructField, StructType

    # copy, don't mutate (StructType.add appends in place)
    schema = StructType(
        list(customers.schema.fields) + [StructField("__file", StringType())]
    )

    def land(df, name):
        with open(d / name, "w") as fh:
            for r in df.collect():
                fh.write(json.dumps(r.asDict()) + "\n")

    def fold(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        names = sorted(
            r["__file"] for r in batch_df.select("__file").distinct().collect()
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

    def drain():
        q = (
            spark.readStream.format("grebi_jsonl")
            .schema(schema)
            .option("path", str(d))
            .load()
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land(zones, "001_add.jsonl")
    drain()
    # restart with TWO new dumps in one batch: verbs must apply in
    # schedule (sorted-name) order — update first, then remove
    land(even_zones, "002_update__map.jsonl")
    # a remove dump only names its target; content is a marker row
    land(customers.limit(1), "003_remove__crm.jsonl")
    drain()

    batch = build_graph_stateful([customers, nations, regions], INC_CONFIG)
    batch = add_datasource(batch, zones)
    batch = update_datasource(batch, "map", even_zones)
    batch = remove_datasource(batch, "crm")

    def dump(state):
        return sorted(
            tuple(r)
            for r in state.graph.merged.select(
                "node_id",
                "prop_key",
                "value",
                F.array_join("datasources", ",").alias("ds"),
            ).collect()
        )

    def edges(state):
        return sorted(
            tuple(r)
            for r in state.graph.edges.select(
                "edge_type", "from_id", "to_id"
            ).collect()
        )

    assert dump(holder["state"]) == dump(batch)
    assert edges(holder["state"]) == edges(batch)
    # the remove actually removed: no crm datasource anywhere
    assert (
        holder["state"]
        .graph.merged.filter(F.array_contains("datasources", "crm"))
        .count()
        == 0
    )


def test_parse_verb_file_rejects_unknown_verbs():
    import pytest

    from grebi_spark.plans.parity import _parse_verb_file

    assert _parse_verb_file("001_add.jsonl") == ("add", None)
    assert _parse_verb_file("002_update__map.jsonl") == ("update", "map")
    assert _parse_verb_file("003_remove__crm.jsonl") == ("remove", "crm")
    assert _parse_verb_file("remove__crm.jsonl") == ("remove", "crm")
    with pytest.raises(ValueError, match="unknown maintenance verb"):
        _parse_verb_file("004_rename__crm.jsonl")
